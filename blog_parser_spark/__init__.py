from . import _zipimport_compat  # noqa: F401  (lazy per-task zip-cache reset)
