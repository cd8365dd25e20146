"""The driver-side bucket-list ceilings are enforced bounds, not
conventions: every site that collects a layout-bounded list checks
MAX_DRIVER_LIST (blog_parser_spark/limits.py), also under `python -O`."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from blog_parser_spark.limits import MAX_DRIVER_LIST, check_driver_list_bound


def test_bound_check_raises_past_ceiling():
    check_driver_list_bound(MAX_DRIVER_LIST, "n_buckets")  # at the edge: ok
    with pytest.raises(ValueError, match="MAX_DRIVER_LIST"):
        check_driver_list_bound(MAX_DRIVER_LIST + 1, "n_buckets")


def test_bound_check_survives_optimized_mode():
    """`python -O` strips asserts; the bound must still raise there."""
    code = ("from blog_parser_spark.limits import MAX_DRIVER_LIST, "
            "check_driver_list_bound\n"
            "try:\n"
            "    check_driver_list_bound(MAX_DRIVER_LIST + 1, 'n_buckets')\n"
            "except ValueError:\n"
            "    print('raised')\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-O", "-c", code], cwd=root,
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "raised"


def test_streaming_entrypoints_enforce_bound():
    from blog_parser_spark.streaming import stream
    with pytest.raises(ValueError, match="MAX_DRIVER_LIST"):
        stream.start_inverted_index(None, "/tmp/x", "/tmp/y",
                                    n_buckets=MAX_DRIVER_LIST + 1)
    with pytest.raises(ValueError, match="MAX_DRIVER_LIST"):
        stream.start_cdc_snapshot(None, "/tmp/x", "/tmp/y", key_col="k",
                                  n_buckets=MAX_DRIVER_LIST + 1)
