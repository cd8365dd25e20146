"""Enforced ceilings for driver-side materialization.

A handful of operators collect a BUCKET LIST to the driver (touched CDC
buckets, completed manifest buckets, fragmented partitions) because a
literal IN-filter prunes a parquet scan where a join never would. Each
list is bounded by a layout constant (n_buckets / partition count), not
by data volume — but a convention is not a bound, so the ceiling is
enforced at every such site. 10^5 entries keeps the collected list and
the generated IN-filter in the low-MB range on the driver; a layout
needing more buckets than that should shard the manifest instead.
"""

from __future__ import annotations

MAX_DRIVER_LIST = 100_000


def check_driver_list_bound(n: int, what: str) -> None:
    """Raise ValueError past the ceiling (an explicit raise, not an
    `assert`, so the bound also holds under `python -O`)."""
    if n > MAX_DRIVER_LIST:
        raise ValueError(
            f"{what}={n} exceeds MAX_DRIVER_LIST={MAX_DRIVER_LIST}: this "
            f"driver-side list is only safe because it is bounded by layout "
            f"config, not data volume — shard the layout instead")
