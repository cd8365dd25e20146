"""Arrow columns built from buffers, for the Python workers' output.

The WARC reading stages (sources/warc.py) and the parse UDFs
(operators/parse.py) turn Python values into Arrow arrays here, and
nowhere else. In pyarrow 16 `pa.array` on a Python sequence (or a numpy
array) imports pandas, ~40 MB of a ~100 MB worker, paid once per
executor core. So `column` assembles every array from its buffers with
`pa.Array.from_buffers`, and this module, like every module a worker
imports, imports no pandas.
"""

from __future__ import annotations

from array import array
from datetime import datetime
from itertools import accumulate, chain, repeat
from operator import is_not

import numpy as np
import pyarrow as pa

_STRING, _BINARY = pa.string(), pa.binary()
_INT32, _INT64, _BOOL = pa.int32(), pa.int64(), pa.bool_()
_TIMESTAMP = pa.timestamp("us", tz="UTC")
# What a null slot holds under the validity bitmap, per scalar type.
_NULL_FILL = {_STRING: "", _BINARY: b"", _INT32: 0, _INT64: 0,
              _BOOL: False, _TIMESTAMP: datetime(1970, 1, 1)}


def _epoch_us(values) -> np.ndarray:
    """Naive-UTC datetimes -> int64 microseconds since the epoch. Each
    datetime's 10-byte pickle state (year as big-endian u16, month, day,
    hour, minute, second, microsecond as big-endian u24) is joined into
    one buffer and the fields are read from it by numpy."""
    raw = b"".join([v.__reduce__()[1][0] for v in values])
    s = np.frombuffer(raw, np.uint8).reshape(-1, 10).astype(np.int64)
    months = (s[:, 0] * 256 + s[:, 1] - 1970) * 12 + s[:, 2] - 1
    days = months.astype("M8[M]").astype("M8[D]").astype(np.int64) + s[:, 3] - 1
    micro = (s[:, 7] << 16) | (s[:, 8] << 8) | s[:, 9]
    return (((days * 24 + s[:, 4]) * 60 + s[:, 5]) * 60 + s[:, 6]) * 1_000_000 \
        + micro


def _bits(flags: bytes) -> pa.Buffer:
    return pa.py_buffer(np.packbits(np.frombuffer(flags, np.uint8),
                                    bitorder="little"))


def _fill(t: pa.DataType):
    if t in _NULL_FILL:
        return _NULL_FILL[t]
    if pa.types.is_list(t):
        return ()
    return (None,) * t.num_fields


def _check(t: pa.DataType) -> None:
    if pa.types.is_list(t):
        _check(t.value_type)
    elif pa.types.is_struct(t):
        for f in t:
            _check(f.type)
    elif t not in _NULL_FILL:
        raise TypeError(f"no Arrow column builder for {t}")


def column(values, t: pa.DataType) -> pa.Array:
    """A sequence of Python values -> an Arrow array of type `t`, equal to
    `pa.array(values, type=t)` but built from buffers. Binary and string
    data is joined once behind int32 offsets (ASCII text is joined as
    text and encoded once), int32/int64 go through array('i')/array('q'),
    bool and validity through numpy bit packing, and timestamp[us, UTC]
    through _epoch_us. A list takes int32 offsets over its lengths and one
    child built from the flattened elements; a struct takes values as
    tuples and one child per field. The element and field names are the
    ones `t` carries. Any other type raises TypeError."""
    _check(t)
    n, nulls = len(values), values.count(None)
    if nulls == n:
        return pa.nulls(n, t)
    valid = None
    if nulls:
        valid = _bits(bytes(map(is_not, values, repeat(None))))
        fill = _fill(t)
        values = [fill if v is None else v for v in values]
    children = None
    if t == _INT32 or t == _INT64:
        buffers = [valid, pa.py_buffer(array("i" if t == _INT32 else "q",
                                             values))]
    elif t == _BOOL:
        buffers = [valid, _bits(bytes(values))]
    elif t == _TIMESTAMP:
        buffers = [valid, pa.py_buffer(_epoch_us(values))]
    elif pa.types.is_list(t):
        offsets = array("i", accumulate(map(len, values), initial=0))
        buffers = [valid, pa.py_buffer(offsets)]
        children = [column(list(chain.from_iterable(values)), t.value_type)]
    elif pa.types.is_struct(t):
        buffers = [valid]
        fields = list(zip(*values))
        children = [column(c, f.type) for c, f in zip(fields, t)]
    else:
        if t == _BINARY:
            data = b"".join(values)
        else:
            data = "".join(values)
            if data.isascii():
                data = data.encode("ascii")
            else:
                values = [v.encode() for v in values]
                data = b"".join(values)
        offsets = array("i", accumulate(map(len, values), initial=0))
        buffers = [valid, pa.py_buffer(offsets), pa.py_buffer(data)]
    return pa.Array.from_buffers(t, n, buffers, null_count=nulls,
                                 children=children)


def record_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples -> one Arrow batch of `schema` (Spark's own mapping of
    the stage's StructType). TimestampType maps to timestamp[us, UTC],
    which reads a naive datetime as UTC: WARC-Date is Zulu, so warc_ts
    is the same instant whatever the session time zone."""
    return pa.RecordBatch.from_struct_array(column(rows, pa.struct(schema)))
