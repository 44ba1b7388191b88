"""Arrow <-> numpy and Python values without pandas.

Every Python UDF body in tzengine reads its input and builds its output
through these helpers. ``pa.array(ndarray)``, ``pa.array(list)`` and
``Array.to_numpy()`` all import pandas (~40 MB RSS and ~0.3 s CPU per
Python worker), so the helpers read and write the Arrow buffers
directly. ``to_pylist()``, ``pa.Array.from_buffers``,
``StructArray``/``ListArray.from_arrays`` and ``RecordBatch.from_arrays``
do not import pandas.

A body is a module-level function from one input pa.RecordBatch to one
output pa.RecordBatch of a declared pa.Schema, so it runs without Spark;
``map_batches`` runs it over a DataFrame.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# the numpy dtype of each fixed-width column type a UDF body emits
# (DataType.to_pandas_dtype() imports pandas)
_NUMPY_TYPES = {
    pa.from_numpy_dtype(t): t
    for t in (np.bool_, np.int8, np.int16, np.int32, np.int64, np.float32, np.float64)
}


def _floats(arr) -> np.ndarray:
    """A float32 or float64 pa.Array as numpy of the same dtype, NULL ->
    NaN (a zero-copy read-only view when there are no NULLs)."""
    dtype = np.dtype(np.float32 if arr.type == pa.float32() else np.float64)
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype)
    validity, data = arr.buffers()
    vals = np.frombuffer(data, dtype, count=n, offset=arr.offset * dtype.itemsize)
    if arr.null_count:
        bits = np.unpackbits(
            np.frombuffer(validity, np.uint8), count=arr.offset + n,
            bitorder="little",
        )[arr.offset:]
        vals = np.where(bits.view(bool), vals, np.nan).astype(dtype, copy=False)
    return vals


def _list_offsets(col) -> np.ndarray:
    """A (sliced or not) list array's n + 1 int32 offsets into its
    unsliced ``values``."""
    o = col.offsets
    return np.frombuffer(o.buffers()[1], np.int32, len(o), o.offset * 4)


def arrow_f64(arr) -> np.ndarray:
    """A numeric pa.Array as float64 numpy, NULL -> NaN, read from its
    buffers (a zero-copy read-only view when there are no NULLs)."""
    if arr.type != pa.float64():
        arr = arr.cast(pa.float64())
    return _floats(arr)


def arrow_matrix(col) -> np.ndarray:
    """A list<number> column whose rows all have one length as an
    (n, dim) matrix: float32 for float32 elements, else float64; a NULL
    element is NaN."""
    off = _list_offsets(col)
    lens = np.diff(off)
    if len(lens) and (lens != lens[0]).any():
        raise ValueError("list rows of unequal length cannot form a matrix")
    vals = col.values
    if vals.type != pa.float32():
        vals = vals.cast(pa.float64())
    flat = _floats(vals)[off[0]:off[-1]]
    return flat.reshape(len(col), lens[0] if len(lens) else 0)


def arrow_rings(col) -> list[list[np.ndarray]]:
    """A zones ``rings`` column (list<list<struct<lat, lon>>>, sliced or
    not) as each row's rings: (V, 2) float64 (lon, lat) slices of one
    vertex array."""
    r_off, v_off = _list_offsets(col), _list_offsets(col.values)
    vstruct = col.values.values
    verts = np.column_stack(
        [arrow_f64(vstruct.field(c)) for c in ("lon", "lat")]
    )
    return [
        [verts[v_off[j]:v_off[j + 1]] for j in range(r_off[i], r_off[i + 1])]
        for i in range(len(col))
    ]


def _bitmap(valid):
    """A validity mask as an Arrow bitmap buffer, None when all valid."""
    if valid is None or valid.all():
        return None
    return pa.py_buffer(np.packbits(valid, bitorder="little"))


def _int32_offsets(ends) -> np.ndarray:
    """End positions (n + 1, from 0) as Arrow's int32 list or binary
    offsets. ``astype`` would silently wrap past 2^31 - 1, so this
    raises instead."""
    ends = np.asarray(ends)
    if len(ends) and ends[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"{int(ends[-1])} values or bytes in one Arrow batch exceed the "
            "int32 offset range (2 GiB); use smaller batches"
        )
    return ends.astype(np.int32)


def arrow_array(values: np.ndarray, valid: np.ndarray | None = None):
    """A numeric or boolean 1-d ndarray as a pa.Array over the same bytes
    (booleans bit-packed); a row whose ``valid`` is False is NULL."""
    v = np.ascontiguousarray(values)
    data = np.packbits(v, bitorder="little") if v.dtype == bool else v
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(v.dtype), len(v),
        [_bitmap(valid), pa.py_buffer(data)],
    )


def arrow_list(offsets: np.ndarray, values):
    """CSR ``offsets`` (n+1) over ``values`` (an ndarray or a pa.Array)
    as a pa.ListArray."""
    if not isinstance(values, pa.Array):
        values = arrow_array(values)
    return pa.ListArray.from_arrays(
        arrow_array(_int32_offsets(offsets)), values
    )


def arrow_binary(values, type=pa.binary()):
    """``str`` (for ``pa.string()``) or bytes-like values as a
    variable-width pa.Array of ``type``; None is NULL."""
    data = [
        b"" if v is None else v.encode() if isinstance(v, str) else v
        for v in values
    ]
    ends = np.cumsum([0] + [len(b) for b in data])
    return pa.Array.from_buffers(
        type, len(data),
        [
            _bitmap(np.array([v is not None for v in values], bool)),
            pa.py_buffer(_int32_offsets(ends)),
            pa.py_buffer(b"".join(data)),
        ],
    )


def arrow_column(values, type):
    """Python or numpy ``values`` as a pa.Array of ``type``: a string or
    binary type, a fixed-width number or bool, or a list of one of those
    (each value a sequence, an ndarray say). None is NULL, and so is a
    NaN float. An integer that does not fit ``type`` raises."""
    if pa.types.is_list(type):
        parts = [np.asarray(v) for v in values]
        child = np.concatenate(parts) if parts else np.zeros(0)
        return arrow_list(
            np.cumsum([0] + [len(p) for p in parts]),
            arrow_column(child, type.value_type),
        )
    if type in (pa.string(), pa.binary()):
        return arrow_binary(values, type)
    given = np.asarray(values)
    v = given.astype(_NUMPY_TYPES[type])
    if v.dtype.kind == "i" and not np.array_equal(v, given):
        raise OverflowError(f"a value does not fit {type}")
    return arrow_array(v, ~np.isnan(v) if v.dtype.kind == "f" else None)


def rows_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples as a pa.RecordBatch of ``schema``, each column built by
    ``arrow_column``. Its NULLs are those ``pd.DataFrame(rows)`` gets
    across a mapInPandas boundary: None is NULL, and so is a NaN float,
    also inside a list."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [arrow_column(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )


def map_batches(df, body, schema: pa.Schema, *args):
    """``df`` through ``body(batch, *args)``, one call per Arrow batch, in
    one mapInArrow whose output schema is ``schema``."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return df.mapInArrow(
        lambda batches: (body(b, *args) for b in batches),
        from_arrow_schema(schema),
    )
