"""Native reader (and export writer) for the reference's on-disk
format: a dataset directory with one subdirectory per column ("key"),
each holding ``data.npy`` (NumPy array, possibly structured) and — for
ragged columns — ``index.npy`` of ``(start, stop)`` pairs, one per row
(i3cols/cols.py::save_item / ::load, i3cols/dtypes.py::START_STOP_T).

Batch reads are planned in the driver's own process: keys, schema,
row count and row-range splits come from the ``.npy`` headers, and a
``spark.range(n_splits).mapInArrow(...)`` reads one split per task, so
existing i3cols datasets are first-class tables::

    df = read_npy_columns(spark, "/data/run123", keys=["hits", "energy"])

(A Python DataSource would plan each read in three extra Python
processes — lookup, create, plan — started one after another before
the first task.)  ``stream_npy_columns`` tails a growing dataset
through the ``i3cols_npy`` Python DataSource, because streaming
offsets need the DataSource API.

Spark-first design notes:

* **Splits, not files.**  Each task reads a row range of every key via
  ``np.load(mmap_mode="r")`` — only the pages of its slice are
  touched, the distributed generalization of the reference's
  single-process mmap laziness.  Ragged columns slice their
  ``(start, stop)`` window out of ``index.npy`` and gather just those
  value rows; a window outside ``0 <= start <= stop <= len(data)``
  raises, naming the key and row.
* **Arrow batches, not Python rows.**  Tasks yield
  ``pyarrow.RecordBatch`` — NumPy slice → Arrow is zero/near-zero
  copy, and rows never materialize as Python objects.
* **Positional ``event_id``.**  The reader synthesizes the row index
  as ``event_id`` (the surrogate key the engine materializes at
  ingest, SURVEY §1.2).  Predicates on it are evaluated by Spark after
  the read; they do not narrow the splits.
* **Projection.**  ``keys=`` limits the schema to those column dirs
  (the ``load(keys=...)`` contract); unrequested keys are never
  opened.  (Spark cannot prune columns through ``mapInArrow`` on its
  own, so the knob is explicit, exactly like the reference's.)

``write_npy_columns`` is the inverse — a **driver-side migration/
export utility** (collects through Arrow), not a scale sink; the
engine's real sink is partitioned parquet (sources/ingest.py).  The
round trip is property-tested in tests/test_npy_source.py.

Unsigned integers widen to the next signed Spark type (u1→short,
u2→int, u4→long); u8 maps to long and raises on values above 2^63-1
rather than wrapping.  Fixed-width ``S``/``U`` strings map to
binary/string.  ``datetime64`` maps to TimestampNTZ at µs precision.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

FORMAT_NAME = "i3cols_npy"
EVENT_ID = "event_id"

_KIND_MAP: dict[tuple[str, int], DataType] = {
    ("b", 1): BooleanType(),
    ("i", 1): ByteType(),
    ("i", 2): ShortType(),
    ("i", 4): IntegerType(),
    ("i", 8): LongType(),
    ("u", 1): ShortType(),
    ("u", 2): IntegerType(),
    ("u", 4): LongType(),
    ("u", 8): LongType(),
    ("f", 4): FloatType(),
    ("f", 8): DoubleType(),
}


def _np_dtype_to_spark(dt: np.dtype) -> DataType:
    if dt.names is not None:
        return StructType(
            [StructField(n, _np_dtype_to_spark(dt[n]), True) for n in dt.names]
        )
    if dt.subdtype is not None:
        raise NotImplementedError(f"sub-array dtype {dt} not supported")
    if dt.kind in ("S", "V"):
        return BinaryType()
    if dt.kind == "U":
        return StringType()
    if dt.kind == "M":
        return TimestampNTZType()
    try:
        return _KIND_MAP[(dt.kind, dt.itemsize)]
    except KeyError:
        raise NotImplementedError(f"npy dtype {dt} not supported") from None


def _np_to_arrow(arr: np.ndarray, spark_type: DataType) -> pa.Array:
    """Column slice → Arrow array, recursing into structs."""
    if isinstance(spark_type, StructType):
        return pa.StructArray.from_arrays(
            [_np_to_arrow(arr[f.name], f.dataType) for f in spark_type.fields],
            [f.name for f in spark_type.fields],
        )
    if isinstance(spark_type, BinaryType):
        return pa.array(arr.tolist(), pa.binary())
    if isinstance(spark_type, StringType):
        return pa.array(arr.tolist(), pa.string())
    if isinstance(spark_type, TimestampNTZType):
        return pa.array(arr.astype("datetime64[us]"))
    if isinstance(spark_type, BooleanType):
        return pa.array(arr.astype(bool))
    target = {
        ByteType: np.int8,
        ShortType: np.int16,
        IntegerType: np.int32,
        LongType: np.int64,
        FloatType: np.float32,
        DoubleType: np.float64,
    }[type(spark_type)]
    if arr.dtype.kind == "u" and arr.dtype.itemsize == 8 and arr.size:
        if int(arr.max()) > np.iinfo(np.int64).max:
            raise OverflowError("uint64 column exceeds Spark LongType range")
    return pa.array(np.ascontiguousarray(arr).astype(target, copy=False))


@dataclass
class _Key:
    name: str
    data_path: str
    index_path: str | None  # present ⇒ ragged
    spark_type: DataType  # element type for ragged, column type otherwise


def _scan_keys(path: str, keys: list[str] | None) -> list[_Key]:
    names = sorted(
        d
        for d in os.listdir(path)
        if os.path.isfile(os.path.join(path, d, "data.npy"))
    )
    if keys is not None:
        missing = [k for k in keys if k not in names and k != EVENT_ID]
        if missing:
            raise FileNotFoundError(f"keys not in dataset {path}: {missing}")
        names = [k for k in keys if k != EVENT_ID]
    else:
        # the positional event_id column is synthesized by the reader;
        # a key dir of the same name would collide
        names = [n for n in names if n != EVENT_ID]
    out = []
    for n in names:
        data_path = os.path.join(path, n, "data.npy")
        index_path = os.path.join(path, n, "index.npy")
        if not os.path.isfile(index_path):
            index_path = None
        dt = np.load(data_path, mmap_mode="r").dtype
        out.append(_Key(n, data_path, index_path, _np_dtype_to_spark(dt)))
    return out


def _num_rows(key: _Key) -> int:
    target = key.index_path or key.data_path
    return np.load(target, mmap_mode="r").shape[0]


def _schema(keys: list[_Key]) -> StructType:
    fields = [StructField(EVENT_ID, LongType(), False)]
    for k in keys:
        t = ArrayType(k.spark_type) if k.index_path else k.spark_type
        fields.append(StructField(k.name, t, True))
    return StructType(fields)


def _ragged_slice(data, index, a, b, key: _Key) -> pa.ListArray:
    idx = index[a:b]
    starts = idx["start"].astype(np.int64)
    stops = idx["stop"].astype(np.int64)
    bad = (starts < 0) | (starts > stops) | (stops > len(data))
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"corrupt index.npy for key {key.name!r} at row {a + i}: "
            f"(start, stop) = ({starts[i]}, {stops[i]}) is outside "
            f"0 <= start <= stop <= {len(data)} (rows in data.npy)"
        )
    lens = stops - starts
    offsets = np.zeros(len(idx) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if len(idx) and np.array_equal(starts[1:], stops[:-1]):
        vals = data[starts[0] : stops[-1]]  # contiguous fast path
    elif len(idx):
        vals = np.concatenate([data[s:e] for s, e in zip(starts, stops)])
    else:
        vals = data[:0]
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), _np_to_arrow(vals, key.spark_type)
    )


def _read_range(keys: list[_Key], start: int, stop: int, batch_rows: int):
    """Yield Arrow batches for rows [start, stop) of every key — the
    shared task body of the batch read and the stream reader.  mmaps
    open per task; only the slice's pages are touched."""
    cols = {k.name: np.load(k.data_path, mmap_mode="r") for k in keys}
    idxs = {
        k.name: np.load(k.index_path, mmap_mode="r") for k in keys if k.index_path
    }
    for a in range(start, stop, batch_rows):
        b = min(a + batch_rows, stop)
        arrays = [pa.array(np.arange(a, b, dtype=np.int64))]
        names = [EVENT_ID]
        for k in keys:
            if k.index_path is None:
                arrays.append(_np_to_arrow(cols[k.name][a:b], k.spark_type))
            else:
                arrays.append(_ragged_slice(cols[k.name], idxs[k.name], a, b, k))
            names.append(k.name)
        yield pa.RecordBatch.from_arrays(arrays, names)


def _range_partitions(lo: int, hi: int, npartitions: int) -> list[InputPartition]:
    n = max(1, min(npartitions, hi - lo))
    bounds = np.linspace(lo, hi, n + 1).astype(np.int64)
    return [
        InputPartition((int(a), int(b)))
        for a, b in zip(bounds[:-1], bounds[1:])
        if b > a
    ] or [InputPartition((lo, lo))]


class NpyColsStreamReader(DataSourceStreamReader):
    """Tail a GROWING npy dataset: each microbatch reads the row range
    appended since the last committed offset (offset = aligned row
    count).  This is the reference's extraction pattern — per-file
    workers append to column dirs — turned into a Structured Streaming
    source; downstream watermarks/windows/dedup then work unchanged.

    Appends must be write-new-then-rename per column file (np.save in
    place is not atomic); `latestOffset` takes the MIN row count across
    keys so a half-appended dataset (some columns longer than others)
    never emits misaligned rows."""

    def __init__(self, keys: list[_Key], npartitions: int, batch_rows: int):
        self.keys = keys
        self.npartitions = npartitions
        self.batch_rows = batch_rows

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return {"row": 0}

    def latestOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return {"row": min((_num_rows(k) for k in self.keys), default=0)}

    def partitions(self, start: dict, end: dict):
        return _range_partitions(start["row"], end["row"], self.npartitions)

    def read(self, partition: InputPartition):
        a, b = partition.value
        return _read_range(self.keys, a, b, self.batch_rows)

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from on-disk state; nothing to gc


class NpyColsDataSource(DataSource):
    """``spark.readStream.format("i3cols_npy").load(path)`` — options:
    ``keys`` (comma-separated projection), ``partitions`` (split
    count; default 16), ``batchRows`` (Arrow batch size).  Batch reads
    go through ``read_npy_columns`` instead."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _keys(self) -> list[_Key]:
        keys_opt = self.options.get("keys")
        keys = [k.strip() for k in keys_opt.split(",")] if keys_opt else None
        return _scan_keys(self.options["path"], keys)

    def schema(self) -> StructType:
        return _schema(self._keys())

    def streamReader(self, schema: StructType) -> NpyColsStreamReader:  # noqa: N802
        return NpyColsStreamReader(
            self._keys(),
            int(self.options.get("partitions", "16")),
            int(self.options.get("batchrows", "65536")),
        )


def read_npy_columns(
    spark,
    path: str,
    keys: list[str] | None = None,
    partitions: int = 16,
    batch_rows: int = 65536,
):
    """Read an npy column-dir dataset as a DataFrame of ``event_id``
    plus one column per key, in at most ``partitions`` row-range
    splits of ``batch_rows``-row Arrow batches."""
    ks = _scan_keys(path, keys)
    rows = {k.name: _num_rows(k) for k in ks}
    if len(set(rows.values())) > 1:
        raise ValueError(f"misaligned columns in {path}: {rows}")
    nrows = next(iter(rows.values()), 0)
    # A split smaller than one Arrow batch still costs a Python worker
    # task but yields a single partial batch — cap the split count so
    # every split carries ≥ batch_rows (tiny datasets get 1-2 tasks; at
    # scale the partitions knob governs).
    n = min(partitions, max(1, -(-nrows // batch_rows)))
    splits = [p.value for p in _range_partitions(0, nrows, n)]

    def read(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                start, stop = splits[i]
                yield from _read_range(ks, start, stop, batch_rows)

    return spark.range(0, len(splits), 1, len(splits)).mapInArrow(read, _schema(ks))


def stream_npy_columns(
    spark,
    path: str,
    keys: list[str] | None = None,
    partitions: int = 16,
    batch_rows: int = 65536,
):
    """``readStream`` over a growing npy dataset (see
    NpyColsStreamReader for the append contract)."""
    spark.dataSource.register(NpyColsDataSource)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("partitions", partitions)
        .option("batchRows", batch_rows)
    )
    if keys is not None:
        reader = reader.option("keys", ",".join(keys))
    return reader.load(path)


# --- export (driver-side migration utility; parquet is the scale sink) ---

_ARROW_TO_NP = {
    pa.bool_(): np.dtype("bool"),
    pa.int8(): np.dtype("int8"),
    pa.int16(): np.dtype("int16"),
    pa.int32(): np.dtype("int32"),
    pa.int64(): np.dtype("int64"),
    pa.float32(): np.dtype("float32"),
    pa.float64(): np.dtype("float64"),
}


def _one_chunk(col: pa.ChunkedArray | pa.Array) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if isinstance(col, pa.ChunkedArray):  # older pyarrow returns 1-chunk CA
        col = col.chunk(0) if col.num_chunks else pa.array([], col.type)
    return col


def _arrow_col_to_np(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    arr = _one_chunk(col)
    t = arr.type
    if pa.types.is_struct(t):
        fields = [(t.field(i).name, arr.field(i)) for i in range(t.num_fields)]
        subs = [(n, _arrow_col_to_np(f)) for n, f in fields]
        out = np.empty(len(arr), dtype=[(n, s.dtype, s.shape[1:]) for n, s in subs])
        for n, s in subs:
            out[n] = s
        return out
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return np.array(arr.to_pylist(), dtype="U")
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return np.array(arr.to_pylist(), dtype="S")
    if pa.types.is_timestamp(t):
        return arr.cast(pa.timestamp("us")).to_numpy(zero_copy_only=False).astype("datetime64[us]")
    np_dt = _ARROW_TO_NP.get(t)
    if np_dt is None:
        raise NotImplementedError(f"export of arrow type {t} not supported")
    return arr.to_numpy(zero_copy_only=False).astype(np_dt)


def write_npy_columns(df, path: str, overwrite: bool = False) -> None:
    """Export a DataFrame to the reference's column-dir layout
    (``<key>/data.npy`` + ``index.npy`` for array columns) so results
    flow back to an i3cols/NumPy consumer.  Collects via Arrow on the
    driver — a migration tool, deliberately not a distributed sink."""
    os.makedirs(path, exist_ok=overwrite)
    tbl = df.toArrow()
    if overwrite:
        # Prune key dirs left by a previous export with other columns
        # or row counts — stale keys would later read back misaligned
        # (or silently resurrect a dropped column).
        import shutil

        for entry in os.listdir(path):
            sub = os.path.join(path, entry)
            if os.path.isdir(sub) and entry not in tbl.column_names:
                shutil.rmtree(sub)
    for name in tbl.column_names:
        col = _one_chunk(tbl.column(name))
        # The npy layout has no null representation (structured arrays
        # are dense) — refuse rather than silently writing garbage.
        flat = col.flatten() if pa.types.is_list(col.type) else col
        if col.null_count or (flat is not col and flat.null_count):
            raise ValueError(
                f"column {name!r} contains nulls; the npy column format "
                "cannot represent them (fill or drop before export)"
            )
        kdir = os.path.join(path, name)
        os.makedirs(kdir, exist_ok=True)
        if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
            import pyarrow.compute as pc

            lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
            offs = np.zeros(len(col) + 1, dtype=np.uint64)
            np.cumsum(lens.astype(np.uint64), out=offs[1:])
            index = np.empty(len(col), dtype=[("start", "<u8"), ("stop", "<u8")])
            index["start"], index["stop"] = offs[:-1], offs[1:]
            np.save(os.path.join(kdir, "index.npy"), index)
            np.save(os.path.join(kdir, "data.npy"), _arrow_col_to_np(col.flatten()))
        else:
            # A stale index.npy (key was ragged in a previous export)
            # would make the reader treat this scalar key as ragged.
            stale_idx = os.path.join(kdir, "index.npy")
            if os.path.exists(stale_idx):
                os.remove(stale_idx)
            np.save(os.path.join(kdir, "data.npy"), _arrow_col_to_np(col))
