"""Distributed column-chunk encode/decode via ``mapInArrow``.

The encode path is the Spark analogue of the reference's sorted-write
pipeline (reference: Parquet.Producers/Parquet/BufferedWriter.cs:5-50 —
row-group buffered append; MergeSorter.cs:25-69 — external sort):

1. ``repartitionByRange(sort_cols)`` + ``sortWithinPartitions`` — Spark's
   shuffle sort replaces the reference's hand-rolled external merge sort,
   and gives every Arrow batch sorted runs (what makes RLE/dict/FOR
   effective — reference README.md:104);
2. ``mapInArrow`` slices each partition into ~``chunk_rows`` chunks and
   encodes every column with the stats-selected codec — all numpy/Arrow
   kernel work, zero per-row Python;
3. the output is a *chunk table*: one row per (chunk, column) with the
   encoded blob, codec id, JSON params and size metrics. Written as
   Parquet (uncompressed — our codecs own compression) it is this
   engine's at-rest format.

A deterministic ``row_id`` tiebreaker can be added by the caller when the
sort key admits ties, so output bytes do not vary with partition count
(SURVEY.md §7.3 "bit-identity under parallelism").
"""

from __future__ import annotations

import json
import logging
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codecs import column_stats, decode_array
from .codecs.select import encode_auto
from .filestore import is_data_file
from .util import local_frame

_log = logging.getLogger("parquet_producers_spark")

CHUNK_ROWS = 65536

# Arrow schema of the chunk table
CHUNK_ARROW_SCHEMA = pa.schema([
    ("part_id", pa.int32()),
    ("chunk_seq", pa.int32()),
    ("col_idx", pa.int32()),
    ("column", pa.string()),
    ("codec", pa.string()),
    ("params", pa.string()),
    ("n_rows", pa.int64()),
    ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()),
    ("key_min", pa.string()),
    ("key_max", pa.string()),
    # per-COLUMN zone map (this row's column, not the sort key): lets
    # reads prune whole chunks on secondary-column range predicates —
    # effective when the column is correlated with / sorted under the
    # chunk order (see prune_chunks_on)
    ("col_min", pa.string()),
    ("col_max", pa.string()),
    ("data", pa.large_binary()),
])

CHUNK_SPARK_SCHEMA = (
    "part_id int, chunk_seq int, col_idx int, column string, codec string, params string,"
    " n_rows long, raw_bytes long, enc_bytes long,"
    " key_min string, key_max string, col_min string, col_max string, data binary"
)
# a stored stage's chunk table (storage.py): its hash slice is layout
SLICED_CHUNK_SCHEMA = CHUNK_SPARK_SCHEMA + ", slice_id int"


def chunk_ident(chunks: DataFrame) -> list[str]:
    """A chunk's identity: the layout columns a store adds around the
    chunk table (``slice_id``, ``enc_version``, …) + ``(part_id,
    chunk_seq)``. Every column of :data:`CHUNK_ARROW_SCHEMA` is one
    chunk×column row's own; any other column is layout."""
    layout = [c for c in chunks.columns if c not in CHUNK_ARROW_SCHEMA.names]
    return layout + ["part_id", "chunk_seq"]


def chunk_fields(chunks: DataFrame) -> list[pa.Field]:
    """The decoded rows' Arrow fields, in column order, from the type
    name each column stores in its params. Blobs are projected away
    first: a checkpointed chunk frame would otherwise re-scan them."""
    heads = (
        chunks.drop("data").groupBy("col_idx", "column")
        .agg(F.first("params").alias("params"))
        .orderBy("col_idx")
        .collect()
    )
    if not heads:
        raise ValueError("empty chunk table")
    return [
        pa.field(r["column"], _arrow_type(json.loads(r["params"])["atype"]))
        for r in heads
    ]


def chunk_stats(chunks: DataFrame, chunk_rows: int,
                slices: list[int] | None = None) -> dict[int, dict]:
    """Per-slice chunk stats in ONE blob-free aggregate grouped on
    ``(slice_id, codec)``: ``rows``, ``raw_bytes``, ``enc_bytes``,
    ``n_chunks``, ``by_codec``, the runts (``n_rows < chunk_rows``) as
    ``runts`` / ``runt_rows``, and ``max_pid`` (-1 when empty). With
    ``slices`` each listed slice gets an entry; without, the whole
    frame is slice 0."""
    head = F.col("col_idx") == 0  # one row per chunk
    runt = head & (F.col("n_rows") < chunk_rows)
    by = ["slice_id"] if slices is not None else []
    if by:
        chunks = chunks.filter(F.col("slice_id").isin(slices))
    summed = ("rows", "raw_bytes", "enc_bytes", "n_chunks", "runts",
              "runt_rows")

    def zero() -> dict:
        return dict.fromkeys(summed, 0) | {"by_codec": {}, "max_pid": -1}

    out = {k: zero() for k in slices or []}
    for r in chunks.groupBy(*by, "codec").agg(
        F.sum(F.when(head, F.col("n_rows")).otherwise(0)).alias("rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sum(head.cast("int")).alias("n_chunks"),
        F.sum(runt.cast("int")).alias("runts"),
        F.sum(F.when(runt, F.col("n_rows")).otherwise(0)).alias("runt_rows"),
        F.max("part_id").alias("max_pid"),
    ).collect():
        m = out.setdefault(int(r["slice_id"]) if by else 0, zero())
        for f in summed:
            m[f] += int(r[f])
        m["max_pid"] = max(m["max_pid"], int(r["max_pid"]))
        m["by_codec"][r["codec"]] = int(r["enc_bytes"])
    return out


def _col_zone(arr: pa.Array) -> tuple[str | None, str | None]:
    """(min, max) of an orderable column as strings; (None, None) for
    nested/unorderable types or all-null chunks. Stringification is
    storage only — pruning casts back to the column type."""
    import pyarrow.compute as pc

    t = arr.type
    orderable = (
        pa.types.is_integer(t) or pa.types.is_floating(t)
        or pa.types.is_string(t) or pa.types.is_large_string(t)
        or pa.types.is_timestamp(t) or pa.types.is_date(t)
        or pa.types.is_decimal(t) or pa.types.is_boolean(t)
    )
    if not orderable or len(arr) == arr.null_count:
        return None, None
    mm = pc.min_max(arr)
    return str(mm["min"].as_py()), str(mm["max"].as_py())


# per-chunk bloom filters (equality pruning on UNclustered columns —
# zone maps only help columns correlated with the chunk order):
# sized at ≥10 bits per distinct value rounded UP to a power of two
# (so the effective rate is 10–20 bits/key), k=4 → false-positive rate
# ≤ (1 - e^(-k·n/m))^k ≈ 1.2% at the 10-bit floor, better after the
# round-up; built only when the chunk's cardinality is bounded (the
# blob lives inside the JSON params of the manifest row, so it must
# stay small) and the type has a canonical equality representation
# (string/int).
_BLOOM_K = 4
_BLOOM_MAX_DISTINCT = 4096
_BLOOM_BITS_PER_KEY = 10


def _bloom_positions(b: bytes, m: int) -> list[int]:
    """k deterministic bit positions for one value. zlib.crc32 is
    C-speed and PROCESS-STABLE (unlike ``hash()`` under hash
    randomization, which would make worker-built filters unreadable by
    the driver); two differently-seeded crcs give the classic
    double-hashing family h1 + i*h2."""
    import zlib

    h1 = zlib.crc32(b)
    h2 = zlib.crc32(b, 0x9E3779B9) | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_build(arr: pa.Array,
                 n_distinct: int | None = None) -> tuple[str, int] | None:
    """(base64 filter, n_bits) over the chunk's DISTINCT values, or
    None when the column is unsuitable (type, cardinality, nulls-only).
    ``n_distinct`` is the already-computed chunk stat — high-cardinality
    columns (e.g. content) bail out BEFORE the `unique` call, so the
    encode hot path never pays for a filter it won't store. The Python
    loop is bounded by cardinality (≤ _BLOOM_MAX_DISTINCT), never rows."""
    import base64

    import pyarrow.compute as pc

    t = arr.type
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_integer(t)):
        return None
    if len(arr) == arr.null_count:
        return None
    if n_distinct is not None and n_distinct > _BLOOM_MAX_DISTINCT:
        return None
    uniq = pc.unique(arr.drop_null())
    n = len(uniq)
    if n == 0 or n > _BLOOM_MAX_DISTINCT:
        return None
    # next power of two ≥ n·bits-per-key (pow2 keeps the modulo cheap
    # and only ever ADDS bits, so the fpr bound above is a ceiling)
    m = max(64, 1 << (n * _BLOOM_BITS_PER_KEY - 1).bit_length())
    bits = bytearray(m // 8)
    for v in uniq.to_pylist():
        for p in _bloom_positions(str(v).encode(), m):
            bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode(), m


def bloom_may_contain(params_json: str, value) -> bool:
    """Manifest-side membership probe; True when the chunk has no bloom
    (unknown ⇒ must read)."""
    import base64

    p = json.loads(params_json)
    enc = p.get("bloom")
    if not enc:
        return True
    bits = base64.b64decode(enc)
    m = p["bloom_m"]
    b = str(value).encode()
    return all(bits[pos >> 3] & (1 << (pos & 7))
               for pos in _bloom_positions(b, m))


def _encode_chunk(tbl: pa.Table, pid: int, seq: int, cascade: bool,
                  key_col: str | None = None,
                  profile: str = "size") -> pa.RecordBatch:
    # per-chunk zone map on the leading sort key → chunk pruning on read.
    # Zones cover NON-NULL keys only (str(None) would poison string
    # comparisons with the literal "None"); null keys are counted into
    # params["key_nulls"] so the sorted-merge read can route them to the
    # first (unbounded-low) range deterministically. An all-null chunk
    # has null zones + a nonzero count — distinguishable from a keyless
    # encode, whose params carry no key_nulls at all.
    key_nulls = None
    if key_col is not None and tbl.num_rows:
        kc = tbl.column(key_col)
        key_nulls = kc.null_count
        nn = kc.drop_null() if key_nulls else kc
        if len(nn):
            key_min, key_max = str(nn[0].as_py()), str(nn[-1].as_py())
        else:
            key_min = key_max = None
    else:
        key_min = key_max = None
    names, codecs, params_l, nrows_l, raw_l, enc_l, blobs = [], [], [], [], [], [], []
    cmins, cmaxs = [], []
    for name in tbl.column_names:
        arr = tbl.column(name).combine_chunks()
        stats = column_stats(arr)
        choice, blob, params = encode_auto(arr, stats, cascade=cascade,
                                           profile=profile)
        params["atype"] = str(arr.type)
        params["stats"] = stats.as_dict()
        if key_nulls is not None:
            # replicated onto every column row (all of a chunk's rows
            # travel together), so any consumer can read it without
            # singling out the key column's row
            params["key_nulls"] = int(key_nulls)
        bloom = _bloom_build(arr, n_distinct=stats.n_distinct)
        if bloom is not None:
            params["bloom"], params["bloom_m"] = bloom
        names.append(name)
        codecs.append(choice.codec)
        params_l.append(json.dumps(params, separators=(",", ":")))
        nrows_l.append(len(arr))
        raw_l.append(arr.nbytes)
        enc_l.append(len(blob))
        blobs.append(blob)
        cmin, cmax = _col_zone(arr)
        cmins.append(cmin)
        cmaxs.append(cmax)
    n = len(names)
    return pa.record_batch(
        [
            pa.array([pid] * n, pa.int32()),
            pa.array([seq] * n, pa.int32()),
            pa.array(list(range(n)), pa.int32()),
            pa.array(names, pa.string()),
            pa.array(codecs, pa.string()),
            pa.array(params_l, pa.string()),
            pa.array(nrows_l, pa.int64()),
            pa.array(raw_l, pa.int64()),
            pa.array(enc_l, pa.int64()),
            pa.array([key_min] * n, pa.string()),
            pa.array([key_max] * n, pa.string()),
            pa.array(cmins, pa.string()),
            pa.array(cmaxs, pa.string()),
            pa.array(blobs, pa.large_binary()),
        ],
        schema=CHUNK_ARROW_SCHEMA,
    )


def encode_partitions(
    df: DataFrame,
    sort_cols: list[str] | None = None,
    partitions: int | None = None,
    chunk_rows: int = CHUNK_ROWS,
    cascade: bool = False,
    profile: str = "size",
    key_col: str | None = None,
    slice_col: str | None = None,
) -> DataFrame:
    """Sorted-encode ``df`` into the chunk table (one row per chunk×column).

    Pass ``sort_cols`` to shuffle-sort here, or pre-sort the input and
    pass only ``key_col`` (zone-map column) — the narrow path a real
    deployment uses when data is already clustered.

    ``slice_col`` names a small-int layout column (e.g. a checkpoint
    slice id): data is range-partitioned by (slice, sort keys), chunks
    never straddle slice values, the column is NOT encoded into blobs,
    and every output row carries ``slice_id`` — so ONE scan of the
    input can feed a ``partitionBy(slice_id)`` checkpointed write
    instead of one filtered scan per slice.

    Without ``partitions`` the range exchange carries no count, so AQE
    sizes it from the shuffled bytes: a small input coalesces into few
    partitions and writes one chunk per slice instead of one runt per
    shuffle partition. An explicit ``partitions`` is kept exactly.
    """
    order = ([slice_col] if slice_col else []) + (sort_cols or [])
    if order:
        by_range = (df.repartitionByRange(partitions, *order) if partitions
                    else df.repartitionByRange(*order))
        df = by_range.sortWithinPartitions(*order)
    elif partitions:
        df = df.repartition(partitions)

    key_col = key_col or (sort_cols[0] if sort_cols else None)
    out_schema = SLICED_CHUNK_SCHEMA if slice_col else CHUNK_SPARK_SCHEMA

    def _with_slice(rb: pa.RecordBatch, slice_val) -> pa.RecordBatch:
        if slice_col is None:
            return rb
        n = rb.num_rows
        return pa.record_batch(
            rb.columns + [pa.array([int(slice_val)] * n, pa.int32())],
            names=rb.schema.names + ["slice_id"],
        )

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pending: list[pa.RecordBatch] = []
        rows = 0
        seq = 0
        cur_slice = None

        def flush(final: bool):
            """Encode pending rows in EXACT chunk_rows slices (chunk
            size bounds zone-map granularity and decode memory — an
            Arrow batch must never become one oversized chunk). The
            sub-chunk_rows remainder carries unless ``final`` (end of
            partition / slice boundary). The layout column is dropped
            PER ENCODED CHUNK, never from the carried remainder — the
            remainder must keep the schema of incoming batches or the
            next concat mixes schemas."""
            nonlocal pending, rows, seq
            tbl = pa.Table.from_batches(pending)
            off = 0
            while tbl.num_rows - off >= chunk_rows or (
                    final and tbl.num_rows > off):
                chunk = tbl.slice(off, chunk_rows)
                off += chunk.num_rows
                if slice_col is not None:
                    chunk = chunk.drop_columns([slice_col])
                out = _with_slice(
                    _encode_chunk(chunk, pid, seq, cascade, key_col,
                                  profile),
                    cur_slice,
                )
                seq += 1
                yield out
            rem = tbl.slice(off)
            pending = rem.to_batches() if rem.num_rows else []
            rows = rem.num_rows

        for b in batches:
            if slice_col is None:
                segments = [b]
            else:
                # cut at slice boundaries (input is slice-major sorted)
                import numpy as np

                vals = b.column(slice_col).to_numpy()
                cuts = (np.nonzero(np.diff(vals))[0] + 1).tolist()
                bounds = [0] + cuts + [b.num_rows]
                segments = [b.slice(s, e - s)
                            for s, e in zip(bounds, bounds[1:]) if e > s]
            for seg in segments:
                if slice_col is not None:
                    sv = seg.column(slice_col)[0].as_py()
                    if cur_slice is not None and sv != cur_slice and pending:
                        yield from flush(final=True)  # never straddle slices
                    cur_slice = sv
                pending.append(seg)
                rows += seg.num_rows
                if rows >= chunk_rows:
                    yield from flush(final=False)
        if pending:
            yield from flush(final=True)

    return df.mapInArrow(enc, schema=out_schema)


def open_parquet_any(path: str):
    """``ParquetFile`` over any URI. ``pq.ParquetFile(path)`` alone only
    opens local OS paths; ``pq.read_table`` resolves URIs. The row-group
    split path (footer planning + worker ``read_row_groups``) targets
    exactly the deployment shapes (``hdfs://``, ``s3a://``/``s3://``)
    where that asymmetry bites, so resolve the filesystem first and hand
    an opened input file to ParquetFile."""
    import pyarrow.parquet as pq

    if "://" in path:
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(
            path.replace("s3a://", "s3://", 1))
        return pq.ParquetFile(fs.open_input_file(rel))
    return pq.ParquetFile(path)


def encode_files(
    spark,
    files: list[str],
    chunk_rows: int = CHUNK_ROWS,
    cascade: bool = False,
    profile: str = "size",
    key_col: str | None = None,
    split_row_groups: bool = False,
    max_rows_per_task: int = 8 * CHUNK_ROWS,
) -> DataFrame:
    """Direct-scan encode of pre-sorted parquet files: each task reads
    its file with Arrow C++ inside the Python worker and encodes it —
    the table bytes NEVER cross the JVM→Python socket.

    Why it exists: at local[16] the measured plain
    ``scan → mapInArrow`` encode spends ~70% of wall-clock shipping
    Arrow batches into Python (pass-through floor 0.85 s vs 0.17 s
    JVM-only scan on the 0.42 GB bench table); with the worker reading
    the file itself the whole pipeline is worker-local. The same shape
    holds on a cluster: the file list parallelizes, each executor
    reads its splits from the object store directly (pyarrow
    filesystem), and ``part_id`` comes from the file index — output is
    deterministic under any scheduling. Use this for clustered/sorted
    corpora; :func:`encode_partitions` remains the general path when a
    shuffle sort or arbitrary upstream DataFrame feeds the encode.
    """
    files = sorted(files)
    # one task per core, several files per task: local-mode python task
    # round-trips cost ~10 ms each SERIALIZED on the driver, so 64
    # one-file tasks burn 0.8 s of pure scheduling. A local frame splits
    # into defaultParallelism contiguous slices — the task list needs no
    # shuffle stage.
    #
    # split_row_groups: GIANT-FILE SKEW DEFENSE (north rule: "skew from
    # mega-repos and giant files"). Whole-file tasks make a 10 GB file
    # one straggler; with splitting, a work unit is a contiguous
    # row-group range capped at ~max_rows_per_task rows, planned from
    # parquet footers (driver-side metadata reads — at snapshot scale
    # the manifest already carries per-file row counts). part_id stays
    # the deterministic unit index, so output is stable under any
    # scheduling; only chunk BOUNDARIES may differ from the unsplit
    # read — the format's identity is row values (module docstring).
    if split_row_groups:
        units = []  # (path, rg_lo, rg_hi_exclusive)
        for path in files:
            md = open_parquet_any(path).metadata
            lo, rows = 0, 0
            for rg in range(md.num_row_groups):
                rows += md.row_group(rg).num_rows
                if rows >= max_rows_per_task:
                    units.append((path, lo, rg + 1))
                    lo, rows = rg + 1, 0
            if lo < md.num_row_groups or md.num_row_groups == 0:
                units.append((path, lo, md.num_row_groups))
    else:
        units = [(path, -1, -1) for path in files]
    fdf = local_frame(
        spark, [(i, *u) for i, u in enumerate(units)],
        "part_id int, path string, rg_lo int, rg_hi int")

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for b in batches:
            for pid, path, rg_lo, rg_hi in zip(
                    b.column("part_id").to_pylist(),
                    b.column("path").to_pylist(),
                    b.column("rg_lo").to_pylist(),
                    b.column("rg_hi").to_pylist()):
                # use_threads=False: every worker on the box reading
                # with Arrow's default all-core pool oversubscribes
                # 16 workers × 32 threads; one core per task is the
                # executor model
                if rg_lo < 0:
                    tbl = pq.read_table(path, use_threads=False)
                elif rg_hi > rg_lo:
                    tbl = open_parquet_any(path).read_row_groups(
                        list(range(rg_lo, rg_hi)), use_threads=False)
                else:  # zero-row-group file
                    tbl = pq.read_table(path, use_threads=False)
                seq = 0
                for off in range(0, max(tbl.num_rows, 1), chunk_rows):
                    chunk = tbl.slice(off, chunk_rows)
                    if chunk.num_rows == 0:
                        continue
                    yield _encode_chunk(chunk, pid, seq, cascade,
                                        key_col, profile)
                    seq += 1

    return fdf.mapInArrow(enc, schema=CHUNK_SPARK_SCHEMA)


def _py(v):
    return v.as_py() if hasattr(v, "as_py") else v


def assemble_chunk(tin: pa.Table, rows, schema: pa.Schema) -> pa.Table:
    """Decode ONE chunk — its chunk×column rows ``rows`` of a grouped
    decode's Arrow input ``tin`` — into a table of ``schema``. The loop
    runs over ≤ n_cols metadata rows, never data rows."""
    colc, datac, parc = (tin.column("column"), tin.column("data"),
                         tin.column("params"))
    arrays = {_py(colc[i]): decode_array(_py(datac[i]),
                                         json.loads(_py(parc[i])))
              for i in rows}
    return pa.table([arrays[f.name] for f in schema], schema=schema)


def decoded_output(fields: list[pa.Field], tag: pa.Field | None = None):
    """``(spark_ddl, emit)`` for a grouped decode (applyInArrow) whose
    output is the decoded ``fields``, after an optional constant ``tag``
    column: ``emit(data, value)`` prepends the tag and casts to the
    types Spark expects back over the Arrow boundary."""
    out_schema = pa.schema(([tag] if tag is not None else []) + fields)
    out_emit = pa.schema([pa.field(f.name, _emit_type(f.type))
                          for f in out_schema])
    ddl = ", ".join(f"{f.name} {_spark_type(f.type)}" for f in out_schema)

    def emit(data: pa.Table, value=None) -> pa.Table:
        if tag is not None:
            data = data.add_column(
                0, tag, pa.repeat(pa.scalar(value, tag.type), data.num_rows))
        return data if out_schema == out_emit else data.cast(out_emit)

    return ddl, emit


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Inverse of :func:`encode_partitions`: chunk table → original rows.

    Chunks are decoded group-wise; all columns of one chunk travel
    together. Output order is unspecified: consumers that need key
    order read through :func:`~.sortedread.read_sorted` (zone-planned,
    no total sort) or re-sort by their own key (as compaction does).
    """
    fields = chunk_fields(chunks)
    data_schema = pa.schema(fields)
    ddl, emit = decoded_output(fields)

    def dec(key, tin):
        # ARROW-NATIVE grouped decode (applyInArrow): blobs arrive and
        # decoded columns leave as Arrow — no pandas object conversion
        # in either direction
        return emit(assemble_chunk(tin, range(tin.num_rows), data_schema))

    return chunks.groupBy(*chunk_ident(chunks)).applyInArrow(dec, schema=ddl)


def _arrow_type(name: str) -> pa.DataType:
    simple = {
        "string": pa.string(), "large_string": pa.large_string(),
        "int64": pa.int64(), "int32": pa.int32(), "int16": pa.int16(),
        "int8": pa.int8(), "uint64": pa.uint64(), "uint32": pa.uint32(),
        "float": pa.float32(), "double": pa.float64(), "bool": pa.bool_(),
        "binary": pa.binary(), "large_binary": pa.large_binary(),
        "date32[day]": pa.date32(),
    }
    if name in simple:
        return simple[name]
    if name.startswith(("list<", "large_list<")):
        inner = name.split("<", 1)[1].rsplit(">", 1)[0]
        if ": " in inner:
            inner = inner.split(": ", 1)[1]
        elem = _arrow_type(inner)
        return pa.large_list(elem) if name.startswith("large_list") else pa.list_(elem)
    if name.startswith("timestamp"):
        # e.g. "timestamp[us]" / "timestamp[us, tz=UTC]"
        unit = name.split("[")[1].split("]")[0].split(",")[0]
        tz = "UTC" if "tz=" in name else None
        return pa.timestamp(unit, tz)
    if name.startswith("decimal128"):
        prec, scale = name.split("(")[1].rstrip(")").split(",")
        return pa.decimal128(int(prec), int(scale))
    raise TypeError(f"unmapped arrow type name {name}")


def _spark_type(t: pa.DataType) -> str:
    m = {
        pa.string(): "string", pa.large_string(): "string",
        pa.int64(): "long", pa.int32(): "int", pa.int16(): "short",
        pa.float64(): "double", pa.float32(): "float", pa.bool_(): "boolean",
        pa.large_binary(): "binary", pa.binary(): "binary",
    }
    if t in m:
        return m[t]
    if pa.types.is_timestamp(t):
        # a NAIVE arrow timestamp is Spark's TIMESTAMP_NTZ; calling it
        # "timestamp" (session-tz) silently rewrote the column type on
        # decode — applyInPandas coerced it, applyInArrow rejects it
        return "timestamp" if t.tz else "timestamp_ntz"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_spark_type(t.value_type)}>"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    raise TypeError(f"unmapped arrow type {t}")


def _emit_type(t: pa.DataType) -> pa.DataType:
    """The arrow type Spark expects back for a column we DESCRIBE with
    ``_spark_type``: large_* variants collapse to their plain forms
    (Spark hands plain string/binary/list over the Arrow boundary;
    per-chunk arrays are far below the 2 GB offset limit, so the cast
    is safe)."""
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return pa.list_(_emit_type(t.value_type))
    return t


def project_chunks(chunks: DataFrame, columns: list[str]) -> DataFrame:
    """Column pruning on the encoded format: keep only the requested
    columns' chunk rows — blobs of other columns are never read past
    the parquet row-group filter (the chunk table's analogue of
    ``ReadSchema`` pruning)."""
    return chunks.filter(F.col("column").isin(columns))


def prune_chunks(chunks: DataFrame, key_lo: str | None = None,
                 key_hi: str | None = None) -> DataFrame:
    """Zone-map pruning on the leading sort key: drop whole chunks whose
    [key_min, key_max] range cannot intersect [key_lo, key_hi]. The
    filter is a plain predicate on two small string columns, so Spark
    pushes it into the parquet scan of the chunk table — blobs of
    pruned chunks are never decoded."""
    out = chunks
    if key_lo is not None:
        out = out.filter(F.col("key_max") >= key_lo)
    if key_hi is not None:
        out = out.filter(F.col("key_min") <= key_hi)
    return out


def prune_chunks_on(chunks: DataFrame, column: str, lo=None, hi=None,
                    cast: str = "long") -> DataFrame:
    """Zone-map pruning on ANY encoded column (not just the lead sort
    key): drop WHOLE chunks — all their column rows — whose per-column
    [col_min, col_max] cannot intersect [lo, hi].

    Shape: filter the target column's chunk rows on the zone (a tiny
    stats projection of the chunk manifest — one row per chunk), then
    left-semi join the full chunk table on the chunk identity. At scale
    the semi-join runs manifest-vs-manifest; pruned blobs are never
    decoded. Effective when the column is correlated with the chunk
    order (e.g. a secondary sort column: sorted by (lang, n_chars),
    chunks carry narrow n_chars ranges, so an n_chars band prunes most
    chunks of every lang — which lead-key pruning cannot do).

    ``cast`` is the Spark type the stringified zone values are compared
    under (the column's own type). Null zones (all-null or unorderable
    chunks) are dropped — correct for range predicates, which never
    match nulls.
    """
    stats = chunks.filter(F.col("column") == column)
    if lo is not None:
        stats = stats.filter(F.col("col_max").cast(cast) >= lo)
    if hi is not None:
        stats = stats.filter(F.col("col_min").cast(cast) <= hi)
    ident = chunk_ident(chunks)
    return chunks.join(stats.select(*ident).distinct(), ident, "left_semi")


def prune_chunks_eq(chunks: DataFrame, column: str, value) -> DataFrame:
    """Bloom-filter pruning for EQUALITY point lookups on any encoded
    column — the unclustered complement of zone maps (`prune_chunks_on`
    needs the column correlated with chunk order; a bloom prunes on a
    column in any order). Drops whole chunks whose per-chunk bloom
    proves ``column != value`` everywhere; chunks without a bloom
    (high-cardinality or unsupported type) are kept — pruning is only
    ever an optimization, never a correctness filter, so follow with
    the actual predicate after decode.

    Shape: an Arrow-batched probe over the target column's MANIFEST
    rows only (one row per chunk — never data rows), then a
    chunk-identity ANTI-join against the chunks the bloom PROVES empty.
    The anti-join (not a semi-join on hits) is what keeps the
    "never a correctness filter" contract in every degenerate case: if
    ``column`` has no manifest rows at all — already projected away by
    `project_chunks`, or simply misspelled — the proven-absent set is
    empty and the table passes through unpruned, instead of every chunk
    being dropped. ~1.2% false-positive rate at the build parameters;
    false positives cost one extra chunk decode, false negatives cannot
    happen (crc32 double-hashing is process-stable)."""
    ident = chunk_ident(chunks)
    # probe a NARROW manifest projection (identity + params only): the
    # blobs must never ship JVM→Python just to read their params JSON
    stats = chunks.filter(F.col("column") == column).select(*ident, "params")

    def probe(batches):
        for b in batches:
            absent = [not bloom_may_contain(pj, value)
                      for pj in b.column("params").to_pylist()]
            yield b.filter(pa.array(absent, pa.bool_()))

    misses = stats.mapInArrow(probe, schema=stats.schema)
    return chunks.join(misses.select(*ident).distinct(), ident, "left_anti")


def manifest_aggregate(chunks: DataFrame, column: str,
                       cast: str = "string") -> DataFrame:
    """count / null-aware min / max of an encoded column computed from
    the chunk MANIFEST alone — zero blobs decoded, zero data rows read
    (the classic columnar-metadata fast path: n_rows and the per-column
    zone maps already carry the answer). ``cast`` is the column's own
    Spark type: zone values are stored stringified, and min/max must
    compare under the real type, not lexicographically ("10" < "9").
    Null zones (all-null chunks) don't contribute to min/max, matching
    SQL aggregate semantics; `n_rows` counts every row including nulls,
    matching COUNT(*)."""
    return (
        chunks.filter(F.col("column") == column)
        .agg(F.sum("n_rows").alias("count_rows"),
             F.min(F.col("col_min").cast(cast)).alias("min_value"),
             F.max(F.col("col_max").cast(cast)).alias("max_value"))
    )


def encode_staged(
    spark,
    df: DataFrame,
    spill_dir: str,
    sort_cols: list[str],
    partitions: int | None = None,
    key_col: str | None = None,
    **encode_kw,
) -> DataFrame:
    """Two-phase encode for ARBITRARY (unsorted) input at scale: phase 1
    shuffle-sorts ``df`` and spills it as sorted parquet — a pure JVM
    job (whole-stage codegen scan → exchange → sort → parquet write)
    that scales with executors; phase 2 encodes the spilled files via
    the direct-scan path, where each worker reads its file with Arrow
    C++ inside the Python worker.

    Why: the one-phase ``encode_partitions`` route ships every table
    byte across the JVM→Python Arrow socket — measured ~70% of
    wall-clock at local[16] and the reason its single-box scaling sits
    below the direct path's. Staging keeps the Python boundary cost
    O(files read worker-locally) instead of O(bytes shipped), so the
    generic route scales like the direct route at the price of one
    extra parquet round-trip — the classic sort-spill a distributed
    sort pays anyway. The spill is also a resumable artifact: a crashed
    encode re-runs phase 2 only.

    ``sort_cols`` is also the default zone-map key (``key_col``).

    Spill granularity: the default partition count is 4× the session
    parallelism, NOT 1×. The spill files are phase 2's work units, and
    at 1× the first straggler (or any unit count that doesn't divide
    the core count) quantizes the whole encode to partial waves —
    measured on the scaled bench corpus: 1×-granularity phase 2 scaled
    0.49 from 2→8 cores (13 units over 8 cores = 1.6 waves), 4×
    restored balanced waves. 4 units/core is the standard dynamic-
    balancing margin and also bounds per-task memory at cluster
    scale.

    Range planning: the cut points come from a COLUMN-PRUNED key sample
    and rows are routed with a binary-search expression —
    ``repartitionByRange`` on the full frame runs its range-sampling
    job against the exchange's child plan, i.e. a SECOND full scan
    including every payload byte; at 100 TB with a fat ``content``
    column that doubles the read cost of the generic route. The pruned
    plan scans payload ONCE (the shuffle itself). Measured on the bench
    corpus (3.6M rows, content-heavy): phase 1+2 total 34.9→29.2 s at
    8 cores, 80.9→74.0 s at 2 cores — the win grows with data size
    because the avoided cost is the payload re-scan, while the added
    cost is one small fixed planning job (~0.5-1 s: sample cuts +
    collect). It holds at ANY partition count: the cuts ship as one
    broadcast single-row frame and routing is an unrolled O(log n)
    binary search over the attached array — no per-cut literals, so
    the plan stays O(log n) nodes however many partitions a cluster
    asks for."""
    n = partitions or spark.sparkContext.defaultParallelism * 4
    _spill_range_pruned(spark, df, spill_dir, sort_cols, n)
    # manifest-free listing is fine here: the spill dir is private to
    # this call (Spark's _SUCCESS marks it complete)
    files = [f.path for f in _list_parquet(spark, spill_dir)]
    return encode_files(
        spark, files, key_col=key_col or sort_cols[0], **encode_kw)


def _spill_range_pruned(spark, df, spill_dir: str,
                        sort_cols: list[str], n: int) -> None:
    """Range-partitioned sorted spill that scans payload bytes ONCE.

    ``df.repartitionByRange`` plans its cut points with a sampling job
    over the exchange's child — full rows, payload included — so a
    spill through it reads the whole table twice. Here the cuts come
    from ``df.select(sort_cols)``: the sampler and the key shuffle both
    run against a scan column-pruned to the sort key, then each row's
    range id comes from an O(log n) binary search over the cuts and
    ``repartitionById`` places range i on reducer i. Direct placement
    gives every range its own task, and the explicit repartition is
    not AQE-coalesced, so spill files map one-to-one onto ranges.
    Output contract is identical to ``repartitionByRange``: ranges are
    contiguous and non-overlapping across spill files, rows sorted
    within each file, nulls first (struct comparison orders a null
    field smallest, matching ``asc_nulls_first`` — verified in tests,
    not assumed).
    """
    # cut points: per-partition max of a range-partitioned 1/64 SAMPLE
    # of the key frame — ONE extra job, column-pruned scan, tiny
    # shuffle (shuffling every key, or adding a count() pass to size an
    # exact sample, both measurably lost to the classic plan locally).
    # rand() rather than a key-hash filter so duplicate keys don't
    # sample all-or-none.
    key_struct = F.struct(*sort_cols)
    cut_rows = (
        df.select(*sort_cols)
        .where(F.rand(42) < 1.0 / 64.0)
        .repartitionByRange(n, *sort_cols)
        .select(F.spark_partition_id().alias("__pid"),
                key_struct.alias("__k"))
        .groupBy("__pid").agg(F.max("__k").alias("mx"),
                              F.count("*").alias("n"))
        .orderBy("__pid")
        .collect()  # ≤ n tiny rows — the same O(R) the planner collects
    )
    if len(cut_rows) < 2:
        # the sample came back empty (tiny input) or as one range (one
        # key, or n == 1): the whole input goes through ONE task. The
        # spill dir must still exist (with _SUCCESS) for phase 2's
        # listing.
        _log.warning(
            "encode_staged: single-partition spill (%d sampled key "
            "rows, %d partitions requested)",
            sum(r["n"] for r in cut_rows), n)
        df.repartition(1).sortWithinPartitions(*sort_cols) \
            .write.mode("overwrite").parquet(spill_dir)
        return
    (
        _pruned_range_routed(spark, df, sort_cols, cut_rows)
        .repartitionById(len(cut_rows), "__range_id")
        .drop("__range_id")
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite").parquet(spill_dir)
    )


def _pruned_range_routed(spark, df, sort_cols: list[str], cut_rows):
    """Attach an int ``__range_id`` column to ``df`` for the pruned
    range spill, valid at ANY partition count (embedding every cut as
    a literal would grow the plan O(n) nodes). The cut list ships as
    ONE broadcast single-row frame (Arrow-serialized — no per-literal
    driver cost either), attaches to the payload via a 1-row broadcast
    join, and the range id comes from an UNROLLED binary search:
    ceil(log2(n)) chained projections whose per-step state (__lo/__hi)
    lives in columns, each step one array access + one struct compare.
    Plan size is O(log n), row cost O(log n) — no cliff, and the
    payload is still scanned exactly once (plan-asserted in tests at
    32,768 partitions). F.get (0-based, null-on-invalid) rather than
    element_at keeps ANSI mode safe; the struct <= compares
    nulls-smallest (pinned by the null-key leg of the spill-contract
    test).

    ``cut_rows`` holds ≥ 2 per-range maxima (the last is open-ended).
    The result carries ``df``'s columns plus ``__range_id`` only
    (broadcast array and search state are projected away so nothing
    but payload + range id can cross the exchange).
    """
    from pyspark.sql.types import ArrayType, StructType

    bounds_data = [tuple(r["mx"]) for r in cut_rows[:-1]]  # last open-ended
    key_struct = F.struct(*sort_cols)
    key_struct_t = StructType([
        f for c in sort_cols for f in df.schema.fields if f.name == c])
    one = local_frame(
        spark, [(bounds_data,)],
        StructType().add("__bounds", ArrayType(key_struct_t)))
    m = len(bounds_data)
    routed = (
        df.join(F.broadcast(one))
        .withColumn("__lo", F.lit(0))
        .withColumn("__hi", F.lit(m))
    )
    for _ in range(m.bit_length()):
        # classic lower_bound step, all pre-update snapshots: smallest
        # i with key <= bounds[i], else m
        mid = F.floor((F.col("__lo") + F.col("__hi")) / 2).cast("int")
        routed = (
            routed
            .withColumn("__mid", F.least(mid, F.lit(m - 1)))
            .withColumn("__in", F.col("__lo") < F.col("__hi"))
            .withColumn("__le", key_struct
                        <= F.get(F.col("__bounds"), F.col("__mid")))
            .withColumn("__hi", F.when(F.col("__in") & F.col("__le"),
                                       F.col("__mid"))
                        .otherwise(F.col("__hi")))
            .withColumn("__lo", F.when(F.col("__in") & ~F.col("__le"),
                                       F.col("__mid") + 1)
                        .otherwise(F.col("__lo")))
        )
    return routed.select(*df.columns, F.col("__lo").alias("__range_id"))


def _list_parquet(spark, directory: str):
    """List *.parquet children via the session's Hadoop FileSystem (so
    file://, hdfs:// and s3a:// all work)."""
    from collections import namedtuple

    Entry = namedtuple("Entry", "path")
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(directory)
    fs = p.getFileSystem(hconf)
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if is_data_file(name):
            uri = st.getPath().toUri()
            # local files come back as `file:/x` URIs — hand pyarrow a
            # plain OS path; real schemes (hdfs/s3a) keep their URI form
            if uri.getScheme() in (None, "file"):
                out.append(Entry(uri.getPath()))
            else:
                out.append(Entry(st.getPath().toString()))
    return sorted(out)


def read_where(
    chunks: DataFrame,
    columns: list[str] | None = None,
    key_range: tuple | None = None,
    ranges: dict | None = None,
    equals: dict | None = None,
    range_casts: dict | None = None,
) -> DataFrame:
    """THE unified read path over an encoded chunk table: compose every
    pruning layer the format offers, in cheapest-first order, then
    decode survivors and apply the EXACT predicates — so pruning is
    always an optimization, never a correctness filter.

    Order (each step only ever shrinks the manifest frame):

    1. ``key_range=(lo, hi)`` — lead-key zone maps (`prune_chunks`):
       plain predicates that Spark pushes into the chunk-table scan.
       Zone-granular: boundary chunks may carry rows just outside the
       range, so apply the exact key predicate on the result (the key's
       stringified zone form can't be cast back generically here —
       `ranges` and `equals` below ARE applied exactly).
    2. ``ranges={col: (lo, hi)}`` — per-column zone maps
       (`prune_chunks_on`; ``range_casts[col]`` is the Spark type to
       compare under, default ``"long"``).
    3. ``equals={col: value}`` — per-chunk bloom filters
       (`prune_chunks_eq`): equality pruning on unclustered columns.
    4. ``columns`` — column projection (`project_chunks`) AFTER chunk
       pruning, widened with the predicate columns so the exact filters
       below can run; predicate-only columns are dropped at the end.
    5. decode + exact predicates.

    Null semantics match SQL: range and equality predicates never match
    null values."""
    out = chunks
    if key_range is not None:
        out = prune_chunks(out, key_lo=key_range[0], key_hi=key_range[1])
    for col, (lo, hi) in (ranges or {}).items():
        out = prune_chunks_on(out, col, lo=lo, hi=hi,
                              cast=(range_casts or {}).get(col, "long"))
    for col, value in (equals or {}).items():
        out = prune_chunks_eq(out, col, value)
    if columns is not None:
        need = list(dict.fromkeys(
            list(columns) + list(ranges or {}) + list(equals or {})))
        out = project_chunks(out, need)
    rows = decode_chunks(out)
    for col, (lo, hi) in (ranges or {}).items():
        if lo is not None:
            rows = rows.filter(F.col(col) >= lo)
        if hi is not None:
            rows = rows.filter(F.col(col) <= hi)
    for col, value in (equals or {}).items():
        rows = rows.filter(F.col(col) == value)
    return rows.select(*columns) if columns is not None else rows
