"""Zone-planned sorted-merge read of the encoded chunk store.

Re-sorting decoded rows (``decode_chunks(...).orderBy(key)``) is a
TOTAL sort: a sampling job plus a range shuffle of decoded rows — the
expensive path the reference never pays, because its consumers iterate
sorted runs and k-way merge them
(Parquet.Producers/ParquetProduction.cs:199,217,403 and
Parquet/MergeSorter.cs:83 k-way SortedMerge pre-sorted parquet streams
instead of re-sorting).

This module is that consumer, Spark-first: the chunk table's KEY ZONE
maps (``key_min``/``key_max``, written by every encode) already
describe where each sorted run's chunks live, so globally ordered
output needs no sampling and no global sort —

1. **Plan** (metadata only): distinct chunk zones → ``R`` DISJOINT key
   ranges cut at chunk boundaries, weighted by row counts (the same
   planning input Spark's range partitioner must sample a data pass to
   estimate). The cuts are computed on an executor — one window over
   the zones in key order picks the row-weighted quantile cuts — and
   the driver holds O(R): one guard row plus at most ``R`` cuts, at
   any chunk count.
2. **Assign**: each chunk joins (broadcast) every range its zone
   overlaps — after consolidation runs are disjoint and the fan-out is
   ~1; overlapping incremental waves are where the merge actually
   merges. Chunks holding NULL keys additionally join the first range,
   which is where null rows live (Spark's asc-nulls-first order).
3. **Decode + exact filter + merge, one task per range**: the group
   key IS the range, so each task receives every chunk its range
   overlaps (compressed bytes — the ONLY shuffle in the plan), decodes
   them, drops rows outside the range's half-open bounds (the zone
   plan is never a correctness filter, duplicates from multi-range
   chunks can't survive), and concatenates the runs.
4. **Local sort, no exchange**: a ``sortWithinPartitions`` on
   ``(range_id, key)`` — ranges are already whole inside their task's
   partition, so this is a partition-local sort with no shuffle;
   ranges tile the key space in id order, so reading (or writing)
   ranges in order IS the k-way merge of all runs.

Scale shape: decoded ROWS are never shuffled at all — the one
exchange moves compressed chunk blobs clustered by range (≈4× smaller
than the rows they decode to), where ``orderBy`` pays a sampling job
plus a skew-prone range exchange of full decoded rows. Memory rule:
one range decodes inside one task, so size ``n_ranges`` such that
``total_rows / n_ranges`` fits an executor's Python worker (the
planner balances ranges by row count; ``n_ranges`` may exceed core
count freely).

Ordering contract: zones are STORED as strings but COMPARE under the
key's own type (numeric keys plan, assign, filter, and sort
numerically — no zero-padding contract); rows with NULL keys sort
first, inside the first range, matching Spark's asc-nulls-first
default. Types without a lossless string round-trip fall back to
string order (documented in :func:`_zone_sql_type`).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F

from .encoder import _spark_type, chunk_fields, chunk_ident
from .util import local_frame

_log = logging.getLogger("parquet_producers_spark")


def _zone_sql_type(key_spark_type: str) -> str | None:
    """The SQL type zone STRINGS compare under for a key of this Spark
    type; ``None`` → compare as strings (string keys, or types without
    a guaranteed lossless ``str()`` round-trip)."""
    t = key_spark_type.lower()
    if t in ("long", "bigint", "int", "integer", "short", "smallint",
             "tinyint", "byte"):
        return "bigint"
    if t in ("double", "float", "real"):
        return "double"
    if t in ("date", "boolean", "timestamp", "timestamp_ntz") \
            or t.startswith("decimal"):
        return t
    return None


def _chunk_tiebreak(ident: list[str]):
    """Deterministic per-chunk tiebreak: ``xxhash64`` over the chunk
    identity columns. Shared by the planner's composite cuts and
    read_sorted's assignment + bound filters (they MUST agree). A hash
    collision between two equal-key_min chunks only keeps them in the
    same range — never a correctness issue."""
    return F.xxhash64(*[F.col(c) for c in ident])


def _key_nulls_col():
    # written by every keyed encode (encoder._encode_chunk) onto each
    # column row's params; absent (keyless/legacy store) reads as 0
    return F.coalesce(
        F.get_json_object("params", "$.key_nulls").cast("long"), F.lit(0))


def plan_key_ranges(
    chunks: DataFrame,
    n_ranges: int | None = None,
    key_type: str | None = None,
) -> list[tuple]:
    """Cut the key space into ``n_ranges`` half-open ranges ``[lo, hi)``
    (``None`` = unbounded) from the chunk table's zone maps — cut
    points at chunk ``key_min`` boundaries, weighted by per-chunk row
    counts so ranges balance even when runs overlap or skew.
    ``key_type`` is the SQL type zones compare under (from
    :func:`_zone_sql_type`; ``None`` = string order).

    Every cut is a ``(key, tb)`` pair: the chunk's ``key_min`` and its
    deterministic tiebreak (:func:`_chunk_tiebreak`, the expression
    :func:`read_sorted` attaches to chunk rows), compared
    lexicographically at chunk granularity. Chunks with equal
    ``key_min`` can land in adjacent ranges, so a hot key spanning many
    chunks splits across ranges instead of decoding as one straggler
    task, while global KEY order is untouched (equal keys carry no
    order contract).

    Planning is metadata only (one row per chunk, no blobs) and runs on
    an executor: one window over the zones in global ``(mn, tb, mx)``
    order gives each zone its exclusive cumulative row count, the zone
    falls in the row-weighted bucket ``k = floor(cum / step)``, and the
    first cuttable zone of each bucket ``k >= 1`` is a cut. The driver
    receives one guard row and at most ``R`` cut rows — never one row
    per chunk. Null-key zones order first (their rows live in the first
    range); a NaN zone is never a cut (Spark orders NaN above every
    double, so NaN chunks fall in the last range)."""
    spark = chunks.sparkSession
    ident = chunk_ident(chunks)
    cast_t = key_type or "string"
    zones = (
        chunks.groupBy(*ident)
        .agg(F.first("key_min").cast(cast_t).alias("mn"),
             F.first("key_max").cast(cast_t).alias("mx"),
             F.first("key_min").isNotNull().alias("zoned"),
             F.first("n_rows").alias("rows"),
             F.max(_key_nulls_col()).alias("knulls"))
        .withColumn("tb", _chunk_tiebreak(ident))
    )

    head = zones.agg(
        F.count("*").alias("n"),
        F.sum("rows").alias("total"),
        # zone absent entirely — a keyless encode (key_nulls missing
        # AND key_min null): unplannable
        F.sum(F.when(~F.col("zoned") & (F.col("knulls") == 0), 1)
              .otherwise(0)).alias("keyless"),
        # zone present as a string but not castable under key_type —
        # refuse rather than silently mis-assign the chunk. A NULL
        # key_max alone also counts: a chunk whose mx fails the cast
        # would otherwise satisfy only the first range's overlap
        # predicate and silently drop its rows past the first cut.
        F.sum(F.when(F.col("zoned")
                     & (F.col("mn").isNull() | F.col("mx").isNull()), 1)
              .otherwise(0)).alias("uncastable"),
    ).first()
    if not head["n"]:
        raise ValueError(
            "sorted read needs key zones on every chunk — "
            "encode with a key_col")
    if head["keyless"]:
        raise ValueError(
            f"{head['keyless']} chunk(s) carry no key zone — "
            "encode with a key_col")
    if head["uncastable"]:
        raise ValueError(
            f"{head['uncastable']} chunk zone(s) do not parse as "
            f"{cast_t} — the store's key type disagrees with the "
            "requested comparison type")
    n, total = int(head["n"]), int(head["total"])
    r = n_ranges or max(1, min(
        n, int(spark.conf.get("spark.sql.shuffle.partitions"))))
    step = total / r

    w = (Window.orderBy(F.col("mn").asc_nulls_first(), F.col("tb"),
                        F.col("mx").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("rows").over(w), F.lit(0))
    cuttable = F.col("mn").isNotNull()
    if cast_t.lower() in ("double", "float", "real"):
        cuttable = cuttable & ~F.isnan(F.col("mn"))
    cut_rows = (
        zones.withColumn("cum", cum)
        .withColumn("k", F.floor(F.col("cum") / F.lit(step)))
        .filter((F.col("k") >= 1) & cuttable)
        .groupBy("k").agg(F.min(F.struct("mn", "tb", "cum")).alias("cut"))
        .collect()
    )
    # a cut zone's exclusive cumulative rows is where its range starts;
    # two buckets can pick the same zone (one zone heavier than a step)
    starts: dict[tuple, int] = {}
    for c in cut_rows:
        mn, tb, at = c["cut"]
        starts[(mn, tb)] = min(at, starts.get((mn, tb), at))
    cuts = sorted(starts)
    bounds = [None] + cuts + [None]
    ranges = [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
    edges = [0] + [starts[c] for c in cuts] + [total]
    largest = max(b - a for a, b in zip(edges, edges[1:]))
    _log.info("sorted-read plan: %d zones, %d rows, %d ranges requested,"
              " %d planned; largest range %d rows vs mean %.0f",
              n, total, r, len(ranges), largest, total / len(ranges))
    return ranges


def read_sorted(
    chunks: DataFrame,
    key: str,
    n_ranges: int | None = None,
) -> DataFrame:
    """Decode the chunk store globally ordered by ``key`` (under the
    key's own type; null keys first) WITHOUT a total sort: zone-planned
    ranges, per-range decode + exact bounds, one direct-placement
    shuffle on ``range_id``, local sort.

    Returns the decoded columns plus ``range_id``; within every output
    partition rows are physically sorted by ``(range_id, key)`` and
    range ids tile the key space, so consuming ranges in id order (or
    :func:`write_sorted`'s directory layout) yields the full table in
    key order — the reference's sorted-consumer semantics
    (Parquet.Producers/ParquetProduction.cs:199,217,403 +
    Parquet/MergeSorter.cs:83) re-expressed as a plan, not an iterator.

    Plan shape (the point of the module): ONE exchange total, and it
    moves compressed chunk blobs clustered by ``range_id`` — decoded
    rows never shuffle. Each range decodes + merges wholly inside its
    group task, then ``sortWithinPartitions`` orders without an
    exchange (ranges are already whole in their partition)."""
    import pyarrow as pa

    from .encoder import _py, assemble_chunk, decoded_output

    spark = chunks.sparkSession
    # planning runs ~10 metadata jobs (chunk_fields + plan_key_ranges);
    # over an unmaterialized encode each would re-run the encode, and
    # over a checkpointed chunk frame each would re-scan the full BLOB
    # bytes (checkpoint rows are materialized whole — column pruning
    # can't skip the data column). One slim projection pays that once.
    # Only planning reads it, before the main plan runs: the MAIN plan
    # below builds on ``chunks`` directly, so a lost checkpoint block
    # fails the read before it emits a row, and the one-blob-exchange
    # shape is unchanged.
    meta = chunks.drop("data").localCheckpoint(eager=False)
    fields = chunk_fields(meta)
    types = {f.name: f.type for f in fields}
    if key not in types:
        raise ValueError(f"key column {key!r} not in store ({list(types)})")
    key_arrow = types[key]
    if pa.types.is_binary(key_arrow) or pa.types.is_large_binary(key_arrow):
        # the encoder stringifies zones via str(bytes) (Python repr:
        # "b'x'") while the task-side exact filter would cast the Arrow
        # binary column to utf8 ("x") — plan bounds and row values would
        # compare under DIFFERENT encodings and rows could silently
        # misfilter (ADVICE r6 #2). Refuse, like the uncastable path.
        raise ValueError(
            f"key column {key!r} is binary — binary sort keys have no "
            "lossless zone-string round-trip; re-encode with a "
            "string/numeric key")
    zone_t = _zone_sql_type(_spark_type(key_arrow))
    # zone_t None → string comparison (identical plan; the decode task
    # casts the key to string for the exact bound filter)
    #
    # ASSIGNMENT COST BUDGET (documented bound): the broadcast
    # theta-join below evaluates R range predicates per chunk-COLUMN
    # row, i.e. O(chunk_rows × R) cheap comparisons. That is the right
    # trade while R tracks the task budget (R ≈ shuffle partitions or a
    # small multiple — the only regime n_ranges is sized for, since one
    # range decodes inside one task): at 10^8 chunk rows × 10^3 ranges
    # it is 10^11 codegen'd compares spread over the cluster, a minor
    # term next to decode. Plans wanting R ≫ 10^4 should consolidate
    # chunks first (compaction) rather than widen this join — zones and
    # ranges are both sorted, so a sort-merge interval join is the
    # known upgrade path if that regime ever becomes real.
    ranges = plan_key_ranges(meta, n_ranges, key_type=zone_t)
    ident = chunk_ident(chunks)

    # assignment = broadcast theta-join of the chunk rows against the
    # tiny range list on zone overlap (chunk [key_min,key_max] ∩ range
    # [lo,hi), under the key's type) — no driver-side fan-out, so the
    # plan holds at any chunk count. Chunks carrying null keys join the
    # first range too: that's where their null rows land.
    lohi_t = zone_t or "string"
    rdf = local_frame(
        spark,
        [(i,
          r[0][0] if r[0] is not None else None,
          r[0][1] if r[0] is not None else None,
          r[1][0] if r[1] is not None else None,
          r[1][1] if r[1] is not None else None)
         for i, r in enumerate(ranges)],
        f"range_id int, lo {lohi_t}, lo_tb long, hi {lohi_t}, hi_tb long")
    kmin = F.col("key_min").cast(lohi_t)
    kmax = F.col("key_max").cast(lohi_t)
    tb = F.col("__tb")
    # composite (key, tb) half-open overlap at chunk granularity: the
    # chunk's span is [(key_min, tb), (key_max, tb)] — tb is constant
    # per chunk, so the lexicographic compares reduce to one extra
    # equality leg per bound
    ge_lo = (F.col("lo").isNull()
             | (kmax > F.col("lo"))
             | ((kmax == F.col("lo")) & (tb >= F.col("lo_tb"))))
    lt_hi = (F.col("hi").isNull()
             | (kmin < F.col("hi"))
             | ((kmin == F.col("hi")) & (tb < F.col("hi_tb"))))
    overlap = kmin.isNotNull() & ge_lo & lt_hi
    null_leg = F.col("lo").isNull() & (_key_nulls_col() > 0)
    # direct placement: repartitionById puts range i on reducer i. A
    # plain groupBy(range_id) exchange hashes R ranges into the
    # session's shuffle-partition count, and balls-in-bins collisions
    # hand some tasks 2-3 ranges while others sit idle — the measured
    # straggler shape of the sorted-read probe. Here partition p holds
    # exactly range p: perfect balance, deterministic output layout
    # (partition order == range order), and the explicit repartition
    # is not AQE-coalesced, so decode parallelism is n_ranges by
    # construction.
    fat = (
        chunks.withColumn("__tb", _chunk_tiebreak(ident))
        .join(F.broadcast(rdf), overlap | null_leg, "inner")
        .repartitionById(len(ranges), "range_id")
    )

    # group-decode per RANGE: the group key is (range_id, bounds); the
    # explicit repartition above IS the plan's only shuffle (placement
    # by range_id already clusters the group key, so the groupBy adds
    # no second exchange) and moves the compressed blobs of each range
    # onto one task, which reassembles every overlapping chunk,
    # bound-filters, and concatenates the runs
    data_schema = pa.schema(fields)
    ddl, emit = decoded_output(fields, pa.field("range_id", pa.int32()))
    as_string = zone_t is None and not pa.types.is_string(key_arrow) \
        and not pa.types.is_large_string(key_arrow)

    def dec(gkey, tin):
        # ARROW-NATIVE grouped decode (applyInArrow): blobs arrive and
        # decoded columns leave as Arrow — no pandas object conversion
        # in either direction (to_pandas on decoded strings was the
        # single largest cost of the pandas variant)
        import pyarrow.compute as pc

        # gkey = (range_id, lo, lo_tb, hi, hi_tb)
        rid = int(_py(gkey[0]))
        lo, lo_tb = _py(gkey[1]), _py(gkey[2])
        hi, hi_tb = _py(gkey[3]), _py(gkey[4])
        # group the ≤ (chunks × columns) METADATA rows by chunk ident —
        # the loop never touches data rows
        ident_cols = [tin.column(c) for c in ident]
        tbc = tin.column("__tb")
        by_chunk: dict[tuple, list[int]] = {}
        chunk_tb: dict[tuple, int] = {}
        for i in range(tin.num_rows):
            ck = tuple(_py(c[i]) for c in ident_cols)
            by_chunk.setdefault(ck, []).append(i)
            chunk_tb[ck] = _py(tbc[i])
        cmp_t = pa.string() if as_string else key_arrow
        tables = []
        for ck, rows in by_chunk.items():
            ctb = chunk_tb[ck]
            tbl = assemble_chunk(tin, rows, data_schema)
            ks = tbl.column(key)
            if as_string:
                ks = pc.cast(ks, pa.string())
            # exact half-open bounds under the key's type, at composite
            # (key, chunk-tb) granularity: a bound (K, T) splits rows
            # with key == K by the CHUNK's tiebreak (constant per
            # chunk, so the lexicographic compare reduces to >= vs >
            # and <= vs < per bound) — what lets a hot key span
            # adjacent ranges. Null keys survive ONLY in the first
            # (lo=None) range — a bounded range's comparison nulls them
            # out and Arrow's filter drops null-mask rows,
            # deterministically at every n_ranges. NaN keys survive
            # ONLY in the last (hi=None) range: Spark orders NaN above
            # every double, but Arrow's >= is IEEE (NaN >= lo is
            # false), so without the explicit is_nan leg every
            # NaN-keyed row silently vanished at n_ranges > 1
            # (ADVICE r6 #1).
            def below_hi():
                # row below cut (hk, ht) iff key < hk, or key == hk
                # and the chunk's tb < ht
                if ctb < hi_tb:
                    return pc.less_equal(ks, pa.scalar(hi, cmp_t))
                return pc.less(ks, pa.scalar(hi, cmp_t))

            if lo is not None:
                if ctb >= lo_tb:
                    mask = pc.greater_equal(ks, pa.scalar(lo, cmp_t))
                else:
                    mask = pc.greater(ks, pa.scalar(lo, cmp_t))
                if hi is not None:
                    mask = pc.and_(mask, below_hi())
                elif pa.types.is_floating(cmp_t):
                    mask = pc.or_kleene(mask, pc.is_nan(ks))
                tbl = tbl.filter(mask)
            elif hi is not None:
                tbl = tbl.filter(pc.or_kleene(
                    pc.is_null(ks), below_hi()))
            if tbl.num_rows:
                tables.append(tbl)
        return emit(pa.concat_tables(tables) if tables
                    else data_schema.empty_table(), rid)

    out = fat.groupBy("range_id", "lo", "lo_tb",
                      "hi", "hi_tb").applyInArrow(dec, schema=ddl)
    # partition-local sort, NO exchange: every range is whole inside
    # its group's partition, so (range_id, key) order within partitions
    # + range tiling = global key order across ranges in id order
    # (asc_nulls_first — nulls only exist in range 0)
    sort_key = (F.col(key).cast("string") if as_string
                else F.col(key)).asc_nulls_first()
    return out.sortWithinPartitions("range_id", sort_key)


def write_sorted(
    chunks: DataFrame,
    key: str,
    out_dir: str,
    n_ranges: int | None = None,
) -> None:
    """Materialize the sorted-merge read as a sorted table layout:
    ``range_id=NNN`` directories in key order, each file internally
    sorted — the reference's sorted-parquet PRODUCER output
    (its whole pipeline contract: sorted runs in, sorted table out)
    with no global sort in the plan."""
    (read_sorted(chunks, key, n_ranges)
     .write.mode("overwrite").partitionBy("range_id").parquet(out_dir))
