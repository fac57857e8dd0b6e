"""Zone-planned sorted-merge read: globally ordered decode with no
total sort (sortedread.py). The reference's sorted-consumer contract
(ParquetProduction.cs:199,217,403 / Parquet/MergeSorter.cs:83
SortedMerge) as a Spark plan."""

import pyspark.sql.functions as F
import pytest

from conftest import executed_plan
from parquet_producers_spark.encoder import encode_partitions
from parquet_producers_spark.sortedread import (
    plan_key_ranges,
    read_sorted,
    write_sorted,
)


def _docs(spark, n=3000):
    return (
        spark.range(n)
        .select(
            F.format_string("k%06d", (F.col("id") * 37) % n).alias("k"),
            (F.col("id") % 7).alias("g"),
            F.sha2(F.col("id").cast("string"), 256).alias("v"),
        )
    )


def _partition_rows(df):
    """Rows in PHYSICAL order per partition (mapInArrow preserves it)."""
    import pyarrow as pa

    def tag(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = 0
        for b in batches:
            yield pa.record_batch(
                [pa.array([pid] * b.num_rows, pa.int32()),
                 pa.array(range(seq, seq + b.num_rows), pa.int64()),
                 b.column(b.schema.get_field_index("range_id")),
                 b.column(b.schema.get_field_index("k"))],
                names=["pid", "pos", "range_id", "k"])
            seq += b.num_rows

    return df.mapInArrow(
        tag, "pid int, pos long, range_id int, k string").collect()


def test_read_sorted_is_globally_ordered(spark):
    d = _docs(spark)
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=6, chunk_rows=200, profile="fast")
    out = read_sorted(chunks, "k", n_ranges=5)

    rows = _partition_rows(out)
    assert len(rows) == 3000
    # physically sorted by (range_id, k) inside every partition
    by_pid = {}
    for r in sorted(rows, key=lambda r: (r["pid"], r["pos"])):
        by_pid.setdefault(r["pid"], []).append((r["range_id"], r["k"]))
    for seq in by_pid.values():
        assert seq == sorted(seq)
    # ranges tile the key space: max of range i <= min of range i+1,
    # every row exactly once → ranges in id order = the full sort
    spans = {}
    for r in rows:
        lo, hi = spans.get(r["range_id"], (r["k"], r["k"]))
        spans[r["range_id"]] = (min(lo, r["k"]), max(hi, r["k"]))
    rids = sorted(spans)
    assert all(spans[a][1] <= spans[b][0]
               for a, b in zip(rids, rids[1:]))
    # content identical to the source
    assert (out.drop("range_id").exceptAll(d).count() == 0
            and d.exceptAll(out.drop("range_id")).count() == 0)


def test_read_sorted_merges_overlapping_waves(spark):
    # two fully-overlapping sorted runs (incremental waves): the merge
    # must interleave them, not concatenate
    d1 = _docs(spark, 1200).filter(F.col("g") < 4)
    d2 = _docs(spark, 1200).filter(F.col("g") >= 4)
    c1 = encode_partitions(
        d1, sort_cols=["k"], partitions=3, chunk_rows=128, profile="fast")
    c2 = encode_partitions(
        d2, sort_cols=["k"], partitions=3, chunk_rows=128, profile="fast")
    chunks = (c1.withColumn("enc_version", F.lit(1))
              .unionByName(c2.withColumn("enc_version", F.lit(2))))
    out = read_sorted(chunks, "k", n_ranges=4)
    rows = _partition_rows(out)
    assert len(rows) == 1200
    spans = {}
    for r in rows:
        lo, hi = spans.get(r["range_id"], (r["k"], r["k"]))
        spans[r["range_id"]] = (min(lo, r["k"]), max(hi, r["k"]))
    rids = sorted(spans)
    assert len(rids) > 1  # actually split across ranges
    assert all(spans[a][1] <= spans[b][0] for a, b in zip(rids, rids[1:]))


def test_read_sorted_plan_has_one_blob_exchange(spark):
    # the at-scale contract: ONE exchange (compressed blobs placed
    # directly on their range's reducer), decoded rows never shuffle,
    # no sampling/range partitioner
    d = _docs(spark, 2000)
    # materialize the chunk table first so the asserted plan is the
    # READ path only (the encode side legitimately range-partitions)
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=4, chunk_rows=200,
        profile="fast").localCheckpoint()
    plan = executed_plan(read_sorted(chunks, "k", n_ranges=4))
    import re

    shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+)", plan)
    assert shuffles == ["shufflepartitionidpassthrough"], plan
    assert "REPARTITION_BY_NUM" in plan
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    # the sort is partition-local (global=false ⇒ printed without a
    # global Sort marker feeding an exchange)
    assert "Exchange rangepartitioning" not in plan


def test_plan_ranges_balance_and_guards(spark):
    d = _docs(spark, 2000)
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=4, chunk_rows=100, profile="fast")
    ranges = plan_key_ranges(chunks, 8)
    assert ranges[0][0] is None and ranges[-1][1] is None
    # half-open, strictly increasing cuts
    cuts = [r[1] for r in ranges[:-1]]
    assert cuts == sorted(set(cuts))
    # unkeyed chunk table refuses instead of losing rows
    unkeyed = encode_partitions(d, partitions=2, profile="fast")
    with pytest.raises(ValueError):
        read_sorted(unkeyed, "k")


def test_write_sorted_layout(spark, tmp_path):
    d = _docs(spark, 1500)
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=4, chunk_rows=200, profile="fast")
    out_dir = str(tmp_path / "sorted")
    write_sorted(chunks, "k", out_dir, n_ranges=4)
    import glob
    import os

    import pyarrow.parquet as pq

    rdirs = sorted(glob.glob(os.path.join(out_dir, "range_id=*")))
    assert len(rdirs) > 1
    prev_hi = None
    total = 0
    for rd in sorted(rdirs, key=lambda p: int(p.rsplit("=", 1)[1])):
        ks = []
        for f in sorted(glob.glob(os.path.join(rd, "*.parquet"))):
            ks.extend(pq.read_table(f, columns=["k"]).column("k").to_pylist())
        assert ks == sorted(ks)  # each range dir internally sorted
        if prev_hi is not None and ks:
            assert prev_hi <= ks[0]  # dirs tile in id order
        if ks:
            prev_hi = ks[-1]
        total += len(ks)
    assert total == 1500


def test_read_sorted_integer_keys_numeric_order(spark):
    """Typed key zones: raw integer keys plan, assign, filter, and sort
    NUMERICALLY — no zero-padding contract. (String zones would order
    "10" < "2"; the round-5 module documented that trap instead of
    removing it.)"""
    import pyarrow as pa

    d = spark.range(3000).select(
        ((F.col("id") * 37) % 3000).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"))
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=5, chunk_rows=200, profile="fast")
    out = read_sorted(chunks, "k", n_ranges=6)

    def tag(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = 0
        for b in batches:
            yield pa.record_batch(
                [pa.array([pid] * b.num_rows, pa.int32()),
                 pa.array(range(seq, seq + b.num_rows), pa.int64()),
                 b.column(b.schema.get_field_index("range_id")),
                 b.column(b.schema.get_field_index("k"))],
                names=["pid", "pos", "range_id", "k"])
            seq += b.num_rows

    rows = out.mapInArrow(
        tag, "pid int, pos long, range_id int, k long").collect()
    assert len(rows) == 3000
    # physically sorted by (range_id, NUMERIC k) inside every partition
    by_pid = {}
    for r in sorted(rows, key=lambda r: (r["pid"], r["pos"])):
        by_pid.setdefault(r["pid"], []).append((r["range_id"], r["k"]))
    for seq in by_pid.values():
        assert seq == sorted(seq)
    # ranges tile the key space NUMERICALLY and split more than once
    spans = {}
    for r in rows:
        lo, hi = spans.get(r["range_id"], (r["k"], r["k"]))
        spans[r["range_id"]] = (min(lo, r["k"]), max(hi, r["k"]))
    rids = sorted(spans)
    assert len(rids) > 1
    assert all(spans[a][1] <= spans[b][0] for a, b in zip(rids, rids[1:]))
    assert (out.drop("range_id").exceptAll(d).count() == 0
            and d.exceptAll(out.drop("range_id")).count() == 0)


def test_read_sorted_null_keys_deterministic_first_range(spark):
    """Rows with NULL keys must survive every n_ranges and land
    deterministically in the FIRST range, physically before non-null
    keys — Spark's asc-nulls-first order. (Previously a bounded range's
    >= filter nulled them out and Arrow's filter dropped them, so
    results varied with n_ranges.)"""
    d = spark.range(2000).select(
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.format_string("k%06d", F.col("id"))).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"))
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=4, chunk_rows=128, profile="fast")

    for n_ranges in (1, 5):
        out = read_sorted(chunks, "k", n_ranges=n_ranges)
        assert out.count() == 2000, f"rows lost at n_ranges={n_ranges}"

    out = read_sorted(chunks, "k", n_ranges=5)
    # nulls exactly preserved, all in the first range
    nulls = out.filter(F.col("k").isNull())
    assert nulls.count() == 200
    rid0 = out.agg(F.min("range_id")).first()[0]
    assert nulls.agg(F.max("range_id")).first()[0] == rid0
    # physical order inside the first range: nulls precede non-nulls
    rows = _partition_rows(out)
    by_pid = {}
    for r in sorted(rows, key=lambda r: (r["pid"], r["pos"])):
        by_pid.setdefault(r["pid"], []).append((r["range_id"], r["k"]))
    for seq in by_pid.values():
        keyed = [(rid, k is not None, k or "") for rid, k in seq]
        assert keyed == sorted(keyed)
    # full content parity with the source
    assert (out.drop("range_id").exceptAll(d).count() == 0
            and d.exceptAll(out.drop("range_id")).count() == 0)


def test_read_sorted_timestamp_keys(spark):
    """Zone strings of timestamp keys round-trip through the typed
    comparison (timestamp_ntz cast), so time-keyed stores read in
    chronological — not lexicographic — order."""
    d = spark.range(1000).select(
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=(F.col("id") * 97) % 1000)).alias("ts"),
        F.col("id").alias("v"))
    chunks = encode_partitions(
        d, sort_cols=["ts"], partitions=3, chunk_rows=100, profile="fast")
    out = read_sorted(chunks, "ts", n_ranges=4)
    assert out.count() == 1000
    got = [r["ts"] for r in
           out.orderBy("range_id", "ts").collect()]
    assert got == sorted(got)
    assert (out.drop("range_id").exceptAll(d).count() == 0
            and d.exceptAll(out.drop("range_id")).count() == 0)


def _reference_cuts(zones, r):
    """The row-weighted cut walk, on the driver over every zone: in
    (key_min, tb, key_max) order a zone's bucket is
    floor(exclusive cumulative rows / step), and the first zone of each
    bucket k >= 1 is a (key_min, tb) cut."""
    import math

    step = sum(z["rows"] for z in zones) / r
    cuts, cum, seen = [], 0, set()
    for z in sorted(zones, key=lambda z: (z["mn"], z["tb"], z["mx"])):
        k = math.floor(cum / step)
        if k >= 1 and k not in seen:
            seen.add(k)
            cuts.append((z["mn"], z["tb"]))
        cum += z["rows"]
    return sorted(set(cuts))


def test_plan_collects_o_ranges_not_chunks(spark, monkeypatch):
    """At north-rule scale the chunk count reaches 10^7-10^8, so the
    planner must never hold one row per chunk on the driver: cut
    selection runs as one Spark window job and the driver receives the
    guard row plus at most R cuts. 100k synthetic chunk zones plan in
    seconds, and the cuts equal a driver-side reference walk, for
    distinct and for duplicate key_min values."""
    import time

    from pyspark.sql.classic.dataframe import DataFrame

    from parquet_producers_spark.sortedread import _chunk_tiebreak

    n = 100_000
    zf = spark.range(n).select(
        F.col("id").cast("int").alias("part_id"),
        F.lit(0).cast("int").alias("chunk_seq"),
        F.format_string("k%07d", F.col("id")).alias("key_min"),
        F.format_string("k%07d", F.col("id")).alias("key_max"),
        # skewed weights so balance actually matters
        (F.when(F.col("id") % 1000 == 0, 5000).otherwise(10))
        .cast("long").alias("n_rows"),
        F.lit('{"key_nulls":0}').alias("params"))

    def zones(df):
        return [z.asDict() for z in df.select(
            F.col("key_min").alias("mn"), F.col("key_max").alias("mx"),
            F.col("n_rows").alias("rows"),
            _chunk_tiebreak(["part_id", "chunk_seq"]).alias("tb"),
        ).collect()]

    m = 400
    key = F.format_string("k%07d", (F.col("part_id") / 4).cast("int"))
    dup = zf.limit(m).withColumn("key_min", key).withColumn("key_max", key)
    want = _reference_cuts(zones(zf), 64)
    want_dup = _reference_cuts(zones(dup), 16)

    received = []
    collect = DataFrame.collect

    def counting_collect(self):
        rows = collect(self)
        received.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    t0 = time.time()
    ranges = plan_key_ranges(zf, 64)
    elapsed = time.time() - t0
    assert elapsed < 60, f"planning took {elapsed:.1f}s on metadata only"
    assert sum(received) <= 64 + 1, f"driver saw {received} rows"
    assert ranges[0][0] is None and ranges[-1][1] is None
    assert len(ranges) > 32
    assert [r[1] for r in ranges[:-1]] == want

    # 4 chunks per key_min: equal keys split by the chunk tiebreak
    received.clear()
    ranges = plan_key_ranges(dup, 16)
    assert sum(received) <= 16 + 1, f"driver saw {received} rows"
    assert len(ranges) > 4
    assert [r[1] for r in ranges[:-1]] == want_dup


def test_read_sorted_nan_keys_route_to_last_range(spark):
    """ADVICE r6 #1: NaN double keys order ABOVE every value in Spark,
    but Arrow's IEEE >= comparison is false for NaN — without the
    explicit is_nan leg the last range's bound filter silently dropped
    every NaN-keyed row at n_ranges > 1. NaN rows must all survive, in
    the LAST range, and a NaN must never become a cut."""
    d = spark.range(400).select(
        F.when(F.col("id") % 10 == 0, F.lit(float("nan")))
        .otherwise((F.col("id") * 37 % 400).cast("double")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=4, chunk_rows=64, profile="fast")
    out = read_sorted(chunks, "k", n_ranges=4)
    rows = out.select("range_id", "k").collect()
    assert len(rows) == 400
    nan_rows = [r for r in rows if r["k"] != r["k"]]
    assert len(nan_rows) == 40
    last = max(r["range_id"] for r in rows)
    assert {r["range_id"] for r in nan_rows} == {last}
    # full content parity, NaN included
    assert out.drop("range_id").exceptAll(d).count() == 0
    assert d.exceptAll(out.drop("range_id")).count() == 0


def test_read_sorted_refuses_binary_keys(spark):
    """ADVICE r6 #2: binary zones were written via Python str(bytes)
    ("b'x'") but the task-side filter casts the Arrow column to utf8
    ("x") — different encodings, silent misfilter. Refuse instead."""
    d = spark.range(100).select(
        F.encode(F.format_string("k%03d", F.col("id")), "utf-8").alias("k"),
        F.col("id").alias("v"),
    )
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=2, chunk_rows=32, profile="fast")
    with pytest.raises(ValueError, match="binary"):
        read_sorted(chunks, "k", n_ranges=2)


def test_read_sorted_hot_key_splits_across_ranges(spark, caplog):
    """VERDICT r6 #3 (guide §2.5): one key holding 50% of all rows must
    NOT decode as one undivided straggler task. Composite (key,
    chunk-tiebreak) cuts split the hot key across >1 adjacent range,
    ranges stay balanced within 2× of the mean, global key order and
    full content parity hold. The planner logs its balance at INFO."""
    import logging
    import re

    n = 4000
    d = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hotkey"))
        .otherwise(F.format_string("z%06d", F.col("id"))).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"))
    chunks = encode_partitions(
        d, sort_cols=["k"], partitions=4, chunk_rows=128, profile="fast")
    with caplog.at_level(logging.INFO, logger="parquet_producers_spark"):
        out = read_sorted(chunks, "k", n_ranges=8)
    plan = re.search(
        r"sorted-read plan: (\d+) zones, (\d+) rows, 8 ranges requested,"
        r" (\d+) planned; largest range (\d+) rows vs mean (\d+)",
        caplog.text)
    assert plan, caplog.text
    n_zones, n_rows, planned, largest, mean = map(int, plan.groups())
    assert n_zones > 8 and n_rows == n and 1 < planned <= 8
    assert mean == round(n / planned) and mean <= largest <= 2 * mean
    rows = out.select("range_id", "k").collect()
    assert len(rows) == n
    assert len({r["range_id"] for r in rows}) == planned
    # the hot key spans more than one range
    hot_rids = {r["range_id"] for r in rows if r["k"] == "hotkey"}
    assert len(hot_rids) > 1, "hot key decoded as a single range"
    # balance: no range holds more than 2x the mean
    from collections import Counter

    per_range = Counter(r["range_id"] for r in rows)
    mean = n / len(per_range)
    assert max(per_range.values()) <= 2 * mean, dict(per_range)
    # ranges still tile the key space (equal keys may share boundaries)
    spans = {}
    for r in rows:
        lo, hi = spans.get(r["range_id"], (r["k"], r["k"]))
        spans[r["range_id"]] = (min(lo, r["k"]), max(hi, r["k"]))
    rids = sorted(spans)
    assert all(spans[a][1] <= spans[b][0] for a, b in zip(rids, rids[1:]))
    # full content parity
    assert (out.drop("range_id").exceptAll(d).count() == 0
            and d.exceptAll(out.drop("range_id")).count() == 0)
