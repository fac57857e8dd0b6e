"""End-to-end encode→decode round trip on Spark (north_rule invariant:
per-row sha256(content) equality, compressed size ≤ plain parquet)."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from conftest import executed_plan
from parquet_producers_spark.datagen import source_code_df
from parquet_producers_spark.encoder import decode_chunks, encode_partitions

N_FILES = 2000


@pytest.fixture(scope="module")
def source(spark):
    return source_code_df(spark, N_FILES, seed=42, partitions=4).cache()


def test_datagen_deterministic(spark):
    a = source_code_df(spark, 500, seed=42, partitions=2).orderBy("path").collect()
    b = source_code_df(spark, 500, seed=42, partitions=7).orderBy("path").collect()
    assert a == b


def test_roundtrip_bit_identical(spark, source):
    chunks = encode_partitions(
        source, sort_cols=["repo", "path"], partitions=4, chunk_rows=512
    ).cache()
    decoded = decode_chunks(chunks)

    def rows(df):
        return sorted(
            (r.repo, r.path, r.commit, r.lang,
             hashlib.sha256(r.content.encode()).hexdigest())
            for r in df.collect())

    orig, got = rows(source), rows(decoded)
    assert len(got) == len(orig) == N_FILES
    # the decoded multiset is bit-identical to the source
    assert got == orig
    # the encode is sorted at rest: walked in (part_id, chunk_seq)
    # order, the key zones never decrease
    zones = (chunks.filter("col_idx = 0").orderBy("part_id", "chunk_seq")
             .select("key_min", "key_max").collect())
    assert len(zones) > 4
    flat = [k for z in zones for k in (z.key_min, z.key_max)]
    assert flat == sorted(flat)
    chunks.unpersist()


def test_compression_beats_plain_parquet(spark, source, tmp_path):
    sorted_src = source.repartitionByRange(4, "repo", "path") \
        .sortWithinPartitions("repo", "path")
    ref_path = str(tmp_path / "ref_parquet")
    sorted_src.write.mode("overwrite").parquet(ref_path)
    ref_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(ref_path) for f in fs if f.endswith(".parquet")
    )

    chunks = encode_partitions(
        source, sort_cols=["repo", "path"], partitions=4, cascade=True
    )
    enc_bytes = chunks.agg(F.sum("enc_bytes")).collect()[0][0]
    ratio = enc_bytes / ref_bytes
    print(f"encoded={enc_bytes} reference_parquet={ref_bytes} ratio={ratio:.3f}")
    assert ratio <= 1.0, f"compressed size {ratio:.2f}x of reference parquet"


def test_codec_choices_are_sane(spark, source):
    chunks = encode_partitions(
        source, sort_cols=["repo", "path"], partitions=2
    ).select("column", "codec").distinct().collect()
    chosen = {}
    for r in chunks:
        chosen.setdefault(r.column, set()).add(r.codec)
    # sorted repo column must get a run/dict-family codec; content gets a
    # string-structure codec (linedict wins on line-repetitive code, fsst
    # on flat text)
    assert chosen["repo"] <= {"rle", "dict"}, chosen
    assert chosen["lang"] <= {"rle", "dict"}, chosen
    assert chosen["content"] & {"linedict", "fsst"}, chosen


def test_encode_files_direct_roundtrip(spark, tmp_path):
    """Direct-scan path (workers read parquet via Arrow, no JVM->Python
    shipping) produces content identical to the DataFrame path."""
    import glob
    import hashlib

    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import (
        decode_chunks,
        encode_files,
        encode_partitions,
    )

    src = str(tmp_path / "src")
    (source_code_df(spark, 800, seed=3, partitions=2)
     .repartitionByRange(4, "repo", "path")
     .sortWithinPartitions("repo", "path")
     .write.mode("overwrite").parquet(src))
    files = sorted(glob.glob(src + "/part-*.parquet"))
    assert len(files) >= 2

    def digest(df):
        h = hashlib.sha256()
        for r in df.orderBy("repo", "path").collect():
            h.update(r.repo.encode())
            h.update(r.path.encode())
            h.update(r.content.encode())
        return h.hexdigest()

    direct = decode_chunks(
        encode_files(spark, files, key_col="repo"))
    viaspark = decode_chunks(
        encode_partitions(spark.read.parquet(src), key_col="repo"))
    want = digest(spark.read.parquet(src))
    assert digest(direct) == want
    assert digest(viaspark) == want
    # zone maps present on the direct path too
    chunks = encode_files(spark, files, key_col="repo")
    row = chunks.filter("col_idx = 0").limit(1).collect()[0]
    assert row.key_min is not None and row.key_max >= row.key_min


def test_col_zone_map_prunes_and_preserves_results(spark, sf_dir):
    """Per-column zone maps: a range predicate on a SECONDARY sort
    column must drop whole chunks (col_min/col_max can't intersect)
    while the decoded, exactly-filtered result is identical to the
    unpruned scan."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import (
        decode_chunks,
        encode_partitions,
        prune_chunks_on,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "n_chars")
    chunks = encode_partitions(docs, sort_cols=["lang", "n_chars"],
                               partitions=4, chunk_rows=32) \
        .localCheckpoint(eager=False)
    total = chunks.count()
    pruned = prune_chunks_on(chunks, "n_chars", lo=100, hi=199,
                             cast="long")
    kept = pruned.count()
    assert kept < total * 0.8, (kept, total)  # real pruning happened

    flt = (F.col("n_chars") >= 100) & (F.col("n_chars") <= 199)
    got = sorted(tuple(r) for r in
                 decode_chunks(pruned).filter(flt).collect())
    want = sorted(tuple(r) for r in
                  decode_chunks(chunks).filter(flt).collect())
    assert got == want and len(want) > 0


def test_sliced_encode_remainder_carries_across_flushes(spark):
    """Regression: with slice_col set, a slice bigger than chunk_rows
    with a non-multiple remainder must not mix schemas when the carried
    remainder concatenates with the next batch (the remainder keeps the
    layout column; it is dropped per encoded chunk only). Pre-fix this
    raised ArrowInvalid on the deployment path's first oversized slice."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import (
        decode_chunks,
        encode_partitions,
    )

    rows = [(i, i % 2, f"v{i:04d}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, sl int, v string")
    chunks = encode_partitions(
        df, sort_cols=["id"], partitions=2, chunk_rows=16,
        slice_col="sl",
    ).localCheckpoint(eager=False)
    # chunks never straddle slices and respect chunk_rows
    per = chunks.filter(F.col("column") == "id") \
        .select("slice_id", "n_rows").collect()
    assert all(r.n_rows <= 16 for r in per)
    assert {r.slice_id for r in per} == {0, 1}
    decoded = decode_chunks(chunks)
    assert decoded.count() == 200
    assert decoded.select(F.sum("id")).first()[0] == sum(range(200))


def test_encode_files_splits_giant_file_row_groups(spark, tmp_path):
    """Giant-file skew defense: with split_row_groups a big file becomes
    several work units (capped by max_rows_per_task in row-group
    granularity) while decoded content equals the whole-file read."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import decode_chunks, encode_files

    # one giant file (8 row groups of 1000) + one small file
    giant = str(tmp_path / "giant.parquet")
    pq.write_table(
        pa.table({"k": list(range(8000)),
                  "v": [f"row{i:05d}" for i in range(8000)]}),
        giant, row_group_size=1000)
    small = str(tmp_path / "small.parquet")
    pq.write_table(
        pa.table({"k": [100000], "v": ["tiny"]}), small)
    files = sorted(glob.glob(str(tmp_path / "*.parquet")))

    chunks = encode_files(spark, files, chunk_rows=512,
                          split_row_groups=True, max_rows_per_task=2000,
                          key_col="k").localCheckpoint(eager=False)
    n_units = chunks.select("part_id").distinct().count()
    assert n_units == 5  # giant: 8000/2000 = 4 units, small: 1

    decoded = decode_chunks(chunks)
    assert decoded.count() == 8001
    assert decoded.agg(F.sum("k")).first()[0] == sum(range(8000)) + 100000
    # parity with the unsplit read
    whole = decode_chunks(
        encode_files(spark, files, chunk_rows=512, key_col="k"))
    assert sorted(tuple(r) for r in decoded.collect()) == \
        sorted(tuple(r) for r in whole.collect())


def test_encode_staged_parity(spark, tmp_path):
    """Two-phase staged encode (shuffle-sort spill → direct-scan encode)
    decodes identically to the one-phase encode_partitions route on the
    same unsorted input."""
    import hashlib

    from parquet_producers_spark.encoder import encode_staged

    src = source_code_df(spark, 600, seed=99, partitions=5)  # unsorted

    def digest(df):
        h = hashlib.sha256()
        for r in df.orderBy("repo", "path").collect():
            h.update((r.repo + r.path + r.commit + r.content).encode())
        return h.hexdigest()

    staged = decode_chunks(
        encode_staged(spark, src, str(tmp_path / "spill"),
                      sort_cols=["repo", "path"], partitions=3))
    onephase = decode_chunks(
        encode_partitions(src, sort_cols=["repo", "path"], partitions=3))
    assert digest(staged) == digest(onephase) == digest(src)


def test_staged_single_partition_spill_is_logged(spark, tmp_path, caplog):
    """When the key sample yields fewer than two ranges (here every row
    shares one key) the spill falls back to ONE partition — the whole
    input through one task. That degradation must leave a WARNING, and
    the spill must still hold every row."""
    import logging

    from parquet_producers_spark.encoder import _spill_range_pruned

    src = spark.range(300).select(
        F.lit("hot").alias("repo"), F.lit("p").alias("path"),
        F.col("id").alias("v"))
    spill = str(tmp_path / "one_spill")
    with caplog.at_level(logging.WARNING, logger="parquet_producers_spark"):
        _spill_range_pruned(spark, src, spill, ["repo", "path"], 8)
    warned = [r for r in caplog.records
              if "single-partition spill" in r.getMessage()]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "8 partitions requested" in warned[0].getMessage()
    files = [f for f in os.listdir(spill) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(spill).count() == 300


def test_staged_pruned_spill_contract(spark, tmp_path):
    """The pruned-range phase-1 spill (_spill_range_pruned: cuts from a
    column-pruned key frame + binary-search routing + direct placement
    by range id) must honor the classic repartitionByRange contract:
    every row present exactly once, rows sorted within each spill
    file, per-file key ranges contiguous and NON-overlapping, null
    keys first. Payload is scanned once instead of twice — the 100 TB
    point — but the contract is what downstream zone maps rely on."""
    import pyarrow.parquet as pq

    from parquet_producers_spark.encoder import _spill_range_pruned

    src = source_code_df(spark, 1200, seed=7, partitions=5)
    # inject null keys: they must sort first and appear exactly once
    src = src.unionByName(
        src.limit(3).withColumn("repo", F.lit(None).cast("string")))
    spill = str(tmp_path / "pruned_spill")
    _spill_range_pruned(spark, src, spill, ["repo", "path"], 8)

    files = sorted(
        os.path.join(spill, f) for f in os.listdir(spill)
        if f.endswith(".parquet"))
    spans = []
    total = 0
    for f in files:
        t = pq.read_table(f, columns=["repo", "path"])
        total += t.num_rows
        if not t.num_rows:
            continue
        keys = list(zip(
            (x.as_py() for x in t.column("repo")),
            (x.as_py() for x in t.column("path"))))
        norm = [((k[0] is not None, k[0] or ""), k[1]) for k in keys]
        assert norm == sorted(norm), f"rows not sorted within {f}"
        spans.append((norm[0], norm[-1]))
    assert total == src.count()
    # files sorted by their min key must have non-overlapping ranges
    spans.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(spans, spans[1:]):
        assert hi_a <= lo_b, f"overlapping spill ranges {hi_a} vs {lo_b}"
    # the staged encode decodes back to exactly the source rows
    from parquet_producers_spark.encoder import encode_staged

    staged = decode_chunks(
        encode_staged(spark, src, str(tmp_path / "sp1"),
                      sort_cols=["repo", "path"], partitions=6))
    none_safe = lambda rows: sorted(  # noqa: E731 — None-bearing tuples
        (tuple(r) for r in rows), key=repr)
    assert none_safe(staged.collect()) == none_safe(src.collect())


def test_staged_pruned_routing_no_cliff_at_32768(spark):
    """VERDICT r6 #1: the pruned single-payload-scan plan must hold at
    cluster-scale partition counts — the pre-r7 CASE-tree routing
    silently reverted to the double-scan classic repartitionByRange
    above 4,096 partitions. The routed plan at 32,768 ranges must (a)
    scan the payload child exactly once, (b) carry no range-sampling
    subtree over it, (c) assign a sample of rows the correct range id
    under driver-side binary search, and (d) spill through exactly one
    shuffle, a direct placement by range id."""
    import bisect
    import re

    from pyspark.sql import Row

    from parquet_producers_spark.encoder import _pruned_range_routed

    n = 32768
    # synthetic cut rows: mx = (key string, "") — 32,767 cuts + open end
    cut_rows = [Row(mx=Row(repo=f"k{i:07d}", path="")) for i in range(n)]
    src = spark.range(2000).select(
        F.format_string("k%07d", (F.col("id") * 131) % (n * 2))
        .alias("repo"),
        F.lit("p").alias("path"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
    )
    routed = _pruned_range_routed(spark, src, ["repo", "path"], cut_rows)
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    # (a) exactly one scan of the payload child (spark.range source)
    assert plan.count("Range (0, 2000") == 1
    # (b) no sampling subtree (classic repartitionByRange plans one)
    assert "Sample" not in plan
    # (c) range-id parity with a driver-side binary search over the
    # cuts (lower_bound: smallest i with key <= cuts[i])
    cuts = [(r["mx"]["repo"], r["mx"]["path"]) for r in cut_rows[:-1]]
    got = routed.select("repo", "path", "__range_id").limit(200).collect()
    assert got
    for r in got:
        rid = bisect.bisect_left(cuts, (r["repo"], r["path"]))
        assert r["__range_id"] == rid, (r, rid)
    # (d) the spill's exchanges: one direct-placement shuffle plus the
    # broadcast of the one-row cut frame, nothing else
    spill = (routed.repartitionById(n, "__range_id").drop("__range_id")
             .sortWithinPartitions("repo", "path"))
    eplan = executed_plan(spill)
    shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+)", eplan)
    assert shuffles == ["shufflepartitionidpassthrough"], eplan
    assert "REPARTITION_BY_NUM" in eplan
    assert eplan.count("BroadcastExchange") == 1, eplan
