"""Chunk-table compaction (rewrite_data_files analogue): runts merge
into full chunks, survivors pass through byte-identical, row multiset
is preserved exactly."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from parquet_producers_spark.compaction import compact_chunks
from parquet_producers_spark.datagen import source_code_df
from parquet_producers_spark.encoder import decode_chunks, encode_partitions
from parquet_producers_spark.storage import read_chunks

N_FILES = 3000
CHUNK = 512


@pytest.fixture(scope="module")
def runty_chunks(spark):
    """Encode in 12 partitions with chunk_rows=512: each partition's
    trailing slice is a runt (3000/12 = 250 rows per partition → every
    chunk is a runt in 8 partitions; mixed in the rest)."""
    src = source_code_df(spark, N_FILES, seed=7, partitions=4)
    return encode_partitions(
        src, sort_cols=["repo", "path"], partitions=12, chunk_rows=CHUNK,
    ).localCheckpoint(eager=True)


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


def test_compaction_preserves_rows_and_reduces_chunks(spark, runty_chunks):
    before = decode_chunks(runty_chunks)
    compacted = compact_chunks(
        runty_chunks, sort_cols=["repo", "path"], chunk_rows=CHUNK,
    ).localCheckpoint(eager=True)
    after = decode_chunks(compacted)

    assert _multiset(after) == _multiset(before)  # bit-identical multiset

    n_before = runty_chunks.select("part_id", "chunk_seq").distinct().count()
    n_after = compacted.select("part_id", "chunk_seq").distinct().count()
    assert n_after < n_before

    # every rewritten chunk except at most the last is exactly full
    runt_after = (
        compacted.select("part_id", "chunk_seq", "n_rows").distinct()
        .filter(F.col("n_rows") < CHUNK).count()
    )
    assert runt_after <= compacted.select("part_id").distinct().count()


def test_compaction_passes_full_chunks_through_untouched(spark, runty_chunks):
    compacted = compact_chunks(
        runty_chunks, sort_cols=["repo", "path"], chunk_rows=CHUNK,
    )
    full_before = {
        (r["part_id"], r["chunk_seq"], r["column"]): bytes(r["data"])
        for r in runty_chunks.filter(F.col("n_rows") >= CHUNK).collect()
    }
    full_after = {
        (r["part_id"], r["chunk_seq"], r["column"]): bytes(r["data"])
        for r in compacted.join(
            runty_chunks.select("part_id", "chunk_seq").distinct(),
            ["part_id", "chunk_seq"], "left_semi",
        ).collect()
    }
    assert full_after == full_before  # same identities, same encoded bytes


def test_compaction_new_part_ids_do_not_collide(spark, runty_chunks):
    compacted = compact_chunks(
        runty_chunks, sort_cols=["repo", "path"], chunk_rows=CHUNK,
    )
    max_old = runty_chunks.agg(F.max("part_id")).first()[0]
    rewritten = compacted.filter(F.col("part_id") > max_old)
    assert rewritten.count() > 0
    # rewritten region is key-clustered: zone maps are orderable
    zones = (
        rewritten.filter(F.col("column") == "repo")
        .select("part_id", "chunk_seq", "key_min", "key_max")
        .collect()
    )
    for z in zones:
        assert z["key_min"] <= z["key_max"]


def test_compaction_rejects_layout_columns(spark, runty_chunks):
    with pytest.raises(ValueError, match="layout"):
        compact_chunks(runty_chunks.withColumn("slice_id", F.lit(0)),
                       sort_cols=["repo"])


def test_compact_stage_writes_new_version_with_lineage(spark, tmp_path):
    """Versioned-layout integration: v=1 encoded with runty parameters,
    compact_stage writes v=2 — decoded parity, fewer chunks, manifests
    carry compacted_from, slice discipline preserved, resume skips."""
    import json

    from parquet_producers_spark.compaction import compact_stage
    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.storage import (
        encode_run,
        list_versions,
        manifest_path,
        read_chunks,
    )

    root = str(tmp_path)
    src = source_code_df(spark, 1500, seed=11, partitions=3).cache()
    encode_run(
        spark, src, root, "code", version=1,
        sort_cols=["repo", "path"], n_slices=3, chunk_rows=192,
        partitions_per_slice=2,
    )
    v1 = read_chunks(spark, root, "code", 1).localCheckpoint(eager=True)

    res = compact_stage(spark, root, "code", version=1)
    assert [r.skipped for r in res] == [False, False, False]
    assert list_versions(root, "code") == [1, 2]
    v2 = read_chunks(spark, root, "code", 2).localCheckpoint(eager=True)

    # decoded parity across versions
    a = sorted(tuple(r) for r in decode_chunks(v1).collect())
    b = sorted(tuple(r) for r in decode_chunks(v2).collect())
    assert a == b

    # fewer chunks, same slice partitioning
    def n_chunks(df):
        return df.select("slice_id", "part_id", "chunk_seq").distinct().count()
    assert n_chunks(v2) < n_chunks(v1)
    assert (sorted(r.slice_id for r in v2.select("slice_id").distinct().collect())
            == [0, 1, 2])

    # every rewritten row still lives in the slice its key hashes to
    from pyspark.sql import functions as F
    dec = decode_chunks(v2.filter(F.col("slice_id") == 1))
    derived = dec.withColumn(
        "s", F.pmod(F.hash(F.col("repo")), F.lit(3))).select("s").distinct().collect()
    assert [r.s for r in derived] == [1]

    # manifests carry lineage
    with open(manifest_path(root, "code", 2, 0)) as f:
        m = json.load(f)
    assert m["compacted_from"] == 1
    assert m["metrics"]["rows"] > 0

    # resume: second call skips every slice
    res2 = compact_stage(spark, root, "code", version=1)
    assert [r.skipped for r in res2] == [True, True, True]
    src.unpersist()


def test_compact_if_needed_policy_gate(spark, tmp_path, caplog):
    """Runty stage → compaction runs, the new version is returned and
    the logged prediction is a lower chunk count; a stage with one chunk
    per slice is all runts yet cannot merge → no-op, logged as a skip."""
    import logging

    from parquet_producers_spark.compaction import compact_if_needed
    from parquet_producers_spark.storage import encode_run, list_versions

    root = str(tmp_path)
    src = source_code_df(spark, 1500, seed=11, partitions=3).cache()

    def decisions(stage):
        return [r.getMessage() for r in caplog.records
                if r.getMessage().startswith(f"compaction {stage} v=1")]

    # runty: chunk_rows=192 leaves a ~58-row runt per partition
    encode_run(spark, src, root, "runty", version=1,
               sort_cols=["repo", "path"], n_slices=3, chunk_rows=192,
               partitions_per_slice=2)
    with caplog.at_level(logging.INFO, logger="parquet_producers_spark"):
        assert compact_if_needed(spark, root, "runty", 1) == 2
    assert list_versions(root, "runty") == [1, 2]
    [ran] = decisions("runty")
    assert "rewrite ran" in ran
    before, after = (int(x) for x in re.search(
        r"chunks (\d+) -> (\d+) predicted", ran).groups())
    assert after < before

    # one chunk per slice: every chunk is a runt, nothing can merge (a
    # few hundred rows, so AQE coalesces the encode to one partition)
    small = source_code_df(spark, 300, seed=11, partitions=3)
    encode_run(spark, small, root, "single", version=1,
               sort_cols=["repo", "path"], n_slices=3, chunk_rows=1024)
    ids = read_chunks(spark, root, "single", 1).select(
        "slice_id", "part_id", "chunk_seq").distinct()
    assert ids.count() == 3
    with caplog.at_level(logging.INFO, logger="parquet_producers_spark"):
        assert compact_if_needed(spark, root, "single", 1) == 1
    assert list_versions(root, "single") == [1]
    [skipped] = decisions("single")
    assert "skipped" in skipped and "chunks 3 -> 3 predicted" in skipped
    src.unpersist()


def test_compact_chunks_noop_on_healthy_table(spark):
    """A healthy table — its only runt is the trailing chunk, so no
    rewrite can lower the chunk count: compact_chunks returns it
    unchanged, without a decode."""
    src = source_code_df(spark, 300, seed=7, partitions=2)
    chunks = encode_partitions(
        src, sort_cols=["repo", "path"], partitions=1, chunk_rows=64,
    ).localCheckpoint(eager=True)
    assert chunks.filter(F.col("n_rows") < 64).select(
        "chunk_seq").distinct().count() == 1

    out = compact_chunks(chunks, sort_cols=["repo", "path"], chunk_rows=64)
    assert out is chunks


def test_compact_stage_leaves_ceil_runt_rows_chunks_per_slice(
        spark, tmp_path):
    """Runts of every slice merge into ⌈runt_rows / chunk_rows⌉ chunks:
    the AQE-sized re-encode keeps a small slice's runts in one
    partition, so a compaction that runs always lowers the chunk count."""
    from parquet_producers_spark.compaction import compact_stage
    from parquet_producers_spark.storage import encode_run

    root = str(tmp_path)
    src = source_code_df(spark, 300, seed=3, partitions=2)
    encode_run(spark, src, root, "code", version=1,
               sort_cols=["repo", "path"], n_slices=2, chunk_rows=128,
               partitions_per_slice=4)

    def per_slice(version):
        out = {}
        for r in read_chunks(spark, root, "code", version).select(
                "slice_id", "part_id", "chunk_seq", "n_rows"
        ).distinct().collect():
            out.setdefault(r.slice_id, []).append(r.n_rows)
        return out

    before = per_slice(1)
    compact_stage(spark, root, "code", 1)
    after = per_slice(2)
    assert sorted(after) == sorted(before) == [0, 1]
    for s, sizes in before.items():
        runt_rows = sum(n for n in sizes if n < 128)
        full = sum(1 for n in sizes if n >= 128)
        assert len(sizes) > full + math.ceil(runt_rows / 128)
        assert len(after[s]) == full + math.ceil(runt_rows / 128)
        assert sum(after[s]) == sum(sizes)


def test_compact_if_needed_uses_manifest_chunk_rows(spark, tmp_path):
    """A maintain run without an explicit chunk_rows must judge runts
    against the geometry recorded in the stage manifests — NOT the
    global default (which would reclassify a custom-geometry stage as
    100% runts and rewrite everything)."""
    import json

    from parquet_producers_spark.compaction import compact_if_needed
    from parquet_producers_spark.storage import (
        encode_run,
        manifest_path,
        read_chunks,
    )

    root = str(tmp_path)
    src = source_code_df(spark, 1500, seed=11, partitions=3).cache()
    encode_run(spark, src, root, "code", version=1,
               sort_cols=["repo", "path"], n_slices=3, chunk_rows=192,
               partitions_per_slice=2)
    with open(manifest_path(root, "code", 1, 0)) as f:
        assert json.load(f)["chunk_rows"] == 192

    # no chunk_rows argument: geometry comes from the manifest (192),
    # the runty stage compacts, and the rewrite keeps 192-row chunks
    assert compact_if_needed(spark, root, "code", 1) == 2
    v2 = read_chunks(spark, root, "code", 2)
    assert v2.agg(F.max("n_rows")).first()[0] <= 192
    with open(manifest_path(root, "code", 2, 0)) as f:
        assert json.load(f)["chunk_rows"] == 192
    src.unpersist()


@pytest.mark.parametrize("n_docs,chunk,parts", [
    (700, 64, 5),    # many small partitions, heavy runt tail
    (901, 128, 3),   # odd size, remainder-heavy
    (256, 256, 2),   # partitions smaller than a chunk: all runts
])
def test_compaction_multiset_parametrized(spark, n_docs, chunk, parts):
    """Across geometries (remainders, all-runt, mixed): compaction
    preserves the exact row multiset and never collides chunk ids."""
    from parquet_producers_spark.compaction import compact_chunks

    src = source_code_df(spark, n_docs, seed=5, partitions=3)
    chunks = encode_partitions(
        src, sort_cols=["repo", "path"], partitions=parts, chunk_rows=chunk,
    ).localCheckpoint(eager=True)
    comp = compact_chunks(
        chunks, sort_cols=["repo", "path"], chunk_rows=chunk,
    ).localCheckpoint(eager=True)
    assert _multiset(decode_chunks(comp)) == \
        _multiset(decode_chunks(chunks))
    # (part_id, chunk_seq, column) identities stay unique after rewrite
    assert comp.select("part_id", "chunk_seq", "column").distinct().count() \
        == comp.count()


def test_compact_if_needed_starts_no_spark_job_when_nothing_merges(
        spark, tmp_path, caplog):
    """The in-wave gate reads the slice manifests the commit wrote: on a
    stage with one chunk per slice (nothing can merge) it decides
    without starting a single Spark job. A manifest without the chunk
    stats is a logged skip, never a recount."""
    import json
    import logging

    from parquet_producers_spark.compaction import (
        compact_if_needed,
        compact_stage,
    )
    from parquet_producers_spark.storage import (
        encode_run,
        list_versions,
        manifest_path,
    )

    root = str(tmp_path)
    small = source_code_df(spark, 300, seed=11, partitions=3)
    encode_run(spark, small, root, "single", version=1,
               sort_cols=["repo", "path"], n_slices=3, chunk_rows=1024)
    sc = spark.sparkContext
    sc.setJobGroup("compact-gate-probe", "compact_if_needed")
    try:
        with caplog.at_level(logging.INFO, logger="parquet_producers_spark"):
            assert compact_if_needed(spark, root, "single", 1) == 1
            # a manifest written before the stats fields existed
            path = manifest_path(root, "single", 1, 1)
            with open(path) as f:
                m = json.load(f)
            del m["metrics"]["runts"]
            with open(path, "w") as f:
                json.dump(m, f)
            assert compact_if_needed(spark, root, "single", 1) == 1
            assert compact_stage(spark, root, "single", 1) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "compact-gate-probe")) == []
    assert list_versions(root, "single") == [1]
    lines = [r.getMessage() for r in caplog.records
             if r.getMessage().startswith("compaction single v=1")]
    assert len(lines) == 3
    assert "skipped" in lines[0] and "chunks 3 -> 3 predicted" in lines[0]
    assert all("carry no chunk stats" in ln for ln in lines[1:])


def test_slice_manifests_carry_compaction_stats(spark, tmp_path):
    """Every slice manifest carries the chunk stats the compaction gate
    reads — chunks, runts, runt rows, max part_id — equal to a recount
    from the committed chunk rows, for an encode and for the compacted
    version."""
    import json

    from parquet_producers_spark.compaction import compact_stage
    from parquet_producers_spark.storage import encode_run, manifest_path

    root = str(tmp_path)
    src = source_code_df(spark, 300, seed=3, partitions=2)
    encode_run(spark, src, root, "code", version=1,
               sort_cols=["repo", "path"], n_slices=2, chunk_rows=128,
               partitions_per_slice=4)
    compact_stage(spark, root, "code", 1)
    runts = {}
    for version in (1, 2):
        want = {}
        for r in read_chunks(spark, root, "code", version).select(
                "slice_id", "part_id", "chunk_seq", "n_rows"
        ).distinct().collect():
            w = want.setdefault(r.slice_id, {"n_chunks": 0, "rows": 0,
                                             "runts": 0, "runt_rows": 0,
                                             "max_pid": -1})
            w["n_chunks"] += 1
            w["rows"] += r.n_rows
            w["runts"] += r.n_rows < 128
            w["runt_rows"] += r.n_rows if r.n_rows < 128 else 0
            w["max_pid"] = max(w["max_pid"], r.part_id)
        assert sorted(want) == [0, 1]
        for k, w in want.items():
            with open(manifest_path(root, "code", version, k)) as f:
                m = json.load(f)["metrics"]
            assert {f: m[f] for f in w} == w, (version, k)
        runts[version] = sum(w["runts"] for w in want.values())
    assert runts[2] < runts[1]  # the compaction merged runts


def test_compact_stage_warns_when_rewrite_keeps_chunk_count(
        spark, tmp_path, caplog):
    """The decision line of a stage rewrite gives the actual chunk count
    next to the predicted one, and is a WARNING when the rewrite did not
    lower it: here AQE, told to make tiny partitions, spreads each
    slice's runts over several re-encode tasks."""
    import logging

    from parquet_producers_spark.compaction import compact_stage
    from parquet_producers_spark.storage import encode_run

    root = str(tmp_path)
    src = source_code_df(spark, 300, seed=3, partitions=2)
    # ~150 rows per slice in 3 runts: one 256-row chunk would hold them
    encode_run(spark, src, root, "code", version=1,
               sort_cols=["repo", "path"], n_slices=2, chunk_rows=256,
               partitions_per_slice=3)
    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
            "spark.sql.adaptive.coalescePartitions.parallelismFirst":
                "false"}
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        with caplog.at_level(logging.INFO, logger="parquet_producers_spark"):
            compact_stage(spark, root, "code", 1)
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    [line] = [r for r in caplog.records
              if r.getMessage().startswith("compaction code v=1")]
    before, predicted, actual = (int(x) for x in re.search(
        r"chunks (\d+) -> (\d+) predicted, (\d+) actual",
        line.getMessage()).groups())
    assert predicted < before <= actual
    assert line.levelno == logging.WARNING
