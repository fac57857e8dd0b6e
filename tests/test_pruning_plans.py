"""Scale-behavior checks: chunk zone-map pruning, column projection on
the encoded format, and physical-plan audits (filter pushdown reaches
the parquet scan; small-dim joins broadcast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import executed_plan
from parquet_producers_spark.datagen import source_code_df
from parquet_producers_spark.encoder import (
    decode_chunks,
    encode_partitions,
    project_chunks,
    prune_chunks,
)


@pytest.fixture(scope="module")
def chunk_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("chunks") / "t")
    src = source_code_df(spark, 3000, seed=5, partitions=4)
    encode_partitions(src, sort_cols=["repo", "path"], partitions=4,
                      chunk_rows=256).write.mode("overwrite") \
        .option("compression", "none").parquet(path)
    return spark.read.parquet(path)


def test_zone_map_pruning(spark, chunk_table):
    all_chunks = chunk_table.count()
    pruned = prune_chunks(chunk_table, key_lo="org50", key_hi="org60")
    kept = pruned.count()
    assert 0 < kept < all_chunks, (kept, all_chunks)
    # decoded pruned set still contains every row in the key range
    decoded = decode_chunks(pruned)
    want = decode_chunks(chunk_table).filter(
        (F.col("repo") >= "org50") & (F.col("repo") <= "org60"))
    assert decoded.filter(
        (F.col("repo") >= "org50") & (F.col("repo") <= "org60")
    ).count() == want.count()


def test_column_projection(spark, chunk_table):
    just_two = project_chunks(chunk_table, ["repo", "path"])
    assert set(r.column for r in just_two.select("column").distinct().collect()) \
        == {"repo", "path"}
    decoded = decode_chunks(just_two)
    assert decoded.columns == ["repo", "path"]
    # blob bytes read drop accordingly
    full = chunk_table.agg(F.sum("enc_bytes")).collect()[0][0]
    slim = just_two.agg(F.sum("enc_bytes")).collect()[0][0]
    assert slim < full * 0.5


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = executed_plan(
        li.filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity"))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    assert "ReadSchema" in plan
    # projection pruning: only the three referenced columns are read
    schema_part = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in schema_part and "l_extendedprice" not in schema_part


def test_small_dim_join_broadcasts(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plan = executed_plan(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey))
    assert "BroadcastHashJoin" in plan, plan


def test_zone_map_filter_is_scan_pushable(spark, chunk_table, tmp_path):
    # the zone-map predicate must be a plain column filter (parquet can
    # evaluate it from row-group stats) — no UDF, no decode
    path = str(tmp_path / "zz")
    chunk_table.write.mode("overwrite").parquet(path)
    reread = prune_chunks(spark.read.parquet(path), key_lo="org50")
    plan = executed_plan(reread)
    assert "PushedFilters" in plan and "key_max" in plan.split("PushedFilters")[1][:200], plan


def test_col_zone_prune_stats_scan_reads_no_blobs(spark, chunk_table,
                                                  tmp_path):
    """prune_chunks_on's semi-join plans TWO scans of the chunk table:
    the stats side must read only chunk identity + zone columns — never
    the encoded blobs (`data`). At 100 TB the stats scan is
    manifest-sized while the data column is the table."""
    from parquet_producers_spark.encoder import prune_chunks_on

    path = str(tmp_path / "zz2")
    chunk_table.write.mode("overwrite").parquet(path)
    reread = spark.read.parquet(path)
    pruned = prune_chunks_on(reread, "repo", lo="org10", hi="org20",
                             cast="string")
    plan = executed_plan(pruned)
    schemas = [seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]]
    assert len(schemas) >= 2, plan
    # at least one scan (the stats side) must exclude the blob column
    assert any("data" not in s for s in schemas), schemas
    # the column-name equality is pushable on the stats side
    assert "EqualTo(column,repo)" in plan or "IsNotNull(column)" in plan, \
        plan
    # and the semi-join keeps results correct: decoded rows equal the
    # unpruned decode under the same exact filter
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import decode_chunks

    flt = (F.col("repo") >= "org10") & (F.col("repo") <= "org20")
    got = decode_chunks(pruned).filter(flt).count()
    want = decode_chunks(reread).filter(flt).count()
    assert got == want > 0


def test_bloom_prune_equality(spark, sf_dir):
    """Per-chunk bloom filters prune whole chunks on EQUALITY over an
    unclustered column (zone maps can't: the column is uncorrelated
    with chunk order), with zero false negatives — pruned+filter ==
    full+filter — and real pruning on a selective value."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import (
        decode_chunks,
        encode_partitions,
        prune_chunks_eq,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # sort by doc_id → lang is unclustered across chunks? No: lang
    # correlates with nothing here, but with tiny gate data one chunk
    # may hold everything; force many small chunks
    chunks = encode_partitions(
        docs, sort_cols=["doc_id"], partitions=4, chunk_rows=64,
    ).localCheckpoint()

    probe_lang = docs.select("lang").first()[0]
    pruned = prune_chunks_eq(chunks, "lang", probe_lang)
    got = (decode_chunks(pruned)
           .filter(F.col("lang") == probe_lang))
    want = docs.filter(F.col("lang") == probe_lang)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    # a value that exists nowhere prunes (almost) every chunk:
    # allow the documented ~1% fp rate, require >90% pruned
    n_all = chunks.count()
    n_miss = prune_chunks_eq(chunks, "lang", "no_such_lang_zz").count()
    assert n_miss < n_all * 0.1

    # equality on a doc_id present in exactly one chunk keeps few chunks
    some_id = docs.agg(F.max("doc_id")).first()[0]
    n_id = prune_chunks_eq(chunks, "doc_id", some_id).count()
    assert n_id < n_all * 0.2
    got_id = (decode_chunks(prune_chunks_eq(chunks, "doc_id", some_id))
              .filter(F.col("doc_id") == some_id).count())
    assert got_id == 1


def test_manifest_aggregate_no_decode(spark, sf_dir):
    """count/min/max straight from the chunk manifest — equals the real
    aggregates, and the plan touches only the manifest frame (no
    decode stage)."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import (
        encode_partitions,
        manifest_aggregate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = encode_partitions(docs, sort_cols=["doc_id"], partitions=2,
                               chunk_rows=128).localCheckpoint()
    row = manifest_aggregate(chunks, "n_chars", cast="long").first()
    want = docs.agg(
        F.count("*"), F.min("n_chars"), F.max("n_chars")).first()
    assert (row.count_rows, row.min_value, row.max_value) == \
        (want[0], want[1], want[2])
    # string column too (lexicographic is the column's own order)
    row = manifest_aggregate(chunks, "lang").first()
    wl = docs.agg(F.count("*"), F.min("lang"), F.max("lang")).first()
    assert (row.count_rows, row.min_value, row.max_value) == tuple(wl)


def test_bloom_probe_scan_prunes_blob_column(spark, sf_dir, tmp_path):
    """The bloom probe side must scan only (identity, params) from an
    at-rest chunk table — never the data blobs (parquet column pruning
    visible in the probe scan's ReadSchema)."""
    from parquet_producers_spark.encoder import (
        encode_partitions,
        prune_chunks_eq,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "chunks")
    encode_partitions(docs, sort_cols=["doc_id"], partitions=2,
                      chunk_rows=128).write.parquet(path)
    chunks = spark.read.parquet(path)
    plan = executed_plan(prune_chunks_eq(chunks, "lang", "en"))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    probe_scans = [s for s in scans
                   if "params" in s and "data" not in s.split("ReadSchema")[1]]
    assert probe_scans, f"no blob-free probe scan found:\n{plan[:4000]}"


def test_read_where_unified(spark, sf_dir):
    """read_where composes every pruning layer (lead key, column zones,
    blooms, projection) and still returns EXACTLY the predicate's rows
    — pruning is never a correctness filter."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import (
        encode_partitions,
        read_where,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select(F.format_string("%08d", "doc_id").alias("dockey"),
                "doc_id", "lang", "source", "n_chars")
    chunks = encode_partitions(docs, sort_cols=["dockey"], partitions=4,
                               chunk_rows=64).localCheckpoint()

    target = docs.agg(F.min("lang")).first()[0]
    got = read_where(
        chunks,
        columns=["doc_id", "n_chars"],
        key_range=("00000050", "00000449"),
        ranges={"n_chars": (50, 5000)},
        equals={"lang": target},
    )
    assert got.columns == ["doc_id", "n_chars"]
    want = docs.filter(
        (F.col("doc_id") >= 50) & (F.col("doc_id") <= 449)
        & (F.col("n_chars") >= 50) & (F.col("n_chars") <= 5000)
        & (F.col("lang") == target)
    ).select("doc_id", "n_chars")
    # read_where prunes on zones for dockey (range pruning may keep
    # boundary chunks), so apply the exact key predicate for comparison
    got = got.filter((F.col("doc_id") >= 50) & (F.col("doc_id") <= 449))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert want.count() > 0


def test_bloom_prune_degenerate_is_noop(spark, sf_dir):
    """prune_chunks_eq on a column with NO manifest rows — misspelled,
    or already projected away by project_chunks — must pass the chunk
    table through unpruned (the anti-join contract: pruning is never a
    correctness filter, even when misused)."""
    from parquet_producers_spark.encoder import (
        encode_partitions,
        project_chunks,
        prune_chunks_eq,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = encode_partitions(docs, sort_cols=["doc_id"], partitions=2,
                               chunk_rows=128).localCheckpoint()
    n_all = chunks.count()
    assert prune_chunks_eq(chunks, "no_such_column", "x").count() == n_all

    projected = project_chunks(chunks, ["doc_id", "n_chars"])
    n_proj = projected.count()
    assert prune_chunks_eq(projected, "lang", "en").count() == n_proj
