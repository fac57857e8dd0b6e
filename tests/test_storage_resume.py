"""Versioned storage + manifest-based exact resume (SURVEY.md §4.2 row
'Resume/checkpoint'; reference analogue Producer.cs:115-118 versioned
table triplets)."""

from __future__ import annotations

import hashlib
import os

from conftest import executed_plan
from parquet_producers_spark.datagen import source_code_df
from parquet_producers_spark.encoder import decode_chunks
from parquet_producers_spark.storage import (
    encode_run,
    list_versions,
    manifest_path,
    read_chunks,
)

N = 1200


def _content_digest(df) -> str:
    rows = df.orderBy("repo", "path").collect()
    h = hashlib.sha256()
    for r in rows:
        h.update(r.repo.encode())
        h.update(r.path.encode())
        h.update(r.content.encode())
    return h.hexdigest()


def test_encode_run_resume_identical(spark, tmp_path):
    root = str(tmp_path)
    src = source_code_df(spark, N, seed=7, partitions=3).cache()

    res1 = encode_run(
        spark, src, root, "code", version=1,
        sort_cols=["repo", "path"], n_slices=3,
    )
    assert [r.skipped for r in res1] == [False, False, False]
    assert sum(r.metrics["rows"] for r in res1) == N
    digest1 = _content_digest(decode_chunks(read_chunks(spark, root, "code", 1)))

    # simulate a mid-run kill: delete slice 1's manifest AND output
    os.remove(manifest_path(root, "code", 1, 1))

    res2 = encode_run(
        spark, src, root, "code", version=1,
        sort_cols=["repo", "path"], n_slices=3,
    )
    assert [r.skipped for r in res2] == [True, False, True]
    digest2 = _content_digest(decode_chunks(read_chunks(spark, root, "code", 1)))
    assert digest1 == digest2  # exact resume: identical decoded bytes

    # decoded content matches source bit-identically
    assert digest1 == _content_digest(src)
    assert list_versions(root, "code") == [1]
    src.unpersist()


def test_manifest_contents(spark, tmp_path):
    root = str(tmp_path)
    src = source_code_df(spark, 300, seed=9, partitions=2)
    res = encode_run(
        spark, src, root, "code", version=2,
        sort_cols=["repo", "path"], n_slices=2, input_fingerprint="seed=9;n=300",
    )
    import json

    with open(manifest_path(root, "code", 2, 0)) as f:
        m = json.load(f)
    assert m["input"] == "seed=9;n=300"
    assert m["sort_cols"] == ["repo", "path"]
    assert m["metrics"]["enc_bytes"] > 0
    assert m["metrics"]["by_codec"]
    assert res[0].metrics["elapsed_s"] > 0


def test_encode_run_lets_aqe_size_the_range_exchange(spark, tmp_path,
                                                     monkeypatch):
    """Without partitions_per_slice the encode's range exchange carries
    no partition count (REPARTITION_BY_COL, which AQE may coalesce); an
    explicit count is kept exactly (REPARTITION_BY_NUM)."""
    from parquet_producers_spark import encoder

    encode_partitions = encoder.encode_partitions
    built = []

    def spy(*args, **kwargs):
        built.append(encode_partitions(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(encoder, "encode_partitions", spy)

    src = source_code_df(spark, 200, seed=9, partitions=2)
    encode_run(spark, src, str(tmp_path), "code", version=1,
               sort_cols=["repo", "path"], n_slices=2)
    auto = executed_plan(built[-1])
    assert "rangepartitioning" in auto and "REPARTITION_BY_COL" in auto
    assert "REPARTITION_BY_NUM" not in auto

    fixed = executed_plan(encode_partitions(
        src, sort_cols=["repo", "path"], partitions=6))
    assert "REPARTITION_BY_NUM" in fixed and ", 6)" in fixed


def test_resume_rebuilds_slices_of_another_input(spark, tmp_path):
    """A slice is resumed only when its manifest records this input: a
    second run at the same version over another input rebuilds every
    slice, including one the new input leaves empty, and decodes
    exactly the new input."""
    root = str(tmp_path)

    def run(ids, fingerprint):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in ids], "id int, v string").coalesce(1)
        return encode_run(spark, df, root, "code", version=1,
                          sort_cols=["id"], n_slices=4,
                          input_fingerprint=fingerprint)

    run(range(8), "tbl@s1")
    res = run([100, 101], "tbl@s2")
    assert not any(r.skipped for r in res)
    assert sum(r.metrics["rows"] for r in res) == 2
    assert any(r.metrics["rows"] == 0 for r in res)  # a slice left empty
    got = decode_chunks(read_chunks(spark, root, "code", 1)).collect()
    assert sorted((r.id, r.v) for r in got) == [(100, "v100"), (101, "v101")]
