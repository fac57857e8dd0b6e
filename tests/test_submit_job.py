"""End-to-end spark-submit --py-files run of the deployment entrypoint
(north_rule run mode): package the engine zip, submit
scripts/submit_encode.py against a real parquet input in a fresh JVM,
verify the metrics line, the encoded output, and manifest-based resume
on re-submit."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")


@pytest.mark.skipif(not shutil.which("java"), reason="needs a JVM")
def test_spark_submit_pyfiles_encode_and_resume(spark, tmp_path):
    # input: a small slice of the driver documents table
    src = str(tmp_path / "in")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang", "text").coalesce(2) \
        .write.mode("overwrite").parquet(src)

    subprocess.run([sys.executable, os.path.join(ROOT, "scripts",
                                                 "make_pyfiles.py")],
                   check=True, cwd=ROOT, capture_output=True)
    zip_path = os.path.join(ROOT, "dist", "parquet_producers_spark.zip")
    assert os.path.exists(zip_path)

    out_root = str(tmp_path / "enc")
    cmd = [
        _spark_submit(), "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=4",
        os.path.join(ROOT, "scripts", "submit_encode.py"),
        "--input", src, "--output", out_root, "--stage", "docs",
        "--sort-cols", "doc_id", "--slices", "2", "--profile", "size",
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                        env=env)
    assert r1.returncode == 0, r1.stderr[-3000:]
    m1 = json.loads([ln for ln in r1.stdout.splitlines()
                     if ln.startswith("{")][-1])
    assert m1["rows"] == 500 and m1["resumed_slices"] == 0
    assert 0 < m1["enc_bytes"] < m1["raw_bytes"]
    chunks_dir = os.path.join(out_root, "docs", "v=1", "chunks")
    assert os.path.isdir(chunks_dir)

    # re-submit the identical job: every slice resumes from its manifest
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                        env=env)
    assert r2.returncode == 0, r2.stderr[-3000:]
    m2 = json.loads([ln for ln in r2.stdout.splitlines()
                     if ln.startswith("{")][-1])
    assert m2["resumed_slices"] == 2 and m2["rows"] == m1["rows"]

    # maintenance leg: no --chunk-rows — geometry comes from the v=1
    # manifests (default 65536), against which the 500-row stage is
    # 100% runt chunks; but AQE encoded it as one chunk per slice, so no
    # runts can merge and the gate writes no v=2
    mcmd = [
        _spark_submit(), "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=4",
        os.path.join(ROOT, "scripts", "submit_encode.py"),
        "--output", out_root, "--stage", "docs", "--version", "1",
        "--maintain",
    ]
    r3 = subprocess.run(mcmd, capture_output=True, text=True, timeout=300,
                        env=env)
    assert r3.returncode == 0, r3.stderr[-3000:]
    m3 = json.loads([ln for ln in r3.stdout.splitlines()
                     if ln.startswith("{")][-1])
    assert m3["compacted"] == 0 and m3["read_version"] == 1
    assert not os.path.exists(os.path.join(out_root, "docs", "v=2"))


@pytest.mark.skipif(not shutil.which("java"), reason="needs a JVM")
def test_spark_submit_snapshot_wave(spark, tmp_path):
    """Deployment loop leg 3: submit --snapshot-table runs ONE
    incremental encode wave in a fresh JVM — first submit encodes the
    whole first snapshot, a re-submit with no new table commit is a
    zero-row no-op wave, and a commit + re-submit encodes only the
    delta."""
    from parquet_producers_spark.sources.snapshots import commit_snapshot

    t = str(tmp_path / "tbl")
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang", "text")
    commit_snapshot(spark, d.filter("doc_id < 400").coalesce(2), t)

    subprocess.run([sys.executable, os.path.join(ROOT, "scripts",
                                                 "make_pyfiles.py")],
                   check=True, cwd=ROOT, capture_output=True)
    zip_path = os.path.join(ROOT, "dist", "parquet_producers_spark.zip")
    out_root = str(tmp_path / "enc")
    cmd = [
        _spark_submit(), "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=4",
        os.path.join(ROOT, "scripts", "submit_encode.py"),
        "--snapshot-table", t, "--output", out_root, "--stage", "docs",
        "--sort-cols", "doc_id", "--slices", "2", "--profile", "size",
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)

    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                        env=env)
    assert r1.returncode == 0, r1.stderr[-3000:]
    m1 = json.loads([ln for ln in r1.stdout.splitlines()
                     if ln.startswith("{")][-1])
    assert m1["version"] == 1 and m1["rows"] == 400

    # no new commit → no-op wave
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                        env=env)
    m2 = json.loads([ln for ln in r2.stdout.splitlines()
                     if ln.startswith("{")][-1])
    assert m2["version"] == 1 and m2["rows"] == 0

    # append commit → next submit encodes ONLY the delta
    commit_snapshot(spark, d.filter("doc_id >= 400").coalesce(1), t,
                    mode="append")
    r3 = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                        env=env)
    m3 = json.loads([ln for ln in r3.stdout.splitlines()
                     if ln.startswith("{")][-1])
    assert m3["version"] == 2 and m3["rows"] == 100


@pytest.mark.skipif(not shutil.which("java"), reason="needs a JVM")
def test_spark_submit_consolidate_and_expire(spark, tmp_path):
    """Deployment loop legs 4+5 in fresh JVMs: --consolidate folds the
    ingested waves into one version; --expire-keep GCs old table
    snapshots and vacuums orphan data files."""
    import glob

    from parquet_producers_spark.sources.snapshots import (
        commit_snapshot,
        encode_table_incremental,
        list_snapshots,
    )

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang", "text")
    commit_snapshot(spark, d.filter("doc_id < 300").coalesce(1), t)
    encode_table_incremental(spark, t, enc, "docs", sort_cols=["doc_id"],
                             n_slices=2)
    commit_snapshot(spark, d.filter("doc_id >= 300").coalesce(1), t,
                    mode="append")
    encode_table_incremental(spark, t, enc, "docs", sort_cols=["doc_id"],
                             n_slices=2)

    subprocess.run([sys.executable, os.path.join(ROOT, "scripts",
                                                 "make_pyfiles.py")],
                   check=True, cwd=ROOT, capture_output=True)
    zip_path = os.path.join(ROOT, "dist", "parquet_producers_spark.zip")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)

    r = subprocess.run([
        _spark_submit(), "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=4",
        os.path.join(ROOT, "scripts", "submit_encode.py"),
        "--consolidate", "--output", enc, "--stage", "docs",
        "--sort-cols", "doc_id", "--slices", "2",
    ], capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    m = json.loads([ln for ln in r.stdout.splitlines()
                    if ln.startswith("{")][-1])
    assert m["consolidated"] == 1 and m["version"] == 3

    # a replace commit supersedes the append chain, so expiry actually
    # strands the old snapshots' data files (append keeps referencing
    # them; replace does not)
    commit_snapshot(spark, d.coalesce(1), t, mode="replace")
    # expire + vacuum: pure metadata leg (no session needed, but same
    # entrypoint) — plain python is enough since it never touches Spark
    r2 = subprocess.run([
        sys.executable, os.path.join(ROOT, "scripts", "submit_encode.py"),
        "--expire-keep", "1", "--snapshot-table", t,
        "--output", enc, "--stage", "docs",
    ], capture_output=True, text=True, timeout=120,
        env={**env, "PYTHONPATH": ROOT})
    assert r2.returncode == 0, r2.stderr[-2000:]
    m2 = json.loads([ln for ln in r2.stdout.splitlines()
                     if ln.startswith("{")][-1])
    assert m2["expired"] == [1, 2] and m2["orphans_deleted"] >= 2
    assert list_snapshots(t) == [3]
    # consolidated store still reads fine (it holds its own data)
    assert len(glob.glob(os.path.join(enc, "docs", "v=3", "chunks",
                                      "**", "*.parquet"),
                         recursive=True)) > 0
