"""Snapshot-manifest table layout (the Iceberg-shaped input layer):
atomic commits, manifest-driven scans, time travel, append vs replace,
and feeding the file list to the direct-scan encoder."""

from __future__ import annotations

import os

import pytest

from parquet_producers_spark.sources import snapshots
from parquet_producers_spark.sources.snapshots import (
    commit_snapshot,
    list_snapshots,
    read_snapshot,
    snapshot_files,
)


def test_append_replace_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    s1 = commit_snapshot(spark, df1, t)
    assert s1 == 1 and list_snapshots(t) == [1]
    assert sorted((r.id, r.v) for r in read_snapshot(spark, t).collect()) == [
        (1, "a"), (2, "b")]

    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    s2 = commit_snapshot(spark, df2, t, mode="append")
    assert s2 == 2
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [1, 2, 3]
    # time travel: snapshot 1 unchanged
    assert sorted(r.id for r in read_snapshot(spark, t, 1).collect()) == [1, 2]

    df3 = spark.createDataFrame([(9, "z")], "id int, v string")
    s3 = commit_snapshot(spark, df3, t, mode="replace")
    assert s3 == 3
    assert [r.id for r in read_snapshot(spark, t).collect()] == [9]
    # all history still readable
    assert sorted(r.id for r in read_snapshot(spark, t, 2).collect()) == [1, 2, 3]

    with pytest.raises(ValueError):
        read_snapshot(spark, t, 7)

    files = snapshot_files(t, 2)
    assert sum(f["rows"] or 0 for f in files) == 3
    assert all(f["path"].endswith(".parquet") for f in files)


def test_snapshot_feeds_direct_encoder(spark, tmp_path):
    """snapshot file list → encode_files (manifest-driven direct-scan
    encode, the north-rule input path)."""
    import hashlib

    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import decode_chunks, encode_files

    t = str(tmp_path / "code_tbl")
    src = (
        source_code_df(spark, 400, seed=13, partitions=2)
        .repartitionByRange(3, "repo", "path")
        .sortWithinPartitions("repo", "path")
    )
    commit_snapshot(spark, src, t)
    paths = [f["path"] for f in snapshot_files(t)]
    decoded = decode_chunks(encode_files(spark, paths, key_col="repo"))

    def digest(df):
        h = hashlib.sha256()
        for r in df.orderBy("repo", "path").collect():
            h.update((r.repo + r.path + r.content).encode())
        return h.hexdigest()

    assert digest(decoded) == digest(read_snapshot(spark, t))


def test_snapshot_diff_incremental_scan(spark, tmp_path):
    """snapshot_diff reads exactly the rows of files added between two
    snapshots (append mode) — the changed-data feed for incremental
    pipeline waves — and the full file set after a replace."""
    from parquet_producers_spark.sources.snapshots import (
        commit_snapshot,
        read_snapshot,
        snapshot_diff,
    )

    t = str(tmp_path / "tbl")
    s1 = commit_snapshot(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, v string").coalesce(1), t)
    s2 = commit_snapshot(spark, spark.createDataFrame(
        [(3, "c")], "id int, v string").coalesce(1), t, mode="append")
    got = sorted(tuple(r) for r in snapshot_diff(spark, t, s1, s2).collect())
    assert got == [(3, "c")]
    # latest default + self-diff is empty
    assert snapshot_diff(spark, t, s1).count() == 1
    assert snapshot_diff(spark, t, s2, s2).count() == 0
    # replace commit: every file is new relative to s2
    s3 = commit_snapshot(spark, spark.createDataFrame(
        [(9, "z")], "id int, v string").coalesce(1), t, mode="replace")
    assert [tuple(r) for r in snapshot_diff(spark, t, s2, s3).collect()] == [
        (9, "z")]
    assert sorted(tuple(r) for r in read_snapshot(spark, t, s3).collect()) \
        == [(9, "z")]


def test_snapshot_diff_drives_incremental_pipeline(spark, tmp_path):
    """End-to-end incremental ingestion: each new snapshot of the
    Iceberg-shaped source feeds ONLY its changed-data diff into a
    producer wave; after all waves, stage content must equal a full
    recompute over the latest snapshot (the reference's incremental ==
    non-incremental equivalence, README.md:146-166, driven from the
    snapshot source instead of hand-built update streams)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from parquet_producers_spark.operators.produce import Stage
    from parquet_producers_spark.plans.dag import Pipeline
    from parquet_producers_spark.sources.snapshots import (
        commit_snapshot,
        read_snapshot,
        snapshot_diff,
    )

    def split_words(key, pdf: pd.DataFrame) -> pd.DataFrame:
        words = []
        for t in pdf["text"]:
            words.extend(t.split(" "))
        return pd.DataFrame({"word": words,
                             "src": [int(key[0])] * len(words)})

    t = str(tmp_path / "src_tbl")
    p = Pipeline(spark, str(tmp_path / "dag"))
    p.add(Stage("words", ["doc_id"], ["word"], ["src"], split_words,
                "word string, src int"))

    s_prev = None
    batches = [
        [(1, "the quick fox"), (2, "lazy dog")],
        [(3, "quick brown dog")],
        [(4, "the end")],
    ]
    for rows in batches:
        s_new = commit_snapshot(
            spark,
            spark.createDataFrame(rows, "doc_id int, text string")
            .coalesce(1),
            t, mode="append")
        inc = (snapshot_diff(spark, t, s_prev, s_new) if s_prev
               else read_snapshot(spark, t, s_new))
        p.update({"words": inc.select(
            F.lit("Add").alias("type"), "doc_id", "text")})
        s_prev = s_new

    got = sorted(tuple(r) for r in
                 p.content("words", p.version("words")).collect())
    # full recompute over the latest snapshot
    full = read_snapshot(spark, t).toPandas()
    want = sorted(
        (w, int(r.doc_id), int(r.doc_id))
        for _, r in full.iterrows() for w in r.text.split(" "))
    assert got == want and len(want) == 10


def test_schema_evolution_additive_merge(spark, tmp_path):
    """Add-column evolution: a later append carries a new column; the
    merged scan unions schemas and nulls the pre-evolution rows, and
    time travel to the old snapshot still sees the old schema."""
    t = str(tmp_path / "tbl")
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    s1 = commit_snapshot(spark, old, t)
    new = spark.createDataFrame([(3, "c", 9.5)],
                                "id int, v string, score double")
    s2 = commit_snapshot(spark, new, t, mode="append")

    merged = read_snapshot(spark, t, s2, merge_schema=True)
    assert sorted(merged.columns) == ["id", "score", "v"]
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 9.5
    assert len(rows) == 3

    # time travel: the pre-evolution snapshot keeps its own schema
    assert sorted(read_snapshot(spark, t, s1).columns) == ["id", "v"]


def test_sharded_manifest_tree(spark, tmp_path, monkeypatch):
    """Past the shard threshold the file list lives as parquet manifest
    shards (files_dir pointer), not inline JSON — and every reader
    (read_snapshot / snapshot_files / snapshot_diff / append-over-
    sharded-parent) handles both forms."""
    import json

    from parquet_producers_spark.sources.snapshots import (
        _manifest_path,
        snapshot_diff,
    )

    monkeypatch.setattr(snapshots, "SHARD_THRESHOLD", 4)
    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(12)], "id int, v string").repartition(6)
    s1 = commit_snapshot(spark, df1, t)
    m1 = json.loads(open(_manifest_path(t, s1)).read())
    assert "files" not in m1 and m1["n_files"] == 6 and "files_dir" in m1
    assert sorted(r.id for r in read_snapshot(spark, t, s1).collect()) == \
        list(range(12))
    files = snapshot_files(t, s1)
    assert len(files) == 6 and sum(f["rows"] for f in files) == 12

    # append over a sharded parent; small child stays sharded (10 files)
    df2 = spark.createDataFrame([(99, "z")], "id int, v string").coalesce(1)
    s2 = commit_snapshot(spark, df2, t, mode="append")
    assert sorted(r.id for r in read_snapshot(spark, t, s2).collect()) == \
        list(range(12)) + [99]
    got = [tuple(r) for r in snapshot_diff(spark, t, s1, s2).collect()]
    assert got == [(99, "z")]
    # tiny replace drops back to the inline form
    s3 = commit_snapshot(spark, df2, t, mode="replace")
    m3 = json.loads(open(_manifest_path(t, s3)).read())
    assert "files" in m3 and m3["n_files"] == 1


def test_commit_files_10k_in_seconds(spark, tmp_path, monkeypatch):
    """add_files-style import of 10k existing parquet files: per-file
    rows populated from FOOTERS (distributed, O(files)), sharded
    manifest, seconds not minutes — the round-3 review's driver-side
    O(files^2) stats loop is gone."""
    import shutil
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_producers_spark.sources.snapshots import commit_files

    d = tmp_path / "ext"
    d.mkdir()
    proto = d / "f00000.parquet"
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), proto)
    paths = [str(proto)]
    for i in range(1, 10_000):
        p = d / f"f{i:05d}.parquet"
        shutil.copyfile(proto, p)
        paths.append(str(p))

    monkeypatch.setattr(snapshots, "SHARD_THRESHOLD", 2_000)
    t0 = _time.monotonic()
    sid = commit_files(spark, str(tmp_path / "tbl"), paths)
    elapsed = _time.monotonic() - t0
    files = snapshot_files(str(tmp_path / "tbl"), sid)
    assert len(files) == 10_000
    assert all(f["rows"] == 3 for f in files)
    assert elapsed < 60, f"10k-file commit took {elapsed:.1f}s"


def test_encode_snapshot_deployment_route(spark, tmp_path):
    """encode_snapshot = manifest file list → direct-scan encode with
    the deployment codec defaults; bit-identical round-trip, and the
    giant-file skew defense auto-arms from the manifest's per-file
    stats."""
    import hashlib

    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import encode_snapshot

    t = str(tmp_path / "tbl")
    src = (
        source_code_df(spark, 300, seed=21, partitions=2)
        .repartitionByRange(3, "repo", "path")
        .sortWithinPartitions("repo", "path")
    )
    commit_snapshot(spark, src, t)
    decoded = decode_chunks(encode_snapshot(spark, t, key_col="repo"))

    def digest(df):
        h = hashlib.sha256()
        for r in df.orderBy("repo", "path").collect():
            h.update((r.repo + r.path + r.content).encode())
        return h.hexdigest()

    assert digest(decoded) == digest(read_snapshot(spark, t))

    # skewed manifest (one file ≫ mean rows) arms split_row_groups:
    # the giant multi-row-group file becomes multiple work units
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_producers_spark.sources.snapshots import commit_files

    d = tmp_path / "skewdata"
    d.mkdir()
    giant = str(d / "giant.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(8000), pa.int64()),
                  "v": pa.array(["x" * 20] * 8000)}),
        giant, row_group_size=1000)
    small = str(d / "small.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(8000, 8010), pa.int64()),
                  "v": pa.array(["y" * 20] * 10)}),
        small)
    t2 = str(tmp_path / "skew")
    commit_files(spark, t2, [giant, small])
    units = (encode_snapshot(spark, t2, key_col="k", chunk_rows=512,
                             max_rows_per_task=2000)
             .select("part_id").distinct().count())
    assert units > 2  # 2 files, but the giant one split into several units


def test_expire_and_vacuum(spark, tmp_path, caplog):
    """expire_snapshots drops old manifests (metadata-only); vacuum
    then reclaims data files no live snapshot references — replace
    commits strand files, expiry makes them orphans, vacuum deletes
    them. Live snapshots' files survive; imported external files are
    never touched. The vacuum's INFO line counts what it saw and did."""
    import logging
    import os

    from parquet_producers_spark.sources.snapshots import (
        expire_snapshots,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    s1 = commit_snapshot(spark, spark.createDataFrame(
        [(1, "a")], "id int, v string").coalesce(1), t)
    s2 = commit_snapshot(spark, spark.createDataFrame(
        [(2, "b")], "id int, v string").coalesce(1), t, mode="append")
    s3 = commit_snapshot(spark, spark.createDataFrame(
        [(9, "z")], "id int, v string").coalesce(1), t, mode="replace")

    # nothing expired yet: all files referenced by SOME snapshot
    assert vacuum(t, dry_run=True) == []

    assert expire_snapshots(t, keep_last=1) == [s1, s2]
    assert list_snapshots(t) == [s3]
    orphans = vacuum(t, dry_run=True)
    assert len(orphans) == 2  # s1's and s2's data files
    assert all(os.path.exists(p) for p in orphans)  # dry run: untouched
    with caplog.at_level(logging.INFO, logger="parquet_producers_spark"):
        assert sorted(vacuum(t)) == sorted(orphans)
    assert ("3 data files listed, 1 live, 2 orphaned, 2 deleted; 2 data "
            "dirs and 0 delete dirs reclaimed") in caplog.text
    assert not any(os.path.exists(p) for p in orphans)
    # the live snapshot still reads
    assert [tuple(r) for r in read_snapshot(spark, t).collect()] == [(9, "z")]
    # time travel to expired ids is gone
    with pytest.raises((ValueError, FileNotFoundError)):
        read_snapshot(spark, t, s1)


def test_encode_table_incremental_waves(spark, tmp_path):
    """The north-rule composition end-to-end: snapshot commits feed
    incremental encode waves — each wave encodes ONLY the files added
    since the last encoded snapshot into a new chunk-store version
    (hash-sliced, manifest-checkpointed), and decoding the union of all
    waves equals the latest snapshot exactly."""
    import hashlib

    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
        read_encoded_table,
    )

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    full = source_code_df(spark, 500, seed=7, partitions=2).cache()
    first = full.filter("pmod(hash(path), 10) < 7")
    rest = full.subtract(first)

    commit_snapshot(spark, first.coalesce(2), t)
    w1 = encode_table_incremental(spark, t, enc, "code",
                                  sort_cols=["repo", "path"], n_slices=2)
    assert w1["version"] == 1 and w1["rows"] == first.count()

    commit_snapshot(spark, rest.coalesce(2), t, mode="append")
    w2 = encode_table_incremental(spark, t, enc, "code",
                                  sort_cols=["repo", "path"], n_slices=2)
    # the second wave encoded ONLY the delta
    assert w2["version"] == 2 and w2["rows"] == rest.count()
    assert w2["rows"] < first.count()

    # no-change wave: nothing encoded, mapping unchanged
    w3 = encode_table_incremental(spark, t, enc, "code",
                                  sort_cols=["repo", "path"], n_slices=2)
    assert w3["version"] == 2 and w3["rows"] == 0

    def digest(df):
        h = hashlib.sha256()
        for r in df.orderBy("repo", "path").collect():
            h.update((r.repo + r.path + r.commit + r.content).encode())
        return h.hexdigest()

    decoded = decode_chunks(read_encoded_table(spark, enc, "code"))
    assert digest(decoded) == digest(read_snapshot(spark, t))


def test_decode_encoded_table_with_many_slices(spark, tmp_path):
    """A wave with slice ids past 9 decodes every row: a chunk's
    identity (enc_version, slice_id, part_id, chunk_seq) is a decode
    group key only, never packed into one integer."""
    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
        read_encoded_table,
    )

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    src = source_code_df(spark, 300, seed=5, partitions=2)
    commit_snapshot(spark, src, t)
    encode_table_incremental(spark, t, enc, "code",
                             sort_cols=["repo", "path"], n_slices=12)
    chunks = read_encoded_table(spark, enc, "code")
    assert chunks.filter("slice_id >= 10").count() > 0
    got = decode_chunks(chunks).select("repo", "path", "content")
    want = read_snapshot(spark, t).select("repo", "path", "content")
    assert got.count() == 300
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_consolidate_encoded_waves(spark, tmp_path):
    """Major compaction across waves: two incremental encode waves fold
    into one globally re-sorted version; the snapshot map flips
    atomically, decode parity holds, and the consolidated store is a
    single version with full-size chunks."""
    import hashlib

    from pyspark.sql import functions as F

    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        consolidate_encoded_table,
        encode_table_incremental,
        read_encoded_table,
    )

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    full = source_code_df(spark, 400, seed=31, partitions=2).cache()
    first = full.filter("pmod(hash(path), 10) < 6")
    commit_snapshot(spark, first.coalesce(2), t)
    encode_table_incremental(spark, t, enc, "code",
                             sort_cols=["repo", "path"], n_slices=2)
    commit_snapshot(spark, full.subtract(first).coalesce(2), t,
                    mode="append")
    encode_table_incremental(spark, t, enc, "code",
                             sort_cols=["repo", "path"], n_slices=2)

    out = consolidate_encoded_table(spark, enc, "code",
                                    sort_cols=["repo", "path"], n_slices=2)
    assert out["consolidated"] == 1 and out["version"] == 3

    merged = read_encoded_table(spark, enc, "code")
    assert merged.select("enc_version").distinct().count() == 1

    def digest(df):
        h = hashlib.sha256()
        for r in df.orderBy("repo", "path").collect():
            h.update((r.repo + r.path + r.commit + r.content).encode())
        return h.hexdigest()

    assert digest(decode_chunks(merged)) == digest(read_snapshot(spark, t))
    # a second consolidate is a no-op (single wave)
    again = consolidate_encoded_table(spark, enc, "code",
                                      sort_cols=["repo", "path"])
    assert again["consolidated"] == 0 and again["version"] == 3


def test_incremental_wave_with_maintenance(spark, tmp_path):
    """maintain=True runs the runt-compaction policy gate inside the
    wave cadence: a runty delta wave is rewritten to version+1, the
    snapshot map points at the compacted version, and the next wave's
    version counter follows it. Decode parity holds throughout."""
    import hashlib

    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
        read_encoded_table,
    )

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    full = source_code_df(spark, 300, seed=61, partitions=2).cache()
    first = full.filter("pmod(hash(path), 10) < 7")

    # small chunk_rows + several partitions per slice → runt-heavy wave
    commit_snapshot(spark, first.coalesce(2), t)
    w1 = encode_table_incremental(
        spark, t, enc, "code", sort_cols=["repo", "path"], n_slices=2,
        chunk_rows=32, partitions_per_slice=4, maintain=True,
        min_runt_fraction=0.05)
    assert w1.get("compacted_from") == 1 and w1["version"] == 2

    commit_snapshot(spark, full.subtract(first).coalesce(2), t,
                    mode="append")
    w2 = encode_table_incremental(
        spark, t, enc, "code", sort_cols=["repo", "path"], n_slices=2,
        chunk_rows=32, partitions_per_slice=4, maintain=True,
        min_runt_fraction=0.05)
    assert w2["version"] > w1["version"]

    def digest(df):
        h = hashlib.sha256()
        for r in df.orderBy("repo", "path").collect():
            h.update((r.repo + r.path + r.commit + r.content).encode())
        return h.hexdigest()

    decoded = decode_chunks(read_encoded_table(spark, enc, "code"))
    assert digest(decoded) == digest(read_snapshot(spark, t))


def test_maintained_wave_with_one_chunk_per_slice_is_not_rewritten(
        spark, tmp_path):
    """A small wave encodes into one chunk per slice (AQE coalesces its
    range exchange), so its runts cannot merge: maintain=True must not
    write a v=N+1 that holds the same chunks."""
    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
    )
    from parquet_producers_spark.storage import list_versions, read_chunks

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    commit_snapshot(
        spark, source_code_df(spark, 200, seed=17, partitions=2), t)
    w = encode_table_incremental(
        spark, t, enc, "code", sort_cols=["repo", "path"], n_slices=2,
        maintain=True)
    assert w["version"] == 1 and "compacted_from" not in w
    assert list_versions(enc, "code") == [1]
    ids = read_chunks(spark, enc, "code", 1).select(
        "slice_id", "part_id", "chunk_seq").distinct()
    assert ids.count() == 2


def test_zero_row_first_wave_reader_contract(spark, tmp_path):
    """A zero-row FIRST wave still writes the snapshot map (with the
    covered marker), so read_encoded_table returns a typed empty frame
    instead of raising — and the next, non-empty wave encodes only the
    delta from the covered snapshot."""
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
        read_encoded_table,
    )

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    commit_snapshot(spark, spark.createDataFrame([], "id int, v string"), t)
    w = encode_table_incremental(spark, t, enc, "code",
                                 sort_cols=["id"], n_slices=2)
    assert w["rows"] == 0 and w["version"] == 0
    empty = read_encoded_table(spark, enc, "code")
    assert empty.count() == 0
    assert "part_id" in empty.columns and "data" in empty.columns

    commit_snapshot(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")],
                              "id int, v string").coalesce(1),
        t, mode="append")
    w2 = encode_table_incremental(spark, t, enc, "code",
                                  sort_cols=["id"], n_slices=2)
    assert w2["version"] == 1 and w2["rows"] == 2
    decoded = decode_chunks(read_encoded_table(spark, enc, "code"))
    assert sorted((r.id, r.v) for r in decoded.collect()) == [
        (1, "a"), (2, "b")]


def test_encoded_version_gc(spark, tmp_path):
    """expire_encoded_versions reclaims the version dirs consolidation
    strands, never touches referenced versions or anything newer than
    the fence (an in-flight wave), and readers are unaffected."""
    import os

    from parquet_producers_spark.datagen import source_code_df
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        consolidate_encoded_table,
        encode_table_incremental,
        expire_encoded_versions,
        read_encoded_table,
    )
    from parquet_producers_spark.storage import list_versions, stage_dir

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    full = source_code_df(spark, 300, seed=11, partitions=2).cache()
    first = full.filter("pmod(hash(path), 10) < 6")
    commit_snapshot(spark, first.coalesce(2), t)
    encode_table_incremental(spark, t, enc, "code",
                             sort_cols=["repo", "path"], n_slices=2)
    commit_snapshot(spark, full.subtract(first).coalesce(2), t,
                    mode="append")
    encode_table_incremental(spark, t, enc, "code",
                             sort_cols=["repo", "path"], n_slices=2)
    consolidate_encoded_table(spark, enc, "code",
                              sort_cols=["repo", "path"], n_slices=2)
    assert list_versions(enc, "code") == [1, 2, 3]

    # an in-flight version NEWER than the newest referenced one (its
    # writer hasn't committed a map entry yet) must survive the GC
    os.makedirs(os.path.join(stage_dir(enc, "code", 4), "_manifest"))

    assert expire_encoded_versions(enc, "code", dry_run=True) == [1, 2]
    assert list_versions(enc, "code") == [1, 2, 3, 4]  # dry run: untouched
    assert expire_encoded_versions(enc, "code") == [1, 2]
    assert list_versions(enc, "code") == [3, 4]
    # readers see exactly the table through the consolidated version
    n = full.count()
    decoded = decode_chunks(read_encoded_table(spark, enc, "code"))
    assert decoded.count() == n
    # idempotent: nothing left to reclaim
    assert expire_encoded_versions(enc, "code") == []


def test_vacuum_normalization_and_refusal(spark, tmp_path):
    """vacuum compares table-relative suffixes — a differently
    normalized table_dir (trailing slash, ./ component) cannot make
    live files look orphaned — and refuses to delete when EVERY listed
    file appears orphaned while live snapshots reference files."""
    import json
    import os

    import pytest as _pytest

    from parquet_producers_spark.sources.snapshots import vacuum

    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark,
        spark.createDataFrame([(1, "a")], "id int, v string").coalesce(1),
        t)
    assert vacuum(t, dry_run=True) == []
    assert vacuum(t + "/", dry_run=True) == []
    assert vacuum(str(tmp_path) + "/./tbl", dry_run=True) == []

    # corrupt the manifest so it references names that don't exist on
    # disk: all listed files now look orphaned → the GC must refuse
    mpath = os.path.join(t, "_snapshots", "s=000001.json")
    with open(mpath) as f:
        m = json.load(f)
    m["files"] = [{"path": fi["path"] + ".moved", "rows": fi["rows"]}
                  for fi in m["files"]]
    with open(mpath, "w") as f:
        json.dump(m, f)
    with _pytest.raises(RuntimeError):
        vacuum(t)
    assert len(vacuum(t, dry_run=True)) == 1  # dry run still reports
    assert len(vacuum(t, force=True)) == 1    # explicit override wipes


def test_manifest_tree_diff_100k(spark, tmp_path, monkeypatch):
    """snapshot_diff plans a 100k→150k manifest-tree diff as a driver
    set difference over the two manifests' shard-read file lists, and
    stays time-bounded."""
    import time

    from parquet_producers_spark.filestore import LocalStore
    from parquet_producers_spark.sources.snapshots import (
        _added_paths,
        _read_manifest,
        _write_manifest,
    )

    monkeypatch.setattr(snapshots, "SHARD_THRESHOLD", 10_000)
    t = str(tmp_path / "tbl")
    store = LocalStore()
    files1 = [{"path": f"{t}/data/s=000001/part-{i:06d}.parquet",
               "rows": 10} for i in range(100_000)]
    _write_manifest(spark, t, 1, None, "append", "id int", files1, store)
    files2 = files1 + [{"path": f"{t}/data/s=000002/part-{i:06d}.parquet",
                        "rows": 10} for i in range(50_000)]
    _write_manifest(spark, t, 2, 1, "append", "id int", files2, store)
    t0 = time.monotonic()
    m1, m2 = _read_manifest(t, 1, store), _read_manifest(t, 2, store)
    assert "files_dir" in m1 and "files_dir" in m2
    new = _added_paths(m1, m2, store)
    elapsed = time.monotonic() - t0
    assert len(new) == 50_000
    assert all("/s=000002/" in p for p in new)
    assert elapsed < 60


def test_sharded_manifest_tolerates_null_rows(spark, tmp_path, monkeypatch):
    """Legacy manifests carry rows:null; the sharded read-back path
    must surface None (not raise), and stat consumers treat it as
    unknown."""
    from parquet_producers_spark.filestore import LocalStore
    from parquet_producers_spark.sources.snapshots import _write_manifest

    monkeypatch.setattr(snapshots, "SHARD_THRESHOLD", 10)  # sharded form
    t = str(tmp_path / "tbl")
    store = LocalStore()
    files = [{"path": f"{t}/data/s=000001/p{i:03d}.parquet",
              "rows": None if i % 2 else i} for i in range(40)]
    _write_manifest(spark, t, 1, None, "append", "id int", files, store)
    got = snapshot_files(t, 1)
    assert len(got) == 40
    by_path = {f["path"]: f["rows"] for f in got}
    assert by_path[f"{t}/data/s=000001/p001.parquet"] is None
    assert by_path[f"{t}/data/s=000001/p002.parquet"] == 2


def test_row_level_deletes_merge_on_read(spark, tmp_path):
    """Equality-delete commits (Iceberg v2 shape): deletes are metadata
    + a small key file, applied merge-on-read with sequence scoping —
    files added AFTER a delete are untouched, so re-inserted keys
    reappear; time travel still sees pre-delete rows; rewrite_deletes
    materializes the view and clears the delete list; vacuum reclaims
    delete files once no live snapshot references them."""
    from parquet_producers_spark.sources.snapshots import (
        commit_deletes,
        expire_snapshots,
        rewrite_deletes,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 11)], "id int, v string")
    s1 = commit_snapshot(spark, base.coalesce(2), t)

    s2 = commit_deletes(
        spark, t, spark.createDataFrame([(i,) for i in (2, 4, 6, 8, 10)],
                                        "id int"), ["id"])
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == \
        [1, 3, 5, 7, 9]
    # time travel: the pre-delete snapshot still has every row
    assert read_snapshot(spark, t, s1).count() == 10

    # re-insert a deleted key + a new one: the delete's seq doesn't
    # cover files added after it
    commit_snapshot(spark, spark.createDataFrame(
        [(2, "back"), (12, "new")], "id int, v string").coalesce(1),
        t, mode="append")
    cur = {(r.id, r.v) for r in read_snapshot(spark, t).collect()}
    assert (2, "back") in cur and (12, "new") in cur
    assert {r for r in cur if r[0] in (4, 6, 8, 10)} == set()
    assert len(cur) == 7

    # a second delete applies to everything added so far
    commit_deletes(spark, t, spark.createDataFrame([(1,), (12,)],
                                                   "id int"), ["id"])
    ids = sorted(r.id for r in read_snapshot(spark, t).collect())
    assert ids == [2, 3, 5, 7, 9]

    # rewrite: materialized replace — same rows, no delete files
    rewrite_deletes(spark, t)
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == ids
    import json
    import os

    snaps = sorted(os.listdir(os.path.join(t, "_snapshots")))
    with open(os.path.join(t, "_snapshots", snaps[-1])) as f:
        head = json.load(f)
    assert head["mode"] == "replace" and "deletes" not in head

    # GC: once older snapshots expire, the delete files are orphans
    expire_snapshots(t, keep_last=1)
    orphans = vacuum(t)
    assert any("/deletes/" in p for p in orphans)
    assert not os.path.isdir(os.path.join(t, "deletes", f"s={s2:06d}"))
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == ids


def test_deletes_survive_sharded_manifest(spark, tmp_path, monkeypatch):
    """The `added` sequence column round-trips through the sharded
    manifest tree, so delete scoping works past the shard threshold."""
    from parquet_producers_spark.sources.snapshots import commit_deletes

    monkeypatch.setattr(snapshots, "SHARD_THRESHOLD", 4)
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id int, v string")
    commit_snapshot(spark, base.repartition(6), t)
    commit_deletes(spark, t, spark.createDataFrame(
        [(i,) for i in range(10)], "id int"), ["id"])
    commit_snapshot(spark, spark.createDataFrame(
        [(3, "back")], "id int, v string").coalesce(1), t, mode="append")
    got = sorted((r.id, r.v) for r in read_snapshot(spark, t).collect())
    assert (3, "back") in got
    assert [g for g in got if g[0] < 10] == [(3, "back")]
    assert len(got) == 11


def test_upsert_commit_atomic_merge(spark, tmp_path):
    """commit_upsert is ONE snapshot doing delete-by-key + append:
    updated keys carry the new values, fresh keys insert, untouched
    rows survive, time travel sees the pre-merge state, and a second
    upsert over an upserted key takes the newest value."""
    from parquet_producers_spark.sources.snapshots import commit_upsert

    t = str(tmp_path / "tbl")
    s1 = commit_snapshot(spark, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, v string").coalesce(1), t)
    s2 = commit_upsert(spark, t, spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id int, v string").coalesce(1), t_keys := ["id"])
    assert s2 == s1 + 1
    got = sorted((r.id, r.v) for r in read_snapshot(spark, t).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # time travel: pre-merge state intact
    assert sorted((r.id, r.v) for r in read_snapshot(spark, t, s1).collect()) \
        == [(1, "a"), (2, "b"), (3, "c")]
    # upsert-over-upsert: latest sequence wins
    commit_upsert(spark, t, spark.createDataFrame(
        [(2, "B3")], "id int, v string").coalesce(1), t_keys)
    got = sorted((r.id, r.v) for r in read_snapshot(spark, t).collect())
    assert got == [(1, "a"), (2, "B3"), (3, "c"), (4, "d")]
    # an upsert into an empty table is a plain first commit
    t2 = str(tmp_path / "tbl2")
    commit_upsert(spark, t2, spark.createDataFrame(
        [(9, "z")], "id int, v string").coalesce(1), ["id"])
    assert [(r.id, r.v) for r in read_snapshot(spark, t2).collect()] \
        == [(9, "z")]


def test_incremental_wave_rebases_on_non_append_history(spark, tmp_path):
    """Encode waves are file-identity appends, so non-append history
    (live delete entries, replace commits incl. rewrite_deletes) must
    REBASE: the wave re-encodes the current merge-on-read view whole
    and atomically replaces the wave list — the decoded store tracks
    the table through deletes, and the superseded version becomes GC
    fodder."""
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        commit_deletes,
        encode_table_incremental,
        expire_encoded_versions,
        read_encoded_table,
    )
    from parquet_producers_spark.storage import list_versions

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    commit_snapshot(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "id int, v string").coalesce(1), t)
    encode_table_incremental(spark, t, enc, "code", sort_cols=["id"],
                             n_slices=2)
    commit_deletes(spark, t, spark.createDataFrame(
        [(0,), (1,)], "id int"), ["id"])
    w = encode_table_incremental(spark, t, enc, "code", sort_cols=["id"],
                                 n_slices=2)
    assert w["rebased_from"] == [1] and w["version"] == 2
    decoded = decode_chunks(read_encoded_table(spark, enc, "code"))
    assert sorted(r.id for r in decoded.collect()) == list(range(2, 8))
    # the pre-rebase version is unreferenced and older than the fence
    assert expire_encoded_versions(enc, "code") == [1]
    assert list_versions(enc, "code") == [2]
    # appends after a rebase go back to cheap delta waves
    commit_snapshot(spark, spark.createDataFrame(
        [(100, "x")], "id int, v string").coalesce(1), t, mode="append")
    w2 = encode_table_incremental(spark, t, enc, "code", sort_cols=["id"],
                                  n_slices=2)
    assert w2["version"] == 3 and "rebased_from" not in w2
    decoded = decode_chunks(read_encoded_table(spark, enc, "code"))
    assert sorted(r.id for r in decoded.collect()) == \
        list(range(2, 8)) + [100]


def test_file_skipping_from_manifest_stats(spark, tmp_path, caplog):
    """Per-file column min/max captured from parquet FOOTERS at commit
    (stats_cols) lets reads prune whole files from the manifest alone —
    zero data reads for planning; pruning is never a correctness
    filter (exact predicate still applied; files without stats are
    kept, and the plan's INFO line counts them)."""
    import logging

    from parquet_producers_spark.sources.snapshots import (
        read_snapshot_where,
        snapshot_files_pruned,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(1000)],
        "id int, v string, g int")
    commit_snapshot(
        spark,
        df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        t, stats_cols=["id"])

    files = snapshot_files(t)
    assert all("stats" in f and "id" in f["stats"] for f in files)

    pruned = snapshot_files_pruned(t, "id", lo=100, hi=299)
    assert 0 < len(pruned) < len(files)

    got = read_snapshot_where(spark, t, "id", lo=100, hi=299)
    assert sorted(r.id for r in got.collect()) == list(range(100, 300))

    # open ranges and a no-stats column: never lose rows
    assert read_snapshot_where(spark, t, "id", lo=990).count() == 10
    with caplog.at_level(logging.INFO, logger="parquet_producers_spark"):
        assert read_snapshot_where(spark, t, "g", lo=1, hi=1).count() == \
            df.filter("g = 1").count()
    assert "kept 8/8 files, 8 of them without stats on g" in caplog.text


def test_file_skipping_sharded_manifest(spark, tmp_path, monkeypatch):
    """Stats survive the sharded manifest tree, so file skipping holds
    at manifest-tree scale: the shards read back to the same file list
    the inline form holds, and the same filter prunes it."""
    from parquet_producers_spark.sources.snapshots import (
        read_snapshot_where,
        snapshot_files_pruned,
    )

    monkeypatch.setattr(snapshots, "SHARD_THRESHOLD", 4)
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(400)], "id int, v string")
    commit_snapshot(
        spark, df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        t, stats_cols=["id"])

    pruned = snapshot_files_pruned(t, "id", lo=0, hi=49)
    assert 0 < len(pruned) < 8
    got = read_snapshot_where(spark, t, "id", lo=0, hi=49)
    assert got.count() == 50

    # string zone maps prune under the column's own type
    t2 = str(tmp_path / "tbl2")
    commit_snapshot(
        spark,
        spark.createDataFrame(
            [(f"k{i:04d}", i) for i in range(400)], "k string, n int")
        .repartitionByRange(8, "k").sortWithinPartitions("k"),
        t2, stats_cols=["k"])
    got = read_snapshot_where(spark, t2, "k", lo="k0100", hi="k0199")
    assert got.count() == 100


def test_expired_manifest_link_triggers_rebase(spark, tmp_path):
    """expire_snapshots can delete the manifest of the encode store's
    covered snapshot; the incremental wave must treat the missing
    manifest as 'cannot prove append-only' and REBASE (per its
    documented contract) instead of raising FileNotFoundError."""
    import hashlib

    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
        expire_snapshots,
        read_encoded_table,
    )

    t = str(tmp_path / "tbl")
    enc = str(tmp_path / "enc")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(60)], "id int, v string")
    commit_snapshot(spark, df.filter("id < 20").coalesce(1), t)
    w1 = encode_table_incremental(spark, t, enc, "code",
                                  sort_cols=["id"], n_slices=1)
    assert w1["version"] == 1
    # two more commits, then expire everything but the latest — the
    # chain from latest back to the covered snapshot is now broken
    commit_snapshot(spark, df.filter("id >= 20 and id < 40").coalesce(1),
                    t, mode="append")
    commit_snapshot(spark, df.filter("id >= 40").coalesce(1),
                    t, mode="append")
    expire_snapshots(t, keep_last=1)

    w2 = encode_table_incremental(spark, t, enc, "code",
                                  sort_cols=["id"], n_slices=1)
    assert w2["rows"] == 60  # rebase = full current view, one wave

    def digest(frame):
        h = hashlib.sha256()
        for r in frame.orderBy("id").collect():
            h.update(f"{r.id}:{r.v};".encode())
        return h.hexdigest()

    decoded = decode_chunks(read_encoded_table(spark, enc, "code"))
    assert digest(decoded) == digest(read_snapshot(spark, t))


def _ids(spark, enc):
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import read_encoded_table

    return sorted(r.id for r in decode_chunks(
        read_encoded_table(spark, enc, "code")).collect())


def _wave(spark, t, enc):
    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
    )

    return encode_table_incremental(spark, t, enc, "code",
                                    sort_cols=["id"], n_slices=2)


def _rows(spark, ids):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id int, v string").coalesce(1)


def test_append_after_replace_to_zero_rows_takes_a_new_version(
        spark, tmp_path):
    """A replace down to zero rows leaves the store no live wave; the
    next append must encode under a version never committed before,
    not resume the pre-replace version's slices."""
    from parquet_producers_spark.sources.snapshots import (
        expire_encoded_versions,
    )

    t, enc = str(tmp_path / "tbl"), str(tmp_path / "enc")
    commit_snapshot(spark, _rows(spark, range(8)), t)
    assert _wave(spark, t, enc)["version"] == 1
    commit_snapshot(spark, _rows(spark, []), t, mode="replace")
    assert _wave(spark, t, enc) == {"version": 0, "snapshot": 2, "rows": 0}
    commit_snapshot(spark, _rows(spark, [100, 101]), t, mode="append")
    w = _wave(spark, t, enc)
    assert w["version"] == 2 and w["rows"] == 2
    assert _ids(spark, enc) == [100, 101]
    # the pre-replace version is below the high-water mark: reclaimed
    assert expire_encoded_versions(enc, "code") == [1]


def test_replace_relisting_covered_files_encodes_only_new_rows(
        spark, tmp_path):
    """A replace that lists every covered file plus a new one is an
    append in content: the wave encodes the new file's rows only."""
    from parquet_producers_spark.sources.snapshots import commit_files

    t, enc = str(tmp_path / "tbl"), str(tmp_path / "enc")
    commit_snapshot(spark, _rows(spark, range(10)), t)
    _wave(spark, t, enc)
    extra = str(tmp_path / "extra")
    _rows(spark, range(10, 15)).write.parquet(extra)
    paths = [f["path"] for f in snapshot_files(t)] + [
        os.path.join(extra, n) for n in os.listdir(extra)
        if n.endswith(".parquet")]
    commit_files(spark, t, paths, mode="replace")
    w = _wave(spark, t, enc)
    assert w["rows"] == 5 and w["version"] == 2 and "rebased_from" not in w
    assert _ids(spark, enc) == list(range(15))


def test_replace_dropping_delete_entries_rebases(spark, tmp_path):
    """A replace that keeps every file but drops the covered snapshot's
    delete entries brings deleted rows back: the wave must rebase, and
    the store must decode to the table."""
    from parquet_producers_spark.sources.snapshots import (
        commit_deletes,
        commit_files,
    )

    t, enc = str(tmp_path / "tbl"), str(tmp_path / "enc")
    commit_snapshot(spark, _rows(spark, range(8)), t)
    commit_deletes(spark, t, spark.createDataFrame([(0,), (1,)], "id int"),
                   ["id"])
    assert _wave(spark, t, enc)["rows"] == 6
    commit_files(spark, t, [f["path"] for f in snapshot_files(t)],
                 mode="replace")
    w = _wave(spark, t, enc)
    assert w["rebased_from"] == [1] and w["rows"] == 8
    assert _ids(spark, enc) == sorted(
        r.id for r in read_snapshot(spark, t).collect())


def test_consolidate_without_live_waves_is_a_no_op(spark, tmp_path):
    """A store with no map, or whose only wave was zero-row, has no
    wave to fold: consolidation answers its no-op, like the reader."""
    from parquet_producers_spark.sources.snapshots import (
        consolidate_encoded_table,
    )

    t, enc = str(tmp_path / "tbl"), str(tmp_path / "enc")
    assert consolidate_encoded_table(spark, enc, "code", sort_cols=["id"]) \
        == {"version": 0, "snapshot": None, "consolidated": 0}
    commit_snapshot(spark, _rows(spark, []), t)
    _wave(spark, t, enc)
    assert consolidate_encoded_table(spark, enc, "code", sort_cols=["id"]) \
        == {"version": 0, "snapshot": 1, "consolidated": 0}


def test_stream_table_snapshot_map_mix_refused(spark, tmp_path):
    """A stream-filled stage records BATCH ORDINALS in its snapshot
    map; pointing encode_table_incremental at it would read an ordinal
    as a table snapshot id and plan a garbage diff — the wave must
    refuse. Symmetrically, streaming into a table-maintained stage must
    refuse before corrupting the diff baseline."""
    import os

    from parquet_producers_spark.sources.snapshots import (
        encode_table_incremental,
    )
    from parquet_producers_spark.streaming.incremental import (
        stream_into_encoded_store,
    )

    in_dir = str(tmp_path / "in")
    enc = str(tmp_path / "enc")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [(i, f"w{i}") for i in range(30)], "doc_id int, text string") \
        .coalesce(1).write.mode("overwrite").parquet(in_dir + "/f1")
    stream = spark.readStream.schema("doc_id int, text string") \
        .parquet(in_dir + "/*")
    q = stream_into_encoded_store(
        stream, enc, "docs", sort_cols=["doc_id"],
        checkpoint=str(tmp_path / "ckpt"), n_slices=1, chunk_rows=16)
    q.awaitTermination(120)

    t = str(tmp_path / "tbl")
    commit_snapshot(spark, spark.createDataFrame(
        [(1, "x")], "doc_id int, text string"), t)
    with pytest.raises(ValueError, match="stream-sourced"):
        encode_table_incremental(spark, t, enc, "docs",
                                 sort_cols=["doc_id"], n_slices=1)

    # reverse direction: table-maintained stage refuses a stream
    enc2 = str(tmp_path / "enc2")
    encode_table_incremental(spark, t, enc2, "docs",
                             sort_cols=["doc_id"], n_slices=1)
    stream2 = spark.readStream.schema("doc_id int, text string") \
        .parquet(in_dir + "/*")
    q2 = stream_into_encoded_store(
        stream2, enc2, "docs", sort_cols=["doc_id"],
        checkpoint=str(tmp_path / "ckpt2"), n_slices=1, chunk_rows=16)
    with pytest.raises(Exception, match="table-sourced"):
        q2.awaitTermination(120)


def test_stats_overlap_mixed_types_keep_not_raise(spark, tmp_path):
    """File skipping with bounds of a DIFFERENT type than the stored
    stats must degrade to not-pruning (keep the file), never raise:
    int bounds against string stats coerce under the bound's type when
    possible and keep the file when not."""
    from parquet_producers_spark.sources.snapshots import (
        _stats_overlap,
        read_snapshot_where,
        snapshot_files_pruned,
    )

    # unit: numeric-string stats coerce under an int bound
    assert _stats_overlap({"c": {"min": "100", "max": "200"}},
                          "c", 150, 300)
    assert not _stats_overlap({"c": {"min": "100", "max": "200"}},
                              "c", 500, None)
    # unit: non-numeric string stats against int bounds → KEEP
    assert _stats_overlap({"c": {"min": "abc", "max": "xyz"}},
                          "c", 100, 200)
    # unit: int stats against a string bound compare as strings
    assert _stats_overlap({"c": {"min": 5, "max": 9}}, "c", "5", "9")

    # integration: string-typed column committed with stats, pruned
    # with int bounds — wrong-typed bounds must return every matching
    # row (files kept), not raise
    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark,
        spark.createDataFrame(
            [(f"{i:04d}", i) for i in range(200)], "k string, n int")
        .repartitionByRange(4, "k").sortWithinPartitions("k"),
        t, stats_cols=["k"])
    kept = snapshot_files_pruned(t, "k", lo=100, hi=199)
    assert len(kept) >= 1  # never raises; lexicographic "0100" keeps some
    got = read_snapshot_where(spark, t, "k", lo="0100", hi="0199")
    assert got.count() == 100


def test_upsert_and_rewrite_preserve_stats_cols(spark, tmp_path):
    """stats_cols is the table's persisted pruning contract: files
    written by a MERGE upsert (no stats_cols argument) and by the
    rewrite_deletes replace must still carry per-file min/max, so file
    skipping never silently degrades after maintenance."""
    from parquet_producers_spark.sources.snapshots import (
        commit_upsert,
        read_snapshot_where,
        rewrite_deletes,
        snapshot_files_pruned,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(
        spark,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(400)], "id int, v string")
        .repartitionByRange(4, "id").sortWithinPartitions("id"),
        t, stats_cols=["id"])

    # MERGE without re-passing stats_cols: new files still get stats
    commit_upsert(
        spark, t,
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(350, 450)], "id int, v string")
        .repartitionByRange(2, "id").sortWithinPartitions("id"),
        key_cols=["id"])
    files = snapshot_files(t)
    assert all(f.get("stats", {}).get("id") for f in files)
    pruned = snapshot_files_pruned(t, "id", lo=420, hi=449)
    assert 0 < len(pruned) < len(files)
    assert read_snapshot_where(spark, t, "id", lo=420, hi=449) \
        .count() == 30

    # rewrite_deletes' replace commit inherits the contract too
    rewrite_deletes(spark, t)
    files2 = snapshot_files(t)
    assert all(f.get("stats", {}).get("id") for f in files2)
    pruned2 = snapshot_files_pruned(t, "id", lo=0, hi=49)
    assert 0 < len(pruned2) < len(files2)
    got = read_snapshot_where(spark, t, "id", lo=440, hi=449)
    assert sorted(r.v for r in got.collect()) == \
        sorted(f"u{i}" for i in range(440, 450))


def test_vacuum_reclaims_empty_dirs_without_new_orphans(spark, tmp_path):
    """ADVICE r6 #4: a version dir whose files are already gone (e.g. a
    partial prior vacuum died between file and dir deletes) must still
    be reclaimed by the next vacuum even when that run finds ZERO new
    orphan files — the old code gated dir deletes on the orphan list."""
    import os

    from parquet_producers_spark.sources.snapshots import (
        expire_snapshots,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(spark, spark.createDataFrame(
        [(1, "a")], "id int, v string").coalesce(1), t)
    s2 = commit_snapshot(spark, spark.createDataFrame(
        [(9, "z")], "id int, v string").coalesce(1), t, mode="replace")
    expire_snapshots(t, keep_last=1)
    orphans = vacuum(t, dry_run=True)
    assert orphans
    # simulate the partial prior vacuum: files deleted, dir left behind
    stranded = {os.path.dirname(p) for p in orphans}
    for p in orphans:
        os.remove(p)
    assert all(os.path.isdir(d) for d in stranded)
    # this run sees no orphan FILES, but must still reclaim the dirs
    assert vacuum(t) == []
    assert not any(os.path.exists(d) for d in stranded)
    # live snapshot untouched
    assert [tuple(r) for r in read_snapshot(spark, t).collect()] == [(9, "z")]
    assert list_snapshots(t) == [s2]


def test_vacuum_spares_in_flight_commit_dir(spark, tmp_path):
    """A data dir past the newest committed snapshot is a commit still
    writing — only _temporary/ so far, or finished files whose manifest
    is not written yet. vacuum must leave it alone, while an old orphan
    dir is still reclaimed."""
    import os

    from parquet_producers_spark.sources.snapshots import (
        expire_snapshots,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(spark, spark.createDataFrame(
        [(1, "a")], "id int, v string").coalesce(1), t)
    s2 = commit_snapshot(spark, spark.createDataFrame(
        [(9, "z")], "id int, v string").coalesce(1), t, mode="replace")
    expire_snapshots(t, keep_last=1)
    old_dir = os.path.join(t, "data", "s=000001")
    inflight = os.path.join(t, "data", f"s={s2 + 1:06d}")
    planted = [os.path.join(inflight, "_temporary", "0", "x.parquet"),
               os.path.join(inflight, "part-0.parquet")]
    for p in planted:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "wb").close()

    orphans = vacuum(t)
    assert orphans and all(p.startswith(old_dir) for p in orphans)
    assert not os.path.exists(old_dir)
    assert all(os.path.exists(p) for p in planted)
    assert [tuple(r) for r in read_snapshot(spark, t).collect()] \
        == [(9, "z")]


def test_manifest_forms_answer_alike(spark, tmp_path, monkeypatch):
    """One table history — append with stats on an int, a double and a
    string column, upsert, delete, append, replace, expire — run with
    inline manifests and again with sharded ones gives the same scans,
    diffs, pruning plans, pruned reads and vacuum orphans: one reader
    serves both forms. The double column is the leg a separate pruning
    path over the shards got wrong (it compared the zone strings as
    bigint). After the replace and expire, the orphans are exactly the
    pre-replace data files plus the upsert's and the delete's key dirs,
    and vacuum deletes just those."""
    import json
    import os

    from parquet_producers_spark.sources.snapshots import (
        _manifest_path,
        commit_deletes,
        commit_upsert,
        expire_snapshots,
        read_snapshot_where,
        snapshot_diff,
        snapshot_files_pruned,
        vacuum,
    )

    ranges = {"id": (100, 149), "x": (2.5, 3.0), "k": ("k0200", "k0249")}
    schema = "id int, x double, k string"

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def entries(files):
        # a plan by content: part file names carry a per-write UUID
        return sorted((f["rows"], f["added"],
                       json.dumps(f.get("stats"), sort_keys=True))
                      for f in files)

    def dirs(paths):
        return sorted(p.rstrip("/").split("/")[-2] for p in paths)

    def table(ids):
        return spark.createDataFrame(
            [(i, i / 7 + 0.3, f"k{i:04d}") for i in ids], schema)

    def history(t):
        out = {}
        s1 = commit_snapshot(
            spark, table(range(300)).repartitionByRange(6, "id")
            .sortWithinPartitions("id"), t, stats_cols=list(ranges))
        with open(_manifest_path(t, s1)) as f:
            out["sharded"] = "files_dir" in json.load(f)
        commit_upsert(spark, t, spark.createDataFrame(
            [(i, -1.0, f"u{i:04d}") for i in range(140, 160)], schema)
            .coalesce(1), ["id"])
        commit_deletes(spark, t, spark.createDataFrame(
            [(i,) for i in range(0, 300, 5)], "id int"), ["id"])
        commit_snapshot(spark, table(range(300, 340)).coalesce(1), t)
        pre_replace = snapshot_files(t)
        commit_snapshot(
            spark, table(range(0, 400, 2)).repartitionByRange(6, "id")
            .sortWithinPartitions("id"), t, mode="replace")
        snaps = list_snapshots(t)
        for s in snaps:
            out["read", s] = rows(read_snapshot(spark, t, s))
        for a, b in zip(snaps, snaps[1:]):
            out["diff", b] = rows(snapshot_diff(spark, t, a, b))
        for s in (snaps[-2], snaps[-1]):
            for c, (lo, hi) in ranges.items():
                kept = snapshot_files_pruned(t, c, lo, hi, s)
                assert 0 < len(kept) < len(snapshot_files(t, s)), (s, c)
                out["pruned", s, c] = entries(kept)
                out["where", s, c] = rows(
                    read_snapshot_where(spark, t, c, lo, hi, s))
                assert out["where", s, c], (s, c)

        expire_snapshots(t, keep_last=1)
        orphans = vacuum(t, dry_run=True)
        out["orphans"] = dirs(orphans)
        data = sorted(p for p in orphans if "/data/" in p)
        assert data == sorted(f["path"] for f in pre_replace)
        assert sorted(p.split("/")[-1] for p in set(orphans) - set(data)) \
            == ["s=000002", "s=000003"]
        assert sorted(vacuum(t)) == sorted(orphans)
        assert not any(os.path.exists(p) for p in orphans)
        out["after vacuum"] = rows(read_snapshot(spark, t))
        assert out["after vacuum"] == out["read", snaps[-1]]
        return out

    inline = history(str(tmp_path / "inline" / "tbl"))
    monkeypatch.setattr(snapshots, "SHARD_THRESHOLD", 4)
    sharded = history(str(tmp_path / "sharded" / "tbl"))
    assert (inline.pop("sharded"), sharded.pop("sharded")) == (False, True)
    assert inline.keys() == sharded.keys()
    for key in inline:
        assert sharded[key] == inline[key], key
