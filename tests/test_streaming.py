"""Streaming adapters: foreachBatch → incremental DAG transactions with
exactly-once resume via the streaming checkpoint, and a watermarked
windowed aggregation."""

from __future__ import annotations

import os

import pandas as pd

from parquet_producers_spark.operators.produce import Stage
from parquet_producers_spark.plans.dag import Pipeline
from parquet_producers_spark.streaming.incremental import (
    stream_into_pipeline,
    windowed_event_counts,
)


def _identity(key, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"id": [int(key[0])] * len(pdf), "text": pdf["text"]})


def test_stream_micro_batches_become_versions(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    p = Pipeline(spark, str(tmp_path / "dag"))
    p.add(Stage("docs", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))

    def transform(batch):
        from pyspark.sql import functions as F

        return batch.select(F.lit("Update").alias("type"), "src_id", "text")

    # wave 1: one file present
    spark.createDataFrame([(1, "hello world"), (2, "goodbye world")],
                          "src_id int, text string") \
        .write.mode("overwrite").parquet(in_dir + "/f1")
    stream = spark.readStream.schema("src_id int, text string") \
        .option("maxFilesPerTrigger", "100").parquet(in_dir + "/*")
    q = stream_into_pipeline(stream, p, "docs", ckpt, transform)
    q.awaitTermination(120)
    v1 = p.version("docs")
    assert v1 >= 1
    assert sorted((r.id, r.text) for r in p.content("docs", v1).collect()) == [
        (1, "hello world"), (2, "goodbye world")]

    # wave 2: a new file arrives; the checkpoint skips f1 (exactly once)
    spark.createDataFrame([(2, "changed text")],
                          "src_id int, text string") \
        .write.mode("overwrite").parquet(in_dir + "/f2")
    stream2 = spark.readStream.schema("src_id int, text string") \
        .parquet(in_dir + "/*")
    q2 = stream_into_pipeline(stream2, p, "docs", ckpt, transform)
    q2.awaitTermination(120)
    v2 = p.version("docs")
    assert v2 == v1 + 1  # exactly one new transaction
    assert sorted((r.id, r.text) for r in p.content("docs", v2).collect()) == [
        (1, "hello world"), (2, "changed text")]


def test_windowed_event_counts(spark, tmp_path, sf_dir):
    # feed the driver events table through a file stream
    src = str(tmp_path / "events_in")
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(500) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string").parquet(src)
    agg = windowed_event_counts(stream, window="6 hours", watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from win_counts").collect()
    assert len(got) > 0
    # cross-check against the batch aggregation of the same data
    from pyspark.sql import functions as F

    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    assert sum(r.n for r in got) == sum(r.n for r in batch.collect())


def test_sessionize_stream_matches_batch(spark, tmp_path, sf_dir):
    """applyInPandasWithState sessionization: closed sessions emitted by
    the streaming operator must equal the batch gaps-and-islands result
    for every session the stream could close (all but each user's last,
    which stays open in state until timeout)."""
    from parquet_producers_spark.operators.sessionize import (
        sessionize,
        sessionize_stream,
    )

    src = str(tmp_path / "sess_in")
    events = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter("user_id < 20").select("event_id", "ts", "user_id", "value")
    # one file → availableNow runs ONE micro-batch (a batch per file
    # would cycle the state store once per file for no test value)
    events.coalesce(1).write.mode("overwrite").parquet(src)
    gap = 28800

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, value double"
    ).parquet(src)
    sess = sessionize_stream(stream, gap_s=gap)
    q = (sess.writeStream.format("memory").queryName("sessions")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_id):
            (r.session_start, r.session_end, r.n_events,
             round(r.total_value, 4))
        for r in spark.sql("select * from sessions").collect()
    }

    batch = sessionize(events, gap_s=gap)
    want_all = {
        (r.user_id, r.session_id):
            (r.session_start, r.session_end, r.n_events,
             round(r.total_value, 4))
        for r in batch.collect()
    }
    # the stream closes every session except each user's open last one
    last_sid = {}
    for (u, sid) in want_all:
        last_sid[u] = max(last_sid.get(u, 0), sid)
    want_closed = {k: v for k, v in want_all.items()
                   if k[1] != last_sid[k[0]]}
    assert got == want_closed
    assert len(got) > 10


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing the session update
    function without a streaming query / processing-time timers."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def setTimeoutDuration(self, ms):
        pass

    def remove(self):
        self._v = None
        self.removed = True


def test_session_ordinals_never_repeat_across_timeouts():
    """A user returning after ANY number of quiet-timeout flushes must
    continue from their last session ordinal — the tombstone is
    permanent, so (user_id, session_id) output keys never repeat."""
    from datetime import datetime, timedelta

    from parquet_producers_spark.operators.sessionize import (
        make_session_update,
    )

    gap = 1800
    upd = make_session_update(gap_s=gap, ts_col="ts", value_col="value",
                              timeout_s=3600)
    state = _FakeGroupState()
    t0 = datetime(2026, 1, 1, 12, 0, 0)

    def feed(events):
        pdf = pd.DataFrame({"ts": [e[0] for e in events],
                            "value": [e[1] for e in events]})
        return list(upd((1,), iter([pdf]), state))

    def fire_timeout():
        state.hasTimedOut = True
        out = list(upd((1,), iter([]), state))
        state.hasTimedOut = False
        return out

    emitted = []
    feed([(t0, 1.0), (t0 + timedelta(seconds=10), 2.0)])
    emitted += fire_timeout()          # flushes session 1
    emitted += fire_timeout()          # second quiet timeout: no-op
    assert not state.removed and state.exists  # tombstone survives
    # user returns: new session, then a gap closes it in-batch
    emitted += feed([(t0 + timedelta(days=1), 3.0),
                     (t0 + timedelta(days=1, seconds=2 * gap), 4.0)])
    emitted += fire_timeout()          # flushes the last open session

    sids = [int(s) for df in emitted for s in df["session_id"]]
    assert sids == [1, 2, 3]           # monotone, no repeats, no reset
    assert not state.removed


def test_stream_into_encoded_store(spark, tmp_path):
    """Streaming ingestion into the chunk-store format: each
    micro-batch becomes one encoded version; the
    streaming checkpoint gives exactly-once across restarts, and the
    union of versions decodes to everything ingested."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.storage import list_versions, read_chunks
    from parquet_producers_spark.streaming.incremental import (
        stream_into_encoded_store,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    enc = str(tmp_path / "enc")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(50)],
        "doc_id int, text string").coalesce(1) \
        .write.mode("overwrite").parquet(in_dir + "/f1")

    def run_wave():
        stream = spark.readStream.schema("doc_id int, text string") \
            .parquet(in_dir + "/*")
        q = stream_into_encoded_store(
            stream, enc, "docs", sort_cols=["doc_id"], checkpoint=ckpt,
            n_slices=2, chunk_rows=16)
        q.awaitTermination(120)

    run_wave()
    vs1 = list_versions(enc, "docs")
    assert len(vs1) == 1

    # second file → second wave → ONE new version (checkpoint skips f1)
    spark.createDataFrame(
        [(i, f"gamma w{i}") for i in range(50, 70)],
        "doc_id int, text string").coalesce(1) \
        .write.mode("overwrite").parquet(in_dir + "/f2")
    run_wave()
    vs2 = list_versions(enc, "docs")
    assert len(vs2) == 2

    frames = [
        read_chunks(spark, enc, "docs", v)
        .withColumn("enc_version", F.lit(int(v))) for v in vs2
    ]
    decoded = decode_chunks(frames[0].unionByName(frames[1]))
    assert decoded.count() == 70
    assert decoded.agg(F.sum("doc_id")).first()[0] == sum(range(70))

    # each batch committed its wave to the snapshot map, so the
    # standard reader (and downstream consolidation/GC) sees the
    # streamed store exactly like a batch-incremental one
    from parquet_producers_spark.sources.snapshots import (
        expire_encoded_versions,
        read_encoded_table,
    )

    via_map = decode_chunks(read_encoded_table(spark, enc, "docs"))
    assert via_map.count() == 70
    assert expire_encoded_versions(enc, "docs") == []  # all referenced


def test_stream_batch_after_consolidation_takes_a_new_version(
        spark, tmp_path):
    """Consolidation takes the next version number; a later stream
    batch must encode under a newer one, not resume the consolidated
    version's slices and drop its own rows."""
    from parquet_producers_spark.encoder import decode_chunks
    from parquet_producers_spark.sources.snapshots import (
        consolidate_encoded_table,
        read_encoded_table,
    )
    from parquet_producers_spark.streaming.incremental import (
        stream_into_encoded_store,
    )

    in_dir, enc = str(tmp_path / "in"), str(tmp_path / "enc")

    def batch(n):
        spark.createDataFrame(
            [(i, f"w{i}") for i in range(10 * n, 10 * n + 10)],
            "doc_id int, text string").coalesce(1) \
            .write.parquet(f"{in_dir}/f{n}")
        stream = spark.readStream.schema("doc_id int, text string") \
            .parquet(in_dir + "/*")
        stream_into_encoded_store(
            stream, enc, "docs", sort_cols=["doc_id"],
            checkpoint=str(tmp_path / "ckpt"), n_slices=1,
            chunk_rows=16).awaitTermination(120)

    batch(0)
    batch(1)
    out = consolidate_encoded_table(spark, enc, "docs",
                                    sort_cols=["doc_id"], n_slices=1)
    assert out["consolidated"] == 1 and out["version"] == 3
    batch(2)
    decoded = decode_chunks(read_encoded_table(spark, enc, "docs"))
    assert sorted(r.doc_id for r in decoded.collect()) == list(range(30))
