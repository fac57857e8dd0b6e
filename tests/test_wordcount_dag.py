"""WordCounting — the reference's flagship 4-stage DAG scenario
(ParquetProductionTests.cs:292-543): two feeders (phrases, books) →
idsByWord (multi-feeder merge + word-split flat-map) → wordCounts
(count aggregation, descending order), then an incremental delete of
one phrase propagated through the whole DAG."""

from __future__ import annotations

import pandas as pd
import pytest

from parquet_producers_spark.operators.multisource import feeder_view, read_sources
from parquet_producers_spark.operators.produce import Stage
from parquet_producers_spark.plans.dag import Pipeline


def _identity(key, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"id": [int(key[0])] * len(pdf), "text": pdf["text"]})


def _split_words(key, pdf: pd.DataFrame) -> pd.DataFrame:
    words = []
    for t in pdf["text"]:
        words.extend(t.split(" "))
    return pd.DataFrame({"word": words, "val_id": [int(key[0])] * len(words)})


def _count_words(key, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"cnt": [len(pdf)], "w": [key[0]]})


def _wordcount(spark, root):
    p = Pipeline(spark, root)
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    p.add(Stage("books", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    p.add(Stage("ids_by_word", ["id"], ["word"], ["val_id"], _split_words,
                "word string, val_id int"), sources=["phrases", "books"])
    p.add(Stage("word_counts", ["word"], ["cnt"], ["w"], _count_words,
                "cnt int, w string"), sources=["ids_by_word"])
    return p


@pytest.fixture
def pipeline(spark, tmp_path):
    return _wordcount(spark, str(tmp_path))


def _rows(df, order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_word_counting_dag(spark, pipeline):
    p = pipeline
    v1 = p.update({
        "phrases": spark.createDataFrame(
            [("Add", 1, "the quick brown fox"),
             ("Add", 2, "jumps over the lazy dog"),
             ("Add", 3, "sometimes a dog is brown"),
             ("Add", 4, "brown is my favourite colour")],
            "type string, src_id int, text string"),
        "books": spark.createDataFrame(
            [("Add", 1, "the brain police"),
             ("Add", 2, "sometimes the fox is lazy"),
             ("Add", 3, "the mystery at dog hall")],
            "type string, src_id int, text string"),
    })
    assert v1 == 1

    # reference :368-401 — idsByWord contents sorted (word, id)
    assert _rows(p.content("ids_by_word", 1).select("word", "id", "val_id"),
                 ["word", "id"]) == [
        ("a", 3, 3), ("at", 3, 3), ("brain", 1, 1),
        ("brown", 1, 1), ("brown", 3, 3), ("brown", 4, 4),
        ("colour", 4, 4), ("dog", 2, 2), ("dog", 3, 3), ("dog", 3, 3),
        ("favourite", 4, 4), ("fox", 1, 1), ("fox", 2, 2),
        ("hall", 3, 3), ("is", 2, 2), ("is", 3, 3), ("is", 4, 4),
        ("jumps", 2, 2), ("lazy", 2, 2), ("lazy", 2, 2),
        ("my", 4, 4), ("mystery", 3, 3), ("over", 2, 2),
        ("police", 1, 1), ("quick", 1, 1),
        ("sometimes", 2, 2), ("sometimes", 3, 3),
        ("the", 1, 1), ("the", 1, 1), ("the", 2, 2), ("the", 2, 2),
        ("the", 3, 3),
    ]

    # reference :404-430 — word counts, descending by count
    from pyspark.sql import functions as F
    wc = _rows(
        p.content("word_counts", 1).select("cnt", "w")
        .orderBy(F.desc("cnt"), "w"), [F.desc("cnt"), "w"])
    assert wc == [
        (5, "the"), (3, "brown"), (3, "dog"), (3, "is"),
        (2, "fox"), (2, "lazy"), (2, "sometimes"),
        (1, "a"), (1, "at"), (1, "brain"), (1, "colour"),
        (1, "favourite"), (1, "hall"), (1, "jumps"), (1, "my"),
        (1, "mystery"), (1, "over"), (1, "police"), (1, "quick"),
    ]

    # ---- wave 2: delete phrase 2 ("jumps over the lazy dog") ----
    v2 = p.update({
        "phrases": spark.createDataFrame(
            [("Delete", 2, None)], "type string, src_id int, text string"),
    })
    assert v2 == 2

    # phrases updates-out: exactly one Delete (reference :445-446)
    assert _rows(p.updates_out("phrases", 2), ["id"]) == [("Delete", 2, None)]

    # reference :452-478 — idsByWord contents after the delete
    assert _rows(p.content("ids_by_word", 2).select("word", "id", "val_id"),
                 ["word", "id"]) == [
        ("a", 3, 3), ("at", 3, 3), ("brain", 1, 1),
        ("brown", 1, 1), ("brown", 3, 3), ("brown", 4, 4),
        ("colour", 4, 4), ("dog", 3, 3), ("dog", 3, 3),
        ("favourite", 4, 4), ("fox", 1, 1), ("fox", 2, 2),
        ("hall", 3, 3), ("is", 2, 2), ("is", 3, 3), ("is", 4, 4),
        ("lazy", 2, 2), ("my", 4, 4), ("mystery", 3, 3),
        ("police", 1, 1), ("quick", 1, 1),
        ("sometimes", 2, 2), ("sometimes", 3, 3),
        ("the", 1, 1), ("the", 1, 1), ("the", 2, 2), ("the", 3, 3),
    ]

    # reference :482-498 — idsByWord update stream (deletes + re-upserts)
    upd = sorted(
        tuple(r) for r in p.updates_out("ids_by_word", 2).collect()
    )
    assert upd == sorted([
        ("Update", "dog", 3), ("Update", "dog", 3),
        ("Update", "fox", 1), ("Update", "fox", 2),
        ("Update", "is", 2), ("Update", "is", 3), ("Update", "is", 4),
        ("Delete", "jumps", None),
        ("Update", "lazy", 2),
        ("Delete", "over", None),
        ("Update", "sometimes", 2), ("Update", "sometimes", 3),
        ("Update", "the", 1), ("Update", "the", 1),
        ("Update", "the", 2), ("Update", "the", 3),
    ])

    # reference :522-542 — final recount
    wc2 = _rows(
        p.content("word_counts", 2).select("cnt", "w")
        .orderBy(F.desc("cnt"), "w"), [F.desc("cnt"), "w"])
    assert wc2 == [
        (4, "the"), (3, "brown"), (3, "is"),
        (2, "dog"), (2, "fox"), (2, "sometimes"),
        (1, "a"), (1, "at"), (1, "brain"), (1, "colour"),
        (1, "favourite"), (1, "hall"), (1, "lazy"), (1, "my"),
        (1, "mystery"), (1, "police"), (1, "quick"),
    ]


def test_read_sources_augmentation(spark):
    """Reference :500-502 AssertSources: a feeder with no updates
    re-emits its content for affected keys, disguised as Update."""
    upd_a = spark.createDataFrame(
        [("Delete", 2, None)], "type string, id int, text string")
    content_a = spark.createDataFrame(
        [(1, "the quick brown fox")], "id int, text string")
    upd_b = spark.createDataFrame([], "type string, id int, text string")
    content_b = spark.createDataFrame(
        [(1, "the brain police"), (2, "sometimes the fox is lazy")],
        "id int, text string")
    merged = read_sources([(upd_a, content_a), (upd_b, content_b)], ["id"])
    assert sorted(tuple(r) for r in merged.collect()) == [
        ("Update", 2, "sometimes the fox is lazy"),
    ]


def test_feeder_view_renames(spark):
    content = spark.createDataFrame([(1, 2, "x")], "tk int, sk int, v string")
    updates = spark.createDataFrame(
        [("Add", 1, "x")], "type string, tk int, v string")
    u, c = feeder_view(content, updates, ["tk"], ["v"], ["key"], ["val"])
    assert u.columns == ["type", "key", "val"]
    assert c.columns == ["key", "val"]


def test_partial_version_is_ignored_and_overwritten(spark, tmp_path):
    """Crash resume: a partial v=N+1 (missing _SUCCESS) left by a killed
    transaction is invisible to version() and overwritten by the rerun."""
    import os

    from parquet_producers_spark.storage import stage_dir

    p = Pipeline(spark, str(tmp_path))
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    p.update({"phrases": spark.createDataFrame(
        [("Add", 1, "hello world")], "type string, src_id int, text string")})
    assert p.version("phrases") == 1

    # simulate a crash that wrote only a partial content dir for v=2
    partial = stage_dir(str(tmp_path), "phrases", 2, "content")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-junk.parquet"), "wb") as f:
        f.write(b"garbage")
    assert p.version("phrases") == 1  # partial version ignored

    v = p.update({"phrases": spark.createDataFrame(
        [("Update", 1, "hello again")], "type string, src_id int, text string")})
    assert v == 2
    assert [(r.id, r.text) for r in p.content("phrases", 2).collect()] == [
        (1, "hello again")]


def test_stage_added_later_reconciles_from_own_state(spark, tmp_path):
    """A stage that skipped transactions (e.g. added to the DAG later)
    must reconcile against its own latest state, not empty/based_on."""
    p = Pipeline(spark, str(tmp_path))
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    # two transactions on phrases alone → v2
    p.update({"phrases": spark.createDataFrame(
        [("Add", 1, "one two")], "type string, src_id int, text string")})
    p.update({"phrases": spark.createDataFrame(
        [("Add", 2, "three")], "type string, src_id int, text string")})
    assert p.version("phrases") == 2

    # now wire a downstream stage and run a third transaction
    p.add(Stage("ids_by_word", ["id"], ["word"], ["val_id"], _split_words,
                "word string, val_id int"), sources=["phrases"])
    v3 = p.update({"phrases": spark.createDataFrame(
        [("Add", 3, "four")], "type string, src_id int, text string")})
    assert v3 == 3
    # downstream only saw txn-3's update (id=3) — that's its bootstrap
    assert sorted(r.word for r in p.content("ids_by_word", 3).collect()) == [
        "four"]

    # fourth transaction updates id=1; downstream reconciles against its
    # own v3 state (not empty, not a nonexistent v3-era snapshot)
    v4 = p.update({"phrases": spark.createDataFrame(
        [("Update", 1, "five six")], "type string, src_id int, text string")})
    assert sorted(r.word for r in p.content("ids_by_word", v4).collect()) == [
        "five", "four", "six"]


def _make_counting_produce(counter_dir: str):
    """A produce fn that appends one line per invocation to a shared
    file — python workers are local processes in tests, so the line
    count across all of them is the true invocation count."""
    import os

    path = os.path.join(counter_dir, "calls.log")

    def produce(key, pdf: pd.DataFrame) -> pd.DataFrame:
        fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT)
        try:
            os.write(fd, f"{key[0]}\n".encode())
        finally:
            os.close(fd)
        return pd.DataFrame(
            {"id": [int(key[0])] * len(pdf), "text": pdf["text"]})

    return produce, path


def test_produce_runs_once_per_wave(spark, tmp_path):
    """The three table writes of a wave (content/mappings/updates) share
    the produce lineage; the localCheckpoint in update_stage must make
    the produce fn execute exactly once per source key per wave — not
    once per write action (the 3-4x recompute scale-killer)."""
    import os

    counter_dir = str(tmp_path / "counter")
    os.makedirs(counter_dir)
    produce, log_path = _make_counting_produce(counter_dir)

    p = Pipeline(spark, str(tmp_path / "root"))
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], produce,
                "id int, text string"))
    p.update({"phrases": spark.createDataFrame(
        [("Add", 1, "one"), ("Add", 2, "two"), ("Add", 3, "three")],
        "type string, src_id int, text string")})
    with open(log_path) as f:
        calls = f.read().splitlines()
    assert sorted(calls) == ["1", "2", "3"]  # one per key, not 3x

    # second wave (non-bootstrap path: prev state exists)
    os.unlink(log_path)
    p.update({"phrases": spark.createDataFrame(
        [("Update", 2, "two-b")], "type string, src_id int, text string")})
    with open(log_path) as f:
        calls = f.read().splitlines()
    assert calls == ["2"]


def test_failed_transaction_commits_nothing_daglevel(spark, tmp_path):
    """A crash AFTER an upstream stage wrote its v=N+1 tables but before
    the DAG finished must leave EVERY stage at version N: visibility is
    gated on the single atomically-renamed _txn manifest."""

    def boom(key, pdf):
        raise RuntimeError("downstream stage exploded")

    p = Pipeline(spark, str(tmp_path))
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    p.add(Stage("ids_by_word", ["id"], ["word"], ["val_id"], _split_words,
                "word string, val_id int"), sources=["phrases"])
    p.update({"phrases": spark.createDataFrame(
        [("Add", 1, "one two")], "type string, src_id int, text string")})
    assert p.version("phrases") == 1 and p.version("ids_by_word") == 1

    p.nodes["ids_by_word"].stage.produce = boom
    with pytest.raises(Exception):
        p.update({"phrases": spark.createDataFrame(
            [("Add", 2, "three")], "type string, src_id int, text string")})
    # phrases' v=2 tables may exist on disk with _SUCCESS — but with no
    # txn manifest the version must not have advanced for ANY stage
    assert p.version("phrases") == 1
    assert p.version("ids_by_word") == 1

    # the re-run of the same wave overwrites the orphaned partials
    p.nodes["ids_by_word"].stage.produce = _split_words
    v = p.update({"phrases": spark.createDataFrame(
        [("Add", 2, "three")], "type string, src_id int, text string")})
    assert v == 2
    assert sorted(r.word for r in p.content("ids_by_word", 2).collect()) == [
        "one", "three", "two"]


def test_validate_runs_before_any_write(spark, tmp_path):
    """validate=True must reject a malformed root feed BEFORE any stage
    writes — a violation in the second root must not leave the first
    root committed (or even written) at v=N+1."""
    import os

    from parquet_producers_spark.operators.produce import (
        UpdateContractViolation,
    )

    p = Pipeline(spark, str(tmp_path))
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    p.add(Stage("books", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    good = spark.createDataFrame(
        [("Add", 1, "fine")], "type string, src_id int, text string")
    bad = spark.createDataFrame(  # Delete mixed with an upsert: violation
        [("Delete", 7, None), ("Add", 7, "mixed")],
        "type string, src_id int, text string")
    with pytest.raises(UpdateContractViolation):
        p.update({"phrases": good, "books": bad}, validate=True)
    assert p.version("phrases") == 0 and p.version("books") == 0
    assert not os.path.exists(str(tmp_path / "phrases"))


def test_independent_txn_crash_not_visible_through_other_manifest(
        spark, tmp_path):
    """Two INDEPENDENT single-stage transactions take consecutive
    versions. A crash in the second one after its tables hit disk but
    before its commit point must stay invisible — the first
    transaction's manifest must not vouch for it. And a successful
    retry must not un-commit the first stage: its head carries a on."""

    def boom(key, pdf):
        raise RuntimeError("exploded")

    p = Pipeline(spark, str(tmp_path))
    p.add(Stage("a", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    p.add(Stage("b", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    feed = lambda txt: spark.createDataFrame(  # noqa: E731
        [("Add", 1, txt)], "type string, src_id int, text string")
    p.update({"a": feed("hello")})
    assert p.version("a") == 1 and p.version("b") == 0

    # b's transaction: simulate a crash AFTER the tables committed by
    # writing them manually (update_stage path) without the manifest
    from parquet_producers_spark.operators.produce import (
        empty_state,
        update_stage,
    )

    stage_b, upd = p.nodes["b"].stage, feed("world")
    content, mappings, updates_out = update_stage(
        stage_b, *empty_state(spark, stage_b, upd), upd)
    # at the version b's transaction takes: the newest manifest + 1
    p._write("b", 2, "content", content)
    p._write("b", 2, "mappings", mappings)
    p._write("b", 2, "updates", updates_out)
    # all three tables exist, a's v=1 manifest exists — but no manifest
    # names b, so b stays uncommitted
    assert p.version("b") == 0
    assert p.version("a") == 1

    # the re-run takes the same number and commits b at v=2 — and a
    # stays committed at v=1
    v = p.update({"b": feed("world")})
    assert v == 2
    assert p.version("b") == 2 and p.version("a") == 1

    # write-once protocol: one manifest per version — committing b
    # never rewrote (so never momentarily removed) a's manifest
    import os

    assert sorted(os.listdir(str(tmp_path / "_txn"))) == [
        "v=1.json", "v=2.json"]


def test_empty_table_deletes_blob(spark, tmp_path):
    """Reference IPersistentStreams.cs:14-17: uploading EMPTY content
    deletes the blob — an absent blob and an empty stream are the same
    thing to readers. A wave that deletes every source row must leave
    the stage's v=2 tables as ABSENT dirs, recorded as empty (with their
    schema) in the v=2 manifest, with version() advanced and content() a
    typed empty frame; a later re-add wave resumes normally."""
    import json
    import os

    from parquet_producers_spark.storage import stage_dir

    p = Pipeline(spark, str(tmp_path / "dag"))
    p.add(Stage("words", ["src_id"], ["word"], ["val_id"], _split_words,
                "word string, val_id int"))

    v1 = p.update({"words": spark.createDataFrame(
        [("Add", 1, "alpha beta")], "type string, src_id int, text string")})
    assert p.content("words", v1).count() == 2

    v2 = p.update({"words": spark.createDataFrame(
        [("Delete", 1, None)], "type string, src_id int, text string")})
    assert p.version("words") == v2 == 2
    for t in ("content", "mappings"):
        d = stage_dir(str(tmp_path / "dag"), "words", v2, t)
        assert not os.path.exists(d), f"{t} dir should be deleted"

    def manifest(v):
        with open(str(tmp_path / "dag" / "_txn" / f"v={v}.json")) as f:
            return json.load(f)

    assert sorted(manifest(v2)["empty"]["words"]) == ["content", "mappings"]
    empty = p.content("words", v2)
    assert empty.count() == 0
    assert empty.columns == ["word", "src_id", "val_id"]

    v3 = p.update({"words": spark.createDataFrame(
        [("Add", 2, "gamma")], "type string, src_id int, text string")})
    assert p.version("words") == v3 == 3
    got = [tuple(r) for r in p.content("words", v3).collect()]
    assert got == [("gamma", 2, 2)]
    # v2's empty tables never shadow the non-empty v3
    assert os.path.exists(stage_dir(str(tmp_path / "dag"), "words", v3,
                                    "content"))
    assert manifest(v3)["empty"] == {}


def _feed(spark, rows):
    return spark.createDataFrame(rows, "type string, src_id int, text string")


def _tables(p, name, v):
    return {t: sorted((tuple(r) for r in p._table(name, v, t).collect()),
                      key=repr)
            for t in ("content", "mappings", "updates")}


def test_waves_on_either_feeder_take_one_dag_version(spark, tmp_path):
    """Waves fed by both roots, then phrases only, then books only take
    DAG versions 1, 2, 3. Wave 3 writes ids_by_word at 3 — never over its
    committed v=2 — and the result equals a from-scratch run over the
    same final inputs."""
    p = _wordcount(spark, str(tmp_path / "dag"))
    assert p.update({
        "phrases": _feed(spark, [("Add", 1, "the fox"), ("Add", 2, "a dog")]),
        "books": _feed(spark, [("Add", 1, "the end")]),
    }) == 1
    assert p.update({"phrases": _feed(spark, [("Delete", 2, None)])}) == 2
    at_v2 = _tables(p, "ids_by_word", 2)

    assert p.update({"books": _feed(spark, [("Add", 2, "fox hunt")])}) == 3
    assert {s: p.version(s) for s in p.nodes} == {
        "phrases": 2, "books": 3, "ids_by_word": 3, "word_counts": 3}
    assert _tables(p, "ids_by_word", 2) == at_v2

    fresh = _wordcount(spark, str(tmp_path / "fresh"))
    fresh.update({
        "phrases": _feed(spark, [("Add", 1, "the fox")]),
        "books": _feed(spark, [("Add", 1, "the end"), ("Add", 2, "fox hunt")]),
    })
    for name, cols in (("ids_by_word", ["word", "id", "val_id"]),
                       ("word_counts", ["cnt", "w"])):
        assert _rows(p.content(name, 3).select(*cols), cols) == _rows(
            fresh.content(name, 1).select(*cols), cols)


def test_wave_on_one_feeder_of_a_never_written_pair(spark, pipeline):
    """A wave rooted at phrases while books was never written commits;
    books contributes nothing, so ids_by_word holds phrases' words."""
    p = pipeline
    assert p.update({"phrases": _feed(spark, [("Add", 1, "red fox")])}) == 1
    assert p.version("books") == 0
    assert _rows(p.content("ids_by_word").select("word", "id"),
                 ["word"]) == [("fox", 1), ("red", 1)]


def test_commit_refuses_a_version_committed_mid_wave(spark, tmp_path,
                                                     monkeypatch):
    """Another writer commits v=2 while this transaction runs: the
    commit raises and leaves that manifest byte-identical."""
    import os

    p = Pipeline(spark, str(tmp_path))
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    p.update({"phrases": _feed(spark, [("Add", 1, "one")])})

    theirs = str(tmp_path / "_txn" / "v=2.json")
    planted = b'{"version": 2, "head": {"phrases": 2}, "empty": {}}'
    write = p._write

    def racing_write(*args, **kwargs):
        if not os.path.exists(theirs):
            with open(theirs, "wb") as f:
                f.write(planted)
        return write(*args, **kwargs)

    monkeypatch.setattr(p, "_write", racing_write)
    with pytest.raises(RuntimeError, match="another writer"):
        p.update({"phrases": _feed(spark, [("Add", 2, "two")])})
    with open(theirs, "rb") as f:
        assert f.read() == planted


def test_root_with_per_transaction_manifests_is_refused(spark, tmp_path):
    """A root whose _txn holds manifests numbered per transaction
    (v=N.<txnid>.json) is refused, not read as empty and bootstrapped
    over its committed dirs."""
    import os
    import re

    root = str(tmp_path)
    os.makedirs(os.path.join(root, "_txn"))
    with open(os.path.join(root, "_txn", "v=1.0123456789ab.json"), "w") as f:
        f.write('{"version": 1, "based_on": 0, "stages": ["phrases"]}')
    p = Pipeline(spark, root)
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], _identity,
                "id int, text string"))
    with pytest.raises(ValueError, match=re.escape(root)):
        p.version("phrases")
    with pytest.raises(ValueError, match=re.escape(root)):
        p.update({"phrases": _feed(spark, [("Add", 1, "one")])})
    assert not os.path.exists(os.path.join(root, "phrases"))
