"""update_stage reconcile: NULL source and target keys, and the shape of
the one-pass plans (SK anti-join, one TK window, no (tk, sk) pair join,
no content checkpoint)."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import pandas as pd

from conftest import executed_plan
from parquet_producers_spark.operators.produce import (
    Stage,
    empty_state,
    update_stage,
)


def _produce(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """One row per text; a text starting with '-' has a NULL target key."""
    texts = list(pdf["text"])
    return pd.DataFrame({
        "word": [None if t.startswith("-") else t for t in texts],
        "text": texts,
    })


STAGE = Stage("nulls", ["doc"], ["word"], ["text"], _produce,
              "word string, text string")
SCHEMA = "type string, doc int, text string"


def _persist(spark, df, path):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_null_keys_reconcile_like_a_recompute(spark, tmp_path):
    """A NULL TK and a NULL SK are each one key: deleting the only
    NULL-TK row of one SK leaves the NULL-TK rows of other SKs alone and
    emits no Delete for that TK, and updating the NULL SK replaces its
    rows. After every wave content equals a recompute from the full
    source state and the mappings pairs equal the content pairs."""
    state: dict = {}

    def apply(wave):
        for _, doc, _ in wave:
            state.pop(doc, None)
        for typ, doc, text in wave:
            if typ != "Delete":
                state.setdefault(doc, []).append(text)

    waves = [
        [("Add", 1, "-one"), ("Add", 2, "-two"), ("Add", 2, "b"),
         ("Add", None, "x"), ("Add", None, "-n")],
        [("Delete", 1, None), ("Update", None, "y"), ("Add", 3, "b")],
        [("Delete", 2, None)],
    ]
    want_events = [
        None,
        # NULL TK: SK 1 and the NULL SK lost theirs, SK 2's survives
        [(None, "Update", "-two"), ("b", "Update", "b"),
         ("b", "Update", "b"), ("x", "Delete", None), ("y", "Add", "y")],
        # the last NULL-TK row goes: exactly one Delete(NULL)
        [(None, "Delete", None), ("b", "Update", "b")],
    ]
    content = mappings = None
    for n, wave in enumerate(waves):
        upd = spark.createDataFrame(wave, SCHEMA)
        if content is None:
            content, mappings = empty_state(spark, STAGE, upd)
        content, mappings, out = update_stage(STAGE, content, mappings, upd)
        content = _persist(spark, content, str(tmp_path / f"c{n}"))
        mappings = _persist(spark, mappings, str(tmp_path / f"m{n}"))
        events = [(r.word, r.type, r.text) for r in out.collect()]
        apply(wave)

        # the oracle: one from-scratch wave over the full source state
        full = spark.createDataFrame(
            [("Add", d, t) for d, ts in state.items() for t in ts], SCHEMA)
        recompute, _, _ = update_stage(
            STAGE, *empty_state(spark, STAGE, full), full)
        got = Counter(tuple(r) for r in content.collect())
        assert got == Counter(tuple(r) for r in recompute.collect()), n
        assert ({(r.doc, r.word) for r in mappings.collect()}
                == {(doc, word) for word, doc, _ in got}), n
        by_tk = defaultdict(list)
        for word, typ, _ in events:
            by_tk[word].append(typ)
        for word, types in by_tk.items():
            assert "Delete" not in types or types == ["Delete"], (n, word)
        if want_events[n] is not None:
            assert Counter(events) == Counter(want_events[n]), n


def _scans(plan: str, table: str) -> int:
    return len(re.findall(rf"FileScan parquet [^\n]*{table}\]", plan))


def test_update_stage_plans_read_each_input_once(spark, tmp_path):
    """Plan-shape guard: updates-out never scans prev_mappings and scans
    prev_content at most twice; no join is keyed on tk + sk; content is
    planned from its inputs, not read back from a checkpoint."""
    boot = spark.createDataFrame(
        [("Add", 1, "a"), ("Add", 2, "b"), ("Add", 3, "-c")], SCHEMA)
    c0, m0, _ = update_stage(STAGE, *empty_state(spark, STAGE, boot), boot)
    prev_content = _persist(spark, c0, str(tmp_path / "prev_content"))
    prev_mappings = _persist(spark, m0, str(tmp_path / "prev_mappings"))
    wave = spark.createDataFrame(
        [("Update", 1, "b"), ("Delete", 3, None)], SCHEMA)
    content, mappings, updates_out = update_stage(
        STAGE, prev_content, prev_mappings, wave)

    def plan(df):
        # untruncated scan locations, so each scan names its table
        conf = "spark.sql.maxMetadataStringLength"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "10000")
        try:
            return executed_plan(df)
        finally:
            spark.conf.set(conf, old)

    out = plan(updates_out)
    assert _scans(out, "prev_mappings") == 0, out
    assert 1 <= _scans(out, "prev_content") <= 2, out
    for df in (content, mappings, updates_out):
        p = plan(df)
        for keys in re.findall(r"(?:SortMergeJoin|HashJoin) \[([^\]]*)\]", p):
            assert not ("word#" in keys and "doc#" in keys), p
    # a checkpointed content would plan as an RDD scan that hides its
    # inputs; the one-pass content reads prev_content itself
    assert _scans(plan(content), "prev_content") == 1, plan(content)
    assert _scans(plan(mappings), "prev_mappings") == 1, plan(mappings)


def test_produce_exchange_coalesces_and_selects_output_columns(spark):
    """run_produce's SK exchange has no fixed partition count, so AQE
    coalesces a small delta's shuffle; produced columns in another order
    are put in the declared order, and a missing one still fails."""
    import pytest

    from parquet_producers_spark.operators.produce import run_produce

    upserts = spark.createDataFrame(
        [("Add", d, t) for d, t in ((1, "a"), (2, "b"), (3, "-c"))], SCHEMA)
    reordered = Stage("r", ["doc"], ["word"], ["text"],
                      lambda key, pdf: _produce(key, pdf)[["text", "word"]],
                      "word string, text string")
    df = run_produce(reordered, upserts)
    got = sorted((tuple(r) for r in df.collect()), key=str)
    assert got == sorted([("a", 1, "a"), ("b", 2, "b"), (None, 3, "-c")],
                         key=str)
    assert "coalesced" in executed_plan(df), executed_plan(df)

    missing = Stage("m", ["doc"], ["word"], ["text"],
                    lambda key, pdf: _produce(key, pdf)[["word"]],
                    "word string, text string")
    with pytest.raises(Exception, match="not in index"):
        run_produce(missing, upserts).collect()
