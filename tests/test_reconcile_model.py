"""Model-based reconcile test: random multi-wave update sequences are
applied both through the engine and through a naive model that keeps
the full source state and recomputes everything per wave. Content,
mappings and update-stream invariants must agree on every wave —
stronger than fixed goldens because it explores key-move/fan-out/
delete interleavings the golden scenarios don't."""

from __future__ import annotations

import random
from collections import defaultdict

import pandas as pd
import pytest

from parquet_producers_spark.operators.produce import (
    Stage,
    empty_state,
    update_stage,
)


def _produce(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Group flat-map under test: emits one row per value, keyed by the
    value's first letter, plus a row-count row — exercises fan-out and
    target-key movement as values change."""
    out_tk, out_v = [], []
    for v in sorted(pdf["val"]):
        out_tk.append(v[:1])
        out_v.append(v)
    out_tk.append(f"n{len(pdf)}")
    out_v.append("count")
    return pd.DataFrame({"tk": out_tk, "v": out_v})


def _model_produce(values: list[str]) -> list[tuple[str, str]]:
    out = [(v[:1], v) for v in sorted(values)]
    out.append((f"n{len(values)}", "count"))
    return out


class Model:
    """Naive full-recompute model of a producer stage."""

    def __init__(self):
        self.state: dict[int, list[str]] = {}

    def apply(self, wave: list[tuple[str, int, str | None]]):
        by_key: dict[int, list[str]] = defaultdict(list)
        deletes = set()
        for typ, sk, val in wave:
            if typ == "Delete":
                deletes.add(sk)
            else:
                by_key[sk].append(val)
        for sk in deletes:
            self.state.pop(sk, None)
        for sk, vals in by_key.items():
            self.state[sk] = vals

    def content(self) -> set[tuple[str, int, str, int]]:
        rows: list[tuple[str, int, str]] = []
        for sk, vals in self.state.items():
            for tk, v in _model_produce(vals):
                rows.append((tk, sk, v))
        # multiset → count-tagged set
        counted: dict[tuple, int] = defaultdict(int)
        out = set()
        for r in rows:
            counted[r] += 1
            out.add((*r, counted[r]))
        return out


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_waves_match_model(spark, seed):
    rng = random.Random(seed)
    stage = Stage(
        name="model", sk_cols=["sk"], tk_cols=["tk"], value_cols=["v"],
        produce=_produce, out_ddl="tk string, v string",
    )
    model = Model()
    content = mappings = None
    vocab = ["apple", "ant", "bear", "bee", "cat", "crow", "dog", "dove",
             "eel", "fox"]
    prev_tks: set[str] = set()
    for wave_no in range(4):
        wave: list[tuple[str, int, str | None]] = []
        for sk in rng.sample(range(8), rng.randint(1, 5)):
            if sk in model.state and rng.random() < 0.3:
                wave.append(("Delete", sk, None))
            else:
                for _ in range(rng.randint(1, 3)):
                    wave.append(("Update", sk, rng.choice(vocab)))
        upd = spark.createDataFrame(wave, "type string, sk int, val string")
        if content is None:
            content, mappings = empty_state(spark, stage, upd)
        content, mappings, updates_out = update_stage(
            stage, content, mappings, upd)
        # materialize (state tables persist between waves)
        content = spark.createDataFrame(content.toPandas(), content.schema)
        mappings = spark.createDataFrame(mappings.toPandas(), mappings.schema)
        out_events = [tuple(r) for r in updates_out.collect()]

        model.apply(wave)
        got = [tuple(r) for r in content.collect()]
        counted: dict[tuple, int] = defaultdict(int)
        got_set = set()
        for r in got:
            counted[r] += 1
            got_set.add((*r, counted[r]))
        assert got_set == model.content(), f"wave {wave_no} content diverged"

        # mappings invariant: exactly the distinct (sk, tk) pairs of content
        got_maps = {(r.sk, r.tk) for r in mappings.collect()}
        want_maps = {(sk, tk) for (tk, sk, _v, _c) in model.content()}
        assert got_maps == want_maps, f"wave {wave_no} mappings diverged"

        # CDC invariants: at most one Delete per TK, never Delete+upsert
        # for the same TK, Add only for TKs absent before the wave
        by_tk: dict[str, list[str]] = defaultdict(list)
        for typ, tk, _v in out_events:
            by_tk[tk].append(typ)
        new_tks = {tk for (tk, _sk, _v, _c) in model.content()}
        for tk, types in by_tk.items():
            n_del = sum(1 for t in types if t == "Delete")
            assert n_del <= 1, f"wave {wave_no}: {n_del} deletes for {tk}"
            if n_del:
                assert len(types) == 1, f"wave {wave_no}: delete+upsert {tk}"
                assert tk not in new_tks
            if "Add" in types:
                assert tk not in prev_tks, f"wave {wave_no}: Add for old {tk}"
                assert tk in new_tks
        # every touched surviving TK's full value set is re-emitted
        touched = {tk for typ, tk, _v in out_events}
        for tk in touched:
            if tk in new_tks:
                want_vals = sorted(
                    v for (t, _sk, v, _c) in model.content() if t == tk)
                got_vals = sorted(
                    v for typ, t, v in out_events
                    if t == tk and typ != "Delete")
                assert got_vals == want_vals, \
                    f"wave {wave_no}: partial emit for {tk}"
        prev_tks = new_tks
