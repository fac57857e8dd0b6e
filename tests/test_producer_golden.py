"""Golden end-to-end producer tests — ports of the reference's three
NUnit scenarios (Parquet.Producers.Tests/ParquetProductionTests.cs):
ValidFromEmpty (:184-266), WordCounting (:292-543), PreservingValues
(:558-672). Expected tuples are copied verbatim from the reference
assertions; comparisons are strict on content including sort order.
"""

from __future__ import annotations

import pandas as pd
import pytest

from parquet_producers_spark.operators.produce import (
    Stage,
    empty_state,
    update_stage,
)


# ---------------------------------------------------------------- harness


class MemoryStore:
    """In-memory analogue of the reference test DataStore (rotates
    updated→previous between waves, ParquetProductionTests.cs:17-52)."""

    def __init__(self, spark, stage: Stage, updates_ddl: str):
        self.spark = spark
        self.stage = stage
        self.updates_ddl = updates_ddl
        self.content = None
        self.mappings = None
        self.last_updates = None

    def update(self, rows: list[tuple]):
        upd = self.spark.createDataFrame(rows, schema=self.updates_ddl)
        if self.content is None:
            self.content, self.mappings = empty_state(
                self.spark, self.stage, upd)
        c, m, u = update_stage(self.stage, self.content, self.mappings, upd)
        # materialize: state tables are persisted between waves
        self.content = self.spark.createDataFrame(
            c.toPandas(), schema=c.schema)
        self.mappings = self.spark.createDataFrame(
            m.toPandas(), schema=m.schema)
        self.last_updates = u.toPandas()

    def contents(self, order):
        return [tuple(r) for r in self.content.orderBy(*order).collect()]

    def key_mappings(self, order):
        return [tuple(r) for r in self.mappings.orderBy(*order).collect()]

    def updates(self):
        df = self.last_updates
        return sorted(
            tuple(None if pd.isna(v) else v for v in r)
            for r in df.itertuples(index=False)
        )


# ------------------------------------------------- scenario 1: ValidFromEmpty


def _project_stuff(key, pdf: pd.DataFrame) -> pd.DataFrame:
    # ProjectStuff (reference :161-182): count rows, first full name,
    # emit `copies` rows keyed by the row count
    pdf = pdf.sort_values("seq")
    count = len(pdf)
    copies = int(pdf["copies"].max())
    first = f"{pdf['first_name'].iloc[0]} {pdf['last_name'].iloc[0]}"
    return pd.DataFrame({
        "tk": [count] * copies,
        "id": [int(key[0])] * copies,
        "first_full_name": [first] * copies,
        "copy": list(range(1, copies + 1)),
    })


@pytest.fixture
def stuff_store(spark):
    stage = Stage(
        name="stuff",
        sk_cols=["sk"], tk_cols=["tk"],
        value_cols=["id", "first_full_name", "copy"],
        produce=_project_stuff,
        out_ddl="tk int, id int, first_full_name string, copy int",
    )
    return MemoryStore(
        spark, stage,
        "type string, sk int, first_name string, last_name string,"
        " copies int, seq int",
    )


def test_valid_from_empty(stuff_store):
    s = stuff_store
    s.update([
        ("Add", 1, "Randy", "Newman", 1, 0),
        ("Add", 2, "Gary", "Oldman", 1, 1),
        ("Add", 2, "Gary", "Newman", 1, 2),
        ("Add", 3, "Randy", "Oldman", 1, 3),
    ])
    assert s.contents(["tk", "sk", "copy"]) == [
        (1, 1, 1, "Randy Newman", 1),
        (1, 3, 3, "Randy Oldman", 1),
        (2, 2, 2, "Gary Oldman", 1),
    ]
    assert s.key_mappings(["sk", "tk"]) == [(1, 1), (2, 2), (3, 1)]

    # replace SK 1 with copies=3 → fan-out
    s.update([("Update", 1, "Randy", "Newman", 3, 0)])
    assert s.contents(["tk", "sk", "copy"]) == [
        (1, 1, 1, "Randy Newman", 1),
        (1, 1, 1, "Randy Newman", 2),
        (1, 1, 1, "Randy Newman", 3),
        (1, 3, 3, "Randy Oldman", 1),
        (2, 2, 2, "Gary Oldman", 1),
    ]
    assert s.key_mappings(["sk", "tk"]) == [
        (1, 1), (1, 1), (1, 1), (2, 2), (3, 1)]

    # SK 3 now has 2 records → moves to target key 2
    s.update([
        ("Update", 3, "Silly", "Oldman", 1, 0),
        ("Update", 3, "Randy", "Oldman", 1, 1),
    ])
    assert s.contents(["tk", "sk", "copy"]) == [
        (1, 1, 1, "Randy Newman", 1),
        (1, 1, 1, "Randy Newman", 2),
        (1, 1, 1, "Randy Newman", 3),
        (2, 2, 2, "Gary Oldman", 1),
        (2, 3, 3, "Silly Oldman", 1),
    ]
    assert s.key_mappings(["sk", "tk"]) == [
        (1, 1), (1, 1), (1, 1), (2, 2), (3, 2)]

    # delete SK 2
    s.update([("Delete", 2, None, None, None, 0)])
    assert s.contents(["tk", "sk", "copy"]) == [
        (1, 1, 1, "Randy Newman", 1),
        (1, 1, 1, "Randy Newman", 2),
        (1, 1, 1, "Randy Newman", 3),
        (2, 3, 3, "Silly Oldman", 1),
    ]
    assert s.key_mappings(["sk", "tk"]) == [
        (1, 1), (1, 1), (1, 1), (3, 2)]


# --------------------------------------------- scenario 3: PreservingValues


def _gen_word_ids(key, pdf: pd.DataFrame) -> pd.DataFrame:
    # PreservingValues_Generate (reference :550-556): one (word, id=0)
    # per value; the engine's preserve logic fills the id
    return pd.DataFrame({"word": pdf["word"], "wid": [0] * len(pdf)})


@pytest.fixture
def words_store(spark):
    stage = Stage(
        name="words",
        sk_cols=["sk"], tk_cols=["word"], value_cols=["wid"],
        produce=_gen_word_ids,
        out_ddl="word string, wid int",
        preserve_col="wid",
    )
    return MemoryStore(spark, stage, "type string, sk int, word string")


def test_preserving_values(words_store):
    s = words_store
    s.update([
        ("Add", 1, "dog"), ("Add", 1, "budgie"),
        ("Add", 2, "dog"), ("Add", 2, "cat"),
        ("Add", 3, "eagle"), ("Add", 3, "dog"), ("Add", 3, "cat"),
    ])
    assert s.updates() == sorted([
        ("Add", "budgie", 1),
        ("Add", "cat", 2), ("Update", "cat", 2),
        ("Add", "dog", 3), ("Update", "dog", 3), ("Update", "dog", 3),
        ("Add", "eagle", 4),
    ])
    assert s.contents(["word", "sk"]) == [
        ("budgie", 1, 1),
        ("cat", 2, 2), ("cat", 3, 2),
        ("dog", 1, 3), ("dog", 2, 3), ("dog", 3, 3),
        ("eagle", 3, 4),
    ]

    s.update([("Update", 2, "frog"), ("Update", 2, "eagle"), ("Update", 2, "ant")])
    assert s.updates() == sorted([
        ("Add", "ant", 5),
        ("Update", "cat", 2),
        ("Update", "dog", 3), ("Update", "dog", 3),
        ("Update", "eagle", 4), ("Update", "eagle", 4),
        ("Add", "frog", 6),
    ])
    assert s.contents(["word", "sk"]) == [
        ("ant", 2, 5), ("budgie", 1, 1), ("cat", 3, 2),
        ("dog", 1, 3), ("dog", 3, 3),
        ("eagle", 2, 4), ("eagle", 3, 4), ("frog", 2, 6),
    ]

    s.update([("Update", 1, "dog"), ("Update", 1, "frog")])
    assert s.updates() == sorted([
        ("Delete", "budgie", None),
        ("Update", "dog", 3), ("Update", "dog", 3),
        ("Update", "frog", 6), ("Update", "frog", 6),
    ])
    assert s.contents(["word", "sk"]) == [
        ("ant", 2, 5), ("cat", 3, 2),
        ("dog", 1, 3), ("dog", 3, 3),
        ("eagle", 2, 4), ("eagle", 3, 4),
        ("frog", 1, 6), ("frog", 2, 6),
    ]

    # budgie returns after full disappearance → fresh id 7
    s.update([("Update", 1, "dog"), ("Update", 1, "budgie")])
    assert s.updates() == sorted([
        ("Add", "budgie", 7),
        ("Update", "dog", 3), ("Update", "dog", 3),
        ("Update", "frog", 6),
    ])
    assert s.contents(["word", "sk"]) == [
        ("ant", 2, 5), ("budgie", 1, 7), ("cat", 3, 2),
        ("dog", 1, 3), ("dog", 3, 3),
        ("eagle", 2, 4), ("eagle", 3, 4), ("frog", 2, 6),
    ]
