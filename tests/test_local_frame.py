"""util.local_frame: driver-side rows become a JVM LocalRelation, never
a Python RDD, so scanning them starts no Python worker task and an empty
one folds out of the plans that join against it."""

from __future__ import annotations

import ast
import decimal
import os
import time

from conftest import executed_plan
from parquet_producers_spark.operators.produce import (
    Stage,
    empty_state,
    update_stage,
)
from parquet_producers_spark.plans.dag import Pipeline
from parquet_producers_spark.storage import stage_dir
from parquet_producers_spark.util import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "parquet_producers_spark")
DDL = "k int, d decimal(12,3), a array<double>, s struct<x:int,y:string>"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_local(df) -> None:
    for plan in (_analyzed(df), executed_plan(df)):
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_local_frame_keeps_types_and_rows_without_an_rdd(spark):
    rows = [(1, decimal.Decimal("1.500"), [1.0, 2.5], (7, "q")),
            (None, None, None, None)]
    full = local_frame(spark, rows, DDL)
    empty = local_frame(spark, [], DDL)
    for df in (full, empty):
        _assert_local(df)
        assert df.schema.simpleString() == (
            "struct<k:int,d:decimal(12,3),a:array<double>,"
            "s:struct<x:int,y:string>>")
    assert "LocalRelation" in _analyzed(empty)
    assert [tuple(r) for r in full.collect()] == [
        (1, decimal.Decimal("1.500"), [1.0, 2.5], (7, "q")),
        (None, None, None, None)]
    assert empty.count() == 0


def test_local_frame_round_trips_collected_timestamps(spark, monkeypatch):
    """collect() returns a timestamp as a naive datetime in the process's
    local time; local_frame must read it back as the same instant, not
    as UTC wall time, whatever the process time zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ddl = "t timestamp, n timestamp_ntz, d date, s struct<t:timestamp>"
        src = spark.sql(
            "SELECT timestamp'2024-03-01 12:00:00' AS t,"
            " timestamp_ntz'2024-03-01 12:00:00' AS n,"
            " date'2024-03-01' AS d,"
            " named_struct('t', timestamp'2024-03-01 12:00:00') AS s")
        rows = [tuple(r) for r in src.collect()]
        back = local_frame(spark, rows, ddl)
        assert back.collect() == src.collect()
        assert back.selectExpr("cast(t as string)").first()[0] == (
            "2024-03-01 12:00:00")
    finally:
        monkeypatch.undo()
        time.tzset()


def test_anti_join_against_an_empty_frame_is_its_left_side(spark):
    left = spark.range(5).selectExpr("cast(id as int) as k", "id * 2 as v")
    empty = local_frame(spark, [], "k int, w string")
    assert (_optimized(left.join(empty, "k", "left_anti"))
            == _optimized(left))


def _split(key, pdf):
    import pandas as pd

    return pd.DataFrame({"word": pdf["text"], "n": 1})


STAGE = Stage("words", ["doc"], ["word"], ["n"], _split,
              "word string, n int")


def test_empty_state_and_empty_marker_tables_are_local(spark, tmp_path):
    """The first wave reconciles against empty_state, and a stage table
    a delete wave left empty reads back through Pipeline._table: both
    are local relations, and the first wave's content plans no join."""
    updates = spark.createDataFrame([("Add", 1, "a")],
                                    "type string, doc int, text string")
    content, mappings = empty_state(spark, STAGE, updates)
    for df in (content, mappings):
        _assert_local(df)
    assert content.columns == ["word", "doc", "n"]
    assert mappings.columns == ["doc", "word"]
    new_content, _, _ = update_stage(STAGE, content, mappings, updates)
    assert "Join" not in executed_plan(new_content)

    root = str(tmp_path / "dag")
    p = Pipeline(spark, root).add(STAGE)
    p.update({"words": updates})
    v = p.update({"words": spark.createDataFrame(
        [("Delete", 1, None)], "type string, doc int, text string")})
    assert not os.path.exists(stage_dir(root, "words", v, "content"))
    table = p._table("words", v, "content")
    _assert_local(table)
    assert table.schema.simpleString() == "struct<word:string,doc:int,n:int>"


def test_no_module_builds_a_frame_from_a_python_list():
    """A list-backed createDataFrame is a Python RDD: each job scanning it
    runs defaultParallelism Python tasks at ~0.2 CPU s each, for nothing.
    The package's only createDataFrame is local_frame's Arrow table."""
    offenders = []
    for dirpath, _, names in os.walk(PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for node in ast.walk(fn):
                        owner.setdefault(node, fn.name)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                        and not (name == "util.py"
                                 and owner.get(node) == "local_frame")):
                    offenders.append(
                        f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not offenders, (
        f"use util.local_frame, not createDataFrame: {offenders}")
