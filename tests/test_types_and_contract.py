"""Codec chunk-path round trip over every driver-table type (timestamps,
doubles, longs, strings) and the op-23 update-contract validation."""

from __future__ import annotations

import pytest

from parquet_producers_spark.encoder import decode_chunks, encode_partitions
from parquet_producers_spark.operators.produce import (
    UpdateContractViolation,
    validate_updates,
)


@pytest.mark.parametrize("table,sort_col", [
    ("orders", "o_orderkey"),      # long, string, double, timestamp
    ("events", "event_id"),        # long, timestamp, double, string
    ("part", "p_partkey"),         # long, strings, int, double
])
def test_chunk_roundtrip_all_types(spark, sf_dir, table, sort_col):
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    chunks = encode_partitions(df, sort_cols=[sort_col], partitions=2,
                               chunk_rows=512)
    decoded = decode_chunks(chunks)
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in decoded.collect())
    assert a == b


def test_embeddings_roundtrip_via_plain(spark, sf_dir):
    # array<float> columns ride the plain (IPC) codec
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    chunks = encode_partitions(df, sort_cols=["vec_id"], partitions=2)
    decoded = decode_chunks(chunks)
    a = df.selectExpr("vec_id", "label", "aggregate(embedding, 0D, (s,x) -> s + x) as es").collect()
    b = decoded.selectExpr("vec_id", "label", "aggregate(embedding, 0D, (s,x) -> s + x) as es").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_update_contract_validation(spark):
    ok = spark.createDataFrame(
        [("Update", 1, "a"), ("Update", 1, "b"), ("Delete", 2, None)],
        "type string, sk int, v string")
    validate_updates(ok, ["sk"])  # no raise

    mixed = spark.createDataFrame(
        [("Update", 1, "a"), ("Delete", 1, None)],
        "type string, sk int, v string")
    with pytest.raises(UpdateContractViolation):
        validate_updates(mixed, ["sk"])

    double_delete = spark.createDataFrame(
        [("Delete", 1, None), ("Delete", 1, None)],
        "type string, sk int, v string")
    with pytest.raises(UpdateContractViolation):
        validate_updates(double_delete, ["sk"])


def test_decimal_keys_through_producer(spark):
    """decimal(18,2) target keys flow through a stage (the reference's
    credit-matching key uses decimal AbsAmount — Program.cs:66)."""
    import pandas as pd
    from decimal import Decimal

    from parquet_producers_spark.operators.produce import (
        Stage,
        empty_state,
        update_stage,
    )

    def produce(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "amt": pdf["amount"].abs(),
            "inv": pdf["invoice"],
        })

    stage = Stage("dec", ["file"], ["amt"], ["inv"], produce,
                  "amt decimal(18,2), inv string")
    upd = spark.createDataFrame(
        [("Add", "f", Decimal("10.50"), "a"),
         ("Add", "f", Decimal("-10.50"), "b")],
        "type string, file string, amount decimal(18,2), invoice string")
    content, mappings, updates_out = update_stage(
        stage, *empty_state(spark, stage, upd), upd)
    rows = sorted((str(r.amt), r.inv) for r in content.collect())
    assert rows == [("10.50", "a"), ("10.50", "b")]
    assert updates_out.filter("type = 'Add'").count() == 1


def test_throttled_logger_drops_within_interval():
    """Reference Util/ThrottledLogger.cs: first message after the window
    opens is emitted, later ones within the interval are dropped."""
    import logging

    from parquet_producers_spark.util import ThrottledLogger

    emitted = []

    class Sink(logging.Handler):
        def emit(self, record):
            emitted.append(record.getMessage())

    lg = logging.getLogger("pps-test-throttle")
    lg.setLevel(logging.INFO)
    lg.addHandler(Sink())
    t = ThrottledLogger(lg, interval_s=60.0)
    t.info("first %d", 1)
    t.info("second")
    t.info("third")
    assert emitted == ["first 1"]
    assert t.dropped == 2
    t._last = float("-inf")  # window reopens
    t.info("fourth")
    assert emitted == ["first 1", "fourth"]


def test_pipeline_validate_rejects_mixed_stream(spark, tmp_path):
    """Pipeline.update(validate=True) fails fast on a feed mixing a
    Delete with upserts for one key (op 23 at the DAG surface)."""
    import pandas as pd
    import pytest

    from parquet_producers_spark.operators.produce import (
        Stage,
        UpdateContractViolation,
    )
    from parquet_producers_spark.plans.dag import Pipeline

    def ident(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": [int(key[0])] * len(pdf),
                             "text": pdf["text"]})

    p = Pipeline(spark, str(tmp_path))
    p.add(Stage("phrases", ["src_id"], ["id"], ["text"], ident,
                "id int, text string"))
    bad = spark.createDataFrame(
        [("Add", 1, "x"), ("Delete", 1, None)],
        "type string, src_id int, text string")
    with pytest.raises(UpdateContractViolation):
        p.update({"phrases": bad}, validate=True)
    # the failed transaction committed nothing
    assert p.version("phrases") == 0
    good = spark.createDataFrame(
        [("Add", 1, "x")], "type string, src_id int, text string")
    assert p.update({"phrases": good}, validate=True) == 1


def test_run_produce_one_call_per_key_across_batches(spark):
    """produce sees exactly ONE call per distinct SK, the null key
    included (one group, as Spark's groupBy would form), and each call
    gets the key's full group — even when a key spans several Arrow
    batches (batches of 3 rows here), and when one hot key spans 50
    batches in a row."""
    from collections import Counter

    import pandas as pd

    from parquet_producers_spark.operators.produce import Stage, run_produce

    def produce(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # one row per call: the group this call saw
        return pd.DataFrame({"seen": [",".join(sorted(map(str, pdf["v"])))]})

    sizes = {"a": 13, "b": 2, None: 7, "c": 1, "hot": 150}
    keys = [k for k, n in sizes.items() for _ in range(n)]
    rows = [("Add", k, v) for v, k in enumerate(keys)]
    groups = {k: ",".join(sorted(str(r[2]) for r in rows if r[1] == k))
              for k in sizes}
    upserts = spark.createDataFrame(rows[::-1],
                                    "type string, sk string, v int")
    stage = Stage("calls", ["sk"], ["seen"], [], produce, "seen string")

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        got = run_produce(stage, upserts).collect()
    finally:
        spark.conf.set(conf, old)
    # exactly one call per key, and that call saw the key's full group
    assert sorted(Counter(r.sk for r in got).values()) == [1] * len(sizes)
    assert {r.sk: r.seen for r in got} == groups
