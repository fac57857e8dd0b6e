"""Integration: a producer stage's versioned content table, encoded by
the codec engine with manifests, decodes bit-identically — the full
M2+M3+M4 path (produce → reconcile → versioned state → encode → resume
→ decode)."""

from __future__ import annotations

import hashlib

import pandas as pd

from parquet_producers_spark.encoder import decode_chunks
from parquet_producers_spark.operators.produce import Stage
from parquet_producers_spark.plans.dag import Pipeline
from parquet_producers_spark.storage import encode_run, read_chunks


def _split_words(key, pdf: pd.DataFrame) -> pd.DataFrame:
    words = []
    for t in pdf["text"]:
        words.extend(t.split(" "))
    return pd.DataFrame({"word": words, "val_id": [int(key[0])] * len(words)})


def test_producer_content_through_codec(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path / "dag"))
    p.add(Stage("words", ["id"], ["word"], ["val_id"], _split_words,
                "word string, val_id int"))
    upd = spark.createDataFrame(
        [("Add", i, f"alpha beta gamma delta w{i % 7} w{i % 3}")
         for i in range(200)],
        "type string, id int, text string")
    v = p.update({"words": upd})
    content = p.content("words", v)

    res = encode_run(
        spark, content, str(tmp_path / "enc"), "words_content", version=v,
        sort_cols=["word", "id"], n_slices=2, cascade=True,
        input_fingerprint=f"words@v{v}",
    )
    assert all(not r.skipped for r in res)
    decoded = decode_chunks(
        read_chunks(spark, str(tmp_path / "enc"), "words_content", v))

    def digest(df):
        rows = sorted(tuple(r) for r in df.collect())
        h = hashlib.sha256(repr(rows).encode()).hexdigest()
        return len(rows), h

    assert digest(decoded) == digest(content)
    # codec metrics flowed into the manifests
    assert sum(r.metrics["rows"] for r in res) == content.count()
    assert all(r.metrics["by_codec"] for r in res)
