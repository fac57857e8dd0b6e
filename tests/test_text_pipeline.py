"""PII redaction and benchmark-decontamination semantics (the oracle
rows pin cross-engine parity; these pin the intended behavior)."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_producers_spark.functions.dedup import contamination_scores
from parquet_producers_spark.functions.text import (
    bpe_token_count,
    bpe_token_count_sql,
    pii_counts,
    quality_score,
    quality_score_sql,
    redact_pii,
)


def test_redact_pii_scrubs_emails_then_ips(spark):
    df = spark.createDataFrame(
        [(1, "write to a.user+x@sub.example.org or ping 192.168.0.254 now"),
         (2, "no pii here, just 12345 and dots... end"),
         (3, "two mails a@b.co c@d.io and ip 10.0.0.1")],
        "id int, t string")
    n_emails, n_ips = pii_counts(F.col("t"))
    rows = {r["id"]: r for r in df.select(
        "id", redact_pii(F.col("t")).alias("red"),
        n_emails.alias("ne"), n_ips.alias("ni")).collect()}
    assert rows[1]["red"] == "write to <EMAIL> or ping <IP> now"
    assert (rows[1]["ne"], rows[1]["ni"]) == (1, 1)
    assert rows[2]["red"] == "no pii here, just 12345 and dots... end"
    assert (rows[2]["ne"], rows[2]["ni"]) == (0, 0)
    assert rows[3]["red"] == "two mails <EMAIL> <EMAIL> and ip <IP>"
    assert (rows[3]["ne"], rows[3]["ni"]) == (2, 1)


def test_contamination_scores_fraction_of_bench_shingles(spark):
    # bench doc = "a b c d"; candidate 10 shares shingle "a b c";
    # candidate 11 shares nothing
    bench = spark.createDataFrame([(1, "a b c d")], "doc_id int, text string")
    cand = spark.createDataFrame(
        [(10, "a b c x y"), (11, "p q r s t")], "doc_id int, text string")
    rows = {r["doc_id"]: r
            for r in contamination_scores(cand, bench).collect()}
    # cand 10 shingles: "a b c","b c x","c x y" → 1 of 3 in bench
    assert rows[10]["n_shingles"] == 3 and rows[10]["n_hit"] == 1
    assert abs(rows[10]["contamination"] - round(1 / 3, 4)) < 1e-9
    assert rows[11]["n_hit"] == 0 and rows[11]["contamination"] == 0.0


def test_repetition_stats_known_values(spark):
    from parquet_producers_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a a b"),          # top word 4/5, 3-grams: aaa,aaa,aab → 2/3 distinct
         (2, "p q r s t")],         # all distinct
        "doc_id int, text string")
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["n_words"] == 5
    assert rows[1]["top_word_frac"] == 0.8
    assert rows[1]["dup_3gram_frac"] == round(1 - 2 / 3, 4)
    assert rows[2]["top_word_frac"] == 0.2
    assert rows[2]["dup_3gram_frac"] == 0.0


def test_sequence_pack_bins_and_offsets(spark):
    from parquet_producers_spark.functions.splits import sequence_pack

    # one lang, one shard (n_shards=1): docs of 3,4,2 tokens, budget 5
    df = spark.createDataFrame(
        [(0, "en", "a b c"), (1, "en", "d e f g"), (2, "en", "h i")],
        "doc_id long, lang string, text string")
    rows = {r["doc_id"]: r
            for r in sequence_pack(df, budget=5, n_shards=1).collect()}
    # starts: 0, 3, 7 → bins 0, 0, 1; offsets 0, 3, 2
    assert (rows[0]["bin_id"], rows[0]["bin_offset"]) == (0, 0)
    assert (rows[1]["bin_id"], rows[1]["bin_offset"]) == (0, 3)
    assert (rows[2]["bin_id"], rows[2]["bin_offset"]) == (1, 2)
    # a doc longer than the budget still gets a deterministic slot
    big = spark.createDataFrame(
        [(0, "en", " ".join(["w"] * 12)), (1, "en", "x y")],
        "doc_id long, lang string, text string")
    rows = {r["doc_id"]: r
            for r in sequence_pack(big, budget=5, n_shards=1).collect()}
    assert (rows[0]["bin_id"], rows[0]["bin_offset"]) == (0, 0)
    assert (rows[1]["bin_id"], rows[1]["bin_offset"]) == (2, 2)  # start 12


def test_degenerate_docs_shingle_alignment(spark):
    """Empty/whitespace docs: every Spark shingle site drops zero-length
    shingles (the oracle CTE mirrors this) — repetition stats stay
    defined and deterministic."""
    from parquet_producers_spark.functions.dedup import word_shingles
    from parquet_producers_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, ""), (2, " "), (3, "only two")], "doc_id int, text string")
    # empty text → zero shingles; " " → two empty tokens join to the
    # single shingle " " (concat_ws keeps empties — DuckDB's
    # array_to_string does the same, so the engines agree)
    assert word_shingles(df).filter(F.col("doc_id") == 1).count() == 0
    got2 = word_shingles(df).filter(F.col("doc_id") == 2).collect()
    assert [r["shingle"] for r in got2] == [" "]
    assert (word_shingles(df).filter(F.col("doc_id") == 3).collect()[0]
            ["shingle"] == "only two")
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["dup_3gram_frac"] == 1.0   # no informative shingles
    assert rows[3]["dup_3gram_frac"] == 0.0   # its one shingle is distinct


def test_connected_components_conducts_through_missing_vertices(spark):
    """A pair-graph endpoint absent from the caller's vertex frame must
    still conduct connectivity (A-X, X-B with X unlisted → A,B share a
    component); the output stays restricted to the requested set."""
    from parquet_producers_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 100), (100, 2)], "doc_a long, doc_b long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(pairs, vertices=verts).collect()}
    assert set(got) == {1, 2, 3}          # output = requested set only
    assert got[1] == got[2] == 1          # connected THROUGH vertex 100
    assert got[3] == 3                    # isolated maps to itself


def test_ivf_topk_empty_centroids_returns_empty(spark):
    """A corpus whose ids all exceed n_centroids yields no seed
    centroids; ivf_topk must return an empty frame, not fail analysis
    on an array<void> literal."""
    from parquet_producers_spark.functions.similarity import ivf_topk

    corpus = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = ivf_topk(corpus, corpus, k=2, n_centroids=8)
    assert out.count() == 0
    assert out.columns == ["probe_id", "nbr_id", "cosine", "rank"]


def test_null_text_scores_alike_on_spark_and_duckdb(spark):
    """A NULL-text doc gets the same ``bpe_token_count`` and
    ``quality_score`` on Spark (``regexp_count``) as in the DuckDB SQL
    the oracle runs: NULL in both engines."""
    import duckdb

    rows = [(1, None, 0), (2, "Hello, the world of 42 cats.", 28)]
    df = spark.createDataFrame(rows, "doc_id int, text string, n_chars int")
    got = [tuple(r) for r in df.select(
        "doc_id", bpe_token_count(F.col("text")),
        quality_score(F.col("text"), F.col("n_chars"))
    ).orderBy("doc_id").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INT, text VARCHAR, n_chars INT)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?)", rows)
    want = con.execute(
        f"SELECT doc_id, {bpe_token_count_sql('text')},"
        f" {quality_score_sql('text', 'n_chars')} FROM d ORDER BY doc_id"
    ).fetchall()
    assert got == want
    assert got[0] == (1, None, None)
