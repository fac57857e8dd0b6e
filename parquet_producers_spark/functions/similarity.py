"""Similarity search over an embedding column (task mandate).

* :func:`cosine_topk` — brute-force exact top-k: probe×corpus join with
  the dot product as a JVM-side ``F.aggregate``/``F.zip_with`` over the
  array column (no Python). Quadratic — the correctness baseline and
  the per-bucket kernel of the scale path.
* :func:`lsh_ann_topk` — the scale path: random-hyperplane LSH.
  Deterministic pseudo-hyperplanes are derived per (plane, dim) from
  the same splitmix64 used everywhere; each vector gets a B-bit sign
  bucket; probes only join their own bucket (plus optional multi-probe
  neighbors), so cost is ~n/2^B per probe instead of n.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F

from ..datagen import _splitmix64
from ..util import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    ))


def cosine_expr(a, b):
    """Unrounded cosine of two array columns (threshold comparisons use
    this; round only in projections)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def with_cosine(joined: DataFrame, a_col: str, b_col: str) -> DataFrame:
    return joined.withColumn(
        "cosine", F.round(cosine_expr(F.col(a_col), F.col(b_col)), 4)
    )


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _dot_sql(a: str, b: str, dim: int) -> str:
    """Fixed-width dot product as ONE SQL expression string: a
    left-associated chain of ``a[i]*b[i]`` terms — plain codegen'd
    arithmetic, built with a single parser call. Two measured costs
    motivate this over the generic :func:`_dot` (guide §4.1 / §1):
    the higher-order ``aggregate`` fold runs interpreted per element
    (~2× slower at 200k×64), and building the same chain with PySpark
    Column operators costs hundreds of py4j round-trips PER QUERY
    BUILD (~1.5 s driver-side, measured — more than the job itself).
    The fold order and per-element casts are identical to the generic
    path (``((0.0 + a0·b0) + a1·b1) + …``), so results are bit-for-bit
    the same on ``dim``-length inputs."""
    qa, qb = _q(a), _q(b)
    return "0.0D + " + " + ".join(
        f"CAST({qa}[{i}] AS DOUBLE) * CAST({qb}[{i}] AS DOUBLE)"
        for i in range(dim))


def _norm_sql(a: str, dim: int) -> str:
    """L2 norm as a SQL string; same rationale/order as :func:`_dot_sql`."""
    qa = _q(a)
    return "SQRT(0.0D + " + " + ".join(
        f"CAST({qa}[{i}] AS DOUBLE) * CAST({qa}[{i}] AS DOUBLE)"
        for i in range(dim)) + ")"


def table_planes(dim: int, bits: int, n_tables: int) -> list[list[list[float]]]:
    """The L independent hyperplane tables every LSH consumer in this
    module (and the SQL oracle emitter) derives buckets from — ONE
    place owns the per-table seeding, or the ANN index and the
    pair-finder silently diverge."""
    return [hyperplanes(dim, bits, seed=7 + 131 * t) for t in range(n_tables)]


def cosine_topk(
    corpus: DataFrame, probes: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe (brute force baseline).

    Plan shape (guide §3.1): the tiny PROBE side is broadcast and the
    corpus streams — the r6 plan broadcast the corpus and streamed the
    probes, so the whole probe×corpus scoring ran inside the probe
    scan's task count (ONE task on a single-file probe table). Norms
    are projected per side BEFORE the join, so each vector's norm is
    computed once instead of once per candidate pair (same expression,
    bit-identical doubles). ``dim`` opts into the fixed-width SQL-string
    dot/norm (see :func:`_dot_sql`)."""
    from pyspark.sql import Window

    def nrm(col: str) -> Column:
        if not dim:
            return _norm(F.col(col))
        # fixed-width terms would score a shorter vector NULL and a
        # longer one on its first ``dim`` elements: fail instead
        ok = F.col(col).isNull() | (F.size(col) == dim)
        return F.coalesce(F.assert_true(
            ok, f"cosine_topk: a {col} vector's size is not dim={dim}"),
            F.expr(_norm_sql(col, dim)))

    c = corpus.select(F.col(id_col).alias("nbr_id"),
                      F.col(vec_col).alias("nbr_vec"),
                      nrm(vec_col).alias("__nbr_norm"))
    p = probes.select(F.col(id_col).alias("probe_id"),
                      F.col(vec_col).alias("probe_vec"),
                      nrm(vec_col).alias("__probe_norm"))
    joined = c.join(F.broadcast(p), F.col("probe_id") != F.col("nbr_id"))
    dot = (F.expr(_dot_sql("probe_vec", "nbr_vec", dim)) if dim
           else _dot(F.col("probe_vec"), F.col("nbr_vec")))
    scored = joined.withColumn(
        "cosine",
        F.round(dot / (F.col("__probe_norm") * F.col("__nbr_norm")), 4))
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "nbr_id", "cosine", "rank")
    )


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(
    corpus: DataFrame, n_centroids: int = 8, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic mini k-means.

    Init = the vectors with the ``n_centroids`` smallest ids (fixed,
    reproducible in SQL); ``iters`` Lloyd rounds of assign-to-nearest
    (squared L2, ties by centroid id) + elementwise-mean update.
    Returns ``(centroids(cl, cvec), assignment(id, cl, vec))``.

    Assignment is a per-row argmin over the centroid set embedded as an
    array of struct literals — NO row amplification: a crossJoin +
    window would blow the corpus up ×n_centroids (full embedding
    duplicated per candidate) before the top-1, i.e. +800% shuffle
    bytes per Lloyd round at 100 TB. Centroids are collected per round
    (n_centroids × dim doubles — driver-bounded, same small side the
    old broadcast shipped) which also truncates the iterative lineage.
    """
    def _collect_cents(df) -> list[tuple[int, list[float]]]:
        return [(int(r["cl"]), [float(x) for x in r["cvec"]])
                for r in df.collect()]

    def _best_cl(cent_rows):
        # array_min over struct(dist, cl): struct ordering = min dist,
        # ties by centroid id — identical semantics to the SQL oracle's
        # ORDER BY dist, cl LIMIT 1
        arr = F.array(*[
            F.struct(
                _sq_l2(F.col("__vec"), F.array(*[F.lit(x) for x in cvec])
                       ).alias("dist"),
                F.lit(cl).alias("cl"),
            )
            for cl, cvec in cent_rows
        ])
        return F.array_min(arr)["cl"]

    def assign(cent_rows):
        return corpus.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
        ).withColumn("cl", _best_cl(cent_rows)).select("__id", "cl", "__vec")

    spark = corpus.sparkSession
    cent_rows = _collect_cents(
        corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cl"), F.col(vec_col).alias("cvec")))
    if not cent_rows:
        # no seed vectors (e.g. a shard whose ids all exceed
        # n_centroids): degrade to empty index frames, like the old
        # crossJoin formulation did, instead of failing analysis on an
        # empty literal array
        cents = local_frame(spark, [], "cl bigint, cvec array<double>")
        empty_assign = corpus.select(
            F.col(id_col).alias("__id"),
            F.lit(None).cast("bigint").alias("cl"),
            F.col(vec_col).alias("__vec"),
        ).limit(0)
        return cents, empty_assign
    for _ in range(iters):
        best = assign(cent_rows)
        cent_rows = _collect_cents(
            best.select("cl", F.posexplode("__vec").alias("dim", "x"))
            .groupBy("cl", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("w"))
            .groupBy("cl")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("s"))
            .select("cl", F.transform("s", lambda t: t["w"]).alias("cvec"))
        )
    cents = local_frame(spark, cent_rows, "cl bigint, cvec array<double>")
    return cents, assign(cent_rows)


def ivf_topk(
    corpus: DataFrame, probes: DataFrame, k: int = 5,
    n_centroids: int = 8, iters: int = 2, n_probe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: probe the ``n_probe`` nearest coarse clusters only.

    Candidates per probe ≈ n_probe/n_centroids of the corpus, from an
    equi-join on the cluster id (the inverted file). Exact cosine top-k
    inside the probed clusters.
    """
    from pyspark.sql import Window

    cents, assign = ivf_assign(corpus, n_centroids, iters, id_col, vec_col)
    inv = assign.select(F.col("__id").alias("nbr_id"),
                        F.col("cl"), F.col("__vec").alias("nbr_vec"))
    p = probes.select(F.col(id_col).alias("probe_id"),
                      F.col(vec_col).alias("probe_vec"))
    # n_probe nearest clusters per probe, amplification-free like
    # ivf_assign: sort the literal centroid array by (dist, cl), slice
    # n_probe, explode — fan-out ×n_probe, not ×n_centroids
    cent_rows = [(int(r["cl"]), [float(x) for x in r["cvec"]])
                 for r in cents.collect()]
    if not cent_rows:
        # empty index (ivf_assign degraded on a seed-less corpus):
        # an empty literal array types as array<void> and the __e.cl
        # extraction fails ANALYSIS — return the empty result the old
        # crossJoin formulation produced instead
        return p.select(
            "probe_id",
            F.lit(None).cast("bigint").alias("nbr_id"),
            F.lit(None).cast("double").alias("cosine"),
            F.lit(None).cast("int").alias("rank"),
        ).limit(0)
    scored_arr = F.sort_array(F.array(*[
        F.struct(
            _sq_l2(F.col("probe_vec"), F.array(*[F.lit(x) for x in cvec])
                   ).alias("dist"),
            F.lit(cl).alias("cl"),
        )
        for cl, cvec in cent_rows
    ]))
    probe_cl = (
        p.withColumn("__e", F.explode(F.slice(scored_arr, 1, n_probe)))
        .select("probe_id", "probe_vec", F.col("__e.cl").alias("cl"))
    )
    joined = (
        probe_cl.join(inv, "cl")
        .filter(F.col("probe_id") != F.col("nbr_id"))
    )
    scored = with_cosine(joined, "probe_vec", "nbr_vec")
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "nbr_id", "cosine", "rank")
    )


def embedding_near_pairs(
    corpus: DataFrame, threshold: float = 0.3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine ≥ threshold) —
    the exact verifier (quadratic by design, like
    :func:`dedup.jaccard_pairs` for shingles); at corpus scale the
    candidates come from :func:`lsh_ann_topk`'s buckets or
    :func:`ivf_topk`'s clusters and this runs per bucket. The threshold
    compares the unrounded cosine; rounding only in the projection."""
    a = corpus.select(F.col(id_col).alias("doc_a"),
                      F.col(vec_col).alias("__va"))
    b = corpus.select(F.col(id_col).alias("doc_b"),
                      F.col(vec_col).alias("__vb"))
    raw = cosine_expr(F.col("__va"), F.col("__vb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(raw >= threshold)
        .select("doc_a", "doc_b", F.round(raw, 4).alias("cosine"))
    )


def embedding_near_pairs_bucketed(
    corpus: DataFrame, threshold: float = 0.3, bits: int = 4,
    n_tables: int = 16, dim: int = 64, multi_probe: bool = True,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs, bucketed — the scale path of
    :func:`embedding_near_pairs` (same composition that makes
    ``simhash_near_pairs`` scale: bucket equi-join candidates, exact
    filter, no cartesian).

    Candidates = pairs whose ``bits``-bit sign signatures are within
    Hamming 1 in ANY of ``n_tables`` hyperplane tables (Hamming-1 via
    a-side single-bit flips — ``multi_probe``). Exact cosine is then
    computed on candidates only. All signatures come from ONE corpus
    scan (array of per-table buckets, checkpointed); the explode fans
    out ids + buckets only — vectors are re-attached per side AFTER
    pair dedup, so the 64-float arrays never multiply through the
    ×(n_tables·(bits+1)) fan-out.

    Recall is parameter-driven (not pigeonholed like simhash): P[miss]
    per table = 1 - P[ham<=1] with per-bit agreement 1-θ/π. At real
    near-dup thresholds (cosine ≥ .9) a handful of tables reaches
    recall ~1 while pruning hard; the driver-data thresholds are far
    looser, so the driver query runs wide (bits=4, L=16 — measured
    recall 1.0 vs brute force on the gate data, pinned by pytest).
    """
    sigs = F.array(*[
        lsh_bucket(F.col(vec_col), planes)
        for planes in table_planes(dim, bits, n_tables)
    ])
    base = (
        corpus.select(F.col(id_col).alias("id"), sigs.alias("sigs"))
        .localCheckpoint(eager=False)  # one scan feeds both join sides
    )
    own = [
        F.struct(F.lit(t).alias("tbl"), F.col("sigs")[t].alias("bucket"))
        for t in range(n_tables)
    ]
    probe = own + ([
        F.struct(F.lit(t).alias("tbl"),
                 F.col("sigs")[t].bitwiseXOR(F.lit(1 << i)).alias("bucket"))
        for t in range(n_tables) for i in range(bits)
    ] if multi_probe else [])
    a = base.select(F.col("id").alias("doc_a"),
                    F.explode(F.array(*probe)).alias("e")
                    ).select("doc_a", "e.tbl", "e.bucket")
    b = base.select(F.col("id").alias("doc_b"),
                    F.explode(F.array(*own)).alias("e")
                    ).select("doc_b", "e.tbl", "e.bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("doc_a"),
                       F.col(vec_col).alias("__va"))
    vb = corpus.select(F.col(id_col).alias("doc_b"),
                       F.col(vec_col).alias("__vb"))
    raw = cosine_expr(F.col("__va"), F.col("__vb"))
    return (
        cand.join(va, "doc_a").join(vb, "doc_b")
        .filter(raw >= threshold)
        .select("doc_a", "doc_b", F.round(raw, 4).alias("cosine"))
    )


def hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]."""
    idx = np.arange(bits * dim, dtype=np.uint64) + np.uint64(seed * 1_000_003)
    vals = (_splitmix64(idx).astype(np.float64) / 2**63) - 1.0
    return vals.reshape(bits, dim).tolist()


def lsh_bucket(vec, planes: list[list[float]]):
    """B-bit sign bucket of a vector under the given hyperplanes."""
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, arr) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_ann_topk(
    corpus: DataFrame, probes: DataFrame, k: int = 5, bits: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
    multi_probe: bool = True, n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's bucket(s).

    Two standard recall knobs, both keeping the join an equi-join:

    * ``multi_probe`` — each probe additionally checks every Hamming-1
      neighbor bucket (single-plane sign flips), the fix for vectors
      near a hyperplane. Only the tiny probe frame fans out ×(B+1); the
      corpus side is untouched.
    * ``n_tables`` — LSH amplification: L independent hyperplane sets;
      a pair is a candidate if it collides in ANY table. The corpus
      carries L bucket entries (at 100 TB: L materialized bucketed
      indexes, the classical storage/recall trade), probes join on
      (table, bucket). Miss probability decays as miss_one^L.

    Candidates reached via several buckets/tables are deduped before
    the exact cosine scoring.
    """
    from pyspark.sql import Window

    c_entries, p_entries = [], []
    for t, planes in enumerate(table_planes(dim, bits, n_tables)):
        own = lsh_bucket(F.col(vec_col), planes)
        c_entries.append(F.struct(F.lit(t).alias("tbl"), own.alias("bucket")))
        p_buckets = [own] + (
            [own.bitwiseXOR(F.lit(1 << i)) for i in range(bits)]
            if multi_probe else []
        )
        p_entries += [
            F.struct(F.lit(t).alias("tbl"), pb.alias("bucket"))
            for pb in p_buckets
        ]
    c = corpus.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec"),
        F.explode(F.array(*c_entries)).alias("e"),
    ).select("nbr_id", "nbr_vec", "e.tbl", "e.bucket")
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"),
        F.explode(F.array(*p_entries)).alias("e"),
    ).select("probe_id", "probe_vec", "e.tbl", "e.bucket")
    joined = (
        p.join(c, ["tbl", "bucket"])
        .filter(F.col("probe_id") != F.col("nbr_id"))
        .dropDuplicates(["probe_id", "nbr_id"])
    )
    scored = with_cosine(joined, "probe_vec", "nbr_vec")
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "nbr_id", "cosine", "rank")
    )
