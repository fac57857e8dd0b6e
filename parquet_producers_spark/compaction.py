"""Chunk-table compaction — the encoded format's ``rewrite_data_files``.

Incremental waves (plans/dag.py) and per-partition encodes leave *runt*
chunks behind: a partition's trailing chunk, and every small delta
wave, has ``n_rows < chunk_rows``. Over many versions the chunk table
accumulates them, which degrades reads three ways — more manifest rows
to plan over, coarser zone-map selectivity per stored byte, and
per-chunk codec overhead (symbol tables, dictionaries) paid on tiny row
counts.

One runt kernel serves ``compact_chunks`` (a chunk frame),
``compact_stage`` (a versioned stage) and the ``compact_if_needed``
policy gate:

1. per slice: chunks, runts, runt rows and max ``part_id``. A stage
   reads them from its v=N slice manifests (counted once at commit,
   storage.py), so the gate starts no Spark job; manifests without
   them are skipped with one log line, never recounted. A chunk frame
   counts them in one blob-free aggregate (``encoder.chunk_stats``);
2. the chunk-drop gate: a slice is rewritten only when its runt rows
   fit in fewer chunks than it has runts, ⌈runt_rows / chunk_rows⌉ <
   runts, with a stage's own ``chunk_rows``. A slice whose runts cannot
   merge (one chunk per slice, the normal shape of a small wave) is
   not decoded at all;
3. the runts of merging slices are decoded, shuffle-sorted back into
   key order and re-encoded through the normal encode path, with AQE
   sizing the partitions (small runt sets coalesce, so a slice's runts
   usually become ⌈runt_rows / chunk_rows⌉ chunks; a large runt set may
   keep a few partitions and end with a few more);
4. rewritten chunks get fresh ``part_id``s above the max, so chunk
   identities never collide with survivors. Full chunks, and the runts
   of slices that cannot merge, pass through with their encoded blobs
   byte-identical.

Every decision is logged on the ``parquet_producers_spark`` logger with
the chunk count before and the predicted count after; a stage rewrite
adds the actual count from its new manifests and logs a WARNING when
the rewrite did not lower it.

This is the same contract as Iceberg's binpack ``rewrite_data_files``
(public docs; see PAPERS.md): row multiset is preserved bit-identically,
small files merge into full ones, and clustering is restored by the
rewrite's sort — while untouched files are carried by reference. The
reference system has no analogue (its per-version rewrite is total:
Parquet.Producers/ParquetProduction.cs regenerates whole tables), which
is exactly why an incremental engine at 100 TB needs this op: rewriting
0.1% runt bytes instead of 100% is the difference between a nightly
maintenance job and a full recompute.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .encoder import (
    CHUNK_ROWS,
    chunk_ident,
    chunk_stats,
    decode_chunks,
    encode_partitions,
)
from .storage import (
    _DEFAULT_STORE,
    commit_slices,
    manifest_path,
    read_chunks,
    slice_id_of,
)

_log = logging.getLogger("parquet_producers_spark")


def _gate(stats: dict[int, dict], chunk_rows: int) -> dict[int, dict]:
    """The chunk-drop gate over per-slice chunk stats: a slice
    ``merges`` when its runts fit in fewer chunks, and ``after`` is its
    predicted chunk count."""
    plan = {}
    for k, s in stats.items():
        merged = -(-s["runt_rows"] // chunk_rows)
        merges = merged < s["runts"]
        plan[k] = {**s, "merges": merges, "after": s["n_chunks"] - (
            s["runts"] - merged if merges else 0)}
    return plan


def _log_decision(what: str, plan: dict[int, dict], ran: bool,
                  why: str = "", actual: int | None = None) -> None:
    """One line per gate decision: chunks before, predicted (and, once a
    rewrite committed, actual) after, runt rows, ran or skipped — a
    WARNING when a rewrite did not lower the chunk count."""
    before = sum(s["n_chunks"] for s in plan.values())
    _log.log(
        logging.WARNING if ran and actual is not None and actual >= before
        else logging.INFO,
        "compaction %s: %s; chunks %d -> %d predicted%s, runt rows %d, "
        "%d/%d slices merge%s", what, "rewrite ran" if ran else "skipped",
        before, sum(s["after"] for s in plan.values()),
        "" if actual is None else f", {actual} actual",
        sum(s["runt_rows"] for s in plan.values()),
        sum(s["merges"] for s in plan.values()), len(plan),
        f" ({why})" if why else "")


def _stage_plan(root: str, stage: str, version: int,
                store) -> tuple[dict, dict[int, dict] | None]:
    """Version ``N``'s header (slice-0 manifest) and the gate plan from
    the chunk stats of every v=N slice manifest — no Spark job. The plan
    is ``None`` (logged) when a manifest predates those stats."""
    store = store or _DEFAULT_STORE
    base = store.read_json(manifest_path(root, stage, version, 0))
    metrics = {0: base["metrics"]} | {
        k: store.read_json(manifest_path(root, stage, version, k))["metrics"]
        for k in range(1, int(base["slice_of"]))}
    if any(f not in m for m in metrics.values()
           for f in ("n_chunks", "runts", "runt_rows", "max_pid")):
        _log.info("compaction %s v=%d: skipped; its slice manifests carry "
                  "no chunk stats", stage, version)
        return base, None
    return base, _gate(metrics, int(base["chunk_rows"]))


def _compact(chunks: DataFrame, sort_cols: list[str], chunk_rows: int,
             cascade: bool, profile: str, plan: dict[int, dict],
             slice_of: Column | None = None) -> DataFrame:
    """The runt kernel over a gate ``plan``. ``slice_of`` re-derives
    the slice of a decoded row for a ``slice_id``-partitioned table;
    without it the whole frame is one slice."""
    merging = [k for k, s in plan.items() if s["merges"]]
    if not merging:
        return chunks
    pid_base = max(s["max_pid"] for s in plan.values()) + 1
    rewrite = F.col("n_rows") < chunk_rows
    if slice_of is not None:
        rewrite = rewrite & F.col("slice_id").isin(merging)
    rows = decode_chunks(chunks.filter(rewrite))
    if slice_of is not None:
        rows = rows.withColumn("__slice", slice_of)
    rewritten = encode_partitions(
        rows, sort_cols=sort_cols, chunk_rows=chunk_rows, cascade=cascade,
        profile=profile,
        slice_col="__slice" if slice_of is not None else None,
    ).withColumn("part_id", (F.col("part_id") + F.lit(pid_base)).cast("int"))
    return chunks.filter(~rewrite).unionByName(rewritten)


def compact_chunks(
    chunks: DataFrame,
    sort_cols: list[str],
    chunk_rows: int = CHUNK_ROWS,
    cascade: bool = False,
    profile: str = "size",
) -> DataFrame:
    """Return a compacted chunk table: full chunks unchanged (same
    blobs), runt chunks re-encoded sorted by ``sort_cols`` when they
    can merge into fewer chunks — else the table is returned as is.

    The rewritten region is key-clustered by ``sort_cols``; physical
    ``(part_id, chunk_seq)`` order interleaves survivors and rewrites,
    so readers that need total key order sort on the key (the engine's
    datasets are key-sorted sets — reference SURVEY.md §1.1 — and every
    consumer already merges on key).
    """
    layout_cols = chunk_ident(chunks)[:-2]
    if layout_cols:
        raise ValueError(
            f"compact_chunks operates on one stored table; layout columns "
            f"{layout_cols} present — filter to a single slice first")
    plan = _gate(chunk_stats(chunks, chunk_rows), chunk_rows)
    _log_decision("chunk frame", plan,
                  ran=any(s["merges"] for s in plan.values()))
    return _compact(chunks, sort_cols, chunk_rows, cascade, profile, plan)


def compact_stage(
    spark,
    root: str,
    stage: str,
    version: int,
    cascade: bool = False,
    profile: str = "size",
    store=None,
):
    """Maintenance transaction over the versioned layout
    (storage.py): read stage version ``N``, run the runt kernel over
    every slice, write version ``N+1`` with fresh per-slice manifests
    carrying ``compacted_from`` lineage. Readers keep using ``v=N``
    until the new version's manifests land — the same visibility rule
    as any other version, so compaction is concurrency-safe by
    construction.

    Geometry and slice discipline come from the v=N manifests, not from
    caller arguments: runts are judged against the stage's own
    ``chunk_rows``, and decoded runt rows re-derive their slice from
    the SAME hash the original encode used (``slice_col`` +
    ``slice_of``), so rewritten chunks land in their original slice
    partitions and slice-level resume keeps working — a killed
    compaction re-runs only the slices whose v=N+1 manifest is
    missing. Slices whose runts cannot merge are carried byte-identical.

    Returns the list of :class:`storage.SliceResult` for v=N+1 (empty,
    and nothing written, when the v=N manifests carry no chunk stats).
    """
    base, plan = _stage_plan(root, stage, version, store)
    if plan is None:
        return []
    slice_col, n_slices = base["slice_col"], int(base["slice_of"])
    sort_cols, chunk_rows = list(base["sort_cols"]), int(base["chunk_rows"])

    def build(todo: list[int]) -> DataFrame:
        chunks = read_chunks(spark, root, stage, version).filter(
            F.col("slice_id").isin(todo))
        return _compact(chunks, sort_cols, chunk_rows, cascade, profile,
                        plan, slice_of=slice_id_of(slice_col, n_slices))

    res = commit_slices(spark, root, stage, version + 1, n_slices, build, {
        "slice_col": slice_col, "sort_cols": sort_cols,
        "chunk_rows": chunk_rows, "compacted_from": version,
    }, store)
    _log_decision(f"{stage} v={version}", plan,
                  ran=any(s["merges"] for s in plan.values()),
                  actual=sum(r.metrics["n_chunks"] for r in res))
    return res


def compact_if_needed(
    spark,
    root: str,
    stage: str,
    version: int,
    min_runt_fraction: float = 0.25,
    store=None,
    **kwargs,
) -> int:
    """Policy gate for periodic maintenance: decide from the v=N slice
    MANIFESTS (no Spark job, no chunk read) whether version ``N`` is
    worth a rewrite, and if so run :func:`compact_stage`. It is, when
    runts are at least ``min_runt_fraction`` of its chunks AND some
    slice's runts can merge into fewer chunks (the kernel's chunk-drop
    gate).

    Returns the version readers should use afterwards: ``N+1`` if a
    compaction ran, else ``N``. Idempotent and cheap when healthy — a
    few small JSON reads — so a scheduler can call this after every
    wave.
    """
    _, plan = _stage_plan(root, stage, version, store)
    if plan is None:
        return version
    n = sum(s["n_chunks"] for s in plan.values())
    runts = sum(s["runts"] for s in plan.values())
    what = f"{stage} v={version}"
    if not n or runts / n < min_runt_fraction:
        _log_decision(what, plan, ran=False,
                      why=f"runt fraction under {min_runt_fraction}")
        return version
    if not any(s["merges"] for s in plan.values()):
        _log_decision(what, plan, ran=False, why="no runts can merge")
        return version
    compact_stage(spark, root, stage, version, store=store, **kwargs)
    return version + 1
