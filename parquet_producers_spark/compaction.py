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

1. ONE manifest aggregate per slice counts chunks, runts, runt rows and
   the max ``part_id`` — column pruning keeps every blob unread;
2. the chunk-drop gate: a slice is rewritten only when its runt rows
   fit in fewer chunks than it has runts, ⌈runt_rows / chunk_rows⌉ <
   runts. A slice whose runts cannot merge (one chunk per slice, the
   normal shape of a small wave) is not decoded at all;
3. the runts of merging slices are decoded, shuffle-sorted back into
   key order and re-encoded through the normal encode path, with AQE
   sizing the partitions (small runt sets coalesce, so a slice's runts
   usually become ⌈runt_rows / chunk_rows⌉ chunks; a large runt set may
   keep a few partitions and end with a few more);
4. rewritten chunks get fresh ``part_id``s above the aggregate's max,
   so chunk identities never collide with survivors. Full chunks, and
   the runts of slices that cannot merge, pass through with their
   encoded blobs byte-identical.

Every decision is logged on the ``parquet_producers_spark`` logger with
the chunk count before and the predicted count after.

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
    CHUNK_ARROW_SCHEMA,
    CHUNK_ROWS,
    decode_chunks,
    encode_partitions,
)

_log = logging.getLogger("parquet_producers_spark")


def _runt_stats(chunks: DataFrame, chunk_rows: int,
                by_slice: bool) -> dict[int, dict]:
    """ONE manifest-scale aggregate: per slice (or for the whole table
    under key 0) its chunks, runts, runt rows, max ``part_id``, and
    whether the runts can merge into fewer chunks."""
    is_runt = F.col("n_rows") < chunk_rows
    by = ["slice_id"] if by_slice else []
    stats = {}
    for r in (
        chunks.filter(F.col("col_idx") == 0).groupBy(*by).agg(
            F.count("*").alias("chunks"),
            F.sum(is_runt.cast("int")).alias("runts"),
            F.sum(F.when(is_runt, F.col("n_rows")).otherwise(0))
            .alias("runt_rows"),
            F.max("part_id").alias("max_pid"),
        ).collect()
    ):
        if not r["chunks"]:
            continue  # empty table: the global aggregate's one null row
        s = {f: int(r[f]) for f in ("chunks", "runts", "runt_rows",
                                    "max_pid")}
        merged = -(-s["runt_rows"] // chunk_rows)
        s["merges"] = merged < s["runts"]
        s["after"] = s["chunks"] - (s["runts"] - merged if s["merges"] else 0)
        stats[int(r["slice_id"]) if by_slice else 0] = s
    return stats


def _log_decision(what: str, stats: dict[int, dict], ran: bool,
                  why: str = "") -> None:
    """One line per gate decision: chunk count before and predicted
    after, runt rows, and whether the rewrite ran."""
    merging = [s for s in stats.values() if s["merges"]]
    _log.info(
        "compaction %s: %s; chunks %d -> %d predicted, runt rows %d, "
        "%d/%d slices merge%s", what, "rewrite ran" if ran else "skipped",
        sum(s["chunks"] for s in stats.values()),
        sum(s["after"] for s in stats.values()),
        sum(s["runt_rows"] for s in stats.values()),
        len(merging), len(stats), f" ({why})" if why else "")


def _compact(chunks: DataFrame, sort_cols: list[str], chunk_rows: int,
             cascade: bool, profile: str, what: str,
             slice_of: Column | None = None) -> DataFrame:
    """The runt kernel. ``slice_of`` re-derives the slice of a decoded
    row for a ``slice_id``-partitioned table; without it the whole
    frame is one slice."""
    stats = _runt_stats(chunks, chunk_rows, by_slice=slice_of is not None)
    merging = [k for k, s in stats.items() if s["merges"]]
    _log_decision(what, stats, ran=bool(merging))
    if not merging:
        return chunks
    pid_base = max(s["max_pid"] for s in stats.values()) + 1
    rewrite = F.col("n_rows") < chunk_rows
    if slice_of is not None:
        rewrite = rewrite & F.col("slice_id").isin(merging)
    rows = decode_chunks(chunks.filter(rewrite), ordered=False)
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
    layout_cols = [
        c for c in chunks.columns
        if c not in {f.name for f in CHUNK_ARROW_SCHEMA}
    ]
    if layout_cols:
        raise ValueError(
            f"compact_chunks operates on one stored table; layout columns "
            f"{layout_cols} present — filter to a single slice first")
    return _compact(chunks, sort_cols, chunk_rows, cascade, profile,
                    what="chunk frame")


def compact_stage(
    spark,
    root: str,
    stage: str,
    version: int,
    chunk_rows: int | None = None,
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

    Slice discipline is preserved: decoded runt rows re-derive their
    slice from the SAME hash the original encode used (``slice_col`` +
    ``slice_of`` come from the v=N manifests, not from caller
    arguments), so rewritten chunks land in their original slice
    partitions and slice-level resume keeps working — a killed
    compaction re-runs only the slices whose v=N+1 manifest is
    missing. Slices whose runts cannot merge are carried byte-identical.

    Returns the list of :class:`storage.SliceResult` for v=N+1.
    """
    from .storage import (
        _DEFAULT_STORE,
        commit_slices,
        manifest_path,
        read_chunks,
        slice_id_of,
    )

    store = store or _DEFAULT_STORE
    base = store.read_json(manifest_path(root, stage, version, 0))
    slice_col, n_slices = base["slice_col"], int(base["slice_of"])
    sort_cols = list(base["sort_cols"])
    # a maintain run must never reclassify a stage encoded with custom
    # chunk_rows as 100% runts just because the caller used the default
    chunk_rows = chunk_rows or int(base.get("chunk_rows") or CHUNK_ROWS)

    def build(todo: list[int]) -> DataFrame:
        chunks = read_chunks(spark, root, stage, version).filter(
            F.col("slice_id").isin(todo))
        return _compact(chunks, sort_cols, chunk_rows, cascade, profile,
                        what=f"{stage} v={version}",
                        slice_of=slice_id_of(slice_col, n_slices))

    return commit_slices(spark, root, stage, version + 1, n_slices, build, {
        "slice_col": slice_col, "sort_cols": sort_cols,
        "chunk_rows": chunk_rows, "compacted_from": version,
    }, store)


def compact_if_needed(
    spark,
    root: str,
    stage: str,
    version: int,
    chunk_rows: int | None = None,
    min_runt_fraction: float = 0.25,
    store=None,
    **kwargs,
) -> int:
    """Policy gate for periodic maintenance: decide from the chunk
    MANIFEST (no blob read) whether version ``N`` is worth a rewrite,
    and if so run :func:`compact_stage`. It is, when runts are at least
    ``min_runt_fraction`` of its chunks AND some slice's runts can merge
    into fewer chunks (the kernel's chunk-drop gate).

    Returns the version readers should use afterwards: ``N+1`` if a
    compaction ran, else ``N``. Idempotent and cheap when healthy —
    one grouped aggregate over chunk metadata, so a scheduler can call
    this after every wave.
    """
    from .storage import _DEFAULT_STORE, manifest_path, read_chunks

    # the gate and the rewrite judge runts against the chunk_rows the
    # stage was actually encoded with (see compact_stage)
    if chunk_rows is None:
        base = (store or _DEFAULT_STORE).read_json(
            manifest_path(root, stage, version, 0))
        chunk_rows = int(base.get("chunk_rows") or CHUNK_ROWS)
    stats = _runt_stats(read_chunks(spark, root, stage, version),
                        chunk_rows, by_slice=True)
    n = sum(s["chunks"] for s in stats.values())
    runts = sum(s["runts"] for s in stats.values())
    what = f"{stage} v={version}"
    if not n or runts / n < min_runt_fraction:
        _log_decision(what, stats, ran=False,
                      why=f"runt fraction under {min_runt_fraction}")
        return version
    if not any(s["merges"] for s in stats.values()):
        _log_decision(what, stats, ran=False, why="no runts can merge")
        return version
    compact_stage(spark, root, stage, version, chunk_rows=chunk_rows,
                  store=store, **kwargs)
    return version + 1
