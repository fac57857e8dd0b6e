"""Multi-feeder incremental merge — the reference's ``ReadSources``
(ops 17-19: Parquet.Producers/ParquetProduction.cs:188-259, README.md:204-214).

Semantics, set-wise:

1. affected keys = union of all feeders' update keys, distinct;
2. per feeder: its updates win; for affected keys it has **no** updates
   for, its content rows are re-emitted disguised as ``Update`` — so a
   consumer always sees the *full* value set of any touched key;
3. after the union, per key: if any upsert exists, all deletes drop;
   otherwise exactly one delete survives (reference :214-258).

The reference does this with three co-sequential cursors and a temp
spill file; here it is two joins and a union per feeder plus one
dedup — Catalyst plans the merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .produce import UPDATE_TYPE


def feeder_view(
    content: DataFrame | None,
    updates: DataFrame,
    tk_cols: list[str],
    value_cols: list[str],
    sk_names: list[str] | None = None,
    value_names: list[str] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Adapt an upstream stage's (content, updates-out) into a feeder:
    its TK becomes the downstream SK; SK lineage columns are dropped.
    ``content`` may be None where it is not needed (a single feeder)."""
    sk_names = sk_names or tk_cols
    value_names = value_names or value_cols
    key_sel = [F.col(t).alias(s) for t, s in zip(tk_cols, sk_names)]
    val_sel = [F.col(v).alias(n) for v, n in zip(value_cols, value_names)]
    return (
        updates.select(F.col(UPDATE_TYPE), *key_sel, *val_sel),
        content.select(*key_sel, *val_sel) if content is not None else None,
    )


def read_sources(
    feeders: list[tuple[DataFrame, DataFrame]], sk_cols: list[str]
) -> DataFrame:
    """Merge feeders' (updates, content) into one update stream."""
    if len(feeders) == 1:
        return feeders[0][0]
    affected = None
    for upd, _ in feeders:
        keys = upd.select(*sk_cols)
        affected = keys if affected is None else affected.unionByName(keys)
    # The distinct affected-key set feeds a semi-join in EVERY feeder
    # branch of one plan; without a checkpoint Catalyst may re-derive the
    # union N times. The reference spills this exact frame to a temp file
    # for re-scan (ParquetProduction.cs:201-206) — a lazy localCheckpoint
    # is the Spark equivalent (materialized once, on first use).
    affected = affected.distinct().localCheckpoint(eager=False)

    augmented = []
    for upd, content in feeders:
        has_upd = upd.select(*sk_cols).distinct()
        from_content = (
            content.join(affected, sk_cols, "left_semi")
            .join(has_upd, sk_cols, "left_anti")
            .select(F.lit("Update").alias(UPDATE_TYPE), *content.columns)
        )
        augmented.append(upd.unionByName(from_content))
    merged = augmented[0]
    for a in augmented[1:]:
        merged = merged.unionByName(a)

    # cross-feeder delete/upsert discipline (reference :214-258)
    upserts = merged.filter(F.col(UPDATE_TYPE) != "Delete")
    upsert_keys = upserts.select(*sk_cols).distinct()
    deletes = (
        merged.filter(F.col(UPDATE_TYPE) == "Delete")
        .join(upsert_keys, sk_cols, "left_anti")
        .dropDuplicates(sk_cols)
    )
    return upserts.unionByName(deletes)
