"""Sorted key–value producer stages: grouped flat-map + incremental
reconcile + CDC — the reference's core semantics, re-expressed as
DataFrame joins/unions/windows + one ``mapInPandas`` per stage.

Reference behavior being reproduced (see SURVEY.md §2.1 ops 6, 11-20):

* ``Produce`` — a grouped flat-map ``(SK, [SV]) → [(TK, TV)]``
  (reference: Parquet.Producers/ParquetProduction.cs:10-11). Here:
  :func:`run_produce`, one ``mapInPandas`` over SK-sorted partitions.
  Every Python worker task costs a fixed ~0.2 CPU s before it does any
  work, and a frame built from a Python list pays it
  ``defaultParallelism`` times per scan, so driver-side rows enter
  through :func:`~..util.local_frame` and every Python task of a wave
  runs user code.
* A stage owns three tables (reference: Producer.cs:58-60):
  **content** ``(tk…, sk…, value…)``, **mappings** ``(sk…, tk…)``,
  **updates-out** ``(type, tk…, value…)``.
* Incremental update semantics (reference:
  ParquetProduction.cs:279-374 instruction generation, :376-453
  mapping reconcile, :463-704 content reconcile + CDC emission,
  PendingDeleteState.cs:6-97 delete suppression), restated set-wise.
  Content and mappings hold the same ``(tk, sk)`` pairs, so an updated
  SK deletes exactly its previous rows:

  - new content (mappings) = previous rows anti-joined with the updated
    SKs on SK alone, plus the produced rows;
  - CDC out comes from one TK window over the touched TKs' previous
    rows (flagged gone when their SK is updated) plus the produced
    rows: produced rows → ``Add`` iff the TK had no prior row (first
    produced row only; the rest ``Update``); surviving rows of a
    touched TK are re-emitted as ``Update`` (consumers always see the
    full value set of a touched key — reference README.md:211-214);
    one ``Delete(tk)`` per touched TK with no row left;
  - a NULL SK or TK is one key, as :func:`run_produce` groups it.

This module is NOT a port: the reference's cursor machinery
(Cursor.cs, SingleUseSequence.cs, MergeSorter.cs) has no counterpart
here — Spark's shuffle sort and joins replace it wholesale.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..util import local_frame

UPDATE_TYPE = "type"  # 'Add' | 'Update' | 'Delete'


@dataclass
class Stage:
    """One producer stage: SK→TK grouped flat-map with incremental state."""

    name: str
    sk_cols: list[str]
    tk_cols: list[str]
    value_cols: list[str]
    # produce(key: tuple, values: pd.DataFrame) -> pd.DataFrame[tk+value]
    produce: Callable[[tuple, pd.DataFrame], pd.DataFrame]
    out_ddl: str  # spark DDL for tk_cols + value_cols, e.g. "word string, id int"
    preserve_col: Optional[str] = None  # surrogate-id column kept stable per TK
    # general PreserveKeyValues hook (reference
    # ParquetProducerOptions.cs:16-28 passes the whole previous value to
    # an arbitrary user action). Two DataFrame-native forms:
    # * preserve_cols — produced rows of an EXISTING TK inherit these
    #   value columns from that TK's example previous row (min-SK row);
    #   novel TKs keep what produce emitted. Pure column ops, no Python.
    # * preserve_merge — arbitrary logic: pandas callable receiving the
    #   produced batch plus `__prev_<col>` example columns (null for
    #   novel TKs), returning the final value columns. Arrow-batched.
    preserve_cols: list[str] = field(default_factory=list)
    preserve_merge: Optional[Callable[[pd.DataFrame], pd.DataFrame]] = None
    sources: list["Stage"] = field(default_factory=list)
    # persisted content sort order (reference Comparers.By/Reverse,
    # Util/Comparers.cs:11-28 — e.g. the wordcount scenario stores
    # content ordered by count DESCENDING, ParquetProductionTests.cs:317).
    # Entries are (column, "asc"|"desc"); None → tk+sk ascending.
    content_sort: Optional[list[tuple[str, str]]] = None

    @property
    def content_cols(self) -> list[str]:
        return self.tk_cols + self.sk_cols + self.value_cols

    @property
    def has_preserve(self) -> bool:
        return bool(self.preserve_col or self.preserve_cols
                    or self.preserve_merge)


def empty_state(spark: SparkSession, stage: Stage, updates: DataFrame):
    """(content, mappings) empty frames typed from the updates schema +
    the stage's output DDL (parsed by Spark — safe for decimal(p,s) and
    other comma-bearing types). Both are empty local relations, so the
    first wave's joins against them fold away in the optimizer and no
    job scans them (see :func:`~..util.local_frame`)."""
    out_fields = {f.name: f for f in StructType.fromDDL(stage.out_ddl)}
    sk_fields = {
        f.name: f for f in updates.schema.fields if f.name in stage.sk_cols
    }
    content = local_frame(spark, [], StructType(
        [out_fields[c] for c in stage.tk_cols]
        + [sk_fields[c] for c in stage.sk_cols]
        + [out_fields[c] for c in stage.value_cols]
    ))
    mappings = local_frame(spark, [], StructType(
        [sk_fields[c] for c in stage.sk_cols]
        + [out_fields[c] for c in stage.tk_cols]
    ))
    return content, mappings


class UpdateContractViolation(ValueError):
    pass


def validate_updates(updates: DataFrame, sk_cols: list[str]) -> None:
    """Input-contract validation (reference op 23,
    ParquetProduction.cs:326-337: per key either ONE Delete or ≥1
    upserts, never mixed, no duplicate deletes). The reference enforces
    sortedness too; Spark doesn't need sorted input, so the per-key
    discipline is the surviving contract. One aggregation, fails fast."""
    bad = (
        updates.groupBy(*sk_cols)
        .agg(
            F.sum(F.when(F.col(UPDATE_TYPE) == "Delete", 1).otherwise(0)
                  ).alias("n_del"),
            F.sum(F.when(F.col(UPDATE_TYPE) != "Delete", 1).otherwise(0)
                  ).alias("n_up"),
        )
        .filter((F.col("n_del") > 1)
                | ((F.col("n_del") > 0) & (F.col("n_up") > 0)))
        .limit(5)
        .collect()
    )
    if bad:
        raise UpdateContractViolation(
            f"update stream violates one-delete-or-upserts per key: "
            f"{[tuple(r) for r in bad]}"
        )


def run_produce(stage: Stage, upserts: DataFrame) -> DataFrame:
    """Grouped flat-map. Returns upsert instructions ``(tk…, sk…, value…)``.

    produce always sees a key's full group: hash-repartition on SK with
    no explicit partition count, so AQE coalesces the exchange to what
    the delta needs (whole hash partitions merge, so a key's group stays
    whole, and a small wave runs one Python task, not one per shuffle
    partition), sort within partitions, then ONE ``mapInPandas`` per
    partition that walks the sorted batches and groups in pandas,
    carrying the tail key across Arrow batch boundaries. This is the Spark shape of the
    reference's bounded sorted-group cursor (op 7, SingleUseSequence.cs)
    and is ~10× faster than per-group UDF dispatch (``groupBy``
    + ``applyInPandas``) when keys are numerous and small (measured
    13.2s → 1.2s on 5k-doc word split).
    """
    sk_cols = stage.sk_cols
    out_cols = stage.tk_cols + stage.value_cols
    sk_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in upserts.schema.fields if f.name in sk_cols
    )
    schema = f"{stage.out_ddl}, {sk_ddl}"

    produce = stage.produce

    def emit(body: pd.DataFrame):
        import numpy as np

        # dropna=False: null source keys form ONE group, as Spark's
        # groupBy would — pandas' default silently drops them.
        #
        # The produce() calls themselves are the contract (one call per
        # key, the key's full group); everything AROUND them is
        # vectorized (guide §4.2): one concat over all produced frames
        # and np.repeat-materialized key columns, instead of the former
        # per-key copy + scalar column assign + per-key concat, which
        # measured 0.81 s vs 0.03 s per 1.5k-key partition — the
        # harness, not the user function, dominated the stage.
        keys, outs, lens = [], [], []
        for key, g in body.groupby(sk_cols, sort=False, dropna=False):
            key = key if isinstance(key, tuple) else (key,)
            out = produce(key, g)
            if out is None or len(out) == 0:
                continue
            keys.append(key)
            # selecting copies the frame; a KeyError still names a
            # missing column
            outs.append(out if list(out.columns) == out_cols
                        else out[out_cols])
            lens.append(len(out))
        if outs:
            big = pd.concat(outs, ignore_index=True)
            for ci, c in enumerate(sk_cols):
                big[c] = np.repeat([k[ci] for k in keys], lens)
            yield big

    def scan(batches):
        # frames whose last key may continue in the next Arrow batch,
        # concatenated once per emit, not per batch (quadratic for a
        # hot key); null-safe compare: NaN keys are one group here too
        carry = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            last = pdf[sk_cols].iloc[-1]
            tail = pd.concat(
                [(pdf[c] == last[c]) | (pdf[c].isna() & pd.isna(last[c]))
                 for c in sk_cols], axis=1,
            ).all(axis=1).to_numpy()
            if tail.all():
                carry.append(pdf)
                continue
            # every key before this batch's tail key is complete
            yield from emit(pd.concat([*carry, pdf[~tail]], ignore_index=True))
            carry = [pdf[tail]]
        if carry:
            yield from emit(pd.concat(carry, ignore_index=True))

    return (
        upserts.repartition(*sk_cols)
        .sortWithinPartitions(*sk_cols)
        .mapInPandas(scan, schema=schema)
        .select(*stage.content_cols)
    )


def update_stage(
    stage: Stage,
    prev_content: DataFrame,
    prev_mappings: DataFrame,
    updates: DataFrame,
    validate: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One incremental wave. Returns (content, mappings, updates_out).

    ``updates`` rows: (type, sk…, source-value…); per key either one
    Delete or ≥1 upserts carrying the key's full new value set
    (reference README.md:139-144). ``validate=True`` enforces that
    contract up front (op 23).
    """
    if validate:
        validate_updates(updates, stage.sk_cols)
    sk, tk, vals = stage.sk_cols, stage.tk_cols, stage.value_cols

    upd_keys = updates.select(*sk).distinct()
    upserts = updates.filter(F.col(UPDATE_TYPE) != "Delete")

    # Phase 1 — instructions (reference ParquetProduction.cs:279-374).
    # produce, the dominant cost of a wave, feeds all three write actions
    # of Pipeline.update and Spark does not reuse exchanges across jobs:
    # a lazy localCheckpoint runs it once, not once per write (3-4× the
    # wave cost at scale); its blocks are freed when the frame is GC'd.
    produced = run_produce(stage, upserts).localCheckpoint(eager=False)
    produced_final = (
        # preserve adds windows/joins over prev_content on top of the
        # checkpointed produce — itself reused by content + CDC, so pin it
        _apply_preserve(stage, produced, prev_content)
        .localCheckpoint(eager=False)
        if stage.has_preserve else produced
    )
    # Phase 2 — reconcile (reference :376-453 mappings, :463-704
    # content): each table drops the updated SKs' rows by SK alone
    content = (
        _join_null_safe(prev_content, upd_keys, sk, "left_anti")
        .unionByName(produced_final.select(*stage.content_cols))
    )
    # one mapping row per produced row — duplicates intentional, matching
    # the reference (ParquetProductionTests.cs:224-229 asserts (1,1)×3)
    mappings = (
        _join_null_safe(prev_mappings, upd_keys, sk, "left_anti")
        .unionByName(produced.select(*sk, *tk))
    )

    # CDC (reference :553-697 + PendingDeleteState.cs) from one frame:
    # the previous rows of every touched TK, __gone when their SK is
    # updated, plus the produced rows; one TK window decides each event
    prev = _join_null_safe(
        prev_content, upd_keys.withColumn("__gone", F.lit(True)), sk, "left"
    ).fillna(False, ["__gone"])
    touched = (prev.filter("__gone").select(*tk)
               .unionByName(produced_final.select(*tk)).distinct())
    frame = (
        _join_null_safe(prev, touched, tk, "left_semi")
        .withColumn("__new", F.lit(False))
        .unionByName(produced_final.withColumns(
            {"__gone": F.lit(False), "__new": F.lit(True)}))
    )
    # new rows sort first: row 1 of a TK with any new row is its first
    w = Window.partitionBy(*tk).orderBy(F.col("__new").desc(), *sk, *vals)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    new, gone, first, alive = (
        F.col(c) for c in ("__new", "__gone", "__first", "__alive"))
    updates_out = (
        frame.withColumns({
            "__first": F.row_number().over(w) == 1,
            "__existed": F.max(~new).over(whole),
            "__alive": F.max(new | ~gone).over(whole),
        })
        # new rows, surviving old rows, and one row per TK left empty
        .filter(new | ~gone | (~alive & first))
        .select(
            F.when(new & ~F.col("__existed") & first, "Add")
            .when(alive, "Update").otherwise("Delete").alias(UPDATE_TYPE),
            *tk, *[F.when(alive, F.col(c)).alias(c) for c in vals],
        )
    )
    return content, mappings, updates_out


def _join_null_safe(left: DataFrame, right: DataFrame, on: list[str],
                    how: str) -> DataFrame:
    """``left.join(right, on, how)`` with NULL matching NULL."""
    right = right.select(*[F.col(c).alias(f"__on_{c}") for c in on],
                         *[c for c in right.columns if c not in on])
    cond = [F.col(c).eqNullSafe(F.col(f"__on_{c}")) for c in on]
    return left.join(right, cond, how).drop(*[f"__on_{c}" for c in on])


def _global_rank(df: DataFrame, key_cols: list[str],
                 out_col: str) -> DataFrame:
    """1-based rank of each DISTINCT-keyed row by global key order,
    computed WITHOUT a single-partition window: range-partition on the
    keys (global order across partitions), count rows per partition,
    prefix-sum the counts on the driver (one tiny collect — #partitions
    rows, not data rows), then ``offset + row_number within partition``.
    Equivalent to ``dense_rank().over(Window.orderBy(keys))`` on
    distinct keys, but every exchange is many-partition — safe when the
    input is the whole dataset (bootstrap), not just a wave delta."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = (
        df.repartitionByRange(n, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("__pid", F.spark_partition_id())
        # eager localCheckpoint pins the partitioned DATA: the counts
        # job and the rank job must see the identical partitioning, and
        # a mere persist() could silently recompute (resampling the
        # range boundaries) after executor loss — checkpointed blocks
        # either survive or fail the job, never skew it. Blocks are
        # freed when the frame is GC'd (no cross-wave cache leak).
        .localCheckpoint(eager=True)
    )
    counts = {
        r["__pid"]: r["n"]
        for r in parted.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        return df.select(*key_cols, F.lit(None).cast("int").alias(out_col))
    off_df = local_frame(spark, offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*key_cols)
    return (
        parted.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, (F.col("__off") + F.row_number().over(w))
                    .cast("int"))
        .drop("__pid", "__off")
    )


def _tk_examples(stage: Stage, prev_content: DataFrame,
                 cols: list[str]) -> DataFrame:
    """Per-TK example previous row (min-SK — deterministic, unlike the
    reference's 'any example'): (tk…, __prev_<col>…)."""
    tk = stage.tk_cols
    example_w = Window.partitionBy(*tk).orderBy(*stage.sk_cols)
    return (
        prev_content
        .withColumn("__rn", F.row_number().over(example_w))
        .filter(F.col("__rn") == 1)
        .select(*tk, *[F.col(c).alias(f"__prev_{c}") for c in cols])
    )


def _apply_preserve(
    stage: Stage, produced: DataFrame, prev_content: DataFrame
) -> DataFrame:
    """PreserveKeyValues (reference op 20:
    ParquetProducerOptions.cs:16-28, README.md:218-232): produced rows
    of a TK that already existed may keep values from that TK's
    previous row. Three forms (see Stage):

    * ``preserve_col`` — surrogate-id: existing TKs inherit their id;
      brand-new TKs get ``max(prev ids) + rank(tk among new tks)`` —
      deterministic and parallel, replacing the reference tests'
      mutable ``nextId++`` (ParquetProductionTests.cs:573). The novel-
      key rank is distributed (:func:`_global_rank`), so bootstrapping
      the full dataset never funnels through one partition.
    * ``preserve_cols`` — inherit listed value columns verbatim.
    * ``preserve_merge`` — arbitrary pandas merge of produced row +
      previous example values.
    """
    tk = stage.tk_cols
    out = produced

    if stage.preserve_col:
        col = stage.preserve_col
        examples = _tk_examples(stage, prev_content, [col]).withColumnRenamed(
            f"__prev_{col}", "__example")
        new_tks = _global_rank(
            out.select(*tk).distinct()
            .join(examples.select(*tk), tk, "left_anti"),
            tk, "__new_id",
        )
        max_prev = prev_content.agg(
            F.coalesce(F.max(col), F.lit(0)).alias("__max_prev")
        )
        out = (
            out.join(examples, tk, "left")
            .join(new_tks, tk, "left")
            .join(F.broadcast(max_prev))
            .withColumn(
                col,
                F.coalesce(F.col("__example"),
                           F.col("__max_prev") + F.col("__new_id")),
            )
            .drop("__example", "__new_id", "__max_prev")
        )

    if stage.preserve_cols:
        examples = _tk_examples(stage, prev_content, stage.preserve_cols)
        out = out.join(examples, tk, "left")
        for c in stage.preserve_cols:
            out = out.withColumn(
                c, F.coalesce(F.col(f"__prev_{c}"), F.col(c)))
        out = out.drop(*[f"__prev_{c}" for c in stage.preserve_cols])

    if stage.preserve_merge is not None:
        value_cols = stage.value_cols
        merge = stage.preserve_merge
        examples = _tk_examples(stage, prev_content, value_cols)
        joined = out.join(examples, tk, "left")
        schema = joined.drop(
            *[f"__prev_{c}" for c in value_cols]).schema

        def run(batches):
            for pdf in batches:
                res = merge(pdf)
                yield res[[f.name for f in schema.fields]]

        out = joined.mapInPandas(run, schema=schema)

    return out.select(*produced.columns)
