"""DAG orchestration with versioned state — the reference's ``Producer``
(ops 21-22: Parquet.Producers/Producer.cs:68-185).

A :class:`Pipeline` holds a registry of stages wired source→target.
``update(root_updates)`` collects the transitive downstream closure,
topologically orders it sources-before-target (reference :121-141),
runs each stage as one Spark job chain, and persists version N of every
stage in the closure under ``{root}/{stage}/v={N}/{content,mappings,
updates}/``. Per-stage wall-clock is recorded (reference :154-175).

One version counter for the whole DAG (reference README.md:182,
Producer.cs:115-118): ``_txn/v=N.json`` is the only record of version
N, and every transaction takes N = newest manifest + 1. The manifest is
written once, after every table of the closure, and carries the
``head`` — ``{stage: version}`` of every committed stage — so a
stage's tables at a version are visible only when a manifest names
them. A crashed attempt never committed its number: its retry takes
the same N and overwrites the partial dirs, and a committed dir is
never a write target because N is always above the head.

Content is written range-partitioned and sorted by (tk…, sk…), which is
what makes the codec layer's run-based encodings effective downstream.
"""

from __future__ import annotations

import posixpath
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..filestore import FileStore, LocalStore, list_data_files
from ..operators.multisource import feeder_view, read_sources
from ..operators.produce import (
    Stage,
    empty_state,
    update_stage,
    validate_updates,
)
from ..storage import stage_dir
from ..util import ThrottledLogger, local_frame


@dataclass
class _Node:
    stage: Stage
    source_names: list[str] = field(default_factory=list)


class Pipeline:
    def __init__(self, spark: SparkSession, root: str,
                 store: FileStore | None = None):
        self.spark = spark
        self.root = root
        # metadata seam (reference IPersistentStreams.cs:3-17): pass
        # HadoopStore(spark) for object-store roots; Spark parquet I/O
        # resolves the same URIs natively
        self.store = store or LocalStore()
        self.nodes: dict[str, _Node] = {}
        # reference ThrottledLogger.cs: progress lines are rate-limited;
        # complete per-stage timings always land in the txn manifest
        self.log = ThrottledLogger(interval_s=5.0)

    def add(self, stage: Stage, sources: list[str] | None = None) -> "Pipeline":
        self.nodes[stage.name] = _Node(stage, sources or [])
        return self

    # -- state I/O --------------------------------------------------------

    def _table(self, name: str, version: int, table: str,
               empty: dict | None = None) -> DataFrame:
        """``empty`` is the version's ``{stage: {table: ddl}}`` map of
        empty tables, read from its manifest when not given."""
        if empty is None:
            empty = self.store.read_json(self._txn_path(version))["empty"]
        # reference IPersistentStreams.cs:14-17: an absent blob and an
        # empty stream are the same thing to readers — an empty table
        # has no dir, and its manifest keeps the schema (see _write)
        ddl = empty.get(name, {}).get(table)
        if ddl is not None:
            return local_frame(self.spark, [], ddl)
        return self.spark.read.parquet(
            stage_dir(self.root, name, version, table))

    def content(self, name: str, version: int | None = None) -> DataFrame:
        version = version if version is not None else self.version(name)
        return self._table(name, version, "content")

    def updates_out(self, name: str, version: int) -> DataFrame:
        return self._table(name, version, "updates")

    def version(self, name: str) -> int:
        """The stage's latest committed version, from the newest
        manifest's head; 0 for a stage no transaction has committed."""
        return self._head()[1].get(name, 0)

    def _txn_path(self, version: int) -> str:
        return posixpath.join(self.root, "_txn", f"v={version}.json")

    def _head(self) -> tuple[int, dict[str, int]]:
        """The newest committed DAG version and its head; (0, {}) before
        the first commit."""
        newest = 0
        for entry in self.store.listdir(posixpath.join(self.root, "_txn")):
            if not (entry.startswith("v=") and entry.endswith(".json")):
                continue  # an atomic write's .tmp, checksum files
            if not entry[2:-5].isdigit():
                # v=N.<txnid>.json: numbered per transaction, not per DAG
                raise ValueError(
                    f"{self.root}: _txn/{entry} is a per-transaction "
                    f"manifest of an older layout, which this root cannot "
                    f"be read or updated with")
            newest = max(newest, int(entry[2:-5]))
        if not newest:
            return 0, {}
        return newest, self.store.read_json(self._txn_path(newest))["head"]

    def _write(self, name: str, version: int, table: str, df: DataFrame,
               sort_cols: list | None = None) -> str | None:
        """Write one table; returns its schema DDL when it came out
        empty (and its dir was deleted), else None.

        ``sort_cols`` entries are column names or (name, "asc"|"desc")
        pairs — per-column direction is the reference's pluggable key
        comparer (Util/Comparers.cs:11-28) applied to at-rest order."""
        from pyspark.sql import functions as F

        if sort_cols:
            exprs = [
                F.col(c[0]).desc() if isinstance(c, tuple) and c[1] == "desc"
                else F.col(c[0] if isinstance(c, tuple) else c).asc()
                for c in sort_cols
            ]
            n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            df = df.repartitionByRange(n, *exprs).sortWithinPartitions(*exprs)
        path = stage_dir(self.root, name, version, table)
        df.write.mode("overwrite").parquet(path)
        # reference IPersistentStreams.cs:14-17: uploading EMPTY content
        # deletes the blob. Detect emptiness from the written part
        # footers (metadata-only, O(part files)); an all-empty table
        # becomes an absent dir, and its DDL — the role of the reference
        # reader's static C# row type — goes into the version's manifest
        # so _table can synthesize a correctly-typed empty frame.
        from ..encoder import open_parquet_any

        # short-circuit: non-empty tables stop at part 1
        for p in list_data_files(self.store, path):
            if open_parquet_any(p).metadata.num_rows:
                return None
        self.store.delete(path, recursive=True)
        return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in df.schema.fields)

    # -- the DAG update transaction ---------------------------------------

    def _downstream_closure(self, roots: list[str]) -> list[str]:
        """Topological order, sources before targets (reference :121-141)."""
        hit = set(roots)
        changed = True
        while changed:
            changed = False
            for name, node in self.nodes.items():
                if name not in hit and any(s in hit for s in node.source_names):
                    hit.add(name)
                    changed = True
        order: list[str] = []
        remaining = set(hit)
        while remaining:
            for name in sorted(remaining):
                deps = [s for s in self.nodes[name].source_names if s in remaining]
                if not deps:
                    order.append(name)
                    remaining.remove(name)
                    break
            else:
                raise ValueError("cycle in stage DAG")
        return order

    def update(
        self,
        root_updates: dict[str, DataFrame],
        validate: bool = False,
    ) -> int:
        """Run one DAG-wide update transaction; returns its version N,
        the newest committed version + 1, which every stage in the
        downstream closure of ``root_updates`` is written at.

        ``validate=True`` enforces the update-stream contract (op 23:
        per key one Delete or ≥1 upserts, never mixed) on every stage's
        input before reconciling — fail fast on a malformed feed."""
        roots = list(root_updates)
        if validate:
            # fail fast BEFORE any write: a malformed root feed must
            # leave every stage untouched, not just the ones after the
            # violating stage in topo order
            for r in roots:
                validate_updates(root_updates[r], self.nodes[r].stage.sk_cols)
        base, head = self._head()
        new_version = base + 1
        order = self._downstream_closure(roots)
        timings: dict[str, float] = {}
        empty: dict[str, dict[str, str]] = {}  # this version's empty tables
        for name in order:
            t0 = time.monotonic()
            node = self.nodes[name]
            stage = node.stage
            if name in root_updates:
                updates_in = root_updates[name]
            else:
                sources = self.nodes[name].source_names
                feeders = []
                for s in sources:
                    src = self.nodes[s].stage
                    # read_sources needs content only to merge ≥2 feeders
                    cnt = None
                    if s in order:
                        upd = self._table(s, new_version, "updates", empty)
                        if len(sources) > 1:
                            cnt = self._table(s, new_version, "content", empty)
                    else:
                        # a feeder untouched this wave: empty update
                        # stream, current content (reference: a stage
                        # outside the closure contributes no updates,
                        # Producer.cs:121-128)
                        upd = local_frame(self.spark, [],
                                          "type string, " + src.out_ddl)
                        if len(sources) > 1:
                            cnt = (self.content(s, head[s]) if s in head
                                   else local_frame(self.spark, [],
                                                    src.out_ddl))
                    feeders.append(feeder_view(
                        cnt, upd, src.tk_cols, src.value_cols,
                    ))
                updates_in = read_sources(feeders, stage.sk_cols)

            # previous state = this stage's own committed version: a
            # stage that skipped earlier transactions (or was added to
            # the DAG later) reconciles against the state it actually
            # has, never silently against empty
            if name not in head:
                prev_content, prev_mappings = empty_state(
                    self.spark, stage, updates_in
                )
            else:
                prev_content = self._table(name, head[name], "content")
                prev_mappings = self._table(name, head[name], "mappings")

            content, mappings, updates_out = update_stage(
                stage, prev_content, prev_mappings, updates_in,
                # root feeds were validated up front; derived feeds are
                # still checked (defensive — they should satisfy the
                # contract by construction)
                validate=validate and name not in root_updates,
            )
            for table, df, sort_cols in (
                ("content", content,
                 stage.content_sort or stage.tk_cols + stage.sk_cols),
                ("mappings", mappings, stage.sk_cols + stage.tk_cols),
                ("updates", updates_out, stage.tk_cols),
            ):
                ddl = self._write(name, new_version, table, df,
                                  sort_cols=sort_cols)
                if ddl is not None:
                    empty.setdefault(name, {})[table] = ddl
            timings[name] = round(time.monotonic() - t0, 3)
            self.log.info("stage %s v%d done in %.3fs", name, new_version,
                          timings[name])

        # COMMIT POINT: the atomic rename of this write-once manifest is
        # what makes every stage's v=N visible — before it, a crash
        # leaves the transaction entirely uncommitted. If N exists now,
        # another writer committed it after this one read the head, and
        # overwriting its manifest would un-commit it.
        path = self._txn_path(new_version)
        if self.store.exists(path):
            raise RuntimeError(
                f"{path} was committed by another writer during this "
                f"transaction (based on version {base})")
        self.store.write_json_atomic(path, {
            "version": new_version, "stages": sorted(order),
            "timings_s": timings,
            "head": {**head, **dict.fromkeys(order, new_version)},
            "empty": empty,
        })
        return new_version
