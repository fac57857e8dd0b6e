"""DAG orchestration with versioned state — the reference's ``Producer``
(ops 21-22: Parquet.Producers/Producer.cs:68-185).

A :class:`Pipeline` holds a registry of stages wired source→target.
``update(root_updates, based_on)`` collects the transitive downstream
closure, topologically orders it sources-before-target (reference
:121-141), runs each stage as one Spark job chain, and persists version
N+1 of every stage's (content, mappings, updates) under
``{root}/{stage}/v={N+1}/`` — the whole-DAG transaction of reference
README.md:182. Per-stage wall-clock is recorded (reference :154-175).

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
from ..storage import atomic_write_json, list_versions, stage_dir
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

    def _table(self, name: str, version: int, table: str) -> DataFrame:
        path = stage_dir(self.root, name, version, table)
        # reference IPersistentStreams.cs:14-17: an absent blob and an
        # empty stream are the same thing to readers — an empty table is
        # a deleted dir plus a schema marker (see _write)
        marker = path + "._empty.json"
        if (not self.store.exists(posixpath.join(path, "_SUCCESS"))
                and self.store.exists(marker)):
            return local_frame(
                self.spark, [], self.store.read_json(marker)["schema_ddl"])
        return self.spark.read.parquet(path)

    def content(self, name: str, version: int | None = None) -> DataFrame:
        version = version if version is not None else self.version(name)
        return self._table(name, version, "content")

    def updates_out(self, name: str, version: int) -> DataFrame:
        return self._table(name, version, "updates")

    def version(self, name: str) -> int:
        """Latest COMMITTED version. Two-level commit protocol:

        * per stage, all three tables must have ``_SUCCESS`` (a crash
          mid-stage leaves a partial ``v=N+1`` — invisible, overwritten
          by the re-run);
        * the whole transaction becomes visible only when the single
          atomically-renamed ``_txn/v=N.json`` manifest exists — so a
          crash AFTER some stages committed their tables but before the
          DAG finished leaves NO stage advanced (reference: the DAG
          update is one transaction, README.md:182)."""
        vs = list_versions(self.root, name, store=self.store)
        for v in reversed(vs):
            if name in self._txn_stages(v) and all(
                self.store.exists(posixpath.join(
                    stage_dir(self.root, name, v, t), "_SUCCESS"))
                # empty table = absent dir + schema marker (_write)
                or self.store.exists(
                    stage_dir(self.root, name, v, t) + "._empty.json")
                for t in ("content", "mappings", "updates")
            ):
                return v
        return 0

    def _txn_path(self, version: int, txn_id: str | None = None) -> str:
        name = (f"v={version}.{txn_id}.json" if txn_id
                else f"v={version}.json")
        return posixpath.join(self.root, "_txn", name)

    def _txn_stages(self, version: int) -> list[str]:
        """Stages committed at this version — the UNION over every
        per-transaction manifest ``_txn/v=N.<txnid>.json`` (plus the
        legacy single-file name). Manifests are WRITE-ONCE per
        (version, txn): independent transactions sharing a version
        number never rewrite each other's manifest, so there is no
        read window where a committed transaction is invisible (the
        old union-rewrite had one on stores whose atomic write is
        delete+rename). Membership matters, not just existence: a
        crash in one transaction must not become visible through
        another's manifest."""
        stages: set[str] = set()
        for entry in self.store.listdir(posixpath.join(self.root, "_txn")):
            if entry == f"v={version}.json" or (
                    entry.startswith(f"v={version}.")
                    and entry.endswith(".json")):
                m = self.store.read_json(
                    posixpath.join(self.root, "_txn", entry))
                stages.update(m.get("stages", []))
        return sorted(stages)

    def _write(self, name: str, version: int, table: str, df: DataFrame,
               sort_cols: list | None = None) -> None:
        """``sort_cols`` entries are column names or (name, "asc"|"desc")
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
        # becomes an absent dir plus a schema marker — the marker plays
        # the role of the reference reader's static C# row type, letting
        # _table synthesize a correctly-typed empty frame.
        from ..encoder import open_parquet_any

        rows = 0
        # short-circuit: non-empty tables stop at part 1
        for p in list_data_files(self.store, path):
            rows += open_parquet_any(p).metadata.num_rows
            if rows:
                break
        marker = path + "._empty.json"
        if rows == 0:
            self.store.write_json_atomic(marker, {"schema_ddl": ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in df.schema.fields)})
            self.store.delete(path, recursive=True)
        else:
            self.store.delete(marker)  # idempotent re-run of a once-empty version

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
        based_on: int | None = None,
        validate: bool = False,
    ) -> int:
        """Run one DAG-wide update transaction; returns the new version.

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
        based_on = based_on if based_on is not None else max(
            (self.version(r) for r in roots), default=0
        )
        new_version = based_on + 1
        order = self._downstream_closure(roots)
        timings: dict[str, float] = {}
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
                    # a feeder untouched this wave: empty update stream,
                    # current content (reference: a stage outside the
                    # closure contributes no updates, Producer.cs:121-128)
                    v = new_version if s in order else self.version(s)
                    upd = self.updates_out(s, v)
                    if s not in order:
                        upd = upd.limit(0)
                    # read_sources needs content only to merge ≥2 feeders
                    cnt = self.content(s, v) if len(sources) > 1 else None
                    feeders.append(feeder_view(
                        cnt, upd, src.tk_cols, src.value_cols,
                    ))
                updates_in = read_sources(feeders, stage.sk_cols)

            # previous state = this stage's own latest complete version —
            # NOT based_on: a stage that skipped earlier transactions (or
            # was added to the DAG later) still reconciles against the
            # state it actually has, never silently against empty
            prev_v = self.version(name)
            if prev_v == 0:
                prev_content, prev_mappings = empty_state(
                    self.spark, stage, updates_in
                )
            else:
                prev_content = self._table(name, prev_v, "content")
                prev_mappings = self._table(name, prev_v, "mappings")

            content, mappings, updates_out = update_stage(
                stage, prev_content, prev_mappings, updates_in,
                # root feeds were validated up front; derived feeds are
                # still checked (defensive — they should satisfy the
                # contract by construction)
                validate=validate and name not in root_updates,
            )
            self._write(name, new_version, "content", content,
                        sort_cols=(stage.content_sort
                                   or stage.tk_cols + stage.sk_cols))
            self._write(name, new_version, "mappings", mappings,
                        sort_cols=stage.sk_cols + stage.tk_cols)
            self._write(name, new_version, "updates", updates_out,
                        sort_cols=stage.tk_cols)
            timings[name] = round(time.monotonic() - t0, 3)
            self.log.info("stage %s v%d done in %.3fs", name, new_version,
                          timings[name])

        # COMMIT POINT: the atomic rename of this manifest is what makes
        # every stage's v=N+1 visible to version() — before it, a crash
        # leaves the transaction entirely uncommitted. The manifest is
        # WRITE-ONCE per (version, txn): its name carries a
        # deterministic id of THIS transaction's stage set, so an
        # independent transaction that already owns this version number
        # keeps its own manifest untouched (readers union all of them —
        # no rewrite, no absence window on delete+rename stores). A
        # re-run of the same stage set overwrites its own manifest
        # idempotently.
        import hashlib

        txn_id = hashlib.sha1(
            ",".join(sorted(order)).encode()).hexdigest()[:12]
        atomic_write_json(
            self._txn_path(new_version, txn_id),
            {"version": new_version, "based_on": based_on,
             "stages": sorted(order), "timings_s": timings},
            store=self.store,
        )
        return new_version
