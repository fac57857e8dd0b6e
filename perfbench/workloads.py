"""The four workloads. Each one builds its inputs from the seed before any
timing, sets up its starting state (``setup_s`` is the median over
``SETUP_REPS`` setups), runs untimed warm-up ops, drives one client on a
closed loop for a minimum number of rounds and then while another round
fits in the given seconds, and checks its outputs without timing them.

Each workload computes its end-to-end metrics once, under their own names
(:data:`NAMED_E2E`), as wall-clock figures. The bounded metrics of
``BENCHMARK.json`` (:data:`BOUNDED_METRICS`) are the same three on every
workload and count CPU seconds of the process tree instead, which time the
hypervisor gives to other guests does not inflate: set-up, and the median
op of each of the two op kinds in ``BOUNDED_OPS`` (see README.md). A traced
run reports every per-layer metric of :data:`LAYER_METRICS`; layers a
workload does not exercise read 0.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import json
import os
import re
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parquet_producers_spark.datagen import generate_batch

from . import probes
from .harness import (dir_bytes, median, quantile, span_groups,
                      tree_cpu_seconds)
from .probes import CODEC_NAMES, COLUMNS

SORT_COLS = ["repo", "path"]
# the deployment default for encoded stores: balanced selection + zstd cascade
ENCODE_KW = dict(profile="balanced", cascade=True)
MB = 2**20

# the end-to-end numbers each workload is read by, under their own names;
# the traced run reports them with a ``trace.`` prefix so that traced minus
# untraced gives the tracing overhead
NAMED_E2E = [
    ("setup_s", "s", "lower"), ("setup_wall_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("ingest_wave_p50_s", "s", "lower"), ("ingest_mb_s", "MB/s", "higher"),
    ("maintenance_s", "s", "lower"), ("stored_bytes_ratio", "ratio", "lower"),
    ("write_amp", "ratio", "lower"), ("sorted_scan_s", "s", "lower"),
    ("scan_mb_s", "MB/s", "higher"), ("lookup_p50_ms", "ms", "lower"),
    ("lookup_p90_ms", "ms", "lower"),
    ("dag_wave_small_p50_s", "s", "lower"),
    ("dag_wave_large_p50_s", "s", "lower"),
    ("dedup_mb_s", "MB/s", "higher"), ("error_rate", "frac", "lower"),
]
E2E_UNITS = {name: unit for name, unit, _ in NAMED_E2E}

# the bounded metrics of BENCHMARK.json, in CPU seconds: the median set-up
# and the median op of each kind in a workload's BOUNDED_OPS
BOUNDED_METRICS = ("setup_s", "op_cpu_s", "big_op_cpu_s")

LAYER_METRICS = (
    [(f"codecs.encode_mb_s.{c}", "MB/s", "higher") for c in CODEC_NAMES]
    + [(f"codecs.decode_mb_s.{c}", "MB/s", "higher") for c in CODEC_NAMES]
    + [(f"codecs.ratio.{c}", "ratio", "higher") for c in COLUMNS]
    # a chunk left plain is a chunk no codec could shrink
    + [(f"codecs.pick_share.{c}", "frac",
        "lower" if c == "plain" else "higher") for c in CODEC_NAMES]
    + [("codecs.select_encodes_per_chunk", "count", "lower"),
       ("codecs.select_waste", "ratio", "lower")]
    + [("encoder.encode_s", "s", "lower"),
       ("encoder.encode_mb_s", "MB/s", "higher"),
       ("encoder.python_bytes_sent", "B", "lower"),
       ("encoder.python_bytes_returned", "B", "lower"),
       ("encoder.chunks", "count", "lower"),
       ("encoder.runt_chunk_frac", "frac", "lower"),
       ("encoder.decode_s", "s", "lower"),
       ("encoder.decode_mb_s", "MB/s", "higher"),
       ("encoder.decode_shuffle_bytes", "B", "lower"),
       ("encoder.lookup_s", "s", "lower"),
       ("encoder.lookup_chunks_kept_frac", "frac", "lower"),
       ("encoder.spark_jobs_per_lookup", "count", "lower")]
    + [("storage.encode_run_s", "s", "lower"),
       ("storage.spark_jobs", "count", "lower"),
       ("storage.bytes_written", "B", "lower"),
       ("storage.manifest_writes", "count", "lower")]
    + [(f"snapshots.{n}", u, "lower") for n, u in (
        ("commit_s", "s"), ("diff_s", "s"), ("wave_s", "s"),
        ("wave_spark_jobs", "count"), ("consolidate_s", "s"),
        ("expire_s", "s"), ("read_plan_s", "s"), ("waves_live", "count"),
        ("manifest_bytes", "B"))]
    + [("compaction.compact_s", "s", "lower"),
       ("compaction.bytes_rewritten", "B", "lower"),
       ("compaction.runt_frac_before", "frac", "lower"),
       ("compaction.runt_frac_after", "frac", "lower")]
    + [("sortedread.plan_s", "s", "lower"),
       ("sortedread.read_s", "s", "lower"),
       ("sortedread.ranges", "count", "higher"),
       ("sortedread.range_skew", "ratio", "lower"),
       ("sortedread.shuffle_bytes", "B", "lower"),
       ("sortedread.spark_jobs", "count", "lower")]
    + [(f"produce.{n}", u, "lower") for n, u in (
        ("run_s", "s"), ("groups", "count"), ("rows_out", "count"),
        ("reconcile_s", "s"), ("input_rows_per_delta_row", "ratio"),
        ("checkpoint_bytes", "B"))]
    + [(f"dag.{n}", u, "lower") for n, u in (
        ("stage_s.symbols", "s"), ("stage_s.symbol_counts", "s"),
        ("write_s", "s"), ("rows_written_per_delta_row", "ratio"),
        ("shuffle_bytes", "B"), ("spark_jobs", "count"))]
    + [("functions.minhash_mb_s", "MB/s", "higher"),
       ("functions.lsh_s", "s", "lower"),
       ("functions.lsh_pairs", "count", "lower"),
       ("functions.lsh_max_bucket", "count", "lower"),
       ("functions.simhash_mb_s", "MB/s", "higher"),
       ("functions.simhash_pairs_s", "s", "lower"),
       ("functions.text_stats_s", "s", "lower")]
    + [(f"spark.{n}", u, "lower") for n, u in (
        ("task_failures", "count"), ("spill_bytes", "B"),
        ("python_bytes_sent", "B"), ("python_bytes_returned", "B"),
        ("task_max_over_median", "ratio"), ("gc_s", "s"))]
    + [(f"trace.{n}", u, b) for n, u, b in NAMED_E2E]
)


def user_bytes(tbl: pa.Table) -> int:
    """UTF-8 bytes of every value: what a user hands the system."""
    return int(sum(pc.sum(pc.binary_length(tbl.column(c))).as_py() or 0
                   for c in tbl.column_names
                   if pa.types.is_string(tbl.column(c).type)))


def files_table(ids, universe: int, seed: int) -> pa.Table:
    """Rows of the seeded source-code corpus for the given file ids.
    ``universe`` fixes the repo count, so later waves land in the same
    (zipf-skewed) repos as the base table."""
    pdf = generate_batch(np.asarray(ids, dtype=np.int64), universe, seed)
    return pa.Table.from_pandas(pdf[COLUMNS], preserve_index=False)


def stage_parquet(tbl: pa.Table, path: str, files: int = 1) -> str:
    """Materialize an input as snappy parquet before any timing."""
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for i in range(files):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def same_multiset(a, b) -> bool:
    """Exact row-multiset equality of two frames in one shuffle job."""
    from pyspark.sql import functions as F

    tagged = a.withColumn("_d", F.lit(1)).unionByName(
        b.withColumn("_d", F.lit(-1)))
    return tagged.groupBy(*a.columns).agg(F.sum("_d").alias("_d")) \
        .filter(F.col("_d") != 0).limit(1).count() == 0


def rows_of(tbl_or_rows, cols) -> list:
    if isinstance(tbl_or_rows, pa.Table):
        d = tbl_or_rows.select(cols).to_pydict()
        return sorted(zip(*(d[c] for c in cols)))
    return sorted(tuple(r[c] for c in cols) for r in tbl_or_rows)


class Workload:
    """One benchmark workload. Subclasses fill in ``prepare`` (inputs),
    ``setup`` (starting state), ``measure`` (the timed closed loop),
    ``verify`` (untimed checks), ``named_e2e`` and, for traced runs,
    ``instrument`` / ``probe``."""

    name = ""
    SIZES: dict = {}
    # setup_s is the median of this many setups in one run
    SETUP_REPS = 3
    # the op kinds behind op_cpu_s and big_op_cpu_s
    BOUNDED_OPS: tuple = ()

    def __init__(self, spark, data_dir, seed, size, tracer):
        self.spark, self.sc = spark, spark.sparkContext
        self.dir = data_dir
        self.seed = seed
        self.p = self.SIZES[size]
        self.tracer = tracer
        self.times: dict[str, list[float]] = collections.defaultdict(list)
        # CPU seconds of the process tree less JIT compilation, per op
        self.cpu: dict[str, list[float]] = collections.defaultdict(list)
        self.attempted = 0
        # 1-based indices of failed ops: an op that raised and then fails
        # its check still counts once
        self.failed_ops: set[int] = set()
        self.checks: list[tuple[str, bool]] = []
        self.layer: dict[str, float] = {}
        # end-to-end numbers measured by layer probes of a traced run
        self.trace_named: dict[str, float] = {}
        self.facts: dict = {}

    # -- driver --------------------------------------------------------

    def execute(self, seconds: float) -> dict:
        os.makedirs(self.dir, exist_ok=True)
        phases = {}
        t0 = time.perf_counter()
        self.prepare()
        phases["prepare"] = time.perf_counter() - t0
        setups, setups_cpu = [], []
        for i in range(self.SETUP_REPS):
            t0, c0 = time.perf_counter(), tree_cpu_seconds(os.getpid())
            self.setup(os.path.join(self.dir, f"state{i}"))
            setups.append(time.perf_counter() - t0)
            setups_cpu.append(tree_cpu_seconds(os.getpid()) - c0)
        phases["setup"] = sum(setups)
        # untimed and untraced: the first op of each kind runs code paths
        # the setups do not, and runs them cold
        t0 = time.perf_counter()
        enabled, self.tracer.enabled = self.tracer.enabled, False
        self.warm_up()
        self.tracer.enabled = enabled
        phases["warm_up"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with contextlib.ExitStack() as stack:
            self.instrument(stack)
            with self.tracer.span(f"measure.{self.name}") as sp:
                self.measure_span = sp
                self.measure(seconds)
        phases["measure"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.verify()
        phases["verify"] = time.perf_counter() - t0
        if self.tracer.enabled:
            t0 = time.perf_counter()
            with self.tracer.span(f"probe.{self.name}"):
                self.probe()
            phases["probe"] = time.perf_counter() - t0
        self.facts["setups_s"] = " ".join(f"{s:.2f}" for s in setups)
        self.facts["setups_cpu_s"] = " ".join(f"{s:.2f}" for s in setups_cpu)
        for kind, ts in self.times.items():
            self.facts[f"{kind}_s ({len(ts)} ops)"] = " ".join(
                f"{t:.2f}" for t in ts)
            self.facts[f"{kind}_cpu_s"] = " ".join(
                f"{t:.2f}" for t in self.cpu[kind])
        self.facts["phases_s"] = " ".join(
            f"{k}={v:.1f}" for k, v in phases.items())
        self.setup_s, self.setup_wall_s = median(setups_cpu), median(setups)
        return {"attempted": self.attempted, "failed": len(self.failed_ops),
                "checks_ok": all(ok for _, ok in self.checks)}

    def op(self, kind: str, fn):
        """Run one timed operation of the closed loop. A raised error
        counts as a failed op; the loop goes on with the next one."""
        self.attempted += 1
        with self.tracer.span(f"op.{kind}"):
            t0, c0 = time.perf_counter(), tree_cpu_seconds(os.getpid())
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - the loop must keep running
                traceback.print_exc(file=sys.stderr)
                self.failed_ops.add(self.attempted)
                return None
            self.times[kind].append(time.perf_counter() - t0)
            self.cpu[kind].append(tree_cpu_seconds(os.getpid()) - c0)
        return out

    def check(self, what: str, ok: bool, per_op: bool = False) -> None:
        """Record an untimed correctness check. A failed per-op check
        marks the op just run as failed; a failed whole-run check fails
        them all."""
        self.checks.append((what, bool(ok)))
        if not ok:
            print(f"# CHECK FAILED: {what}", file=sys.stderr)
            self.failed_ops.update([self.attempted] if per_op
                                   else range(1, self.attempted + 1))

    @staticmethod
    def another_round(t0: float, rounds: int, lo: int, hi: int,
                      seconds: float) -> bool:
        """Whether a timed loop that began at ``t0`` and has run ``rounds``
        rounds starts one more: always below ``lo``, never at ``hi``, and
        otherwise only if a round of the mean length so far still ends
        within ``seconds``."""
        if rounds < lo or rounds >= hi:
            return rounds < lo
        elapsed = time.perf_counter() - t0
        return elapsed + elapsed / rounds <= seconds

    def warm_up(self) -> None:
        pass

    def instrument(self, stack) -> None:
        pass

    def probe(self) -> None:
        pass

    # -- reporting -----------------------------------------------------

    def named_e2e(self) -> dict:
        return {"setup_s": self.setup_s, "setup_wall_s": self.setup_wall_s,
                "error_rate": len(self.failed_ops) / max(self.attempted, 1)}

    def bounded_e2e(self) -> dict:
        """The bounded metrics of BENCHMARK.json, as ``name -> (value,
        unit)``: CPU seconds of the median set-up and of the median op of
        each kind in ``BOUNDED_OPS``."""
        op, big_op = (median(self.cpu[k]) for k in self.BOUNDED_OPS)
        return dict(zip(BOUNDED_METRICS, ((self.setup_s, "s"), (op, "s"),
                                          (big_op, "s"))))

    def report_lines(self, env: dict, named: dict) -> list[str]:
        """Human-readable ``#`` lines, then one JSON line with every named
        end-to-end metric (value, unit, direction)."""
        dirs = {n: b for n, _, b in NAMED_E2E}
        lines = [f"# workload {self.name} seed {self.seed} "
                 f"size {self.p['label']}",
                 "# env " + " ".join(f"{k}={v}" for k, v in env.items())]
        for k, v in self.facts.items():
            lines.append(f"# {k}: {v}")
        for k, v in named.items():
            lines.append(f"# {k} = {v:.6g} {E2E_UNITS[k]} "
                         f"({dirs[k]} is better)")
        lines.append(json.dumps({"workload": self.name, "env": env,
                                 "named_metrics": {
                                     k: {"value": v, "unit": E2E_UNITS[k],
                                         "better": dirs[k]}
                                     for k, v in named.items()}}))
        return lines

    def layer_metrics(self, ev, named: dict) -> dict:
        """Every per-layer metric, zero where this workload's layers do
        not reach, plus the Spark engine counters of the timed loop and
        the traced run's own end-to-end numbers (``trace.*``)."""
        units = {name: unit for name, unit, _ in LAYER_METRICS}
        out = {name: (0.0, unit) for name, unit in units.items()}
        self.fill_layers(ev)
        loop = ev.totals(span_groups(self.tracer, [self.measure_span]))
        self.layer.update({
            "spark.task_failures": loop["task_failures"],
            "spark.spill_bytes": loop["spill_bytes"],
            "spark.python_bytes_sent": loop["python_bytes_sent"],
            "spark.python_bytes_returned": loop["python_bytes_returned"],
            "spark.task_max_over_median": loop["task_max_over_median"],
            "spark.gc_s": loop["gc_s"],
        })
        for k, v in {**self.trace_named, **named}.items():
            self.layer[f"trace.{k}"] = v
        for k, v in self.layer.items():
            if k not in units:
                raise KeyError(f"per-layer metric {k} is not catalogued")
            out[k] = (float(v), units[k])
        return out

    def fill_layers(self, ev) -> None:
        pass

    def codec_layers(self, chunks) -> None:
        """Codec kernel probe on this run's own chunks (untimed)."""
        meta = chunks.drop("data").toPandas()
        rows = chunks.select("column", "params", "data").collect()
        out, failures = probes.codec_probe(rows, meta)
        self.layer.update(out)
        self.check("codec kernels round-trip the run's arrays", not failures)

    def span_totals(self, ev, name: str) -> dict:
        return ev.totals(span_groups(self.tracer, self.tracer.named(name)))

    def span_median(self, name: str) -> float:
        return median([s.seconds for s in self.tracer.named(name)])

    def facts_working_set(self, nbytes: int) -> None:
        """State the working set against Spark storage memory and the
        page cache (both must hold it for the numbers to mean what the
        README says they mean)."""
        heap = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime() \
            .maxMemory()
        frac = float(self.spark.conf.get("spark.memory.fraction", "0.6"))
        storage = (heap - 300 * MB) * frac
        with open("/proc/meminfo") as f:
            avail = next(int(ln.split()[1]) * 1024 for ln in f
                         if ln.startswith("MemAvailable"))
        self.facts["working_set"] = (
            f"{nbytes / MB:.1f} MB; Spark storage memory {storage / MB:.0f} MB"
            f" ({'fits' if nbytes < storage else 'DOES NOT FIT'}); page cache"
            f" available {avail / MB:.0f} MB "
            f"({'fits' if nbytes < avail else 'DOES NOT FIT'})")


# ---------------------------------------------------------------------------
# ingest_waves: snapshot commit -> incremental encode wave (-> maintenance)
# ---------------------------------------------------------------------------


class IngestWaves(Workload):
    """The write path. Each cycle is one append wave, then one
    consolidation and expiry of the store. One untimed cycle warms up; the
    loop then runs at least ``min_cycles`` cycles."""

    name = "ingest_waves"
    SIZES = {
        "full": dict(label="full", base=3000, wave=60, min_cycles=3,
                     max_cycles=6),
        "smoke": dict(label="smoke", base=300, wave=20, min_cycles=1,
                      max_cycles=1),
    }
    BOUNDED_OPS = ("wave", "maintenance")

    def prepare(self):
        p = self.p
        n_waves = p["max_cycles"] + 1
        self.universe = p["base"] + p["wave"] * n_waves
        base = files_table(range(p["base"]), self.universe, self.seed)
        self.base_dir = stage_parquet(base, os.path.join(self.dir, "in/base"),
                                      files=4)
        self.wave_dirs, self.wave_bytes, self.wave_tables = [], [], []
        for w in range(n_waves):
            lo = p["base"] + w * p["wave"]
            t = files_table(range(lo, lo + p["wave"]), self.universe,
                            self.seed)
            self.wave_dirs.append(stage_parquet(
                t, os.path.join(self.dir, f"in/wave{w:03d}")))
            self.wave_bytes.append(user_bytes(t))
            self.wave_tables.append(t)
        self.base = base

    def setup(self, d):
        from parquet_producers_spark.sources.snapshots import (
            commit_snapshot, encode_table_incremental)

        self.tbl, self.enc = os.path.join(d, "table"), os.path.join(d, "enc")
        commit_snapshot(self.spark, self.spark.read.parquet(self.base_dir),
                        self.tbl)
        # the bulk load is one plain wave; in-cadence maintenance is for
        # the small waves the loop appends
        encode_table_incremental(self.spark, self.tbl, self.enc, "code",
                                 sort_cols=SORT_COLS, **ENCODE_KW)

    def _state_bytes(self):
        return dir_bytes(self.tbl) + dir_bytes(self.enc)

    def warm_up(self):
        self.written = self.committed = self.timed_bytes = 0
        self.applied = [self.base]
        self.next_wave = 0
        self._wave("warm_up_wave")
        self._maintenance("warm_up_maintenance")

    def measure(self, seconds):
        t0 = time.perf_counter()
        cycles = 0
        while self.another_round(t0, cycles, self.p["min_cycles"],
                                 self.p["max_cycles"], seconds):
            self._wave("wave")
            self._maintenance("maintenance")
            cycles += 1

    def _wave(self, kind):
        from parquet_producers_spark.sources.snapshots import (
            commit_snapshot, encode_table_incremental)

        w = self.next_wave
        self.next_wave += 1
        before = self._state_bytes()
        src = self.wave_dirs[w]

        def wave():
            with self.tracer.span("commit_snapshot"):
                commit_snapshot(self.spark, self.spark.read.parquet(src),
                                self.tbl, mode="append")
            with self.tracer.span("encode_table_incremental"):
                return encode_table_incremental(
                    self.spark, self.tbl, self.enc, "code",
                    sort_cols=SORT_COLS, maintain=True, **ENCODE_KW)

        res = self.op(kind, wave)
        self.written += self._state_bytes() - before
        self.committed += self.wave_bytes[w]
        if kind == "wave":
            self.timed_bytes += self.wave_bytes[w]
        self.applied.append(self.wave_tables[w])
        if res is not None:
            self.check(f"wave {w} encoded its rows",
                       res["rows"] == self.p["wave"], per_op=True)

    def _maintenance(self, kind):
        from parquet_producers_spark.sources.snapshots import (
            consolidate_encoded_table, expire_encoded_versions)

        from parquet_producers_spark.storage import stage_dir

        if self.tracer.enabled:
            self._before_maintenance()

        def maint():
            with self.tracer.span("consolidate_encoded_table"):
                res = consolidate_encoded_table(
                    self.spark, self.enc, "code", sort_cols=SORT_COLS,
                    **ENCODE_KW)
            with self.tracer.span("expire_encoded_versions"):
                expire_encoded_versions(self.enc, "code")
            return res

        res = self.op(kind, maint)
        if res is not None:
            self.written += dir_bytes(stage_dir(self.enc, "code",
                                                res["version"]))

    def _runt_frac(self, version: int) -> float:
        from parquet_producers_spark.encoder import CHUNK_ROWS
        from parquet_producers_spark.storage import read_chunks

        m = (read_chunks(self.spark, self.enc, "code", version)
             .select("slice_id", "part_id", "chunk_seq", "n_rows")
             .distinct().toPandas())
        return float((m.n_rows < CHUNK_ROWS).mean())

    def _before_maintenance(self):
        """Traced runs only, untimed: the live store's chunk layout and the
        runt share of every in-wave compaction since the last maintenance
        (their source versions are expired by the maintenance)."""
        self.meta_before = self._chunk_meta()
        for sp in self.tracer.named("compact_stage"):
            if "runts" not in sp.attrs:
                v = sp.attrs["args"][3]
                sp.attrs["runts"] = (self._runt_frac(v),
                                     self._runt_frac(v + 1))

    def _chunk_meta(self):
        from parquet_producers_spark.sources.snapshots import (
            read_encoded_table)

        return (read_encoded_table(self.spark, self.enc, "code")
                .drop("data").toPandas())

    def verify(self):
        from parquet_producers_spark.encoder import decode_chunks
        from parquet_producers_spark.sources.snapshots import (
            read_encoded_table, read_snapshot)

        snap = read_snapshot(self.spark, self.tbl).select(*COLUMNS)
        dec = decode_chunks(read_encoded_table(self.spark, self.enc, "code")
                            ).select(*COLUMNS)
        self.check("decoded store == snapshot (row multiset)",
                   same_multiset(snap, dec))
        # the paper's size bar: the same rows as snappy parquet
        bar = os.path.join(self.dir, "size_bar")
        snap.write.mode("overwrite").option("compression", "snappy") \
            .parquet(bar)
        self.parquet_bytes = dir_bytes(bar, ".parquet")
        self.store_bytes = dir_bytes(self.enc, ".parquet")
        self.facts_working_set(self._state_bytes())

    def named_e2e(self):
        waves = self.times["wave"]
        return {
            "ingest_wave_p50_s": median(waves),
            "ingest_mb_s": self.timed_bytes / MB / max(sum(waves), 1e-9),
            "maintenance_s": median(self.times["maintenance"]),
            "stored_bytes_ratio": self.store_bytes / max(self.parquet_bytes, 1),
            "write_amp": self.written / max(self.committed, 1),
            **super().named_e2e(),
        }

    # -- traced run ------------------------------------------------------

    def instrument(self, stack):
        from parquet_producers_spark import compaction, storage
        from parquet_producers_spark.sources import snapshots

        t = self.tracer
        t.wrap(stack, storage, "encode_run")
        t.wrap(stack, compaction, "compact_stage")
        t.wrap(stack, snapshots, "snapshot_diff")
        t.wrap(stack, snapshots, "read_snapshot")
        t.wrap(stack, snapshots, "read_encoded_table")

    def probe(self):
        """Layer probes on this run's own table and consolidated store:
        the encode layer, the codec kernels, and the read path and near-dup
        functions that the workloads run by hand (``sorted_reads``,
        ``near_dup``) time end to end."""
        from parquet_producers_spark.encoder import encode_partitions
        from parquet_producers_spark.sources.snapshots import (
            read_encoded_table, read_snapshot)

        table = pa.concat_tables(self.applied)
        src = read_snapshot(self.spark, self.tbl).select(*COLUMNS) \
            .localCheckpoint(eager=True)
        with self.tracer.span("probe.encode_partitions") as sp:
            noop(encode_partitions(src, sort_cols=SORT_COLS, **ENCODE_KW))
        self.layer["encoder.encode_s"] = sp.seconds
        self.layer["encoder.encode_mb_s"] = user_bytes(table) / MB / sp.seconds
        chunks = read_encoded_table(self.spark, self.enc, "code")
        self.codec_layers(chunks)
        read_path_probe(self, chunks, table, lookup_stream(table, self.seed))
        functions_probe(self, snapshot_docs(self.spark, self.tbl), table,
                        self.seed)

    def fill_layers(self, ev):
        from parquet_producers_spark.encoder import CHUNK_ROWS

        L = self.layer
        fill_read_layers(self, ev)
        enc = self.span_totals(ev, "probe.encode_partitions")
        L["encoder.python_bytes_sent"] = enc["python_bytes_sent"]
        L["encoder.python_bytes_returned"] = enc["python_bytes_returned"]
        before = self.meta_before
        ident = before[["enc_version", "slice_id", "part_id", "chunk_seq",
                        "n_rows"]].drop_duplicates()
        L["encoder.chunks"] = len(ident)
        L["encoder.runt_chunk_frac"] = float((ident.n_rows < CHUNK_ROWS).mean())
        runs = self.tracer.named("encode_run")
        L["storage.encode_run_s"] = median([s.seconds for s in runs])
        st = self.span_totals(ev, "encode_run")
        L["storage.spark_jobs"] = st["jobs"] / max(len(runs), 1)
        L["storage.bytes_written"] = st["bytes_written"] / max(len(runs), 1)
        L["storage.manifest_writes"] = median([
            sum(not r.skipped for r in s.attrs["result"]) for s in runs])
        waves = self.tracer.named("op.wave")
        L["snapshots.commit_s"] = self.span_median("commit_snapshot")
        L["snapshots.diff_s"] = self.span_median("snapshot_diff")
        L["snapshots.wave_s"] = self.span_median("encode_table_incremental")
        L["snapshots.wave_spark_jobs"] = (
            self.span_totals(ev, "op.wave")["jobs"] / max(len(waves), 1))
        L["snapshots.consolidate_s"] = self.span_median(
            "consolidate_encoded_table")
        L["snapshots.expire_s"] = self.span_median("expire_encoded_versions")
        L["snapshots.read_plan_s"] = median(
            [s.seconds for s in self.tracer.named("read_snapshot")
             + self.tracer.named("read_encoded_table")])
        L["snapshots.waves_live"] = before[["enc_version"]] \
            .drop_duplicates().shape[0]
        L["snapshots.manifest_bytes"] = (
            dir_bytes(self.tbl, "_snapshots") + dir_bytes(self.enc, ".json"))
        comp = self.tracer.named("compact_stage")
        L["compaction.compact_s"] = median([s.seconds for s in comp])
        ct = self.span_totals(ev, "compact_stage")
        L["compaction.bytes_rewritten"] = ct["bytes_written"] / max(
            len(comp), 1)
        runts = [s.attrs["runts"] for s in comp if "runts" in s.attrs]
        L["compaction.runt_frac_before"] = median([b for b, _ in runts])
        L["compaction.runt_frac_after"] = median([a for _, a in runts])


# ---------------------------------------------------------------------------
# the read path: sorted scan, full decode aggregate, point lookups
# ---------------------------------------------------------------------------


def lookup_stream(table: pa.Table, seed: int, n: int = 1000) -> list:
    """Seeded lookups, alternating lead-key ``repo`` and ``path`` equality.
    Keys are drawn per row, so zipf-hot repos are looked up most."""
    picks = np.random.default_rng(seed).integers(0, table.num_rows, size=n)
    repo, path = table.column("repo"), table.column("path")
    return [("repo", repo[int(r)].as_py()) if i % 2 == 0
            else ("path", path[int(r)].as_py()) for i, r in enumerate(picks)]


def sorted_scan(chunks, out_dir: str) -> str:
    from parquet_producers_spark.sortedread import read_sorted

    read_sorted(chunks, "repo").write.mode("overwrite").parquet(out_dir)
    return out_dir


def decode_agg(chunks) -> list:
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import decode_chunks

    rows = (decode_chunks(chunks).groupBy("lang")
            .agg(F.count("*").alias("n"),
                 F.sum(F.length("content")).alias("chars")).collect())
    return sorted((r["lang"], r["n"], r["chars"]) for r in rows)


def expected_agg(table: pa.Table) -> list:
    pdf = table.select(["lang", "content"]).to_pandas()
    g = pdf.groupby("lang")["content"]
    return sorted((lang, int(n), int(chars)) for lang, n, chars in zip(
        g.size().index, g.size(), g.apply(lambda s: s.str.len().sum())))


def lookup(chunks, col: str, val: str) -> list:
    from pyspark.sql import functions as F

    from parquet_producers_spark.encoder import read_where

    if col == "repo":
        # zone maps are chunk-granular: apply the exact key predicate
        df = read_where(chunks, key_range=(val, val)) \
            .filter(F.col("repo") == val)
    else:
        df = read_where(chunks, equals={"path": val})
    return df.select(*COLUMNS).collect()


def lookup_truth(table: pa.Table, col: str, val: str) -> list:
    return rows_of(table.filter(pc.equal(table.column(col), val)), COLUMNS)


def sorted_output_ok(out_dir: str, n_rows: int) -> bool:
    """Written sorted output: every file sorted by (range_id, repo), each
    range in one file, ranges tile the key space in order, every row."""
    ok, n, bounds, seen = True, 0, {}, set()
    for f in sorted(os.listdir(out_dir)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out_dir, f),
                          columns=["range_id", "repo"]).to_pydict()
        pairs = list(zip(t["range_id"], t["repo"]))
        n += len(pairs)
        ok &= pairs == sorted(pairs)
        rids = set(t["range_id"])
        ok &= not (rids & seen)
        seen |= rids
        for rid, key in pairs:
            lo, hi = bounds.get(rid, (key, key))
            bounds[rid] = (min(lo, key), max(hi, key))
    spans = [bounds[r] for r in sorted(bounds)]
    ok &= all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))
    return ok and n == n_rows


def read_path_probe(wl, chunks, table: pa.Table, lookups,
                    n_lookups: int = 10) -> None:
    """Read-path layer probes on one store, each output checked against
    ``table``: full decode, range planning, sorted read, the sorted scan
    and decode aggregate the read workload times, and point lookups."""
    from parquet_producers_spark.encoder import (
        decode_chunks, prune_chunks, prune_chunks_eq)
    from parquet_producers_spark.sortedread import (
        plan_key_ranges, read_sorted)

    L, t, named = wl.layer, wl.tracer, wl.trace_named
    mb = user_bytes(table) / MB
    with t.span("probe.decode_chunks") as sp:
        noop(decode_chunks(chunks))
    L["encoder.decode_s"] = sp.seconds
    L["encoder.decode_mb_s"] = mb / sp.seconds
    meta = chunks.drop("data").localCheckpoint(eager=True)
    with t.span("probe.plan_key_ranges") as sp:
        ranges = plan_key_ranges(meta)
    L["sortedread.plan_s"] = sp.seconds
    L["sortedread.ranges"] = len(ranges)
    with t.span("probe.read_sorted") as sp:
        noop(read_sorted(chunks, "repo"))
    L["sortedread.read_s"] = sp.seconds
    sizes = [r["count"] for r in read_sorted(chunks, "repo")
             .groupBy("range_id").count().collect()]
    L["sortedread.range_skew"] = max(sizes) / (sum(sizes) / len(sizes))

    out_dir = os.path.join(wl.dir, "probe_sorted")
    with t.span("probe.sorted_scan") as sp:
        sorted_scan(chunks, out_dir)
    wl.check("sorted scan is key-ordered with every row",
             sorted_output_ok(out_dir, table.num_rows))
    named["sorted_scan_s"] = sp.seconds
    named["scan_mb_s"] = mb / sp.seconds
    wl.check("decode aggregate == table",
             decode_agg(chunks) == expected_agg(table))

    times, kept = [], []
    ident = ["enc_version", "slice_id", "part_id", "chunk_seq"]
    total = meta.select(*ident).distinct().count()
    for col, val in lookups[:n_lookups]:
        with t.span("probe.lookup") as sp:
            rows = lookup(chunks, col, val)
        times.append(sp.seconds)
        wl.check(f"lookup {col}={val}",
                 rows_of(rows, COLUMNS) == lookup_truth(table, col, val))
        pruned = (prune_chunks(meta, val, val) if col == "repo"
                  else prune_chunks_eq(meta, "path", val))
        kept.append(pruned.select(*ident).distinct().count() / total)
    named["lookup_p50_ms"] = 1000 * median(times)
    named["lookup_p90_ms"] = 1000 * quantile(times, 0.9)
    L["encoder.lookup_chunks_kept_frac"] = sum(kept) / len(kept)


def fill_read_layers(wl, ev) -> None:
    L = wl.layer
    L["encoder.decode_shuffle_bytes"] = wl.span_totals(
        ev, "probe.decode_chunks")["shuffle_bytes"]
    looks = wl.tracer.named("probe.lookup")
    L["encoder.lookup_s"] = median([s.seconds for s in looks])
    L["encoder.spark_jobs_per_lookup"] = (
        wl.span_totals(ev, "probe.lookup")["jobs"] / max(len(looks), 1))
    rs = wl.span_totals(ev, "probe.read_sorted")
    L["sortedread.shuffle_bytes"] = rs["shuffle_bytes"]
    L["sortedread.spark_jobs"] = rs["jobs"]


class SortedReads(Workload):
    """The read path over one globally sorted store version. Each round is
    one ``read_sorted`` -> parquet write, one full ``decode_chunks``
    aggregate and a seeded stream of ``read_where`` lookups, half on the
    lead key ``repo`` (zone maps) and half ``equals`` on ``path`` (blooms).
    No encode work happens while timing."""

    name = "sorted_reads"
    SIZES = {
        "full": dict(label="full", files=4000, lookups_per_round=25,
                     min_lookups=100),
        "smoke": dict(label="smoke", files=300, lookups_per_round=4,
                      min_lookups=4),
    }
    BOUNDED_OPS = ("lookup", "sorted_scan")

    def prepare(self):
        n = self.p["files"]
        self.table = files_table(range(n), n, self.seed)
        self.src_dir = stage_parquet(self.table,
                                     os.path.join(self.dir, "in"), files=4)
        self.bytes = user_bytes(self.table)
        self.lookups = lookup_stream(self.table, self.seed)
        self.expect_agg = expected_agg(self.table)

    def setup(self, d):
        from parquet_producers_spark.sources.snapshots import (
            commit_snapshot, encode_table_incremental)

        self.tbl, self.enc = os.path.join(d, "table"), os.path.join(d, "enc")
        commit_snapshot(self.spark, self.spark.read.parquet(self.src_dir),
                        self.tbl)
        # one wave over the whole table: one globally sorted version, the
        # same layout consolidate_encoded_table leaves behind
        encode_table_incremental(self.spark, self.tbl, self.enc, "code",
                                 sort_cols=SORT_COLS, **ENCODE_KW)

    def chunks(self):
        from parquet_producers_spark.sources.snapshots import (
            read_encoded_table)

        return read_encoded_table(self.spark, self.enc, "code")

    def measure(self, seconds):
        t_end = time.perf_counter() + seconds
        li = 0
        out_dir = os.path.join(self.dir, "sorted_out")
        while li < self.p["min_lookups"] or time.perf_counter() < t_end:
            if self.op("sorted_scan",
                       lambda: sorted_scan(self.chunks(), out_dir)):
                self.check("sorted scan is key-ordered with every row",
                           sorted_output_ok(out_dir, self.table.num_rows),
                           per_op=True)
            got = self.op("decode_agg", lambda: decode_agg(self.chunks()))
            if got is not None:
                self.check("decode aggregate == table",
                           got == self.expect_agg, per_op=True)
            for _ in range(self.p["lookups_per_round"]):
                col, val = self.lookups[li % len(self.lookups)]
                li += 1
                rows = self.op("lookup",
                               lambda: lookup(self.chunks(), col, val))
                if rows is not None:
                    self.check(f"lookup {col}={val}", rows_of(rows, COLUMNS)
                               == lookup_truth(self.table, col, val),
                               per_op=True)

    def verify(self):
        from parquet_producers_spark.sources.snapshots import read_snapshot

        snap = read_snapshot(self.spark, self.tbl).select(*COLUMNS)
        gen = self.spark.read.parquet(self.src_dir).select(*COLUMNS)
        self.check("snapshot == generated table (lookup ground truth)",
                   same_multiset(snap, gen))
        self.facts_working_set(dir_bytes(self.tbl) + dir_bytes(self.enc))
        self.facts["lookups"] = f"{len(self.times['lookup'])} per run"

    def named_e2e(self):
        scans, looks = self.times["sorted_scan"], self.times["lookup"]
        return {
            "sorted_scan_s": median(scans),
            "scan_mb_s": self.bytes * len(scans) / MB / max(sum(scans), 1e-9),
            "lookup_p50_ms": 1000 * median(looks),
            "lookup_p90_ms": 1000 * quantile(looks, 0.9) if looks else 0.0,
            **super().named_e2e(),
        }

    def probe(self):
        self.codec_layers(self.chunks())
        read_path_probe(self, self.chunks(), self.table, self.lookups)

    def fill_layers(self, ev):
        fill_read_layers(self, ev)
        dec = self.span_totals(ev, "probe.decode_chunks")
        self.layer["encoder.python_bytes_sent"] = dec["python_bytes_sent"]
        self.layer["encoder.python_bytes_returned"] = (
            dec["python_bytes_returned"])


# ---------------------------------------------------------------------------
# producer_dag: symbols (repo,path -> symbol) feeding symbol_counts
# ---------------------------------------------------------------------------

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def file_symbols(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Produce for ``symbols``: one row per identifier of a file, with its
    number of occurrences (the word-count shape over code)."""
    counts: collections.Counter = collections.Counter()
    for text in pdf["content"]:
        counts.update(_IDENT.findall(text))
    return pd.DataFrame({"symbol": list(counts),
                         "n": np.fromiter(counts.values(), np.int32,
                                          len(counts))})


def count_symbol(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Produce for ``symbol_counts``: total occurrences of one symbol."""
    return pd.DataFrame({"cnt": [int(pdf["n"].sum())], "sym": [key[0]]})


UPDATE_DDL = ["type", "repo", "path", "content"]


class ProducerDag(Workload):
    """The paper's core: a two-stage producer DAG kept current by waves.
    One untimed small wave warms up; the timed loop then runs pairs of a
    small delta and a large one, at least ``min_pairs`` of them. Each wave
    mixes updates, deletes and adds and obeys the update contract (one
    delete or upserts per key)."""

    name = "producer_dag"
    SIZES = {
        "full": dict(label="full", files=200, small=0.01, large=0.2,
                     min_pairs=2, max_pairs=6),
        "smoke": dict(label="smoke", files=100, small=0.02, large=0.2,
                      min_pairs=1, max_pairs=1),
    }
    BOUNDED_OPS = ("small_wave", "large_wave")
    # a bootstrap costs as much as two waves, and a second one would make
    # a run about 10 s (a sixth) longer: setup_s is the one, cold, bootstrap
    SETUP_REPS = 1

    def pipeline(self, root):
        from parquet_producers_spark.operators.produce import Stage
        from parquet_producers_spark.plans.dag import Pipeline

        p = Pipeline(self.spark, root)
        p.add(Stage("symbols", ["repo", "path"], ["symbol"], ["n"],
                    file_symbols, "symbol string, n int"))
        p.add(Stage("symbol_counts", ["symbol"], ["cnt"], ["sym"],
                    count_symbol, "cnt long, sym string"),
              sources=["symbols"])
        return p

    def prepare(self):
        p = self.p
        n = p["files"]
        universe = n * 4
        base = files_table(range(n), universe, self.seed)
        d = base.to_pydict()
        files = {i: (d["repo"][i], d["path"][i], d["content"][i])
                 for i in range(n)}
        self.boot_dir = stage_parquet(self._updates(
            [("Add", *files[i]) for i in range(n)]),
            os.path.join(self.dir, "in/boot"), files=4)
        rng = np.random.default_rng(self.seed)
        next_id = n
        self.waves = []  # (kind, dir, delta rows, delta bytes)
        for w in range(2 * p["max_pairs"] + 1):
            kind = ("warm_up_wave" if w == 0 else
                    "small_wave" if w % 2 else "large_wave")
            m = max(4, round(p["large" if kind == "large_wave" else "small"]
                             * len(files)))
            n_upd, n_del = m // 2, m // 4
            live = np.array(sorted(files))
            pick = rng.choice(live, n_upd + n_del, replace=False)
            adds = list(range(next_id, next_id + m - n_upd - n_del))
            next_id += len(adds)
            fresh = files_table(list(pick[:n_upd]) + adds, universe,
                                self.seed + 7919 * (w + 1)).to_pydict()
            rows = []
            for j, i in enumerate(list(pick[:n_upd]) + adds):
                files[int(i)] = (fresh["repo"][j], fresh["path"][j],
                                 fresh["content"][j])
                rows.append(("Update" if j < n_upd else "Add",
                             *files[int(i)]))
            for i in pick[n_upd:]:
                repo, path, _ = files.pop(int(i))
                rows.append(("Delete", repo, path, None))
            t = self._updates(rows)
            self.waves.append((kind, stage_parquet(
                t, os.path.join(self.dir, f"in/wave{w:03d}")),
                len(rows), user_bytes(t)))

    @staticmethod
    def _updates(rows) -> pa.Table:
        cols = list(zip(*rows))
        return pa.table({c: pa.array(v, pa.string())
                         for c, v in zip(UPDATE_DDL, cols)})

    def setup(self, d):
        self.root = os.path.join(d, "dag")
        self.pl = self.pipeline(self.root)
        self.pl.update({"symbols": self.spark.read.parquet(self.boot_dir)})

    def warm_up(self):
        self.applied = 0
        self.versions = collections.defaultdict(list)
        self.delta = collections.defaultdict(lambda: [0, 0])
        self.written = 0
        self._apply_next()

    def measure(self, seconds):
        t0 = time.perf_counter()
        pairs = 0
        while self.another_round(t0, pairs, self.p["min_pairs"],
                                 self.p["max_pairs"], seconds):
            self._apply_next()
            self._apply_next()
            pairs += 1

    def _apply_next(self):
        kind, src, n_rows, n_bytes = self.waves[self.applied]
        before, size_before = self.pl.version("symbols"), dir_bytes(self.root)
        v = self.op(kind, lambda: self.pl.update(
            {"symbols": self.spark.read.parquet(src)}))
        self.written += max(dir_bytes(self.root) - size_before, 0)
        if v is not None:
            self.check(f"{kind} committed version {before + 1}",
                       v == before + 1, per_op=True)
        self.versions[kind].append(v)
        self.delta[kind][0] += n_rows
        self.delta[kind][1] += n_bytes
        self.applied += 1

    def verify(self):
        """symbol_counts after the waves == a from-scratch recompute over
        the current files (driver-side, from the same generated inputs)."""
        counts: collections.Counter = collections.Counter()
        n_pairs = 0
        live = dict(self._files_after(self.applied))
        for _repo, _path, content in live.values():
            c = collections.Counter(_IDENT.findall(content))
            counts.update(c)
            n_pairs += len(c)
        got = {(r["symbol"], r["cnt"]) for r in
               self.pl.content("symbol_counts").select("symbol", "cnt")
               .collect()}
        self.check("symbol_counts == recompute over current files",
                   got == set(counts.items()))
        self.check("symbols has one row per (file, symbol)",
                   self.pl.content("symbols").count() == n_pairs)
        self.facts_working_set(dir_bytes(self.root))
        self.facts["waves"] = (
            f"{len(self.times['small_wave'])} small "
            f"({self.p['small']:.0%} of files) and "
            f"{len(self.times['large_wave'])} large ({self.p['large']:.0%})")

    def _files_after(self, n_waves):
        """Replay the first ``n_waves`` generated waves over the boot set."""
        boot = pq.read_table(self.boot_dir).to_pydict()
        files = {(r, p): c for r, p, c in
                 zip(boot["repo"], boot["path"], boot["content"])}
        for _kind, src, _n, _b in self.waves[:n_waves]:
            t = pq.read_table(src).to_pydict()
            for typ, r, p, c in zip(t["type"], t["repo"], t["path"],
                                    t["content"]):
                if typ == "Delete":
                    files.pop((r, p), None)
                else:
                    files[(r, p)] = c
        return {k: (k[0], k[1], c) for k, c in files.items()}.items()

    def named_e2e(self):
        committed = sum(b for _r, b in self.delta.values())
        return {
            "dag_wave_small_p50_s": median(self.times["small_wave"]),
            "dag_wave_large_p50_s": median(self.times["large_wave"]),
            "write_amp": self.written / max(committed, 1),
            **super().named_e2e(),
        }

    # -- traced run ------------------------------------------------------

    def instrument(self, stack):
        from parquet_producers_spark.operators import produce
        from parquet_producers_spark.plans import dag

        self.tracer.wrap(stack, dag.Pipeline, "_write", "dag.write")
        self.tracer.wrap(stack, dag, "update_stage")
        self.tracer.wrap(stack, produce, "run_produce")

    def probe(self):
        from pyspark.sql import functions as F

        from parquet_producers_spark.operators.produce import (
            run_produce, update_stage)
        from parquet_producers_spark.storage import stage_dir

        L, t = self.layer, self.tracer
        stage = self.pl.nodes["symbols"].stage
        v = self.pl.version("symbols")
        small = [w for w in self.waves if w[0] == "small_wave"]
        _kind, src, n_rows, _b = small[-1]
        updates = self.spark.read.parquet(src).localCheckpoint(eager=True)
        upserts = updates.filter(F.col("type") != "Delete")
        self.probe_delta_rows = n_rows
        with t.span("probe.run_produce") as sp:
            noop(run_produce(stage, upserts))
        L["produce.run_s"] = sp.seconds
        L["produce.groups"] = upserts.select("repo", "path").distinct().count()
        L["produce.rows_out"] = run_produce(stage, upserts).count()
        prev_content = self.pl.content("symbols", v)
        prev_map = self.spark.read.parquet(
            stage_dir(self.root, "symbols", v, "mappings"))
        storage_before = self._checkpoint_bytes()
        with t.span("probe.update_stage") as sp:
            for df in update_stage(stage, prev_content, prev_map, updates):
                noop(df)
        L["produce.reconcile_s"] = max(sp.seconds - L["produce.run_s"], 0.0)
        L["produce.checkpoint_bytes"] = max(
            self._checkpoint_bytes() - storage_before, 0)

    def _checkpoint_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def fill_layers(self, ev):
        L = self.layer
        up = self.span_totals(ev, "probe.update_stage")
        L["produce.input_rows_per_delta_row"] = (
            up["records_read"] / max(self.probe_delta_rows, 1))
        smalls = self.tracer.named("op.small_wave")
        timings = collections.defaultdict(list)
        for v in self.versions["small_wave"]:
            for path in sorted(os.listdir(os.path.join(self.root, "_txn"))):
                if path.startswith(f"v={v}."):
                    with open(os.path.join(self.root, "_txn", path)) as f:
                        for name, s in json.load(f)["timings_s"].items():
                            timings[name].append(s)
        L["dag.stage_s.symbols"] = median(timings["symbols"])
        L["dag.stage_s.symbol_counts"] = median(timings["symbol_counts"])
        L["dag.write_s"] = median([
            sum(s.seconds for s in self.tracer.subtree(w)
                if s.name == "dag.write") for w in smalls])
        tot = self.span_totals(ev, "op.small_wave")
        rows = self.delta["small_wave"][0]
        L["dag.rows_written_per_delta_row"] = (
            tot["records_written"] / max(rows, 1))
        L["dag.shuffle_bytes"] = tot["shuffle_bytes"] / max(len(smalls), 1)
        L["dag.spark_jobs"] = tot["jobs"] / max(len(smalls), 1)


# ---------------------------------------------------------------------------
# near-dup: minhash -> LSH -> simhash -> simhash pairs -> text stats
# ---------------------------------------------------------------------------


def snapshot_docs(spark, table_dir: str, batch_mod: int = 0, seed: int = 0):
    """One snapshot's ``content`` as documents, read with ``read_snapshot``
    (no codecs). ``batch_mod`` > 0 keeps a seeded 1/batch_mod of them."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.sources.snapshots import read_snapshot

    df = read_snapshot(spark, table_dir).select(
        F.xxhash64("repo", "path").alias("doc_id"), "content")
    if batch_mod:
        df = df.filter(F.pmod(F.col("doc_id") + seed, F.lit(batch_mod)) == 0)
    return df


def near_dup_pass(docs) -> tuple:
    from pyspark.sql import functions as F

    from parquet_producers_spark.functions.dedup import (
        lsh_candidate_pairs, minhash_signatures, simhash, simhash_near_pairs)
    from parquet_producers_spark.functions.text import with_text_stats

    # signatures feed both sides of the banded self-join: materialize once
    sig = minhash_signatures(docs, "content").localCheckpoint(eager=False)
    n_lsh = lsh_candidate_pairs(sig).count()
    n_sim = simhash_near_pairs(simhash(docs, "content"), max_hamming=3).count()
    st = with_text_stats(docs, "content").agg(
        F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens"),
        F.countDistinct("guessed_lang").alias("langs")).first()
    return n_lsh, n_sim, st["docs"], st["tokens"], st["langs"]


def minhash_reference(text: str, k: int = 3, h: int = 8) -> list[int]:
    """Driver-side minhash of one document with ``hashlib``: the definition
    ``functions.dedup.minhash_signatures`` documents."""
    tk = text.split(" ")
    shingles = {" ".join(tk[i:i + k]) for i in range(max(len(tk) - k, 0) + 1)}
    shingles.discard("")
    return [min(int(hashlib.md5(s.encode() + f"#{j}".encode())
                    .hexdigest()[:15], 16) for s in shingles)
            for j in range(h)]


def simhash_reference(text: str, bits: int = 16) -> int:
    toks = {t for t in text.split(" ") if t}
    sums = [0] * bits
    for t in toks:
        th = int(hashlib.md5(t.encode() + b"#99").hexdigest()[:15], 16)
        for b in range(bits):
            sums[b] += 1 if (th >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if sums[b] > 0)


def signatures_ok(spark, docs, table: pa.Table, seed: int) -> bool:
    """Minhash and simhash of a seeded sample of documents equal a
    driver-side ``hashlib`` recomputation."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.functions.dedup import (
        minhash_signatures, simhash)

    idx = np.random.default_rng(seed).choice(table.num_rows, 16,
                                             replace=False)
    d = table.take(pa.array(sorted(idx))).to_pydict()
    texts = {(r, p): c for r, p, c in zip(d["repo"], d["path"], d["content"])}
    ids = {r["doc_id"]: (r["repo"], r["path"]) for r in spark.createDataFrame(
        list(texts), "repo string, path string").select(
        F.xxhash64("repo", "path").alias("doc_id"), "repo", "path").collect()}
    picked = docs.filter(F.col("doc_id").isin(list(ids)))
    mh = {r["doc_id"]: [r[f"mh_{j}"] for j in range(8)]
          for r in minhash_signatures(picked, "content").collect()}
    sh = {r["doc_id"]: r["simhash"]
          for r in simhash(picked, "content").collect()}
    return len(mh) == len(sh) == len(ids) and all(
        mh[i] == minhash_reference(texts[rp])
        and sh[i] == simhash_reference(texts[rp]) for i, rp in ids.items())


def functions_probe(wl, docs, table: pa.Table, seed: int) -> None:
    """``functions`` layer probes on one snapshot: a timed full near-dup
    pass, then each kernel forced on its own."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.functions.dedup import (
        lsh_buckets, lsh_candidate_pairs, minhash_signatures, simhash,
        simhash_near_pairs)
    from parquet_producers_spark.functions.text import with_text_stats

    L, t = wl.layer, wl.tracer
    mb = pc.sum(pc.binary_length(table.column("content"))).as_py() / MB
    wl.check("minhash/simhash of sampled docs == hashlib recompute",
             signatures_ok(wl.spark, docs, table, seed))
    with t.span("probe.near_dup_pass") as sp:
        near_dup_pass(docs)
    wl.trace_named["dedup_mb_s"] = mb / sp.seconds
    docs = docs.localCheckpoint(eager=True)
    with t.span("probe.minhash_signatures") as sp:
        noop(minhash_signatures(docs, "content"))
    L["functions.minhash_mb_s"] = mb / sp.seconds
    sig = minhash_signatures(docs, "content").localCheckpoint(eager=True)
    with t.span("probe.lsh_candidate_pairs") as sp:
        L["functions.lsh_pairs"] = lsh_candidate_pairs(sig).count()
    L["functions.lsh_s"] = sp.seconds
    L["functions.lsh_max_bucket"] = (
        lsh_buckets(sig).groupBy("band", "bucket").count()
        .agg(F.max("count")).first()[0])
    with t.span("probe.simhash") as sp:
        noop(simhash(docs, "content"))
    L["functions.simhash_mb_s"] = mb / sp.seconds
    sh = simhash(docs, "content").localCheckpoint(eager=True)
    with t.span("probe.simhash_near_pairs") as sp:
        simhash_near_pairs(sh, max_hamming=3).count()
    L["functions.simhash_pairs_s"] = sp.seconds
    with t.span("probe.with_text_stats") as sp:
        noop(with_text_stats(docs, "content"))
    L["functions.text_stats_s"] = sp.seconds


class NearDup(Workload):
    """``functions.dedup`` / ``functions.text`` over one snapshot read with
    ``read_snapshot`` (no codecs). Ops alternate between a pass over a
    seeded batch of the files and a pass over the whole snapshot."""

    name = "near_dup"
    SIZES = {
        "full": dict(label="full", files=4000, batch_mod=4, min_rounds=5),
        "smoke": dict(label="smoke", files=300, batch_mod=4, min_rounds=1),
    }
    BOUNDED_OPS = ("batch_pass", "full_pass")

    def prepare(self):
        n = self.p["files"]
        self.table = files_table(range(n), n, self.seed)
        self.src_dir = stage_parquet(self.table,
                                     os.path.join(self.dir, "in"), files=4)
        self.content_bytes = pc.sum(
            pc.binary_length(self.table.column("content"))).as_py()

    def setup(self, d):
        from parquet_producers_spark.sources.snapshots import commit_snapshot

        self.tbl = os.path.join(d, "table")
        commit_snapshot(self.spark, self.spark.read.parquet(self.src_dir),
                        self.tbl)

    def measure(self, seconds):
        t_end = time.perf_counter() + seconds
        self.results = collections.defaultdict(list)
        rounds = 0
        while rounds < self.p["min_rounds"] or time.perf_counter() < t_end:
            for kind, mod in (("batch_pass", self.p["batch_mod"]),
                              ("full_pass", 0)):
                res = self.op(kind, lambda: near_dup_pass(snapshot_docs(
                    self.spark, self.tbl, mod, self.seed)))
                if res is not None:
                    first = self.results[kind][:1]
                    self.check(f"{kind} result repeats",
                               not first or res == first[0], per_op=True)
                    self.results[kind].append(res)
            rounds += 1

    def verify(self):
        self.check("minhash/simhash of sampled docs == hashlib recompute",
                   signatures_ok(self.spark, snapshot_docs(self.spark,
                                                           self.tbl),
                                 self.table, self.seed))
        full = self.results["full_pass"][:1]
        self.check("full pass saw every document",
                   bool(full) and full[0][2] == self.table.num_rows)
        self.facts_working_set(dir_bytes(self.tbl))
        if full:
            self.facts["pairs"] = (f"{full[0][0]} LSH candidates, "
                                   f"{full[0][1]} simhash pairs per full pass")

    def named_e2e(self):
        full = self.times["full_pass"]
        return {"dedup_mb_s": (self.content_bytes * len(full) / MB
                               / max(sum(full), 1e-9)),
                **super().named_e2e()}

    def probe(self):
        functions_probe(self, snapshot_docs(self.spark, self.tbl),
                        self.table, self.seed)


WORKLOADS = {w.name: w for w in (IngestWaves, SortedReads, ProducerDag,
                                 NearDup)}
