"""Snapshot-manifest table layout — the Iceberg-shaped input layer.

The north rule's input is an Iceberg table of source-code repos. The
Iceberg *library* isn't in this container, so this module implements
the load-bearing subset of its model natively (no formats borrowed,
just the architecture): a table is a directory of immutable parquet
data files plus a chain of JSON **snapshot manifests**; every commit
writes new data files and ONE new manifest listing the table's current
files — readers list the manifest, never the directory, so

* commits are atomic (the manifest appears or it doesn't),
* time travel = read an older snapshot id,
* appends/replaces never disturb concurrent readers,
* planning input = per-file row counts/sizes from the manifest.

All metadata goes through :class:`~..filestore.FileStore`, so the same
layout works on ``file://`` and object stores; data moves via Spark's
parquet reader given explicit file lists (an Iceberg-style
manifest-driven scan, not directory listing).

Scale note: a manifest has two on-disk forms. Up to
:data:`SHARD_THRESHOLD` files the list is inline JSON; past it the list
is written as PARQUET shard files under ``_snapshots/m=<id>/`` (real
Iceberg's manifest-list → manifest split) and the JSON snapshot is a
small pointer carrying ``files_dir`` + ``n_files``. The JSON stays the
atomic commit point in both forms. ONE reader, :func:`_manifest_files`,
knows the two forms; scans, diffs, file skipping, vacuum and the next
commit all answer from its list on the driver. A second, Spark-frame
reader over the shards lifted no bound: every append commit and every
scan already loads the full list on the driver, a 100k→150k sharded
diff took 0.5–1.8 s as a distributed anti-join and 0.8–1.0 s as a
driver set difference (4 cores), and the two readers disagreed on
pruning a ``double`` column. Per-file stats come from parquet FOOTERS
(metadata-only reads, distributed above :data:`_STATS_DISTRIBUTE_OVER`
files), never from a data scan.
"""

from __future__ import annotations

import json
import logging
import posixpath
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..encoder import open_parquet_any
from ..filestore import FileStore, LocalStore, list_data_files
from ..util import local_frame

# inline the file list in the snapshot JSON up to this many files;
# beyond it, shard the list into parquet manifests
SHARD_THRESHOLD = 10_000
# footer-stats reads go distributed above this many files
_STATS_DISTRIBUTE_OVER = 64

_log = logging.getLogger("parquet_producers_spark")


def _manifest_dir(table_dir: str) -> str:
    return posixpath.join(table_dir, "_snapshots")


def _manifest_path(table_dir: str, snapshot_id: int) -> str:
    return posixpath.join(_manifest_dir(table_dir), f"s={snapshot_id:06d}.json")


def list_snapshots(table_dir: str, store: FileStore | None = None) -> list[int]:
    store = store or LocalStore()
    return sorted(
        int(e.split("=")[1].split(".")[0])
        for e in store.listdir(_manifest_dir(table_dir))
        if e.startswith("s=") and e.endswith(".json")
    )


def _read_manifest(table_dir: str, snapshot_id: int | None,
                   store: FileStore) -> dict:
    """The manifest of ``snapshot_id`` (``None`` → the latest)."""
    snaps = list_snapshots(table_dir, store)
    if not snaps:
        raise FileNotFoundError(f"no snapshots under {table_dir}")
    sid = snapshot_id if snapshot_id is not None else snaps[-1]
    if sid not in snaps:
        raise ValueError(f"snapshot {sid} not in {snaps}")
    return store.read_json(_manifest_path(table_dir, sid))


def _one_footer(path: str, stats_cols: list[str]) -> tuple[int, dict]:
    """Rows + per-column {min,max} for ``stats_cols`` from ONE parquet
    footer (metadata only). A column's stats are omitted — never
    guessed — when any row group lacks min/max or the values aren't
    JSON-portable (int/float/str); absent stats mean "cannot prune",
    which is always safe."""
    md = open_parquet_any(path).metadata
    out: dict[str, dict] = {}
    if stats_cols:
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        for c in stats_cols:
            if c not in names:
                continue
            ci = names.index(c)
            lo = hi = None
            ok = md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        ok = False
                        break
                if not isinstance(mn, (int, float, str)):
                    ok = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if ok:
                out[c] = {"min": lo, "max": hi}
    return md.num_rows, out


def _footer_stats(
    spark: SparkSession,
    paths: list[str],
    stats_cols: list[str] | None = None,
) -> dict[str, tuple[int, dict]]:
    """``{path: (rows, {col: {"min":…, "max":…}})}`` from parquet
    FOOTERS — metadata-only reads, never a data scan. The stats map is
    empty without ``stats_cols`` (see :func:`_one_footer` for which
    columns it holds). Small lists read on the driver; large ones fan
    out as one footer read per file across the executors."""
    cols = list(stats_cols or [])
    if len(paths) <= _STATS_DISTRIBUTE_OVER:
        return {p: _one_footer(p, cols) for p in paths}
    import pandas as pd

    pdf = local_frame(spark, [(p,) for p in paths], "path string")

    def footer(batches):
        from parquet_producers_spark.sources.snapshots import _one_footer

        for b in batches:
            rows, stats = [], []
            for p in b["path"]:
                n, s = _one_footer(p, cols)
                rows.append(n)
                stats.append(json.dumps(s))
            yield pd.DataFrame(
                {"path": b["path"], "rows": rows, "stats": stats})

    rows = (
        pdf.repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(footer, schema="path string, rows long, stats string")
        .collect()
    )
    return {r["path"]: (int(r["rows"]), json.loads(r["stats"]))
            for r in rows}


def _shard_dir(table_dir: str, snapshot_id: int) -> str:
    return posixpath.join(_manifest_dir(table_dir), f"m={snapshot_id:06d}")


def _manifest_files(manifest: dict, store: FileStore) -> list[dict]:
    """The manifest's file list, one ``{path, rows, added[, stats]}``
    entry per data file. The ONE reader of both on-disk forms (inline
    ``files`` or the parquet shards under ``files_dir``, see
    :func:`_write_manifest`): every scan, diff, pruning plan, vacuum
    and commit reads the list through here."""
    if "files" in manifest:
        return manifest["files"]
    out: list[dict] = []
    for shard in list_data_files(store, manifest["files_dir"]):
        t = open_parquet_any(shard).read()
        # rows may be null: legacy inline manifests recorded rows:null
        # when stats were unavailable, and _write_manifest forwards that
        # into the shards — every consumer treats None as "unknown"
        # (encode_snapshot uses `or 0`). `added` (the snapshot the file
        # entered the table — delete-sequence scoping) is absent in
        # pre-round-5 shards.
        added = (t.column("added").to_pylist()
                 if "added" in t.column_names else [None] * t.num_rows)
        stats = (t.column("stats").to_pylist()
                 if "stats" in t.column_names else [None] * t.num_rows)
        for p, r, a, s in zip(t.column("path").to_pylist(),
                              t.column("rows").to_pylist(), added, stats):
            e = {"path": p,
                 "rows": int(r) if r is not None else None,
                 "added": int(a) if a is not None else None}
            if s:
                e["stats"] = json.loads(s)
            out.append(e)
    return out


def _write_manifest(
    spark: SparkSession,
    table_dir: str,
    new_id: int,
    parent: int | None,
    mode: str,
    schema_ddl: str,
    files: list[dict],
    store: FileStore,
    deletes: list[dict] | None = None,
    stats_cols: list[str] | None = None,
) -> None:
    head = {
        "snapshot": new_id,
        "parent": parent,
        "mode": mode,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "schema_ddl": schema_ddl,
        "n_files": len(files),
    }
    if stats_cols:
        # the table's pruning contract, persisted so every later commit
        # path (append, MERGE upsert, rewrite_deletes) keeps capturing
        # per-file stats without each caller re-passing the list
        head["stats_cols"] = list(stats_cols)
    if deletes:
        # equality-delete files (see commit_deletes). One table has few
        # delete files relative to data files (they're compacted away by
        # rewrite_deletes), so the list lives in the JSON head even when
        # the data-file list shards.
        head["deletes"] = deletes
    if len(files) <= SHARD_THRESHOLD:
        head["files"] = files
    else:
        # manifest tree: file list as parquet shards, written by Spark,
        # JSON snapshot is just the pointer. Write shards BEFORE the
        # pointer — the atomic commit point stays the JSON.
        fdir = _shard_dir(table_dir, new_id)
        n_shards = max(1, min(
            spark.sparkContext.defaultParallelism,
            len(files) // SHARD_THRESHOLD + 1))
        (
            local_frame(
                spark,
                # per-file column min/max as a JSON map — keeps the
                # shard schema stable across tables with different
                # stats_cols; _manifest_files parses it back to the
                # same dict the inline form holds
                [(f["path"], f.get("rows"), f.get("added"),
                  json.dumps(f["stats"]) if f.get("stats") else None)
                 for f in files],
                "path string, rows long, added long, stats string",
            )
            .repartition(n_shards)
            .write.mode("overwrite").parquet(fdir)
        )
        head["files_dir"] = fdir
    store.write_json_atomic(_manifest_path(table_dir, new_id), head)


def _commit(
    spark: SparkSession,
    table_dir: str,
    store: FileStore | None,
    mode: str,
    df: DataFrame | None = None,
    paths: Sequence[str] = (),
    schema_ddl: str | None = None,
    stats_cols: list[str] | None = None,
    delete_keys: tuple[DataFrame, list[str]] | None = None,
) -> int:
    """The one commit kernel. Writes the distinct ``delete_keys`` (a
    frame and its key columns) as an equality-delete file and ``df`` as
    new data files, both BEFORE the atomic manifest write. The new
    snapshot lists the parent's files and delete entries (a ``replace``
    starts from a clean slate), then the new data files — ``df``'s, or
    the existing ``paths`` — with their footer stats. ``stats_cols``
    and, when None, ``schema_ddl`` carry over from the parent."""
    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    parent = snaps[-1] if snaps else None
    new_id = (parent or 0) + 1
    prev = store.read_json(_manifest_path(table_dir, parent)) if snaps else {}
    carry = bool(prev) and mode != "replace"
    files = list(_manifest_files(prev, store)) if carry else []
    deletes = list(prev.get("deletes", [])) if carry else []
    if delete_keys is not None:
        if parent is None:
            raise FileNotFoundError(f"no snapshots under {table_dir}")
        keys_df, key_cols = delete_keys
        ddir = posixpath.join(table_dir, f"deletes/s={new_id:06d}")
        keys_df.select(*key_cols).distinct() \
            .write.mode("overwrite").parquet(ddir)
        deletes.append(
            {"path": ddir, "key_cols": list(key_cols), "seq": new_id})
    if df is not None:
        data_dir = posixpath.join(table_dir, f"data/s={new_id:06d}")
        df.write.mode("overwrite").parquet(data_dir)
        paths = list_data_files(store, data_dir)
    if stats_cols is None:
        # inherit the table's persisted pruning contract: a table
        # committed with stats_cols keeps capturing per-file stats on
        # every later commit, so file skipping never silently degrades
        # to keep-all after a commit that forgot the list
        stats_cols = prev.get("stats_cols")
    # `added` = the snapshot this file entered the table: the sequence
    # that scopes which delete files apply to its rows (commit_deletes)
    stats = _footer_stats(spark, paths, stats_cols)
    for p in paths:
        entry = {"path": p, "rows": stats[p][0], "added": new_id}
        if stats_cols:
            entry["stats"] = stats[p][1]
        files.append(entry)
    _write_manifest(
        spark, table_dir, new_id, parent, mode,
        schema_ddl if schema_ddl is not None else prev["schema_ddl"],
        files, store, deletes=deletes, stats_cols=stats_cols)
    return new_id


def commit_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    store: FileStore | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Write ``df``'s rows as new immutable data files + one manifest.

    ``mode='append'`` — new snapshot = previous files + new files;
    ``mode='replace'`` — new snapshot = new files only (logical
    overwrite; old files stay on disk for older snapshots).
    Returns the new snapshot id. The commit point is the atomic
    manifest write: a reader either sees the complete new snapshot or
    the previous one.

    ``stats_cols`` captures per-file column min/max from the parquet
    FOOTERS (metadata-only, same read that already takes row counts)
    into each manifest entry's ``stats`` — the planning input for
    manifest-level FILE SKIPPING (:func:`snapshot_files_pruned` /
    :func:`read_snapshot_where`): Iceberg's scan-planning story, where
    a range predicate prunes whole files before any data read.
    """
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return _commit(spark, table_dir, store, mode, df=df,
                   schema_ddl=schema_ddl, stats_cols=stats_cols)


def commit_files(
    spark: SparkSession,
    table_dir: str,
    paths: list[str],
    mode: str = "append",
    schema_ddl: str | None = None,
    store: FileStore | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Register EXISTING immutable parquet files as a new snapshot
    without rewriting their bytes — Iceberg's ``add_files`` import
    path. This is how a 10^12-file corpus enters the table layer:
    data stays where it is; only footers are read (distributed) for
    per-file stats, and the manifest (sharded past the threshold) is
    the only thing written."""
    if schema_ddl is None:
        schema_ddl = ""
        if paths:
            from ..encoder import _spark_type

            schema_ddl = ", ".join(
                f"{f.name} {_spark_type(f.type)}"
                for f in open_parquet_any(paths[0]).schema_arrow)
    return _commit(spark, table_dir, store, mode, paths=sorted(paths),
                   schema_ddl=schema_ddl, stats_cols=stats_cols)


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    store: FileStore | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Manifest-driven scan: read exactly the files the snapshot lists
    (never a directory listing). ``snapshot_id=None`` → latest.

    ``merge_schema=True`` is the add-column evolution path (Iceberg's
    schema evolution, scoped to additive changes): appended commits may
    carry files with NEW columns; the scan unions the file schemas and
    fills pre-evolution files with nulls — the standard parquet
    ``mergeSchema`` semantics, driven from the manifest's file list.

    Row-level deletes (:func:`commit_deletes`) read MERGE-ON-READ: data
    files group by which delete files apply to them (a delete's ``seq``
    covers only files ``added`` before it — Iceberg v2's sequence-number
    rule, so keys re-inserted AFTER a delete stay visible), each group
    anti-joins its delete keys, groups union. Zero overhead when the
    snapshot has no deletes."""
    store = store or LocalStore()
    manifest = _read_manifest(table_dir, snapshot_id, store)
    return _scan_files(spark, manifest, _manifest_files(manifest, store),
                       merge_schema)


def _scan_files(
    spark: SparkSession,
    manifest: dict,
    files: list[dict],
    merge_schema: bool = False,
) -> DataFrame:
    """Scan a subset of a snapshot's file entries with the snapshot's
    delete semantics applied — the shared tail of :func:`read_snapshot`
    and the pruned :func:`read_snapshot_where` path."""
    if not files:
        return local_frame(spark, [], manifest["schema_ddl"])
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    deletes = manifest.get("deletes", [])
    if not deletes:
        return reader.parquet(*(f["path"] for f in files))
    # merge-on-read: group data files by the subset of delete files
    # that cover them (files with no `added` marker are legacy —
    # treated as added first, so every delete applies)
    groups: dict[tuple, list[str]] = {}
    for f in files:
        added = f.get("added") or 0
        key = tuple(i for i, d in enumerate(deletes) if d["seq"] > added)
        groups.setdefault(key, []).append(f["path"])
    frames = []
    for key, paths in groups.items():
        df = reader.parquet(*paths)
        for i in key:
            d = deletes[i]
            keys_df = spark.read.parquet(d["path"]).select(*d["key_cols"])
            df = df.join(keys_df, on=list(d["key_cols"]), how="left_anti")
        frames.append(df)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=merge_schema)
    return out


def commit_deletes(
    spark: SparkSession,
    table_dir: str,
    deletes_df: DataFrame,
    key_cols: list[str],
    store: FileStore | None = None,
) -> int:
    """Row-level DELETE as a metadata commit — the Iceberg v2
    equality-delete shape (reference pipelines express deletion as
    update instructions, `ParquetProduction.cs` delete discipline; the
    lakehouse layer needs the same without rewriting data files).

    Writes the distinct ``key_cols`` tuples of ``deletes_df`` as an
    immutable parquet delete file under ``<table>/deletes/``, then
    commits a new snapshot whose data-file list is UNCHANGED and whose
    ``deletes`` list gains ``{path, key_cols, seq}``. Readers apply the
    delete merge-on-read (:func:`read_snapshot`): rows of data files
    added BEFORE ``seq`` whose keys match are suppressed; files added
    after are untouched, so re-inserting a deleted key makes it visible
    again. O(delete keys) write cost, zero data-file rewrites —
    :func:`rewrite_deletes` materializes when read amplification adds
    up. Time travel to pre-delete snapshots still sees the rows."""
    return _commit(spark, table_dir, store, "delete",
                   delete_keys=(deletes_df, key_cols))


def commit_upsert(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    key_cols: list[str],
    store: FileStore | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Atomic UPSERT (MERGE) commit — the Iceberg ``MERGE INTO`` shape,
    and the lakehouse form of the reference's Add/Update instruction
    (update semantics, reference README.md:115-144): ONE snapshot that
    both suppresses the table's existing rows for ``df``'s keys (an
    equality-delete entry whose sequence covers only files added
    before this commit) and appends ``df``'s rows as new data files.
    Readers flip at the single manifest write — there is no window
    where the delete landed but the new rows didn't; time travel sees
    the pre-merge table. Cost: O(df) writes, zero rewrites of existing
    data; :func:`rewrite_deletes` folds the accumulated delete entries
    away when read amplification adds up."""
    store = store or LocalStore()
    if not list_snapshots(table_dir, store):
        return commit_snapshot(spark, df, table_dir, store=store,
                               stats_cols=stats_cols)
    df = df.localCheckpoint(eager=False)  # consumed twice (keys + data)
    return _commit(spark, table_dir, store, "upsert", df=df,
                   stats_cols=stats_cols, delete_keys=(df, key_cols))


def rewrite_deletes(
    spark: SparkSession,
    table_dir: str,
    store: FileStore | None = None,
) -> int:
    """Materialize merge-on-read deletes into clean data files — the
    Iceberg ``rewrite`` maintenance action that caps read
    amplification: reads the current snapshot (deletes applied) and
    commits it as a replace, so the new snapshot carries no delete
    files and readers stop paying the anti-joins. Old files stay on
    disk for time travel until ``expire_snapshots`` + ``vacuum``."""
    store = store or LocalStore()
    return commit_snapshot(
        spark, read_snapshot(spark, table_dir, store=store), table_dir,
        mode="replace", store=store)


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    from_id: int,
    to_id: int | None = None,
    store: FileStore | None = None,
) -> DataFrame:
    """Incremental scan between snapshots (the Iceberg 'changed data'
    read): rows of the data files present in ``to_id`` but not in
    ``from_id``. For append-mode commits this is exactly the rows added
    after ``from_id`` — the natural feed for an incremental pipeline
    wave (`Pipeline.update` root updates): each wave consumes
    ``snapshot_diff(last_seen, latest)`` instead of rescanning the
    table. File identity (immutable paths), never row comparison — the
    diff is a driver set difference of the two manifests' file lists
    and reads only the new files."""
    store = store or LocalStore()
    to_manifest = _read_manifest(table_dir, to_id, store)
    new = _added_paths(_read_manifest(table_dir, from_id, store),
                       to_manifest, store)
    if not new:
        return local_frame(spark, [], to_manifest["schema_ddl"])
    return spark.read.parquet(*new)


def _added_paths(old: dict, new: dict, store: FileStore) -> list[str]:
    """Paths manifest ``new`` lists and manifest ``old`` does not — the
    plan of :func:`snapshot_diff`."""
    seen = {f["path"] for f in _manifest_files(old, store)}
    return [f["path"] for f in _manifest_files(new, store)
            if f["path"] not in seen]


def snapshot_files(table_dir: str, snapshot_id: int | None = None,
                   store: FileStore | None = None) -> list[dict]:
    """The snapshot's file list with stats — planning input (e.g. feed
    the paths straight to ``encoder.encode_files`` for the direct-scan
    encode of a sorted corpus)."""
    store = store or LocalStore()
    return _manifest_files(_read_manifest(table_dir, snapshot_id, store),
                           store)


def _zone(st: dict | None, column: str) -> dict | None:
    """``column``'s ``{min, max}`` in a file's stats; None when absent."""
    s = (st or {}).get(column)
    if not s or s.get("min") is None or s.get("max") is None:
        return None
    return s


def _stats_overlap(st: dict | None, column: str, lo, hi) -> bool:
    """True when the file MAY contain rows with ``column`` in
    [lo, hi] — i.e. keep it. Missing stats keep the file: pruning is
    planning, never a correctness filter. Stats and bounds are coerced
    under the BOUND's type (a string bound compares as a string, a
    number as a float); values that won't coerce — or types Python
    can't compare — KEEP the file, so pruning degrades to not-pruning,
    never to a TypeError."""
    s = _zone(st, column)
    if s is None:
        return True
    bound = lo if lo is not None else hi

    def co(v):
        if isinstance(bound, str):
            return str(v)
        if isinstance(bound, bool):
            return bool(v)
        if isinstance(bound, (int, float)):
            return float(v)
        return v

    try:
        if lo is not None and co(s["max"]) < co(lo):
            return False
        if hi is not None and co(s["min"]) > co(hi):
            return False
    except (TypeError, ValueError):
        return True
    return True


def snapshot_files_pruned(
    table_dir: str,
    column: str,
    lo=None,
    hi=None,
    snapshot_id: int | None = None,
    store: FileStore | None = None,
) -> list[dict]:
    """Manifest-level FILE SKIPPING (Iceberg scan planning): the
    snapshot's file list minus files whose ``stats`` min/max prove no
    row can satisfy ``lo <= column <= hi`` — decided from the manifest
    alone, zero data reads. Files without stats for ``column`` are
    always kept (:func:`_stats_overlap`). Logs one INFO line with the
    files kept, the total, and how many kept files had no stats for
    ``column`` — a plan that degraded to keep-all shows there."""
    store = store or LocalStore()
    manifest = _read_manifest(table_dir, snapshot_id, store)
    files = _manifest_files(manifest, store)
    kept = [f for f in files
            if _stats_overlap(f.get("stats"), column, lo, hi)]
    _log.info(
        "file skipping %s@%d on %s in [%s, %s]: kept %d/%d files, "
        "%d of them without stats on %s", table_dir, manifest["snapshot"],
        column, lo, hi, len(kept), len(files),
        sum(_zone(f.get("stats"), column) is None for f in kept), column)
    return kept


def read_snapshot_where(
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo=None,
    hi=None,
    snapshot_id: int | None = None,
    store: FileStore | None = None,
) -> DataFrame:
    """Range scan with manifest-level file skipping: plan the file list
    with :func:`snapshot_files_pruned`, scan ONLY the surviving files
    (delete semantics applied, same as :func:`read_snapshot`), then
    apply the EXACT predicate — pruning is an optimization layered
    under the filter, never a substitute for it."""
    from pyspark.sql import functions as F

    store = store or LocalStore()
    manifest = _read_manifest(table_dir, snapshot_id, store)
    files = snapshot_files_pruned(
        table_dir, column, lo, hi, manifest["snapshot"], store)
    df = _scan_files(spark, manifest, files)
    if lo is not None:
        df = df.filter(F.col(column) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(column) <= F.lit(hi))
    return df


def encode_snapshot(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    store: FileStore | None = None,
    cascade: bool = True,
    profile: str = "balanced",
    split_row_groups: bool | None = None,
    **encode_kw,
):
    """THE deployment-default encode route: plan from the snapshot
    manifest (file list + per-file row counts — no directory listing,
    no data scan) and encode via the direct-scan path, where each
    worker reads its parquet split with Arrow C++ inside the Python
    worker — table bytes never cross the JVM→Python socket (the ~70%
    overhead the generic ``encode_partitions`` route pays on Arrow
    shipping, encoder.py:encode_files docstring).

    Defaults are the deployment profile: balanced codec selection with
    the zstd entropy cascade. ``split_row_groups`` defaults on when the
    manifest's per-file stats show giant-file skew — any file larger
    than the per-task row budget would run as one straggler task — the
    north rule's mega-repo defense; off otherwise to skip the
    footer-planning pass.
    """
    from ..encoder import CHUNK_ROWS, encode_files

    files = snapshot_files(table_dir, snapshot_id, store)
    paths = [f["path"] for f in files]
    if split_row_groups is None:
        budget = encode_kw.get("max_rows_per_task", 8 * CHUNK_ROWS)
        rows = [f.get("rows") or 0 for f in files]
        split_row_groups = bool(rows) and max(rows) > budget
    return encode_files(spark, paths, cascade=cascade, profile=profile,
                        split_row_groups=split_row_groups, **encode_kw)


def expire_snapshots(
    table_dir: str,
    keep_last: int = 1,
    store: FileStore | None = None,
) -> list[int]:
    """Iceberg ``expire_snapshots``: drop the manifests of all but the
    newest ``keep_last`` snapshots (time travel to them ends; their
    data files become vacuum-able if nothing newer references them).
    Metadata-only — no data file is touched here. Returns the expired
    snapshot ids."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    expired = snaps[:-keep_last] if len(snaps) > keep_last else []
    for sid in expired:
        # a sharded manifest's shards go with it (absent when inline)
        store.delete(_shard_dir(table_dir, sid), recursive=True)
        store.delete(_manifest_path(table_dir, sid))
    return expired


def _table_suffix(path: str) -> str:
    """Identity of a data file RELATIVE to its table —
    ``data/s=NNNNNN/<name>``, the last three path components. Vacuum
    compares manifest paths against listed paths under this suffix, so
    a ``table_dir`` handed in under a different normalization than the
    one ``commit_snapshot`` used (relative vs absolute, trailing slash,
    symlinked prefix, ``file:`` URI) can never make every live file
    look orphaned."""
    return "/".join(path.rstrip("/").split("/")[-3:])


def vacuum(
    table_dir: str,
    store: FileStore | None = None,
    dry_run: bool = False,
    force: bool = False,
) -> list[str]:
    """Iceberg ``remove_orphan_files``: delete data files under the
    table's own ``data/`` tree that no LIVE snapshot references —
    the physical reclaim that must follow :func:`expire_snapshots`
    (replace commits and expiry both strand files). Files imported
    from OUTSIDE the table dir via :func:`commit_files` are never
    touched (they are not under ``data/``). Returns the orphan paths
    (deleted unless ``dry_run``).

    Live-vs-listed comparison is a driver set difference on the
    table-relative suffix ``data/s=NNNNNN/<name>``
    (:func:`_table_suffix`) — never on raw string equality — so
    path-normalization drift between the commit's ``table_dir`` and
    this call's cannot orphan the world. Defense in depth: if every
    listed file STILL looks orphaned while live snapshots reference
    files, the call refuses (raises) unless ``force=True`` — a GC must
    never be one bad argument away from deleting a whole table. Data
    dirs past the newest committed snapshot are never touched: they
    belong to a commit still writing. Logs one INFO line with the
    files listed, live, orphaned and deleted, and the dirs reclaimed."""
    store = store or LocalStore()
    sids = list_snapshots(table_dir, store)
    live: set[str] = set()
    live_del: set[str] = set()
    for sid in sids:
        manifest = store.read_json(_manifest_path(table_dir, sid))
        live.update(_table_suffix(f["path"])
                    for f in _manifest_files(manifest, store))
        live_del.update(
            "/".join(d["path"].rstrip("/").split("/")[-2:])
            for d in manifest.get("deletes", []))

    data_root = posixpath.join(table_dir, "data")
    newest = sids[-1] if sids else 0
    n_listed = 0
    orphans: list[str] = []
    empty_dirs: list[str] = []
    for sdir in store.listdir(data_root):
        # a dir past the newest committed snapshot belongs to a commit
        # still writing (its files or _temporary/ precede its manifest)
        # or to a crashed one, which the next commit_snapshot overwrites
        # — never garbage
        dir_id = sdir[2:]
        if (sdir.startswith("s=") and dir_id.isdigit()
                and int(dir_id) > newest):
            continue
        d = posixpath.join(data_root, sdir)
        ps = list_data_files(store, d)
        n_listed += len(ps)
        dir_orphans = [p for p in ps if _table_suffix(p) not in live]
        orphans.extend(dir_orphans)
        # a dir whose listing is ALREADY empty (e.g. a partial prior
        # vacuum deleted its files but died before the dir) is
        # dir-level garbage too — flagged explicitly instead of riding
        # the vacuous 0 == 0 all-orphan comparison (ADVICE r6 #4)
        if not ps or len(dir_orphans) == len(ps):
            empty_dirs.append(d)

    if (live and n_listed and len(orphans) == n_listed
            and not dry_run and not force):
        raise RuntimeError(
            f"vacuum({table_dir}): ALL {n_listed} listed data files "
            "appear orphaned while live snapshots reference files — "
            "this is the signature of a mis-specified table_dir, not "
            "of garbage. Inspect with dry_run=True; pass force=True "
            "only if the full wipe is intended.")

    n_orphans = len(orphans)
    if not dry_run:
        if orphans:
            # deletes are IO-bound round trips (a replace commit
            # strands the WHOLE previous file set, so the orphan list
            # is O(table), not O(garbage)); issue them from a thread
            # pool instead of a serial driver loop. Threads, not
            # executors: the py4j-backed HadoopStore can't cross into
            # python workers, and object-store deletes parallelize fine
            # from one host.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                    max_workers=min(32, len(orphans))) as ex:
                list(ex.map(store.delete, orphans))
        # empty dirs delete regardless of whether THIS run deleted any
        # files (ADVICE r6 #4: the old `orphans` gate let dir-level
        # garbage persist across runs once its files were gone);
        # _SUCCESS etc. ride along with their directory
        for d in empty_dirs:
            store.delete(d, recursive=True)

    # equality-delete files (commit_deletes): one parquet DIR per delete
    # commit under <table>/deletes — reclaim dirs no live snapshot's
    # deletes list references (dir-granular; same suffix identity)
    del_root = posixpath.join(table_dir, "deletes")
    for sdir in store.listdir(del_root):
        d = posixpath.join(del_root, sdir)
        if f"deletes/{sdir}" not in live_del:
            orphans.append(d)
            if not dry_run:
                store.delete(d, recursive=True)
    _log.info(
        "vacuum %s%s: %d data files listed, %d live, %d orphaned, "
        "%d deleted; %d data dirs and %d delete dirs reclaimed",
        table_dir, " (dry run)" if dry_run else "", n_listed,
        n_listed - n_orphans, n_orphans, 0 if dry_run else n_orphans,
        0 if dry_run else len(empty_dirs),
        0 if dry_run else len(orphans) - n_orphans)
    return orphans


# what a writer is told when the stage's wave map belongs to the other
# kind of writer: the two record different things under "snapshot"
_FOREIGN_MAP = {
    "stream": "stage {stage!r} is stream-sourced: its snapshot map records "
              "batch ordinals, not table snapshot ids, so a table-diff wave "
              "would plan a garbage diff. Encode the table into a separate "
              "stage.",
    "table": "stage {stage!r} is table-sourced: streaming batch ordinals "
             "into its snapshot map would corrupt the diff baseline. Use a "
             "separate stage.",
}


def _wave_map_path(enc_root: str, stage: str) -> str:
    return posixpath.join(enc_root, stage, "_snapshot_map.json")


def _load_wave_map(enc_root: str, stage: str, store: FileStore,
                   source: str | None = None) -> dict:
    """The ONE reader of a chunk store's wave map
    (``<enc_root>/<stage>/_snapshot_map.json``). Returns its live
    ``waves``; ``covered``, what the store is up to date with (a table
    snapshot id, or a stream's highest committed batch ordinal; None
    before the first commit); ``max_version``, the highest version ever
    committed (0 before the first) — every writer encodes one above it,
    so no committed number is reused while a crashed attempt retries
    under its own; and ``source``. A missing map reads as one with no
    waves. A writer names its ``source``, and a map the other kind of
    writer keeps is refused before a byte is encoded."""
    path = _wave_map_path(enc_root, stage)
    smap = store.read_json(path) if store.exists(path) else {}
    waves = smap.get("waves", [])
    owner = smap.get("source")
    if source and owner and owner != source:
        raise ValueError(_FOREIGN_MAP[owner].format(stage=stage))
    if "max_version" in smap:
        covered, top = smap["covered"], smap["max_version"]
    else:
        # a map written before coverage and the version high-water mark
        # were kept at the top level: the last wave carries both
        covered = waves[-1]["snapshot"] if waves else smap.get("covered")
        top = max((int(w["version"]) for w in waves), default=0)
    return {"waves": waves, "covered": covered, "max_version": int(top),
            "source": owner or source}


def _commit_wave_map(enc_root: str, stage: str, store: FileStore,
                     smap: dict, waves: list[dict], covered,
                     version: int = 0) -> None:
    """The ONE writer of the wave map: atomically replaces the loaded
    ``smap`` with the live ``waves`` and ``covered``, raising
    ``max_version`` to ``version`` (the highest version this commit
    wrote). Committed wave entries are carried or dropped, never
    edited."""
    store.write_json_atomic(_wave_map_path(enc_root, stage), {
        "source": smap["source"], "waves": waves, "covered": covered,
        "max_version": max(smap["max_version"], version)})


def _head(waves: list[dict], covered) -> dict:
    """What a call that encodes nothing answers: the newest live wave
    (``version`` 0 when none is) at the store's coverage."""
    return {**(waves[-1] if waves else {"version": 0}), "snapshot": covered}


def _encode_wave(spark: SparkSession, rows: DataFrame, enc_root: str,
                 stage: str, store: FileStore, smap: dict, covered,
                 sort_cols: list[str], fingerprint: str,
                 lineage: str | None = None, maintain: bool = False,
                 min_runt_fraction: float = 0.25, **encode_kw) -> dict:
    """Encode ``rows`` as the store's next version
    (:func:`~..storage.encode_run`) and commit it as a wave covering
    ``covered``: appended to the live list or, given a ``lineage`` key
    (``rebased_from`` / ``consolidated_from``), replacing it, with the
    replaced versions listed under that key. ``maintain`` first runs
    the runt-compaction gate on the new version; when it rewrites, the
    wave names the compacted version. Returns the committed wave."""
    from ..storage import encode_run

    version = smap["max_version"] + 1
    encode_run(spark, rows, enc_root, stage, version=version,
               sort_cols=sort_cols, input_fingerprint=fingerprint,
               store=store, **encode_kw)
    wave = {"version": version, "snapshot": covered}
    if maintain:
        # rewrites only when the wave's runts can merge into fewer chunks
        # (a small wave is one chunk per slice and is left alone)
        from ..compaction import compact_if_needed

        new_v = compact_if_needed(spark, enc_root, stage, version,
                                  min_runt_fraction=min_runt_fraction,
                                  store=store)
        if new_v != version:
            wave.update(version=new_v, compacted_from=version)
    waves = smap["waves"]
    if lineage:
        wave[lineage] = [w["version"] for w in waves]
        waves = []
    _commit_wave_map(enc_root, stage, store, smap, waves + [wave], covered,
                     wave["version"])
    return wave


def encode_table_incremental(
    spark: SparkSession,
    table_dir: str,
    enc_root: str,
    stage: str,
    sort_cols: list[str],
    store: FileStore | None = None,
    maintain: bool = False,
    min_runt_fraction: float = 0.25,
    **encode_kw,
) -> dict:
    """One INCREMENTAL encode wave over the snapshot table — the full
    composition the north rule describes: an Iceberg-shaped source of
    source-code files feeding a checkpointed, partition-parallel sorted
    encode, where each wave reads ONLY the files added since the last
    encoded snapshot (never a rescan of the table).

    The store's wave map (``<enc_root>/<stage>/_snapshot_map.json``,
    atomic write) records the table snapshot it covers. Wave mechanics:
    load the covered and the latest manifest, take the latest files the
    covered one does not list (file identity, manifest-only planning),
    and encode just those rows as the store's next version. Readers
    union waves through :func:`read_encoded_table`.

    Returns ``{"version", "snapshot", "rows"}``; a no-change wave
    returns the newest wave at the current snapshot with ``rows=0`` and
    encodes nothing.

    The delta is only sound when every covered row is still live as it
    was, so the wave REBASES — encodes the current view (deletes
    applied merge-on-read) whole as one new version and atomically
    replaces the wave list, exactly like the table's own replace — when
    the covered snapshot's manifest is gone (expired), a covered file
    is no longer listed (a replace, including :func:`rewrite_deletes`),
    or the delete list changed (a delete or upsert commit, or a replace
    that dropped delete entries). Superseded versions are then
    :func:`expire_encoded_versions` fodder.
    """
    store = store or LocalStore()
    smap = _load_wave_map(enc_root, stage, store, "table")
    waves, covered = smap["waves"], smap["covered"]
    latest = list_snapshots(table_dir, store)[-1]
    if covered == latest:
        return {**_head(waves, latest), "rows": 0}
    new = store.read_json(_manifest_path(table_dir, latest))
    files = _manifest_files(new, store)
    rebase = covered is not None
    if rebase and store.exists(_manifest_path(table_dir, covered)):
        old = store.read_json(_manifest_path(table_dir, covered))
        seen = {f["path"] for f in _manifest_files(old, store)}
        # delete entries carried forward by appends cover only files
        # added before them, so equal lists leave the new files untouched
        rebase = not (seen <= {f["path"] for f in files}
                      and old.get("deletes", []) == new.get("deletes", []))
        if not rebase:
            files = [f for f in files if f["path"] not in seen]
    delta = _scan_files(spark, new, files).localCheckpoint(eager=False)
    n_rows = delta.count()
    if n_rows == 0:
        # nothing to encode: coverage advances, and a table rebased to
        # zero rows leaves the store no live wave
        waves = [] if rebase else waves
        _commit_wave_map(enc_root, stage, store, smap, waves, latest)
        return {**_head(waves, latest), "rows": 0}
    wave = _encode_wave(
        spark, delta, enc_root, stage, store, smap, latest, sort_cols,
        f"{table_dir}@s{latest}", lineage="rebased_from" if rebase else None,
        maintain=maintain, min_runt_fraction=min_runt_fraction, **encode_kw)
    return {**wave, "rows": int(n_rows)}


def _stream_wave(batch_df: DataFrame, batch_id: int, enc_root: str,
                 stage: str, sort_cols: list[str], store: FileStore,
                 **encode_kw) -> None:
    """One micro-batch of
    :func:`~..streaming.incremental.stream_into_encoded_store` as an
    encode wave. Coverage is the highest committed batch ordinal: a
    replayed batch at or below it is a no-op, also after a
    consolidation folded its wave away, while a batch whose earlier
    attempt died before its commit gets the same version again and
    resumes from its slice manifests."""
    if batch_df.isEmpty():
        return
    smap = _load_wave_map(enc_root, stage, store, "stream")
    if smap["covered"] is not None and batch_id <= smap["covered"]:
        return
    _encode_wave(batch_df.sparkSession, batch_df.localCheckpoint(eager=False),
                 enc_root, stage, store, smap, int(batch_id), sort_cols,
                 f"stream-batch-{batch_id}", **encode_kw)


def read_encoded_table(
    spark: SparkSession,
    enc_root: str,
    stage: str,
    store: FileStore | None = None,
) -> DataFrame:
    """Chunk rows of EVERY encoded wave, each tagged with an
    ``enc_version`` layout column so :func:`~..encoder.decode_chunks`
    groups chunks per (wave, slice, partition, seq) — part_ids from
    different waves can never collide into one decode group. Decode of
    this union equals the latest table snapshot. A missing snapshot map
    or an empty wave list (a store whose only waves so far were
    zero-row — the map is written from wave 0) reads as a TYPED empty
    chunk frame, so downstream projection / pruning / union code works
    unchanged from before the first byte."""
    from pyspark.sql import functions as F

    from ..encoder import SLICED_CHUNK_SCHEMA
    from ..storage import read_chunks

    store = store or LocalStore()
    waves = _load_wave_map(enc_root, stage, store)["waves"]
    if not waves:
        return local_frame(
            spark, [], SLICED_CHUNK_SCHEMA + ", enc_version int")
    frames = [
        read_chunks(spark, enc_root, stage, w["version"])
        .withColumn("enc_version", F.lit(int(w["version"])))
        for w in waves
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def consolidate_encoded_table(
    spark: SparkSession,
    enc_root: str,
    stage: str,
    sort_cols: list[str],
    min_waves: int = 2,
    store: FileStore | None = None,
    **encode_kw,
) -> dict:
    """MAJOR compaction across encode waves: incremental/streaming
    ingestion accumulates one chunk-store version per wave, each sorted
    only within itself; this folds every wave into ONE new version,
    globally re-sorted on ``sort_cols`` (waves overlap in keyspace, so
    unlike the single-version runt compaction in ``compaction.py``
    nothing can pass through untouched — a major compaction is a full
    rewrite by definition). The snapshot map is atomically replaced
    with the single consolidated wave, so readers flip at one commit
    point; superseded version dirs stay on disk for in-flight readers
    (delete them in a later maintenance pass, mirroring
    :func:`vacuum`'s discipline). Coverage is unchanged, so the next
    wave or stream batch continues after it under a new version.

    No-op (returns the current mapping, ``version`` 0 when no wave is
    live) below ``min_waves`` waves."""
    from ..encoder import decode_chunks

    store = store or LocalStore()
    smap = _load_wave_map(enc_root, stage, store)
    waves = smap["waves"]
    if not waves or len(waves) < min_waves:
        return {**_head(waves, smap["covered"]), "consolidated": 0}
    rows = decode_chunks(read_encoded_table(spark, enc_root, stage, store))
    wave = _encode_wave(
        spark, rows, enc_root, stage, store, smap, smap["covered"],
        sort_cols, f"consolidate:{[w['version'] for w in waves]}",
        "consolidated_from", **encode_kw)
    return {**wave, "consolidated": 1}


def expire_encoded_versions(
    enc_root: str,
    stage: str,
    store: FileStore | None = None,
    dry_run: bool = False,
) -> list[int]:
    """Chunk-store version GC — the physical-reclaim half of encoded-
    table maintenance, mirroring :func:`expire_snapshots` +
    :func:`vacuum` for ``enc_root``. :func:`consolidate_encoded_table`,
    a rebasing wave, and in-cadence ``compact_if_needed`` whenever a
    wave's runts merged into fewer chunks, strand superseded ``v=N``
    directories on disk (readers flip at the snapshot-map commit; old
    versions stay for in-flight readers); this deletes every version
    dir that is

    * NOT a live wave of ``_snapshot_map.json`` (``compacted_from`` /
      ``consolidated_from`` / ``rebased_from`` sources are exactly the
      stranded versions this GC exists to reclaim), and
    * NOT NEWER than the highest version ever committed. Anything newer
      is an in-flight wave that has encoded slices but not yet
      committed its map entry — a GC must never race a writer, so the
      map's version high-water mark is the deletion fence.

    Metadata-light: one map read + one version listing; deletion is
    per-directory. Returns the deleted (``dry_run``: would-delete)
    version ids."""
    from ..storage import list_versions, stage_dir

    store = store or LocalStore()
    smap = _load_wave_map(enc_root, stage, store)
    live = {int(w["version"]) for w in smap["waves"]}
    doomed = [v for v in list_versions(enc_root, stage, store)
              if v not in live and v <= smap["max_version"]]
    if not dry_run:
        for v in doomed:
            store.delete(stage_dir(enc_root, stage, v), recursive=True)
    return doomed
