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

Scale note: past :data:`SHARD_THRESHOLD` files the snapshot stops
inlining its file list in JSON and becomes a two-level manifest tree
(real Iceberg's manifest-list → manifest split): the list is written as
PARQUET shard files under ``_snapshots/m=<id>/`` — a distributed Spark
write, so no driver bottleneck at commit — and the JSON snapshot is a
small pointer carrying ``files_dir`` + ``n_files``. Readers handle both
forms; per-file stats come from parquet FOOTERS (metadata-only reads,
distributed above :data:`_STATS_DISTRIBUTE_OVER` files), never from a
data scan. The atomic-pointer / file-identity-diff contracts are
unchanged by the split.
"""

from __future__ import annotations

import posixpath
import time

from pyspark.sql import DataFrame, SparkSession

from ..encoder import open_parquet_any
from ..filestore import FileStore, LocalStore

# inline the file list in the snapshot JSON up to this many files;
# beyond it, shard the list into parquet manifests
SHARD_THRESHOLD = 10_000
# footer-stats reads go distributed above this many files
_STATS_DISTRIBUTE_OVER = 64


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
) -> dict:
    """Per-file stats from parquet FOOTERS — metadata-only reads, never
    a data scan (the previous implementation scanned every row through
    ``input_file_name()`` and then suffix-matched the result O(files²)).
    Small lists read on the driver; large ones fan out as one footer
    read per file across the executors.

    Returns ``{path: rows}``; with ``stats_cols``,
    ``{path: (rows, {col: {"min":…, "max":…}})}`` (the file-skipping
    planning input — see :func:`snapshot_files_pruned`)."""
    import json

    if len(paths) <= _STATS_DISTRIBUTE_OVER:
        if stats_cols is None:
            return {p: open_parquet_any(p).metadata.num_rows for p in paths}
        return {p: _one_footer(p, stats_cols) for p in paths}
    import pandas as pd

    pdf = spark.createDataFrame(
        pd.DataFrame({"path": paths}), schema="path string")
    cols = list(stats_cols or [])

    def footer(batches):
        from parquet_producers_spark.sources.snapshots import _one_footer

        for b in batches:
            rows, stats = [], []
            for p in b["path"]:
                n, s = _one_footer(p, cols)
                rows.append(n)
                stats.append(json.dumps(s) if cols else None)
            yield pd.DataFrame(
                {"path": b["path"], "rows": rows, "stats": stats})

    rows = (
        pdf.repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(footer, schema="path string, rows long, stats string")
        .collect()
    )
    if stats_cols is None:
        return {r["path"]: int(r["rows"]) for r in rows}
    return {r["path"]: (int(r["rows"]), json.loads(r["stats"] or "{}"))
            for r in rows}


def _shard_dir(table_dir: str, snapshot_id: int) -> str:
    return posixpath.join(_manifest_dir(table_dir), f"m={snapshot_id:06d}")


def _manifest_files(table_dir: str, manifest: dict,
                    store: FileStore) -> list[dict]:
    """The manifest's file list — inline JSON form or the sharded
    parquet manifest-tree form (``files_dir`` pointer)."""
    if "files" in manifest:
        return manifest["files"]
    fdir = manifest["files_dir"]
    shards = sorted(
        posixpath.join(fdir, e) for e in store.listdir(fdir)
        if e.endswith(".parquet") and not e.startswith(("_", "."))
    )
    out: list[dict] = []
    for s in shards:
        t = open_parquet_any(s).read()
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
                import json

                e["stats"] = json.loads(s)
            out.append(e)
    return out


def _manifest_files_frame(spark: SparkSession, manifest: dict) -> DataFrame:
    """One manifest's file list as a ``path string, rows long``
    DataFrame. The sharded manifest-tree form reads its parquet shards
    with Spark directly — a distributed scan, so a million-file
    manifest never loops shards on the driver (the list-of-dicts
    reader :func:`_manifest_files` stays for small/driver consumers).
    """
    if "files" in manifest:
        import pandas as pd

        files = manifest["files"]
        return spark.createDataFrame(
            pd.DataFrame({"path": [f["path"] for f in files],
                          "rows": [f.get("rows") for f in files]}),
            schema="path string, rows long")
    return spark.read.parquet(manifest["files_dir"]).select("path", "rows")


def _write_manifest(
    spark: SparkSession,
    table_dir: str,
    new_id: int,
    parent: int | None,
    mode: str,
    schema_ddl: str,
    files: list[dict],
    store: FileStore,
    shard_threshold: int,
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
    if len(files) <= shard_threshold:
        head["files"] = files
    else:
        # manifest tree: file list as parquet shards, written by Spark
        # (distributed), JSON snapshot is just the pointer. Write shards
        # BEFORE the pointer — the atomic commit point stays the JSON.
        import json

        import pandas as pd

        fdir = _shard_dir(table_dir, new_id)
        n_shards = max(1, min(
            spark.sparkContext.defaultParallelism,
            len(files) // shard_threshold + 1))
        (
            spark.createDataFrame(
                pd.DataFrame({
                    "path": [f["path"] for f in files],
                    "rows": [f.get("rows") for f in files],
                    "added": [f.get("added") for f in files],
                    # per-file column min/max as a JSON map — keeps the
                    # shard schema stable across tables with different
                    # stats_cols, and file-skipping filters it with
                    # get_json_object ON the shard frames (no driver loop)
                    "stats": [json.dumps(f["stats"])
                              if f.get("stats") else None for f in files],
                }),
                schema="path string, rows long, added long, stats string",
            )
            .repartition(n_shards)
            .write.mode("overwrite").parquet(fdir)
        )
        head["files_dir"] = fdir
    store.write_json_atomic(_manifest_path(table_dir, new_id), head)


def commit_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    store: FileStore | None = None,
    shard_threshold: int = SHARD_THRESHOLD,
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
    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    new_id = (snaps[-1] + 1) if snaps else 1

    data_dir = posixpath.join(table_dir, f"data/s={new_id:06d}")
    df.write.mode("overwrite").parquet(data_dir)
    listed = sorted(
        e for e in store.listdir(data_dir)
        if e.endswith(".parquet") and not e.startswith(("_", "."))
    )
    paths = [posixpath.join(data_dir, name) for name in listed]
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return _commit_paths(spark, table_dir, paths, mode, schema_ddl,
                         store, shard_threshold, snaps, new_id, stats_cols)


def commit_files(
    spark: SparkSession,
    table_dir: str,
    paths: list[str],
    mode: str = "append",
    schema_ddl: str | None = None,
    store: FileStore | None = None,
    shard_threshold: int = SHARD_THRESHOLD,
    stats_cols: list[str] | None = None,
) -> int:
    """Register EXISTING immutable parquet files as a new snapshot
    without rewriting their bytes — Iceberg's ``add_files`` import
    path. This is how a 10^12-file corpus enters the table layer:
    data stays where it is; only footers are read (distributed) for
    per-file stats, and the manifest (sharded past the threshold) is
    the only thing written."""
    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    new_id = (snaps[-1] + 1) if snaps else 1
    if schema_ddl is None:
        if paths:
            sch = open_parquet_any(paths[0]).schema_arrow
            from ..encoder import _spark_type

            schema_ddl = ", ".join(
                f"{f.name} {_spark_type(f.type)}" for f in sch)
        else:
            schema_ddl = ""
    return _commit_paths(spark, table_dir, sorted(paths), mode, schema_ddl,
                         store, shard_threshold, snaps, new_id, stats_cols)


def _commit_paths(spark, table_dir, paths, mode, schema_ddl, store,
                  shard_threshold, snaps, new_id,
                  stats_cols=None) -> int:
    prev_files: list[dict] = []
    prev_deletes: list[dict] = []
    prev = (store.read_json(_manifest_path(table_dir, snaps[-1]))
            if snaps else None)
    if stats_cols is None and prev is not None:
        # inherit the table's persisted pruning contract: a table
        # committed with stats_cols keeps capturing per-file stats on
        # every later append/replace, so file skipping never silently
        # degrades to keep-all after a commit that forgot the list
        stats_cols = prev.get("stats_cols")
    if snaps and mode == "append":
        prev_files = _manifest_files(table_dir, prev, store)
        # append commits carry live equality-delete files forward;
        # replace is a clean slate (the new file set IS the table)
        prev_deletes = prev.get("deletes", [])
    # `added` = the snapshot this file entered the table: the sequence
    # that scopes which delete files apply to its rows (commit_deletes)
    if stats_cols:
        stats = _footer_stats(spark, paths, stats_cols)
        new_files = [{"path": p, "rows": stats[p][0], "added": new_id,
                      "stats": stats[p][1]} for p in paths]
    else:
        stats = _footer_stats(spark, paths)
        new_files = [{"path": p, "rows": stats[p], "added": new_id}
                     for p in paths]
    _write_manifest(
        spark, table_dir, new_id, snaps[-1] if snaps else None, mode,
        schema_ddl, prev_files + new_files, store, shard_threshold,
        deletes=prev_deletes, stats_cols=stats_cols)
    return new_id


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
    snaps = list_snapshots(table_dir, store)
    if not snaps:
        raise FileNotFoundError(f"no snapshots under {table_dir}")
    sid = snapshot_id if snapshot_id is not None else snaps[-1]
    if sid not in snaps:
        raise ValueError(f"snapshot {sid} not in {snaps}")
    manifest = store.read_json(_manifest_path(table_dir, sid))
    files = _manifest_files(table_dir, manifest, store)
    return _scan_files(spark, manifest, files, merge_schema)


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
        return spark.createDataFrame([], schema=manifest["schema_ddl"])
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
    shard_threshold: int = SHARD_THRESHOLD,
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
    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    if not snaps:
        raise FileNotFoundError(f"no snapshots under {table_dir}")
    new_id = snaps[-1] + 1
    ddir = posixpath.join(table_dir, f"deletes/s={new_id:06d}")
    deletes_df.select(*key_cols).distinct() \
        .write.mode("overwrite").parquet(ddir)
    prev = store.read_json(_manifest_path(table_dir, snaps[-1]))
    prev_files = _manifest_files(table_dir, prev, store)
    deletes = prev.get("deletes", []) + [
        {"path": ddir, "key_cols": list(key_cols), "seq": new_id}]
    _write_manifest(spark, table_dir, new_id, snaps[-1], "delete",
                    prev["schema_ddl"], prev_files, store,
                    shard_threshold, deletes=deletes,
                    stats_cols=prev.get("stats_cols"))
    return new_id


def commit_upsert(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    key_cols: list[str],
    store: FileStore | None = None,
    shard_threshold: int = SHARD_THRESHOLD,
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
    snaps = list_snapshots(table_dir, store)
    if not snaps:
        return commit_snapshot(spark, df, table_dir, store=store,
                               shard_threshold=shard_threshold,
                               stats_cols=stats_cols)
    new_id = snaps[-1] + 1
    df = df.localCheckpoint(eager=False)  # consumed twice (keys + data)
    # both artifacts land BEFORE the atomic manifest pointer
    ddir = posixpath.join(table_dir, f"deletes/s={new_id:06d}")
    df.select(*key_cols).distinct().write.mode("overwrite").parquet(ddir)
    data_dir = posixpath.join(table_dir, f"data/s={new_id:06d}")
    df.write.mode("overwrite").parquet(data_dir)
    listed = sorted(
        e for e in store.listdir(data_dir)
        if e.endswith(".parquet") and not e.startswith(("_", "."))
    )
    paths = [posixpath.join(data_dir, name) for name in listed]
    prev = store.read_json(_manifest_path(table_dir, snaps[-1]))
    prev_files = _manifest_files(table_dir, prev, store)
    if stats_cols is None:
        stats_cols = prev.get("stats_cols")
    if stats_cols:
        stats = _footer_stats(spark, paths, stats_cols)
        new_files = [{"path": p, "rows": stats[p][0], "added": new_id,
                      "stats": stats[p][1]} for p in paths]
    else:
        stats = _footer_stats(spark, paths)
        new_files = [{"path": p, "rows": stats[p], "added": new_id}
                     for p in paths]
    deletes = prev.get("deletes", []) + [
        {"path": ddir, "key_cols": list(key_cols), "seq": new_id}]
    _write_manifest(spark, table_dir, new_id, snaps[-1], "upsert",
                    prev["schema_ddl"], prev_files + new_files, store,
                    shard_threshold, deletes=deletes,
                    stats_cols=stats_cols)
    return new_id


def rewrite_deletes(
    spark: SparkSession,
    table_dir: str,
    store: FileStore | None = None,
    shard_threshold: int = SHARD_THRESHOLD,
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
        mode="replace", store=store, shard_threshold=shard_threshold)


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
    diff plans from two manifests and reads only the new files.

    Both-inline manifests diff as driver sets (cheapest); once either
    side is a sharded manifest tree the diff runs as a distributed
    anti-join of the shard frames (:func:`snapshot_diff_paths`) and
    only the — delta-sized — result is collected for the scan."""
    store = store or LocalStore()
    to_sid = (to_id if to_id is not None
              else list_snapshots(table_dir, store)[-1])
    to_manifest = store.read_json(_manifest_path(table_dir, to_sid))
    from_manifest = store.read_json(_manifest_path(table_dir, from_id))
    if "files" in to_manifest and "files" in from_manifest:
        old = {f["path"] for f in from_manifest["files"]}
        new = [f["path"] for f in to_manifest["files"]
               if f["path"] not in old]
    else:
        new = sorted(
            r["path"]
            for r in snapshot_diff_paths(
                spark, table_dir, from_id, to_sid, store).collect()
        )
    if not new:
        return spark.createDataFrame([], schema=to_manifest["schema_ddl"])
    return spark.read.parquet(*new)


def snapshot_diff_paths(
    spark: SparkSession,
    table_dir: str,
    from_id: int,
    to_id: int | None = None,
    store: FileStore | None = None,
) -> DataFrame:
    """The planning half of :func:`snapshot_diff` as a DataFrame: paths
    present in ``to_id`` but not in ``from_id``, computed as a
    distributed anti-join over the two manifest frames — for
    manifest-tree tables the shards are parquet and never touch the
    driver, so the diff plan holds at millions of files per snapshot."""
    store = store or LocalStore()
    to_manifest = store.read_json(_manifest_path(
        table_dir,
        to_id if to_id is not None else list_snapshots(table_dir, store)[-1]))
    from_manifest = store.read_json(_manifest_path(table_dir, from_id))
    return _manifest_files_frame(spark, to_manifest).select("path").join(
        _manifest_files_frame(spark, from_manifest).select("path"),
        "path", "left_anti")


def snapshot_files(table_dir: str, snapshot_id: int | None = None,
                   store: FileStore | None = None) -> list[dict]:
    """The snapshot's file list with stats — planning input (e.g. feed
    the paths straight to ``encoder.encode_files`` for the direct-scan
    encode of a sorted corpus)."""
    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    sid = snapshot_id if snapshot_id is not None else snaps[-1]
    manifest = store.read_json(_manifest_path(table_dir, sid))
    return _manifest_files(table_dir, manifest, store)


def _stats_overlap(st: dict | None, column: str, lo, hi) -> bool:
    """True when the file MAY contain rows with ``column`` in
    [lo, hi] — i.e. keep it. Missing stats keep the file: pruning is
    planning, never a correctness filter. Stats and bounds are coerced
    under the BOUND's type (the same rule the sharded path's ``cast``
    applies); values that won't coerce — or types Python can't
    compare — KEEP the file, so pruning degrades to not-pruning,
    never to a TypeError."""
    s = (st or {}).get(column)
    if not s or s.get("min") is None or s.get("max") is None:
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
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo=None,
    hi=None,
    snapshot_id: int | None = None,
    store: FileStore | None = None,
    cast: str | None = None,
) -> list[dict]:
    """Manifest-level FILE SKIPPING (Iceberg scan planning): the
    snapshot's file list minus files whose ``stats`` min/max prove no
    row can satisfy ``lo <= column <= hi`` — decided from the manifest
    alone, zero data reads. At 10^12 files this is the difference
    between scanning a shard and scanning the table.

    Inline manifests prune on the driver (they're small by
    construction); the sharded manifest-tree form filters the parquet
    shard FRAMES with Spark (``get_json_object`` over the stats map —
    no driver loop). Files without stats for ``column`` are always
    kept. ``cast`` is the SQL type the zone strings compare under
    (default: inferred from ``lo``/``hi`` — string bounds compare
    lexicographically, anything else as bigint)."""
    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    sid = snapshot_id if snapshot_id is not None else snaps[-1]
    manifest = store.read_json(_manifest_path(table_dir, sid))
    if "files" in manifest:
        return [f for f in manifest["files"]
                if _stats_overlap(f.get("stats"), column, lo, hi)]

    from pyspark.sql import functions as F

    if cast is None:
        cast = "string" if isinstance(lo if lo is not None else hi, str) \
            else "bigint"
    sdf = spark.read.parquet(manifest["files_dir"])
    if "stats" not in sdf.columns:
        files = _manifest_files(table_dir, manifest, store)
        return files
    mn = F.get_json_object("stats", f"$['{column}'].min").cast(cast)
    mx = F.get_json_object("stats", f"$['{column}'].max").cast(cast)
    keep = mn.isNull() | mx.isNull()
    if lo is not None:
        keep = keep | (mx >= F.lit(lo))
    else:
        keep = keep | F.lit(True)
    if hi is not None:
        keep = keep & (mn.isNull() | mx.isNull() | (mn <= F.lit(hi)))
    rows = sdf.filter(keep).collect()
    out = []
    for r in rows:
        e = {"path": r["path"],
             "rows": int(r["rows"]) if r["rows"] is not None else None,
             "added": int(r["added"]) if r["added"] is not None else None}
        if r["stats"]:
            import json

            e["stats"] = json.loads(r["stats"])
        out.append(e)
    return out


def read_snapshot_where(
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo=None,
    hi=None,
    snapshot_id: int | None = None,
    store: FileStore | None = None,
    cast: str | None = None,
) -> DataFrame:
    """Range scan with manifest-level file skipping: plan the file list
    with :func:`snapshot_files_pruned`, scan ONLY the surviving files
    (delete semantics applied, same as :func:`read_snapshot`), then
    apply the EXACT predicate — pruning is an optimization layered
    under the filter, never a substitute for it."""
    from pyspark.sql import functions as F

    store = store or LocalStore()
    snaps = list_snapshots(table_dir, store)
    sid = snapshot_id if snapshot_id is not None else snaps[-1]
    manifest = store.read_json(_manifest_path(table_dir, sid))
    files = snapshot_files_pruned(
        spark, table_dir, column, lo, hi, sid, store, cast)
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
        manifest = store.read_json(_manifest_path(table_dir, sid))
        if "files_dir" in manifest:
            store.delete(manifest["files_dir"], recursive=True)
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
    spark: SparkSession | None = None,
) -> list[str]:
    """Iceberg ``remove_orphan_files``: delete data files under the
    table's own ``data/`` tree that no LIVE snapshot references —
    the physical reclaim that must follow :func:`expire_snapshots`
    (replace commits and expiry both strand files). Files imported
    from OUTSIDE the table dir via :func:`commit_files` are never
    touched (they are not under ``data/``). Returns the orphan paths
    (deleted unless ``dry_run``).

    Live-vs-listed comparison runs on the table-relative suffix
    ``data/s=NNNNNN/<name>`` (:func:`_table_suffix`) — never on raw
    string equality — so path-normalization drift between the commit's
    ``table_dir`` and this call's cannot orphan the world. Defense in
    depth: if every listed file STILL looks orphaned while live
    snapshots reference files, the call refuses (raises) unless
    ``force=True`` — a GC must never be one bad argument away from
    deleting a whole table. Data dirs past the newest committed
    snapshot are never touched: they belong to a commit still writing.

    Scale shape: with ``spark`` passed, the listing anti-joins the
    UNION of manifest frames (sharded manifests are parquet — a
    distributed scan; only the orphan result is collected), so the
    live set never materializes on the driver. Without ``spark`` the
    comparison is a driver-side set difference (fine to millions)."""
    store = store or LocalStore()
    sids = list_snapshots(table_dir, store)
    data_root = posixpath.join(table_dir, "data")
    newest = sids[-1] if sids else 0
    listed: dict[str, list[str]] = {}
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
        listed[d] = [
            posixpath.join(d, e) for e in store.listdir(d)
            if e.endswith(".parquet") and not e.startswith(("_", "."))
        ]
    n_listed = sum(len(ps) for ps in listed.values())

    any_live = False
    if spark is not None:
        from pyspark.sql import functions as F

        live_fr = None
        for sid in sids:
            manifest = store.read_json(_manifest_path(table_dir, sid))
            fr = _manifest_files_frame(spark, manifest).select("path")
            live_fr = fr if live_fr is None else live_fr.unionByName(fr)

        def _sfx(col):
            return F.concat_ws("/", F.slice(F.split(col, "/"), -3, 3))

        if live_fr is None:
            orphan_sfx = {_table_suffix(p)
                          for ps in listed.values() for p in ps}
        else:
            any_live = live_fr.head(1) != []
            listed_fr = spark.createDataFrame(
                [(p,) for ps in listed.values() for p in ps],
                "path string")
            orphan_sfx = {
                r["sfx"]
                for r in listed_fr
                .select(_sfx(F.col("path")).alias("sfx"))
                .join(live_fr.select(_sfx(F.col("path")).alias("sfx"))
                      .distinct(), "sfx", "left_anti")
                .collect()
            }
    else:
        live: set[str] = set()
        for sid in sids:
            manifest = store.read_json(_manifest_path(table_dir, sid))
            live.update(_table_suffix(f["path"])
                        for f in _manifest_files(table_dir, manifest, store))
        any_live = bool(live)
        orphan_sfx = {
            _table_suffix(p)
            for ps in listed.values() for p in ps
            if _table_suffix(p) not in live
        }

    if (any_live and n_listed and len(orphan_sfx) == n_listed
            and not dry_run and not force):
        raise RuntimeError(
            f"vacuum({table_dir}): ALL {n_listed} listed data files "
            "appear orphaned while live snapshots reference files — "
            "this is the signature of a mis-specified table_dir, not "
            "of garbage. Inspect with dry_run=True; pass force=True "
            "only if the full wipe is intended.")

    orphans: list[str] = []
    empty_dirs: list[str] = []
    for d, ps in listed.items():
        dir_orphans = [p for p in ps if _table_suffix(p) in orphan_sfx]
        orphans.extend(dir_orphans)
        # a dir whose listing is ALREADY empty (e.g. a partial prior
        # vacuum deleted its files but died before the dir) is
        # dir-level garbage too — flagged explicitly instead of riding
        # the vacuous 0 == 0 all-orphan comparison (ADVICE r6 #4)
        if not ps or len(dir_orphans) == len(ps):
            empty_dirs.append(d)
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
    live_del = set()
    for sid in sids:
        manifest = store.read_json(_manifest_path(table_dir, sid))
        live_del.update(
            "/".join(d["path"].rstrip("/").split("/")[-2:])
            for d in manifest.get("deletes", []))
    del_root = posixpath.join(table_dir, "deletes")
    for sdir in store.listdir(del_root):
        d = posixpath.join(del_root, sdir)
        if f"deletes/{sdir}" not in live_del:
            orphans.append(d)
            if not dry_run:
                store.delete(d, recursive=True)
    return orphans


def _snapshot_map_path(enc_root: str, stage: str) -> str:
    return posixpath.join(enc_root, stage, "_snapshot_map.json")


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

    Chunk-store version N covers table snapshot s_N; the mapping lives
    in ``<enc_root>/<stage>/_snapshot_map.json`` (atomic write, same
    commit discipline as everything else). Wave mechanics: diff the
    latest table snapshot against the last covered one
    (:func:`snapshot_diff` — file-identity, manifest-only planning),
    shuffle-sort just the delta and encode it via
    :func:`~..storage.encode_run` (hash-sliced, per-slice atomic
    manifests, exact resume *within* the wave). Readers union waves
    through :func:`read_encoded_table`.

    Returns ``{"version", "snapshot", "rows"}``; a no-change wave
    returns the previous mapping with ``rows=0`` and writes nothing.

    Non-append history (a replace commit — including
    :func:`rewrite_deletes` — or live equality-delete entries) REBASES
    instead of appending: the current table view is encoded whole as
    one new version and the wave list atomically flips to it, exactly
    like the table's own replace; superseded versions are then
    :func:`expire_encoded_versions` fodder.
    """
    from ..storage import encode_run

    store = store or LocalStore()
    latest = list_snapshots(table_dir, store)[-1]
    map_path = _snapshot_map_path(enc_root, stage)
    smap = (store.read_json(map_path) if store.exists(map_path)
            else {"waves": []})
    waves = smap["waves"]
    # covered marker: which table snapshot the store is up to date with.
    # Normally waves[-1]["snapshot"]; a zero-row FIRST wave has no wave
    # entry yet, so it records top-level "covered" instead — the map is
    # still written, keeping the reader contract (read_encoded_table
    # returns a typed empty frame) alive from wave 0.
    last_snap = waves[-1]["snapshot"] if waves else smap.get("covered")
    if last_snap == latest:
        return {**waves[-1], "rows": 0} if waves else {
            "version": 0, "snapshot": latest, "rows": 0}
    # Delta-append is only sound over a PURE APPEND chain: the wave diff
    # is file identity, so a replace commit (incl. rewrite_deletes) or a
    # live equality-delete entry would leave superseded rows in older
    # waves — the union would silently disagree with the table. Walk the
    # manifest chain latest→last_snap (metadata reads only): any
    # non-append commit, live deletes, or an expired link ⇒ REBASE —
    # encode the full current view (read_snapshot applies deletes
    # merge-on-read) as one wave and atomically REPLACE the wave list,
    # mirroring the table's own replace; superseded versions become
    # expire_encoded_versions fodder.
    if smap.get("source") == "stream":
        raise ValueError(
            f"stage {stage!r} is stream-sourced: its snapshot map records "
            "batch ordinals, not table snapshot ids, so a table-diff wave "
            "would plan a garbage diff. Encode the table into a separate "
            "stage (streamed stores have no table-snapshot baseline).")
    rebase = False
    if last_snap is not None:
        sid = latest
        while sid is not None and sid != last_snap:
            mp = _manifest_path(table_dir, sid)
            if not store.exists(mp):
                # an expired link: the chain back to the covered snapshot
                # is gone (expire_snapshots deleted the manifest), so the
                # append-only proof can't be made ⇒ REBASE, per contract
                rebase = True
                break
            m = store.read_json(mp)
            # delete entries CARRIED FORWARD by appends (seq ≤
            # last_snap) are already reflected in the covered store (the
            # wave that advanced coverage past them rebased then); only
            # deletes newer than the coverage force a rebase now
            if m["mode"] != "append" or any(
                    d["seq"] > last_snap for d in m.get("deletes", [])):
                rebase = True
                break
            sid = m.get("parent")
        if sid != last_snap:
            rebase = True
    if rebase or last_snap is None:
        delta = read_snapshot(spark, table_dir, latest, store)
    else:
        delta = snapshot_diff(spark, table_dir, last_snap, latest, store)
    delta = delta.localCheckpoint(eager=False)
    n_rows = delta.count()
    if n_rows == 0:
        if rebase:
            # the table was replaced/merged down to zero rows: the store
            # must forget its waves, not keep stale ones
            store.write_json_atomic(
                map_path,
                {"waves": [], "covered": latest, "source": "table"})
            return {"version": 0, "snapshot": latest, "rows": 0}
        # a newer snapshot with no new rows (empty table, empty append,
        # replace with identical files): advance the covered-snapshot
        # marker so later diffs use the new baseline, but encode nothing
        if waves:
            waves[-1]["snapshot"] = latest
        else:
            smap["covered"] = latest
        smap["source"] = "table"
        store.write_json_atomic(map_path, smap)
        return ({**waves[-1], "rows": 0} if waves
                else {"version": 0, "snapshot": latest, "rows": 0})
    version = (waves[-1]["version"] + 1) if waves else 1
    encode_run(spark, delta, enc_root, stage, version=version,
               sort_cols=sort_cols,
               input_fingerprint=f"{table_dir}@s{latest}", **encode_kw)
    wave = {"version": version, "snapshot": latest}
    if maintain:
        # in-cadence maintenance: run the runt-compaction policy gate on
        # the fresh wave. It rewrites only when the wave's runts can merge
        # into fewer chunks (a small wave is one chunk per slice and is
        # left alone). If it rewrites, the wave entry points at the
        # compacted version so readers — and the NEXT wave's version
        # counter — follow it.
        from ..compaction import compact_if_needed

        new_v = compact_if_needed(
            spark, enc_root, stage, version,
            min_runt_fraction=min_runt_fraction)
        if new_v != version:
            wave = {"version": new_v, "snapshot": latest,
                    "compacted_from": version}
    if rebase:
        smap["waves"] = [
            {**wave, "rebased_from": [w["version"] for w in waves]}]
        smap.pop("covered", None)
    else:
        waves.append(wave)
    smap["source"] = "table"
    store.write_json_atomic(_snapshot_map_path(enc_root, stage), smap)
    return {**smap["waves"][-1], "rows": int(n_rows)}


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
    this union equals the latest table snapshot for append-only
    tables. A missing snapshot map or an empty wave list (a store whose
    only waves so far were zero-row — the map is written from wave 0)
    reads as a TYPED empty chunk frame, so downstream projection /
    pruning / union code works unchanged from before the first byte."""
    from pyspark.sql import functions as F

    from ..encoder import SLICED_CHUNK_SCHEMA
    from ..storage import read_chunks

    store = store or LocalStore()
    map_path = _snapshot_map_path(enc_root, stage)
    smap = (store.read_json(map_path) if store.exists(map_path)
            else {"waves": []})
    if not smap["waves"]:
        return spark.createDataFrame(
            [], schema=SLICED_CHUNK_SCHEMA + ", enc_version int")
    frames = [
        read_chunks(spark, enc_root, stage, w["version"])
        .withColumn("enc_version", F.lit(int(w["version"])))
        for w in smap["waves"]
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
    :func:`vacuum`'s discipline).

    No-op (returns the current mapping) below ``min_waves`` waves."""
    from ..encoder import decode_chunks
    from ..storage import encode_run

    store = store or LocalStore()
    map_path = _snapshot_map_path(enc_root, stage)
    smap = store.read_json(map_path)
    waves = smap["waves"]
    if len(waves) < min_waves:
        return {**waves[-1], "consolidated": 0}
    rows = decode_chunks(read_encoded_table(spark, enc_root, stage, store))
    version = waves[-1]["version"] + 1
    encode_run(spark, rows, enc_root, stage, version=version,
               sort_cols=sort_cols,
               input_fingerprint=f"consolidate:{[w['version'] for w in waves]}",
               **encode_kw)
    smap["waves"] = [{"version": version, "snapshot": waves[-1]["snapshot"],
                      "consolidated_from": [w["version"] for w in waves]}]
    store.write_json_atomic(map_path, smap)
    return {**smap["waves"][0], "consolidated": 1}


def expire_encoded_versions(
    enc_root: str,
    stage: str,
    store: FileStore | None = None,
    dry_run: bool = False,
) -> list[int]:
    """Chunk-store version GC — the physical-reclaim half of encoded-
    table maintenance, mirroring :func:`expire_snapshots` +
    :func:`vacuum` for ``enc_root``. :func:`consolidate_encoded_table`,
    and in-cadence ``compact_if_needed`` whenever a wave's runts merged
    into fewer chunks, strand superseded ``v=N`` directories on disk
    (readers flip at the snapshot-map commit; old versions stay for
    in-flight readers); this deletes every version dir that is

    * NOT referenced by ``_snapshot_map.json`` (including
      ``compacted_from`` / ``consolidated_from`` sources — those are
      exactly the stranded versions this GC exists to reclaim), and
    * OLDER than the newest referenced version. Anything newer is an
      in-flight wave that has encoded slices but not yet committed its
      map entry — a GC must never race a writer, so the newest
      referenced version is the deletion fence.

    Metadata-light: one map read + one version listing; deletion is
    per-directory. Returns the deleted (``dry_run``: would-delete)
    version ids."""
    from ..storage import list_versions, stage_dir

    store = store or LocalStore()
    map_path = _snapshot_map_path(enc_root, stage)
    if not store.exists(map_path):
        return []
    referenced = {int(w["version"])
                  for w in store.read_json(map_path)["waves"]}
    if not referenced:
        return []
    fence = max(referenced)
    doomed = [v for v in list_versions(enc_root, stage, store)
              if v not in referenced and v < fence]
    if not dry_run:
        for v in doomed:
            store.delete(stage_dir(enc_root, stage, v), recursive=True)
    return doomed
