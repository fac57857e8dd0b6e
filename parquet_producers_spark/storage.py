"""Versioned storage layout, per-slice lineage/metrics manifests, resume.

Reference model: ``IPersistentStreams`` names blobs
``{name}.{version}.{type}.parquet`` and a DAG update produces version
N+1 of every stage from version N (reference:
Parquet.Producers/IPersistentStreams.cs:10-17,
Parquet.Producers.TestCommand/PersistentStreams.cs:7-8, README.md:182).

Spark shape: a stage version is a directory
``{root}/{stage}/v={N}/{table}/`` holding parquet, plus
``{root}/{stage}/v={N}/_manifest/slice={K}.json`` — one JSON manifest
per completed *slice* (a hash-bucket of the keyspace). Each manifest
records lineage (input fingerprint, slice spec, ``chunk_rows``) and is
written atomically (tmp + rename), so a killed run resumes by skipping
exactly the slices whose manifests record the same lineage; a slice
with another input's manifest is rebuilt. Its ``metrics`` are the
slice's chunk stats, counted once at commit (``encoder.chunk_stats``)
and read by compaction instead of a recount: ``rows``, ``raw_bytes``,
``enc_bytes``, ``n_chunks``, ``by_codec`` (encoded bytes per codec),
``runts`` / ``runt_rows`` (chunks under ``chunk_rows``, their rows),
``max_pid`` (largest ``part_id``, -1 if empty) and ``elapsed_s``.

A resumed run recomputes the remaining slices from the same
deterministic input, so the decoded CONTENT of every slice is identical
to an uninterrupted run (chunk boundaries may differ — the format's
identity is row values, not blob bytes).

All metadata I/O goes through a :class:`~.filestore.FileStore`
(reference seam ``IPersistentStreams``): pass
``HadoopStore(spark)`` to run the same protocol on ``hdfs://`` /
``s3a://`` / any Hadoop-resolvable URI; the default is local POSIX.
Bulk data always moves via Spark's own parquet reader/writer, which
handles those URIs natively.
"""

from __future__ import annotations

import json
import posixpath
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .encoder import SLICED_CHUNK_SCHEMA, chunk_stats
from .filestore import FileStore, LocalStore

_DEFAULT_STORE = LocalStore()


def stage_dir(root: str, stage: str, version: int, table: str = "") -> str:
    p = posixpath.join(root, stage, f"v={version}")
    return posixpath.join(p, table) if table else p


def manifest_path(root: str, stage: str, version: int, slice_id: int) -> str:
    return posixpath.join(
        stage_dir(root, stage, version), "_manifest", f"slice={slice_id:05d}.json"
    )


def list_versions(root: str, stage: str,
                  store: FileStore | None = None) -> list[int]:
    store = store or _DEFAULT_STORE
    return sorted(
        int(e.split("=")[1])
        for e in store.listdir(posixpath.join(root, stage))
        if e.startswith("v=")
    )


@dataclass
class SliceResult:
    slice_id: int
    skipped: bool
    metrics: dict


def slice_id_of(slice_col: str, n_slices: int):
    """The hash slice a row belongs to: encode_run assigns it, and
    compaction re-derives it for decoded rows from the same expression."""
    return F.pmod(F.hash(F.col(slice_col)), F.lit(n_slices)).cast("int")


def commit_slices(
    spark: SparkSession,
    root: str,
    stage: str,
    version: int,
    n_slices: int,
    build,
    header: dict,
    store: FileStore | None = None,
) -> list[SliceResult]:
    """The per-slice commit shared by :func:`encode_run` and
    ``compaction.compact_stage``.

    A slice whose manifest matches every key of ``header`` is skipped
    (resume). Every other slice is rebuilt from nothing: a manifest left
    by another input goes first, then the slice's chunk dir, which
    dynamic partition overwrite would keep if the new input has no rows
    there. ``build(todo)`` returns a chunk frame carrying ``slice_id``;
    it is written ``partitionBy(slice_id)`` with dynamic partition
    overwrite, read back in ONE grouped aggregate (runts are judged
    against ``header["chunk_rows"]``), and each slice commits by an
    atomic manifest of ``header`` plus its slice id and metrics.
    """
    store = store or _DEFAULT_STORE
    want = json.loads(json.dumps(header))  # as a manifest reads back
    out_dir = stage_dir(root, stage, version, "chunks")
    done: dict[int, dict] = {}
    for k in range(n_slices):
        mpath = manifest_path(root, stage, version, k)
        if store.exists(mpath):
            m = store.read_json(mpath)
            if all(m.get(key) == val for key, val in want.items()):
                done[k] = m["metrics"]
                continue
            store.delete(mpath)
        store.delete(posixpath.join(out_dir, f"slice_id={k}"), recursive=True)
    todo = [k for k in range(n_slices) if k not in done]

    if todo:
        t0 = time.monotonic()
        (
            build(todo).write.mode("overwrite")
            .option("compression", "none")  # our codecs own compression
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("slice_id")
            .parquet(out_dir)
        )
        elapsed_s = time.monotonic() - t0
        metrics = chunk_stats(read_chunks(spark, root, stage, version),
                              int(header["chunk_rows"]), todo)
        for k in todo:
            metrics[k]["elapsed_s"] = round(elapsed_s / len(todo), 3)
            store.write_json_atomic(manifest_path(root, stage, version, k), {
                **header, "stage": stage, "version": version, "slice": k,
                "slice_of": n_slices, "metrics": metrics[k],
            })
        done.update(metrics)
    return [SliceResult(k, k not in todo, done[k]) for k in range(n_slices)]


def encode_run(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    stage: str,
    version: int,
    sort_cols: list[str],
    slice_col: str | None = None,
    n_slices: int = 4,
    partitions_per_slice: int | None = None,
    cascade: bool = False,
    profile: str = "size",
    input_fingerprint: str = "",
    store: FileStore | None = None,
    chunk_rows: int | None = None,
) -> list[SliceResult]:
    """Checkpointed encode of ``df`` into the chunk-table format.

    The keyspace is split into ``n_slices`` hash slices on
    ``slice_col`` (default: first sort col). ALL outstanding slices are
    encoded in ONE scan of the input: a ``__slice`` column is derived,
    completed slices are filtered out, and the chunk table is committed
    by :func:`commit_slices`. Resume = skip slices whose manifest
    records this input; a 100 TB input is never re-read once per slice. On a real
    cluster a slice is thousands of tasks; slice granularity bounds
    re-work after a failure without driver-side bookkeeping per task.

    Without ``partitions_per_slice`` AQE sizes the encode partitions
    (see :func:`~.encoder.encode_partitions`).
    """
    from .encoder import CHUNK_ROWS, encode_partitions

    slice_col = slice_col or sort_cols[0]
    chunk_rows = chunk_rows or CHUNK_ROWS

    def build(todo: list[int]) -> DataFrame:
        sliced = df.withColumn("__slice", slice_id_of(slice_col, n_slices)) \
            .filter(F.col("__slice").isin(todo))
        return encode_partitions(
            sliced, sort_cols=sort_cols,
            partitions=(partitions_per_slice * len(todo)
                        if partitions_per_slice else None),
            cascade=cascade, profile=profile, slice_col="__slice",
            chunk_rows=chunk_rows,
        )

    return commit_slices(spark, root, stage, version, n_slices, build, {
        "slice_col": slice_col, "sort_cols": sort_cols,
        "input": input_fingerprint,
        # recorded so maintenance (compaction) judges runts against the
        # geometry the stage was encoded with
        "chunk_rows": chunk_rows,
    }, store)


def read_chunks(spark: SparkSession, root: str, stage: str, version: int) -> DataFrame:
    """A stage version's chunk table, read with its declared schema (no
    footer inference)."""
    return spark.read.schema(SLICED_CHUNK_SCHEMA).parquet(
        stage_dir(root, stage, version, "chunks"))
