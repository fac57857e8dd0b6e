"""spark-submit entrypoint for the encode engine (north_rule run mode).

The deployment job: sorted-encode an input parquet table (an extracted
snapshot of the Iceberg-shaped source, or any parquet directory) into
the chunk-table format with checkpointed slices, then print one JSON
metrics line. Designed to be submitted, not imported:

    python scripts/make_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/parquet_producers_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        scripts/submit_encode.py \
        --input  /data/source_code \
        --output /data/encoded --stage content_v1 \
        --sort-cols repo,path --slices 16 --profile balanced --cascade

The session comes from spark-submit's conf (no master/memory hardcoded
here); a re-submit of a killed run resumes from the slice manifests.
The same entrypoint also runs the maintenance leg of the deployment
loop — ``--maintain`` applies the compaction policy gate to an encoded
stage (rewrite runt chunks into version+1 when the runt fraction pays;
no-op otherwise), so a scheduler alternates encode and maintain submits
against the same output root. tests/test_submit_job.py runs both legs
end-to-end through a real spark-submit with the zip on --py-files.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="input parquet path/glob (required unless "
                         "--maintain)")
    ap.add_argument("--output", required=True,
                    help="root dir for the encoded stage")
    ap.add_argument("--stage", default="encoded")
    ap.add_argument("--version", type=int, default=1)
    ap.add_argument("--sort-cols", default="repo,path")
    ap.add_argument("--slices", type=int, default=4)
    ap.add_argument("--profile", default="balanced",
                    choices=["size", "balanced", "fast"])
    ap.add_argument("--cascade", action="store_true")
    ap.add_argument("--chunk-rows", type=int, default=None)
    ap.add_argument("--snapshot-table", default=None,
                    help="treat this dir as a snapshot-manifest table "
                         "and run ONE incremental encode wave: encode "
                         "only the files added since the last encoded "
                         "snapshot into chunk-store version N+1 "
                         "(sources/snapshots.py::encode_table_incremental)")
    ap.add_argument("--maintain", action="store_true",
                    help="instead of encoding, run the compaction policy "
                         "gate on --stage/--version: if the runt fraction "
                         "clears --min-runt-fraction AND some slice's runts "
                         "fit in fewer chunks, merge those runts into "
                         "version+1 (full chunks and runts that cannot "
                         "merge pass through byte-identical). The gate "
                         "reads the stage's slice manifests, and the "
                         "geometry (chunk_rows) comes from the stage, "
                         "not from --chunk-rows")
    ap.add_argument("--min-runt-fraction", type=float, default=0.25,
                    help="floor on runt chunks / all chunks under which "
                         "--maintain skips the rewrite")
    ap.add_argument("--consolidate", action="store_true",
                    help="major compaction: fold the wave versions a "
                         "--snapshot-table ingestion accumulated under "
                         "--output/--stage into ONE globally re-sorted "
                         "version (no-op below --min-waves)")
    ap.add_argument("--min-waves", type=int, default=2)
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="snapshot-table GC: expire all but the newest N "
                         "snapshots of --snapshot-table, then vacuum "
                         "orphan data files")
    ap.add_argument("--gc-versions", action="store_true",
                    help="chunk-store version GC: delete every "
                         "--output/--stage version dir that is not a "
                         "live wave of _snapshot_map.json and not newer "
                         "than the highest committed version (the dirs "
                         "that consolidation, rebases and in-cadence "
                         "compaction strand)")
    ap.add_argument("--dry-run", action="store_true",
                    help="with --gc-versions: report, delete nothing")
    args = ap.parse_args()

    # import AFTER spark-submit has placed the --py-files zip on the
    # path — this file must not import the package at module scope
    from pyspark.sql import SparkSession

    if (not args.maintain and not args.consolidate
            and args.expire_keep is None and not args.gc_versions
            and not args.input and not args.snapshot_table):
        ap.error("--input or --snapshot-table is required unless"
                 " --maintain/--consolidate/--expire-keep/--gc-versions")
    if args.gc_versions:
        # sessionless, like --expire-keep: metadata + directory deletes
        from parquet_producers_spark.sources.snapshots import (
            expire_encoded_versions,
        )

        doomed = expire_encoded_versions(
            args.output, args.stage, dry_run=args.dry_run)
        print(json.dumps({"stage": args.stage, "dry_run": args.dry_run,
                          "versions_deleted": doomed},
                         separators=(",", ":")))
        return
    if args.consolidate:
        from parquet_producers_spark.sources.snapshots import (
            consolidate_encoded_table,
        )

        spark = SparkSession.builder.appName("pps-consolidate").getOrCreate()
        out = consolidate_encoded_table(
            spark, args.output, args.stage,
            sort_cols=args.sort_cols.split(","),
            min_waves=args.min_waves, n_slices=args.slices,
            cascade=args.cascade, profile=args.profile,
            chunk_rows=args.chunk_rows,
        )
        print(json.dumps({"stage": args.stage, **out},
                         separators=(",", ":")))
        spark.stop()
        return
    if args.expire_keep is not None:
        from parquet_producers_spark.sources.snapshots import (
            expire_snapshots,
            vacuum,
        )

        if not args.snapshot_table:
            ap.error("--expire-keep needs --snapshot-table")
        expired = expire_snapshots(args.snapshot_table,
                                   keep_last=args.expire_keep)
        orphans = vacuum(args.snapshot_table)
        print(json.dumps({"expired": expired,
                          "orphans_deleted": len(orphans)},
                         separators=(",", ":")))
        return
    if args.maintain:
        from parquet_producers_spark.compaction import compact_if_needed

        spark = SparkSession.builder.appName("pps-maintain").getOrCreate()
        # the stage's own manifest geometry (chunk_rows) decides
        new_version = compact_if_needed(
            spark, args.output, args.stage, args.version,
            min_runt_fraction=args.min_runt_fraction,
            cascade=args.cascade, profile=args.profile,
        )
        print(json.dumps({
            "stage": args.stage,
            "version": args.version,
            "compacted": int(new_version != args.version),
            "read_version": new_version,
        }, separators=(",", ":")))
        spark.stop()
        return

    if args.snapshot_table:
        from parquet_producers_spark.sources.snapshots import (
            encode_table_incremental,
        )

        spark = SparkSession.builder.appName("pps-encode-wave").getOrCreate()
        wave = encode_table_incremental(
            spark, args.snapshot_table, args.output, args.stage,
            sort_cols=args.sort_cols.split(","),
            n_slices=args.slices, cascade=args.cascade,
            profile=args.profile, chunk_rows=args.chunk_rows,
        )
        print(json.dumps({"stage": args.stage, **wave},
                         separators=(",", ":")))
        spark.stop()
        return

    from parquet_producers_spark.storage import encode_run

    spark = SparkSession.builder.appName("pps-encode").getOrCreate()
    df = spark.read.parquet(args.input)
    results = encode_run(
        spark, df,
        root=args.output, stage=args.stage, version=args.version,
        sort_cols=args.sort_cols.split(","),
        n_slices=args.slices, cascade=args.cascade, profile=args.profile,
        input_fingerprint=args.input,
        chunk_rows=args.chunk_rows,
    )
    print(json.dumps({
        "stage": args.stage,
        "version": args.version,
        "slices": len(results),
        "resumed_slices": sum(1 for r in results if r.skipped),
        "rows": sum(r.metrics["rows"] for r in results),
        "raw_bytes": sum(r.metrics["raw_bytes"] for r in results),
        "enc_bytes": sum(r.metrics["enc_bytes"] for r in results),
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
