"""Production index-build entrypoint for spark-submit (BASELINE.md §3).

Ship the package and run the build on a cluster:

    python -c "from lucene_solr_spark.session import package_zip; print(package_zip())"
    spark-submit \\
        --master <cluster-master> \\
        --py-files dist/lucene_solr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.executorEnv.PYTHONMALLOC=malloc \\
        --conf spark.executorEnv.MALLOC_ARENA_MAX=1 \\
        --conf spark.executorEnv.MALLOC_MMAP_MAX_=0 \\
        --conf spark.executorEnv.MALLOC_TRIM_THRESHOLD_=1073741824 \\
        tools/submit_build.py \\
        --input /data/pages --output /data/index \\
        --id-col url --text-col text --shards 4096 --segs-per-shard 4

Scale guidance (10^12-doc design point):
- shards is the only scale knob: layouts are keyed by (shard, term) /
  (shard, docID); pick shards so one segment holds ~1-5 M docs.
- the build is resumable: re-running with the same --output skips
  segments whose checkpoint rows exist (idempotent appends — the
  segments_N / tlog-replay contract).
- on a real cluster pass the allocator env via spark.executorEnv.* as
  above (local mode inherits it from the driver process).

Query-side entrypoint: `tools/submit_search.py`.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet/iceberg path")
    ap.add_argument("--output", required=True, help="index output directory")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--segs-per-shard", type=int, default=4)
    ap.add_argument("--sharding", default="hash", choices=["hash", "range_int"])
    ap.add_argument("--analyzer", default="standard")
    ap.add_argument("--positions", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--publish",
        default=None,
        help="after the build, fold the index into one snapshot at this "
        "destination — a directory or iceberg://cat.db.name (each table "
        "one atomic snapshot commit, manifest last; see index/storage.py)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("lss-index-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.read.parquet(args.input)
    manifest = build_index(
        spark,
        src,
        args.output,
        IndexConfig(
            n_shards=args.shards,
            segs_per_shard=args.segs_per_shard,
            analyzer=args.analyzer,
            id_col=args.id_col,
            text_col=args.text_col,
            sharding=args.sharding,
            index_positions=args.positions,
        ),
        resume=not args.no_resume,
    )
    if args.publish:
        from lucene_solr_spark.index.storage import publish_index

        publish_index(spark, args.output, args.publish)
    json.dump(
        {
            "max_doc": manifest["max_doc"],
            "sum_total_term_freq": manifest["sum_total_term_freq"],
            "n_segments": len(manifest["seg_bases"]),
        },
        sys.stdout,
    )
    print()
    spark.stop()


if __name__ == "__main__":
    main()
