#!/usr/bin/env python
r"""spark-submit entry point for the record-linkage pipeline.

Deploy (north_rule: "run via spark-submit --py-files on a multi-executor
cluster at two cluster sizes"):

    cd <repo> && python -m zipfile -c /tmp/orchid_fst_spark.zip orchid_fst_spark
    spark-submit \
        --master <cluster-master> \
        --num-executors <N> \
        --py-files /tmp/orchid_fst_spark.zip \
        scripts/run_er.py \
        --input /data/pages_parquet \        # or iceberg:cat.db.pages
        --output /data/er_clusters \
        --checkpoint-dir /data/er_ckpt --resume

Master/executor sizing comes entirely from the spark-submit command line
(this script never sets a master), so the identical invocation runs at N
and 4N executors for the scaling measurement.  Prints one JSON line of
run metrics on completion; with --checkpoint-dir, stages land as
parquet + a metrics/lineage table and a re-run with --resume skips
completed stages.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="pages parquet path or iceberg:tbl")
    p.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg"])
    p.add_argument("--output", required=True, help="clusters output path or iceberg:tbl")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--k", type=int, default=2)
    p.add_argument("--damerau", action="store_true", default=True)
    p.add_argument("--no-damerau", dest="damerau", action="store_false")
    p.add_argument("--sig-cap", type=int, default=1000)
    p.add_argument("--max-len", type=int, default=96)
    p.add_argument("--use-html-title", action="store_true")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    # Imports resolve from the --py-files zip on executors and driver.
    from orchid_fst_spark.er import resolve
    from orchid_fst_spark.session import apply_engine_conf
    from orchid_fst_spark.sources.pages import read_pages, write_table

    builder = apply_engine_conf(
        SparkSession.builder.appName("orchid_fst_spark_er"),
        shuffle_partitions=args.shuffle_partitions,
    )
    spark = builder.getOrCreate()
    if args.shuffle_partitions is None:
        # default: 2x total cores of whatever cluster we were submitted to
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(2 * spark.sparkContext.defaultParallelism, 8)),
        )

    t0 = time.time()
    pages = read_pages(spark, args.input, args.format)
    clusters = resolve(
        pages,
        k=args.k,
        damerau=args.damerau,
        sig_cap=args.sig_cap,
        max_len=args.max_len,
        use_html_title=args.use_html_title,
        checkpoint_dir=args.checkpoint_dir,
        resume=args.resume,
    )
    write_table(clusters, args.output, args.format)
    # effective format: --format auto with an iceberg: output means iceberg
    # (mirror write_table's prefix resolution so readback doesn't try to
    # spark.read.parquet("iceberg:...") after a successful Iceberg write)
    fmt = args.format
    if fmt == "auto" and args.output.startswith("iceberg:"):
        fmt = "iceberg"
    n = spark.read.parquet(args.output).count() if fmt != "iceberg" else clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    print(
        json.dumps(
            {
                "rows": n,
                "clusters": n_clusters,
                "wall_sec": round(time.time() - t0, 3),
                "parallelism": spark.sparkContext.defaultParallelism,
                "k": args.k,
                "damerau": args.damerau,
                "resumed": args.resume,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
