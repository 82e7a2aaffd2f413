#!/usr/bin/env python
"""spark-submit entry point for the linkage pipeline (north_rule: "packaged
for spark-submit --py-files ... on a multi-executor cluster").

Usage (cluster):
    python scripts/make_pyfiles_zip.py   # -> dist/blink_reloaded_spark.zip
    spark-submit --conf spark.checkpoint.dir=<shared-fs-path> \
        --py-files dist/blink_reloaded_spark.zip \
        scripts/submit_job.py --transcripts <iceberg-or-parquet-path> \
        --entities <path> --output <path> --checkpoint-dir <path>

`spark.checkpoint.dir` makes every in-run lineage cut reliable (it
survives executor loss); `--checkpoint-dir` is the resumable stage store.

Local smoke (tests/test_submit.py runs this, with the zip built into its
temp dir via `make_pyfiles_zip.py <dir>`):
    spark-submit --master local[4] --py-files dist/blink_reloaded_spark.zip \
        scripts/submit_job.py --demo --output /tmp/out
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", help="parquet/iceberg path of transcripts")
    ap.add_argument("--entities", help="parquet path of the entity catalogue")
    ap.add_argument("--surfaces", help="newline-separated surface dictionary file")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument(
        "--demo", action="store_true", help="run on a small generated fixture"
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session/master comes from the submit command
    spark = SparkSession.builder.appName("blink-linkage").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from blink_reloaded_spark import datagen
    from blink_reloaded_spark.plans.pipeline import LinkagePipeline

    kw = {}
    if args.threshold is not None:
        kw["threshold"] = args.threshold
    pipe = LinkagePipeline(spark, checkpoint_dir=args.checkpoint_dir, **kw)

    if args.demo:
        cat = datagen.EntityCatalog.build(n_entities=30)
        tr, _ = datagen.generate_transcripts(
            spark, cat, n_convs=30, turns_per_conv=5, hot_conv_factor=3
        )
        ents = cat.entities_df(spark)
        surfaces = [a["surface"] for a in cat.aliases]
    else:
        if not (args.transcripts and args.entities):
            ap.error("--transcripts and --entities required without --demo")
        tr = spark.read.parquet(args.transcripts)
        ents = spark.read.parquet(args.entities)
        if args.surfaces:
            with open(args.surfaces) as f:
                surfaces = [l.strip() for l in f if l.strip()]
        else:
            surfaces = [r["title"].lower() for r in ents.select("title").collect()]

    clusters = pipe.run(tr, ents, surfaces=surfaces)
    clusters.write.mode("overwrite").parquet(args.output)
    print(f"METRICS {pipe.metrics}", file=sys.stderr)
    print(f"OK rows={spark.read.parquet(args.output).count()}")


if __name__ == "__main__":
    main()
