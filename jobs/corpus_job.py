#!/usr/bin/env python
"""spark-submit entrypoint for the end-to-end corpus build.

Crawls a (syndicated) web and runs the full training-corpus pipeline —
quality gate, exact dedup, MinHash+LSH near-dup removal, eval-set
decontamination, sequence packing — writing the packed corpus and a
per-stage count manifest (``scripts/package_pyfiles.sh`` builds the
--py-files zip from the current package):

    ./scripts/package_pyfiles.sh
    spark-submit --master <cluster> \
        --py-files dist/crawler_news_spark.zip \
        jobs/corpus_job.py --output /path/to/corpus \
        [--scale 0.5] [--syndication-mod 3] [--wire-stories 24]

The session takes master/memory from spark-submit; stage thresholds are the
registry constants (crawler_news_spark/queries.py CB_*).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True)
    ap.add_argument("--scale", type=float, default=0.5)
    ap.add_argument("--syndication-mod", type=int, default=3)
    ap.add_argument("--wire-stories", type=int, default=24)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crawler_news_spark.queries import corpus_build_stages
    from crawler_news_spark.sources import hostsim as hs

    spark = SparkSession.builder.appName("corpus_build").getOrCreate()
    web = hs.corpus_web(
        seed=args.seed,
        scale=args.scale,
        syndication_mod=args.syndication_mod,
        wire_stories=args.wire_stories,
    )
    stages = corpus_build_stages(spark, web=web)
    stages["packed"].write.mode("overwrite").parquet(f"{args.output}/packed")
    counts = {
        k: stages[k].count()
        for k in ("body", "bench", "corpus_quality", "corpus_exact",
                  "corpus_neardup", "corpus_clean", "packed")
    }
    with open(f"{args.output}/manifest.json", "w") as f:
        json.dump(counts, f, indent=1)
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()
