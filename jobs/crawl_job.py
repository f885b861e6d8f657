#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine.

Build the --py-files zip from the current package first (it is not kept
in the repo, so it never ships stale code):

    ./scripts/package_pyfiles.sh

Cluster usage (north_rule: multi-executor via --py-files):

    spark-submit --master <cluster> \
        --py-files dist/crawler_news_spark.zip \
        jobs/crawl_job.py --catalog /path/to/catalog --web bench --types 256

Local smoke:

    spark-submit --master local[8] --py-files dist/crawler_news_spark.zip \
        jobs/crawl_job.py --catalog /tmp/cat --web default --scale 1

The session takes master/memory from spark-submit; the job only sets SQL
conf.  --resume continues from the catalog's last committed wave.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--web", default="default", choices=["default", "bench", "skewed"])
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--types", type=int, default=256)
    ap.add_argument("--batch-pages", type=int, default=4)
    ap.add_argument("--bloom-buckets", type=int, default=64)
    ap.add_argument("--max-per-host-wave", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--seed-file", default=None,
                    help="newline-delimited URL list (task:'url' mode)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("crawler_news_spark.crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from crawler_news_spark.plans.wave import CrawlRunConfig, WaveCrawl
    from crawler_news_spark.sources import hostsim as hs

    if args.web == "bench":
        web = hs.bench_web(types_per_host=args.types)
        batch = 17
    elif args.web == "skewed":
        web = hs.skewed_web()
        batch = args.batch_pages
    else:
        web = hs.default_web(scale=args.scale)
        batch = args.batch_pages

    wc = WaveCrawl(
        spark, web, args.catalog,
        CrawlRunConfig(
            batch_pages=batch,
            bloom_buckets=args.bloom_buckets,
            max_articles_per_host_wave=args.max_per_host_wave,
            write_parts=None,  # cluster: let tasks write their partitions
        ),
    )
    if args.seed_file:
        with open(args.seed_file, encoding="utf-8-sig") as f:
            urls = [ln.strip() for ln in f if ln.strip()]
        wc.crawl_url_list(urls)
    else:
        wc.run(resume=args.resume)
    m = wc.cat.read_manifest()
    n = sum(w["n_fetched"] for w in m["waves"].values())
    wall = sum(w["wall_s"] for w in m["waves"].values())
    print(json.dumps({
        "n_waves": len(m["waves"]),
        "n_urls_fetched": n,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(n / wall, 2) if wall else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
