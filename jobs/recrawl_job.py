#!/usr/bin/env python
"""spark-submit entrypoint for the periodic re-crawl (reference:
cronjobs/cron_job.py:5-21 — the daily job that re-crawls selected URLs).

The cron *scheduler* stays outside (cron/airflow/k8s CronJob — policy, not
engine); this job is the body it invokes (``scripts/package_pyfiles.sh``
builds the --py-files zip from the current package):

    ./scripts/package_pyfiles.sh
    spark-submit --master <cluster> --py-files dist/crawler_news_spark.zip \
        jobs/recrawl_job.py --catalog /path/to/catalog --web default \
        [--urls-file urls.txt | --category-prefix /tin-tức] [--dry-run]

Selection: an explicit URL list (task:"url" re-run) or every seen URL under
a path prefix (category re-crawl).  Selected URLs are evicted from the seen
set (cuckoo delete / bloom rebuild), re-injected as article requests, and
the crawl resumes — producing fresh records alongside the originals (use
WaveCrawl.remove_duplicate_articles(keys=["url"], keep="last") afterwards
if the deployment wants replace semantics).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--web", default="default", choices=["default", "bench", "skewed"])
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--urls-file", default=None,
                    help="newline-delimited URLs to re-crawl")
    ap.add_argument("--category-prefix", default=None,
                    help="re-crawl every seen URL whose path starts with this")
    ap.add_argument("--seen-filter", default="bloom", choices=["bloom", "cuckoo"])
    ap.add_argument("--dry-run", action="store_true",
                    help="print the selection size and exit without evicting")
    args = ap.parse_args()
    if not args.urls_file and not args.category_prefix:
        ap.error("one of --urls-file / --category-prefix is required")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("crawler_news_spark.recrawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from crawler_news_spark.plans.wave import CrawlRunConfig, WaveCrawl
    from crawler_news_spark.sources import hostsim as hs

    web = (
        hs.bench_web() if args.web == "bench"
        else hs.skewed_web() if args.web == "skewed"
        else hs.default_web(scale=args.scale)
    )
    wc = WaveCrawl(spark, web, args.catalog,
                   CrawlRunConfig(seen_filter=args.seen_filter))

    if args.urls_file:
        with open(args.urls_file) as f:
            urls = [ln.strip() for ln in f if ln.strip()]
    else:
        # path-prefix selection pushed into Spark; only the selected URLs
        # (a re-crawl batch, not the corpus) reach the driver
        sel = (
            wc.seen_df()
            .withColumn("_path", F.expr(
                "substring(canonical_url, length(split(canonical_url, '/')[2]) + 9)"
            ))
            .filter(F.col("_path").startswith(args.category_prefix))
            .filter(F.col("canonical_url").rlike(r"\d{6,}\.html$"))
        )
        urls = [r["canonical_url"] for r in sel.select("canonical_url").collect()]

    if args.dry_run:
        print(json.dumps({"selected": len(urls), "dry_run": True}))
        spark.stop()
        return

    n_evicted = wc.evict_seen(urls)
    from crawler_news_spark.sources.seeds import seeds_to_requests

    seeds = spark.createDataFrame(list(enumerate(urls)), "seed_order int, url string")
    n_injected = wc.inject_requests(seeds_to_requests(seeds), skip_seen=True)
    stats = wc.run(resume=True) if n_injected else {"n_waves": 0}
    print(json.dumps({
        "selected": len(urls),
        "n_evicted": int(n_evicted),
        "n_injected": int(n_injected),
        "n_waves": stats.get("n_waves", 0),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
