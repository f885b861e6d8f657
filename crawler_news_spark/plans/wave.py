"""The crawl wave loop — driver-side iterative dataflow (GraphX-superstep style).

Spark SQL has no recursion; the frontier loop lives in the driver, each wave
being one declarative DataFrame job (SURVEY.md §2.2 F1).  Per wave:

  frontier_w ──politeness──▶ fetch+parse (mapInPandas, fused)
     ├─ listings ─▶ posexplode links ─▶ absolutize/canonicalize (built-ins)
     │               ─▶ robots filter ─▶ within-wave keep-first (min_by key)
     │               ─▶ bloom prefilter ─▶ exact anti-join vs seen
     │               ─▶ frontier_{w+1} article rows (+ seen/bloom deltas)
     ├─ stop rule: any empty page or one-shot set in a (host,type) batch
     │             stops it; else next B listing pages enter frontier_{w+1}
     └─ articles ─▶ records + spans ─▶ articles/documents tables
  lineage_w appended; everything committed to the catalog (exact resume).

Crawl order is materialized as a dense rank over
(wave, host, type_id, page_no, link_index) AFTER the loop — arrival order is
never trusted (reference iterates types ascending base_crawler.py:95-96,
pages ascending :113-118, links in listing document order).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schema as SCH
from ..functions.clean_date import clean_date_staged
from ..functions.urlnorm import absolutize_col, canonical_hash_col, canonicalize_col
from ..operators import parse as P
from ..operators import politeness as pol
from ..operators import seen as S
from ..sources import hostsim as hs
from .catalog import CrawlCatalog


@dataclass
class CrawlRunConfig:
    batch_pages: int = 4  # reference num_workers (crawler_config.yml:17)
    max_waves: int = 100
    bloom_buckets: int = 8  # raise to ~4096 at 10^10 scale
    bloom_expected_per_bucket: int = 4096
    seen_filter: str = "bloom"  # 'bloom' | 'cuckoo' (deletion-capable)
    created_at: str = "2026-01-01T00:00:00+00:00"  # deterministic createdAt stamp
    write_parts: int | None = 8  # coalesce small wave deltas; None at cluster scale
    # politeness/fetch budget: at most K article fetches per host per wave,
    # highest priority (depth+recency score) first; the rest defer to the
    # next wave.  None = unbounded (reference behavior).
    max_articles_per_host_wave: int | None = None


class WaveCrawl:
    def __init__(
        self,
        spark: SparkSession,
        web: hs.WebConfig,
        catalog_root: str,
        run_cfg: CrawlRunConfig | None = None,
    ):
        self.spark = spark
        self.web = web
        self.cfg = run_cfg or CrawlRunConfig()
        self.cat = CrawlCatalog(catalog_root, spark)
        self.hosts_df = spark.createDataFrame(
            [tuple(r[f.name] for f in SCH.HOSTS.fields) for r in hs.hosts_rows(web)],
            SCH.HOSTS,
        ).cache()
        # politeness budget + disallow rules come from FETCHED robots.txt
        # (north_rule), pulled through the same fetch path as every page.
        # Kept as DataFrames end-to-end (r03): nothing host-indexed lives on
        # the driver — delays join into the politeness schedule, disallow
        # regexes compile executor-side into a join dimension.
        self.robots_df = self._fetch_robots_df().persist()
        self.delay_dim = self.robots_df.select("host", "crawl_delay_s")
        self.robots_dim = pol.compile_robots_dim(self.robots_df).persist()
        # taxonomy dim for executor-side listing-URL synthesis (seed + next
        # listing batches): (host, type_id, slug, pag_kind, n_seed_pages).
        # Built DISTRIBUTED from the O(#hosts) host metadata — types explode
        # and slugs compute executor-side, so a web-scale taxonomy (10^5
        # hosts x 10^2 types) never materializes as driver rows.  Persisted:
        # it joins into the seed, every wave's next-listing expansion, and
        # the record slug join.
        hosts_meta = spark.createDataFrame(
            [
                (s.host, s.n_types,
                 "one-shot" if s.one_shot else hs.PAGINATION[s.profile],
                 1 if s.one_shot else self.cfg.batch_pages)
                for s in web.hosts
            ],
            "host string, n_types int, pag_kind string, n_seed_pages int",
        )
        cats = hosts_meta.select(
            "host", "pag_kind", "n_seed_pages",
            F.explode(F.sequence(F.lit(0), F.col("n_types") - 1)).alias("type_id"),
        )

        def add_slug(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["slug"] = [
                    hs.type_slug(web, h, int(t))
                    for h, t in zip(pdf["host"], pdf["type_id"])
                ]
                yield pdf[["host", "type_id", "slug", "pag_kind", "n_seed_pages"]]

        self.taxonomy_dim = F.broadcast(
            cats.mapInPandas(
                add_slug,
                "host string, type_id int, slug string, pag_kind string, n_seed_pages int",
            ).persist()
        )
        self.slug_dim = F.broadcast(
            self.taxonomy_dim.select(
                "host", "type_id", F.col("slug").alias("article_type")
            )
        )
        if self.cfg.seen_filter == "cuckoo":
            self.bloom_state = S.CuckooState(
                self.cfg.bloom_buckets, self.cfg.bloom_expected_per_bucket
            )
        else:
            m_bits, k = S.bloom_params(self.cfg.bloom_expected_per_bucket)
            self.bloom_state = S.BloomState(self.cfg.bloom_buckets, m_bits, k)

    def _fetch_robots_df(self) -> DataFrame:
        """Fetch + parse robots.txt for every host, distributed through the
        same fetch path the crawler uses (north_rule: "robots.txt fetch +
        crawl-delay enforced").  Returns the (host, disallow, crawl_delay_s)
        state TABLE — never collected: at 10^8 hosts this is executor data.
        """
        import pandas as pd

        web = self.web

        def run(batches):
            for pdf in batches:
                rows = []
                for h in pdf["host"]:
                    txt = hs.fetch(web, f"https://{h}/robots.txt")
                    dis: list[str] = []
                    delay = 1.0
                    for line in txt.splitlines():
                        if line.startswith("Disallow: "):
                            dis.append(line[len("Disallow: "):])
                        elif line.startswith("Crawl-delay: "):
                            delay = float(line.split(": ", 1)[1])
                    rows.append((h, dis, delay))
                yield pd.DataFrame(
                    rows, columns=["host", "disallow", "crawl_delay_s"]
                )

        return self.hosts_df.select("host").mapInPandas(
            run, "host string, disallow array<string>, crawl_delay_s double"
        )

    RECORDS_DDL = (
        "dataSource string, url string, publishedDate string, author string, "
        "title string, imageUrl string, description string, content string, "
        "comments array<string>, contentImageUrls array<string>, "
        "article_type string, createdAt string, wave int, host string, "
        "type_id int, page_no int, link_index int, fetch_ts double"
    )
    DOCS_DDL = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    LINEAGE_DDL = (
        "wave int, host string, n_fetched long, n_parsed long, n_errors long, "
        "n_bloom_fp long, t_start double, t_end double"
    )

    # ------------------------------------------------------------------
    def seed_frontier(self) -> DataFrame:
        """Wave-0 frontier: listing batch 1 for every (host, type).

        Built distributed — the (host, type) taxonomy dim crossed with the
        page range and the URL synthesized executor-side.  A driver-side
        Python loop would serialize O(hosts x types x batch) rows through
        the gateway; at web-scale taxonomies that is the seed bottleneck.
        """
        from ..functions.listing_urls import listing_url_expr

        url = listing_url_expr(
            F.col("host"), F.col("slug"), F.col("pag_kind"), F.col("page_no")
        )
        df = (
            self.taxonomy_dim.select(
                "host", "type_id", "slug", "pag_kind",
                F.explode(F.sequence(F.lit(1), F.col("n_seed_pages"))).alias("page_no"),
            )
            .select(
                F.lit(0).alias("wave"),
                "host",
                F.lit("listing").alias("kind"),
                "type_id",
                "page_no",
                F.lit(0).alias("link_index"),
                url.alias("url"),
                url.alias("canonical_url"),
                F.lit(0).cast("long").alias("canonical_hash"),
                F.lit(0).alias("depth"),
                F.lit(1.0).alias("priority"),
            )
        )
        return df.withColumn("canonical_hash", canonical_hash_col(F.col("canonical_url")))

    # ------------------------------------------------------------------
    def run(self, resume: bool = False) -> dict:
        """Run (or resume) the crawl to completion.  Returns run stats."""
        cat, cfg = self.cat, self.cfg
        totals_hint: dict[str, int] | None = None
        if resume and cat.last_wave() >= 0:
            cat.prune_uncommitted()
            wave = cat.last_wave() + 1
            frontier = cat.read_wave("frontier", wave) if cat.has("frontier", wave) else None
            # per-host virtual clock is a catalog state table, not manifest
            # JSON — O(#hosts) rows never live on the driver
            last = cat.last_wave()
            clock_df = cat.read_wave("clock", last) if cat.has("clock", last) else None
        else:
            wave = 0
            # a pre-written wave-0 frontier (inject_requests / crawl_url_list
            # on a fresh catalog — the reference's task:"url" mode) wins over
            # the full type-taxonomy seed
            if not cat.has("frontier", 0):
                # same small-delta coalesce as every other wave write:
                # the seed is hosts x types rows, and writing it at the
                # scan's default parallelism costs ~2x in file tasks
                cat.write("frontier", 0, self.seed_frontier(),
                          self.cfg.write_parts)
                # the seed is pure listings and its size is a config identity
                # (Σ over hosts of n_types x n_seed_pages) — no wave-0
                # collect; _run_wave's tagged-dir guard still re-counts if
                # anything was injected into the slot after the seed write
                totals_hint = {
                    "listing": sum(
                        s.n_types * (1 if s.one_shot else self.cfg.batch_pages)
                        for s in self.web.hosts
                    ),
                    "article": 0,
                }
            frontier = cat.read_wave("frontier", 0)
            clock_df = None

        stats = {"n_waves": 0, "t_start": time.time()}
        while frontier is not None:
            if wave >= cfg.max_waves:
                raise RuntimeError("max_waves exceeded")
            clock_df, n_next, totals_hint = self._run_wave(
                wave, frontier, clock_df, totals_hint
            )
            wave += 1
            if n_next <= 0 or not cat.has("frontier", wave):
                break
            frontier = cat.read_wave("frontier", wave)
        stats["n_waves"] = wave
        stats["t_end"] = time.time()
        return stats

    # ------------------------------------------------------------------
    def _run_wave(
        self,
        wave: int,
        frontier: DataFrame,
        clock_df: DataFrame | None,
        totals_hint: dict[str, int] | None = None,
    ) -> tuple[DataFrame, int, dict[str, int]]:
        """Process one wave.  Returns (new clock state table, next-frontier
        row count, next wave's exact {listing, article} frontier totals).

        ``totals_hint`` is the previous wave's returned totals for THIS
        wave's frontier — it lets the politeness schedule skip its per-wave
        kind-totals collect (one driver round-trip per wave).  The hint is
        only trusted when this wave's frontier slot is exactly the one plain
        snapshot the previous wave wrote: injected tagged dirs (read_upto
        unions them into the read) invalidate it, falling back to the
        collect.

        Branch-skips: a wave with no listings (tail article waves) or no
        articles (wave 0) writes empty snapshots directly instead of running
        the full sub-plan — per-wave driver overhead is the throughput tax at
        small scale, so every action here is accounted for (row totals ride
        along with the politeness counts; no standalone count() of the
        frontier).
        """
        cat, cfg, web = self.cat, self.cfg, self.web
        spark = self.spark
        t0 = time.time()
        parts = cfg.write_parts

        if totals_hint is not None:
            slot = [
                (w, t)
                for w, t, _p in cat._committed_dirs("frontier", wave)
                if w == wave
            ]
            if slot != [(wave, None)]:
                totals_hint = None  # injected rows present — recount

        # ---------- priority budget: top-K articles per host this wave ------
        # (the priority frontier actually gates scheduling; overflow defers)
        deferred = None
        n_deferred = 0
        if cfg.max_articles_per_host_wave is not None:
            K = cfg.max_articles_per_host_wave
            arts = frontier.filter(F.col("kind") == "article")
            w_pr = Window.partitionBy("host").orderBy(
                F.desc("priority"), "type_id", "page_no", "link_index"
            )
            # only the TAKE side ranks: a rank<=K filter plans as a
            # WindowGroupLimit (per-map-task partial top-K BEFORE the
            # exchange), so at most K rows per host per task shuffle.  The
            # deferred side previously read rank>K from the same window,
            # which CANNOT group-limit and forced a full per-host sort of
            # the giant host's frontier in one task — the length_percentiles
            # scale-killer shape.  Deferred now derives by anti-join on the
            # (wave-unique) canonical_hash of the taken rows instead.
            take = (
                arts.withColumn("_rk", F.row_number().over(w_pr))
                .filter(F.col("_rk") <= K)
                .drop("_rk")
            ).cache()
            deferred = (
                arts.join(
                    take.select("canonical_hash"), "canonical_hash", "left_anti"
                )
                .withColumn("wave", F.lit(wave + 1))
            ).cache()
            n_deferred = deferred.count()  # also materializes the take cache
            if n_deferred == 0:
                deferred.unpersist()
                deferred = None
            budget_take = take
            frontier = frontier.filter(F.col("kind") == "listing").unionByName(take)
            if totals_hint is not None:
                # the budget replaced the article side with its top-K take
                totals_hint = {
                    "listing": totals_hint["listing"],
                    "article": totals_hint["article"] - n_deferred,
                }
        else:
            budget_take = None

        scheduled, new_clock_df, totals, art_sched_counts = pol.schedule_wave(
            frontier, self.delay_dim, clock_df, totals_hint
        )
        has_listings = totals["listing"] > 0
        has_articles = totals["article"] > 0
        if has_listings or has_articles:
            scheduled = scheduled.cache()

        # Independent per-wave snapshot writes (clock, seen delta, next
        # frontier, bloom state) run on background threads so their ~0.5-1.5 s
        # jobs hide under the wave's fetch+parse work instead of adding up
        # serially — at sandbox wave sizes these four writes were ~40% of the
        # per-run fixed cost (BENCH.md §9 profile).  All are joined before
        # the wave commit, so crash-exactness is unchanged (an uncommitted
        # dir is pruned like any other debris); none of them is read again
        # within the wave, and each reads only already-materialized inputs
        # (cached new_rows / the in-memory bloom delta / the politeness
        # counts cache slot).
        import threading

        bg_threads: list[threading.Thread] = []
        bg_errs: list[BaseException] = []

        def _bg(fn):
            def _run():
                try:
                    fn()
                except BaseException as e:  # re-raised at the pre-commit join
                    bg_errs.append(e)

            th = threading.Thread(target=_run, daemon=True)
            th.start()
            bg_threads.append(th)

        _bg(lambda: cat.write("clock", wave, new_clock_df, parts))

        # newest merged filter state (includes inject_requests pre-writes)
        bloom_tbl = cat.read_latest_state("bloom", wave)
        n_bloom_fp = 0
        n_new = 0
        lineage_parts = []

        # AQE coalesces the politeness shuffle by its (tiny, skinny-row) size,
        # which would funnel the fetch+parse vUDF into 1-2 tasks — the rows
        # EXPAND ~100x in the UDF, so parallelism must be pinned explicitly
        # (measured 204s vs 23s on a 137k-article wave).
        n_par = spark.sparkContext.defaultParallelism

        # ---------- listings: fetch/parse -> candidates -> seen filter ----------
        if has_listings:
            listings = scheduled.filter(F.col("kind") == "listing").repartition(n_par)
            parsed_listings = P.fetch_parse_listings(web, listings).cache()

            links = P.explode_links(parsed_listings)
            hosts_dim = F.broadcast(self.hosts_df.select("host", "base_url"))
            candidates = (
                links.join(hosts_dim, "host")
                .withColumn("url", absolutize_col(F.col("href"), F.col("base_url")))
                .withColumn("canonical_url", canonicalize_col(F.col("url")))
                .withColumn("canonical_hash", canonical_hash_col(F.col("canonical_url")))
                .drop("href", "base_url")
            )
            candidates = pol.robots_filter_dim(candidates, self.robots_dim)

            # within-wave keep-first by the crawl key (min_by, one shuffle)
            key = F.struct("type_id", "page_no", "link_index", "host", "url")
            candidates = (
                candidates.groupBy("canonical_hash", "canonical_url")
                .agg(F.min(key).alias("k"))
                .select(
                    "canonical_hash",
                    "canonical_url",
                    F.col("k.host").alias("host"),
                    F.col("k.type_id").alias("type_id"),
                    F.col("k.page_no").alias("page_no"),
                    F.col("k.link_index").alias("link_index"),
                    F.col("k.url").alias("url"),
                )
            )

            # bloom prefilter + exact anti-join (bloom advisory, join exact);
            # upto ``wave`` so injected same-wave seen deltas participate
            seen_tbl = cat.read_upto("seen", wave)
            if seen_tbl is not None and bloom_tbl is not None:
                new_rows, recovered = S.seen_anti_join(
                    candidates, seen_tbl, self.bloom_state, bloom_tbl
                )
            else:
                new_rows, recovered = S.seen_anti_join(candidates, seen_tbl)
            new_rows = new_rows.cache()
            # materializes new_rows AND (first-touch) the parsed_listings
            # cache; the remaining wave scalars (n_listing_next, n_bloom_fp)
            # are counted in ONE follow-up job below — each standalone
            # count() is ~0.5-1 s of job overhead per wave (r04 profile)
            n_new = new_rows.count()

            # stop rule + next listing batch — fully distributed: the
            # continuing (host, type) groups explode their next B pages and
            # synthesize URLs executor-side (same expression as the seed;
            # a driver loop here is O(hosts x types x batch) serial rows)
            from ..functions.listing_urls import listing_url_expr

            live = (
                parsed_listings.groupBy("host", "type_id")
                .agg(
                    F.max(
                        (F.size("out_links") == 0)
                        | F.col("is_terminal")
                        | F.col("fetch_error")
                    ).alias("stopped"),
                    F.max("page_no").alias("max_page"),
                )
                .filter(~F.col("stopped"))
            )
            nxt_url = listing_url_expr(
                F.col("host"), F.col("slug"), F.col("pag_kind"), F.col("page_no")
            )
            next_listings = (
                live.join(self.taxonomy_dim.drop("n_seed_pages"), ["host", "type_id"])
                .select(
                    "host", "type_id", "slug", "pag_kind",
                    F.explode(
                        F.sequence(
                            F.col("max_page") + 1,
                            F.col("max_page") + cfg.batch_pages,
                        )
                    ).alias("page_no"),
                )
                .select(
                    F.lit(wave + 1).alias("wave"),
                    "host",
                    F.lit("listing").alias("kind"),
                    "type_id",
                    "page_no",
                    F.lit(0).alias("link_index"),
                    nxt_url.alias("url"),
                    nxt_url.alias("canonical_url"),
                    canonical_hash_col(nxt_url).alias("canonical_hash"),
                    F.lit(wave + 1).alias("depth"),
                    F.lit(1.0 / (2 + wave)).alias("priority"),
                )
            )
            # one union-count job for both remaining scalars: next-listing
            # rows and bloom false positives (their subtrees read only the
            # cached parsed_listings / tiny dims, so the merged job costs one
            # scheduling round-trip instead of two)
            scalar_df = next_listings.select(F.lit("nxt").alias("_k"))
            if recovered is not None:
                scalar_df = scalar_df.unionByName(
                    recovered.select(F.lit("fp").alias("_k"))
                )
            scalars = {
                r["_k"]: int(r["n"])
                for r in scalar_df.groupBy("_k")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            n_listing_next = scalars.get("nxt", 0)
            n_bloom_fp = scalars.get("fp", 0)

            lineage_parts.append(
                parsed_listings.groupBy("host")
                .agg(
                    F.count("*").alias("n_fetched"),
                    F.lit(0).cast("long").alias("n_parsed"),
                    F.sum(F.col("fetch_error").cast("long")).alias("n_errors"),
                )
                .withColumn("wave", F.lit(wave))
                .select("wave", "host", "n_fetched", "n_parsed", "n_errors")
            )

            if n_new > 0:
                # plain delta only: injected same-wave deltas live in their
                # own tagged dirs (read_upto unions them), so a crash of this
                # wave can be pruned without touching the injected rows
                seen_delta_new = new_rows.select(
                    "canonical_hash", "canonical_url", F.lit(wave).alias("wave")
                )
                _bg(lambda: cat.write("seen", wave, seen_delta_new, parts))

            # next-wave article rows; priority = depth + recency proxy
            next_articles = new_rows.select(
                F.lit(wave + 1).alias("wave"),
                "host",
                F.lit("article").alias("kind"),
                "type_id",
                "page_no",
                "link_index",
                "url",
                "canonical_url",
                "canonical_hash",
                F.lit(wave + 1).alias("depth"),
                (
                    1.0 / (2.0 + wave)
                    + F.pmod(F.col("canonical_hash"), F.lit(1000)).cast("double") / 1e6
                ).alias("priority"),
            )
        else:
            next_articles = None
            next_listings = None
            n_listing_next = 0

        n_next = n_new + n_listing_next + n_deferred
        if n_next > 0:
            cols = [f.name for f in frontier.schema.fields]
            parts_list = []
            if n_listing_next > 0:
                parts_list.append(next_listings.select(*cols))
            if next_articles is not None and n_new > 0:
                parts_list.append(next_articles.select(*cols))
            if deferred is not None:
                parts_list.append(deferred.select(*cols))
            next_frontier = parts_list[0]
            for extra in parts_list[1:]:
                next_frontier = next_frontier.unionByName(extra)
            _bg(lambda nf=next_frontier: cat.write("frontier", wave + 1, nf, parts))

        # ---------- seen-filter delta update (skipped when nothing new) ----------
        # NB: only the pure-new rows go into the filter — injected rows were
        # already inserted by inject_requests (idempotent for bloom; a cuckoo
        # double-insert would waste slots and break delete symmetry)
        if n_new > 0:
            merged = self.bloom_state.update(
                bloom_tbl, seen_delta_new.select("canonical_hash"), spark
            )
            _bg(lambda: cat.write("bloom", wave, merged, parts))

        # ---------- articles: fetch/parse -> records + spans ----------
        # single pass, NO cache: caching the parsed output would serialize
        # the full text payload a second time just for lineage counting —
        # lineage comes from the written snapshot's (column-pruned) read-back
        # plus the politeness per-host totals instead.
        if has_articles:
            articles = scheduled.filter(F.col("kind") == "article").repartition(n_par)
            # mapInArrow variant: row-identical to the mapInPandas twin
            # (tests/test_parse_arrow.py) and won or tied every paired A/B
            # window at 14k/56k URLs (scripts/ab_parse_arrow.py, BENCH.md)
            # by skipping the per-batch pandas<->Arrow conversions
            parsed = P.fetch_parse_articles_arrow(web, articles)
            ok = parsed.filter(F.col("parse_ok"))
            # span structs rebuilt JVM-side from the flat arrays (see
            # operators/parse.py ARTICLE_OUT_SCHEMA note)
            n_texts = F.size("span_texts")
            spans_expr = F.concat(
                F.transform(
                    "span_texts",
                    lambda t, i: F.struct(
                        F.lit("text").alias("kind"),
                        t.alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        i.cast("int").alias("offset"),
                    ),
                ),
                F.transform(
                    "contentImageUrls",
                    lambda u, i: F.struct(
                        F.lit("image").alias("kind"),
                        F.lit(None).cast("string").alias("text"),
                        u.alias("media_ref"),
                        (n_texts + i).cast("int").alias("offset"),
                    ),
                ),
            )
            ok = ok.withColumn("spans", spans_expr).drop("span_texts")
            rec = ok.join(self.slug_dim, ["host", "type_id"]).withColumn(
                "dataSource",
                F.concat_ws("/", F.slice(F.split("canonical_url", "/"), 1, 3)),
            )
            rec = clean_date_staged(rec, "pub_date_raw", "publishedDate")
            # spans ride along in the articles snapshot — documents_df() is a
            # projection, so the heavy text payload is written exactly once
            records = rec.withColumn("createdAt", F.lit(cfg.created_at)).select(
                "dataSource",
                F.col("canonical_url").alias("url"),
                "publishedDate",
                "author",
                "title",
                "imageUrl",
                "description",
                "content",
                "comments",
                "contentImageUrls",
                "article_type",
                "createdAt",
                "wave",
                "host",
                "type_id",
                "page_no",
                "link_index",
                "fetch_ts",
                "spans",
            )
            # natural partitioning: a coalesce here would propagate UP the
            # narrow chain and collapse the fetch+parse stage's parallelism
            cat.write("articles", wave, records, None)
            # lineage: parsed counts from the snapshot just written (reads
            # only the host column) joined against the scheduled counts —
            # errors = scheduled - parsed, all DataFrame-side (no per-host
            # collect: at 10^8 hosts lineage is executor data)
            parsed_counts = (
                cat.read_wave("articles", wave)
                .groupBy("host")
                .agg(F.count("*").alias("_np"))
            )
            lineage_parts.append(
                art_sched_counts.join(parsed_counts, "host", "left").select(
                    F.lit(wave).alias("wave"),
                    "host",
                    F.col("n_sched").cast("long").alias("n_fetched"),
                    F.coalesce(F.col("_np"), F.lit(0)).cast("long").alias("n_parsed"),
                    (F.col("n_sched") - F.coalesce(F.col("_np"), F.lit(0)))
                    .cast("long")
                    .alias("n_errors"),
                )
            )
        # (no empty-side writes: readers use latest_wave_of/has, and an empty
        #  local-relation parquet write measures 4-6s of pure overhead)

        # ---------- lineage ----------
        t1 = time.time()
        if lineage_parts:
            lineage = lineage_parts[0]
            for extra in lineage_parts[1:]:
                lineage = lineage.unionByName(extra)
            lineage = (
                lineage.groupBy("wave", "host")
                .agg(
                    F.sum("n_fetched").alias("n_fetched"),
                    F.sum("n_parsed").alias("n_parsed"),
                    F.sum("n_errors").alias("n_errors"),
                )
                .withColumn("n_bloom_fp", F.lit(n_bloom_fp).cast("long"))
                .withColumn("t_start", F.lit(t0))
                .withColumn("t_end", F.lit(t1))
            )
            cat.write("lineage", wave, lineage, parts)

        # per-host virtual clock: a catalog state table (crash-safe with the
        # wave commit; resume reads it back) — written concurrently above,
        # joined here so the commit covers it
        for th in bg_threads:
            th.join()
        if bg_errs:
            raise bg_errs[0]
        if deferred is not None:
            deferred.unpersist()
        if budget_take is not None:
            budget_take.unpersist()
        cat.commit_wave(
            wave,
            {
                "n_fetched": totals["listing"] + totals["article"],
                "n_new_urls": n_new,
                "n_next": n_next,
                "n_bloom_fp": n_bloom_fp,
                "wall_s": time.time() - t0,
            },
        )
        for df in (scheduled,):
            try:
                df.unpersist()
            except Exception:
                pass
        if has_listings:
            parsed_listings.unpersist()
            new_rows.unpersist()
        next_totals = {"listing": n_listing_next, "article": n_new + n_deferred}
        return cat.read_wave("clock", wave), n_next, next_totals

    # ------------------------------------------------------------------
    # Re-crawl / on-demand surface (reference: daily cron re-run
    # cronjobs/cron_job.py:5-21; POST /crawl app/crawl_request.py:21-69)
    # ------------------------------------------------------------------

    def evict_seen(self, urls: list[str]) -> int:
        """Evict URLs from the seen set so a later run re-crawls them.

        A bloom can't delete, so eviction is a seen-set compaction commit:
        all seen snapshots are consolidated minus the evicted rows, and the
        bloom is rebuilt from the survivors (the CuckooFilter in
        operators/seen.py is the per-bucket primitive for doing this
        incrementally at scale; at sandbox scale the rebuild is cheap).
        Returns the number of evicted rows.
        """
        import shutil

        from ..functions.urlnorm import canonicalize_py

        cat = self.cat
        last = cat.last_wave()
        # upto last+1: injected (tagged) seen deltas for the next wave must
        # survive the compaction — the rmtree below removes their dirs, so
        # their rows have to ride along into the compacted snapshot
        seen = cat.read_upto("seen", last + 1)
        if seen is None:
            return 0
        ev = self.spark.createDataFrame(
            [(canonicalize_py(u),) for u in urls], "canonical_url string"
        )
        # cuckoo deletion is only safe for items actually inserted: deleting
        # a never-inserted URL whose fingerprint collides with a resident
        # entry evicts that entry — a false negative that routes its URL
        # around the exact anti-join.  Restrict the delete set to rows that
        # exist in seen, materialized BEFORE the seen dirs are compacted away.
        ev_present = (
            seen.join(F.broadcast(ev), "canonical_url", "left_semi")
            .select("canonical_hash")
            .distinct()
            .localCheckpoint()
        )
        kept = seen.join(F.broadcast(ev), "canonical_url", "left_anti").cache()
        n_before = seen.count()
        n_kept = kept.count()
        tmpdir = cat._dir("seen") + ".compact"
        kept.coalesce(self.cfg.write_parts or 8).write.mode("overwrite").parquet(tmpdir)
        shutil.rmtree(cat._dir("seen"))
        import os as _os

        _os.makedirs(cat._dir("seen"))
        _os.rename(tmpdir, cat._dir("seen", last))
        kept.unpersist()
        # the new filter state is written TAGGED at last+1: a plain write
        # at ``last`` would be shadowed by any pre-existing inject tag at
        # last+1 (read_latest_state prefers the higher slot), resurrecting
        # the evicted entries
        if self.cfg.seen_filter == "cuckoo":
            # the whole point of the cuckoo fallback: targeted deletes,
            # no full-filter rebuild
            tbl = cat.read_latest_state("bloom", last + 1).localCheckpoint()
            cat.write_tagged(
                "bloom", last + 1, self.bloom_state.delete(tbl, ev_present),
                self.cfg.write_parts,
            )
        else:
            # bloom can't delete: rebuild from the compacted seen set
            merged = self.bloom_state.update(
                None, cat.read_wave("seen", last).select("canonical_hash"),
                self.spark,
            )
            cat.write_tagged("bloom", last + 1, merged, self.cfg.write_parts)
        return n_before - n_kept

    def crawl_url_list(self, urls: list[str], skip_seen: bool = True) -> int:
        """task:"url" mode (base_crawler.py:30-37): crawl a raw URL list.

        Injects the seeds as article requests in list order and resumes; the
        per-URL link_index preserves the file line order in the crawl key.
        """
        from ..sources.seeds import seeds_to_requests

        seeds = self.spark.createDataFrame(
            list(enumerate(urls)), "seed_order int, url string"
        )
        n = self.inject_requests(seeds_to_requests(seeds), skip_seen=skip_seen)
        if n > 0:
            self.run(resume=self.cat.last_wave() >= 0)  # fresh catalog: run()
            # picks up the injected wave-0 frontier instead of seeding
        return n

    def inject_requests(self, rows: DataFrame, skip_seen: bool = True) -> int:
        """Append on-demand crawl requests to the next frontier wave.

        ``rows`` is frontier-shaped request output
        (streaming/requests.requests_to_frontier_rows: host, kind, type_id,
        page_no, link_index, url).  Article rows are canonicalized and — by
        default — deduped against the seen set.  Call ``run(resume=True)``
        afterwards to process.  Returns the number of injected rows.
        """
        cat = self.cat
        wave = cat.last_wave() + 1
        f = (
            rows.withColumn("canonical_url", canonicalize_col(F.col("url")))
            .withColumn("canonical_hash", canonical_hash_col(F.col("canonical_url")))
            .withColumn("wave", F.lit(wave))
            .withColumn("depth", F.lit(wave))
            .withColumn("priority", F.lit(1.0))
        )
        arts = f.filter(F.col("kind") == "article")
        # within-batch keep-first by the crawl key (two micro-batches or one
        # batch carrying the same URL twice must inject it once)
        key = F.struct("type_id", "page_no", "link_index", "host", "url", "kind")
        arts = (
            arts.groupBy("canonical_hash", "canonical_url")
            .agg(F.min(key).alias("k"), F.first("wave").alias("wave"),
                 F.first("depth").alias("depth"), F.first("priority").alias("priority"))
            .select(
                "wave", F.col("k.host").alias("host"), F.col("k.kind").alias("kind"),
                F.col("k.type_id").alias("type_id"), F.col("k.page_no").alias("page_no"),
                F.col("k.link_index").alias("link_index"), F.col("k.url").alias("url"),
                "canonical_url", "canonical_hash", "depth", "priority",
            )
        )
        if skip_seen:
            # upto ``wave`` (not wave-1): a prior inject at this same slot
            # already wrote its tagged seen delta — include it in the anti-join
            seen = cat.read_upto("seen", wave)
            if seen is not None:
                arts = arts.join(
                    seen.select("canonical_hash").distinct(), "canonical_hash", "left_anti"
                )
        cols = [fld.name for fld in SCH.FRONTIER.fields]
        f = f.filter(F.col("kind") == "listing").select(*cols).unionByName(
            arts.select(*cols)
        ).cache()
        n = f.count()
        if n > 0:
            # tagged appends: never overwrite the slot's other dirs, and
            # crash recovery keeps tags while dropping plain in-wave debris
            cat.write_tagged("frontier", wave, f, self.cfg.write_parts)
            # injected article urls enter seen (and the bloom — a seen entry
            # missing from the bloom would be a bloom false negative, letting
            # a later duplicate skip the exact anti-join) immediately
            new_seen = f.filter(F.col("kind") == "article").select(
                "canonical_hash", "canonical_url", F.lit(wave).alias("wave")
            ).localCheckpoint()
            if not new_seen.isEmpty():
                cat.write_tagged("seen", wave, new_seen, self.cfg.write_parts)
                base = cat.read_latest_state("bloom", wave)
                if base is not None:
                    base = base.localCheckpoint()
                merged = self.bloom_state.update(
                    base, new_seen.select("canonical_hash"), self.spark
                )
                cat.write_tagged("bloom", wave, merged, self.cfg.write_parts)
        f.unpersist()
        return n

    # ------------------------------------------------------------------
    # Final outputs
    # ------------------------------------------------------------------

    def articles_df(self) -> DataFrame:
        """All article records with the materialized crawl_order rank.

        Distributed global rank — no single-task window: range-partition by
        the crawl key, rank within each (sorted) partition in one Arrow pass,
        then add per-partition offsets from a tiny counts aggregate.  The only
        driver-side state is #partitions rows.
        """
        key = ["wave", "host", "type_id", "page_no", "link_index"]
        df = self.cat.read_upto("articles", self.cat.last_wave()).drop("spans")
        n_parts = max(self.spark.sparkContext.defaultParallelism, 1)
        ranged = (
            df.repartitionByRange(n_parts, *[F.col(k) for k in key])
            .sortWithinPartitions(*key)
            .withColumn("_pid", F.spark_partition_id())
        )
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            list(ranged.schema.fields) + [StructField("_lrk", LongType())]
        )

        def add_local_rank(batches):
            i = 0
            for pdf in batches:
                pdf = pdf.copy()
                pdf["_lrk"] = range(i, i + len(pdf))
                i += len(pdf)
                yield pdf

        # persisted: the offsets aggregate and the final projection must see
        # the SAME materialized partitioning — re-executing the range shuffle
        # can sample different bounds and misalign _pid between the two passes
        # (observed as duplicate crawl_order values)
        ranked = ranged.mapInPandas(add_local_rank, out_schema).persist()
        counts = ranked.groupBy("_pid").agg(F.count("*").alias("n")).collect()
        counts.sort(key=lambda r: r["_pid"])
        offsets, run = [], 0
        for r in counts:
            offsets.append((r["_pid"], run))
            run += r["n"]
        off_df = self.spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
        return (
            ranked.join(F.broadcast(off_df), "_pid")
            .withColumn("crawl_order", (F.col("_off") + F.col("_lrk")).cast("int"))
            .drop("_pid", "_lrk", "_off")
        )

    def documents_df(self) -> DataFrame:
        """Span documents (input_hint shape) — a pruned projection of the
        articles snapshots (parquet column pruning reads only doc_id+spans)."""
        df = self.cat.read_upto("articles", self.cat.last_wave())
        return df.select(F.col("url").alias("doc_id"), "spans")

    def remove_duplicate_articles(self, keys: list[str] | None = None,
                                  keep: str = "first") -> int:
        """Storage-level keep-first/keep-last delete against the articles table.

        The reference's remove_record_duplicate.py:25-57 groups records by a
        key, keeps the first inserted, and DELETEs the rest in place.  Here
        "first" is crawl order — min (wave, host, type_id, page_no,
        link_index) per key group (``keep="last"`` keeps the most recent
        crawl instead — replace semantics after a re-crawl) — and the delete
        is a snapshot rewrite: each wave dir is re-written minus its deleted
        rows (the parquet stand-in for an Iceberg MERGE/DELETE; same call
        site would issue ``DELETE FROM articles WHERE ...`` on a real
        catalog).

        Returns the number of deleted rows.
        """
        keys = keys or ["url"]
        cat = self.cat
        last = cat.last_wave()
        df = cat.read_upto("articles", last)
        if df is None:
            return 0
        order = F.struct("wave", "host", "type_id", "page_no", "link_index")
        w = Window.partitionBy(*keys).orderBy(
            order.asc() if keep == "first" else order.desc()
        )
        marked = df.withColumn("_rn", F.row_number().over(w))
        dupes = marked.filter(F.col("_rn") > 1).select(
            "wave", "host", "type_id", "page_no", "link_index"
        ).localCheckpoint()  # materialize before dirs are rewritten
        n_del = dupes.count()
        if n_del == 0:
            return 0
        waves_hit = [r["wave"] for r in dupes.select("wave").distinct().collect()]
        for wv in sorted(waves_hit):
            snap = cat.read_wave("articles", wv).localCheckpoint()
            kept = snap.join(
                dupes, ["wave", "host", "type_id", "page_no", "link_index"],
                "left_anti",
            )
            cat.write("articles", wv, kept)
        return n_del

    def images_df(self) -> DataFrame:
        """Images metadata table — the reference's per-article image docs
        {image_url, local_path, file_size, createdAt} (vnexpress.py:162-167,
        utils/mongodb_utils.py:47-52), derived as a projection of the
        articles snapshots (content images exploded in document order).

        n_bytes is a deterministic synthetic size: the byte transfer itself
        is stubbed (S7 partial — no network in the sandbox), exactly like the
        media_ref spans; everything queryable about the record is real.
        """
        from ..functions.paths import image_local_path

        df = self.cat.read_upto("articles", self.cat.last_wave())
        img = df.select(
            F.col("url").alias("article_url"),
            "host",
            "article_type",
            "publishedDate",
            "createdAt",
            F.posexplode("contentImageUrls").alias("img_index", "image_url"),
        )
        return img.select(
            "article_url",
            "host",
            "img_index",
            "image_url",
            image_local_path(
                F.lit("/mnt/data/news"), F.col("host"), F.col("article_type"),
                F.col("publishedDate"), F.col("image_url"),
            ).alias("local_path"),
            (F.pmod(F.xxhash64("image_url"), F.lit(480_000)) + 20_000).alias("n_bytes"),
            "createdAt",
        )

    def seen_df(self) -> DataFrame:
        return self.cat.read_upto("seen", self.cat.last_wave())

    def lineage_df(self) -> DataFrame:
        return self.cat.read_upto("lineage", self.cat.last_wave())

    def schedule_df(self) -> DataFrame:
        """Per-fetch politeness timestamps of article fetches."""
        df = self.cat.read_upto("articles", self.cat.last_wave())
        return df.select("host", "wave", "type_id", "page_no", "link_index", "fetch_ts")
