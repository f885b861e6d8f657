"""Driver-contract query registry: named queries + their DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 (plus the training-data
pipeline family) is exposed as a ``(spark, sf_dir) -> DataFrame`` callable
with — where ANSI-SQL can express it — an exact DuckDB twin.  Column names
and integerized numerics are kept identical on both sides so the driver's
order-insensitive value-hash comparison is byte-stable.

Float policy: nothing floating-point crosses the comparison boundary —
similarities/scores/money are integerized per row (micro-units / cents)
BEFORE any aggregation, making sums order-independent and engine-exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as TX
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators import similarity as SIM

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational / reference-derived queries
# ---------------------------------------------------------------------------


def q_keepfirst_dedup(spark, sf_dir):
    """A2 keep-first (remove_record_duplicate.py): first doc per (source,lang)."""
    docs = load(spark, sf_dir, "documents")
    return DD.keep_first_dedup(docs, ["source", "lang"], "doc_id").select(
        "doc_id", "source", "lang", "n_chars"
    )


SQL_KEEPFIRST = """
    SELECT doc_id, source, lang, n_chars FROM (
      SELECT doc_id, source, lang, n_chars,
             row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
"""


def q_dup_groups(spark, sf_dir):
    """A1 duplicate-group find (filter_duplicate_record.py:25-62)."""
    docs = load(spark, sf_dir, "documents")
    return DD.duplicate_groups(docs, ["source", "lang"], "doc_id").select(
        "source", "lang", "dup_id"
    )


SQL_DUP_GROUPS = """
    WITH g AS (
      SELECT source, lang, list_sort(list(doc_id)) AS ids, count(*) AS cnt
      FROM documents GROUP BY source, lang HAVING count(*) > 1
    )
    SELECT source, lang, unnest(ids[2:]) AS dup_id FROM g
"""


def q_exact_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return DD.exact_dedup(docs).select("content_hash", "doc_id", "n_copies")


SQL_EXACT_DEDUP = """
    SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
"""


def q_date_range(spark, sf_dir):
    """S9 date-range read — replicates the reference's *string*-compare trap
    (mongodb_utils.py:99-106 compares zero-padded date strings)."""
    ev = load(spark, sf_dir, "events")
    s = F.date_format("ts", "dd/MM/yyyy, HH:mm")
    return (
        ev.withColumn("ts_str", s)
        .filter(
            (F.col("ts_str") >= "05/01/2024, 00:00")
            & (F.col("ts_str") <= "20/01/2024, 23:59")
        )
        .select("event_id", "ts_str", "event_type")
    )


SQL_DATE_RANGE = """
    SELECT event_id, strftime(ts, '%d/%m/%Y, %H:%M') AS ts_str, event_type
    FROM events
    WHERE strftime(ts, '%d/%m/%Y, %H:%M') >= '05/01/2024, 00:00'
      AND strftime(ts, '%d/%m/%Y, %H:%M') <= '20/01/2024, 23:59'
"""


def q_date_range_typed(spark, sf_dir):
    """S9 date-range read, the scale-correct form: a typed timestamp
    predicate that reaches the parquet scan as a pushed filter (the
    string-compare variant above replicates the reference's trap and
    deliberately defeats pushdown — both forms are part of the surface)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-21 00:00:00").cast("timestamp"))
        )
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "event_type",
        )
    )


SQL_DATE_RANGE_TYPED = """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, event_type
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts < TIMESTAMP '2024-01-21 00:00:00'
"""


def q_group_count(spark, sf_dir):
    """A4/R4 grouping with integerized money math."""
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum(cents).alias("value_cents")
    )


SQL_GROUP_COUNT = """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
"""


def q_category_filter(spark, sf_dir):
    """S9 point read: articles by category (get_articles_by_category)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("lang") == "en").select("doc_id", "source", "n_chars")


SQL_CATEGORY_FILTER = "SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'"


def q_md5_prefix(spark, sf_dir):
    """X6 UI-change hash: md5 of the first 100 chars (ui_checker.py:31-32)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.md5_prefix_hash(F.col("text"), 100).alias("ui_hash"))


SQL_MD5_PREFIX = "SELECT doc_id, md5(substr(text, 1, 100)) AS ui_hash FROM documents"


def q_datasource_extract(spark, sf_dir):
    """R1 dataSource derivation ('/'.join(url.split('/')[:3]), vnexpress.py:235)."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.vn/bai/"),
                   F.col("doc_id").cast("string"))
    return docs.select("doc_id", TX.datasource_of(url).alias("dataSource"))


SQL_DATASOURCE = """
    SELECT doc_id,
           concat('https://', source, '.example.vn') AS dataSource
    FROM documents
"""


def q_image_path(spark, sf_dir):
    """X8/S7 deterministic image storage path + R3 category sanitize."""
    from .functions.paths import image_local_path

    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://img.ex/"), F.col("source"), F.lit("/pic-"),
        F.col("doc_id").cast("string"), F.lit(".jpg?w=640"),
    )
    cat = F.concat(F.col("lang"), F.lit("/sub"))
    d = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    m = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    date = F.concat(d, F.lit("/"), m, F.lit("/2024, 06:49 (GMT+7)"))
    return docs.select(
        "doc_id",
        image_local_path(
            F.lit("/mnt/data/news"), F.col("source"), cat, date, url
        ).alias("local_path"),
    )


SQL_IMAGE_PATH = r"""
    SELECT doc_id,
           concat_ws('/', '/mnt/data/news', source,
                     regexp_replace(concat(lang, '/sub'), '/', '-', 'g'),
                     concat_ws('-',
                       lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'),
                       lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0'),
                       '2024'),
                     concat('pic-', CAST(doc_id AS VARCHAR), '.jpg')) AS local_path
    FROM documents
"""


def q_images_metadata(spark, sf_dir):
    """Images metadata docs (vnexpress.py:162-167 shape: image_url,
    local_path, file size, createdAt) — one row per derived image."""
    from .functions.paths import image_local_path

    docs = load(spark, sf_dir, "documents")
    n = F.pmod(F.col("doc_id"), F.lit(4)).cast("int")
    d = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    m = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    date = F.concat(d, F.lit("/"), m, F.lit("/2024, 06:49 (GMT+7)"))
    img = docs.select(
        "doc_id", "source", "lang", date.alias("_date"),
        F.explode(
            F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("img_index"),
    )
    url = F.concat(
        F.lit("https://img.ex/"), F.col("source"), F.lit("/pic-"),
        F.col("doc_id").cast("string"), F.lit("-"),
        F.col("img_index").cast("string"), F.lit(".jpg?w=640"),
    )
    nb = (F.col("doc_id") * 7919 + F.col("img_index") * 104729) % 480000 + 20000
    return img.select(
        "doc_id",
        "img_index",
        url.alias("image_url"),
        image_local_path(
            F.lit("/mnt/data/news"), F.col("source"),
            F.concat(F.col("lang"), F.lit("/sub")), F.col("_date"), url,
        ).alias("local_path"),
        nb.cast("long").alias("n_bytes"),
        F.lit("2026-01-01T00:00:00+00:00").alias("createdAt"),
    )


SQL_IMAGES_METADATA = """
    WITH im AS (
      SELECT doc_id, source, lang, CAST(i AS INT) AS img_index
      FROM documents, unnest(generate_series(0, CAST(doc_id % 4 AS INT) - 1)) t(i)
    )
    SELECT doc_id, img_index,
           concat('https://img.ex/', source, '/pic-', CAST(doc_id AS VARCHAR),
                  '-', CAST(img_index AS VARCHAR), '.jpg?w=640') AS image_url,
           concat_ws('/', '/mnt/data/news', source,
                     regexp_replace(concat(lang, '/sub'), '/', '-', 'g'),
                     concat_ws('-',
                       lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'),
                       lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0'),
                       '2024'),
                     concat('pic-', CAST(doc_id AS VARCHAR), '-',
                            CAST(img_index AS VARCHAR), '.jpg')) AS local_path,
           CAST((doc_id * 7919 + img_index * 104729) % 480000 + 20000 AS BIGINT) AS n_bytes,
           '2026-01-01T00:00:00+00:00' AS createdAt
    FROM im
"""


def q_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer by price (window row_number pattern)."""
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("price_cents"), F.asc("o_orderkey"))
    return (
        o.withColumn("price_cents", cents)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "price_cents", "rank")
    )


SQL_TOPK_PER_GROUP = """
    SELECT o_custkey, o_orderkey, price_cents, CAST(rank AS INT) AS rank FROM (
      SELECT o_custkey, o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                                         o_orderkey) AS rank
      FROM orders) WHERE rank <= 3
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregate, per-row integerized so sums are exact."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    qty = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    price = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty_c"),
            F.sum(price).alias("sum_price_c"),
            F.sum(disc).alias("sum_disc_price_c"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_PRICING = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_price_c,
           count(*) AS n_rows
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + running sum)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.withColumn("brk", brk)
        .withColumn("session_id", F.sum("brk").over(run))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )


SQL_SESSIONIZE = """
    WITH o AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM o
    ), s AS (
      SELECT user_id,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM m
    )
    SELECT user_id, session_id, count(*) AS n_events
    FROM s GROUP BY user_id, session_id
"""


def q_windowed_counts(spark, sf_dir):
    """Tumbling 1-hour event windows (batch twin of the streaming agg)."""
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum(cents).alias("value_cents"))
        .withColumn("hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss"))
    )


SQL_WINDOWED = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
"""


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus) — grouping-set aggregation."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("price_c"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "price_c",
        )
    )


SQL_ROLLUP = """
    SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
           coalesce(l_linestatus, 'ALL') AS l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_c
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_pivot_events(spark, sf_dir):
    """Pivot-style: one column per event_type (CASE-aggregation form so the
    oracle is plain ANSI SQL on both engines)."""
    ev = load(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in types
    ]
    return ev.groupBy("user_id").agg(*aggs)


SQL_PIVOT = """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
    FROM events GROUP BY user_id
"""


def q_top_revenue_nations(spark, sf_dir):
    """TPC-H Q5-shaped multi-join: revenue per nation — the dims (customer
    -> nation -> region) broadcast; only the fact table shuffles for the
    final aggregate."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        o.withColumn("price_cents", cents)
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"), F.sum("price_cents").alias("revenue_c"))
    )


SQL_TOP_REVENUE_NATIONS = """
    SELECT r.r_name, n.n_name, count(*) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
"""


def shipping_priority_top(spark, sf_dir):
    """The distributed part of q_shipping_priority: filtered 3-way join ->
    hash aggregate -> orderBy+limit(10), which Spark plans as
    TakeOrderedAndProject (bounded per-partition heaps; 10 rows per
    partition reach the driver).  Exposed separately so the plan audit can
    inspect it — the registry query wraps it with driver-side rank
    stamping over the k=10 collected rows."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c.select("c_custkey")), o["o_custkey"] == c["c_custkey"])
    )
    agg = (
        joined.groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(cents).alias("revenue_c"))
    )
    # orderBy + limit plans TakeOrderedAndProject: per-partition bounded
    # heaps, merge of 10-row heads — linear scan, no global sort/shuffle.
    return agg.orderBy(F.desc("revenue_c"), F.asc("l_orderkey")).limit(10)


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped: top-10 unshipped orders by revenue — the global
    top-10 is a distributed partial top-k (TakeOrderedAndProject, see
    :func:`shipping_priority_top`), never a single-task global window.
    Rank is stamped on the k=10 collected rows driver-side (O(k) work, no
    WindowExec anywhere in the plan)."""
    from pyspark.sql import types as T

    top = shipping_priority_top(spark, sf_dir)
    rows = top.collect()  # exactly k=10 rows by construction
    schema = T.StructType(
        list(top.schema.fields) + [T.StructField("rank", T.IntegerType(), False)]
    )
    ranked = [tuple(r) + (i + 1,) for i, r in enumerate(rows)]
    return spark.createDataFrame(ranked, schema)


SQL_SHIPPING_PRIORITY = """
    WITH agg AS (
      SELECT l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
             o.o_orderpriority,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS revenue_c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY 1, 2, 3
    )
    SELECT l_orderkey, o_orderdate, o_orderpriority, revenue_c,
           CAST(row_number() OVER (ORDER BY revenue_c DESC, l_orderkey) AS INT) AS rank
    FROM agg
    ORDER BY revenue_c DESC, l_orderkey LIMIT 10
"""


def q_length_percentiles(spark, sf_dir):
    """Exact rank-selected percentiles of document length per language —
    deterministic (no interpolation): the p-th percentile is the value at
    1-based rank ceil(p * n) in ascending order, identical in any engine.

    Scale shape: NO per-language sort of the raw rows (that plan caps
    parallelism at #langs and sorts billions of rows in one task at 100x).
    Instead: (1) a map-side-combined histogram groupBy(lang, n_chars) —
    its cardinality is bounded by the value DOMAIN (distinct doc lengths),
    not the row count; (2) a running-count window over the tiny histogram;
    (3) the percentile is the smallest value whose cumulative count reaches
    ceil(p*n).  The doc_id tie-break in the rank definition is value-
    irrelevant: rank ceil(p*n) under (n_chars, doc_id) ordering lands on
    the same n_chars as under n_chars-only ordering."""
    docs = load(spark, sf_dir, "documents")
    hist = (
        docs.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    )
    # running count per lang over the histogram: the window input is
    # O(distinct n_chars) rows per lang — constant w.r.t. dataset scale.
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("lang")
            .orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    totals = hist.groupBy("lang").agg(F.sum("cnt").alias("n_docs"))
    picks = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
    targets = totals.select(
        "lang",
        "n_docs",
        *[F.ceil(F.col("n_docs") * frac).alias(f"r_{name}") for name, frac in picks],
    )
    joined = cum.join(F.broadcast(targets), "lang")
    aggs = [
        F.min(
            F.when(F.col("cum") >= F.col(f"r_{name}"), F.col("n_chars"))
        ).alias(name)
        for name, _ in picks
    ]
    return joined.groupBy("lang").agg(F.max("n_docs").alias("n_docs"), *aggs)


SQL_LENGTH_PERCENTILES = """
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
           max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50,
           max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_chars END) AS p90,
           max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN n_chars END) AS p99
    FROM ranked GROUP BY lang
"""


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14-shaped: promo revenue share per month — part dim
    broadcasts into the lineitem scan; the share ratio is computed in
    exact integer arithmetic (micro-units), no float division."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    agg = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(0)).alias(
                "promo_c"
            ),
            F.sum(cents).alias("total_c"),
        )
    )
    # integer division (div), NOT the (x - pmod)/y double trick: the
    # micro-unit numerator can exceed 2^53, where double division stops
    # being exact
    share = F.expr("(promo_c * 1000000L) div total_c")
    return agg.select("ship_month", "promo_c", "total_c", share.alias("promo_share_u"))


SQL_PROMO_REVENUE = """
    WITH agg AS (
      SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
             CAST(sum(CASE WHEN p.p_type = 'PROMO'
                           THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS promo_c,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_c
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    )
    SELECT ship_month, promo_c, total_c,
           CAST((promo_c * 1000000) // total_c AS BIGINT) AS promo_share_u
    FROM agg
"""


def q_supplier_geography(spark, sf_dir):
    """Supplier counts + account balance by region/nation (two broadcast
    dims; exercises the supplier table end-to-end)."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    bal_c = F.floor(F.col("s_acctbal") * 100 + F.lit(0.5)).cast("long")
    return (
        s.withColumn("bal_c", bal_c)
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_suppliers"), F.sum("bal_c").alias("acctbal_c"))
    )


SQL_SUPPLIER_GEOGRAPHY = """
    SELECT r.r_name, n.n_name, count(*) AS n_suppliers,
           CAST(sum(CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS acctbal_c
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
"""


def q_order_priority_count(spark, sf_dir):
    """TPC-H Q4-shaped existence semi-join: orders with at least one
    returned lineitem, counted per order priority."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li.select("l_orderkey").distinct(),
               o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


SQL_ORDER_PRIORITY = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Deterministic sampling / packing family (training-data pipeline staples)
# ---------------------------------------------------------------------------

# engine-portable 40-bit document hash: the first 10 hex digits of
# md5(doc_id-as-string) — identical in Spark (conv) and DuckDB (0x-cast),
# the same recipe the MinHash/LSH oracles use
_DOC_HASH_SPARK = (
    "cast(conv(substr(md5(cast(doc_id as string)), 1, 10), 16, 10) as bigint)"
)
_DOC_HASH_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"
)


def q_hash_sample(spark, sf_dir):
    """Deterministic Bernoulli sample: keep a document iff its 40-bit md5
    bucket (mod 1e6) falls under the rate threshold.  Reproducible across
    runs/engines/cluster sizes (no RNG state), embarrassingly parallel —
    a pure codegen filter that reaches the scan, the correct 100 TB shape
    for corpus subsampling."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.expr(f"pmod({_DOC_HASH_SPARK}, 1000000)")
    return (
        docs.withColumn("bucket_u", bucket)
        .filter(F.col("bucket_u") < 100000)  # 10% rate
        .select("doc_id", "source", "lang", "bucket_u")
    )


SQL_HASH_SAMPLE = f"""
    SELECT doc_id, source, lang,
           {_DOC_HASH_SQL} % 1000000 AS bucket_u
    FROM documents
    WHERE {_DOC_HASH_SQL} % 1000000 < 100000
"""


def q_stratified_sample(spark, sf_dir):
    """Stratified (per-source) deterministic sample — domain mixing for a
    training corpus: each source gets its own keep-rate from a broadcast
    rate dimension (here derived from md5(source): 5%-25%), and a document
    survives iff its hash bucket falls under its source's rate.  One
    broadcast hash join + a codegen filter; the rate dim is
    O(#sources) — scales to any corpus."""
    docs = load(spark, sf_dir, "documents")
    rate = F.expr(
        "50000 + pmod(cast(conv(substr(md5(source), 1, 10), 16, 10) as bigint),"
        " 200000)"
    )
    rates = docs.select("source").distinct().withColumn("rate_u", rate)
    bucket = F.expr(f"pmod({_DOC_HASH_SPARK}, 1000000)")
    return (
        docs.withColumn("bucket_u", bucket)
        .join(F.broadcast(rates), "source")
        .filter(F.col("bucket_u") < F.col("rate_u"))
        .select("doc_id", "source", "bucket_u", "rate_u")
    )


SQL_STRATIFIED_SAMPLE = f"""
    WITH rates AS (
      SELECT source,
             50000 + CAST(concat('0x', substr(md5(source), 1, 10)) AS BIGINT)
                     % 200000 AS rate_u
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT d.doc_id, d.source,
           {_DOC_HASH_SQL} % 1000000 AS bucket_u, r.rate_u
    FROM documents d JOIN rates r USING (source)
    WHERE {_DOC_HASH_SQL} % 1000000 < r.rate_u
"""


def q_pack_sequences(spark, sf_dir):
    """Deterministic sequence packing: assign documents to fixed-token-
    budget bins (context windows) for training.  Documents are sharded by
    hash with the shard COUNT derived from the corpus size (~1000 docs per
    shard, via a broadcast 1-row count — no driver action), then packed
    greedily in hash order within each shard: bin = preceding-cumulative-
    tokens div budget.

    Scale shape: the only window partitions by shard, and shards grow WITH
    the data while each shard's row count stays ~constant — per-partition
    work is bounded at any corpus size (the length_percentiles lesson
    applied at design time, not as a retrofit)."""
    budget = 2048
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("_n"))
    tok = F.size(F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0)))
    h = F.expr(_DOC_HASH_SPARK)
    sharded = (
        docs.select("doc_id", tok.alias("tok"), h.alias("h_u"))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "shard",
            F.pmod(F.col("h_u"), F.greatest(F.lit(1), F.expr("_n div 1000"))).cast("int"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h_u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sharded.withColumn("cum", F.sum("tok").over(w))
        .select(
            "doc_id", "shard", "tok",
            F.expr(f"(cum - tok) div {budget}").cast("long").alias("bin_id"),
        )
    )


SQL_PACK_SEQUENCES = rf"""
    WITH base AS (
      SELECT doc_id,
             len(regexp_extract_all(trim(text), '\S+')) AS tok,
             {_DOC_HASH_SQL} AS h_u
      FROM documents
    ), sharded AS (
      SELECT doc_id, tok, h_u,
             CAST(h_u % greatest(1, (SELECT count(*) FROM documents) // 1000)
                  AS INT) AS shard
      FROM base
    )
    SELECT doc_id, shard, CAST(tok AS BIGINT) AS tok,
           CAST((sum(tok) OVER (PARTITION BY shard ORDER BY h_u, doc_id
                                ROWS UNBOUNDED PRECEDING) - tok) // 2048
                AS BIGINT) AS bin_id
    FROM sharded
"""


# ---------------------------------------------------------------------------
# Text-analysis family
# ---------------------------------------------------------------------------


def q_token_count(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("tok_ws"),
        TX.token_count_bpe_ish(F.col("text")).alias("tok_bpe"),
    )


SQL_TOKEN_COUNT = r"""
    SELECT doc_id,
           len(regexp_extract_all(trim(text), '\S+')) AS tok_ws,
           len(regexp_extract_all(text, '[a-zA-Z]{1,4}|\d|[^\sa-zA-Z\d]')) AS tok_bpe
    FROM documents
"""


def q_lang_id(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


def q_quality_score(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality_u"))


def q_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


def q_repetition_quality(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021): duplicate-3-gram
    fraction + top-token fraction per document, fully codegen."""
    docs = load(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0)).alias("_w"),
    )
    w = F.col("_w")
    return staged.select(
        "doc_id",
        F.size(w).alias("n_words"),
        TX.dup_ngram_frac_u(F.lit(""), 3, tokens=w).alias("dup_3gram_u"),
        TX.top_word_frac_u(F.lit(""), tokens=w).alias("top_word_u"),
    )


SQL_REPETITION = r"""
    WITH arr AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS w FROM documents
    ), base AS (
      SELECT doc_id, len(w) AS nw FROM arr
    ), grams AS (
      SELECT a.doc_id,
             a.w[CAST(i AS INT)] || ' ' || a.w[CAST(i AS INT) + 1]
               || ' ' || a.w[CAST(i AS INT) + 2] AS g
      FROM arr a, unnest(generate_series(1, len(a.w) - 2)) t(i)
    ), gstat AS (
      SELECT doc_id, count(*) AS total, count(DISTINCT g) AS dist
      FROM grams GROUP BY doc_id
    ), words AS (
      SELECT a.doc_id, a.w[CAST(i AS INT)] AS word
      FROM arr a, unnest(generate_series(1, len(a.w))) t(i)
    ), wtop AS (
      SELECT doc_id, max(c) AS top FROM (
        SELECT doc_id, word, count(*) AS c FROM words GROUP BY doc_id, word
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.nw AS n_words,
           coalesce(
             CAST(floor((1.0 - CAST(g.dist AS DOUBLE) / g.total) * 1e6 + 0.5) AS BIGINT),
             0) AS dup_3gram_u,
           coalesce(
             CAST(floor(CAST(w.top AS DOUBLE) / b.nw * 1e6 + 0.5) AS BIGINT),
             0) AS top_word_u
    FROM base b
    LEFT JOIN gstat g USING (doc_id)
    LEFT JOIN wtop w USING (doc_id)
"""


SQL_FINGERPRINT_Q = f"SELECT doc_id, {TX.SQL_FINGERPRINT} AS fp FROM documents"


def _word_ngrams(docs, n: int):
    """(doc_id, gram) — DISTINCT word n-grams per document, one Arrow pass.

    r09: the codegen form (staged token array + transform/F.get/concat_ws +
    array_distinct) measured 3.8 s for 50k docs — per-gram array access and
    string building dominate; the Python loop below is the same work at
    ~4x less cost and the gram strings cross the boundary once.  Emission
    preserves array_distinct's first-occurrence order (dict.fromkeys) and
    re.ASCII \\S+ produces the identical token set to Java's default \\S."""
    import pyarrow as pa

    id_type = docs.schema["doc_id"].dataType.simpleString()

    def gen(batches):
        import re

        ws = re.compile(r"\S+", re.ASCII)
        for b in batches:
            ids = b.column(0)
            texts = b.column(1).to_pylist()
            idx, out = [], []
            for i, t in enumerate(texts):
                tk = ws.findall(t or "")
                if len(tk) < n:
                    continue
                grams = dict.fromkeys(
                    " ".join(tk[p:p + n]) for p in range(len(tk) - n + 1)
                )
                idx.extend([i] * len(grams))
                out.extend(grams)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(idx, type=pa.int32())),
                    pa.array(out, type=pa.string()),
                ],
                ["doc_id", "g"],
            )

    spread = docs.select("doc_id", "text").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInArrow(gen, f"doc_id {id_type}, g string")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/PaLM-style reports): corpus documents
    sharing word-5-grams with an eval set (here: doc_id < 10).  The eval-set
    gram table broadcasts; the corpus side streams through one hash join —
    the 100 TB shape (the benchmark is always tiny relative to the corpus).

    Scale hardening: the join key is ``xxhash64(gram)`` (8 bytes) rather
    than the raw ~30-byte gram string — the broadcast hash table keys and
    probe comparisons are fixed-width longs — with an exact-string verify
    filter after the hash match, so hash collisions cannot create pairs and
    the result is identical to the string join.
    """
    docs = load(spark, sf_dir, "documents")
    bench = (
        _word_ngrams(docs.filter(F.col("doc_id") < 10), 5)
        .withColumnRenamed("doc_id", "bench_id")
        .select("bench_id", F.xxhash64("g").alias("gh"), F.col("g").alias("g_b"))
    )
    corpus = _word_ngrams(docs.filter(F.col("doc_id") >= 10), 5).withColumn(
        "gh", F.xxhash64("g")
    )
    return (
        corpus.join(F.broadcast(bench), "gh")
        .filter(F.col("g") == F.col("g_b"))  # collision guard: exact verify
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )


def q_top_keywords(spark, sf_dir):
    """Per-document top-3 keywords: highest term frequency among words that
    are not corpus-wide boilerplate (document frequency <= 25% of docs).
    Integer-only scoring (tf desc, word asc tie-break) — no float idf, so
    the oracle is exact.  Shape: one explode + two hash aggregates + one
    join on word; the df dim is vocab-sized and AQE-broadcast when small.
    The df cap (25% of the corpus size) is derived INSIDE the plan — a
    1-row count aggregate broadcast-joined into the dfreq filter — so no
    separate ``docs.count()`` driver action scans the table twice.
    """
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("_n"))
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.trim(F.col("text"))), F.lit(r"[a-z]{3,}"), F.lit(0))
        ).alias("w"),
    )
    # r09 plan: one word-keyed exchange (hash partitioning on `w` alone
    # satisfies the (w, doc_id) aggregation and the df window), df-cap
    # filter inline, in-array top-3 per doc with the identical
    # (tf desc, w asc) tie order as the r08 row_number window — the r08
    # shape shuffled the tf table twice more (df aggregate + join-back).
    tf = words.repartition("w").groupBy("w", "doc_id").agg(
        F.count("*").alias("tf")
    )
    kept = (
        tf.withColumn("_df", F.count("*").over(Window.partitionBy("w")))
        .crossJoin(F.broadcast(n))
        .filter(F.col("_df") <= F.greatest(F.lit(1), F.expr("_n div 4")))
    )
    top3 = kept.groupBy("doc_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("tf")).alias("_nt"), "w", "tf")
                )
            ),
            1,
            3,
        ).alias("_top")
    )
    return top3.select(
        "doc_id", F.posexplode("_top").alias("_i", "_s")
    ).select(
        "doc_id",
        F.col("_s.w").alias("keyword"),
        F.col("_s.tf").alias("tf"),
        (F.col("_i") + 1).cast("int").alias("rank"),
    )


def _sql_top_keywords() -> str:
    return r"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '[a-z]{3,}')) AS w
      FROM documents
    ), tf AS (
      SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
    ), dfreq AS (
      SELECT w, count(*) AS _df FROM tf GROUP BY w
    ), kept AS (
      SELECT t.* FROM tf t JOIN dfreq d USING (w)
      WHERE d._df <= greatest(1, (SELECT count(*) FROM documents) // 4)
    ), ranked AS (
      SELECT doc_id, w, tf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, w) AS rank
      FROM kept
    )
    SELECT doc_id, w AS keyword, tf, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
"""


SQL_DECONTAMINATE = r"""
    WITH arr AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS w FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             list_aggregate(w[CAST(i AS INT):CAST(i AS INT) + 4], 'string_agg', ' ') AS g
      FROM arr, unnest(generate_series(1, len(w) - 4)) t(i)
    )
    SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
    FROM grams c JOIN grams b USING (g)
    WHERE b.doc_id < 10 AND c.doc_id >= 10
    GROUP BY c.doc_id, b.doc_id
"""


# ---------------------------------------------------------------------------
# MinHash / LSH / Jaccard family
# ---------------------------------------------------------------------------

# Shingle hash = Kirsch-Mitzenmacher over md5: u1/u2 are the first two
# 10-hex-digit (40-bit) halves of md5(shingle) mod P, sig_i = min(u1 + i*u2)
# mod P — exactly operators/dedup.py:minhash_sigs_py.
_MH_P = DD.MH_P

_SQL_SHINGLES = """
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
      FROM documents,
           unnest(generate_series(1, greatest(length(text) - 4, 1))) AS t(i)
    )
"""

_SQL_SIGS = (
    f""", hs AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 10)) AS BIGINT) % {_MH_P} AS u1,
             CAST(concat('0x', substr(md5(shingle), 11, 10)) AS BIGINT) % {_MH_P} AS u2
      FROM sh
    )
    , sigs AS MATERIALIZED (
      SELECT doc_id,
"""
    + ",\n".join(
        f"        min((u1 + {i} * u2) % {_MH_P}) AS sig{i}" for i in range(DD.N_SIGS)
    )
    + "\n      FROM hs GROUP BY doc_id\n    )\n"
)

_SQL_BANDS = """
    , bands AS (
      SELECT doc_id, 0 AS band, sig0 AS v0, sig1 AS v1 FROM sigs
      UNION ALL SELECT doc_id, 1, sig2, sig3 FROM sigs
      UNION ALL SELECT doc_id, 2, sig4, sig5 FROM sigs
      UNION ALL SELECT doc_id, 3, sig6, sig7 FROM sigs
    )
    , pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id
    )
"""


def q_minhash_signatures(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return DD.minhash_signatures(docs)


SQL_MINHASH_SIGS = (
    _SQL_SHINGLES + _SQL_SIGS
    + "SELECT doc_id, sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7 FROM sigs"
)


def q_minhash_lsh_pairs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return DD.lsh_candidate_pairs(DD.minhash_signatures(docs))


SQL_MINHASH_PAIRS = (
    _SQL_SHINGLES + _SQL_SIGS + _SQL_BANDS + "SELECT doc_a, doc_b FROM pairs"
)


def q_minhash_near_dups(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return DD.minhash_near_dups(docs, threshold_u=400_000)


SQL_MINHASH_NEAR_DUPS = (
    _SQL_SHINGLES + _SQL_SIGS + _SQL_BANDS
    + """
    , pruned AS MATERIALIZED (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b
      WHERE (CASE WHEN sa.sig0 = sb.sig0 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig1 = sb.sig1 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig2 = sb.sig2 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig3 = sb.sig3 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig4 = sb.sig4 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig5 = sb.sig5 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig6 = sb.sig6 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig7 = sb.sig7 THEN 1 ELSE 0 END) >= 3
    )
    -- exact verify on CANDIDATE docs only, pinned MATERIALIZED: inlined,
    -- DuckDB's optimizer joined sh-x-sh on the shingle alone (both sides
    -- the full corpus — measured 75+ GB of spill at 50k docs) before
    -- applying the doc-pair filter.  Restricting sh to candidate docs
    -- first is also exactly what the Spark operator does.
    , cdocs AS MATERIALIZED (
      SELECT doc_a AS doc_id FROM pruned UNION SELECT doc_b FROM pruned
    )
    , shc AS MATERIALIZED (
      SELECT s.doc_id, s.shingle FROM sh s JOIN cdocs c ON c.doc_id = s.doc_id
    )
    , sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id)
    , inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM pruned p
      JOIN shc a ON a.doc_id = p.doc_a
      JOIN shc b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_inter,
           CAST(floor(i.n_inter * 1e6 / (sa.sz + sb.sz - i.n_inter) + 0.5) AS BIGINT) AS jaccard_u
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(floor(i.n_inter * 1e6 / (sa.sz + sb.sz - i.n_inter) + 0.5) AS BIGINT) >= 400000
"""
)


def q_simhash_near_dups(spark, sf_dir):
    """vUDF SimHash with a full ANSI-SQL oracle (below)."""
    docs = load(spark, sf_dir, "documents")
    return DD.simhash_near_dups(docs, max_hamming=12)


def _sql_simhash_near_dups(max_hamming: int = 12) -> str:
    """DuckDB twin of operators/dedup.py simhash_near_dups.

    Token hash = first 16 hex of md5(token) as (hi32, lo32); per-doc 64
    signed-majority bit sums; the signed simhash and the four 16-bit band
    keys are rebuilt from the sign bits (no signed-shift pitfalls); banded
    self-join + hamming filter.  Token-less (empty) documents are unioned
    back with simhash 0 / all-zero bands, matching Spark's assignment, so
    the twin holds even on corpora with empty documents.
    """
    accs = ",\n".join(
        "    sum(CASE WHEN ({src} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS a{i}".format(
            src="lo" if i < 32 else "hi", b=i % 32, i=i
        )
        for i in range(64)
    )
    signs = ",\n".join(
        f"    CASE WHEN a{i} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS s{i}"
        for i in range(64)
    )
    sim_pos = " + ".join(f"s{i} * {1 << i}" for i in range(63))
    bands = ",\n".join(
        "    ("
        + " + ".join(f"s{16 * k + j} * {1 << j}" for j in range(16))
        + f") AS b{k}"
        for k in range(4)
    )
    # token-less (empty/whitespace) documents never reach the token CTE;
    # Spark assigns them simhash 0 with all-zero bands — union them back so
    # two empty docs band-match identically on both engines
    empty_docs = """
    , sim2 AS (
      SELECT doc_id, simhash, b0, b1, b2, b3 FROM sim
      UNION ALL
      SELECT d.doc_id, CAST(0 AS BIGINT) AS simhash,
             CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
             CAST(0 AS BIGINT) AS b2, CAST(0 AS BIGINT) AS b3
      FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM sim)
    )
"""
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS tok
      FROM documents
    ), th AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
             CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
      FROM toks
    ), acc AS (
      SELECT doc_id,
{accs}
      FROM th GROUP BY doc_id
    ), sgn AS (
      SELECT doc_id,
{signs}
      FROM acc
    ), sim AS (
      SELECT doc_id,
             (CASE WHEN s63 = 1 THEN CAST(-9223372036854775808 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END + {sim_pos}) AS simhash,
{bands}
      FROM sgn
    ){empty_docs}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sim2 a JOIN sim2 b
      ON a.doc_id < b.doc_id
     AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


SQL_SIMHASH_NEAR_DUPS = _sql_simhash_near_dups(12)


# ---------------------------------------------------------------------------
# Embedding similarity family
# ---------------------------------------------------------------------------


def q_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, n_queries=5, k=10)


def q_embedding_near_dups_exact(spark, sf_dir):
    """Brute-force near-dup pairs over the planted corpus.

    DEMOTED from the registry (r03): an O(n^2) crossJoin is the exact
    *baseline*, not a 100 TB plan — it survives here as the oracle twin the
    LSH path is recall-tested against (tests/test_dedup_similarity.py) and
    is no longer a graded headline query.  The scale path is
    ``embedding_near_dups_lsh`` (bucketed, fully oracled)."""
    emb = SIM.planted_embeddings(load(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim_u",
            F.floor(SIM.cosine_sim_col(F.col("ea"), F.col("eb")) * 1e6 + F.lit(0.5)).cast("long"),
        )
        .filter(F.col("sim_u") >= 900_000)
        .select("id_a", "id_b", "sim_u")
    )


SQL_EMB_NEAR_DUPS = (
    SIM.SQL_PLANTED_EMB
    + """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(floor(list_cosine_similarity(a.e, b.e) * 1e6 + 0.5) AS BIGINT) AS sim_u
    FROM pl a, pl b
    WHERE a.vec_id < b.vec_id
      AND CAST(floor(list_cosine_similarity(a.e, b.e) * 1e6 + 0.5) AS BIGINT) >= 900000
"""
)


def q_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (the 10^10-scale path) — integer md5-derived
    hyperplane bucketing, exact DuckDB twin + recall pytest."""
    emb = load(spark, sf_dir, "embeddings")
    return SIM.lsh_bucket_topk(emb, n_queries=5, k=10)


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (deterministic integer k-means coarse quantizer) — exact
    DuckDB twin + recall pytest."""
    emb = load(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, n_queries=5, k=10, n_clusters=16, n_probe=6)


def q_ann_recall(spark, sf_dir):
    """In-contract ANN quality: per-query recall of BOTH approximate paths
    (LSH and IVF) against the exact top-k — joins of the registry outputs,
    fully oracled."""
    emb = load(spark, sf_dir, "embeddings")
    exact = SIM.cosine_topk(emb, n_queries=5, k=10).select("query_id", "neighbor_id")
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    parts = []
    for method, approx_df in (
        ("lsh", SIM.lsh_bucket_topk(emb, n_queries=5, k=10)),
        ("ivf", SIM.ivf_topk(emb, n_queries=5, k=10, n_clusters=16, n_probe=6)),
    ):
        hits = (
            exact.join(approx_df.select("query_id", "neighbor_id"),
                       ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        parts.append(
            base.join(hits, "query_id", "left").select(
                F.lit(method).alias("method"),
                "query_id",
                F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
                "n_exact",
                F.floor(
                    F.coalesce(F.col("n_hits"), F.lit(0)) * 1_000_000
                    / F.col("n_exact")
                    + F.lit(0.5)
                ).cast("long").alias("recall_u"),
            )
        )
    return parts[0].unionByName(parts[1])


def _sql_ann_recall(n_queries: int = 5, k: int = 10) -> str:
    def block(method: str, approx_sql: str) -> str:
        return f"""
    SELECT '{method}' AS method, b.query_id, coalesce(h.n_hits, 0) AS n_hits,
           b.n_exact,
           CAST(floor(coalesce(h.n_hits, 0) * 1000000 / b.n_exact + 0.5) AS BIGINT)
             AS recall_u
    FROM base b LEFT JOIN (
      SELECT e.query_id, count(*) AS n_hits
      FROM exact e JOIN ({approx_sql}) a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    ) h ON h.query_id = b.query_id
"""

    return f"""
    WITH exact AS ({SIM.sql_cosine_topk(n_queries, k)}),
    base AS (
      SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id
    )
    {block("lsh", SIM.sql_lsh_topk(n_queries, k))}
    UNION ALL
    {block("ivf", SIM.sql_ivf_topk(n_queries, k, n_clusters=16, n_probe=6, n_iter=2))}
"""


def q_winnow_pairs(spark, sf_dir):
    """Winnowing rolling-hash fingerprint near-dup candidates (SIGMOD'03)."""
    from .operators.winnow import winnow_overlap_pairs

    docs = load(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, min_shared=20)


def _sql_winnow_pairs(min_shared: int = 20, max_df: int = 1000) -> str:
    """DuckDB twin of operators/winnow.py winnow_overlap_pairs.

    The k-gram hash is the numpy uint64 arithmetic replayed exactly in
    HUGEINT: per step, the char*power product wraps mod 2^64, the running
    sum wraps mod 2^64, then the 61-bit mask applies (mod 2^61).  Window
    minima (W=4) come from lead(); the rightmost-tie rule affects only
    which *position* is charged, never the min value, so least() suffices.
    Character model: ASCII codepoints (ord == utf-8 byte on this corpus;
    RE2 '\\s' is ASCII-only, matching Python on ASCII text).
    """
    from .operators.winnow import K, W, _B

    m61, m64 = 1 << 61, 1 << 64
    powers = [int(_B) ** (K - 1 - j) % m61 for j in range(K)]
    bcols = ["b"] + [f"b{j}" for j in range(1, K)]
    expr = "CAST(0 AS HUGEINT)"
    for j, bc in enumerate(bcols):
        expr = f"((({expr} + ({bc} * CAST({powers[j]} AS HUGEINT)) % {m64}) % {m64}) % {m61})"
    leads_b = ",\n".join(
        f"             lead(b, {j}) OVER w AS b{j}" for j in range(1, K)
    )
    leads_h = ",\n".join(
        f"             lead(h, {j}) OVER w AS h{j}" for j in range(1, W)
    )
    least_h = ", ".join(["h"] + [f"h{j}" for j in range(1, W)])
    return f"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ), chars AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             CAST(ord(substr(t, CAST(i AS INT), 1)) AS HUGEINT) AS b
      FROM norm, unnest(generate_series(1, length(t))) s(i)
      WHERE length(t) >= {K}
    ), seq AS (
      SELECT doc_id, i, b,
{leads_b}
      FROM chars WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), grams AS (
      SELECT doc_id, i, CAST({expr} AS BIGINT) AS h
      FROM seq WHERE b{K - 1} IS NOT NULL
    ), gcount AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), fp_small AS (
      SELECT g.doc_id, min(g.h) AS fp FROM grams g
      JOIN gcount c USING (doc_id) WHERE c.n < {W} GROUP BY g.doc_id
    ), fp_win AS (
      SELECT DISTINCT doc_id, least({least_h}) AS fp
      FROM (
        SELECT doc_id, h,
{leads_h}
        FROM grams WINDOW w AS (PARTITION BY doc_id ORDER BY i)
      ) WHERE h{W - 1} IS NOT NULL
    ), fps AS (
      SELECT * FROM fp_small UNION ALL SELECT * FROM fp_win
    ), dfreq AS (
      SELECT fp, count(*) AS _df FROM fps GROUP BY fp
    ), kept AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN dfreq d USING (fp)
      WHERE d._df <= {max_df}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {min_shared}
"""


def q_embedding_near_dups_lsh(spark, sf_dir):
    emb = SIM.planted_embeddings(load(spark, sf_dir, "embeddings"))
    return SIM.embedding_near_dups(emb, threshold_u=900_000)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (operators/similarity.semantic_dedup):
    deterministic integer k-means over the planted embedding corpus, then
    cluster-LOCAL pairwise cosine with keep-lowest-id — the meaning-level
    rung of the dedup ladder (exact md5 -> shingle MinHash/SimHash ->
    embedding cosine), pairwise cost bounded by cluster size n/k."""
    emb = SIM.planted_embeddings(load(spark, sf_dir, "embeddings"))
    return SIM.semantic_dedup(emb, threshold_u=900_000)


# ---------------------------------------------------------------------------
# Multimodal family
# ---------------------------------------------------------------------------


def q_media_metadata(spark, sf_dir):
    """Binary media plumbing: payload bytes + deterministic metadata."""
    docs = load(spark, sf_dir, "documents")
    meta = MM.decode_media(MM.synth_media(docs))
    return meta.select("doc_id", "media_kind", "n_bytes")


SQL_MEDIA_META = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
"""


def q_frame_sample(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return MM.frame_sample(MM.decode_media(MM.synth_media(docs)), every_n=24)


def q_media_resize(spark, sf_dir):
    """Aspect-preserving resize plan for image rows (integer-exact)."""
    docs = load(spark, sf_dir, "documents")
    return MM.resize_plan(MM.decode_media(MM.synth_media(docs)), 224, 224)


# stub metadata: width = 16 + h2 % 1920, height = 16 + h3 % 1080 from the
# 2nd/3rd 32-bit md5 chunks (operators/multimodal.py decode_media)
SQL_MEDIA_RESIZE = """
    WITH meta AS (
      SELECT doc_id,
             16 + CAST(concat('0x', substr(md5(text), 9, 8)) AS BIGINT) % 1920 AS w,
             16 + CAST(concat('0x', substr(md5(text), 17, 8)) AS BIGINT) % 1080 AS h
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(CASE WHEN w <= 224 AND h <= 224 THEN w
                     WHEN h * 224 <= 224 * w THEN 224
                     ELSE (w * 224 - ((w * 224) % h)) / h END AS INT) AS target_w,
           CAST(CASE WHEN w <= 224 AND h <= 224 THEN h
                     WHEN h * 224 <= 224 * w THEN (h * 224 - ((h * 224) % w)) / w
                     ELSE 224 END AS INT) AS target_h
    FROM meta
"""


def q_media_features(spark, sf_dir):
    """Feature-extraction plumbing: deterministic md5-derived pseudo-
    embedding per media payload (the real encoder is the stubbed kernel).
    Exploded to (doc_id, d, v) for the gate — array columns stringify
    engine-specifically (list vs numpy repr) in the hash compare."""
    docs = load(spark, sf_dir, "documents")
    feats = MM.extract_features(MM.synth_media(docs), dim=16)
    return feats.select(
        "doc_id", "media_kind", F.posexplode("feature_q").alias("d", "v")
    )


def _sql_media_features(dim: int = 16) -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT {d} AS d, CAST(concat('0x', substr(md5(md5(text) || ':{d}'), 1, 8)) "
        f"AS BIGINT) % 2001 - 1000 AS v, doc_id FROM documents"
        for d in range(dim)
    )
    return f"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_kind,
           CAST(d AS INT) AS d, v
    FROM ({rows})
"""


# n_frames = 1 + (first 32 md5 bits) % 240; payload bytes are the utf-8 text
# (synth_media), so DuckDB's string md5 sees the identical bytes
SQL_FRAME_SAMPLE = """
    WITH vid AS (
      SELECT doc_id,
             1 + CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 240
               AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx
    FROM vid, unnest(generate_series(0, n_frames - 1, 24)) t(i)
"""


# ---------------------------------------------------------------------------
# Crawl-engine flagship
# ---------------------------------------------------------------------------


def _sql_crawl_flagship() -> str:
    """The flagship crawl is sf-independent (fixed synthetic web), so its
    oracle is the INDEPENDENT pure-Python reference-semantics crawler's span
    table (oracle/pyoracle.py), exported once by
    scripts/export_flagship_oracle.py and read back verbatim here."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "dist", "crawl_flagship_oracle.parquet")
    if not os.path.exists(path):  # zip-imported package etc.
        path = "/root/repo/dist/crawl_flagship_oracle.parquet"
    return (
        'SELECT doc_id, kind, text, media_ref, "offset" AS offset '
        f"FROM read_parquet('{path}')"
    )


def q_crawl_flagship(spark, sf_dir):
    """Full wave crawl of a small synthetic web -> span documents."""
    import tempfile

    from .plans.wave import CrawlRunConfig, WaveCrawl
    from .sources import hostsim as hs

    web = hs.default_web(scale=0.5)
    root = tempfile.mkdtemp(prefix="flagship_cat_")
    wc = WaveCrawl(spark, web, root, CrawlRunConfig(batch_pages=3, bloom_buckets=4))
    wc.run()
    return wc.documents_df().select(
        "doc_id", F.posexplode("spans").alias("i", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


# ---------------------------------------------------------------------------
# Corpus-build flagship: crawl -> training corpus, end to end
# ---------------------------------------------------------------------------

# Stage thresholds, tuned on the corpus_web distributions (BENCH.md §8):
# each stage must remove a non-trivial slice without emptying the corpus.
CB_BENCH_MOD = 20  # 1/20 docs are the held-out eval set
CB_MIN_WORDS = 26  # drops the ~5% shortest bodies
CB_MIN_QUALITY_U = 280_000  # drops the ~5% lowest-quality bodies
CB_MAX_DUP3_U = 100_000  # Gopher-style repetition ceiling (10%)
CB_JACCARD_U = 400_000  # near-dup threshold (syndicated copies are ~0.85+)
CB_BOILER_DF = 3  # a line in >= 3 distinct docs is boilerplate (jusText-style)
CB_MIN_SHARED = 10  # distinct shared 5-grams = contaminated (wire copies
#                     of eval docs share >= 39; unrelated docs share 0)
CB_PACK_BUDGET = 2048  # tokens per packed context window
CB_DOCS_PER_SHARD = 100  # pack-shard granularity (per-shard work bound)


# (applicationId, WebConfig) -> (catalog tempdir, assembled per-doc bodies)
# of a finished crawl.  corpus_build and corpus_update crawl the SAME web;
# within one session the second query reuses the first's crawl (the catalog
# parquet stays on disk, so the memoized DataFrame remains valid across
# spark.catalog.clearCache()).  The tempdir is tracked with the entry and
# removed when the entry is evicted (and at interpreter exit), so repeated
# invocations in a long-lived process do not leak catalog dirs.
_CRAWL_BODY_MEMO: dict = {}

# the composed corpus_build stage dict, memoized per (application, web,
# semantic) so the three registry queries sharing the lineage (corpus_build,
# corpus_build_semantic, corpus_stage_counts) reuse ONE set of cache-slot
# generations instead of each rebuilding the pipeline and evicting the
# previous query's claims — within a session the flagship executes once and
# every later corpus query reads its cached stages.  Cleared whenever the
# crawl-body memo is evicted (the stage plans scan that crawl's parquet).
_CB_STAGES_MEMO: dict = {}


def _evict_crawl_body_memo() -> None:
    import shutil

    _CB_STAGES_MEMO.clear()
    for root, _body in _CRAWL_BODY_MEMO.values():
        shutil.rmtree(root, ignore_errors=True)
    _CRAWL_BODY_MEMO.clear()


import atexit as _atexit  # noqa: E402

_atexit.register(_evict_crawl_body_memo)


def _crawled_bodies(spark, web) -> DataFrame:
    import tempfile

    from .plans.wave import CrawlRunConfig, WaveCrawl

    key = (spark.sparkContext.applicationId, web)
    if key in _CRAWL_BODY_MEMO:
        return _CRAWL_BODY_MEMO[key][1]
    root = tempfile.mkdtemp(prefix="corpus_cat_")
    # batch_pages is pure execution batching: the crawled document SET (and
    # so every downstream corpus stage) is identical at any setting — doc_id
    # is the URL and the crawl is exhaustive (verified content-hash-equal at
    # 3/8/16/64).  64 fetches each category's whole pagination in one round:
    # warm A/B 8.5-10 s -> 7.1-7.4 s at 16 (r09), 8.0 -> 6.9 s at 64.
    wc = WaveCrawl(spark, web, root, CrawlRunConfig(batch_pages=64, bloom_buckets=4))
    wc.run()
    body = wc.documents_df().select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text"),
    )
    _evict_crawl_body_memo()  # one live crawl per process is plenty
    _CRAWL_BODY_MEMO[key] = (root, body)
    return body


CB_SEM_DIM = 64  # hashed synonym-class embedding dims (text_bow_embedding)
CB_SEM_THRESHOLD_U = 750_000  # micro-cosine: planted paraphrase pairs measure
#   >=0.81 on the fixture, max unrelated background ~0.67 — 0.75 splits them
CB_SEM_CLUSTERS = 16
CB_SEM_ITER = 2


def corpus_build_stages(spark, web=None, semantic: bool = False) -> dict[str, DataFrame]:
    """The end-to-end training-corpus pipeline, one DataFrame per stage.

    Crawl the syndicated web (hostsim.corpus_web — the reference's 34-site
    crawl surface plus wire-service republication), then:

      body          assemble per-document text from the text spans
      bench/corpus  deterministic eval-set split (md5 bucket mod 20)
      quality       Gopher-style gate: length + composite quality + dup-3gram
      boilerplate   jusText-style strip: a line in >= 3 distinct docs is
                    boilerplate and removed from EVERY document
      line-dedup    C4-style keep-first: each remaining duplicated line
                    survives only at its first (doc_id, idx) occurrence;
                    documents reassemble from surviving lines (docs losing
                    every line — byte-exact republications — drop out here)
      exact         exact dedup (keep min doc_id per md5 cleaned body)
      near-dup      MinHash+LSH near-dup removal (drop doc_b of each pair)
      decontaminate drop corpus docs sharing >=10 word-5-grams with the
                    eval set (GPT-3/PaLM-style report decontamination)
      pack          hash-sharded greedy sequence packing into 2048-token bins

    The two line-level stages run in the jusText-then-C4 order real corpus
    builds use, BETWEEN the quality gate and exact dedup: boilerplate is
    corpus-frequency evidence (needs every doc), line dedup then dedups the
    remaining content lines, and exact dedup collapses what still matches
    byte-for-byte after cleaning.

    Every intermediate is a pure DataFrame: the composed plan is one lineage
    from the crawl frontier to the packed corpus — the integration seam the
    per-stage registry queries cannot cover individually.  The DuckDB twin
    (_sql_corpus_build) replays every stage in ANSI SQL over the
    independently-exported py-oracle span table.

    Scale shape: quality/exact/pack are the proven per-stage plans; the
    near-dup stage is the bucketed LSH pipeline (nothing all-pairs); the
    decontamination gram table broadcasts (the eval set is tiny relative to
    the corpus at any scale).

    The returned dict is memoized per (application, web, semantic): the
    registry queries sharing this lineage reuse one set of cache-slot
    generations, so within a session the pipeline executes once and every
    later corpus query reads its cached stages (the ``semantic`` variant
    additionally shares the whole non-semantic prefix through corpus3).
    """
    from .sources import hostsim as hs

    web = web or hs.corpus_web()
    memo_key = (spark.sparkContext.applicationId, web, semantic)
    if memo_key in _CB_STAGES_MEMO:
        return _CB_STAGES_MEMO[memo_key]

    if semantic:
        # share the memoized non-semantic prefix (crawl -> corpus3): the two
        # variants differ only from the semantic stage on, so their claims
        # must not evict each other's generations
        base = corpus_build_stages(spark, web, semantic=False)
        from .operators import _cache

        corpus3 = base["corpus_neardup"]
        emb = SIM.text_bow_embedding(corpus3, dim=CB_SEM_DIM)
        kept = SIM.semantic_dedup(
            emb,
            threshold_u=CB_SEM_THRESHOLD_U,
            n_clusters=CB_SEM_CLUSTERS,
            n_iter=CB_SEM_ITER,
            id_col="doc_id",
            cache_tag="corpus_build.semantic",
        )
        # sever the logical plan at the semantic boundary: the kept-ids plan
        # references the embedding/assignment subtrees several times, each
        # carrying the ENTIRE nested 10-stage lineage — downstream operators
        # reference corpus3s 4-6x more (anti-join, count broadcast, window),
        # so the un-truncated tree grows exponentially and every later
        # action pays ~80 s of driver-side analysis against it (measured;
        # re-counts equally slow with all caches hot).  The surviving-id set
        # is O(corpus) SKINNY rows; localCheckpoint materializes it once and
        # replaces the tree with a leaf (the connected-components precedent —
        # on a real cluster use reliable checkpoint).  Packed action: 80 s ->
        # ~3 s in the same window.
        kept_ids = kept.select("doc_id").localCheckpoint()
        corpus3s = _cache.claim(
            "corpus_build.corpus3s", corpus3.join(kept_ids, "doc_id")
        )
        stages = dict(base)
        stages["corpus_semantic"] = corpus3s
        stages.update(_cb_tail(base["bench"], corpus3s, ".sem"))
        _CB_STAGES_MEMO[memo_key] = stages
        return stages

    body = _crawled_bodies(spark, web)
    tagged = body.withColumn("h_u", F.expr(_DOC_HASH_SPARK))
    bench = tagged.filter(F.col("h_u") % CB_BENCH_MOD == 0).select("doc_id", "text")
    corpus0 = tagged.filter(F.col("h_u") % CB_BENCH_MOD != 0).select("doc_id", "text")

    staged = corpus0.withColumn(
        "_w", F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0))
    )
    corpus1 = staged.filter(
        (F.size("_w") >= CB_MIN_WORDS)
        & (TX.quality_score(F.col("text")) >= CB_MIN_QUALITY_U)
        & (TX.dup_ngram_frac_u(F.lit(""), 3, tokens=F.col("_w")) <= CB_MAX_DUP3_U)
    ).select("doc_id", "text")
    # the quality gate's regex-heavy scan feeds both line stages and (via
    # them) everything downstream; corpus_stage_counts fans one count
    # branch per _CB_STAGE_MAP entry over this dict, so every expensive
    # subtree (this prefix, the labeled line table, corpus2/3/4) is kept in
    # a keyed cache slot (one generation per session — operators/_cache.py)
    # and each stage executes exactly once per session regardless of how
    # many downstream legs read it
    from .operators import _cache

    corpus1 = _cache.claim("corpus_build.corpus1", corpus1)

    # line-level cleaning: explode once, strip corpus-frequent lines
    # (hash agg + anti-join — no window), then keep-first dedup the rest
    # (window partitioned by the LINE: group size = that line's duplication
    # count, never corpus size), then reassemble.  Docs whose every line is
    # boilerplate or seen-before vanish at the reassembly groupBy — the
    # "drop empty documents" step free of charge.
    lines_raw = corpus1.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("idx", "line")
    )
    boiler_df = (
        lines_raw.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= CB_BOILER_DF)
        .select("line", F.lit(True).alias("_b"))
    )
    # ONE labeled line table (cached) carries both line-stage verdicts: the
    # boilerplate flag and the keep-first rank.  The rank window runs over
    # ALL lines, but partitions are per line VALUE, so boiler rows can never
    # share a partition with non-boiler rows — _rn of surviving lines is
    # identical to ranking the anti-joined survivors.  Every downstream
    # stage (and all of corpus_stage_counts' line branches) reads this one
    # cached pass instead of re-running explode+agg+window per reference.
    w_line = Window.partitionBy("line").orderBy("doc_id", "idx")
    ll = _cache.claim(
        "corpus_build.lines_labeled",
        # plain (non-broadcast) join: at web scale the boilerplate table is
        # itself large; the join and the rank window share the `line` key,
        # so the window reuses the join's hash partitioning — no 2nd shuffle
        lines_raw.join(boiler_df, "line", "left").withColumn(
            "_rn", F.row_number().over(w_line)
        ),
    )
    lines = ll.select("doc_id", "idx", "line")
    boiler_lines = ll.filter(F.col("_b")).select("line").distinct()
    lines_noboiler = ll.filter(F.col("_b").isNull()).select("doc_id", "idx", "line")
    lines_clean = (
        ll.filter(F.col("_b").isNull() & (F.col("_rn") == 1))
        .select("doc_id", "idx", "line")
    )
    corpus1c = lines_clean.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text")
    )

    corpus2 = _cache.claim(
        "corpus_build.corpus2",
        corpus1c.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
        .select("doc_id", "text"),
    )

    pairs = DD.minhash_near_dups(corpus2, threshold_u=CB_JACCARD_U)
    near_drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # cached: corpus3 feeds the decontamination gram scan AND the corpus4
    # anti-join (plus the embedding + pair-join legs in semantic mode) —
    # without the claim each leg re-runs the whole LSH chain
    corpus3 = _cache.claim(
        "corpus_build.corpus3", corpus2.join(near_drops, "doc_id", "left_anti")
    )

    stages = {
        "body": tagged,
        "bench": bench,
        "corpus_raw": corpus0,
        "corpus_quality": corpus1,
        "lines": lines,
        "boiler_lines": boiler_lines,
        "lines_noboiler": lines_noboiler,
        "lines_clean": lines_clean,
        "corpus_lineclean": corpus1c,
        "corpus_exact": corpus2,
        "near_dup_pairs": pairs,
        "corpus_neardup": corpus3,
        "corpus_semantic": corpus3,
    }
    stages.update(_cb_tail(bench, corpus3, ""))
    _CB_STAGES_MEMO[memo_key] = stages
    return stages


def _cb_tail(bench: DataFrame, corpus_in: DataFrame, tag: str) -> dict[str, DataFrame]:
    """The pipeline's decontamination + packing tail over the post-neardup
    (or post-semantic) corpus — factored out so the semantic variant rebuilds
    only this suffix on top of the shared memoized prefix.  ``tag`` suffixes
    the cache-slot names so the two variants hold generations concurrently."""
    from .operators import _cache

    # eval-set grams broadcast; join on the 8-byte xxhash64 with an exact-
    # string verify (the q_decontaminate collision guard)
    bench_grams = (
        _word_ngrams(bench, 5)
        .select("g")
        .distinct()
        .select(F.xxhash64("g").alias("gh"), F.col("g").alias("g_b"))
    )
    cgrams = _word_ngrams(corpus_in, 5).withColumn("gh", F.xxhash64("g"))
    contaminated = (
        cgrams.join(F.broadcast(bench_grams), "gh")
        .filter(F.col("g") == F.col("g_b"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CB_MIN_SHARED)
        .select("doc_id")
    )
    # cached: corpus4 is read twice by the packing stage alone (the in-plan
    # 1-row count broadcast + the sharded scan), plus the stage-count branch
    corpus4 = _cache.claim(
        "corpus_build.corpus4" + tag,
        corpus_in.join(contaminated, "doc_id", "left_anti"),
    )

    n = corpus4.agg(F.count("*").alias("_n"))
    tok = F.size(F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0)))
    sharded = (
        corpus4.select("doc_id", tok.alias("tok"), F.expr(_DOC_HASH_SPARK).alias("h_u"))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "shard",
            F.pmod(
                F.col("h_u"),
                F.greatest(F.lit(1), F.expr(f"_n div {CB_DOCS_PER_SHARD}")),
            ).cast("int"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h_u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        sharded.withColumn("cum", F.sum("tok").over(w))
        .select(
            "doc_id",
            "shard",
            F.col("tok").cast("long").alias("tok"),
            F.expr(f"(cum - tok) div {CB_PACK_BUDGET}").cast("long").alias("bin_id"),
        )
    )
    return {"contaminated": contaminated, "corpus_clean": corpus4, "packed": packed}


def q_corpus_build(spark, sf_dir):
    """End-to-end corpus build over the syndicated crawl (sf-independent)."""
    return corpus_build_stages(spark)["packed"]


def q_corpus_build_semantic(spark, sf_dir):
    """corpus_build with the 11th (semantic) stage enabled: SemDeDup over
    the centered synonym-class embedding between the LSH near-dup stage and
    decontamination.  The hostsim fixture plants PARAPHRASED wire
    republications (branch 3: every word swapped for its reversed-surface
    synonym, order reshuffled) that share no char-5-gram shingles — the LSH
    stage is structurally blind to them; only this rung removes them."""
    return corpus_build_stages(spark, semantic=True)["packed"]


def corpus_update_stages(spark, web=None) -> dict[str, DataFrame]:
    """Incremental corpus ingest (the daily refresh): the syndicated crawl
    is split by document hash into an EXISTING corpus (2/3, exact-deduped)
    and an INCOMING day-2 batch (1/3).  An incoming document is accepted iff

      1. it is not an exact duplicate within its own batch (keep-min),
      2. its fingerprint does not match any existing-corpus document
         (broadcast-able anti-join on md5), and
      3. it is not a MinHash near-duplicate of any existing document —
         the banded CROSS-LSH join (operators/dedup.py lsh_cross_pairs):
         new x old only, the existing corpus is never self-joined, so the
         incremental cost scales with the batch, not the corpus.

    Wire syndication guarantees both cross-exact and cross-near duplicates
    exist across the split (copies of one wire story land on both sides).
    """
    from .sources import hostsim as hs

    web = web or hs.corpus_web()
    body = _crawled_bodies(spark, web)
    tagged = body.withColumn("h_u", F.expr(_DOC_HASH_SPARK))
    day1 = tagged.filter(F.col("h_u") % 3 != 0).select("doc_id", "text")
    day2 = tagged.filter(F.col("h_u") % 3 == 0).select("doc_id", "text")

    def exact_keep_min(df):
        return (
            df.withColumn("_ch", F.md5("text"))
            .groupBy("_ch")
            .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
            .select("doc_id", "text")
        )

    existing = exact_keep_min(day1)
    incoming = exact_keep_min(day2)

    # cross-exact: fingerprint anti-join (the corpus fingerprint table is
    # skinny — 32 bytes + id per doc — and partitions on the hash key)
    incoming2 = (
        incoming.withColumn("_ch", F.md5("text"))
        .join(
            existing.select(F.md5("text").alias("_ch")), "_ch", "left_anti"
        )
        .select("doc_id", "text")
    )

    cross = DD.minhash_cross_near_dups(
        incoming2, existing, threshold_u=CB_JACCARD_U
    )
    near_drops = cross.select(F.col("doc_a").alias("doc_id")).distinct()
    accepted = incoming2.join(near_drops, "doc_id", "left_anti")
    tok = F.size(F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0)))
    return {
        "day1": day1,
        "day2": day2,
        "existing": existing,
        "incoming": incoming,
        "incoming_noexact": incoming2,
        "cross_pairs": cross,
        "accepted": accepted.select(
            "doc_id", tok.cast("long").alias("tok")
        ),
    }


def q_corpus_update(spark, sf_dir):
    """Incremental day-2 ingest against the existing corpus (sf-independent)."""
    return corpus_update_stages(spark)["accepted"]


def _sql_corpus_update() -> str:
    """DuckDB twin of corpus_update over the py-oracle span export."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "dist", "corpus_build_oracle.parquet")
    if not os.path.exists(path):
        path = "/root/repo/dist/corpus_build_oracle.parquet"
    doc_hash = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"
    sig_cols = ",\n".join(
        f"        min((u1 + {i} * u2) % {_MH_P}) AS sig{i}" for i in range(DD.N_SIGS)
    )
    return rf"""
    WITH spans AS (
      SELECT * FROM read_parquet('{path}')
    ), body AS (
      SELECT doc_id, string_agg(text, chr(10) ORDER BY "offset") AS text
      FROM spans WHERE kind = 'text' GROUP BY doc_id
    ), tagged AS (
      SELECT doc_id, text, {doc_hash} AS h_u FROM body
    ), day1 AS (
      SELECT doc_id, text FROM tagged WHERE h_u % 3 != 0
    ), day2 AS (
      SELECT doc_id, text FROM tagged WHERE h_u % 3 = 0
    ), existing AS (
      SELECT min(doc_id) AS doc_id, min(text) AS text
      FROM day1 GROUP BY md5(text)
    ), incoming AS (
      SELECT min(doc_id) AS doc_id, min(text) AS text
      FROM day2 GROUP BY md5(text)
    ), incoming2 AS (
      SELECT n.doc_id, n.text FROM incoming n
      WHERE NOT EXISTS (SELECT 1 FROM existing o WHERE md5(o.text) = md5(n.text))
    ), uni AS (
      SELECT 0 AS side, doc_id, text FROM incoming2
      UNION ALL SELECT 1 AS side, doc_id, text FROM existing
    ), sh AS (
      SELECT DISTINCT side, doc_id, substr(text, CAST(i AS INT), 5) AS shingle
      FROM uni,
           unnest(generate_series(1, greatest(length(text) - 4, 1))) AS t(i)
    ), hsh AS (
      SELECT side, doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 10)) AS BIGINT) % {_MH_P} AS u1,
             CAST(concat('0x', substr(md5(shingle), 11, 10)) AS BIGINT) % {_MH_P} AS u2
      FROM sh
    ), sigs AS (
      SELECT side, doc_id,
{sig_cols}
      FROM hsh GROUP BY side, doc_id
    ), bands AS (
      SELECT side, doc_id, 0 AS band, sig0 AS v0, sig1 AS v1 FROM sigs
      UNION ALL SELECT side, doc_id, 1, sig2, sig3 FROM sigs
      UNION ALL SELECT side, doc_id, 2, sig4, sig5 FROM sigs
      UNION ALL SELECT side, doc_id, 3, sig6, sig7 FROM sigs
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
      WHERE a.side = 0 AND b.side = 1
    ), pruned AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN sigs sa ON sa.side = 0 AND sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.side = 1 AND sb.doc_id = p.doc_b
      WHERE (CASE WHEN sa.sig0 = sb.sig0 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig1 = sb.sig1 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig2 = sb.sig2 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig3 = sb.sig3 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig4 = sb.sig4 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig5 = sb.sig5 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig6 = sb.sig6 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig7 = sb.sig7 THEN 1 ELSE 0 END) >= 3
    ), cdocs AS MATERIALIZED (
      -- candidate-doc restriction before the shingle verify join (see
      -- SQL_MINHASH_NEAR_DUPS: without it the optimizer may join sh x sh
      -- on the shingle alone)
      SELECT doc_a AS doc_id, 0 AS side FROM pruned
      UNION SELECT doc_b, 1 FROM pruned
    ), shc AS MATERIALIZED (
      SELECT s.doc_id, s.side, s.shingle
      FROM sh s JOIN cdocs c ON c.doc_id = s.doc_id AND c.side = s.side
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM pruned p
      JOIN shc a ON a.side = 0 AND a.doc_id = p.doc_a
      JOIN shc b ON b.side = 1 AND b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    ), neardrop AS (
      SELECT DISTINCT i.doc_a
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(floor(i.n_inter * 1e6 / (sa.sz + sb.sz - i.n_inter) + 0.5)
                 AS BIGINT) >= {CB_JACCARD_U}
    )
    SELECT n.doc_id,
           CAST(len(regexp_extract_all(trim(n.text), '\S+')) AS BIGINT) AS tok
    FROM incoming2 n
    WHERE NOT EXISTS (SELECT 1 FROM neardrop d WHERE d.doc_a = n.doc_id)
"""


def _corpus_build_ctes(semantic: bool = False,
                       spans_path: str | None = None) -> str:
    """The corpus_build pipeline's full CTE chain (shared WITH-prefix of
    _sql_corpus_build, _sql_corpus_build_semantic and
    _sql_corpus_stage_counts).  With ``semantic`` the chain gains the 11th
    stage between near-dup and decontamination: the centered synonym-class
    embedding (sql_text_bow_ctes), the deterministic integer k-means CTE
    chain (_sql_kmeans_ctes — the same twin ivf_topk/semantic_dedup use),
    cluster-local pairwise cosine, and a keep-lowest-id filter.

    ``spans_path`` retargets the twin at a different py-oracle span export
    (default: the registry fixture) — the 10x scale gate runs the same SQL
    over a larger crawled web (scripts/check_sf1.py)."""
    import os

    path = spans_path
    if path is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.path.join(root, "dist", "corpus_build_oracle.parquet")
        if not os.path.exists(path):  # zip-imported package etc.
            path = "/root/repo/dist/corpus_build_oracle.parquet"
    if semantic:
        # fassign is referenced twice by sempairs and corpus3s references
        # corpus3 + the pair chain — MATERIALIZED pins (plus the ones inside
        # sql_text_bow_ctes/_sql_kmeans_ctes) keep DuckDB's CTE inlining
        # from re-expanding the deep corpus chain per reference
        semantic_ctes = (
            SIM.sql_text_bow_ctes("corpus3", dim=CB_SEM_DIM, prefix="sem")
            + SIM._sql_kmeans_ctes(
                CB_SEM_CLUSTERS,
                CB_SEM_ITER,
                CB_SEM_DIM,
                e_body="SELECT vec_id, e FROM seme",
                head=", ",
                materialize=True,
            )
            + f"""
    , sempairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM fassign a
      JOIN fassign b ON b.cluster = a.cluster AND b.vec_id > a.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE CAST(floor(list_cosine_similarity(ea.e, eb.e) * 1e6 + 0.5) AS BIGINT)
            >= {CB_SEM_THRESHOLD_U}
    ), corpus3s AS MATERIALIZED (
      SELECT c.* FROM corpus3 c
      WHERE c.doc_id NOT IN (SELECT DISTINCT id_b FROM sempairs)
    )"""
        )
    else:
        semantic_ctes = """, corpus3s AS (
      SELECT * FROM corpus3
    )"""
    doc_hash = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"
    sig_cols = ",\n".join(
        f"        min((u1 + {i} * u2) % {_MH_P}) AS sig{i}" for i in range(DD.N_SIGS)
    )
    return rf"""
    WITH spans AS (
      SELECT * FROM read_parquet('{path}')
    ), body AS (
      SELECT doc_id, string_agg(text, chr(10) ORDER BY "offset") AS text
      FROM spans WHERE kind = 'text' GROUP BY doc_id
    ), tagged AS (
      SELECT doc_id, text, {doc_hash} AS h_u FROM body
    ), bench AS (
      SELECT doc_id, text FROM tagged WHERE h_u % {CB_BENCH_MOD} = 0
    ), corpus0 AS (
      SELECT doc_id, text FROM tagged WHERE h_u % {CB_BENCH_MOD} != 0
    ), arr0 AS (
      SELECT doc_id, text, regexp_extract_all(trim(text), '\S+') AS w FROM corpus0
    ), rep AS (
      SELECT a.doc_id, count(*) AS tot, count(DISTINCT a.g) AS dist FROM (
        SELECT doc_id,
               w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                 || ' ' || w[CAST(i AS INT) + 2] AS g
        FROM arr0, unnest(generate_series(1, len(w) - 2)) t(i)
      ) a GROUP BY a.doc_id
    ), corpus1 AS (
      SELECT a.doc_id, a.text FROM arr0 a LEFT JOIN rep r USING (doc_id)
      WHERE len(a.w) >= {CB_MIN_WORDS}
        AND {TX.sql_quality_score()} >= {CB_MIN_QUALITY_U}
        AND coalesce(
              CAST(floor((1.0 - CAST(r.dist AS DOUBLE) / r.tot) * 1e6 + 0.5)
                   AS BIGINT), 0) <= {CB_MAX_DUP3_U}
    ), lines AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS idx, l[CAST(i AS INT)] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM corpus1),
           unnest(generate_series(1, len(l))) t(i)
    ), boiler AS (
      SELECT line FROM lines GROUP BY line
      HAVING count(DISTINCT doc_id) >= {CB_BOILER_DF}
    ), lines1 AS (
      SELECT ln.* FROM lines ln
      WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = ln.line)
    ), lines2 AS (
      SELECT doc_id, idx, line FROM (
        SELECT doc_id, idx, line,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        FROM lines1
      ) WHERE rn = 1
    ), corpus1c AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
      FROM lines2 GROUP BY doc_id
    ), corpus2 AS (
      SELECT min(doc_id) AS doc_id, min(text) AS text
      FROM corpus1c GROUP BY md5(text)
    ), sh AS (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS shingle
      FROM corpus2,
           unnest(generate_series(1, greatest(length(text) - 4, 1))) AS t(i)
    ), hsh AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 10)) AS BIGINT) % {_MH_P} AS u1,
             CAST(concat('0x', substr(md5(shingle), 11, 10)) AS BIGINT) % {_MH_P} AS u2
      FROM sh
    ), sigs AS (
      SELECT doc_id,
{sig_cols}
      FROM hsh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band, sig0 AS v0, sig1 AS v1 FROM sigs
      UNION ALL SELECT doc_id, 1, sig2, sig3 FROM sigs
      UNION ALL SELECT doc_id, 2, sig4, sig5 FROM sigs
      UNION ALL SELECT doc_id, 3, sig6, sig7 FROM sigs
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id
    ), pruned AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b
      WHERE (CASE WHEN sa.sig0 = sb.sig0 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig1 = sb.sig1 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig2 = sb.sig2 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig3 = sb.sig3 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig4 = sb.sig4 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig5 = sb.sig5 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig6 = sb.sig6 THEN 1 ELSE 0 END
           + CASE WHEN sa.sig7 = sb.sig7 THEN 1 ELSE 0 END) >= 3
    ), cdocs AS MATERIALIZED (
      -- candidate-doc restriction before the shingle verify join (see
      -- SQL_MINHASH_NEAR_DUPS: without it the optimizer may join sh x sh
      -- on the shingle alone)
      SELECT doc_a AS doc_id FROM pruned UNION SELECT doc_b FROM pruned
    ), shc AS MATERIALIZED (
      SELECT s.doc_id, s.shingle FROM sh s JOIN cdocs c ON c.doc_id = s.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM pruned p
      JOIN shc a ON a.doc_id = p.doc_a
      JOIN shc b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    ), neardup AS (
      SELECT DISTINCT i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(floor(i.n_inter * 1e6 / (sa.sz + sb.sz - i.n_inter) + 0.5)
                 AS BIGINT) >= {CB_JACCARD_U}
    ), corpus3 AS (
      SELECT c.* FROM corpus2 c
      WHERE NOT EXISTS (SELECT 1 FROM neardup n WHERE n.doc_b = c.doc_id)
    ){semantic_ctes}, barr AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS w FROM bench
    ), bgrams AS (
      SELECT DISTINCT
             list_aggregate(w[CAST(i AS INT):CAST(i AS INT) + 4],
                            'string_agg', ' ') AS g
      FROM barr, unnest(generate_series(1, len(w) - 4)) t(i)
    ), carr AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS w FROM corpus3s
    ), cgrams AS (
      SELECT DISTINCT doc_id,
             list_aggregate(w[CAST(i AS INT):CAST(i AS INT) + 4],
                            'string_agg', ' ') AS g
      FROM carr, unnest(generate_series(1, len(w) - 4)) t(i)
    ), contam AS (
      SELECT doc_id FROM cgrams JOIN bgrams USING (g)
      GROUP BY doc_id HAVING count(*) >= {CB_MIN_SHARED}
    ), corpus4 AS (
      SELECT c.* FROM corpus3s c
      WHERE NOT EXISTS (SELECT 1 FROM contam t WHERE t.doc_id = c.doc_id)
    ), base AS (
      SELECT doc_id, len(regexp_extract_all(trim(text), '\S+')) AS tok,
             {doc_hash} AS h_u
      FROM corpus4
    ), sharded AS (
      SELECT doc_id, tok, h_u,
             CAST(h_u % greatest(1, (SELECT count(*) FROM corpus4)
                                    // {CB_DOCS_PER_SHARD}) AS INT) AS shard
      FROM base
    )
"""


def _sql_corpus_build(semantic: bool = False,
                      spans_path: str | None = None) -> str:
    """DuckDB twin: the identical pipeline in ANSI SQL over the py-oracle
    span export (scripts/export_corpus_oracle.py).  ``semantic`` enables
    the 11th-stage CTEs (see _corpus_build_ctes)."""
    return _corpus_build_ctes(semantic=semantic, spans_path=spans_path) + f"""
    SELECT doc_id, shard, CAST(tok AS BIGINT) AS tok,
           CAST((sum(tok) OVER (PARTITION BY shard ORDER BY h_u, doc_id
                                ROWS UNBOUNDED PRECEDING) - tok)
                // {CB_PACK_BUDGET} AS BIGINT) AS bin_id
    FROM sharded
"""


# (Spark stage key, SQL CTE name, unit) for the stage-count observability
# query — the orders must match corpus_build_stages' dict.
_CB_STAGE_MAP = [
    ("body", "tagged", "docs"),
    ("bench", "bench", "docs"),
    ("corpus_raw", "corpus0", "docs"),
    ("corpus_quality", "corpus1", "docs"),
    ("lines", "lines", "lines"),
    ("boiler_lines", "boiler", "lines"),
    ("lines_noboiler", "lines1", "lines"),
    ("lines_clean", "lines2", "lines"),
    ("corpus_lineclean", "corpus1c", "docs"),
    ("corpus_exact", "corpus2", "docs"),
    ("corpus_neardup", "corpus3", "docs"),
    ("corpus_clean", "corpus4", "docs"),
    ("packed", "sharded", "docs"),
]


def q_corpus_stage_counts(spark, sf_dir):
    """Per-stage row counts of the composed corpus_build pipeline — the
    stage-bite observability surface (every production corpus build reports
    this table; it is how silent-stage regressions are caught).  One
    aggregate per stage over the SAME composed lineage, unioned; no
    driver-side .count() loop."""
    from functools import reduce

    st = corpus_build_stages(spark)
    parts = [
        st[key].agg(F.count("*").alias("n")).select(
            F.lit(i).alias("stage_no"),
            F.lit(key).alias("stage"),
            F.lit(unit).alias("unit"),
            F.col("n"),
        )
        for i, (key, _cte, unit) in enumerate(_CB_STAGE_MAP)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _sql_corpus_stage_counts() -> str:
    selects = "\n    UNION ALL ".join(
        f"SELECT {i} AS stage_no, '{key}' AS stage, '{unit}' AS unit, "
        f"CAST(count(*) AS BIGINT) AS n FROM {cte}"
        for i, (key, cte, unit) in enumerate(_CB_STAGE_MAP)
    )
    return _corpus_build_ctes() + f"""
    {selects}
"""


def q_near_dup_components(spark, sf_dir):
    """Fuzzy-dedup clustering: MinHash near-dup pairs -> connected
    components (iterative min-label propagation; operators/dedup.py
    connected_components).  Each near-dup group is identified by its
    minimum doc_id — the keep-one-representative step real dedup pipelines
    run between pair generation and deletion.  The DuckDB twin is a
    recursive CTE computing the min reachable id per node."""
    docs = load(spark, sf_dir, "documents")
    pairs = DD.minhash_near_dups(docs, threshold_u=400_000)
    return DD.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component_id"
    )


SQL_NEAR_DUP_COMPONENTS = f"""
    WITH RECURSIVE pairs0 AS (
      SELECT doc_a, doc_b FROM ({SQL_MINHASH_NEAR_DUPS})
    ), sym AS (
      SELECT doc_a, doc_b FROM pairs0
      UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs0
    ), reach(id, lab) AS (
      SELECT DISTINCT doc_a AS id, doc_a AS lab FROM sym
      UNION
      SELECT s.doc_a, r.lab FROM sym s JOIN reach r ON r.id = s.doc_b
    )
    SELECT id AS doc_id, min(lab) AS component_id FROM reach GROUP BY id
"""


def _corpus_spans_path() -> str:
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "dist", "corpus_build_oracle.parquet")
    if not os.path.exists(path):
        path = "/root/repo/dist/corpus_build_oracle.parquet"
    return path


def _corpus_bodies(spark) -> DataFrame:
    """Per-document bodies of the syndicated-crawl fixture (the deterministic
    span table exported by scripts/export_corpus_oracle.py — the agreed
    input table for the line-level corpus operators, like the sf parquet
    tables are for the relational ones)."""
    spans = spark.read.parquet(_corpus_spans_path())
    return (
        spans.filter(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("offset", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
    )


def q_line_dedup(spark, sf_dir):
    """C4-style line deduplication (Raffel et al. 2020 used three-sentence
    spans; the unit here is the line = crawl paragraph): across the WHOLE
    corpus, every duplicated line keeps only its first occurrence (ordered
    by doc_id, then position) and is dropped everywhere else; documents are
    reassembled from their surviving lines.

    Scale shape: one window partitioned by the line text (high cardinality
    — group sizes are the line's duplication count, bounded by corpus
    duplication, not corpus size) and one hash aggregate to reassemble.
    Keying on the raw line keeps the twin collision-proof by construction.
    Wire-syndicated duplicates make this bite hard: a byte-exact republished
    article loses every line (clean_hash of the empty string).

    Implementation: operators/dedup.py line_dedup_docs (raw-line keys)."""
    return DD.line_dedup_docs(_corpus_bodies(spark))


def _sql_line_dedup() -> str:
    return rf"""
    WITH body AS (
      SELECT doc_id, string_agg(text, chr(10) ORDER BY "offset") AS text
      FROM read_parquet('{_corpus_spans_path()}')
      WHERE kind = 'text' GROUP BY doc_id
    ), lines AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS idx, l[CAST(i AS INT)] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM body),
           unnest(generate_series(1, len(l))) t(i)
    ), flagged AS (
      SELECT doc_id, idx, line,
             CASE WHEN row_number() OVER (PARTITION BY line
                                          ORDER BY doc_id, idx) = 1
                  THEN 1 ELSE 0 END AS keep
      FROM lines
    )
    SELECT doc_id,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
           md5(coalesce(
             string_agg(CASE WHEN keep = 1 THEN line END, chr(10)
                        ORDER BY idx), '')) AS clean_hash
    FROM flagged GROUP BY doc_id
"""


def q_boilerplate_strip(spark, sf_dir):
    """Frequency-based boilerplate removal (the jusText/trafilatura
    heuristic at corpus level): a line occurring in >= 3 DISTINCT documents
    is boilerplate (nav, footers — here: syndicated wire paragraphs) and is
    stripped from EVERY document, first occurrence included (unlike
    line_dedup's keep-first).

    Scale shape: the line-frequency table is a hash aggregate on the line;
    the strip is a broadcast-able (at real boilerplate cardinality) or
    shuffle hash join back to the exploded lines — no window at all."""
    bodies = _corpus_bodies(spark)
    lines = bodies.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("idx", "line")
    )
    df_tab = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= 3)
        .select("line")
    )
    kept = lines.join(df_tab, "line", "left_anti")
    return (
        lines.groupBy("doc_id").agg(F.count("*").alias("_n_total"))
        .join(
            kept.groupBy("doc_id").agg(
                F.count("*").alias("n_kept"),
                F.md5(
                    F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("idx", "line"))),
                            lambda s: s["line"],
                        ),
                    )
                ).alias("clean_hash"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_total") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_stripped"),
            F.coalesce("clean_hash", F.md5(F.lit(""))).alias("clean_hash"),
        )
    )


def _sql_boilerplate_strip() -> str:
    return rf"""
    WITH body AS (
      SELECT doc_id, string_agg(text, chr(10) ORDER BY "offset") AS text
      FROM read_parquet('{_corpus_spans_path()}')
      WHERE kind = 'text' GROUP BY doc_id
    ), lines AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS idx, l[CAST(i AS INT)] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM body),
           unnest(generate_series(1, len(l))) t(i)
    ), boiler AS (
      SELECT line FROM lines GROUP BY line
      HAVING count(DISTINCT doc_id) >= 3
    ), kept AS (
      SELECT ln.* FROM lines ln
      WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = ln.line)
    )
    SELECT t.doc_id,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_total - coalesce(k.n_kept, 0) AS BIGINT) AS n_stripped,
           coalesce(k.clean_hash, md5('')) AS clean_hash
    FROM (SELECT doc_id, count(*) AS n_total FROM lines GROUP BY doc_id) t
    LEFT JOIN (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(line, chr(10) ORDER BY idx)) AS clean_hash
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 terms by tf-idf over the documents table — the
    keyword-extraction step of a training-data/search pipeline.

    Integer-only scoring (score = tf * ((n_docs * 1000) div df)) so the
    oracle is floating-point-free: libm's ln differs in the last ulp across
    engines and a floor() at a tie boundary would flake the hash.

    Scale shape: tf is a (doc, term) hash aggregate; df a term hash
    aggregate (vocabulary-sized — broadcast-able in production but joined
    generically here); the in-plan 1-row count crossJoin replaces a
    driver-side count(); top-3 is a window partitioned by doc_id (high
    cardinality, group size = distinct terms per doc)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0))
        ).alias("term"),
    )
    # r09 plan: one term-keyed exchange.  Hash partitioning on `term` alone
    # satisfies the (term, doc_id) aggregation AND the df window (df = rows
    # per term of the tf table), so tf, df and score all come out of that
    # single exchange; the r08 shape shuffled the tf table twice more (df
    # aggregate + join-back).  The top-3 is an in-array sort/slice per doc
    # with the identical (score desc, term asc) tie order the row_number
    # window used — one doc-keyed exchange of ~60 structs per doc.
    tf = words.repartition("term").groupBy("term", "doc_id").agg(
        F.count("*").alias("tf")
    )
    n = docs.agg(F.count("*").alias("_n"))
    scored = (
        tf.withColumn("df_", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("tf") * F.expr("(_n * 1000) div df_")).cast("long"),
        )
    )
    top3 = scored.groupBy("doc_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("score")).alias("_ns"),
                        F.col("term"),
                        F.col("score"),
                    )
                )
            ),
            1,
            3,
        ).alias("_top")
    )
    return top3.select(
        "doc_id", F.posexplode("_top").alias("_i", "_s")
    ).select(
        "doc_id",
        F.col("_s.term").alias("term"),
        (F.col("_i") + 1).cast("int").alias("rank"),
        F.col("_s.score").alias("score"),
    )


DUP_SPAN_K = 8  # token-window width for substring-level dedup


def q_dup_span_report(spark, sf_dir):
    """Exact substring-level duplication report (the third dedup family
    after whole-doc exact and doc-level near-dup — Lee et al. 2021
    deduplicate exact token spans that recur anywhere in the corpus):
    per document, how many of its K-token windows occur more than once
    CORPUS-WIDE, and the duplicated fraction in parts-per-million.

    Scale shape: explode to (doc, pos, window-string), one hash aggregate
    on the window string to find recurring windows (group size = that
    window's recurrence count — bounded by corpus duplication, like
    line_dedup), broadcast-able/shuffle hash join back, one per-doc
    aggregate.  No window function at all.  The aggregate keys on a
    128-bit digest of the window instead of the raw string (fixed-width
    shuffle keys); the DuckDB twin keys on the raw string."""
    return _dup_span_report_frame(load(spark, sf_dir, "documents"))


def _dup_span_report_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of :func:`q_dup_span_report` over any (doc_id,
    text) table."""
    toks = F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0))
    k = DUP_SPAN_K
    # r09 plan: the digest-keyed one-shuffle flag pass shared with
    # dup_span_dedup (report mode counts EVERY occurrence of a duplicated
    # window, first included); n_windows needs no explode at all —
    # size(tokens) - K + 1 per document.  The r08 shape exploded the window
    # strings, aggregated them, semi-joined them back and re-aggregated:
    # three exchanges of ~70-byte string rows for the identical result.
    dup_counts = (
        _dup_span_flagged(docs, k, report=True)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    totals = docs.select("doc_id", (F.size(toks) - k + 1).alias("n_windows")).filter(
        F.col("n_windows") >= 1
    )
    return (
        totals.join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.floor(
                F.coalesce("n_dup", F.lit(0)) * 1_000_000 / F.col("n_windows")
            ).cast("long").alias("dup_frac_u"),
        )
    )


SQL_DUP_SPAN_REPORT = rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS t FROM documents
    ), wins AS (
      SELECT doc_id,
             list_aggregate(t[CAST(i AS INT):CAST(i AS INT) + {DUP_SPAN_K - 1}],
                            'string_agg', ' ') AS w
      FROM toks, unnest(generate_series(1, len(t) - {DUP_SPAN_K - 1})) u(i)
      WHERE len(t) >= {DUP_SPAN_K}
    ), dup_w AS (
      SELECT w FROM wins GROUP BY w HAVING count(*) > 1
    ), flagged AS (
      SELECT doc_id, count(*) AS n_dup FROM wins
      WHERE w IN (SELECT w FROM dup_w) GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(a.n_windows AS BIGINT) AS n_windows,
           CAST(coalesce(f.n_dup, 0) AS BIGINT) AS n_dup_windows,
           CAST(floor(coalesce(f.n_dup, 0) * 1000000.0 / a.n_windows)
                AS BIGINT) AS dup_frac_u
    FROM (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id) a
    LEFT JOIN flagged f USING (doc_id)
"""


def q_dup_span_dedup(spark, sf_dir):
    """Exact substring-level deduplication (the removal counterpart of
    ``dup_span_report`` — Lee et al. 2021 delete every duplicated token
    span except its first corpus occurrence): a K-token window that occurs
    more than once keeps only its global-first (doc_id, pos) occurrence;
    every token covered by a non-first duplicated window is removed, and
    documents reassemble from their surviving tokens (a byte-identical
    copy loses every token — substring dedup subsumes whole-doc exact
    dedup, mirroring the corpus_build line-dedup insight one level down).

    Scale shape: hash aggregate keyed on the WINDOW STRING (group size =
    that window's recurrence count, never corpus size) with a min-struct
    first-occurrence agg — no window function anywhere; coverage expansion
    is a bounded explode (x{K}); reassembly is one per-doc aggregate.  The
    aggregate keys on a 128-bit digest of the window for fixed-width
    shuffle keys."""
    return _dup_span_dedup_frame(load(spark, sf_dir, "documents"))


def _dup_span_wins_digest(docs: DataFrame, k: int) -> DataFrame:
    """(wk binary(16), doc_id, pos) — one Arrow pass per document: tokenize
    (re.ASCII \\S+ — identical token set to Java's default \\S), form the
    K-token windows, and emit the md5 DIGEST of each window instead of the
    window string, so only fixed-width 16-byte keys ever cross an exchange
    (~28 bytes/row vs ~70 with the string).  Python tokenization measured
    ~2.2x faster than the codegen slice/concat_ws chain at the 10x gate."""
    import hashlib

    import pyarrow as pa

    id_type = docs.schema["doc_id"].dataType.simpleString()

    def gen(batches):
        import re

        ws = re.compile(r"\S+", re.ASCII)
        md5 = hashlib.md5
        for b in batches:
            ids = b.column(0)
            texts = b.column(1).to_pylist()
            idx, out_pos, out_wk = [], [], []
            for i, t in enumerate(texts):
                tk = ws.findall(t or "")
                for p in range(len(tk) - k + 1):
                    idx.append(i)
                    out_pos.append(p)
                    out_wk.append(md5(" ".join(tk[p:p + k]).encode()).digest())
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(idx, type=pa.int32())),
                    pa.array(out_pos, type=pa.int64()),
                    pa.array(out_wk, type=pa.binary()),
                ],
                ["doc_id", "pos", "wk"],
            )

    spread = docs.select("doc_id", "text").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInArrow(gen, f"doc_id {id_type}, pos bigint, wk binary")


def _dup_span_flagged(docs: DataFrame, k: int, report: bool = False) -> DataFrame:
    """Non-first occurrences of corpus-duplicated K-token windows, ONE
    shuffle: hash-repartition the digest-keyed window table by wk, then a
    per-task dict pass finds each group's min (doc_id, pos) — the same
    struct ordering as the r08 min-struct aggregate — and emits the rest.
    With ``report`` it instead emits EVERY occurrence of a duplicated
    window (dup_span_report counts the first one too)."""
    import pyarrow as pa

    wins = _dup_span_wins_digest(docs, k)
    id_type = docs.schema["doc_id"].dataType.simpleString()

    def flag(batches):
        cached = []
        groups: dict = {}
        for b in batches:
            ids = b.column("doc_id").to_pylist()
            poss = b.column("pos").to_pylist()
            wks = b.column("wk").to_pylist()
            cached.append((b, ids, poss, wks))
            for i in range(len(ids)):
                wk = wks[i]
                cur = groups.get(wk)
                cand = (ids[i], poss[i])
                if cur is None:
                    groups[wk] = [cand, 1]
                else:
                    cur[1] += 1
                    if cand < cur[0]:
                        cur[0] = cand
        for b, ids, poss, wks in cached:
            keep = [
                i
                for i in range(len(ids))
                if groups[wks[i]][1] > 1
                and (report or (ids[i], poss[i]) != groups[wks[i]][0])
            ]
            ki = pa.array(keep, type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id").take(ki), b.column("pos").take(ki)],
                ["doc_id", "pos"],
            )

    spread = wins.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "wk"
    )
    return spread.mapInArrow(flag, f"doc_id {id_type}, pos bigint")


def _dup_span_dedup_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of :func:`q_dup_span_dedup` over any (doc_id, text)
    table — reused by the 10x replication-invariance spot-check.

    r09 plan: ONE corpus-wide shuffle of fixed-width digests
    (_dup_span_flagged: md5(window) keys, per-task dict min pass replaying
    the r08 min-struct ordering), flagged positions return to their
    documents as one small per-doc list, and each document re-tokenizes +
    reassembles in a single Arrow pass.  The r08 shape evaluated the
    window-string subtree twice, joined it back, anti-joined an exploded
    coverage table against the exploded token table and rebuilt text via
    collect_list — four more token-level string exchanges for the identical
    result."""
    k = DUP_SPAN_K
    flagged = _dup_span_flagged(docs, k)
    flpos = flagged.groupBy("doc_id").agg(F.collect_list("pos").alias("_fl"))
    with_fl = docs.select("doc_id", "text").join(flpos, "doc_id", "left")

    def reassemble(batches):
        import re

        import pyarrow as pa

        ws = re.compile(r"\S+", re.ASCII)  # ASCII \S == Java's default \S
        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            fls = batch.column("_fl").to_pylist()
            keep_rows, n_kept, n_rm, out_text = [], [], [], []
            for i, t in enumerate(texts):
                tokens = ws.findall(t or "")
                if not tokens:
                    continue  # r08: docs with no surviving tokens are absent
                fl = fls[i]
                if fl:
                    covered = set()
                    for pos in fl:
                        covered.update(range(pos, pos + k))
                    kept_toks = [
                        tk for p, tk in enumerate(tokens) if p not in covered
                    ]
                else:
                    kept_toks = tokens
                if not kept_toks:
                    continue
                keep_rows.append(i)
                n_kept.append(len(kept_toks))
                n_rm.append(len(tokens) - len(kept_toks))
                out_text.append(" ".join(kept_toks))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(keep_rows, type=pa.int32())),
                    pa.array(n_kept, type=pa.int64()),
                    pa.array(n_rm, type=pa.int64()),
                    pa.array(out_text, type=pa.string()),
                ],
                ["doc_id", "n_kept", "n_removed", "text"],
            )

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return with_fl.mapInArrow(
        reassemble,
        f"doc_id {id_type}, n_kept bigint, n_removed bigint, text string",
    )


SQL_DUP_SPAN_DEDUP = rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS t FROM documents
    ), tok AS (
      SELECT doc_id, CAST(i AS BIGINT) - 1 AS p, t[CAST(i AS INT)] AS tok
      FROM toks, unnest(generate_series(1, len(t))) u(i)
    ), wins AS (
      SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
             list_aggregate(t[CAST(i AS INT):CAST(i AS INT) + {DUP_SPAN_K - 1}],
                            'string_agg', ' ') AS w
      FROM toks, unnest(generate_series(1, len(t) - {DUP_SPAN_K - 1})) u(i)
      WHERE len(t) >= {DUP_SPAN_K}
    ), ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY w) AS occ
      FROM wins
    ), flagged AS (
      SELECT doc_id, pos FROM ranked WHERE occ > 1 AND rn > 1
    ), covered AS (
      SELECT DISTINCT doc_id, pos + CAST(j AS BIGINT) - 1 AS p
      FROM flagged, unnest(generate_series(1, {DUP_SPAN_K})) v(j)
    ), kept AS (
      SELECT t.doc_id, t.p, t.tok FROM tok t
      ANTI JOIN covered c ON c.doc_id = t.doc_id AND c.p = t.p
    )
    SELECT k.doc_id,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(any_value(tt.n_total) - count(*) AS BIGINT) AS n_removed,
           string_agg(k.tok, ' ' ORDER BY k.p) AS text
    FROM kept k
    JOIN (SELECT doc_id, len(t) AS n_total FROM toks) tt ON tt.doc_id = k.doc_id
    GROUP BY k.doc_id
"""


TOKEN_BUDGET_PER_SOURCE = 800  # tokens each source may contribute to the mix


TOKEN_BUDGET_SHARDS = 4096  # order-preserving range buckets of the md5 key


def q_token_budget_mix(spark, sf_dir):
    """Deterministic data-mixing to a per-source token budget (the sampling
    step of domain-weighted training mixes, DoReMi/Pile-style: each source
    contributes at most B tokens): docs are taken per source in md5(doc_id)
    order — an unbiased deterministic shuffle both engines reproduce — while
    the running token total stays within budget.

    Scale shape (hash-sharded two-phase prefix sum — no window ever
    partitions by source alone):

    1. RANGE-shard each source on the first 40 bits of the md5 order key
       (``shard = h40 div 2^40/S`` — monotone in the key, so shard order IS
       md5 order and shard boundaries respect the global per-source order).
    2. Per-(source, shard) token totals (hash agg), then EXCLUSIVE shard
       offsets via a prefix-sum window over at most S=4096 rows per source
       — bounded constant work at any corpus size.
    3. Budget prune: offsets are monotone in shard order, so shards with
       ``offset > B`` are a suffix that no row can survive — dropped
       wholesale by the join.  What remains is ~B tokens worth of docs
       (plus the boundary shard) regardless of corpus size.
    4. Within-shard running sum (window keyed (source, shard) — group size
       = surviving docs per shard) + the shard offset = the exact global
       running total.

    A pathologically dominant source therefore costs one 4096-row offset
    window and a handful of boundary-shard tasks, never a single-task
    near-global prefix sum.  Token counts are a codegen expression; no data
    leaves the JVM."""
    docs = load(spark, sf_dir, "documents")
    # 2^40 / TOKEN_BUDGET_SHARDS — monotone bucketing of the 40-bit prefix
    bucket_width = (1 << 40) // TOKEN_BUDGET_SHARDS
    d = docs.select(
        "doc_id",
        "source",
        F.size(
            F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0))
        ).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
    ).withColumn(
        "_shard",
        F.expr(
            f"cast(conv(substr(_h, 1, 10), 16, 10) as bigint) div {bucket_width}"
        ).cast("int"),
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("source", "_shard")
        .agg(F.sum("n_tok").alias("_shard_tok"))
        .withColumn("_off", F.coalesce(F.sum("_shard_tok").over(w_off), F.lit(0)))
        .filter(F.col("_off") <= TOKEN_BUDGET_PER_SOURCE)
        .select("source", "_shard", "_off")
    )
    w_in = (
        Window.partitionBy("source", "_shard")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(offsets, ["source", "_shard"])
        .withColumn("cum_tok", F.col("_off") + F.sum("n_tok").over(w_in))
        .filter(F.col("cum_tok") <= TOKEN_BUDGET_PER_SOURCE)
        .select(
            "doc_id", "source", "n_tok",
            F.col("cum_tok").cast("long").alias("cum_tok"),
        )
    )


VOCAB_SIZE = 24  # size-capped vocab: top-V tokens by (count desc, token asc)


def q_vocab_oov_rate(spark, sf_dir):
    """Tokenizer-coverage report: build the SIZE-CAPPED word vocabulary
    (the top-V most frequent tokens — the fixed-budget selection every
    word/BPE tokenizer build makes) and report each document's
    out-of-vocabulary token count + ppm rate — the coverage table a
    vocab-size decision is made against.

    Scale shape: one explode, one vocab hash agg (group size = a token's
    corpus count), a DISTRIBUTED top-V (`orderBy().limit()` compiles to
    TakeOrderedAndProject — per-partition top-V then a V-row merge, never a
    global sort), one join back (the vocab dim is exactly V rows —
    broadcast), one per-doc agg; integer-only ppm.  Tie-break at the cut is
    (count desc, token asc) in both engines."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0))
        ).alias("tok"),
    )
    vocab = (
        words.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("_v"))
    )
    return (
        words.join(vocab, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.expr(
                "CAST(sum(CASE WHEN _v IS NULL THEN 1 ELSE 0 END) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("oov_frac_u"),
        )
        .select("doc_id", "n_tok", "n_oov", "oov_frac_u")
    )


SQL_VOCAB_OOV_RATE = rf"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM words GROUP BY tok
      ORDER BY count(*) DESC, tok LIMIT {VOCAB_SIZE}
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS oov_frac_u
    FROM words w LEFT JOIN vocab v USING (tok)
    GROUP BY w.doc_id
"""


def q_ngram_novelty(spark, sf_dir):
    """Corpus-novelty report (the curation-side dual of dup_span_report):
    per document, how many of its DISTINCT word-3-grams first appear in THIS
    document (global first = min doc_id), as count + ppm.  Rising corpus
    positions with low novelty are what dedup/curation passes trim first.

    Scale shape: the shared distinct-gram explode (_word_ngrams, pure
    codegen), one min hash agg keyed on the gram (group size = a gram's doc
    frequency), one join back, one per-doc agg — no windows, nothing
    driver-side."""
    grams = _word_ngrams(load(spark, sf_dir, "documents"), 3)
    # r09 plan: the r08 shape joined the full gram table back to the
    # min-per-gram aggregate (three shuffles keyed by the ~25-byte gram
    # string).  n_novel(doc) is just the number of grams whose global min
    # doc is that doc, so aggregate the min-table by first_doc instead —
    # the gram string crosses ONE exchange, everything after is per-doc
    # longs with map-side partial aggregation.  Identical result set.
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_novel")
    )
    totals = grams.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr(
                "CAST(coalesce(n_novel, 0) * 1000000 div n_grams AS BIGINT)"
            ).alias("novelty_u"),
        )
    )


SQL_NGRAM_NOVELTY = r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS t FROM documents
    ), g0 AS (
      SELECT doc_id,
             list_aggregate(t[CAST(i AS INT):CAST(i AS INT) + 2],
                            'string_agg', ' ') AS g
      FROM toks, unnest(generate_series(1, len(t) - 2)) u(i)
      WHERE len(t) >= 3
    ), grams AS (
      SELECT DISTINCT doc_id, g FROM g0
    ), first AS (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN gr.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN gr.doc_id = f.first_doc THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS novelty_u
    FROM grams gr JOIN first f USING (g)
    GROUP BY gr.doc_id
"""


RARE_WEIGHT_CAP = 1000  # hapax cap: a token in 1 of N docs weighs min(N, cap)


def q_rare_token_score(spark, sf_dir):
    """CCNet-shape rarity scoring with integer-only arithmetic (the float
    perplexity is replaced by a document-frequency rarity weight so the
    cross-engine oracle is ulp-proof): weight(tok) = min(N_docs div
    df(tok), 1000), score = floor(mean token weight * 1000).  High score =
    rare-vocabulary document (candidate OOD/noise), low = boilerplate-heavy.

    Scale shape: one explode + hash-agg for df (group size = a token's doc
    frequency), the corpus doc count injected as a broadcast 1-row join
    (never a driver-side count), a broadcast-able df join back, one per-doc
    aggregate.  All arithmetic integer, JVM-side."""
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("_n"))
    words = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0))
        ).alias("tok"),
    )
    # r09 plan: one token-keyed exchange.  (tok, doc_id) counts aggregate on
    # the tok partitioning, df = rows per tok of that table (window count),
    # and the per-occurrence weight sum is sum(weight * cnt) — the r08
    # shape shuffled the word table three more times (distinct, df
    # aggregate, join-back).  Integer expressions unchanged:
    # sum(weight) over occurrences == sum(weight * cnt) over (tok, doc).
    cnt = words.repartition("tok").groupBy("tok", "doc_id").agg(
        F.count("*").alias("cnt")
    )
    weighted = (
        cnt.withColumn("df", F.count("*").over(Window.partitionBy("tok")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "weight", F.least(F.expr("_n div df"), F.lit(RARE_WEIGHT_CAP))
        )
    )
    return (
        weighted.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tok"),
            F.expr(
                "CAST(sum(weight * cnt) * 1000 div sum(cnt) AS BIGINT)"
            ).alias("rare_score_u"),
        )
        .select("doc_id", "n_tok", "rare_score_u")
    )


SQL_RARE_TOKEN_SCORE = rf"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+')) AS tok
      FROM documents
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df
      FROM (SELECT DISTINCT doc_id, tok FROM words) GROUP BY tok
    ), wt AS (
      SELECT tok, least(n_docs // df, {RARE_WEIGHT_CAP}) AS weight FROM df, n
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(wt.weight) * 1000 // count(*) AS BIGINT) AS rare_score_u
    FROM words w JOIN wt USING (tok)
    GROUP BY w.doc_id
"""


SQL_TOKEN_BUDGET_MIX = rf"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      FROM d
    )
    SELECT doc_id, source, n_tok, cum_tok
    FROM c WHERE cum_tok <= {TOKEN_BUDGET_PER_SOURCE}
"""


SQL_TFIDF_TOP_TERMS = r"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df_ FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf * (((SELECT count(*) FROM documents) * 1000) // df_)
                  AS BIGINT) AS score
      FROM tf JOIN dfreq USING (term)
    ), ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------


def _registry() -> list[tuple[str, Callable[[SparkSession, str], DataFrame], str]]:
    """One row per query: (name, Spark builder, DuckDB twin SQL)."""
    # NOTE on ordering: the driver's correctness gate oracles the FIRST 50
    # entries in dict-insertion order.  The window ROTATES each round
    # (ADVICE r07 #4) so every entry is periodically driver-checked: the 13
    # entries outside r07's window (judge-verified that round) lead in r08,
    # the 12 r07-rotated entries keep their second consecutive driver round,
    # and 13 entries driver-proven three rounds running (r05-r07) take their
    # turn at the back — still covered by the repo's full 3-SF gate.
    return [
        # --- outside the driver window in r07 (judge-checked then) ---
        ("simhash_near_dups", q_simhash_near_dups, SQL_SIMHASH_NEAR_DUPS),
        ("cosine_topk", q_cosine_topk, SIM.sql_cosine_topk(5, 10)),
        ("lsh_topk", q_lsh_topk, SIM.sql_lsh_topk(5, 10, n_planes=6, dim=64, seed=42)),
        ("ivf_topk", q_ivf_topk,
         SIM.sql_ivf_topk(5, 10, n_clusters=16, n_probe=6, n_iter=2, dim=64)),
        ("ann_recall", q_ann_recall, _sql_ann_recall(5, 10)),
        ("winnow_pairs", q_winnow_pairs, _sql_winnow_pairs(20, 1000)),
        ("embedding_near_dups_lsh", q_embedding_near_dups_lsh,
         SIM.sql_embedding_near_dups_lsh(900_000, n_planes=8, dim=64, seed=42)),
        ("semantic_dedup", q_semantic_dedup,
         SIM.sql_semantic_dedup(900_000, n_clusters=16, n_iter=2, dim=64)),
        ("media_metadata", q_media_metadata, SQL_MEDIA_META),
        ("frame_sample", q_frame_sample, SQL_FRAME_SAMPLE),
        ("media_resize", q_media_resize, SQL_MEDIA_RESIZE),
        ("media_features", q_media_features, _sql_media_features(16)),
        ("crawl_flagship", q_crawl_flagship, _sql_crawl_flagship()),
        # --- rotated to front in r07; second consecutive driver round ---
        ("corpus_update", q_corpus_update, _sql_corpus_update()),
        ("line_dedup", q_line_dedup, _sql_line_dedup()),
        ("boilerplate_strip", q_boilerplate_strip, _sql_boilerplate_strip()),
        ("near_dup_components", q_near_dup_components, SQL_NEAR_DUP_COMPONENTS),
        ("corpus_stage_counts", q_corpus_stage_counts, _sql_corpus_stage_counts()),
        ("tfidf_top_terms", q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
        ("dup_span_report", q_dup_span_report, SQL_DUP_SPAN_REPORT),
        ("dup_span_dedup", q_dup_span_dedup, SQL_DUP_SPAN_DEDUP),
        ("token_budget_mix", q_token_budget_mix, SQL_TOKEN_BUDGET_MIX),
        ("rare_token_score", q_rare_token_score, SQL_RARE_TOKEN_SCORE),
        ("vocab_oov_rate", q_vocab_oov_rate, SQL_VOCAB_OOV_RATE),
        ("ngram_novelty", q_ngram_novelty, SQL_NGRAM_NOVELTY),
        # --- fixture changed in r07 (paraphrase syndication branch) ---
        ("corpus_build_semantic", q_corpus_build_semantic,
         _sql_corpus_build(semantic=True)),
        ("corpus_build", q_corpus_build, _sql_corpus_build()),
        # --- driver-proven in r05-r07; stays within the first-50 window ---
        ("keepfirst_dedup", q_keepfirst_dedup, SQL_KEEPFIRST),
        ("dup_groups", q_dup_groups, SQL_DUP_GROUPS),
        ("exact_dedup", q_exact_dedup, SQL_EXACT_DEDUP),
        ("pivot_events", q_pivot_events, SQL_PIVOT),
        ("top_revenue_nations", q_top_revenue_nations, SQL_TOP_REVENUE_NATIONS),
        ("order_priority_count", q_order_priority_count, SQL_ORDER_PRIORITY),
        ("shipping_priority", q_shipping_priority, SQL_SHIPPING_PRIORITY),
        ("length_percentiles", q_length_percentiles, SQL_LENGTH_PERCENTILES),
        ("promo_revenue", q_promo_revenue, SQL_PROMO_REVENUE),
        ("supplier_geography", q_supplier_geography, SQL_SUPPLIER_GEOGRAPHY),
        ("hash_sample", q_hash_sample, SQL_HASH_SAMPLE),
        ("stratified_sample", q_stratified_sample, SQL_STRATIFIED_SAMPLE),
        ("pack_sequences", q_pack_sequences, SQL_PACK_SEQUENCES),
        ("token_count", q_token_count, SQL_TOKEN_COUNT),
        ("lang_id", q_lang_id,
         f"SELECT doc_id, {TX.sql_lang_id()} AS lang_pred FROM documents"),
        ("quality_score", q_quality_score,
         f"SELECT doc_id, {TX.sql_quality_score()} AS quality_u FROM documents"),
        ("fingerprint", q_fingerprint, SQL_FINGERPRINT_Q),
        ("repetition_quality", q_repetition_quality, SQL_REPETITION),
        ("decontaminate", q_decontaminate, SQL_DECONTAMINATE),
        ("top_keywords", q_top_keywords, _sql_top_keywords()),
        ("minhash_signatures", q_minhash_signatures, SQL_MINHASH_SIGS),
        ("minhash_lsh_pairs", q_minhash_lsh_pairs, SQL_MINHASH_PAIRS),
        ("minhash_near_dups", q_minhash_near_dups, SQL_MINHASH_NEAR_DUPS),
        # --- rotated to the back in r08 (driver-green r05, r06 AND r07;
        # the repo-local 3-SF gate still runs every one each round) ---
        ("date_range", q_date_range, SQL_DATE_RANGE),
        ("date_range_typed", q_date_range_typed, SQL_DATE_RANGE_TYPED),
        ("group_count", q_group_count, SQL_GROUP_COUNT),
        ("category_filter", q_category_filter, SQL_CATEGORY_FILTER),
        ("md5_prefix", q_md5_prefix, SQL_MD5_PREFIX),
        ("datasource_extract", q_datasource_extract, SQL_DATASOURCE),
        ("image_path", q_image_path, SQL_IMAGE_PATH),
        ("images_metadata", q_images_metadata, SQL_IMAGES_METADATA),
        ("topk_per_group", q_topk_per_group, SQL_TOPK_PER_GROUP),
        ("pricing_summary", q_pricing_summary, SQL_PRICING),
        ("sessionize", q_sessionize, SQL_SESSIONIZE),
        ("windowed_counts", q_windowed_counts, SQL_WINDOWED),
        ("rollup_revenue", q_rollup_revenue, SQL_ROLLUP),
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Spark builders by name, in registry order."""
    return {name: build for name, build, _twin in _registry()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL by name, in the same order as :func:`queries`."""
    return {name: twin for name, _build, twin in _registry()}
