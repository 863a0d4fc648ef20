"""Driver analytics contract: Spark queries + their ANSI-SQL (DuckDB) twins.

One entry per operator family from SURVEY.md §2.2 plus the training-data
pipeline operators (dedup / similarity / text analysis), all over the driver's
read-only testdata tables. Conventions that make the driver's order-
insensitive value-hash comparison meaningful:

- every computed column is aliased IDENTICALLY in the Spark plan and the SQL;
- money-scale sums are cast to DECIMAL before aggregation in BOTH engines
  (decimal addition is exact and associative → bit-equal across engines);
- small-magnitude averages/ratios are rounded to 4 decimals (cross-engine
  float-sum ordering noise is ~1e-13, far below the rounding step);
- timestamps are emitted as 'yyyy-MM-dd HH:mm:ss' strings (testdata is
  timestamp_ntz; Spark session tz is UTC);
- every ranking has a total-order tie-break so row sets are deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.spark_udfs import canonicalize_udf
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.dedup import _spread
from ..operators.ordering import global_topk
from ..operators.politeness import select_round
from ..streaming.events import hourly_type_counts

DEC = "decimal(28,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col) -> F.Column:
    """Exact cross-engine sum: decimal accumulate, double out."""
    return F.sum(F.col(col).cast(DEC) if isinstance(col, str) else col.cast(DEC)).cast(
        "double"
    )


# --------------------------------------------------------------------------
# scans / filters / aggregations
# --------------------------------------------------------------------------


def q01_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum("l_quantity"), 2).alias("sum_qty"),
            F.round(_dsum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(_dsum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_Q01 = """
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_base_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_disc_price,
  ROUND(AVG(l_discount), 4) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q03_shipping_priority(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


SQL_Q03 = """
SELECT l_orderkey,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q05_region_revenue(spark, sf):
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .groupBy("n_name")
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_Q05 = """
SELECT n_name,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue,
  COUNT(*) AS n_items
FROM region JOIN nation ON r_regionkey = n_regionkey
  JOIN customer ON n_nationkey = c_nationkey
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
GROUP BY n_name
"""


def q_brand_part_agg(spark, sf):
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(_dsum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
        )
    )


SQL_BRAND = """
SELECT p_brand, COUNT(*) AS n_items,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty,
  ROUND(AVG(p_retailprice), 4) AS avg_retail
FROM part JOIN lineitem ON p_partkey = l_partkey
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# joins: anti / semi
# --------------------------------------------------------------------------


def q_customers_without_orders(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_NO_ORDERS = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


def q_urgent_customer_nations(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    n = _t(spark, sf, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.countDistinct("c_custkey").alias("n_customers"))
    )


SQL_URGENT = """
SELECT n_name, COUNT(DISTINCT c_custkey) AS n_customers
FROM customer c JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# window functions
# --------------------------------------------------------------------------


def q_top_orders_per_customer(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


SQL_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn <= 3
"""


def q_order_gaps(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    gaps = o.withColumn("prev_date", F.lag("o_orderdate").over(w)).withColumn(
        "gap_days", F.datediff(F.col("o_orderdate"), F.col("prev_date"))
    )
    return (
        gaps.filter(F.col("gap_days").isNotNull())
        .join(c, F.col("o_custkey") == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
        )
    )


SQL_GAPS = """
SELECT c_mktsegment, COUNT(*) AS n_gaps, ROUND(AVG(gap_days), 4) AS avg_gap_days
FROM (
  SELECT o_custkey,
    date_diff('day',
      LAG(o_orderdate) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate ASC, o_orderkey ASC),
      o_orderdate) AS gap_days
  FROM orders) g JOIN customer ON g.o_custkey = c_custkey
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# rollup / cube / grouping sets
# --------------------------------------------------------------------------


def q_rollup_lineitem(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("g"),
            F.count("*").alias("n"),
            F.round(_dsum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g",
            "n",
            "sum_qty",
        )
    )


SQL_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS g,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_cube_orders(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(_dsum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "sum_price",
        )
    )


SQL_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_price
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_nation_suppliers(spark, sf):
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
        )
    )


SQL_NATION_SUPP = """
SELECT n_name, COUNT(DISTINCT s_suppkey) AS n_suppliers,
  ROUND(AVG(s_acctbal), 4) AS avg_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# sorts / top-k (exercises the distributed exact global cut)
# --------------------------------------------------------------------------


def q_global_topk_lineitems(spark, sf):
    li = _t(spark, sf, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    top = global_topk(li, ["l_shipdate", "l_orderkey", "l_linenumber"], 1000)
    return top.select(
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("shipdate"),
        "l_orderkey",
        "l_linenumber",
    )


SQL_TOPK = """
SELECT strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS shipdate, l_orderkey, l_linenumber
FROM lineitem
ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
LIMIT 1000
"""


def q_politeness_selection(spark, sf):
    """The crawl R5 operator (salted per-host windows + exact global budget)
    over a frontier derived from orders — SQL-checkable because R5 reduces to
    per-host ROW_NUMBER + global ORDER BY LIMIT."""
    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.concat(
            F.lit("https://host"),
            (F.col("o_custkey") % 37).cast("string"),
            F.lit(".example/o/"),
            F.col("o_orderkey").cast("string"),
        ).alias("canon_url"),
        (F.col("o_custkey") % 37).cast("string").alias("host"),
        (F.col("o_orderkey") % 5).cast("int").alias("depth"),
        F.col("o_orderkey").alias("disc_seq"),
        F.lit(1).alias("crawl_delay_rounds"),
        # tokens must be a per-HOST constant (the operator's contract —
        # host_state is a per-host dimension), so derive from host id
        (2 + (F.col("o_custkey") % 37) % 4).cast("int").alias("tokens_per_round"),
        F.lit(-1000000).alias("last_round"),
    )
    sel = select_round(frontier, 1, 500, n_salts=4)
    return sel.select("host", "depth", "disc_seq")


SQL_POLITENESS = """
WITH frontier AS (
  SELECT CAST(o_custkey % 37 AS VARCHAR) AS host,
         CAST(o_orderkey % 5 AS INT) AS depth,
         o_orderkey AS disc_seq,
         CAST(2 + (o_custkey % 37) % 4 AS INT) AS tokens
  FROM orders),
per_host AS (
  SELECT host, depth, disc_seq, tokens,
    ROW_NUMBER() OVER (PARTITION BY host ORDER BY depth ASC, disc_seq ASC) AS rn
  FROM frontier)
SELECT host, depth, disc_seq FROM per_host WHERE rn <= tokens
ORDER BY depth ASC, disc_seq ASC LIMIT 500
"""


# --------------------------------------------------------------------------
# events: windows / sessionization / JSON
# --------------------------------------------------------------------------


def q_events_hourly(spark, sf):
    return hourly_type_counts(_t(spark, sf, "events"))


SQL_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
  event_type, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gapped = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.col("ts").cast("timestamp").cast("double")
                - F.col("prev_ts").cast("timestamp").cast("double")
                > 1800.0
            ),
            1,
        ).otherwise(0),
    )
    sess = gapped.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events")
    )
    return per_sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


SQL_SESSIONIZE = """
WITH gapped AS (
  SELECT user_id, event_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800.0
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
sess AS (
  SELECT user_id,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM gapped),
per_sess AS (
  SELECT user_id, sess_id, COUNT(*) AS n_events FROM sess GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events
FROM per_sess GROUP BY user_id
"""


def q_events_json(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


SQL_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
  event_type, COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# crawl-domain: URL canonicalization parity (R1 UDF vs independent SQL)
# --------------------------------------------------------------------------


def q_url_canonicalize(spark, sf):
    """Builds deliberately-messy URLs (mixed case, default port, trailing
    slash) from orders, runs the engine's R1 pandas UDF, and groups by host.
    The SQL twin constructs the canonical form independently — any R1 bug
    breaks the hash match."""
    o = _t(spark, sf, "orders")
    h = (F.col("o_custkey") % 20).cast("string")
    pg = (F.col("o_orderkey") % 100).cast("string")
    messy = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit("HTTPS://Host"), h, F.lit(".Example:443/page/"), pg, F.lit("/")),
    ).otherwise(F.concat(F.lit("https://host"), h, F.lit(".example/page/"), pg))
    canon = o.select(canonicalize_udf(messy).alias("canon_url"))
    return (
        canon.withColumn("host", F.parse_url("canon_url", F.lit("HOST")))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("canon_url").alias("n_urls"),
        )
    )


SQL_CANON = """
SELECT 'host' || CAST(o_custkey % 20 AS VARCHAR) || '.example' AS host,
  COUNT(*) AS n_rows,
  COUNT(DISTINCT 'https://host' || CAST(o_custkey % 20 AS VARCHAR)
        || '.example/page/' || CAST(o_orderkey % 100 AS VARCHAR)) AS n_urls
FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------------
# dedup family (documents)
# --------------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    doubled = d.unionByName(d)  # synthesize duplicates from the given table
    survivors = D.exact_dedup(doubled, "text", "doc_id")
    return survivors.groupBy("source").agg(F.count("*").alias("n_unique"))


SQL_DEDUP_EXACT = """
SELECT source, COUNT(*) AS n_unique FROM (
  SELECT source, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
  FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents))
WHERE rn = 1 GROUP BY source
"""

_SQL_GRAMS3 = (
    "list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))"
)
_SQL_H = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def q_dedup_jaccard(spark, sf):
    # max_doc_freq=64 is the shingle-skew defense (a shingle in f docs makes
    # f² join rows). The SQL twin applies the SAME cap, so Spark and oracle
    # compute identical semantics BY CONSTRUCTION at every scale factor — a
    # future sf bump cannot silently diverge them (r2 advice; previously the
    # twin was uncapped and matched only because max doc-freq < 64 here).
    return D.jaccard_pairs(
        _t(spark, sf, "documents"), "text", "doc_id", k=3, threshold=0.5,
        max_doc_freq=64,
    )


SQL_JACCARD = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
g0 AS (SELECT doc_id, unnest({_SQL_GRAMS3}) AS shingle FROM d),
g AS (SELECT doc_id, shingle FROM (
  SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS f FROM g0)
  WHERE f <= 64),
sz AS (SELECT doc_id, COUNT(*) n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM g a JOIN g b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, ROUND(j, 4) AS jaccard FROM (
  SELECT doc_a, doc_b,
    n_inter::DOUBLE / (sa.n + sb.n - n_inter) AS j
  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id)
WHERE j >= 0.5
"""


def q_dedup_minhash_lsh(spark, sf):
    return D.minhash_lsh_pairs(
        _t(spark, sf, "documents"), "text", "doc_id", k=3, n_hashes=8, bands=4
    )


def _sql_minhash() -> str:
    hcols = ",\n  ".join(
        "list_min(list_transform(grams, g -> "
        + _SQL_H.format(expr=f"g || '#{i}'")
        + f")) AS h{i}"
        for i in range(8)
    )
    bands = []
    for b in range(4):
        c0, c1 = f"h{2*b}", f"h{2*b+1}"
        bands.append(
            f"SELECT l.doc_id AS doc_a, r.doc_id AS doc_b FROM sig l JOIN sig r "
            f"ON l.{c0} = r.{c0} AND l.{c1} = r.{c1} AND l.doc_id < r.doc_id"
        )
    union = "\nUNION\n".join(bands)
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
grams_t AS (SELECT doc_id, {_SQL_GRAMS3} AS grams FROM d),
sig AS (SELECT doc_id,
  {hcols}
FROM grams_t)
SELECT DISTINCT doc_a, doc_b FROM ({union})
"""


SQL_MINHASH = _sql_minhash()


def q_dedup_simhash(spark, sf):
    return D.simhash_pairs(_t(spark, sf, "documents"), "text", "doc_id", max_hamming=3)


def _sql_simhash() -> str:
    # 60 bits, in lockstep with dedup.SIMHASH_BITS (the r5 widening that
    # lets the banded join's key space grow with the hash width); 60 stays a
    # positive BIGINT so xor/bit_count below are exact
    from ..operators.dedup import SIMHASH_BITS as _SB

    votes = ",\n  ".join(
        f"SUM(CASE WHEN (wh >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(_SB)
    )
    bits = " + ".join(
        f"CASE WHEN v{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END" for j in range(_SB)
    )
    h = _SQL_H.format(expr="word")
    return f"""
WITH w AS (
  SELECT doc_id, {h} AS wh
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
        FROM documents)),
votes AS (SELECT doc_id, {votes} FROM w GROUP BY doc_id),
sim AS (SELECT doc_id, {bits} AS simhash FROM votes)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


SQL_SIMHASH = _sql_simhash()


def q_dedup_image_phash(spark, sf):
    """Corpus-level near-duplicate IMAGE detection (operators/dedup.py
    image_dup_pairs): the stored 64-bit perceptual hash (codecs/phash.py —
    computed once at fetch time, so dedup never touches image bytes) joined
    by the banded-Hamming pigeonhole kernel. The driver's sf tables carry no
    image corpus, so the query derives a deterministic 60-bit stand-in
    phash per doc_id and PLANTS a near-dup twin at EXACT Hamming 2 (two
    distinct bit flips at id-derived positions). The engine runs the banded
    equi-join; the DuckDB twin computes exact all-pairs Hamming — the hash
    match is the recall proof (q_dedup_embedding pattern)."""
    base = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("img_id"),
        T.md5_int60(F.col("doc_id").cast("string")).alias("phash"),
    )
    # rename first: Spark resolves lateral aliases, so reusing the img_id
    # name inside one select would bind the flip positions to the TWIN id
    b2 = (
        base.withColumnRenamed("img_id", "oid")
        .withColumn("p1", F.pmod(F.col("oid"), F.lit(60)).cast("int"))
        .withColumn(
            "p2",
            F.pmod(
                F.col("p1") + 1 + F.pmod(F.col("oid"), F.lit(59)), F.lit(60)
            ).cast("int"),
        )
    )
    twin = b2.select(
        (F.col("oid") + 1000000).alias("img_id"),
        F.col("phash")
        .bitwiseXOR(F.expr("shiftleft(1L, p1) | shiftleft(1L, p2)"))
        .alias("phash"),
    )
    return D.image_dup_pairs(
        base.unionByName(twin), "phash", "img_id", max_hamming=6
    )


SQL_IMAGE_PHASH = f"""
WITH base AS (
  SELECT doc_id AS img_id,
         {_SQL_H.format(expr="doc_id::VARCHAR")} AS phash
  FROM documents),
pos AS (
  SELECT img_id, phash,
         CAST(img_id % 60 AS INT) AS p1,
         CAST(((img_id % 60) + 1 + (img_id % 59)) % 60 AS INT) AS p2
  FROM base),
twin AS (
  SELECT img_id + 1000000 AS nid,
         xor(phash, (1::BIGINT << p1) | (1::BIGINT << p2)) AS nph
  FROM pos),
u AS (SELECT img_id, phash FROM base UNION ALL SELECT nid, nph FROM twin)
SELECT a.img_id AS img_a, b.img_id AS img_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM u a JOIN u b ON a.img_id < b.img_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
"""


def q_dedup_clusters(spark, sf):
    """Near-dup pair → CLUSTER resolution (operators/dedup.py dup_clusters):
    distributed connected components by iterative min-label propagation —
    the transitive-closure step every dedup family needs so keep-one-per-
    component is well-defined (A~B, B~C collapses to ONE survivor). Pairs
    here are deterministic chains over documents (doc_id ↔ doc_id+1 except
    across multiples of 5 → components of 5 with diameter 4, forcing real
    multi-round propagation); the DuckDB twin computes the same components
    with a recursive CTE — exact transitive closure, so the hash match
    proves the propagation converged to true component minima."""
    d = _t(spark, sf, "documents").select("doc_id")
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.pmod(F.col("a.doc_id"), F.lit(5)) != 4)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return D.dup_clusters(pairs)


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 5 != 4),
e AS (SELECT doc_a AS a, doc_b AS b FROM p
      UNION SELECT doc_b, doc_a FROM p),
cc(doc_id, lab) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM e) t
  UNION
  SELECT e.a, cc.lab FROM e JOIN cc ON cc.doc_id = e.b
)
SELECT doc_id, MIN(lab) AS cluster_id FROM cc GROUP BY doc_id
"""


def q_dedup_embedding(spark, sf):
    """Embedding near-dup detection with PLANTED near-duplicates: each vector
    gets a twin (vec_id + 100000) perturbed by deterministic trig noise
    (cos ≈ 0.9997), expressible identically in ANSI SQL. The natural max
    pair cosine in the testdata is 0.51, so threshold 0.9 selects exactly
    the planted pairs — a real dedup task (round 1's threshold-0.4 variant
    just harvested the random-pair tail, where no candidate blocking can be
    exact). The engine runs the BANDED sign-LSH blocked plan; the DuckDB
    twin computes the exact all-pairs form — the hash match IS the recall
    proof."""
    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # rename first: Spark resolves a lateral alias, so F.col("vec_id") inside
    # the lambda would otherwise bind to the NEW vec_id+100000 column
    noisy = e.withColumnRenamed("vec_id", "ovid").select(
        (F.col("ovid") + 100000).alias("vec_id"),
        F.transform(
            F.col("v"),
            lambda x, i: x + 0.004 * F.sin(F.col("ovid") * 64 + i),
        ).alias("v"),
    )
    return D.embedding_dup_pairs(
        e.unionByName(noisy), "v", "vec_id", threshold=0.9,
        n_bands=4, rows_per_band=8, dim=64,
    )


SQL_EMBED_DUP = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
noisy AS (SELECT vec_id + 100000 AS nvid,
  list_transform(v, (x, i) -> x + 0.004 * sin(vec_id * 64 + (i - 1))) AS nv
  FROM base),
u AS (SELECT vec_id, v FROM base UNION ALL SELECT nvid, nv FROM noisy),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM u)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
"""


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def q_ann_bruteforce(spark, sf):
    e = _t(spark, sf, "embeddings")
    return S.cosine_topk_bruteforce(e, e.filter(F.col("vec_id") < 5), k=10)


SQL_ANN_BF = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e)
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
  ROUND(list_dot_product(c.v, q.v) / (c.nrm * q.nrm), 4) AS cosine,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_dot_product(c.v, q.v) / (c.nrm * q.nrm) DESC, c.vec_id ASC)
  AS INT) AS rank
FROM n c JOIN n q ON q.vec_id < 5 AND c.vec_id != q.vec_id
QUALIFY rank <= 10
"""


def q_ann_lsh(spark, sf):
    e = _t(spark, sf, "embeddings")
    planes = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("plane_idx"), "embedding"
    )
    # hot_bucket_cap exercises the salted skew guard in the contract plan;
    # the guard is result-identical by construction, so the SQL twin is
    # unchanged (tests/test_dedup_scale.py pins guarded == unguarded)
    return S.lsh_bucketed_topk(e, planes, k=3, hot_bucket_cap=50, n_salts=4)


SQL_ANN_LSH = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
planes AS (SELECT vec_id AS p_idx, v AS pv FROM e WHERE vec_id < 6),
buckets AS (
  SELECT e.vec_id AS vid, e.v,
    SUM(CASE WHEN list_dot_product(e.v, p.pv) > 0
             THEN (1::BIGINT << p_idx) ELSE 0 END) AS bucket
  FROM e CROSS JOIN planes p GROUP BY e.vec_id, e.v),
n AS (SELECT vid, v, bucket, sqrt(list_dot_product(v, v)) nrm FROM buckets)
SELECT a.vid AS query_id, b.vid AS neighbor_id,
  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY a.vid
    ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vid ASC)
  AS INT) AS rank
FROM n a JOIN n b ON a.bucket = b.bucket AND a.vid != b.vid
QUALIFY rank <= 3
"""


def q_ann_ivf(spark, sf):
    """IVF coarse-cell ANN: cells from fixed corpus rows (SQL-expressible
    stand-in for k-means centroids), nprobe=2 recall knob."""
    e = _t(spark, sf, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell_idx"), "embedding"
    )
    # hot_cell_cap exercises the salted cell-skew guard (8 populated cells
    # bound the unguarded join to 8 tasks); results identical by
    # construction, so the SQL twin is unchanged
    return S.ivf_topk(e, centroids, k=3, nprobe=2, hot_cell_cap=50, n_salts=4)


SQL_ANN_IVF = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
cent AS (SELECT vec_id AS cell_idx, v AS cv, sqrt(list_dot_product(v, v)) AS cn
         FROM e WHERE vec_id < 8),
assigned AS (
  SELECT * FROM (
    SELECT n.vec_id AS vid, n.v, n.nrm, c.cell_idx,
      ROW_NUMBER() OVER (PARTITION BY n.vec_id
        ORDER BY list_dot_product(n.v, c.cv) / c.cn DESC, c.cell_idx ASC)
        AS probe_rank
    FROM n CROSS JOIN cent c)
  WHERE probe_rank <= 2),
scored AS (
  SELECT DISTINCT a.vid AS query_id, b.vid AS neighbor_id,
    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
  FROM assigned a JOIN assigned b
    ON a.cell_idx = b.cell_idx AND b.probe_rank = 1 AND a.vid != b.vid)
SELECT query_id, neighbor_id, ROUND(cosine, 4) AS cosine,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
FROM scored QUALIFY rank <= 3
"""


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def q_text_quality(spark, sf):
    d = _spread(_t(spark, sf, "documents"))
    per_doc = d.select(
        "source",
        T.token_count_ws(F.col("text")).alias("tok_ws"),
        T.token_count_bpe(F.col("text")).alias("tok_bpe"),
        T.punct_ratio(F.col("text")).alias("pr"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("tok_ws"), 4).alias("avg_tokens_ws"),
        F.round(F.avg("tok_bpe"), 4).alias("avg_tokens_bpe"),
        F.round(F.avg("pr"), 4).alias("avg_punct_ratio"),
    )


SQL_TEXT_QUALITY = r"""
SELECT source, COUNT(*) AS n_docs,
  ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens_ws,
  ROUND(AVG(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 4) AS avg_tokens_bpe,
  ROUND(AVG((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
            / length(text)), 4) AS avg_punct_ratio
FROM documents GROUP BY source
"""


def q_langid(spark, sf):
    """Stopword-hit language ID, STAGED: the lowered-token array and each
    language's hit count become real projected columns, so each is evaluated
    once per row. The r1-r5 single-column T.langid(text) form repeated the
    split+lower subtree inside every language's filter and every tie-break
    comparison — 5× the lower() calls and 10+ copies of the token-array
    subtree for Catalyst to (maybe) CSE (guide §1.2 "per-task work").
    CollapseProject keeps the stages: each alias is non-cheap and referenced
    more than once. Output identical to T.langid by construction (same hit
    counts, same argmax, same earlier-language tie-break — pinned by a
    parity test)."""
    d = _spread(_t(spark, sf, "documents"))
    langs = list(T.STOPWORDS)
    staged = d.select(
        "lang", F.transform(T.words(F.col("text")), F.lower).alias("__lw")
    )
    def _hit_fn(lg: str):
        # factory, not a default-arg lambda: pyspark reads the lambda's arity
        # to pick the (element) vs (element, index) form
        sw = F.array(*[F.lit(x) for x in T.STOPWORDS[lg]])
        return lambda w: F.array_contains(sw, w)

    hits = staged.select(
        "lang",
        *[
            F.size(F.filter(F.col("__lw"), _hit_fn(lg))).alias(f"__h_{lg}")
            for lg in langs
        ],
    )
    scored = hits.withColumn(
        "__best", F.greatest(*[F.col(f"__h_{lg}") for lg in langs])
    )
    pred = F.lit("und")
    # reverse order so earlier languages win ties via later when() precedence
    for lg in reversed(langs):
        pred = F.when(
            (F.col(f"__h_{lg}") == F.col("__best")) & (F.col("__best") > 0),
            F.lit(lg),
        ).otherwise(pred)
    return (
        scored.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


def _sql_langid() -> str:
    hit_exprs = []
    for lg, ws in T.STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in ws)
        hit_exprs.append(
            f"len(list_filter(string_split(text, ' '), w -> list_contains([{lst}], lower(w)))) AS hit_{lg}"
        )
    hits = ",\n  ".join(hit_exprs)
    langs = list(T.STOPWORDS)
    best = "GREATEST(" + ", ".join(f"hit_{lg}" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN hit_{lg} = best AND best > 0 THEN '{lg}'" for lg in langs
    ) + " ELSE 'und' END"
    return f"""
WITH h AS (SELECT lang, {hits} FROM documents),
p AS (SELECT lang, {best} AS best, * FROM h)
SELECT lang, {case} AS predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
"""


SQL_LANGID = _sql_langid()


def q_fingerprint(spark, sf):
    d = _spread(_t(spark, sf, "documents"))
    return (
        d.select("source", T.fingerprint(F.col("text"), k=4).alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct_fp"),
        )
    )


_SQL_GRAMS4 = (
    "list_distinct(list_transform(range(1, len(w)-2), "
    "i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]))"
)

SQL_FINGERPRINT = f"""
WITH d AS (SELECT source, string_split(text, ' ') w FROM documents),
fp_t AS (SELECT source,
  list_min(list_transform({_SQL_GRAMS4}, g -> {_SQL_H.format(expr='g')})) AS fp
FROM d)
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct_fp
FROM fp_t GROUP BY source
"""


# --------------------------------------------------------------------------
# more window / grouping-sets / set-ops / percentiles / map-json surface
# --------------------------------------------------------------------------


def q_window_ranks(spark, sf):
    """rank / dense_rank / lead / ntile over a deterministic total order."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    ranked = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lead("o_orderkey", 1).over(w).alias("next_key"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return ranked.filter(F.col("rnk") <= 5)


SQL_WINDOW_RANKS = """
SELECT * FROM (
  SELECT o_orderpriority, o_orderkey,
    CAST(RANK() OVER w AS INT) AS rnk,
    CAST(DENSE_RANK() OVER w AS INT) AS drnk,
    LEAD(o_orderkey, 1) OVER w AS next_key,
    CAST(NTILE(4) OVER w AS INT) AS quartile
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC))
WHERE rnk <= 5
"""


def q_grouping_sets(spark, sf):
    """Explicit GROUPING SETS ((status), (priority), ())."""
    o = _t(spark, sf, "orders")
    gs = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n"),
        F.round(_dsum("o_totalprice"), 2).alias("sum_price"),
    )
    return gs.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n",
        "sum_price",
    )


SQL_GROUPING_SETS = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_set_ops(spark, sf):
    """INTERSECT / EXCEPT: customers with urgent orders but no low ones.
    One lazy plan (tagged union → agg) — no driver-side count() actions in
    the query path; the zero-weight seed keeps both segments present even
    when empty, matching the SQL twin's scalar COUNT(*) semantics."""
    o = _t(spark, sf, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    both = urgent.intersect(low)
    only_urgent = urgent.distinct().exceptAll(low.distinct())
    seed = spark.createDataFrame(
        [("both", 0), ("urgent_only", 0)], "segment string, w long"
    )
    tagged = (
        both.select(F.lit("both").alias("segment"), F.lit(1).cast("long").alias("w"))
        .unionByName(
            only_urgent.select(
                F.lit("urgent_only").alias("segment"), F.lit(1).cast("long").alias("w")
            )
        )
        .unionByName(seed)
    )
    return tagged.groupBy("segment").agg(F.sum("w").alias("n"))


SQL_SET_OPS = """
SELECT 'both' AS segment, COUNT(*) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
UNION ALL
SELECT 'urgent_only', COUNT(*) FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
"""


def q_percentiles(spark, sf):
    """Exact interpolated percentiles (median, p95) per group."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        F.round(F.min("l_extendedprice"), 4).alias("mn"),
        F.round(F.max("l_extendedprice"), 4).alias("mx"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
  ROUND(MIN(l_extendedprice), 4) AS mn,
  ROUND(MAX(l_extendedprice), 4) AS mx
FROM lineitem GROUP BY l_returnflag
"""


def q_json_map(spark, sf):
    """props JSON → typed map → explode(map) → agg (map/json surface)."""
    ev = _t(spark, sf, "events")
    m = F.from_json("props", "map<string,int>")
    exploded = ev.select(
        "event_type", F.explode(m).alias("k_name", "k_val")
    )
    return exploded.groupBy("event_type", "k_name").agg(
        F.count("*").alias("n"),
        F.sum(F.col("k_val").cast("long")).alias("sum_val"),
        F.round(F.avg("k_val"), 4).alias("avg_val"),
    )


SQL_JSON_MAP = """
SELECT event_type, 'k' AS k_name, COUNT(*) AS n,
  -- outer cast: DuckDB SUM(BIGINT) yields HUGEINT (int128), which the
  -- driver's value-hash serializes differently from Spark's bigint
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_val,
  ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_val
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# sketches / bitmap / approx distinct / string distance / as-of join
# --------------------------------------------------------------------------


def q_seen_filter_cuckoo(spark, sf):
    """URL-seen pre-filter, CUCKOO backend (operators/cuckoo.py — the other
    half of north_rule's "Bloom/cuckoo"): candidates = orders with
    o_orderkey % 3 = 0, seen-set = lineitem orderkeys with l_orderkey % 2
    = 0; result = candidates not in the seen set. The cuckoo probe routes
    certainly-new rows past the exact anti-join (no false negatives), so the
    output is EXACT and the plain anti-join SQL twin hash-matches — the same
    traffic-reducer contract the crawl's Bloom path has, plus deletability."""
    from ..operators.cuckoo import CuckooSeen
    from ..operators.seen import filter_new

    ck = CuckooSeen(n_buckets=64, m_slots=1 << 12, ways=4)
    cand = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(F.col("o_orderkey").alias("url_hash"))
    )
    seen = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 2 == 0)
        .select(F.col("l_orderkey").alias("url_hash"))
        .distinct()
    )
    shards = ck.build(seen)
    return filter_new(cand, seen, ck, shards).select(
        F.col("url_hash").alias("o_orderkey")
    )


SQL_SEEN_CUCKOO = """
SELECT o_orderkey FROM orders
WHERE o_orderkey % 3 = 0
  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_orderkey % 2 = 0)
"""


def q_bitmap_distinct(spark, sf):
    """Exact distinct via Spark's bitmap agg surface (bitmap_bucket_number /
    bitmap_bit_position / bitmap_construct_agg / bitmap_count) — the exact
    small-scale twin of the crawl's URL-seen structure. Oracle: plain
    COUNT(DISTINCT)."""
    li = _t(spark, sf, "lineitem")
    per_bucket = (
        li.select(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_partkey)").alias("b"),
            F.expr("bitmap_bit_position(l_partkey)").alias("p"),
        )
        .groupBy("l_returnflag", "b")
        .agg(F.expr("bitmap_construct_agg(p)").alias("bm"))
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_parts")
    )


SQL_BITMAP = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_distinct(spark, sf):
    """HLL monitoring surface (approx_count_distinct + hll_sketch_agg/
    hll_union_agg merge path). Approximation algorithms differ across
    engines, so this is a rows-only check (no oracle) — the EXACT twin is
    q_bitmap_distinct."""
    li = _t(spark, sf, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.expr("hll_sketch_agg(l_partkey)").alias("sk"),
        F.approx_count_distinct("l_suppkey").alias("approx_suppliers"),
    )
    return per_flag.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_parts_total"),
        F.sum("approx_suppliers").alias("approx_suppliers_sum"),
    )


def q_levenshtein(spark, sf):
    """String-distance QA surface (caption comparisons in the crawl domain)."""
    p = _t(spark, sf, "part")
    return (
        p.withColumn("lev", F.levenshtein(F.col("p_name"), F.col("p_type")))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("lev"), 4).alias("avg_lev"),
            F.max("lev").alias("max_lev"),
        )
    )


SQL_LEVENSHTEIN = """
SELECT p_brand, COUNT(*) AS n,
  ROUND(AVG(levenshtein(p_name, p_type)), 4) AS avg_lev,
  MAX(levenshtein(p_name, p_type)) AS max_lev
FROM part GROUP BY p_brand
"""


def q_asof_join(spark, sf):
    """events ⟕asof orders: latest order (by o_orderdate) per user key at or
    before each event. Spark: cogrouped pd.merge_asof; oracle: DuckDB's
    native ASOF JOIN."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf, "events").select(
        "event_id", (F.col("user_id") % 50).alias("k"), F.col("ts").alias("ets")
    )
    o = _t(spark, sf, "orders").select(
        (F.col("o_custkey") % 50).alias("k"),
        F.col("o_orderdate").alias("ots"),
        "o_orderkey",
    )
    # unique time per key for cross-engine determinism
    o_uniq = o.groupBy("k", "ots").agg(F.max("o_orderkey").alias("ref_order"))
    joined = asof_join(
        ev,
        o_uniq,
        key="k",
        left_time="ets",
        right_time="ots",
        out_schema="event_id long, k long, ets timestamp_ntz, ref_order long",
        right_cols=["ref_order"],
    )
    return joined.select("event_id", "k", "ref_order")


SQL_ASOF = """
WITH ev AS (SELECT event_id, user_id % 50 AS k, ts AS ets FROM events),
o AS (SELECT o_custkey % 50 AS k, o_orderdate AS ots, MAX(o_orderkey) AS ref_order
      FROM orders GROUP BY 1, 2)
SELECT event_id, ev.k AS k, ref_order
FROM ev ASOF LEFT JOIN o ON ev.k = o.k AND ev.ets >= o.ots
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q03_shipping_priority": q03_shipping_priority,
    "q05_region_revenue": q05_region_revenue,
    "q_brand_part_agg": q_brand_part_agg,
    "q_customers_without_orders": q_customers_without_orders,
    "q_urgent_customer_nations": q_urgent_customer_nations,
    "q_top_orders_per_customer": q_top_orders_per_customer,
    "q_order_gaps": q_order_gaps,
    "q_rollup_lineitem": q_rollup_lineitem,
    "q_cube_orders": q_cube_orders,
    "q_nation_suppliers": q_nation_suppliers,
    "q_global_topk_lineitems": q_global_topk_lineitems,
    "q_politeness_selection": q_politeness_selection,
    "q_events_hourly": q_events_hourly,
    "q_sessionize": q_sessionize,
    "q_events_json": q_events_json,
    "q_url_canonicalize": q_url_canonicalize,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_jaccard": q_dedup_jaccard,
    "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_image_phash": q_dedup_image_phash,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_embedding": q_dedup_embedding,
    "q_ann_bruteforce": q_ann_bruteforce,
    "q_ann_lsh": q_ann_lsh,
    "q_ann_ivf": q_ann_ivf,
    "q_text_quality": q_text_quality,
    "q_langid": q_langid,
    "q_fingerprint": q_fingerprint,
    "q_seen_filter_cuckoo": q_seen_filter_cuckoo,
    "q_bitmap_distinct": q_bitmap_distinct,
    "q_approx_distinct": q_approx_distinct,
    "q_levenshtein": q_levenshtein,
    "q_asof_join": q_asof_join,
    "q_window_ranks": q_window_ranks,
    "q_grouping_sets": q_grouping_sets,
    "q_set_ops": q_set_ops,
    "q_percentiles": q_percentiles,
    "q_json_map": q_json_map,
}

ORACLE_SQL: dict[str, str] = {
    "q01_pricing_summary": SQL_Q01,
    "q03_shipping_priority": SQL_Q03,
    "q05_region_revenue": SQL_Q05,
    "q_brand_part_agg": SQL_BRAND,
    "q_customers_without_orders": SQL_NO_ORDERS,
    "q_urgent_customer_nations": SQL_URGENT,
    "q_top_orders_per_customer": SQL_TOP_ORDERS,
    "q_order_gaps": SQL_GAPS,
    "q_rollup_lineitem": SQL_ROLLUP,
    "q_cube_orders": SQL_CUBE,
    "q_nation_suppliers": SQL_NATION_SUPP,
    "q_global_topk_lineitems": SQL_TOPK,
    "q_politeness_selection": SQL_POLITENESS,
    "q_events_hourly": SQL_HOURLY,
    "q_sessionize": SQL_SESSIONIZE,
    "q_events_json": SQL_JSON,
    "q_url_canonicalize": SQL_CANON,
    "q_dedup_exact": SQL_DEDUP_EXACT,
    "q_dedup_jaccard": SQL_JACCARD,
    "q_dedup_minhash_lsh": SQL_MINHASH,
    "q_dedup_simhash": SQL_SIMHASH,
    "q_dedup_image_phash": SQL_IMAGE_PHASH,
    "q_dedup_clusters": SQL_DEDUP_CLUSTERS,
    "q_dedup_embedding": SQL_EMBED_DUP,
    "q_ann_bruteforce": SQL_ANN_BF,
    "q_ann_lsh": SQL_ANN_LSH,
    "q_ann_ivf": SQL_ANN_IVF,
    "q_text_quality": SQL_TEXT_QUALITY,
    "q_langid": SQL_LANGID,
    "q_fingerprint": SQL_FINGERPRINT,
    "q_seen_filter_cuckoo": SQL_SEEN_CUCKOO,
    "q_bitmap_distinct": SQL_BITMAP,
    # q_approx_distinct: intentionally no oracle (approx algorithms differ
    # across engines) — driver records the weaker rows-only check.
    "q_levenshtein": SQL_LEVENSHTEIN,
    "q_asof_join": SQL_ASOF,
    "q_window_ranks": SQL_WINDOW_RANKS,
    "q_grouping_sets": SQL_GROUPING_SETS,
    "q_set_ops": SQL_SET_OPS,
    "q_percentiles": SQL_PERCENTILES,
    "q_json_map": SQL_JSON_MAP,
}
