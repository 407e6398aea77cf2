"""Relational operator coverage (SURVEY.md §2.2-§2.7) over the TPC-H-ish tables.

Every reference operator class gets a Spark-first implementation and a DuckDB
oracle. Scale notes are inline: broadcast hints where a dim is small, windowed
top-k instead of sort-all, aggregate pushdown left to Catalyst.

Float discipline for oracle hashing: every float aggregate is rounded (2-6 dp)
on BOTH sides so summation-order ulp drift cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgx.ops import load


# --- §2.4 aggregations: TPC-H Q1 pricing summary ---------------------------- #
def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                          AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                     AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)                          AS avg_qty,
       COUNT(*)                                           AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- §2.2 projection / isin filter ------------------------------------------ #
def q02_filter_isin(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_totalprice") > 1000.0)
    ).select("o_orderkey", "o_orderpriority", F.round("o_totalprice", 2).alias("price"))


Q02_SQL = """
SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2) AS price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice > 1000.0
"""


# --- §2.2 regex predicate ---------------------------------------------------- #
def q03_regex_filter(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    return (
        p.filter(F.col("p_name").rlike("^(red|green) "))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


Q03_SQL = """
SELECT p_brand, COUNT(*) AS n_parts
FROM part WHERE regexp_matches(p_name, '^(red|green) ')
GROUP BY p_brand
"""


# --- §2.2 null/zero filtering ------------------------------------------------ #
def q04_null_zero_filter(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.na.drop(subset=["l_quantity"])
        .filter(F.col("l_discount") != 0.0)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )


Q04_SQL = """
SELECT l_returnflag, COUNT(*) AS n
FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount <> 0.0
GROUP BY l_returnflag
"""


# --- §2.2 dedup / distinct ---------------------------------------------------- #
def q05_distinct(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()


Q05_SQL = "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"


# --- §2.3 full outer join + coalesce fill (ghg AO⟗CB pattern) --------------- #
def q06_outer_join_coalesce(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    y95 = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n95"))
    )
    y96 = (
        o.filter(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n96"))
    )
    return (
        y95.join(y96, "o_custkey", "full")
        .select(
            "o_custkey",
            F.coalesce("n95", F.lit(0)).alias("n95"),
            F.coalesce("n96", F.lit(0)).alias("n96"),
        )
    )


Q06_SQL = """
WITH y95 AS (SELECT o_custkey, COUNT(*) AS n95 FROM orders
             WHERE EXTRACT(year FROM o_orderdate) = 1995 GROUP BY o_custkey),
     y96 AS (SELECT o_custkey, COUNT(*) AS n96 FROM orders
             WHERE EXTRACT(year FROM o_orderdate) = 1996 GROUP BY o_custkey)
SELECT COALESCE(y95.o_custkey, y96.o_custkey) AS o_custkey,
       COALESCE(n95, 0) AS n95, COALESCE(n96, 0) AS n96
FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey
"""


# --- §2.3 composite-key inner join ------------------------------------------- #
def q07_composite_join(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue and item count per order priority over 1996's orders.

    The revenue is summed in DECIMAL and cast back to double after the
    cent rounding, here and in Q07_SQL. Summed as doubles, a group whose
    exact sum ends in half a cent lands a few ulps above or below it
    depending on the addition order, and Spark and DuckDB rounded such sums
    to opposite cents (perfbench/gen.write_tables sf0.01 seeds 87, 111, 145
    and 147). The money columns hold cents, so DECIMAL(15, 2) takes them
    exactly and the sum has one answer.

    The join carries no broadcast hint: one year of (key, priority) pairs
    is small at bench scales, but a hint would hold it on the driver at
    any scale; AQE broadcasts it from its measured size when it fits the
    session's threshold."""
    li, o = load(spark, sf, "lineitem"), load(spark, sf, "orders")
    o96 = o.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_orderpriority"
    )
    money = "decimal(15,2)"
    revenue = F.sum(
        F.col("l_extendedprice").cast(money) * (1 - F.col("l_discount").cast(money))
    )
    return (
        li.join(o96, li.l_orderkey == o96.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(revenue, 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q07_SQL = """
SELECT o_orderpriority,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15, 2))
                 * (1 - CAST(l_discount AS DECIMAL(15, 2)))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE EXTRACT(year FROM o_orderdate) = 1996
GROUP BY o_orderpriority
"""


# --- §2.3 left-join enrichment chain + §2.3 broadcast lookup ------------------ #
def q08_left_enrich(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


Q08_SQL = """
SELECT r_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
              LEFT JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- §2.3 broadcast-map lookup (category->question shape) --------------------- #
def q09_broadcast_lookup(spark: SparkSession, sf: str) -> DataFrame:
    n = load(spark, sf, "nation")
    # literal map column, the create_map() mirror of Series.map(QUESTION_MAPPING)
    m = F.create_map(
        F.lit(0), F.lit("AFRICA"), F.lit(1), F.lit("AMERICA"),
        F.lit(2), F.lit("ASIA"), F.lit(3), F.lit("EUROPE"),
        F.lit(4), F.lit("MIDDLE EAST"),
    )
    return n.select("n_name", m[F.col("n_regionkey")].alias("region_name"))


Q09_SQL = """
SELECT n_name,
       CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
            WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE' WHEN 4 THEN 'MIDDLE EAST'
       END AS region_name
FROM nation
"""


# --- §2.3 existence semi join (methodology-code validation shape) ------------- #
def q10_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    s = load(spark, sf, "supplier")
    li = load(spark, sf, "lineitem")
    # no distinct() on the right side: left_semi already emits each supplier
    # at most once, and the distinct forced a full aggregate+exchange over
    # the LARGEST table before the join for identical output
    return s.join(
        li.select("l_suppkey"), s.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


Q10_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
"""


# --- §2.2/§2.3 anti join (processed-set resume primitive) --------------------- #
def q11_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive"))
    )


Q11_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_inactive
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


# --- §2.4 group -> ordered collect (map/list collect shape) -------------------- #
def q12_group_collect(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("linenumbers"),
            F.count("*").alias("n_lines"),
        )
    )


Q12_SQL = """
SELECT l_orderkey,
       string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS linenumbers,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY l_orderkey
"""


# --- §2.4 group -> map collect (GHG year->value shape) ------------------------- #
def q13_map_collect(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    per_year = (
        o.groupBy("o_custkey", F.year("o_orderdate").alias("yr"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("v"))
    )
    return (
        per_year.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("yr", "v"))),
                    lambda s: F.concat(
                        s["yr"].cast("string"), F.lit(":"), s["v"].cast("string")
                    ),
                ),
                ";",
            ).alias("year_totals")
        )
    )


Q13_SQL = """
WITH per_year AS (
  SELECT o_custkey, EXTRACT(year FROM o_orderdate)::INT AS yr,
         ROUND(SUM(o_totalprice), 2) AS v
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       string_agg(yr::VARCHAR || ':' || v::VARCHAR, ';' ORDER BY yr) AS year_totals
FROM per_year GROUP BY o_custkey
"""


# --- §2.4 pivot ---------------------------------------------------------------- #
def q14_pivot(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.withColumn("yr", F.year("o_orderdate"))
        .filter(F.col("yr").isin(1995, 1996, 1997))
        .groupBy("o_orderpriority")
        .pivot("yr", [1995, 1996, 1997])
        .count()
        .na.fill(0)
        .withColumnRenamed("1995", "y1995")
        .withColumnRenamed("1996", "y1996")
        .withColumnRenamed("1997", "y1997")
    )


Q14_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (EXTRACT(year FROM o_orderdate) = 1995) AS y1995,
       COUNT(*) FILTER (EXTRACT(year FROM o_orderdate) = 1996) AS y1996,
       COUNT(*) FILTER (EXTRACT(year FROM o_orderdate) = 1997) AS y1997
FROM orders WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996, 1997)
GROUP BY o_orderpriority
"""


# --- §2.4 unpivot / melt (wide->long EAV, the triple shape) --------------------- #
def q15_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    return c.selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', round(c_acctbal, 2), "
        "'nationkey', cast(c_nationkey as double)) AS (attr, val)",
    )


Q15_SQL = """
SELECT c_custkey, 'acctbal' AS attr, ROUND(c_acctbal, 2) AS val FROM customer
UNION ALL
SELECT c_custkey, 'nationkey' AS attr, c_nationkey::DOUBLE AS val FROM customer
"""


# --- §2.5 top-k per group (most-recent-PDD shape) -------------------------------- #
def q16_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    # Round 7: the partial WindowGroupLimit (top-3 pre-filter) and its sort
    # run INSIDE the scan tasks, and a row-group-bound parquet pins those to
    # a couple of cores; an explicit hash repartition on the window key
    # moves the whole sort above the exchange (the window reuses the
    # partitioning, so there is still exactly one exchange) and the scan
    # tasks do nothing but project and write shuffle blocks.
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .repartition("o_custkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn", F.round("o_totalprice", 2).alias("price"))
    )


Q16_SQL = """
SELECT o_custkey, o_orderkey, rn, ROUND(o_totalprice, 2) AS price
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


# --- §2.5 lead window (section end_page = next start shape) ---------------------- #
def q17_lead_window(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").withColumn("tsx", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn(
            "gap_s",
            (F.unix_micros(F.lead("tsx").over(w)) - F.unix_micros("tsx")) / 1_000_000,
        )
        .filter(F.col("gap_s").isNotNull())
        .select("event_id", "user_id", F.round("gap_s", 3).alias("gap_s"))
    )


Q17_SQL = """
SELECT event_id, user_id,
       ROUND(epoch(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - ts),
             3) AS gap_s
FROM events QUALIFY gap_s IS NOT NULL
"""


# --- §2.4 stratified quota: top-N per stratum (split-building shape) -------------- #
def q18_stratified_quota(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("c_mktsegment", "c_custkey", "rn")
    )


Q18_SQL = """
SELECT c_mktsegment, c_custkey, rn FROM (
  SELECT c_mktsegment, c_custkey,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 5
"""


# --- §2.6 set difference (unprocessed = all - processed shape) --------------------- #
def q19_set_except(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    a = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    b = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return a.subtract(b)  # EXCEPT (distinct) semantics


Q19_SQL = """
SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
"""


# --- §2.6 union (concat strata shape) ----------------------------------------------- #
def q20_union(spark: SparkSession, sf: str) -> DataFrame:
    s = load(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    c = load(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src")
    )
    return s.unionByName(c)


Q20_SQL = """
SELECT s_name AS name, 'supplier' AS src FROM supplier
UNION ALL
SELECT c_name AS name, 'customer' AS src FROM customer
"""


# --- §2.7 multi-format date parse + coalesce (formatter.py:159-165 shape) ----------- #
def q21_date_parse(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    as_str = F.when(
        F.col("o_orderkey") % 2 == 0, F.date_format("o_orderdate", "dd/MM/yyyy")
    ).otherwise(F.date_format("o_orderdate", "MMMM dd, yyyy"))
    # try_to_date: Spark 4 ANSI mode makes to_date throw on mismatch; the
    # errors='coerce' equivalent (formatter.py:159-165) is the try_ variant
    parsed = F.expr(
        "coalesce(try_to_date(ds, 'dd/MM/yyyy'), try_to_date(ds, 'MMMM dd, yyyy'))"
    )
    return (
        o.select(as_str.alias("ds"))
        .select(parsed.alias("d"))
        .groupBy(F.date_format("d", "yyyy-MM").alias("ym"))
        .agg(F.count("*").alias("n"))
    )


Q21_SQL = """
WITH s AS (
  SELECT CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%d/%m/%Y')
              ELSE strftime(o_orderdate, '%B %d, %Y') END AS ds
  FROM orders
), p AS (
  SELECT COALESCE(try_strptime(ds, '%d/%m/%Y'), try_strptime(ds, '%B %d, %Y')) AS d
  FROM s
)
SELECT strftime(d, '%Y-%m') AS ym, COUNT(*) AS n FROM p GROUP BY 1
"""


# --- §2.7 regex extract + string normalization --------------------------------------- #
def q22_regex_extract(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "^(\\w+)", 1).alias("first_word"),
        F.regexp_replace(F.lower("p_type"), "\\s+", "_").alias("type_slug"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
    )


Q22_SQL = """
SELECT p_partkey,
       regexp_extract(p_name, '^(\\w+)', 1)             AS first_word,
       regexp_replace(lower(p_type), '\\s+', '_', 'g')  AS type_slug,
       regexp_extract(p_brand, '([0-9]+)', 1)           AS brand_num
FROM part
"""


# --- §2.7 JSON parse (from_json schema-validation point) ------------------------------ #
def q23_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    parsed = F.from_json("props", "k INT")
    return (
        e.withColumn("k", parsed["k"])
        .groupBy("event_type")
        .agg(
            # explicit long casts on BOTH engines: DuckDB SUM(INT) yields HUGEINT,
            # whose stringification differs from Spark's bigint and flips the
            # driver's value hash (round-1 q23 hash_match=false).
            F.sum("k").cast("long").alias("sum_k"),
            F.count(F.when(F.col("k").isNull(), 1)).cast("long").alias("null_k"),
        )
    )


Q23_SQL = """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
       CAST(COUNT(CASE WHEN CAST(props->>'$.k' AS INT) IS NULL THEN 1 END) AS BIGINT) AS null_k
FROM events GROUP BY event_type
"""


# --- §2.7 sha2 content hash (lineage column shape, app.py:309-317) --------------------- #
def q24_sha256(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return d.select("doc_id", F.sha2(F.col("text"), 256).alias("content_sha"))


Q24_SQL = "SELECT doc_id, sha256(text) AS content_sha FROM documents"


# --- sessionization (lag + cumsum gap>threshold) ---------------------------------------- #
def q25_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").withColumn("tsx", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros("tsx") - F.unix_micros(F.lag("tsx").over(w))) / 1_000_000
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            # long casts on both engines (DuckDB windowed SUM -> HUGEINT; see q23)
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


Q25_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         epoch(ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
), s AS (
  SELECT user_id,
         SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id
"""


# --- rollup (grouping-sets demo; not in reference — noted in SURVEY §2.4) ---------------- #
def q26_rollup(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal"))
    )


Q26_SQL = """
SELECT r_name, n_name, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# --- §2.4 extract-all + unstack (two dates from a string, formatter.py:163) ---------- #
def q27_extractall(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    s = F.concat(
        F.lit("from "), F.date_format("o_orderdate", "dd/MM/yyyy"),
        F.lit(" until "), F.date_format(F.date_add("o_orderdate", 364), "dd/MM/yyyy"),
    )
    dates = F.regexp_extract_all(s, F.lit("([0-9]{2}/[0-9]{2}/[0-9]{4})"), 1)
    return o.select(
        "o_orderkey",
        F.element_at(dates, 1).alias("start_s"),
        F.element_at(dates, 2).alias("end_s"),
    )


Q27_SQL = """
WITH s AS (
  SELECT o_orderkey,
         'from ' || strftime(o_orderdate, '%d/%m/%Y') || ' until '
                 || strftime(o_orderdate + INTERVAL 364 DAY, '%d/%m/%Y') AS txt
  FROM orders
)
SELECT o_orderkey,
       regexp_extract_all(txt, '([0-9]{2}/[0-9]{2}/[0-9]{4})', 1)[1] AS start_s,
       regexp_extract_all(txt, '([0-9]{2}/[0-9]{2}/[0-9]{4})', 1)[2] AS end_s
FROM s
"""


# --- §2.3 positional zip join (evaluation.py:56-58: zip two files by row order) -------- #
def with_global_position(
    df: DataFrame, *order_cols: str, col_name: str = "rn", n_parts: int | None = None
) -> DataFrame:
    """1-based global position in (order_cols) order WITHOUT a single-reducer
    global window — zipWithIndex semantics in DataFrame ops:

    1. range-repartition + sort within partitions on the order columns
       (localCheckpoint freezes the partitioning so the count job and the
       position job see identical partitions);
    2. count rows per partition — a tiny O(#partitions) collect;
    3. rn = row_number within partition + broadcast cumulative offset of all
       earlier partitions.

    Every stage is all-partitions-parallel; the global Window.orderBy variant
    (one task streams every row) is kept only as a test-time equivalence
    check (tests/test_plans.py)."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = spark.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["n"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(v) for pid_off in sorted(offsets.items()) for v in pid_off]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return d.withColumn(
        col_name, F.row_number().over(w) + off_map[F.col("_pid")]
    ).drop("_pid")


def q28_zip_join(spark: SparkSession, sf: str) -> DataFrame:
    """Two deterministically-ordered sides joined on their global position —
    the keyed equivalent of the reference's positional zip of prompts and
    answers. Positions come from with_global_position (per-partition offsets),
    not a partition-less window, so no single task sees every row."""
    c = load(spark, sf, "customer")
    s = load(spark, sf, "supplier")
    left = with_global_position(c.select("c_custkey", "c_name"), "c_custkey")
    right = with_global_position(s.select("s_suppkey", "s_name"), "s_suppkey")
    return left.join(right, "rn", "inner").select("rn", "c_name", "s_name")


def zip_join_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """The global-window formulation — single-reducer, kept as the equivalence
    oracle for with_global_position."""
    c = load(spark, sf, "customer")
    s = load(spark, sf, "supplier")
    wc = Window.orderBy("c_custkey")
    ws = Window.orderBy("s_suppkey")
    left = c.select(F.row_number().over(wc).alias("rn"), F.col("c_name"))
    right = s.select(F.row_number().over(ws).alias("rn"), F.col("s_name"))
    return left.join(right, "rn", "inner").select("rn", "c_name", "s_name")


Q28_SQL = """
WITH l AS (SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn, c_name FROM customer),
     r AS (SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) AS rn, s_name FROM supplier)
SELECT l.rn AS rn, c_name, s_name FROM l JOIN r ON l.rn = r.rn
"""


# --- approximate distinct (metrics counter; approx -> rows-only vs oracle) ------------- #
def q29_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct as the snapshot-metrics counter (SURVEY.md §2.4
    note). No SQL oracle: HLL estimates differ between engines by design;
    tests assert the estimate is within 5%% of exact."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.count("*").alias("n"),
    )


QUERIES = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_filter_isin": (q02_filter_isin, Q02_SQL),
    "q03_regex_filter": (q03_regex_filter, Q03_SQL),
    "q04_null_zero_filter": (q04_null_zero_filter, Q04_SQL),
    "q05_distinct": (q05_distinct, Q05_SQL),
    "q06_outer_join_coalesce": (q06_outer_join_coalesce, Q06_SQL),
    "q07_composite_join": (q07_composite_join, Q07_SQL),
    "q08_left_enrich": (q08_left_enrich, Q08_SQL),
    "q09_broadcast_lookup": (q09_broadcast_lookup, Q09_SQL),
    "q10_semi_join": (q10_semi_join, Q10_SQL),
    "q11_anti_join": (q11_anti_join, Q11_SQL),
    "q12_group_collect": (q12_group_collect, Q12_SQL),
    "q13_map_collect": (q13_map_collect, Q13_SQL),
    "q14_pivot": (q14_pivot, Q14_SQL),
    "q15_unpivot": (q15_unpivot, Q15_SQL),
    "q16_topk_per_group": (q16_topk_per_group, Q16_SQL),
    "q17_lead_window": (q17_lead_window, Q17_SQL),
    "q18_stratified_quota": (q18_stratified_quota, Q18_SQL),
    "q19_set_except": (q19_set_except, Q19_SQL),
    "q20_union": (q20_union, Q20_SQL),
    "q21_date_parse": (q21_date_parse, Q21_SQL),
    "q22_regex_extract": (q22_regex_extract, Q22_SQL),
    "q23_json_extract": (q23_json_extract, Q23_SQL),
    "q24_sha256": (q24_sha256, Q24_SQL),
    "q25_sessionize": (q25_sessionize, Q25_SQL),
    "q26_rollup": (q26_rollup, Q26_SQL),
    "q27_extractall": (q27_extractall, Q27_SQL),
    "q28_zip_join": (q28_zip_join, Q28_SQL),
    "q29_approx_distinct": (q29_approx_distinct, None),
}
