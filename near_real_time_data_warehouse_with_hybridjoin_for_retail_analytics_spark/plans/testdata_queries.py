"""SURVEY §2.12's 20-query OLAP surface over the driver's testdata schema.

The reference's star schema (walmartdw: Sales fact + Customer/Product/
Store/Supplier/Date dims, /root/reference/star_schema.sql:16-67) maps
onto the testdata tables per FIXTURES.md §B:

    fact `Sales`            -> lineitem (revenue = l_extendedprice,
                               units = l_quantity, date = l_shipdate)
    Customer demographics   -> customer.c_mktsegment ("segment") and the
                               customer's nation n_name ("nation")
    Product dim             -> part.p_brand ("brand"), p_retailprice
    Supplier dim            -> supplier.s_name; supplier's nation plays
                               the "store" hierarchy level
    Date dim                -> derived from l_shipdate (functions.dates)

Each query exists twice: a DataFrame-API plan (registered in QUERIES)
and an ANSI-SQL oracle for DuckDB (ORACLES). Determinism rules that make
the driver's order-insensitive value-hash comparison stable:

  * money aggregates go through exact DECIMAL(18,4) sums on BOTH engines
    (functions.money) — order-independent, bitwise-identical doubles;
  * every LIMIT / ROW_NUMBER ordering carries explicit tiebreak keys
    forming a total order;
  * int date-parts are cast to INT on both engines (DuckDB's month()
    returns BIGINT);
  * post-aggregation arithmetic (growth %, spike ratios) uses the same
    expression tree on both engines — IEEE-identical doubles.

Scale notes (the 100 TB view): dims (part/customer/supplier/nation) are
broadcast — no shuffle for star joins; the only shuffles are the
aggregation exchanges on the (low-cardinality) group keys and the
lineitem⋈orders join, which is left to Catalyst/AQE (broadcast at test
scale, shuffle join with AQE skew-splitting at cluster scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import ensure_star, load_table
from .registry import ORACLES, QUERIES, query  # noqa: F401 (re-exported)
from ..functions.dates import is_weekend, month_i, quarter_i, season, year_i
from ..functions.money import (
    SQL_DAVG,
    SQL_DSUM,
    SQL_DSUM_IF,
    SQL_LSUM,
    SQL_LSUM_IF,
    davg,
    dec,
    dsum,
    dsum_if,
    lsum,
    lsum_if,
)

REV = "l_extendedprice"  # the sales_amount analog
QTY = "l_quantity"

# The three star axes are served from the materialized pre-joined fact
# (catalog.ensure_star): the reference's ETL resolves every dimension
# BEFORE queries.sql runs, so its queries never pay a fact-sized join
# at query time — the testdata twins get the identical contract. The
# join plans below are the one-time ETL (``build``); ensure_star adds
# the derived columns (l_year, l_month, l_weekend, l_date, l_cents and
# the pre-cast measures), so the queries read them whether the star is
# served from parquet or, when the store cannot serve a current copy,
# inline. Values are the same either way: the star is the inner-join
# output plus those exact expressions, round-tripped through parquet.


def _fact_part(spark, sf_dir) -> DataFrame:
    """lineitem ⋈ broadcast(part), materialized once per corpus."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        pt = load_table(spark, sf_dir, "part")
        return li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)

    return ensure_star(spark, sf_dir, "part", ("lineitem", "part"), build)


def _fact_customer(spark, sf_dir) -> DataFrame:
    """lineitem ⋈ orders ⋈ broadcast(customer) ⋈ broadcast(nation),
    materialized once per corpus.

    In ``build``, orders is deliberately NOT broadcast-
    hinted: it is a fact-sized table at scale; AQE picks broadcast at
    test scale on its own.
    """

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders")
        cu = load_table(spark, sf_dir, "customer")
        na = load_table(spark, sf_dir, "nation")
        return (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
            .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        )

    return ensure_star(
        spark,
        sf_dir,
        "customer",
        ("lineitem", "orders", "customer", "nation"),
        build,
    )


def _fact_supplier(spark, sf_dir) -> DataFrame:
    """lineitem ⋈ broadcast(supplier) ⋈ broadcast(nation) — 'store'
    axis — materialized once per corpus."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        su = load_table(spark, sf_dir, "supplier")
        na = load_table(spark, sf_dir, "nation")
        return li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey).join(
            F.broadcast(na), su.s_nationkey == na.n_nationkey
        )

    return ensure_star(
        spark, sf_dir, "supplier", ("lineitem", "supplier", "nation"), build
    )


def _latest_year(df: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter to the max year — reference 'latest_year' CTE (queries.sql:32-38).

    The scalar is computed from the BARE lineitem table (a single
    column-pruned scan of ``l_shipdate``), exactly as the oracle SQL
    scopes it (``FROM lineitem``) — NOT from the already-joined star
    relation: Catalyst does not share subtrees, so deriving the scalar
    from ``df`` would scan and join the whole star twice.

    The 1-row scalar is collected to the DRIVER (a bounded scalar
    read, same class as the centroid/metadata collects elsewhere) and
    applied as a LITERAL filter, not joined as a runtime subquery: the
    round-14 sf1 adjudication found Spark never inserts dynamic
    partition pruning for a scalar-aggregate build side (the DPP rule
    requires a selective Filter on the filtering side), so the
    broadcast-join form scanned EVERY year of the star — the 0.47
    decade exponent at sf1. A literal on the star's l_year PARTITION
    column is a static PartitionFilter: cold years never leave the
    file listing, at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate")
    maxy = li.select(F.max(year_i("l_shipdate"))).collect()[0][0]
    if maxy is None:
        return df.filter(F.lit(False))
    return df.filter(F.col("l_year") == F.lit(int(maxy)))


_SQL_LATEST_YEAR = (
    "CAST(year(l_shipdate) AS INT) = (SELECT CAST(max(year(l_shipdate)) AS INT) FROM lineitem)"
)


# --------------------------------------------------------------------------
# Q1 — top revenue brands weekday/weekend, monthly; GLOBAL limit 5
# (reference queries.sql:6-12; the global-LIMIT semantic is reproduced
#  faithfully — Q11 is the per-group-top-k corrected version)
# --------------------------------------------------------------------------
@query(
    "q01_top_brands_month_weekend",
    f"""
    SELECT CAST(month(l_shipdate) AS INT) AS monthnum,
           dayofweek(l_shipdate) IN (0, 6) AS is_weekend,
           p_brand AS brand,
           {SQL_DSUM.format(c=REV)} AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2, 3
    ORDER BY monthnum, is_weekend, total_revenue DESC, brand
    LIMIT 5
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _fact_part(spark, sf_dir)
    return (
        f.groupBy(
            F.col("l_month").alias("monthnum"),
            F.col("l_weekend").alias("is_weekend"),
            F.col("p_brand").alias("brand"),
        )
        .agg(dsum(REV).alias("total_revenue"))
        .orderBy("monthnum", "is_weekend", F.desc("total_revenue"), "brand")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Q2 — customer demographics by purchase amount (queries.sql:17-20)
# --------------------------------------------------------------------------
@query(
    "q02_segment_demographics",
    f"""
    SELECT c_mktsegment AS segment, n_name AS nation,
           {SQL_DSUM.format(c=REV)} AS total_spent,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY 1, 2
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _fact_customer(spark, sf_dir)
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("n_name").alias("nation"))
        .agg(dsum(REV).alias("total_spent"), lsum(QTY).alias("total_units"))
    )


# --------------------------------------------------------------------------
# Q3 — product-category sales by demographic (queries.sql:24-28)
# --------------------------------------------------------------------------
@query(
    "q03_brand_by_segment",
    f"""
    SELECT p_brand AS brand, c_mktsegment AS segment,
           {SQL_DSUM.format(c=REV)} AS total_sales,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part")
    df = _fact_customer(spark, sf_dir).join(
        F.broadcast(pt), F.col("l_partkey") == pt.p_partkey
    )
    return df.groupBy(
        F.col("p_brand").alias("brand"), F.col("c_mktsegment").alias("segment")
    ).agg(dsum(REV).alias("total_sales"), lsum(QTY).alias("total_units"))


# --------------------------------------------------------------------------
# Q4 — quarterly trends by demographics, latest year (queries.sql:32-40)
# --------------------------------------------------------------------------
@query(
    "q04_quarterly_latest_year",
    f"""
    SELECT CAST(quarter(l_shipdate) AS INT) AS quarter_num,
           c_mktsegment AS segment, n_name AS nation,
           {SQL_DSUM.format(c=REV)} AS total_revenue,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE {_SQL_LATEST_YEAR}
    GROUP BY 1, 2, 3
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _latest_year(_fact_customer(spark, sf_dir), spark, sf_dir)
    return df.groupBy(
        quarter_i("l_shipdate").alias("quarter_num"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
    ).agg(dsum(REV).alias("total_revenue"), lsum(QTY).alias("total_units"))


# --------------------------------------------------------------------------
# Q5 — top 5 nations per brand by revenue (queries.sql:45-57:
#      CTE agg -> ROW_NUMBER -> rn<=5)
# --------------------------------------------------------------------------
@query(
    "q05_top_nations_per_brand",
    f"""
    WITH rev AS (
      SELECT p_brand AS brand, n_name AS nation,
             {SQL_DSUM.format(c=REV)} AS total_revenue
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT brand, nation, total_revenue, rn FROM (
      SELECT brand, nation, total_revenue,
             CAST(ROW_NUMBER() OVER (PARTITION BY brand
                                     ORDER BY total_revenue DESC, nation) AS INT) AS rn
      FROM rev
    ) WHERE rn <= 5
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part")
    rev = (
        _fact_customer(spark, sf_dir)
        .join(F.broadcast(pt), F.col("l_partkey") == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("n_name").alias("nation"))
        .agg(dsum(REV).alias("total_revenue"))
    )
    w = Window.partitionBy("brand").orderBy(F.desc("total_revenue"), F.asc("nation"))
    return rev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


# --------------------------------------------------------------------------
# Q6 — demographics over the trailing 6 months (queries.sql:61-70:
#      interval-range join against a 1-row MAX(date) relation)
# --------------------------------------------------------------------------
@query(
    "q06_trailing_6_months",
    f"""
    WITH md AS (SELECT CAST(max(l_shipdate) AS DATE) AS latest FROM lineitem)
    SELECT n_name AS nation, c_mktsegment AS segment,
           {SQL_DSUM.format(c=REV)} AS total_revenue,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN md ON CAST(l_shipdate AS DATE)
               BETWEEN md.latest - INTERVAL 6 MONTH AND md.latest
    GROUP BY 1, 2
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _fact_customer(spark, sf_dir)
    # Scalar MAX(date) from the bare lineitem table (one pruned column
    # scan) — matching the oracle's `FROM lineitem` CTE, not the joined
    # star relation, which would execute the 4-way join twice. The
    # 1-row bound is collected to the driver and applied as LITERALS
    # (round-14 sf1 adjudication): the former 1-row theta BNLJ kept
    # the window as a runtime condition, so nothing pushed into the
    # scan and the whole star was read at every scale (0.49 decade
    # exponent at sf1). Literal bounds give (a) a static l_year
    # PartitionFilter — only the ≤2 calendar years the 6-month window
    # can touch are listed — and (b) a pushable l_date range the
    # sorted-by-shipdate star answers from row-group zone maps.
    # add_months stays Spark-evaluated so month-arithmetic semantics
    # cannot drift from the SQL twin.
    row = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.max(F.to_date("l_shipdate")).alias("latest"))
        .select("latest", F.add_months("latest", -6).alias("lo"))
        .collect()[0]
    )
    latest, lo = row["latest"], row["lo"]
    if latest is None:
        df = df.filter(F.lit(False))
    else:
        df = df.filter(
            F.col("l_year").between(F.lit(lo.year), F.lit(latest.year))
        ).filter(F.col("l_date").between(F.lit(lo), F.lit(latest)))
    return (
        df.groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(dsum(REV).alias("total_revenue"), lsum(QTY).alias("total_units"))
    )


# --------------------------------------------------------------------------
# Q7 — average purchase by priority × segment (queries.sql:75-78)
# --------------------------------------------------------------------------
@query(
    "q07_avg_by_priority_segment",
    f"""
    SELECT o_orderpriority AS priority, c_mktsegment AS segment,
           {SQL_DAVG.format(c=REV)} AS avg_sale,
           COUNT(*) AS num_sales
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _fact_customer(spark, sf_dir)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(davg(REV).alias("avg_sale"), F.count(F.lit(1)).alias("num_sales"))
    )


# --------------------------------------------------------------------------
# Q8 — top 5 segments per brand (queries.sql:83-97)
# --------------------------------------------------------------------------
@query(
    "q08_top_segments_per_brand",
    f"""
    WITH rev AS (
      SELECT p_brand AS brand, c_mktsegment AS segment,
             {SQL_DSUM.format(c=REV)} AS total_revenue
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    )
    SELECT brand, segment, total_revenue, rn FROM (
      SELECT brand, segment, total_revenue,
             CAST(ROW_NUMBER() OVER (PARTITION BY brand
                                     ORDER BY total_revenue DESC, segment) AS INT) AS rn
      FROM rev
    ) WHERE rn <= 5
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part")
    rev = (
        _fact_customer(spark, sf_dir)
        .join(F.broadcast(pt), F.col("l_partkey") == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("c_mktsegment").alias("segment"))
        .agg(dsum(REV).alias("total_revenue"))
    )
    w = Window.partitionBy("brand").orderBy(F.desc("total_revenue"), F.asc("segment"))
    return rev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


# --------------------------------------------------------------------------
# Q9 — monthly revenue growth % per brand (queries.sql:102-121: LAG)
# --------------------------------------------------------------------------
@query(
    "q09_monthly_growth_by_brand",
    f"""
    WITH m AS (
      SELECT p_brand AS brand,
             CAST(year(l_shipdate) AS INT) AS sale_year,
             CAST(month(l_shipdate) AS INT) AS monthnum,
             {SQL_DSUM.format(c=REV)} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2, 3
    )
    SELECT brand, sale_year, monthnum, revenue,
           (revenue - LAG(revenue) OVER w) / NULLIF(LAG(revenue) OVER w, 0) * 100
             AS growth_pct
    FROM m
    WINDOW w AS (PARTITION BY brand ORDER BY sale_year, monthnum)
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        _fact_part(spark, sf_dir)
        .groupBy(
            F.col("p_brand").alias("brand"),
            year_i("l_shipdate").alias("sale_year"),
            month_i("l_shipdate").alias("monthnum"),
        )
        .agg(dsum(REV).alias("revenue"))
    )
    w = Window.partitionBy("brand").orderBy("sale_year", "monthnum")
    prev = F.lag("revenue").over(w)
    growth = (F.col("revenue") - prev) / F.nullif(prev, F.lit(0)) * 100
    return m.withColumn("growth_pct", growth)


# --------------------------------------------------------------------------
# Q10 — weekend vs weekday by segment, latest year (queries.sql:125-132)
# --------------------------------------------------------------------------
@query(
    "q10_weekend_by_segment",
    f"""
    SELECT c_mktsegment AS segment,
           dayofweek(l_shipdate) IN (0, 6) AS is_weekend,
           {SQL_DSUM.format(c=REV)} AS total_revenue,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE {_SQL_LATEST_YEAR}
    GROUP BY 1, 2
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _latest_year(_fact_customer(spark, sf_dir), spark, sf_dir)
    return df.groupBy(
        F.col("c_mktsegment").alias("segment"),
        is_weekend("l_shipdate").alias("is_weekend"),
    ).agg(dsum(REV).alias("total_revenue"), lsum(QTY).alias("total_units"))


# --------------------------------------------------------------------------
# Q11 — Q1 corrected: top 5 brands per (month, weekend) (queries.sql:137-154)
# --------------------------------------------------------------------------
@query(
    "q11_top5_brands_per_month_weekend",
    f"""
    WITH rev AS (
      SELECT CAST(month(l_shipdate) AS INT) AS monthnum,
             dayofweek(l_shipdate) IN (0, 6) AS is_weekend,
             p_brand AS brand,
             {SQL_DSUM.format(c=REV)} AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2, 3
    )
    SELECT monthnum, is_weekend, brand, total_revenue, rn FROM (
      SELECT monthnum, is_weekend, brand, total_revenue,
             CAST(ROW_NUMBER() OVER (PARTITION BY monthnum, is_weekend
                                     ORDER BY total_revenue DESC, brand) AS INT) AS rn
      FROM rev
    ) WHERE rn <= 5
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        _fact_part(spark, sf_dir)
        .groupBy(
            month_i("l_shipdate").alias("monthnum"),
            is_weekend("l_shipdate").alias("is_weekend"),
            F.col("p_brand").alias("brand"),
        )
        .agg(dsum(REV).alias("total_revenue"))
    )
    w = Window.partitionBy("monthnum", "is_weekend").orderBy(
        F.desc("total_revenue"), F.asc("brand")
    )
    return rev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


# --------------------------------------------------------------------------
# Q12 — "store" (supplier-nation) revenue growth, quarterly, fixed year
# (queries.sql:159-171 hardcodes 2017; testdata's epoch year is 1995)
# --------------------------------------------------------------------------
@query(
    "q12_nation_growth_quarterly",
    f"""
    WITH q AS (
      SELECT n_name AS nation, CAST(quarter(l_shipdate) AS INT) AS quarter_num,
             {SQL_DSUM.format(c=REV)} AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE CAST(year(l_shipdate) AS INT) = 1995
      GROUP BY 1, 2
    )
    SELECT nation, quarter_num, revenue,
           (revenue - LAG(revenue) OVER w) / NULLIF(LAG(revenue) OVER w, 0) * 100
             AS growth_pct
    FROM q
    WINDOW w AS (PARTITION BY nation ORDER BY quarter_num)
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = (
        _fact_supplier(spark, sf_dir)
        .filter(year_i("l_shipdate") == 1995)
        .groupBy(F.col("n_name").alias("nation"), quarter_i("l_shipdate").alias("quarter_num"))
        .agg(dsum(REV).alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy("quarter_num")
    prev = F.lag("revenue").over(w)
    growth = (F.col("revenue") - prev) / F.nullif(prev, F.lit(0)) * 100
    return q.withColumn("growth_pct", growth)


# --------------------------------------------------------------------------
# Q13 — supplier contribution by store-nation × brand (queries.sql:176-181)
# --------------------------------------------------------------------------
@query(
    "q13_supplier_contribution",
    f"""
    SELECT n_name AS nation, s_name AS supplier, p_brand AS brand,
           {SQL_DSUM.format(c=REV)} AS total_revenue,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    GROUP BY 1, 2, 3
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part")
    return (
        _fact_supplier(spark, sf_dir)
        .join(F.broadcast(pt), F.col("l_partkey") == pt.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("s_name").alias("supplier"),
            F.col("p_brand").alias("brand"),
        )
        .agg(dsum(REV).alias("total_revenue"), lsum(QTY).alias("total_units"))
    )


# --------------------------------------------------------------------------
# Q14 — seasonal sales by brand (derived CASE season, queries.sql:186-197)
# --------------------------------------------------------------------------
@query(
    "q14_seasonal_brand_sales",
    f"""
    SELECT CASE WHEN month(l_shipdate) IN (12, 1, 2) THEN 'Winter'
                WHEN month(l_shipdate) IN (3, 4, 5)  THEN 'Spring'
                WHEN month(l_shipdate) IN (6, 7, 8)  THEN 'Summer'
                ELSE 'Fall' END AS season,
           p_brand AS brand,
           {SQL_DSUM.format(c=REV)} AS total_revenue,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _fact_part(spark, sf_dir)
        .groupBy(season("l_shipdate").alias("season"), F.col("p_brand").alias("brand"))
        .agg(dsum(REV).alias("total_revenue"), lsum(QTY).alias("total_units"))
    )


# --------------------------------------------------------------------------
# Q15 — store×supplier monthly volatility (queries.sql:203-230:
#      LAG with 2-key partition, 2-key order)
# --------------------------------------------------------------------------
@query(
    "q15_supplier_monthly_volatility",
    f"""
    WITH m AS (
      SELECT n_name AS nation, s_name AS supplier,
             CAST(year(l_shipdate) AS INT) AS sale_year,
             CAST(month(l_shipdate) AS INT) AS monthnum,
             {SQL_DSUM.format(c=REV)} AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY 1, 2, 3, 4
    )
    SELECT nation, supplier, sale_year, monthnum, revenue,
           (revenue - LAG(revenue) OVER w) / NULLIF(LAG(revenue) OVER w, 0) * 100
             AS growth_pct
    FROM m
    WINDOW w AS (PARTITION BY nation, supplier ORDER BY sale_year, monthnum)
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate on the INTEGER supplier key and attach the (supplier →
    # nation, name) attributes to the ~8k aggregated rows afterwards:
    # the 600k-row exchange then carries an 8-byte key instead of two
    # strings, and supplier⋈nation is 1:1 so grouping by s_suppkey is
    # exactly grouping by (n_name, s_name) — values unchanged.
    f = _fact_supplier(spark, sf_dir)
    m = (
        f.groupBy(
            F.col("l_suppkey").alias("sk"),
            F.col("l_year").alias("sale_year"),
            F.col("l_month").alias("monthnum"),
        )
        .agg(dsum(REV).alias("revenue"))
    )
    # LAG over the INTEGER key too, names attached last (r16, from the
    # q15 pair decomposition in SCALE.md): partitioning by sk is
    # partitioning by (nation, supplier) — 1:1 — so the growth values
    # are identical, but the window's exchange + sort move 8-byte ints
    # instead of two strings (measured −8% on the sf0.1 entry; the
    # remaining pair residual is output cardinality, a named constant).
    w = Window.partitionBy("sk").orderBy("sale_year", "monthnum")
    prev = F.lag("revenue").over(w)
    growth = (F.col("revenue") - prev) / F.nullif(prev, F.lit(0)) * 100
    m = m.withColumn("growth_pct", growth)
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    names = su.join(na, su["s_nationkey"] == na["n_nationkey"]).select(
        F.col("s_suppkey").alias("sk"),
        F.col("n_name").alias("nation"),
        F.col("s_name").alias("supplier"),
    )
    return m.join(F.broadcast(names), "sk").select(
        "nation", "supplier", "sale_year", "monthnum", "revenue", "growth_pct"
    )


# --------------------------------------------------------------------------
# Q16 — product-affinity pairs, top 5 (queries.sql:236-243:
#      self theta-join s1.order = s2.order AND s1.part < s2.part)
# --------------------------------------------------------------------------
@query(
    "q16_affinity_pairs",
    """
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_count
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY pair_count DESC, part_a, part_b
    LIMIT 5
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    # Equi-join on order key (hash join), inequality as a post-filter —
    # Catalyst plans the equi part as the join condition (SURVEY §2.3 J7).
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), "part_a", "part_b")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Q17 — yearly revenue ROLLUP nation → supplier → brand (queries.sql:250-257)
# --------------------------------------------------------------------------
@query(
    "q17_rollup_revenue",
    f"""
    SELECT n_name AS nation, s_name AS supplier, p_brand AS brand,
           CAST(year(l_shipdate) AS INT) AS sale_year,
           {SQL_DSUM.format(c=REV)} AS total_revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE {_SQL_LATEST_YEAR}
    GROUP BY ROLLUP (n_name, s_name, p_brand, CAST(year(l_shipdate) AS INT))
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part")
    df = (
        _latest_year(_fact_supplier(spark, sf_dir), spark, sf_dir)
        .join(F.broadcast(pt), F.col("l_partkey") == pt.p_partkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("s_name").alias("supplier"),
            F.col("p_brand").alias("brand"),
            year_i("l_shipdate").alias("sale_year"),
            dec(REV).alias("_rev"),
        )
    )
    return (
        df.rollup("nation", "supplier", "brand", "sale_year")
        .agg(F.sum("_rev").cast("double").alias("total_revenue"))
    )


# --------------------------------------------------------------------------
# Q18 — H1/H2 revenue + units per brand (queries.sql:263-275:
#      conditional aggregation, NULL else-branch preserved)
# --------------------------------------------------------------------------
@query(
    "q18_h1_h2_by_brand",
    f"""
    SELECT p_brand AS brand,
           {SQL_DSUM_IF.format(cond="month(l_shipdate) BETWEEN 1 AND 6", c=REV)} AS h1_revenue,
           {SQL_DSUM_IF.format(cond="month(l_shipdate) BETWEEN 7 AND 12", c=REV)} AS h2_revenue,
           {SQL_LSUM_IF.format(cond="month(l_shipdate) BETWEEN 1 AND 6", c=QTY)} AS h1_units,
           {SQL_LSUM_IF.format(cond="month(l_shipdate) BETWEEN 7 AND 12", c=QTY)} AS h2_units,
           {SQL_DSUM.format(c=REV)} AS total_revenue,
           {SQL_LSUM.format(c=QTY)} AS total_units
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    h1 = F.month("l_shipdate").between(1, 6)
    h2 = F.month("l_shipdate").between(7, 12)
    return (
        _fact_part(spark, sf_dir)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            dsum_if(h1, REV).alias("h1_revenue"),
            dsum_if(h2, REV).alias("h2_revenue"),
            lsum_if(h1, QTY).alias("h1_units"),
            lsum_if(h2, QTY).alias("h2_units"),
            dsum(REV).alias("total_revenue"),
            lsum(QTY).alias("total_units"),
        )
    )


# --------------------------------------------------------------------------
# Q19 — daily sales spikes > 2× the part's average daily revenue
# (queries.sql:281-300: two-level aggregation + flag + filter)
# --------------------------------------------------------------------------
@query(
    "q19_daily_spikes",
    """
    WITH daily AS (
      SELECT l_partkey AS partkey, CAST(l_shipdate AS DATE) AS sale_date,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS daily_dec
      FROM lineitem GROUP BY 1, 2
    ),
    stats AS (
      SELECT partkey, CAST(SUM(daily_dec) AS DOUBLE) / COUNT(*) AS avg_daily
      FROM daily GROUP BY 1
    )
    SELECT d.partkey, d.sale_date,
           CAST(d.daily_dec AS DOUBLE) AS daily_total, s.avg_daily
    FROM daily d JOIN stats s USING (partkey)
    WHERE CAST(d.daily_dec AS DOUBLE) > 2 * s.avg_daily
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Level 1 carries exact INTEGER ten-thousandths instead of
    # DECIMAL(18,4): dec()·10⁴ is exact (4-dp decimal), SUM(long)
    # shuffles 8-byte ints into the ~|lineitem|-cardinality
    # (partkey, day) groups where decimal128 buffers dominated, and
    # every exposed double is a single correctly-rounded IEEE divide
    # of an exactly-representable integer (< 2⁵³) — bit-identical to
    # the oracle's CAST(decimal AS DOUBLE) of the same rational
    # (verified bitwise over all 15,644 daily rows at sf0.1). The fact
    # comes from the materialized star, whose measures are pre-cast.
    f = _fact_part(spark, sf_dir)
    daily = f.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.col("l_date").alias("sale_date"),
    ).agg(F.sum("l_cents").alias("daily_c"))
    # Level 2 as a window over `daily` instead of a groupBy+join back:
    # one exchange to partkey (of already partially-aggregated daily
    # rows) replaces the stats aggregation AND the join re-shuffle of
    # daily — two fewer exchanges in the physical plan, same exact
    # arithmetic (SURVEY §2.4 A8: aggregate of an aggregate).
    w = Window.partitionBy("partkey")
    avg_daily = (
        F.sum("daily_c").over(w).cast("double")
        / F.lit(10000.0)
        / F.count(F.lit(1)).over(w)
    )
    return (
        daily.withColumn("avg_daily", avg_daily)
        .withColumn(
            "daily_total", F.col("daily_c").cast("double") / F.lit(10000.0)
        )
        .filter(F.col("daily_total") > 2 * F.col("avg_daily"))
        .select("partkey", "sale_date", "daily_total", "avg_daily")
    )


# --------------------------------------------------------------------------
# Q20 — view create + scan (queries.sql:306-313)
# --------------------------------------------------------------------------
_Q20_BODY = f"""
    SELECT n_name AS nation,
           CAST(year(l_shipdate) AS INT) AS sale_year,
           CAST(quarter(l_shipdate) AS INT) AS quarter_num,
           {SQL_DSUM.format(c=REV)} AS total_revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY 1, 2, 3
"""


@query("q20_quarterly_sales_view", _Q20_BODY)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference defines a named reusable view (D4); we register the same
    # artifact as a temp view and select from it.
    body = (
        _fact_supplier(spark, sf_dir)
        .groupBy(
            F.col("n_name").alias("nation"),
            year_i("l_shipdate").alias("sale_year"),
            quarter_i("l_shipdate").alias("quarter_num"),
        )
        .agg(dsum(REV).alias("total_revenue"))
    )
    body.createOrReplaceTempView("nation_quarterly_sales")
    return spark.sql(
        "SELECT nation, sale_year, quarter_num, total_revenue FROM nation_quarterly_sales"
    )


# --------------------------------------------------------------------------
# ETL-equivalence queries: the streaming enrichment pipeline's batch
# semantics over the events stream table (SURVEY §2.2-2.3 / §3.1)
# --------------------------------------------------------------------------
@query(
    "etl_enrich_events",
    """
    SELECT event_id, user_id, c_mktsegment AS segment, event_type, value,
           CAST(ts AS DATE) AS event_date,
           CAST(year(ts) AS INT) AS sale_year,
           CAST(month(ts) AS INT) AS monthnum,
           dayofweek(ts) IN (0, 6) AS is_weekend
    FROM events JOIN customer ON user_id = c_custkey
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
    """,
)
def etl_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalent of the HYBRIDJOIN enrichment: required-field
    filter (P4), inner join against the customer dim dropping unmatched
    keys (J1 semantics), date-part derivation (P8)."""
    ev = load_table(spark, sf_dir, "events")
    cu = load_table(spark, sf_dir, "customer")
    return (
        ev.na.drop(subset=["event_type", "ts"])
        .join(F.broadcast(cu), ev.user_id == cu.c_custkey, "inner")
        .select(
            "event_id",
            "user_id",
            F.col("c_mktsegment").alias("segment"),
            "event_type",
            "value",
            F.to_date("ts").alias("event_date"),
            year_i("ts").alias("sale_year"),
            month_i("ts").alias("monthnum"),
            is_weekend("ts").alias("is_weekend"),
        )
    )


@query(
    "etl_events_by_type",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM.format(c="value")} AS total_value,
           {SQL_DAVG.format(c="value")} AS avg_value,
           {SQL_LSUM.format(c="CAST(json_extract_string(props, '$.k') AS INTEGER)")} AS total_k
    FROM events
    GROUP BY 1
    """,
)
def etl_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style per-type aggregate incl. JSON payload extraction."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        davg("value").alias("avg_value"),
        lsum(k).alias("total_k"),
    )
