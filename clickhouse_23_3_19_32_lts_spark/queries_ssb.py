"""Star Schema Benchmark queries (BASELINE.md: SSB Q1.1-Q4.3 fully
specified at docs/en/getting-started/example-datasets/star-schema.md in the
reference). Adapted to the fixture star schema: lineitem ⋈ orders plays
lineorder; the date dimension is o_orderdate/l_shipdate arithmetic; part/
supplier/customer/nation/region as in TPC-H.

These are the reference's own canonical perf queries — kept separately so
the bench harness can time the SSB set against BASELINE's protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.queries import _sql, _t, query


@query(
    "ssb_q1_1",
    oracle="""
    SELECT CAST(sum(l_extendedprice * l_discount) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE year(l_shipdate) = 1996 AND l_discount BETWEEN 0.01 AND 0.03 AND l_quantity < 25
    """,
)
def ssb_q1_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q1.1: one-year discount revenue — pure scan+filter+agg; the
    year() predicate still prunes row groups via shipdate min/max."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & F.col("l_discount").between(0.01, 0.03)
            & (F.col("l_quantity") < 25)
        )
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@query(
    "ssb_q1_2",
    oracle="""
    SELECT CAST(sum(l_extendedprice * l_discount) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 1
      AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity BETWEEN 26 AND 35
    """,
)
def ssb_q1_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q1.2: one-month variant (tighter date band)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & (F.month("l_shipdate") == 1)
            & F.col("l_discount").between(0.04, 0.06)
            & F.col("l_quantity").between(26, 35)
        )
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@query(
    "ssb_q2_1",
    oracle="""
    SELECT year(o_orderdate) AS o_year, p_brand,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_type = 'STANDARD' AND r_name = 'AMERICA'
    GROUP BY o_year, p_brand
    ORDER BY o_year, p_brand
    """,
)
def ssb_q2_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q2.1: revenue by year × brand for a category in a region —
    classic drill-down star join; every dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"), "p_brand")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("o_year", "p_brand")
    )


@query(
    "ssb_q3_1",
    oracle="""
    SELECT cn.n_name AS c_nation, sn.n_name AS s_nation, year(o_orderdate) AS o_year,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE cr.r_name = 'ASIA' AND sr.r_name = 'ASIA'
      AND year(o_orderdate) BETWEEN 1996 AND 1997
    GROUP BY c_nation, s_nation, o_year
    ORDER BY o_year, revenue DESC, c_nation, s_nation
    """,
)
def ssb_q3_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q3.1: intra-region trade by nation pair and year. Single-SQL
    construction (round 10): same all-broadcast plan, ~2x cheaper build."""
    return _sql(
        spark, sf_dir,
        """
        SELECT /*+ BROADCAST(c, s, cn, sn, cr, sr) */
               cn.n_name AS c_nation, sn.n_name AS s_nation,
               year(o.o_orderdate) AS o_year,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM {lineitem} l
        JOIN (SELECT * FROM {orders}
              WHERE year(o_orderdate) BETWEEN 1996 AND 1997) o
          ON l.l_orderkey = o.o_orderkey
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        JOIN {nation} cn ON c.c_nationkey = cn.n_nationkey
        JOIN {nation} sn ON s.s_nationkey = sn.n_nationkey
        JOIN {region} cr
          ON cn.n_regionkey = cr.r_regionkey AND cr.r_name = 'ASIA'
        JOIN {region} sr
          ON sn.n_regionkey = sr.r_regionkey AND sr.r_name = 'ASIA'
        GROUP BY cn.n_name, sn.n_name, year(o.o_orderdate)
        ORDER BY o_year, revenue DESC, c_nation, s_nation
        """,
    )


@query(
    "ssb_q4_1",
    oracle="""
    SELECT year(o_orderdate) AS o_year, cn.n_name AS c_nation,
           CAST(sum(l_extendedprice * (1 - l_discount) - l_extendedprice * l_tax) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part ON l_partkey = p_partkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    WHERE cr.r_name = 'AMERICA' AND p_type IN ('ECONOMY', 'PROMO')
    GROUP BY o_year, c_nation
    ORDER BY o_year, c_nation
    """,
)
def ssb_q4_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q4.1: profit (revenue − tax proxy for supplycost) by year ×
    customer nation over selected part types. Single-SQL construction
    (round 10): same all-broadcast plan, ~2x cheaper build."""
    return _sql(
        spark, sf_dir,
        """
        SELECT /*+ BROADCAST(c, s, p, cn, cr) */
               year(o.o_orderdate) AS o_year, cn.n_name AS c_nation,
               sum(l.l_extendedprice * (1 - l.l_discount)
                   - l.l_extendedprice * l.l_tax) AS profit
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        JOIN (SELECT * FROM {part}
              WHERE p_type IN ('ECONOMY', 'PROMO')) p
          ON l.l_partkey = p.p_partkey
        JOIN {nation} cn ON c.c_nationkey = cn.n_nationkey
        JOIN {region} cr
          ON cn.n_regionkey = cr.r_regionkey AND cr.r_name = 'AMERICA'
        GROUP BY year(o.o_orderdate), cn.n_name
        ORDER BY o_year, c_nation
        """,
    )


# The remaining 8 published SSB queries (star-schema.md Q1.3-Q4.3). The
# fixture has no city columns; the standard "city" drill level is adapted as
# a deterministic derived city = concat(nation, '#', key % 10) — same
# cardinality step (nation → ~10 cities/nation) and the same plan shape
# (broadcast star joins, two mid-cardinality group keys).


@query(
    "ssb_q1_3",
    oracle="""
    SELECT CAST(sum(l_extendedprice * l_discount) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE year(l_shipdate) = 1996 AND weekofyear(l_shipdate) = 6
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity BETWEEN 26 AND 35
    """,
)
def ssb_q1_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q1.3: one-week variant (ISO week 6 of 1996)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.year("l_shipdate") == 1996)
        & (F.weekofyear("l_shipdate") == 6)
        & F.col("l_discount").between(0.05, 0.07)
        & F.col("l_quantity").between(26, 35)
    ).agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


def _ssb_star(spark, sf_dir, part_pred=None, region=None):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    if part_pred is not None:
        part = part.filter(part_pred)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region_t = _t(spark, sf_dir, "region")
    if region is not None:
        region_t = region_t.filter(F.col("r_name") == region)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region_t), F.col("n_regionkey") == F.col("r_regionkey"))
    )


@query(
    "ssb_q2_2",
    oracle="""
    SELECT year(o_orderdate) AS o_year, p_brand,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_brand BETWEEN 'Brand#22' AND 'Brand#24' AND r_name = 'EUROPE'
    GROUP BY o_year, p_brand
    ORDER BY o_year, p_brand
    """,
)
def ssb_q2_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q2.2: brand-range drill in one region."""
    return (
        _ssb_star(
            spark, sf_dir,
            part_pred=F.col("p_brand").between("Brand#22", "Brand#24"),
            region="EUROPE",
        )
        .groupBy(F.year("o_orderdate").alias("o_year"), "p_brand")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("o_year", "p_brand")
    )


@query(
    "ssb_q2_3",
    oracle="""
    SELECT year(o_orderdate) AS o_year, p_brand,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_brand = 'Brand#23' AND r_name = 'ASIA'
    GROUP BY o_year, p_brand
    ORDER BY o_year, p_brand
    """,
)
def ssb_q2_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q2.3: single-brand pinpoint in one region."""
    return (
        _ssb_star(
            spark, sf_dir,
            part_pred=F.col("p_brand") == "Brand#23",
            region="ASIA",
        )
        .groupBy(F.year("o_orderdate").alias("o_year"), "p_brand")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("o_year", "p_brand")
    )


def _ssb_trade(spark, sf_dir):
    """lineorder ⋈ customer ⋈ supplier with nation + derived city on both
    sides (Q3 family shared core)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("c_nation")
    )
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("s_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    return j.withColumn(
        "c_city", F.concat(F.col("c_nation"), F.lit("#"), F.col("c_custkey") % 10)
    ).withColumn(
        "s_city", F.concat(F.col("s_nation"), F.lit("#"), F.col("s_suppkey") % 10)
    )


_SSB_CITY_SQL = """
    SELECT l.*, o.*, c.*, s.*,
           cn.n_name AS c_nation, sn.n_name AS s_nation,
           concat(cn.n_name, '#', CAST(c_custkey % 10 AS VARCHAR)) AS c_city,
           concat(sn.n_name, '#', CAST(s_suppkey % 10 AS VARCHAR)) AS s_city
    FROM lineitem l
    JOIN orders o ON l_orderkey = o_orderkey
    JOIN customer c ON o_custkey = c_custkey
    JOIN supplier s ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
"""


@query(
    "ssb_q3_2",
    oracle=f"""
    SELECT c_city, s_city, year(o_orderdate) AS o_year,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
    FROM ({_SSB_CITY_SQL}) t
    WHERE c_nation = 'NATION_7' AND s_nation = 'NATION_7'
      AND year(o_orderdate) BETWEEN 1996 AND 1997
    GROUP BY c_city, s_city, o_year
    ORDER BY o_year, revenue DESC, c_city, s_city
    """,
)
def ssb_q3_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q3.2: intra-nation trade at the (derived) city level."""
    j = _ssb_trade(spark, sf_dir).filter(
        (F.col("c_nation") == "NATION_7")
        & (F.col("s_nation") == "NATION_7")
        & F.year("o_orderdate").between(1996, 1997)
    )
    return (
        j.groupBy("c_city", "s_city", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("o_year", F.desc("revenue"), "c_city", "s_city")
    )


@query(
    "ssb_q3_3",
    oracle=f"""
    SELECT c_city, s_city, year(o_orderdate) AS o_year,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
    FROM ({_SSB_CITY_SQL}) t
    WHERE c_city IN ('NATION_7#1', 'NATION_7#5') AND s_city IN ('NATION_7#1', 'NATION_7#5')
      AND year(o_orderdate) BETWEEN 1996 AND 1997
    GROUP BY c_city, s_city, o_year
    ORDER BY o_year, revenue DESC, c_city, s_city
    """,
)
def ssb_q3_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q3.3: two-city pair trade."""
    cities = ["NATION_7#1", "NATION_7#5"]
    j = _ssb_trade(spark, sf_dir).filter(
        F.col("c_city").isin(cities)
        & F.col("s_city").isin(cities)
        & F.year("o_orderdate").between(1996, 1997)
    )
    return (
        j.groupBy("c_city", "s_city", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("o_year", F.desc("revenue"), "c_city", "s_city")
    )


@query(
    "ssb_q3_4",
    oracle=f"""
    SELECT c_city, s_city, year(o_orderdate) AS o_year,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
    FROM ({_SSB_CITY_SQL}) t
    WHERE c_city IN ('NATION_7#1', 'NATION_3#4') AND s_city IN ('NATION_7#1', 'NATION_3#4')
      AND year(o_orderdate) = 1997 AND month(o_orderdate) = 12
    GROUP BY c_city, s_city, o_year
    ORDER BY o_year, revenue DESC, c_city, s_city
    """,
)
def ssb_q3_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q3.4: one-month city pair (the most selective Q3 variant)."""
    cities = ["NATION_7#1", "NATION_3#4"]
    j = _ssb_trade(spark, sf_dir).filter(
        F.col("c_city").isin(cities)
        & F.col("s_city").isin(cities)
        & (F.year("o_orderdate") == 1997)
        & (F.month("o_orderdate") == 12)
    )
    return (
        j.groupBy("c_city", "s_city", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("o_year", F.desc("revenue"), "c_city", "s_city")
    )


_SSB_PROFIT_SQL = """
    SELECT l.*, o.*, c.*, s.*, p.*,
           cn.n_name AS c_nation, sn.n_name AS s_nation,
           cr.r_name AS c_region, sr.r_name AS s_region,
           concat(sn.n_name, '#', CAST(s_suppkey % 10 AS VARCHAR)) AS s_city,
           l_extendedprice * (1 - l_discount) - l_extendedprice * l_tax AS profit
    FROM lineitem l
    JOIN orders o ON l_orderkey = o_orderkey
    JOIN customer c ON o_custkey = c_custkey
    JOIN supplier s ON l_suppkey = s_suppkey
    JOIN part p ON l_partkey = p_partkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
"""


def _ssb_profit(spark, sf_dir):
    """Q4 family shared core: both nation/region dims + part, with the
    profit measure (supplycost proxied by the tax component, BASELINE.md)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("c_nation"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("s_nation"),
        F.col("n_regionkey").alias("sn_region"),
    )
    cr = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("cr_key"), F.col("r_name").alias("c_region")
    )
    sr = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("sr_key"), F.col("r_name").alias("s_region")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cr), F.col("cn_region") == F.col("cr_key"))
        .join(F.broadcast(sr), F.col("sn_region") == F.col("sr_key"))
        .withColumn(
            "s_city",
            F.concat(F.col("s_nation"), F.lit("#"), F.col("s_suppkey") % 10),
        )
        .withColumn(
            "profit",
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("l_extendedprice") * F.col("l_tax"),
        )
    )


@query(
    "ssb_q4_2",
    oracle=f"""
    SELECT year(o_orderdate) AS o_year, s_nation, p_type,
           CAST(sum(profit) AS DOUBLE) AS profit
    FROM ({_SSB_PROFIT_SQL}) t
    WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
      AND year(o_orderdate) BETWEEN 1997 AND 1998
      AND p_type IN ('ECONOMY', 'PROMO')
    GROUP BY o_year, s_nation, p_type
    ORDER BY o_year, s_nation, p_type
    """,
)
def ssb_q4_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q4.2: profit by year × supplier nation × part type."""
    j = _ssb_profit(spark, sf_dir).filter(
        (F.col("c_region") == "AMERICA")
        & (F.col("s_region") == "AMERICA")
        & F.year("o_orderdate").between(1997, 1998)
        & F.col("p_type").isin("ECONOMY", "PROMO")
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"), "s_nation", "p_type")
        .agg(F.sum("profit").alias("profit"))
        .orderBy("o_year", "s_nation", "p_type")
    )


@query(
    "ssb_q4_3",
    oracle=f"""
    SELECT year(o_orderdate) AS o_year, s_city, p_brand,
           CAST(sum(profit) AS DOUBLE) AS profit
    FROM ({_SSB_PROFIT_SQL}) t
    WHERE s_nation = 'NATION_7' AND p_type = 'ECONOMY'
      AND year(o_orderdate) BETWEEN 1997 AND 1998
    GROUP BY o_year, s_city, p_brand
    ORDER BY o_year, s_city, p_brand
    """,
)
def ssb_q4_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q4.3: profit at the (derived) supplier-city × brand level."""
    j = _ssb_profit(spark, sf_dir).filter(
        (F.col("s_nation") == "NATION_7")
        & (F.col("p_type") == "ECONOMY")
        & F.year("o_orderdate").between(1997, 1998)
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"), "s_city", "p_brand")
        .agg(F.sum("profit").alias("profit"))
        .orderBy("o_year", "s_city", "p_brand")
    )
