"""Headline analytical queries (TPC-H-shaped, adapted to the testdata
schema — FIXTURES.md lacks some canonical columns, e.g. o_shippriority,
so q3 groups on o_orderpriority instead).

These are the bench workload: scan-heavy aggregation (q1), selective
filter-aggregate (q6), a 3-table join top-k (q3), and a 6-table join (q5).
Money sums are rounded to 2 dp in both engines — double summation order
differs across engines, and 2 dp leaves ~100x margin over accumulated
error at the correctness scale factor.

Scale notes: q1/q6 are pure map-side partial aggregation over the fact
table — they scale linearly and shuffle only grouped partials. q3/q5
broadcast every dimension side (customer/supplier/nation/region), so the
only shuffles are the final group-bys on small key spaces; at 100 TB the
orders side of q3/q5 would also be broadcast-joined or shuffled by AQE
depending on its post-filter size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_pipeline_spark.queries._exact import (
    cents_long,
    mean_int_round4,
    mean_money_round4,
)
from data_engineering_pipeline_spark.sources import load_table

QUERIES = {}
ORACLES = {}

# Cross-engine-exact money arithmetic: the money/rate SOURCE columns are
# 2-dp decimals stored as doubles, so casting each COLUMN to decimal
# recovers the intended exact value identically in Spark and DuckDB
# (casting a derived double product does NOT — Spark's double->decimal
# goes through the shortest string representation, DuckDB uses the exact
# binary value, and they disagree in the last decimal). All products and
# sums then happen in decimal — exact and associative — so summation
# order cannot move a result across the final 2-dp round boundary.

def _dec(col: str, typ: str = "decimal(12,2)"):
    return F.col(col).cast(typ)


def _disc_price_dec():
    """(l_extendedprice * (1 - l_discount)) in exact decimal, scale 4."""
    return (
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", "decimal(4,2)"))
    ).cast("decimal(18,4)")


def _money_sum(col):
    # round while still in decimal (exact halves like x.x350 are common
    # in scale-4 money sums and both engines round decimal halves UP for
    # positives), THEN cast to double — rounding after the cast sits on
    # a lossy double and the engines disagree.
    return F.round(F.sum(col), 2).cast("double")


DISC_PRICE_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"
    " AS DECIMAL(18,4))"
)


def _register(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


@_register(
    "q1-pricing-summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                 AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_disc_price,
           CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                 AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2)
                 AS DOUBLE) AS sum_charge,
           floor((CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) * 20000
                  + count(*)) / (count(*) * 2)) / 10000.0 AS avg_qty,
           floor((CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * 100 AS BIGINT)) AS BIGINT) * 200 + count(*))
                 / (count(*) * 2)) / 10000.0 AS avg_price,
           floor((CAST(sum(CAST(CAST(l_discount AS DECIMAL(4,2))
                    * 100 AS BIGINT)) AS BIGINT) * 200 + count(*))
                 / (count(*) * 2)) / 10000.0 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _disc_price_dec()
    charge = disc_price * (
        F.lit(1).cast("decimal(3,2)") + _dec("l_tax", "decimal(4,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _money_sum(_dec("l_extendedprice")).alias("sum_base_price"),
            _money_sum(disc_price).alias("sum_disc_price"),
            _money_sum(charge).alias("sum_charge"),
            mean_int_round4("l_quantity").alias("avg_qty"),
            mean_money_round4("l_extendedprice").alias("avg_price"),
            mean_money_round4("l_discount", typ="decimal(4,2)").alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "q3-shipping-priority",
    """
    SELECT l.l_orderkey,
           CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                 AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        .join(
            orders.filter(
                F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _money_sum(_disc_price_dec()).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@_register(
    "q5-local-supplier-volume",
    """
    SELECT n.n_name,
           CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            _money_sum(_disc_price_dec()).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@_register(
    "q6-forecast-revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _money_sum(
            _dec("l_extendedprice") * _dec("l_discount", "decimal(4,2)")
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "q7-volume-shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name <> n2.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade volume per (supplier nation, customer nation,
    year) — q7 shape. Both nation sides broadcast under different
    aliases."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            _money_sum(_disc_price_dec()).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_register(
    "q10-returned-items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue — q10 shape."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _money_sum(_disc_price_dec()).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_register(
    "q14-promo-revenue",
    """
    SELECT round(
             100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                   THEN CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l.l_discount AS DECIMAL(4,2)))
                        AS DECIMAL(18,4))
                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2))
                      - CAST(l.l_discount AS DECIMAL(4,2)))
                   AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS promo_share_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-06-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotional revenue share — q14 shape (conditional aggregation
    over a broadcast dimension join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc = _disc_price_dec()
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double")
                / F.sum(disc).cast("double"),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@_register(
    "q4-order-priority",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q4 shape, adapted (fixtures have no l_commitdate/l_receiptdate —
    "late" = shipped >60 days after order). EXISTS becomes a left-semi
    hash join on l_orderkey with the lateness predicate as join residual.

    Scale: the date filter prunes orders before the join; the semi join
    shuffles both sides on orderkey but emits each order at most once —
    no fanout, and AQE broadcasts the filtered orders side when small."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "q8-market-share",
    """
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                  AS DECIMAL(18,4)) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE cn.n_regionkey = 3 AND p.p_type LIKE 'ECONOMY%'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q8 shape: NATION_3 suppliers' share of ECONOMY-part revenue to
    region-3 customers, by order year. Both sums are exact decimals, so
    the final double quotient is bit-identical cross-engine (no round
    needed — rounding a quotient can flip at representable halves).

    Scale: the fact-fact join (lineitem x orders) shuffles on orderkey;
    every dimension (customer/supplier/nation/part) is broadcast, so no
    other shuffle until the tiny per-year aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type").like("ECONOMY%")
    )
    cn = nation.filter(F.col("n_regionkey") == 3).select(
        F.col("n_nationkey").alias("cn_key")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cn), customer.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(sn), supplier.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _disc_price_dec().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        vol.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3", F.col("volume")
                    ).otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_register(
    "q9-product-profit",
    """
    SELECT nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT sn.n_name AS nation,
             CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                  AS DECIMAL(18,4))
               - CAST(0.6 AS DECIMAL(2,1))
                 * CAST(p.p_retailprice AS DECIMAL(12,2))
                 * CAST(l.l_quantity AS DECIMAL(12,0)) AS amount
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year ORDER BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9 shape, adapted (fixtures lack partsupp, so supply cost is
    0.6 * p_retailprice). All money math is exact decimal end-to-end;
    the 2-dp round happens while still decimal (negative profits round
    half away from zero in both engines).

    Scale: one orderkey shuffle for the fact-fact join; part/supplier/
    nation broadcast; the %widget% filter is applied before the join on
    the broadcast side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    amount = _disc_price_dec() - (
        F.lit("0.6").cast("decimal(2,1)")
        * _dec("p_retailprice")
        * _dec("l_quantity", "decimal(12,0)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


@_register(
    "q12-ship-speed",
    """
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) > 45
                THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def q12_ship_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12 shape, adapted (no l_shipmode — lines are classified by ship
    latency instead), counting urgent vs other order priorities per
    bucket. Integer counts only: nothing to round.

    Scale: one orderkey shuffle; the year filter prunes lineitem at the
    scan (pushed to parquet)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 45, "SLOW"
    ).otherwise("FAST")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(bucket.alias("ship_bucket"), high.alias("is_high"))
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias(
                "high_line_count"
            ),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).alias(
                "low_line_count"
            ),
        )
        .orderBy("ship_bucket")
    )


@_register(
    "q13-order-distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q13: distribution of per-customer order counts, zeros included
    (the left join keeps order-less customers; count(o_orderkey) skips
    the null match).

    Scale: shuffle on custkey for the join+first agg (AQE may broadcast
    customer instead); the second agg is over a tiny key space."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_register(
    "q15-top-supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
               AS DECIMAL(18,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(round(r.total_rev, 2) AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q15: supplier(s) with the maximum quarterly revenue. Revenue is
    an exact decimal sum, so the = max(...) comparison is exact (the
    double version of this query is a cross-engine coin flip whenever
    two suppliers tie).

    Scale: per-supplier agg shuffles on suppkey; the max is a broadcast
    scalar joined back — no global sort."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_disc_price_dec()).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == F.col("max_rev"))
        .join(F.broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@_register(
    "q17-small-quantity",
    """
    WITH agg AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
             count(*) AS c
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2)
                AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN agg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND CAST(l.l_quantity AS BIGINT) * 5 * a.c < a.s
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q17: revenue from below-average-quantity lines of one brand. The
    correlated avg subquery becomes a per-part aggregate joined back;
    the 20%-of-average threshold compares exact integers
    (5 * qty * count < sum) instead of a double 0.2 * avg.

    Scale: two passes over lineitem shuffling on partkey (scan reuse /
    exchange reuse applies); part is broadcast. At 100 TB the per-part
    agg is the cheap side and AQE broadcasts it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    )
    agg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(agg, li.l_partkey == F.col("a_partkey"))
        .filter(
            F.col("l_quantity").cast("long") * 5 * F.col("c") < F.col("s")
        )
        .agg(
            (
                F.round(F.sum(_dec("l_extendedprice")), 2).cast("double")
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "q18-large-orders",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           epoch_us(o.o_orderdate) AS o_orderdate_us,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q18: customers behind the largest orders (sum of quantities over
    a HAVING threshold), top-100 by order value. The order date goes out
    as epoch microseconds (bigint) per the driver compare protocol; the
    ORDER BY carries a unique o_orderkey tiebreak so LIMIT is stable.

    Scale: the HAVING agg shuffles lineitem on orderkey and survives as
    a tiny set; joins back to orders/customer are then broadcastable.
    TakeOrderedAndProject handles the top-k without a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            # parquet timestamps load as NTZ; cast pins them to the
            # session's UTC so unix_micros matches DuckDB's epoch_us
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@_register(
    "q19-disjunctive-revenue",
    """
    SELECT CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
             AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q19: disjunctive brand/size/quantity predicates over the
    part-lineitem join (the classic pushdown test — Catalyst extracts
    the common l_quantity bounds and the p_brand IN set toward the
    scans).

    Scale: part is broadcast; the OR-of-ANDs runs as the join residual,
    so lineitem is scanned once with the derived quantity range pushed
    to parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 15)
         & (q >= 1) & (q <= 20))
        | ((F.col("p_brand") == "Brand#2") & sz.between(10, 30)
           & (q >= 10) & (q <= 30))
        | ((F.col("p_brand") == "Brand#3") & sz.between(20, 50)
           & (q >= 20) & (q <= 40))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(
            F.round(F.sum(_disc_price_dec()), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "q21-waiting-supplier",
    """
    WITH per_supp AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2
    ), per_order AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
      FROM per_supp GROUP BY 1
    )
    SELECT s.s_name, count(*) AS numwait
    FROM per_supp ps
    JOIN per_order po ON po.l_orderkey = ps.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.is_late = 1 AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21 shape, adapted ("late" = shipped >60 days after order; no
    receipt/commit dates in the fixtures). The canonical EXISTS /
    NOT-EXISTS self-join pair is re-expressed as one grouped pass:
    per-(order, supplier) lateness, then per-order counts — the sole
    late supplier on a multi-supplier 'F' order is the one kept.

    Scale: two shuffles on l_orderkey (the second input is already
    partitioned by it, so the exchange is reused) instead of three
    correlated scans of lineitem; supplier is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = per_supp.groupBy(
        F.col("l_orderkey").alias("po_orderkey")
    ).agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
    )
    return (
        per_supp.join(
            per_order, per_supp.l_orderkey == F.col("po_orderkey")
        )
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supplier), per_supp.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@_register(
    "q22-idle-customers",
    """
    WITH pos AS (
      SELECT CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS s,
             count(*) AS c
      FROM customer WHERE c_acctbal > 0.0
    ), active AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    )
    SELECT c.c_nationkey, count(*) AS numcust,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer c, pos
    WHERE CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) * pos.c
            > pos.s
      AND NOT EXISTS (SELECT 1 FROM active a WHERE a.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey ORDER BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q22 shape, adapted (every fixture customer has orders, so "idle"
    = no orders since 1999; no c_phone, so groups are c_nationkey).
    Above-average-balance compares exact integer cents
    (cents * count > sum) — the double avg threshold would be a
    cross-engine coin flip for a customer sitting exactly on it.

    Scale: the scalar (sum, count) is a broadcast cross join; the
    NOT EXISTS is a left-anti hash join against the distinct active
    custkeys."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pos = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(cents_long("c_acctbal")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    active = (
        orders.filter(F.col("o_orderdate") >= _ts("1999-01-01"))
        .select("o_custkey")
        .distinct()
    )
    return (
        customer.crossJoin(F.broadcast(pos))
        .filter(cents_long("c_acctbal") * F.col("c") > F.col("s"))
        .join(
            active,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@_register(
    "q16-supplier-part-count",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q16 shape, adapted (no partsupp — the lineitem supplier-part
    pairs stand in for the supply relation): distinct suppliers per
    (brand, type, size) with brand/type/size exclusion predicates.

    Scale: part filters broadcast-join against lineitem; the DISTINCT
    agg expands (group-keys, suppkey) then two-phase aggregates — both
    shuffles on small key spaces."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@_register(
    "q20-excess-supplier",
    """
    WITH pq AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ), tot AS (
      SELECT l_partkey, CAST(sum(sq) AS BIGINT) AS tq FROM pq GROUP BY 1
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM pq
    JOIN tot ON tot.l_partkey = pq.l_partkey
    JOIN part p ON p.p_partkey = pq.l_partkey
    JOIN supplier s ON s.s_suppkey = pq.l_suppkey
    WHERE p.p_name LIKE 'red%' AND pq.sq * 2 > tot.tq
    ORDER BY s.s_suppkey
    """,
)
def q20_excess_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q20 shape, adapted (no partsupp/availqty — "excess" = shipped
    more than half of a red part's 1996 volume). The nested agg
    subquery becomes a per-(part, supplier) agg re-aggregated per part
    and joined back; the share threshold compares exact integers
    (2 * sq > tq).

    Scale: one shuffle on partkey serves both aggregation levels (the
    second agg reuses the first's partitioning); part/supplier are
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sq")
    )
    tot = pq.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("sq").alias("tq")
    )
    return (
        pq.join(tot, pq.l_partkey == F.col("t_partkey"))
        .filter(F.col("sq") * 2 > F.col("tq"))
        .join(F.broadcast(part), pq.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), pq.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


# q2/q11 need a part-supplier supply relation with a supplier-varying
# cost; the fixtures lack partsupp, so (like q16/q20's supply pairs)
# it is DERIVED: pairs = distinct lineitem (partkey, suppkey), availqty
# = total shipped quantity per pair, and supplycost is a deterministic
# per-pair price in EXACT integer units of $1e-4:
#   cost_units = retail_cents * (50 + (s_suppkey*31 + p_partkey) % 50)
# i.e. 50-99% of retail, varying by pair — integer arithmetic both
# engines execute identically (no float, no rounding hazards).
_COST_UNITS_SQL = (
    "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
    " * (50 + (s_suppkey * 31 + p_partkey) % 50)"
)


def _cost_units():
    cents = (_dec("p_retailprice") * 100).cast("long")
    pct = (F.col("s_suppkey") * 31 + F.col("p_partkey")) % 50 + 50
    return cents * pct


def _supply_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("availqty")
    )


@_register(
    "q2-min-cost-supplier",
    f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS availqty
      FROM lineitem GROUP BY 1, 2
    ), costed AS (
      SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, s.s_acctbal,
             n.n_name, {_COST_UNITS_SQL} AS cost_units
      FROM ps
      JOIN part p ON p.p_partkey = ps.l_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           CAST(cost_units AS DOUBLE) / 10000.0 AS supply_cost
    FROM costed
    QUALIFY cost_units = min(cost_units) OVER (PARTITION BY p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q2 shape (min-cost supplier per part within a region) over the
    derived supply relation — the classic correlated-min subquery,
    expressed as a min-over-window on the costed pairs (one shuffle
    instead of a self-join back). Cost compares exact int64 units.

    Scale: the pair aggregation shuffles lineitem once on (part, supp);
    part/supplier/nation/region all broadcast; the per-part min is a
    window over the already-filtered costed pairs; ordered LIMIT 100 is
    a TakeOrderedAndProject."""
    ps = _supply_pairs(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    costed = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), ps.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_suppkey",
            "s_name",
            "s_acctbal",
            "n_name",
            _cost_units().alias("cost_units"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        costed.withColumn("__min", F.min("cost_units").over(w))
        .filter(F.col("cost_units") == F.col("__min"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("cost_units").cast("double") / 10000.0).alias(
                "supply_cost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@_register(
    "q11-important-stock",
    f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS availqty
      FROM lineitem GROUP BY 1, 2
    ), valued AS (
      SELECT p.p_partkey,
             {_COST_UNITS_SQL} * availqty AS value_units
      FROM ps
      JOIN part p ON p.p_partkey = ps.l_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
    ), grouped AS (
      SELECT p_partkey,
             CAST(sum(value_units) AS BIGINT) AS part_units
      FROM valued GROUP BY 1
    ), tot AS (SELECT CAST(sum(part_units) AS BIGINT) AS t FROM grouped)
    SELECT p_partkey,
           CAST(part_units AS DOUBLE) / 10000.0 AS stock_value
    FROM grouped, tot
    WHERE part_units * 1000 > t
    ORDER BY stock_value DESC, p_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q11 shape (parts whose stock value exceeds a fraction of the
    regional total) over the derived supply relation. The
    fraction-of-grand-total threshold compares exact integers
    (part_units * 1000 > total) — no float in the predicate.

    Scale: one (part, supp) shuffle for the pairs, one partkey shuffle
    for the group; the grand total is a 1-row broadcast back onto the
    grouped rows (the only sane plan for a HAVING-vs-global-sum)."""
    ps = _supply_pairs(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    valued = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), ps.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "p_partkey",
            (_cost_units() * F.col("availqty")).alias("value_units"),
        )
    )
    grouped = valued.groupBy("p_partkey").agg(
        F.sum("value_units").alias("part_units")
    )
    tot = grouped.agg(F.sum("part_units").alias("t"))
    return (
        grouped.join(F.broadcast(tot))
        .filter(F.col("part_units") * 1000 > F.col("t"))
        .select(
            "p_partkey",
            (F.col("part_units").cast("double") / 10000.0).alias(
                "stock_value"
            ),
        )
        .orderBy(F.desc("stock_value"), "p_partkey")
    )
