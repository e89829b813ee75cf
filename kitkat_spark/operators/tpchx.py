"""TPC-H long-tail join/decorrelation shapes (SURVEY.md §2.B — new design;
the reference /root/reference is a Kinesis CLI with no relational layer,
SURVEY §2.A). Complements warehouse.py's Q4/Q11/Q13/Q18 shapes with the
remaining planner-exercising patterns, adapted to the fixture star schema
(no partsupp table; lineitem's (l_partkey, l_suppkey) pairs stand in):

- q_nation_volume (Q7): two dimension arms hanging off one fact — customer
  nation AND supplier nation resolved per lineitem. All four dims broadcast;
  the only shuffles are the fact-side orders join + final agg.
- q_promo_revenue (Q14): conditional-aggregate ratio over a broadcast
  fact-dim join, one output row, map-side combinable.
- q_part_supplier_count (Q16): distinct-count aggregation after an anti-join
  exclusion list — the distinct runs on (brand, type, size, suppkey) AFTER
  the join, so the shuffle carries pre-deduped pairs only.
- q_small_qty_revenue (Q17): correlated scalar subquery (per-part average)
  decorrelated to a window aggregate — ONE shuffle of the filtered fact,
  no self-join rescan of lineitem.
- q_disjunctive_join (Q19): equi-join with a disjunctive residual predicate —
  Catalyst keys the join on partkey alone and evaluates the OR-of-ANDs as a
  post-join filter; part stays broadcast.
- q_idle_customers (Q22): global scalar threshold + NOT EXISTS anti-join +
  aggregation, the classic "customers with money but no orders" shape.

Scale notes: every dim (part/supplier/customer/nation) carries an explicit
``broadcast`` hint — fixed (region=5, nation=25) or sublinear cardinality
at any sf. Fact tables (lineitem/orders) are never broadcast; their joins shuffle once on the join key and AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kitkat_spark.functions.numeric import (
    DEC_REV_SQL,
    QTY,
    RATE,
    dmoney,
    drate,
    drev,
    dsum,
    dsum_dec,
    dsum_dec_sql,
    dsum_sql,
)
from kitkat_spark.sources import load_table

# Shared oracle fragment: decimal-exact revenue product (see functions/
# numeric.py — double products cast to decimal round differently per engine;
# factor-wise decimal casts make the multiply exact and engine-identical).
_REV_SQL = DEC_REV_SQL

PROMO_MONTH = ("1996-09-01", "1996-10-01")
SMALL_QTY_FACTOR = 0.2
IDLE_MIN_BAL = 0.0

def _rev() -> F.Column:
    """Decimal-exact discounted revenue expression (Column creation needs a
    live session, so this can't be a module-level constant)."""
    return drev()


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: shipped revenue between (supplier nation, customer nation)
    pairs per ship year. lineitem resolves BOTH arms: supplier->nation and
    order->customer->nation; every dimension broadcasts, so the fact crosses
    the wire once for the orders join and once for the final aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(_rev()).alias("revenue"))
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: PROMO revenue share for one ship month. Part broadcasts;
    the month filter is pushed into the lineitem scan; the ratio is a
    two-accumulator conditional aggregate -> one row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lo, hi = PROMO_MONTH
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", _rev())
                    .otherwise(F.lit(0).cast(RATE))
                    .cast("decimal(18,4)")
                ).cast("double")
                / F.sum(_rev().cast("decimal(18,4)")).cast("double"),
                2,
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
    )


def q_part_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct suppliers per (brand, type, size) from lineitem's
    observed (part, supplier) pairs, excluding suppliers with negative
    balance (the complaints stand-in). The exclusion list is tiny ->
    broadcast anti-join; pairs are deduped before the distinct count, so
    the agg shuffle carries each (part, supplier) once."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    excl = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti")
    )
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue lost to small-quantity Brand#1 orders — lines with
    quantity below 0.2x their part's average quantity. The correlated
    per-part average is a window aggregate over ONE partitionBy(l_partkey)
    shuffle of the brand-filtered fact (the naive form rescans and re-aggs
    lineitem, then joins — twice the fact traffic)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    filtered = li.join(
        F.broadcast(brand_parts), li.l_partkey == brand_parts.p_partkey, "left_semi"
    )
    w = W.partitionBy("l_partkey")
    return (
        filtered.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.lit(SMALL_QTY_FACTOR) * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


def q_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: equi-join on partkey with an OR-of-ANDs residual — Catalyst
    must key the broadcast join on the conjunct common to all branches
    (l_partkey = p_partkey) and run the disjunction as a post-join filter,
    not fall back to a cartesian."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(branch).agg(
        dsum(_rev()).alias("revenue"), F.count("*").alias("n_lines")
    )


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: per-nation count/balance of customers with above-average
    positive balance and NO orders. The global average is a 1-row broadcast;
    the NOT EXISTS is a left anti-join against the orders key set. Customer
    never shuffles: both the threshold compare and the anti-join build side
    broadcast onto its scan, and the final agg is 25 groups."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > IDLE_MIN_BAL).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(
        orders.select("o_custkey"),
        rich.c_custkey == orders.o_custkey,
        "left_anti",
    )
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_custs"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: fully-pushed-down scan aggregate — every predicate (date
    band, discount band, quantity cap) reaches the parquet reader as a
    PushedFilter, the projection is 2 columns, and the result is a 1-row
    map-side-combinable aggregate. The canonical 'scan efficiency' probe:
    at 100 TB this query's cost is the I/O of two columns under min/max
    row-group pruning, nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(dmoney("l_extendedprice") * drate("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per-part minimum-cost supplier in one region (no partsupp
    table in the fixture — observed (l_partkey, l_suppkey) pairs with
    min(l_extendedprice) stand in for ps_supplycost). The correlated MIN
    subquery decorrelates to a window min over ONE partitionBy(p_partkey)
    shuffle of the region-filtered pair aggregate; supplier/nation/region/
    part all broadcast. min() of doubles is order-exact, so the equality
    filter is reproducible cross-engine without rounding tricks."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_supps = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    small_parts = part.filter(F.col("p_size") < 10).select("p_partkey", "p_brand")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supply_cost")
    )
    regional = ps.join(
        F.broadcast(asia_supps), ps.l_suppkey == asia_supps.s_suppkey
    ).join(F.broadcast(small_parts), ps.l_partkey == small_parts.p_partkey)
    w = W.partitionBy("p_partkey")
    return (
        regional.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select("p_partkey", "p_brand", "s_name", "n_name", "supply_cost")
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_3's share of ECONOMY-part revenue sold into the
    AMERICA customer market, per order year. Two nation arms (customer side
    filters the market region, supplier side labels the share) — all dims
    broadcast, the fact shuffles once for the orders join, and the share is
    a conditional-aggregate ratio per year."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    cust_market = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
            )
        ),
        supplier.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    econ_parts = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    rev = drev()
    return (
        li.join(F.broadcast(econ_parts), li.l_partkey == econ_parts.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_market), orders.o_custkey == cust_market.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev)
                    .otherwise(F.lit(0).cast(RATE))
                    .cast("decimal(18,4)")
                ).cast("double")
                / F.sum(rev.cast("decimal(18,4)")).cast("double"),
                6,
            ).alias("mkt_share"),
            dsum(rev).alias("total_revenue"),
        )
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: per (supplier nation, order year) profit for parts whose
    name contains 'widget'. No ps_supplycost in the fixture, so amount =
    discounted revenue - 0.6 * p_retailprice * quantity (a fixed cost
    model) — the SHAPE is the point: a 5-way join where every dimension
    broadcasts and the fact crosses the wire once for the orders join,
    then one hash aggregation on (nation, year)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    widget_parts = part.filter(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    amount = (
        drev()
        - F.lit(0.6).cast(RATE) * dmoney("p_retailprice") * F.col("l_quantity").cast(QTY)
    )
    return (
        li.join(F.broadcast(widget_parts), li.l_partkey == widget_parts.p_partkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dsum_dec(amount).alias("profit"))
    )


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by revenue lost to returns in one
    quarter. The returnflag + order-date predicates push into both fact
    scans; customer and nation broadcast onto the aggregated result; the
    plan ends in TakeOrderedAndProject (global top-k without a global
    sort). Tie-break on c_custkey keeps the cut deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = drev()
    q_orders = orders.filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(q_orders, li.l_orderkey == q_orders.o_orderkey)
        .join(F.broadcast(customer), q_orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_late_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional priority counts over late shipments (no
    commit/receipt dates in the fixture — 'late' is shipped > 60 days after
    the order date), grouped by line status. The CASE aggregation splits
    urgent (1-URGENT/2-HIGH) from the rest exactly like Q12's shipmode
    split; the date arithmetic is a codegen'd residual on the orders join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) with the maximum quarterly revenue — the
    'create view + max subquery' pattern decorrelated to a 1-row broadcast
    of the global max joined back onto the per-supplier aggregate (the
    aggregate is computed ONCE, not once for the view and once for the
    max). Ties all surface, as in the spec."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = drev()
    per_supp = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(dsum(rev).alias("total_revenue"))
    )
    max_rev = per_supp.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        per_supp.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier), per_supp.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers in one nation who are DOMINANT for some small
    part — their shipped quantity for that part exceeds 30% of the part's
    total (the availqty > 0.5 * sum(qty) correlated subquery, decorrelated
    to a window total over one partitionBy(l_partkey) shuffle of the
    pair-level aggregate). The nested IN chain (parts -> qualifying pairs ->
    suppliers) becomes semi-join + distinct; nation broadcast-semi-joins
    last so the supplier table never shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    small_parts = part.filter(F.col("p_size") < 10).select("p_partkey")
    pair_qty = (
        li.join(F.broadcast(small_parts), li.l_partkey == small_parts.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("pair_qty"))
    )
    w = W.partitionBy("l_partkey")
    dominant = (
        pair_qty.withColumn("part_qty", F.sum("pair_qty").over(w))
        .filter(F.col("pair_qty") > 0.3 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    target_nation = nation.filter(F.col("n_name") == "NATION_7").select("n_nationkey")
    return (
        supplier.join(
            F.broadcast(target_nation),
            supplier.s_nationkey == target_nation.n_nationkey,
            "left_semi",
        )
        .join(dominant, supplier.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


def q_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the SOLE late shipper on a finished
    multi-supplier order ('late' = shipped > 60 days after order date; the
    fixture has no commit/receipt dates). The EXISTS (another supplier on
    the order) and NOT EXISTS (another LATE supplier) decorrelate to ONE
    groupBy(l_orderkey) pass computing distinct-supplier and distinct-late-
    supplier counts plus the late supplier id via conditional max — no
    triple self-join of lineitem, one fact shuffle total."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    per_order = (
        li.join(finished, li.l_orderkey == finished.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy("late_supp")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supplier), F.col("late_supp") == supplier.s_suppkey)
        .select(F.col("s_name"), F.col("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


SHIP_SEGMENT = "BUILDING"
SHIP_CUTOFF = "1998-06-15"
LOCAL_REGION = "ASIA"
LOCAL_YEAR = ("1997-01-01", "1998-01-01")
BIG_ORDER_MIN_QTY = 250


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: top-10 unshipped-revenue orders for one market segment —
    orders placed before the cutoff with lineitems shipping after it.
    Customer (broadcast) filters orders FIRST, so the lineitem join sees
    only the segment's orders; the fact shuffles once on orderkey, the
    top-10 is a global sort of the (small) aggregated set. l_orderkey is
    unique per group, so the limit is deterministic under the
    (revenue DESC, o_orderdate, l_orderkey) order."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    seg = customer.filter(F.col("c_mktsegment") == SHIP_SEGMENT)
    o = (
        orders.filter(F.col("o_orderdate") < SHIP_CUTOFF)
        .join(F.broadcast(seg), orders.o_custkey == seg.c_custkey)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    return (
        li.filter(F.col("l_shipdate") > SHIP_CUTOFF)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_rev()).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: per-nation revenue where the customer and supplier share a
    nation inside one region, for one order year. All four dims broadcast;
    the co-nationality predicate rides the supplier join (an equi-condition
    on two already-joined columns), so the fact still shuffles only for the
    orders join + final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    lo, hi = LOCAL_YEAR
    rnation = nation.join(
        F.broadcast(region.filter(F.col("r_name") == LOCAL_REGION)),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    o = orders.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(customer), o.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(rnation), supplier.s_nationkey == rnation.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(_rev()).alias("revenue"))
    )


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume orders — total quantity above the threshold,
    joined back to order + customer. The quantity sum is decimal-exact
    (double sums are reduction-order-dependent, see functions/numeric.py),
    so the HAVING boundary is engine-identical. One fact shuffle for the
    per-order agg; orders join back on the (rare) qualifying keys;
    customer broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > BIG_ORDER_MIN_QTY)
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("o_totalprice"),
            F.round(F.col("qty_dec"), 2).cast("double").alias("total_qty"),
        )
    )


ORACLE: dict[str, str] = {
    "q_ship_priority": f"""
        SELECT l_orderkey,
               {dsum_sql(_REV_SQL)} AS revenue,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               o_orderpriority
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = '{SHIP_SEGMENT}'
          AND o_orderdate < TIMESTAMP '{SHIP_CUTOFF}'
          AND l_shipdate > TIMESTAMP '{SHIP_CUTOFF}'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "q_local_supplier_volume": f"""
        SELECT n_name, {dsum_sql(_REV_SQL)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{LOCAL_REGION}'
          AND o_orderdate >= TIMESTAMP '{LOCAL_YEAR[0]}'
          AND o_orderdate <  TIMESTAMP '{LOCAL_YEAR[1]}'
        GROUP BY n_name
    """,
    "q_big_orders": f"""
        WITH per_order AS (
            SELECT l_orderkey,
                   sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty_dec
            FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > {BIG_ORDER_MIN_QTY}
        )
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE)
                   AS o_totalprice,
               CAST(round(qty_dec, 2) AS DOUBLE) AS total_qty
        FROM per_order
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q_nation_volume": f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {dsum_sql(_REV_SQL)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        GROUP BY 1, 2, 3
    """,
    "q_promo_revenue": f"""
        SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                      THEN {_REV_SQL}
                                      ELSE CAST(0 AS DECIMAL(4,2)) END
                                      AS DECIMAL(18,4))) AS DOUBLE)
                     / CAST(sum(CAST({_REV_SQL} AS DECIMAL(18,4))) AS DOUBLE),
                     2) AS promo_pct,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    "q_part_supplier_count": """
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM pairs JOIN part ON l_partkey = p_partkey
        WHERE l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
        GROUP BY 1, 2, 3
    """,
    "q_small_qty_revenue": """
        WITH filtered AS (
            SELECT l_partkey, l_quantity, l_extendedprice,
                   avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
            FROM lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'
            )
        )
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                     / 7.0, 2) AS avg_yearly,
               count(*) AS n_lines
        FROM filtered
        WHERE l_quantity < 0.2 * avg_qty
    """,
    "q_disjunctive_join": f"""
        SELECT {dsum_sql(_REV_SQL)} AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q_idle_customers": """
        WITH a AS (
            SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey, count(*) AS n_custs,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS total_bal
        FROM customer, a
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
          )
        GROUP BY c_nationkey
    """,
    "q_forecast_revenue": f"""
        SELECT {dsum_sql("CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))")} AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q_min_cost_supplier": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
            FROM lineitem GROUP BY 1, 2
        ), regional AS (
            SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, ps.supply_cost
            FROM ps
            JOIN supplier s ON ps.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
            JOIN part p ON ps.l_partkey = p.p_partkey AND p.p_size < 10
        )
        SELECT p_partkey, p_brand, s_name, n_name, supply_cost
        FROM (
            SELECT *, min(supply_cost) OVER (PARTITION BY p_partkey) AS min_cost
            FROM regional
        ) WHERE supply_cost = min_cost
    """,
    "q_market_share": f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               round(CAST(sum(CAST(CASE WHEN sn.n_name = 'NATION_3'
                              THEN {_REV_SQL}
                              ELSE CAST(0 AS DECIMAL(4,2)) END
                              AS DECIMAL(18,4))) AS DOUBLE)
                     / CAST(sum(CAST({_REV_SQL} AS DECIMAL(18,4))) AS DOUBLE),
                     6) AS mkt_share,
               {dsum_sql(_REV_SQL)} AS total_revenue
        FROM lineitem
        JOIN part p ON l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        JOIN orders o ON l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region cr ON cn.n_regionkey = cr.r_regionkey AND cr.r_name = 'AMERICA'
        JOIN supplier s ON l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        GROUP BY 1
    """,
    "q_product_profit": f"""
        SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
               {dsum_dec_sql(DEC_REV_SQL + " - CAST(0.6 AS DECIMAL(4,2)) * CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(8,2))")} AS profit
        FROM lineitem
        JOIN part p ON l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
        JOIN supplier s ON l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    """,
    "q_returned_revenue": f"""
        SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
               {dsum_sql(_REV_SQL)} AS revenue
        FROM lineitem
        JOIN orders o ON l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-10-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q_late_priority_lines": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE date_diff('day', o_orderdate, l_shipdate) > 60
        GROUP BY l_linestatus
    """,
    "q_top_supplier": f"""
        WITH per_supp AS (
            SELECT l_suppkey,
                   {dsum_sql(_REV_SQL)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, ps.total_revenue
        FROM per_supp ps
        JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        WHERE ps.total_revenue = (SELECT max(total_revenue) FROM per_supp)
    """,
    "q_excess_suppliers": """
        WITH pair_qty AS (
            SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
            GROUP BY 1, 2
        ), dominant AS (
            SELECT DISTINCT l_suppkey FROM (
                SELECT *, sum(pair_qty) OVER (PARTITION BY l_partkey) AS part_qty
                FROM pair_qty
            ) WHERE pair_qty > 0.3 * part_qty
        )
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_7')
          AND s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
    "q_waiting_orders": """
        WITH per_order AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_supp,
                   count(DISTINCT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
                                       THEN l_suppkey END) AS n_late_supp,
                   max(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
                            THEN l_suppkey END) AS late_supp
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
            GROUP BY l_orderkey
        )
        SELECT s.s_name, count(*) AS numwait
        FROM per_order p
        JOIN supplier s ON p.late_supp = s.s_suppkey
        WHERE p.n_supp > 1 AND p.n_late_supp = 1
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 10
    """,
}
