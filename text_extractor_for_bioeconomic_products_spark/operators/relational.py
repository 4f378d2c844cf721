"""Relational queries and censuses over the testdata tables.

The ``q_*`` entries of ``QUERIES`` are TPC-H-style driver queries over
the orders/lineitem/customer/supplier/part tables (plus the documents
snapshot diff); each has a matching ANSI-SQL oracle in ORACLE_SQL
(runnable by DuckDB on the same parquet views).  ``sessionize`` is the
batch reference for the streaming sessionizer
(``streaming/pipeline.py::run_streaming_sessionizer``); the trend,
Benford, Gini and seasonality censuses feed ``jobs/run_datacard.py``
and carry ``ORACLE_*`` twins.  Column aliases match exactly between
both sides (driver hashes by sorted column name).  Floats are rounded
to 4 decimals on both sides.

Plan notes per query document the physical strategy we expect at scale
(broadcast vs shuffle, pushdown, TakeOrderedAndProject).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load


# --- O1 / F5: dynamic-predicate top-k search (database.py:290-342) --------

def q_topk_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE + range predicate + ORDER BY ... LIMIT → TakeOrderedAndProject;
    both predicates push into the parquet scan."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders
        .filter(F.col("o_orderpriority").like("1-URGENT%") & (F.col("o_totalprice") >= 100000))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# --- O2: recent-first limit (database.py:445-449) -------------------------

def q_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(50)
    )


# --- A1/A6: hash aggregate with partial combine (pdf_processor.py:124-171)

def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped grouped aggregate — partial (map-side) agg + single
    shuffle on the 6-value group key; whole-stage codegen end-to-end."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(8,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty), 4).cast("double").alias("sum_qty"),
            F.round(F.sum(price), 4).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * (1 - disc)), 4).cast("double").alias("sum_disc_price"),
            F.round(F.avg(disc), 4).cast("double").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- A6: conditional-count buckets (database.py:503-515) -------------------

def q_order_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.agg(
        F.sum(F.when(F.col("o_totalprice") < 50000, 1).otherwise(0)).alias("bucket_low"),
        F.sum(F.when((F.col("o_totalprice") >= 50000) & (F.col("o_totalprice") < 150000), 1).otherwise(0)).alias("bucket_mid"),
        F.sum(F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0)).alias("bucket_high"),
        F.count("*").alias("total"),
    )


# --- J1 (broadcast dim join) + A2 (database.py:473-501) --------------------

def q_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation is a 25-row dim → broadcast hash join, zero shuffle for the
    join; the groupBy shuffles on n_name only."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg(F.col("c_acctbal").cast("decimal(12,2)")), 4).cast("double").alias("avg_acctbal"),
        )
        .orderBy("n_name")
    )


# --- J1 (fact-fact join) + A7 ----------------------------------------------

def q_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem on orderkey — the one genuinely big shuffle join;
    AQE handles skew/coalescing.  At 100 TB both sides would be bucketed on
    orderkey to make this co-located (`sources/layout.py` implements that
    layout; `bucketed_join_stats` is the shuffle-free twin)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(14,2)")
                          * (1 - F.col("l_discount").cast("decimal(8,2)"))), 4)
            .cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --- A6 extension: hierarchical subtotals via ROLLUP ------------------------

def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region → nation → grand-total revenue census in ONE pass via
    `rollup` (the reference recomputes per-level totals with separate
    GROUP BY scans; Spark's ROLLUP emits all three levels from a single
    shuffle — `Expand` duplicates each row once per grouping set BEFORE
    the exchange, so map-side partial aggregation still applies and the
    fact table is scanned exactly once).  `grouping_id()` disambiguates
    subtotal rows from real NULL keys; dims are broadcast so the only
    shuffle is the final hash aggregate on the (small) grouping keys.
    At 100 TB this is strictly better than the 3-scan alternative: one
    fact scan, one exchange, output bounded by |regions|·|nations|."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("lvl"),
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 4)
            .cast("double").alias("revenue"),
        )
        .orderBy("lvl", "r_name", "n_name")
    )


# --- J4: gazetteer membership as broadcast semi join (validation.py:176-178)

def q_american_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    amer_nations = (
        nation.join(F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
                     nation.n_regionkey == region.r_regionkey, "left_semi")
    )
    return (
        supplier.join(F.broadcast(amer_nations),
                       supplier.s_nationkey == amer_nations.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# --- U1/U2: union + distinct (direct_batch_process.py:133-137) -------------

def q_active_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(supp.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
        .orderBy("nationkey")
    )


# --- A8/O5: order-stable distinct collection (extraction_result.py:104-109)

def q_region_nation_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort_array(collect_set(...)) — the determinism rule for collected
    sets (SURVEY §7.4); emitted as a joined string for oracle comparison."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"))
        .orderBy("r_name")
    )


# --- Anti join: customers with no orders ------------------------------------

def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti (NOT EXISTS) — the complement of the J4 semi-join shape."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
    )


# --- Set difference: nations with customers but no suppliers ----------------

def q_customer_only_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
        .exceptAll(supp.select(F.col("s_nationkey").alias("nationkey")).distinct())
        .orderBy("nationkey")
    )


# --- part-table stats (dimension profiling) ----------------------------------

def q_part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    # prices avg'd in DECIMAL: double summation order differs between
    # engines and can land a .xxxx5 average on opposite rounding sides
    dec_price = F.col("p_retailprice").cast("decimal(12,2)")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
            F.round(F.avg(dec_price), 4).cast("double").alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand")
    )


# --- Sessionization: gap-based session ids (lag + conditional cumsum) ------

SESSION_GAP_MIN = 30


def sessionize(events: DataFrame) -> DataFrame:
    """Session aggregation over an events frame (new session when the gap
    to the previous event exceeds SESSION_GAP_MIN minutes) — the classic
    two-window composition (lag → cumsum) with a single
    user_id-partitioned shuffle.

    Gap seconds are INTEGER-truncated on purpose: ``unix_timestamp``
    drops fractional seconds, and the DuckDB oracle pins the same
    semantics with ``CAST(floor(epoch(ts)) AS BIGINT)`` — sub-second timestamps
    must split sessions identically in both engines (covered by a
    sub-second fixture test, not just the whole-second synthetic data).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast in Spark 4; epoch seconds via
    # unix_timestamp (session tz fixed to UTC in session.py)
    epoch = F.unix_timestamp("ts")
    gapped = events.withColumn(
        "new_session",
        F.when(
            epoch - F.lag(epoch).over(w) > SESSION_GAP_MIN * 60, 1
        ).otherwise(0),
    )
    sessioned = gapped.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4).cast("double").alias("session_value"),
            F.min("event_id").alias("first_event_id"),
        )
        .orderBy("user_id", "session_id")
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load(spark, sf_dir, "events"))


# --- NTILE decile bucketing (rank-family window) ----------------------------

def q_order_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile boundaries of order value — ntile window + per-decile agg."""
    orders = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 4).alias("min_price"),
            F.round(F.max("o_totalprice"), 4).alias("max_price"),
        )
        .orderBy("decile")
    )


# --- Q3 shape: selective 3-way join + top-k by computed aggregate ----------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: segment-filtered customer ⋈ orders ⋈ lineitem with
    date predicates on both fact sides, top-10 orders by revenue.  The
    customer side shrinks ~5× before the join (filter pushed to scan);
    orders⋈lineitem is the big shuffle join, AQE-coalesced; final top-k is
    TakeOrderedAndProject — no global sort materialization."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (1 - F.col("l_discount").cast("decimal(8,2)"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey", "o_orderdate",
            F.round("rev_exact", 4).cast("double").alias("revenue"),
        )
    )


# --- Q5 shape: 6-table join with region-local supplier constraint ----------

def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: region ⋈ nation ⋈ (customer ⋈ orders ⋈ lineitem ⋈
    supplier) where supplier and customer share a nation.  region/nation/
    supplier/customer all broadcast at dim scale; the only big shuffle is
    orders⋈lineitem.  Catalyst reorders the dim joins below it."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (1 - F.col("l_discount").cast("decimal(8,2)"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), F.asc("n_name"))
        .select("n_name", F.round("rev_exact", 4).cast("double").alias("revenue"))
    )


# --- rank-per-group: top supplier by revenue within each nation -------------

def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate lineitem by suppkey first (shrinks the fact side to one
    row per supplier BEFORE any join — partial agg does the heavy
    lifting), then broadcast-join dims and take rank 1 per nation."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (1 - F.col("l_discount").cast("decimal(8,2)"))
    supp_rev = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_exact"))
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("rev_exact"), F.asc("s_suppkey"))
    return (
        supp_rev.join(F.broadcast(supp), supp_rev.l_suppkey == supp.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(
            "n_name", "s_suppkey", "s_name",
            F.round("rev_exact", 4).cast("double").alias("revenue"),
        )
        .orderBy("n_name")
    )


# --- Q14 shape: conditional-aggregate ratio over a fact⋈dim join ------------

def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-type revenue share in 1996 — lineitem ⋈ part (part broadcasts
    at dim scale; at 100 TB part is bucketed on p_partkey instead), then a
    single-row conditional aggregate; exact decimal sums, one double
    division at the end."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (1 - F.col("l_discount").cast("decimal(8,2)"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # the share rounds through DECIMAL(18,10): a plain double round() breaks
    # shortest-decimal half-ties (.xxxx5) differently across engines
    return joined.agg(
        F.round(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(14,2)"))).cast("double")
                / F.sum(rev).cast("double")
            ).cast("decimal(18,10)"),
            4,
        ).cast("double").alias("promo_share"),
        F.count("*").alias("n_lineitems"),
    )


# --- Q13 shape: outer join + two-level aggregation (distribution) -----------

def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-per-customer histogram — left outer join (customers with no
    orders count 0), groupBy custkey, then groupBy the count itself.
    Two shuffles by design; the second input is one row per customer."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- Q18 shape: groupBy-HAVING on an aggregate + top-k -----------------------

LARGE_ORDER_TOTAL = 400000


def q_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose summed order value exceeds a threshold (TPC-H Q18
    family): one shuffle on custkey with map-side partial sums; the HAVING
    filter runs post-aggregate, then top-k."""
    orders = load(spark, sf_dir, "orders")
    total = F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), total.alias("total_exact"))
        .filter(F.col("total_exact") > LARGE_ORDER_TOTAL)
        .orderBy(F.desc("total_exact"), F.asc("o_custkey"))
        .limit(20)
        .select(
            "o_custkey", "n_orders",
            F.round("total_exact", 4).cast("double").alias("total_spent"),
        )
    )


# --- Q22 shape: scalar-subquery threshold + anti join ------------------------

def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average positive balance and NO orders (TPC-H
    Q22 family): a broadcast scalar aggregate feeds the filter, then a
    left-anti join against orders; census per nation."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    # bal > avg ⟺ bal * n > total — exact decimal/integer math on both
    # engines (DuckDB's avg(DECIMAL) returns DOUBLE, which could flip
    # boundary rows)
    stats = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(14,2)")).alias("bal_total"),
            F.count("*").alias("bal_n"),
        )
    )
    rich = cust.crossJoin(F.broadcast(stats)).filter(
        F.col("c_acctbal").cast("decimal(14,2)") * F.col("bal_n") > F.col("bal_total")
    )
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 4)
            .cast("double").alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


# --- Referential-integrity audit (ingest validation) -----------------------
#
# The data-quality gate a pipeline runs before trusting a new snapshot:
# per FK edge, how many child rows point at a missing parent.  Each edge
# is one broadcast-semi-join-shaped anti count (the parent KEY SET is the
# small side; at 100 TB a too-big parent side falls back to a shuffle
# semi join, same semantics).  The corpus is referentially intact by
# construction, so the audit simulates partial dim loss — customers with
# c_custkey ≡ 0 (mod 997) "deleted" — making the orphan path non-vacuous
# on both engines; the other edges prove the clean-pass path.
_RI_DROP_MOD = 997


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % _RI_DROP_MOD != 0
    )
    nation = load(spark, sf_dir, "nation")

    def edge(name: str, child: DataFrame, ckey: str, parent: DataFrame,
             pkey: str) -> DataFrame:
        keys = parent.select(F.col(pkey).alias(ckey)).distinct()
        orphans = child.join(F.broadcast(keys), ckey, "left_anti")
        return child.agg(
            F.lit(name).alias("fk"),
            F.count("*").alias("n_child_rows"),
        ).crossJoin(orphans.agg(F.count("*").alias("n_orphans")))

    return (
        edge("orders->customer", orders, "o_custkey", customer, "c_custkey")
        .unionByName(
            edge("lineitem->orders", lineitem, "l_orderkey", orders,
                 "o_orderkey")
        )
        .unionByName(
            edge("customer->nation", customer, "c_nationkey", nation,
                 "n_nationkey")
        )
        .orderBy("fk")
    )


# --- Fulfillment latency (order-to-ship SLA census) ---------------------------

def q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days from order to line-item shipment, per order priority — the
    SLA census.  The fact-fact join is the bucketed-layout pair
    (orders⋈lineitem on orderkey), the latency is a pure date diff, and
    the stats aggregate to |priorities| rows."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    lat = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .select(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").alias("days"),
        )
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.avg(F.col("days").cast("decimal(18,6)")), 4
            ).cast("double").alias("avg_days"),
            F.round(
                F.percentile("days", 0.5).cast("decimal(18,10)"), 4
            ).cast("double").alias("p50_days"),
            F.max("days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


# --- Snapshot diff (CDC census) ---------------------------------------------
#
# The incremental-ingest question: between yesterday's snapshot and
# today's, what was added / deleted / updated / unchanged — per source,
# BEFORE committing the merge (the Iceberg snapshot-diff analog; the
# keyed counterpart of plans.pipeline.merge_turns which APPLIES changes,
# where this one measures them).  One full-outer join on the key with
# md5 content comparison; at 100 TB both snapshots live in the bucketed
# layout (sources/layout.py) so the join is co-located and the md5
# projection means full text never rides the shuffle.  The "new"
# snapshot is derived deterministically (delete ≡0 mod 13, update ≡0
# mod 11, add re-keyed ≡0 mod 17 rows) so all four paths are
# non-vacuous on both engines.
_DIFF_DEL_MOD, _DIFF_UPD_MOD, _DIFF_ADD_MOD = 13, 11, 17
_DIFF_ADD_KEY_OFFSET = 1_000_000


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    old = docs.select("doc_id", F.md5("text").alias("h"), "source")
    surviving = docs.filter(F.col("doc_id") % _DIFF_DEL_MOD != 0)
    new = surviving.select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % _DIFF_UPD_MOD == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            ).otherwise(F.col("text"))
        ).alias("h"),
        "source",
    ).unionByName(
        docs.filter(F.col("doc_id") % _DIFF_ADD_MOD == 0).select(
            (F.col("doc_id") + _DIFF_ADD_KEY_OFFSET).alias("doc_id"),
            F.md5("text").alias("h"),
            "source",
        )
    )
    j = old.alias("o").join(new.alias("n"), "doc_id", "full_outer")
    status = (
        F.when(F.col("o.h").isNull(), "added")
        .when(F.col("n.h").isNull(), "deleted")
        .when(F.col("o.h") != F.col("n.h"), "updated")
        .otherwise("unchanged")
    )
    src = F.coalesce(F.col("o.source"), F.col("n.source"))
    return (
        j.select(src.alias("source"), status.alias("status"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("status") == "added", 1).otherwise(0)).alias("n_added"),
            F.sum(F.when(F.col("status") == "deleted", 1).otherwise(0)).alias("n_deleted"),
            F.sum(F.when(F.col("status") == "updated", 1).otherwise(0)).alias("n_updated"),
            F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0)).alias("n_unchanged"),
        )
        .orderBy("source")
    )


# --- Approximate percentiles (GK sketch) with in-band rank-error check.
# order_price_percentiles below is the exact path: a full sort-based
# aggregate.  At 100 TB the exact quantile needs the whole column through
# one aggregation; percentile_approx's Greenwald-Khanna sketch is
# mergeable with rank error ≤ n/accuracy, so each partition ships a
# bounded summary.  The sketch value itself is engine-specific, so the
# output carries the EXACT percentiles plus per-quantile bound flags computed Spark-side — the
# approx value must land between the exact interpolated quantiles at
# q ± 2/accuracy (2× the proven rank slack absorbs interpolation
# off-by-ones).  The oracle asserts TRUE; sketch drift breaks the hash.
_APPROX_PCT_ACCURACY = 100  # ε = 1% rank error
_PCT_QS = [0.25, 0.50, 0.75, 0.95]


def q_order_price_percentiles_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    eps = 2.0 / _APPROX_PCT_ACCURACY
    lo_qs = [max(q - eps, 0.0) for q in _PCT_QS]
    hi_qs = [min(q + eps, 1.0) for q in _PCT_QS]
    agg = orders.agg(
        F.percentile_approx(
            "o_totalprice", _PCT_QS, F.lit(_APPROX_PCT_ACCURACY)
        ).alias("apx"),
        F.percentile("o_totalprice", _PCT_QS).alias("exact"),
        F.percentile("o_totalprice", lo_qs).alias("lo"),
        F.percentile("o_totalprice", hi_qs).alias("hi"),
        F.count("*").alias("n_orders"),
    )
    cols = [
        F.round(F.col("exact")[i].cast("decimal(18,10)"), 4)
        .cast("double")
        .alias(f"p{int(q * 100)}")
        for i, q in enumerate(_PCT_QS)
    ] + [
        (
            (F.col("apx")[i] >= F.col("lo")[i])
            & (F.col("apx")[i] <= F.col("hi")[i])
        ).alias(f"p{int(q * 100)}_within_bound")
        for i, q in enumerate(_PCT_QS)
    ]
    return agg.select(*cols, "n_orders")


# --- Exact interpolated percentiles (the scale-analytics quantile op) -------

def q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles of order value — Spark's
    percentile() (exact, sort-based; the approx_percentile sketch is the
    ~constant-memory alternative at 100 TB) vs DuckDB quantile_cont.
    Rounds route through DECIMAL(18,10) for cross-engine tie safety."""
    orders = load(spark, sf_dir, "orders")

    def p(q, name):
        return F.round(
            F.percentile("o_totalprice", q).cast("decimal(18,10)"), 4
        ).cast("double").alias(name)

    return orders.agg(
        p(0.25, "p25"), p(0.5, "p50"), p(0.75, "p75"), p(0.95, "p95"),
        F.count("*").alias("n_orders"),
    )


ORACLE_SQL = {
    "order_price_percentiles": """
        SELECT CAST(round(CAST(quantile_cont(o_totalprice, 0.25) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p25,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.50) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p50,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.75) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p75,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.95) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p95,
               count(*) AS n_orders
        FROM orders
    """,
    "fulfillment_latency": """
        SELECT o_orderpriority,
               count(*) AS n_items,
               CAST(round(avg(CAST(datediff('day', o_orderdate, l_shipdate)
                                   AS DECIMAL(18,6))), 4) AS DOUBLE) AS avg_days,
               CAST(round(CAST(quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.5)
                               AS DECIMAL(18,10)), 4) AS DOUBLE) AS p50_days,
               max(datediff('day', o_orderdate, l_shipdate)) AS max_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "snapshot_diff": f"""
        WITH old AS (
            SELECT doc_id, md5(text) AS h, source FROM documents
        ),
        new AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % {_DIFF_UPD_MOD} = 0
                            THEN text || ' v2' ELSE text END) AS h,
                   source
            FROM documents WHERE doc_id % {_DIFF_DEL_MOD} <> 0
            UNION ALL
            SELECT doc_id + {_DIFF_ADD_KEY_OFFSET}, md5(text), source
            FROM documents WHERE doc_id % {_DIFF_ADD_MOD} = 0
        )
        SELECT coalesce(o.source, n.source) AS source,
               CAST(sum(CASE WHEN o.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
               CAST(sum(CASE WHEN o.h IS NOT NULL AND n.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
               CAST(sum(CASE WHEN o.h IS NOT NULL AND n.h IS NOT NULL AND o.h <> n.h THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
               CAST(sum(CASE WHEN o.h IS NOT NULL AND n.h IS NOT NULL AND o.h = n.h THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        FROM old o FULL OUTER JOIN new n USING (doc_id)
        GROUP BY coalesce(o.source, n.source)
        ORDER BY source
    """,
    "referential_integrity": f"""
        WITH cust AS (
            SELECT * FROM customer WHERE c_custkey % {_RI_DROP_MOD} <> 0
        )
        SELECT 'orders->customer' AS fk,
               (SELECT count(*) FROM orders) AS n_child_rows,
               (SELECT count(*) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM cust)) AS n_orphans
        UNION ALL
        SELECT 'lineitem->orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        UNION ALL
        SELECT 'customer->nation',
               (SELECT count(*) FROM cust),
               (SELECT count(*) FROM cust
                WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
        ORDER BY fk
    """,
    "order_price_percentiles_approx": """
        SELECT CAST(round(CAST(quantile_cont(o_totalprice, 0.25) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p25,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.50) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p50,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.75) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p75,
               CAST(round(CAST(quantile_cont(o_totalprice, 0.95) AS DECIMAL(18,10)), 4) AS DOUBLE) AS p95,
               TRUE AS p25_within_bound,
               TRUE AS p50_within_bound,
               TRUE AS p75_within_bound,
               TRUE AS p95_within_bound,
               count(*) AS n_orders
        FROM orders
    """,
    "big_spenders": f"""
        SELECT o_custkey, n_orders,
               CAST(round(total_exact, 4) AS DOUBLE) AS total_spent
        FROM (
            SELECT o_custkey, count(*) AS n_orders,
                   sum(o_totalprice::DECIMAL(14,2)) AS total_exact
            FROM orders
            GROUP BY o_custkey
            HAVING sum(o_totalprice::DECIMAL(14,2)) > {LARGE_ORDER_TOTAL}
        )
        ORDER BY total_exact DESC, o_custkey ASC
        LIMIT 20
    """,
    "idle_rich_customers": """
        SELECT c_nationkey,
               count(*) AS n_customers,
               CAST(round(sum(c_acctbal::DECIMAL(12,2)), 4) AS DOUBLE) AS total_acctbal
        FROM customer
        WHERE c_acctbal::DECIMAL(14,2)
                  * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
              > (SELECT sum(c_acctbal::DECIMAL(14,2)) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    "shipping_priority": """
        SELECT o_orderkey, o_orderdate,
               CAST(round(rev_exact, 4) AS DOUBLE) AS revenue
        FROM (
            SELECT o_orderkey, o_orderdate,
                   sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(8,2))) AS rev_exact
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY o_orderkey, o_orderdate
        )
        ORDER BY rev_exact DESC, o_orderkey ASC
        LIMIT 10
    """,
    "local_supplier_volume": """
        SELECT n_name, CAST(round(rev_exact, 4) AS DOUBLE) AS revenue
        FROM (
            SELECT n_name,
                   sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(8,2))) AS rev_exact
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        )
        ORDER BY rev_exact DESC, n_name ASC
    """,
    "top_supplier_per_nation": """
        SELECT n_name, s_suppkey, s_name,
               CAST(round(rev_exact, 4) AS DOUBLE) AS revenue
        FROM (
            SELECT s_nationkey, s_suppkey, s_name, rev_exact,
                   row_number() OVER (
                       PARTITION BY s_nationkey
                       ORDER BY rev_exact DESC, s_suppkey ASC
                   ) AS rn
            FROM (
                SELECT l_suppkey,
                       sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(8,2))) AS rev_exact
                FROM lineitem GROUP BY l_suppkey
            )
            JOIN supplier ON l_suppkey = s_suppkey
        )
        JOIN nation ON s_nationkey = n_nationkey
        WHERE rn = 1
        ORDER BY n_name
    """,
    "promo_revenue_share": """
        SELECT CAST(round(CAST(
                   100.0
                   * CAST(sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(8,2))
                              ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
                   / CAST(sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(8,2))) AS DOUBLE)
                   AS DECIMAL(18,10)), 4) AS DOUBLE) AS promo_share,
               count(*) AS n_lineitems
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
    "customer_order_distribution": """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_nationkey
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
    "customer_only_nations": """
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
    "part_type_stats": """
        SELECT p_brand,
               count(*) AS n_parts,
               count(DISTINCT p_type) AS n_types,
               CAST(round(avg(p_retailprice::DECIMAL(12,2)), 4) AS DOUBLE) AS avg_price,
               max(p_size) AS max_size
        FROM part
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    "user_sessions": f"""
        SELECT user_id, session_id,
               count(*) AS n_events,
               CAST(round(sum(value::DECIMAL(18,6)), 4) AS DOUBLE) AS session_value,
               min(event_id) AS first_event_id
        FROM (
            -- CAST to BIGINT: DuckDB window sum(INTEGER) yields HUGEINT; Spark yields BIGINT.
            -- floor(epoch): integer-truncate seconds like Spark's unix_timestamp —
            -- DuckDB epoch() keeps fractional seconds and a bare CAST(double AS
            -- BIGINT) would ROUND, splitting sub-second sessions differently.
            SELECT user_id, event_id, value,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM (
                SELECT *,
                       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) > {SESSION_GAP_MIN * 60}
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            )
        )
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    "order_price_deciles": """
        SELECT decile,
               count(*) AS n_orders,
               round(min(o_totalprice), 4) AS min_price,
               round(max(o_totalprice), 4) AS max_price
        FROM (
            SELECT o_totalprice,
                   ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
            FROM orders
        )
        GROUP BY decile
        ORDER BY decile
    """,
    "topk_urgent_orders": """
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderpriority LIKE '1-URGENT%' AND o_totalprice >= 100000
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20
    """,
    "recent_orders": """
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders
        ORDER BY o_orderdate DESC, o_orderkey ASC
        LIMIT 50
    """,
    "lineitem_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(l_quantity::DECIMAL(12,2)), 4) AS DOUBLE) AS sum_qty,
               CAST(round(sum(l_extendedprice::DECIMAL(14,2)), 4) AS DOUBLE) AS sum_base_price,
               CAST(round(sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(8,2))), 4) AS DOUBLE) AS sum_disc_price,
               CAST(round(avg(l_discount::DECIMAL(8,2)), 4) AS DOUBLE) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "order_price_buckets": """
        -- CAST(sum(..) AS BIGINT): DuckDB sum(INTEGER) yields HUGEINT; Spark yields BIGINT.
        SELECT CAST(sum(CASE WHEN o_totalprice < 50000 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_low,
               CAST(sum(CASE WHEN o_totalprice >= 50000 AND o_totalprice < 150000 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_mid,
               CAST(sum(CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END) AS BIGINT) AS bucket_high,
               count(*) AS total
        FROM orders
    """,
    "customers_per_nation": """
        SELECT n_name,
               count(*) AS n_customers,
               CAST(round(avg(c_acctbal::DECIMAL(12,2)), 4) AS DOUBLE) AS avg_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    # GROUPING(r_name, n_name) bit order matches Spark's grouping_id()
    # (first listed column = most significant bit): 0 = detail row,
    # 1 = per-region subtotal (n_name NULL), 3 = grand total
    "revenue_rollup": """
        SELECT r_name, n_name,
               GROUPING(r_name, n_name) AS lvl,
               count(*) AS n_orders,
               CAST(round(sum(o_totalprice::DECIMAL(14,2)), 4) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY lvl, r_name, n_name
    """,
    "revenue_by_priority": """
        SELECT o_orderpriority,
               count(DISTINCT o_orderkey) AS n_orders,
               CAST(round(sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(8,2))), 4) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "american_suppliers": """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'AMERICA')
        )
        ORDER BY s_suppkey
    """,
    "active_nation_keys": """
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        UNION
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
    "region_nation_list": """
        SELECT r_name,
               array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
    """,
}


# ---------------------------------------------------------------------------
# Per-user value trend: exact-moment least squares (regr_slope twin)
# ---------------------------------------------------------------------------

# fixed x-origin (2020-01-01 UTC): slope is shift-invariant, and
# centering epoch seconds keeps every exact moment far inside
# DECIMAL(38) on both engines ((sx)^2 would overflow DuckDB's width
# rules on raw epochs)
TREND_X0 = 1_577_836_800


def user_value_trend(events: DataFrame) -> DataFrame:
    """Per-user least-squares trend of ``value`` over time — the drift
    census a metrics pipeline runs per entity (is this user's spend
    rising?).  Spark ships ``regr_slope``, but its double accumulation
    is partition-order-dependent; this computes the five moments
    (n, Σx, Σy, Σxy, Σx²) as EXACT decimal sums (x = centered integer
    epoch seconds, y quantized DECIMAL(18,6)) so the shuffle order
    cannot move a bit, then derives the slope through one fixed IEEE
    expression both engines evaluate identically — the
    ``user_burstiness`` discipline applied to regression.

    Output: (user_id, n_events, slope_per_hour) for users with ≥ 2
    distinct-time events (a degenerate x-variance has no slope);
    slope_per_hour = slope·3600, DECIMAL(18,10)-routed round 6."""
    x = (F.unix_timestamp("ts") - F.lit(TREND_X0)).cast("decimal(18,0)")
    y = F.col("value").cast("decimal(18,6)")
    m = (
        # ts AND value both required: a null-ts row would count into n
        # but vanish from sum(x)/sum(xy)/sum(xx) (SQL sums skip nulls),
        # mixing a 3-row count with 2-row moments into a wrong slope
        events.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    return (
        m.filter((F.col("n") >= 2) & (denom != 0))
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.round((slope * F.lit(3600.0)).cast("decimal(18,10)"), 6)
            .cast("double")
            .alias("slope_per_hour"),
        )
        .orderBy("user_id")
    )


def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return user_value_trend(load(spark, sf_dir, "events"))


ORACLE_USER_VALUE_TREND = f"""
    WITH pts AS (
        SELECT user_id,
               CAST(CAST(floor(epoch(ts)) AS BIGINT) - {TREND_X0}
                    AS DECIMAL(18,0)) AS x,
               CAST(value AS DECIMAL(18,6)) AS y
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    m AS (
        SELECT user_id, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts GROUP BY user_id
    ),
    d AS (
        SELECT user_id, n,
               CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
               CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
               CAST(sxx AS DOUBLE) AS sxxd
        FROM m
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(round(CAST(
               ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd))
               * CAST(3600.0 AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS slope_per_hour
    FROM d
    WHERE n >= 2 AND (nd * sxxd - sxd * sxd) <> 0
    ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit census
# ---------------------------------------------------------------------------


def benford_digit_census(
    df: DataFrame, amount_col: str = "o_totalprice"
) -> DataFrame:
    """First-significant-digit distribution of an amount column vs the
    Benford expectation log10(1+1/d) — the classic fabricated-data /
    unit-mixing audit (naturally-grown multiplicative amounts follow
    Benford; synthetic uniforms and copy-pastes don't).

    Engine-portable digit extraction: the TRUNCATED integer part
    (``floor``) is cast through DECIMAL(18,0) to STRING — decimal-to-string
    is exact and renders identically on both engines, where
    double-to-string formatting does NOT (Spark '1.0E5' vs DuckDB
    '100000.0'); its first character is the digit, exact for every
    amount >= 1.  Quantizing to DECIMAL(18,2) instead would round
    HALF_UP first and move 9.997 to '10.00', digit 1.  Shares and the
    expectation are fixed IEEE chains over exact counts, rounded
    through DECIMAL(18,10).  Rows with NULL or < 1 amounts are excluded
    (no first significant digit in this simple extraction)."""
    amt = F.col(amount_col)
    digit = F.substring(
        F.floor(amt).cast("decimal(18,0)").cast("string"), 1, 1
    ).cast("int")
    per_digit = (
        df.filter(amt.isNotNull() & (amt >= 1))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n_rows"))
    )
    tot = per_digit.agg(F.sum("n_rows").alias("n_total"))
    observed = F.col("n_rows").cast("double") / F.col("n_total").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return (
        per_digit.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_rows",
            F.round(observed.cast("decimal(18,10)"), 6).cast("double")
            .alias("observed_share"),
            F.round(expected.cast("decimal(18,10)"), 6).cast("double")
            .alias("benford_share"),
            F.round(
                (observed - expected).cast("decimal(18,10)"), 6
            ).cast("double").alias("deviation"),
        )
        .orderBy("digit")
    )


def q_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return benford_digit_census(load(spark, sf_dir, "orders"))


ORACLE_BENFORD = """
    WITH pd AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS DECIMAL(18,0))
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM pd)
    SELECT digit, n_rows,
           CAST(round(CAST(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS observed_share,
           CAST(round(CAST(log10(CAST(1.0 AS DOUBLE)
                   + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS benford_share,
           CAST(round(CAST(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE)
                   - log10(CAST(1.0 AS DOUBLE)
                           + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS deviation
    FROM pd CROSS JOIN tot
    ORDER BY digit
"""


# ---------------------------------------------------------------------------
# Gini concentration census (revenue inequality per group)
# ---------------------------------------------------------------------------


def gini_concentration(
    df: DataFrame,
    group_col: str = "o_orderpriority",
    value_col: str = "o_totalprice",
    key_col: str = "o_orderkey",
) -> DataFrame:
    """Per-group Gini coefficient of a value column — the concentration
    census behind "is this source/priority dominated by a few huge
    rows?", asked of VALUE mass).

    G = 2·Σ(i·x_i) / (n·Σx) − (n+1)/n over values ranked ascending
    (row_number with a deterministic ``value, natural-key`` tie-break —
    tied values contribute the same Σ i·x_i under any tie order, so the
    tie-break only pins the plan, not the answer).  Σx and Σ(i·x_i) are
    EXACT decimal sums (values quantized DECIMAL(18,2)); the final G is
    one fixed IEEE chain — deterministic on both engines.  One shuffle
    on the group key (the rank window), then a group-sized aggregate.
    NULL and negative values are excluded (Gini is defined on
    non-negative mass)."""
    x = F.col(value_col).cast("decimal(18,2)")
    # rank on the RAW value (the oracle does too): ranking the quantized
    # x instead could order two rows differing only past 2 decimals
    # differently between the engines
    w = Window.partitionBy(group_col).orderBy(
        F.col("_raw"), F.col(key_col)
    )
    ranked = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) >= 0))
        .select(
            group_col, key_col, x.alias("x"),
            F.col(value_col).alias("_raw"),
        )
        .withColumn("i", F.row_number().over(w))
    )
    m = ranked.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("x")).alias("six"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    six = F.col("six").cast("double")
    gini = (
        F.lit(2.0) * six / (n * sx) - (n + F.lit(1.0)) / n
    )
    return (
        m.filter(F.col("sx") > 0)
        .select(
            group_col,
            F.col("n").alias("n_rows"),
            F.round(F.col("sx"), 2).cast("double").alias("total_value"),
            F.round(gini.cast("decimal(18,10)"), 6).cast("double")
            .alias("gini"),
        )
        .orderBy(group_col)
    )


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return gini_concentration(load(spark, sf_dir, "orders"))


ORACLE_REVENUE_GINI = """
    WITH ranked AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DECIMAL(18,2)) AS x,
               -- DECIMAL(19,0), not (18,0): DuckDB executes width-18
               -- decimal products in int64 and overflows (the
               -- numeric_corr_matrix finding); 19+18 forces int128
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
               ) AS DECIMAL(19,0)) AS i
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
    ),
    m AS (
        SELECT o_orderpriority, count(*) AS n,
               sum(x) AS sx, sum(i * x) AS six
        FROM ranked GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_rows,
           CAST(round(sx, 2) AS DOUBLE) AS total_value,
           CAST(round(CAST(
               CAST(2.0 AS DOUBLE) * CAST(six AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
               - (CAST(n AS DOUBLE) + CAST(1.0 AS DOUBLE))
                 / CAST(n AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS gini
    FROM m
    WHERE sx > 0
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Weekday x hour seasonality census
# ---------------------------------------------------------------------------


def seasonality_census(events: DataFrame) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the load-shape
    census behind capacity planning and bot detection (human traffic
    has a diurnal/weekly shape; scripted traffic is flat).

    Calendar fields are PURE INTEGER-EPOCH ARITHMETIC, not calendar
    functions: Spark's ``dayofweek`` counts 1=Sunday while DuckDB's
    ``dow`` counts 0=Sunday — a silent off-by-one an oracle would only
    catch by luck — so both engines compute
    ``dow = (epoch_days + 4) % 7`` (epoch day 0 = Thursday; +4 ⇒
    0=Sunday) and ``hour = (epoch % 86400) / 3600`` under the pinned
    UTC session.  Counts are exact; shares are one fixed IEEE division
    against a broadcast single-row total.  168-row output."""
    epoch = F.unix_timestamp("ts")
    cells = (
        events.filter(F.col("ts").isNotNull())
        .select(
            ((F.floor(epoch / 86400) + 4) % 7).cast("int").alias("dow"),
            F.floor((epoch % 86400) / 3600).cast("int").alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count("*").alias("n_events"))
    )
    tot = cells.agg(F.sum("n_events").alias("n_total"))
    share = F.col("n_events").cast("double") / F.col("n_total").cast("double")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n_events",
            F.round(share.cast("decimal(18,10)"), 6).cast("double")
            .alias("share"),
        )
        .orderBy("dow", "hour")
    )


def q_event_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB parity is pinned in tests/test_driver_contract.py."""
    return seasonality_census(load(spark, sf_dir, "events"))


ORACLE_EVENT_SEASONALITY = """
    WITH cells AS (
        SELECT CAST((CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) + 4) % 7
                    AS INT) AS dow,
               CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 3600)
                    AS INT) AS hour,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM cells)
    SELECT dow, hour, n_events,
           CAST(round(CAST(CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS DECIMAL(18,10)), 6) AS DOUBLE) AS share
    FROM cells CROSS JOIN tot
    ORDER BY dow, hour
"""


QUERIES = {
    "order_price_percentiles": q_order_price_percentiles,
    "order_price_percentiles_approx": q_order_price_percentiles_approx,
    "referential_integrity": q_referential_integrity,
    "snapshot_diff": q_snapshot_diff,
    "fulfillment_latency": q_fulfillment_latency,
    "big_spenders": q_big_spenders,
    "idle_rich_customers": q_idle_rich_customers,
    "shipping_priority": q_shipping_priority,
    "local_supplier_volume": q_local_supplier_volume,
    "top_supplier_per_nation": q_top_supplier_per_nation,
    "promo_revenue_share": q_promo_revenue_share,
    "customer_order_distribution": q_customer_order_distribution,
    "customers_without_orders": q_customers_without_orders,
    "customer_only_nations": q_customer_only_nations,
    "part_type_stats": q_part_type_stats,
    "user_sessions": q_user_sessions,
    "order_price_deciles": q_order_price_deciles,
    "topk_urgent_orders": q_topk_urgent_orders,
    "recent_orders": q_recent_orders,
    "lineitem_pricing_summary": q_lineitem_pricing_summary,
    "order_price_buckets": q_order_price_buckets,
    "customers_per_nation": q_customers_per_nation,
    "revenue_rollup": q_revenue_rollup,
    "revenue_by_priority": q_revenue_by_priority,
    "american_suppliers": q_american_suppliers,
    "active_nation_keys": q_active_nation_keys,
    "region_nation_list": q_region_nation_list,
}

