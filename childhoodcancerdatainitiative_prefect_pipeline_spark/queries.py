"""Query registry — the driver-facing contract.

Every implemented operator from SURVEY.md §2 gets a named entry:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-
expressible) a DuckDB oracle string over the same parquet tables.

Hash-parity conventions (see BASELINE.md):

- aggregates over doubles go through exact decimal arithmetic and
  are cast back to double — order-independent, so Spark's partial
  aggregation and DuckDB produce bit-identical values;
- every computed column is aliased identically on both sides;
- any LIMIT/top-k has a total deterministic ORDER BY (tie-breaks on
  a key column);
- ratios are rounded to a fixed scale on both sides after exact
  pre-aggregation.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_testdata
from .operators import aggregates as agg
from .operators import joins as J
from .operators import reshape, setops, windows
from .plans.catalog_stats import CATALOG_STATS_ORACLE, catalog_stats

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    fn: QueryFn
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(fn, oracle, doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    cat = load_testdata(spark, sf_dir, tables=tuple(names), register_views=False)
    return [cat[n] for n in names]


# ---------------------------------------------------------------------------
# Flagship plan
# ---------------------------------------------------------------------------

register("catalog_stats", CATALOG_STATS_ORACLE, "flagship §2.4 A1/A2/A6/A8 battery")(
    catalog_stats
)


# ---------------------------------------------------------------------------
# Aggregation pack (SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "a1_group_count",
    """SELECT o_orderpriority, COUNT(*) AS n FROM orders
       GROUP BY o_orderpriority""",
    "A1 groupby-size (workflows/data_catalog_stats.py:47-51)",
)
def a1_group_count(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    return agg.group_count(orders, ["o_orderpriority"], "n")


@register(
    "a2_two_level_distinct",
    """SELECT l_suppkey, COUNT(*) AS n FROM
       (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
       GROUP BY l_suppkey""",
    "A2 distinct-pair count (workflows/data_catalog_stats.py:150)",
)
def a2_two_level_distinct(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return agg.two_level_distinct_count(
        lineitem, ["l_orderkey", "l_suppkey"], ["l_suppkey"], "n"
    )


@register(
    "a3_duplicates",
    """SELECT l_partkey, COUNT(*) AS dup_count FROM lineitem
       GROUP BY l_partkey HAVING COUNT(*) > 1""",
    "A3 duplicate keys (src/s3_validationry_refactored.py:944-964)",
)
def a3_duplicates(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return agg.duplicates(lineitem, ["l_partkey"])


@register(
    "a4_key_collisions",
    """WITH tagged AS (
         SELECT CAST(c_custkey AS VARCHAR) AS key_value, 'customer' AS node FROM customer
         UNION ALL SELECT CAST(s_suppkey AS VARCHAR), 'supplier' FROM supplier
         UNION ALL SELECT CAST(p_partkey AS VARCHAR), 'part' FROM part
       )
       SELECT key_value, string_agg(DISTINCT node, ';' ORDER BY node) AS nodes
       FROM tagged GROUP BY key_value
       HAVING COUNT(DISTINCT node) > 1""",
    "A4 cross-table key collisions (src/s3_validationry_refactored.py:1022-1109)",
)
def a4_key_collisions(spark, sf_dir):
    customer, supplier, part = _t(spark, sf_dir, "customer", "supplier", "part")
    return agg.cross_table_key_collisions(
        [
            ("customer", customer, "c_custkey"),
            ("supplier", supplier, "s_suppkey"),
            ("part", part, "p_partkey"),
        ]
    )


@register(
    "a5_group_concat_distinct",
    """SELECT l_returnflag,
              string_agg(DISTINCT l_linestatus, ';' ORDER BY l_linestatus) AS linestatus_set
       FROM lineitem GROUP BY l_returnflag""",
    "A5 sorted distinct group-concat (src/s3_ccdi_to_sra.py:1186-1294)",
)
def a5_group_concat(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return agg.group_concat_distinct(
        lineitem, ["l_returnflag"], "l_linestatus", "linestatus_set"
    )


@register(
    "a7_min_per_group_dedup_sum",
    """SELECT CAST(SUM(m) AS DOUBLE) AS dedup_total FROM
       (SELECT MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS m
        FROM lineitem GROUP BY l_partkey)""",
    "A7 min-per-group then sum (src/neo4j_data_tools.py:337-345)",
)
def a7_min_dedup_sum(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return agg.min_per_group_dedup_sum(lineitem, "l_partkey", "l_extendedprice")


@register(
    "a9_dedup_keep_last",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM
       (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber DESC, l_partkey DESC,
                                           l_suppkey DESC) AS rn
        FROM lineitem) WHERE rn = 1""",
    "A9 keep-last dedup with explicit priority (src/s3_ccdi_to_sra.py:1151-1153)",
)
def a9_keep_last(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    kept = agg.dedup_keep_last(
        lineitem, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_suppkey"]
    )
    return kept.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")


@register(
    "a10_cardinality_guard",
    """SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_dependents
       FROM lineitem GROUP BY l_partkey
       HAVING COUNT(DISTINCT l_suppkey) > 1""",
    "A10 per-group cardinality guard (src/s3_ccdi_to_sra.py:1157-1183)",
)
def a10_cardinality(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    bad, _clean = agg.cardinality_guard(lineitem, "l_partkey", "l_suppkey", 1)
    return bad


@register(
    "a11_count_reconciliation",
    """WITH lc AS (SELECT o_custkey AS custkey, COUNT(*) AS left_count
                   FROM orders GROUP BY o_custkey),
            rc AS (SELECT c_custkey AS custkey, COUNT(*) AS right_count
                   FROM customer GROUP BY c_custkey)
       SELECT COALESCE(lc.custkey, rc.custkey) AS custkey, left_count, right_count,
              CASE WHEN COALESCE(left_count,0) = COALESCE(right_count,0)
                   THEN 'Equal' ELSE 'Unequal' END AS flag
       FROM lc FULL OUTER JOIN rc ON lc.custkey = rc.custkey""",
    "A11 count reconciliation (src/neo4j_data_tools.py:970-1008)",
)
def a11_reconcile(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return agg.count_reconciliation(
        orders.select(F.col("o_custkey").alias("custkey")),
        customer.select(F.col("c_custkey").alias("custkey")),
        ["custkey"],
    )


# ---------------------------------------------------------------------------
# Join pack (SURVEY §2.3) + set ops (§2.8)
# ---------------------------------------------------------------------------


@register(
    "j1_left_join",
    """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
       FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "J1 parent-child left join (src/s3_ccdi_to_cds.py:269-279)",
)
def j1_left_join(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    joined = J.left_join(
        orders.withColumnRenamed("o_custkey", "custkey"),
        customer.withColumnRenamed("c_custkey", "custkey"),
        "custkey",
        broadcast_child=True,
    )
    return joined.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@register(
    "j5_diff_join",
    """WITH l AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0),
            r AS (SELECT DISTINCT o_custkey AS custkey FROM orders)
       SELECT COALESCE(l.custkey, r.custkey) AS custkey,
              CASE WHEN l.custkey IS NOT NULL AND r.custkey IS NOT NULL THEN 'both'
                   WHEN l.custkey IS NOT NULL THEN 'left_only'
                   ELSE 'right_only' END AS _merge
       FROM l FULL OUTER JOIN r ON l.custkey = r.custkey""",
    "J5 outer diff join with indicator (workflows/compare_dataframes.py:27-50)",
)
def j5_diff_join(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    left = customer.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    right = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    return J.diff_join(left, right, ["custkey"]).select("custkey", "_merge")


@register(
    "j6_anti_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    "J6 existence anti-join (src/s3_validationry_refactored.py:1387-1427)",
)
def j6_anti(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return J.anti_join(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).select("c_custkey", "c_name")


@register(
    "j7_semi_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",
    "J7 semi-join (src/s3_ccdi_to_dbgap.py:236-273)",
)
def j7_semi(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return J.semi_join(customer, f_orders, ["c_custkey"]).select("c_custkey", "c_name")


@register(
    "j3_multi_path_flatten",
    """SELECT DISTINCT o_orderkey, n_name FROM (
         SELECT o.o_orderkey, n.n_name
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                       JOIN nation n ON c.c_nationkey = n.n_nationkey
         UNION ALL
         SELECT l.l_orderkey, n.n_name
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                         JOIN nation n ON s.s_nationkey = n.n_nationkey
       )""",
    "J3 union of join paths + dedup (src/s3_ccdi_to_cds.py:299-729)",
)
def j3_multi_path(spark, sf_dir):
    orders, customer, nation, lineitem, supplier = _t(
        spark, sf_dir, "orders", "customer", "nation", "lineitem", "supplier"
    )
    # nation is FIXED-size (25 rows at any SF) — hint it; customer and
    # supplier SCALE with SF (15B / 1B rows at a 100 TB build), so their
    # join strategy is left to size-based selection (20m threshold +
    # AQE): broadcast at bench scale, demote to a parallel shuffle join
    # once the side outgrows an executor — a forced hint would pin the
    # 100 TB plan to an impossible broadcast.
    nation_b = F.broadcast(nation)
    via_customer = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation_b, customer.c_nationkey == nation.n_nationkey)
        .select(F.col("o_orderkey"), F.col("n_name"))
    )
    via_supplier = (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(nation_b, supplier.s_nationkey == nation.n_nationkey)
        .select(F.col("l_orderkey").alias("o_orderkey"), F.col("n_name"))
    )
    return via_customer.unionByName(via_supplier).dropDuplicates(
        ["o_orderkey", "n_name"]
    )


@register(
    "j8_chain_resolve",
    """SELECT o_orderkey, r_name AS resolved_region
       FROM orders
       LEFT JOIN customer ON o_custkey = c_custkey
       LEFT JOIN nation ON c_nationkey = n_nationkey
       LEFT JOIN region ON n_regionkey = r_regionkey""",
    "J8 bounded chain traversal (src/s3_catcherry.py:770-905)",
)
def j8_chain(spark, sf_dir):
    orders, customer, nation, region = _t(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    # Each hop is one broadcastable dimension join; the reference's
    # deep_search loop becomes a statically-unrolled chain here (the
    # dynamic fixpoint variant lives in operators.joins.iterative_resolve).
    hops = [
        (customer.select(F.col("c_custkey").alias("k"), F.col("c_nationkey").alias("v"))),
        (nation.select(F.col("n_nationkey").alias("k"), F.col("n_regionkey").alias("v"))),
        (region.select(F.col("r_regionkey").alias("k"), F.col("r_name").alias("v"))),
    ]
    cur = orders.select("o_orderkey", F.col("o_custkey").alias("__cursor__"))
    # no broadcast hint: the nation/region hops auto-broadcast under
    # the 20m threshold at any SF, while the customer hop (SF-scaling)
    # must be free to demote to a shuffle join at 100 TB
    for hop in hops:
        cur = (
            cur.join(hop, cur["__cursor__"] == hop["k"], "left")
            .drop("__cursor__", "k")
            .withColumnRenamed("v", "__cursor__")
        )
    return cur.withColumnRenamed("__cursor__", "resolved_region")


@register(
    "u1_union_hetero",
    """SELECT CAST(c_custkey AS BIGINT) AS entity_id, c_name AS name,
              c_acctbal AS acctbal, c_mktsegment AS mktsegment
       FROM customer
       UNION ALL
       SELECT CAST(s_suppkey AS BIGINT), s_name, s_acctbal, CAST(NULL AS VARCHAR)
       FROM supplier""",
    "U1 heterogeneous union (src/s3_ccdi_to_cds.py:219-246)",
)
def u1_union_hetero(spark, sf_dir):
    customer, supplier = _t(spark, sf_dir, "customer", "supplier")
    c = customer.select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    s = supplier.select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return setops.union_hetero([c, s])


@register(
    "u3_except_keys",
    """SELECT s_suppkey, s_name FROM supplier
       WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem)""",
    "U3 key difference (src/s3_ccdi_to_dbgap.py:288-307)",
)
def u3_except(spark, sf_dir):
    supplier, lineitem = _t(spark, sf_dir, "supplier", "lineitem")
    return setops.except_keys(
        supplier.select("s_suppkey", "s_name"),
        lineitem.select(F.col("l_suppkey").alias("s_suppkey")),
        ["s_suppkey"],
    )


# ---------------------------------------------------------------------------
# Window pack (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "wa_top1_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM
       (SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn = 1""",
    "W-a top-1 per group by richness (src/s3_ccdi_to_sra.py:1039-1068)",
)
def wa_top1(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    best = windows.top1_per_group(
        orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    )
    return best.select("o_custkey", "o_orderkey", "o_totalprice")


@register(
    "wd_latest_per_group",
    """SELECT o_custkey, o_orderkey, o_orderdate FROM
       (SELECT o_custkey, o_orderkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey) AS rn
        FROM orders) WHERE rn = 1""",
    "W-d latest status per entity (workflows/mci_gdc_transform.py:31-60)",
)
def wd_latest(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    latest = windows.latest_per_group(
        orders, ["o_custkey"], "o_orderdate", tie_break=["o_orderkey"]
    )
    return latest.select("o_custkey", "o_orderkey", "o_orderdate")


@register(
    "wc_constancy_check",
    """WITH counted AS (
         SELECT l_partkey,
                COUNT(DISTINCT l_returnflag) AS l_returnflag,
                COUNT(DISTINCT l_linestatus) AS l_linestatus
         FROM lineitem GROUP BY l_partkey
       )
       SELECT l_partkey, column_name, n_distinct FROM (
         SELECT l_partkey, 'l_returnflag' AS column_name,
                l_returnflag AS n_distinct FROM counted
         UNION ALL
         SELECT l_partkey, 'l_linestatus', l_linestatus FROM counted
       ) WHERE n_distinct > 1""",
    "W-c intra-group constancy (src/s3_ccdi_to_sra.py:993-1036)",
)
def wc_constancy(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return windows.intra_group_constancy(
        lineitem, ["l_partkey"], ["l_returnflag", "l_linestatus"]
    )


# ---------------------------------------------------------------------------
# Reshape pack (SURVEY §2.6)
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "w1_eav_pivot",
    """SELECT user_id,
              COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
              COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
              COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
              COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
              COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
       FROM events GROUP BY user_id""",
    "W1 EAV long→wide pivot (src/neo4j_data_tools.py:1666-1759)",
)
def w1_eav_pivot(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    exprs = [F.col("user_id")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in EVENT_TYPES
    ]
    return pivoted.select(*exprs)


@register(
    "w2_spread_numbered",
    """SELECT l_orderkey,
              MAX(CASE WHEN rn = 1 THEN l_partkey END) AS "l_partkey.1",
              MAX(CASE WHEN rn = 1 THEN l_quantity END) AS "l_quantity.1",
              MAX(CASE WHEN rn = 2 THEN l_partkey END) AS "l_partkey.2",
              MAX(CASE WHEN rn = 2 THEN l_quantity END) AS "l_quantity.2"
       FROM (SELECT l_orderkey, l_partkey, l_quantity,
                    ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey,
                                                l_quantity) AS rn
             FROM lineitem)
       GROUP BY l_orderkey""",
    "W2 numbered wide spread (src/s3_ccdi_to_sra.py:1071-1125)",
)
def w2_spread(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    wide = reshape.spread_numbered(
        lineitem.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        key="l_orderkey",
        order_by=["l_linenumber", "l_partkey", "l_quantity"],
        value_cols=["l_partkey", "l_quantity"],
        max_n=2,
    )
    return wide.select(
        "l_orderkey",
        F.col("`l_partkey.1`"),
        F.col("`l_quantity.1`"),
        F.col("`l_partkey.2`"),
        F.col("`l_quantity.2`"),
    )


@register(
    "w5_explode_implode",
    """WITH exploded AS (
         SELECT o_orderkey, UNNEST(string_split(o_orderpriority, '-')) AS part
         FROM orders
       )
       SELECT o_orderkey,
              string_agg(DISTINCT part, ';' ORDER BY part) AS parts
       FROM exploded GROUP BY o_orderkey""",
    "W5 delimited explode + implode round trip (src/s3_catcherry.py:474-487)",
)
def w5_explode_implode(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    exploded = reshape.explode_delimited(
        orders.select("o_orderkey", "o_orderpriority"),
        "o_orderpriority",
        out_col="part",
        sep="-",
    )
    return reshape.implode_delimited(exploded, ["o_orderkey"], "part", out_col="parts")


# ---------------------------------------------------------------------------
# Headline analytical queries (bench workload; TPC-H-shaped over the
# driver's star schema).  These exercise scan→filter→join→agg plans the
# way the reference's largest flows (CDS flattening + catalog stats)
# do, and are the BENCH_r{N}.json workload.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l_discount AS DECIMAL(18,4))) *
                       (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE) AS sum_charge,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
    "TPC-H Q1 shape: scan→filter→agg, exact decimal sums",
)
def q1_pricing_summary(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # Scaled-long fast path (r10, guide §2.3 "narrower types"): the
    # decimal formulation spent ~2.3 µs/row in BigDecimal casts and
    # wide multiplies — 14.5 CPU-seconds at the 10× replica for a
    # 6M-row scan whose ideal shape (scan→partial agg→1 exchange) it
    # already had.  All four money sums now run as exact long
    # arithmetic and reconstruct the identical decimal-semantics
    # doubles at the end (see operators.aggregates.scaled_money);
    # measured 2× on the replica, values bit-identical to the oracle.
    q4 = agg.scaled_money("l_quantity")
    e4 = agg.scaled_money("l_extendedprice")
    d4 = agg.scaled_money("l_discount")
    t4 = agg.scaled_money("l_tax")
    one = F.lit(10000).cast("long")
    disc8 = e4 * (one - d4)  # ≤ ~1.1e13/row: exact in long
    chg12 = disc8 * (one + t4)  # ≤ ~1.2e17/row: exact in long
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            agg.sum_scaled(q4, 4, "sum_qty"),
            agg.sum_scaled(e4, 4, "sum_base_price"),
            agg.sum_scaled(disc8, 8, "sum_disc_price"),
            agg.sum_scaled(chg12, 12, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_revenue_by_order",
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
       GROUP BY o_orderkey, o_orderdate, o_orderpriority""",
    "TPC-H Q3 shape: selective dim filter → fact join → agg",
)
def q3_revenue(spark, sf_dir):
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    # dim scales with SF (1/5 of customer) — no forced hint; the 20m
    # threshold broadcasts it at bench scale and demotes at 100 TB
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        orders.filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .join(dim, orders.o_custkey == dim.c_custkey)
        .join(lineitem, F.col("o_orderkey") == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        # scaled-long exact revenue (r10, guide §2.3) — see q1
        .agg(agg.revenue_sum("l_extendedprice", "l_discount", "revenue"))
    )


@register(
    "q5_region_revenue",
    """SELECT n_name,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
       GROUP BY n_name""",
    "TPC-H Q5 shape: snowflake join with broadcast dims",
)
def q5_region_revenue(spark, sf_dir):
    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    nr = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    # nr (≤25 rows) keeps its hint; sup scales with supplier (1B rows
    # at 100 TB) — size-based selection broadcasts it at bench scale
    # and demotes it at a scale where the hint would OOM the build
    sup = supplier.join(
        F.broadcast(nr), supplier.s_nationkey == nr.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(sup, lineitem.l_suppkey == sup.s_suppkey)
        .join(
            customer,
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == sup.s_nationkey),
        )
        .groupBy("n_name")
        # scaled-long exact revenue (r10, guide §2.3) — see q1
        .agg(agg.revenue_sum("l_extendedprice", "l_discount", "revenue"))
    )


@register(
    "q6_forecast_revenue",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                     CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1994-01-01'
         AND l_shipdate < TIMESTAMP '1995-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
    "TPC-H Q6 shape: pushed-down range filters → scalar agg",
)
def q6_forecast(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # scaled-long exact sum(price·discount) (r10, guide §2.3) — see q1
    prod8 = agg.scaled_money("l_extendedprice") * agg.scaled_money("l_discount")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(agg.sum_scaled(prod8, 8, "revenue"))
    )


@register(
    "events_daily_rollup",
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
              COUNT(*) AS n_events,
              COUNT(DISTINCT user_id) AS n_users,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2""",
    "§2.15 batch analog of the streaming daily rollup over events",
)
def events_daily_rollup(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.to_date(F.col("ts")).alias("day"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # scaled-long exact sum (r10, guide §2.3) — see q1
            agg.exact_sum("value", "total_value"),
        )
    )


@register(
    "o_top_limit",
    """SELECT c_custkey, c_name, c_acctbal FROM customer
       ORDER BY c_acctbal DESC, c_custkey LIMIT 10""",
    "O1/O3 deterministic top-k (src/read_buckets.py:87-104, template_exampler caps)",
)
def o_top_limit(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    return (
        customer.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Rule engine (SURVEY §2.11) — ValidationRy + CatchERR renderings.
# Violations are planted deterministically (modulo rules on keys) so
# the oracle reproduces them exactly.
# ---------------------------------------------------------------------------


def _dirty_lineitem(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return lineitem.select(
        k.cast("string").alias("row_ref"),
        F.when(k % 79 == 0, F.lit(None))
        .otherwise(F.col("l_partkey").cast("string"))
        .alias("pk"),
        F.when(k % 89 == 0, F.concat(F.lit(" "), F.col("l_returnflag")))
        .otherwise(F.col("l_returnflag"))
        .alias("flag"),
        F.when(k % 83 == 0, F.lit("X")).otherwise(F.col("l_linestatus")).alias("status"),
        F.when(k % 97 == 0, F.lit("abc"))
        .otherwise(F.col("l_linenumber").cast("string"))
        .alias("linenum"),
    )


_DIRTY_SQL = """
  SELECT CAST(l_orderkey AS VARCHAR) AS row_ref,
         CASE WHEN l_orderkey % 79 = 0 THEN NULL
              ELSE CAST(l_partkey AS VARCHAR) END AS pk,
         CASE WHEN l_orderkey % 89 = 0 THEN ' ' || l_returnflag
              ELSE l_returnflag END AS flag,
         CASE WHEN l_orderkey % 83 = 0 THEN 'X' ELSE l_linestatus END AS status,
         CASE WHEN l_orderkey % 97 = 0 THEN 'abc'
              ELSE CAST(l_linenumber AS VARCHAR) END AS linenum
  FROM lineitem
"""


@register(
    "rules_validate",
    f"""WITH d AS ({_DIRTY_SQL})
       SELECT 'lineitem_node' AS node, 'pk' AS property, 'required' AS rule,
              'ERROR' AS severity, row_ref, pk AS value
       FROM d WHERE pk IS NULL
       UNION ALL
       SELECT 'lineitem_node', 'pk', 'whitespace', 'ERROR', row_ref, pk
       FROM d WHERE pk IS NOT NULL AND pk <> trim(pk)
       UNION ALL
       SELECT 'lineitem_node', 'flag', 'whitespace', 'ERROR', row_ref, flag
       FROM d WHERE flag IS NOT NULL AND flag <> trim(flag)
       UNION ALL
       SELECT 'lineitem_node', 'status', 'whitespace', 'ERROR', row_ref, status
       FROM d WHERE status IS NOT NULL AND status <> trim(status)
       UNION ALL
       SELECT 'lineitem_node', 'status', 'enum', 'ERROR', row_ref, status
       FROM d WHERE status IS NOT NULL AND status NOT IN ('F', 'O')
       UNION ALL
       SELECT 'lineitem_node', 'linenum', 'whitespace', 'ERROR', row_ref, linenum
       FROM d WHERE linenum IS NOT NULL AND linenum <> trim(linenum)
       UNION ALL
       SELECT 'lineitem_node', 'linenum', 'not_integer', 'ERROR', row_ref, linenum
       FROM d WHERE linenum IS NOT NULL AND TRY_CAST(linenum AS BIGINT) IS NULL""",
    "§2.11 ValidationRy: metadata-compiled violation scan",
)
def rules_validate(spark, sf_dir):
    from .plans.rules import NodeSchema, PropertyRule, validate

    dirty = _dirty_lineitem(spark, sf_dir)
    schema = NodeSchema(
        node="lineitem_node",
        rules=[
            PropertyRule("pk", type="string", required=True),
            PropertyRule("flag", type="string"),
            PropertyRule("status", type="enum", enum_terms=("F", "O")),
            PropertyRule("linenum", type="integer"),
        ],
        key_props=["row_ref"],
    )
    return validate(dirty, schema)


@register(
    "rules_repair",
    """WITH d AS (
         SELECT c_custkey,
                CASE WHEN c_custkey % 3 = 0 THEN '  ' || lower(c_mktsegment) || ' '
                     WHEN c_custkey % 5 = 0 THEN 'NA'
                     ELSE c_mktsegment END AS segment
         FROM customer
       ), trimmed AS (
         SELECT c_custkey, trim(segment) AS t FROM d
       )
       SELECT c_custkey,
              CASE WHEN t IN ('NA','na','N/A','n/a','') THEN NULL
                   WHEN lower(t) = 'automobile' THEN 'AUTOMOBILE'
                   WHEN lower(t) = 'building' THEN 'BUILDING'
                   WHEN lower(t) = 'furniture' THEN 'FURNITURE'
                   WHEN lower(t) = 'household' THEN 'HOUSEHOLD'
                   WHEN lower(t) = 'machinery' THEN 'MACHINERY'
                   ELSE t END AS segment
       FROM trimmed""",
    "§2.11 CatchERR: trim + NA-bank + enum case-snap repair",
)
def rules_repair(spark, sf_dir):
    from .plans.rules import NodeSchema, PropertyRule, repair

    (customer,) = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = customer.select(
        k.alias("c_custkey"),
        F.when(k % 3 == 0, F.concat(F.lit("  "), F.lower("c_mktsegment"), F.lit(" ")))
        .when(k % 5 == 0, F.lit("NA"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    schema = NodeSchema(
        node="customer_node",
        rules=[
            PropertyRule(
                "segment",
                type="enum",
                enum_terms=(
                    "AUTOMOBILE",
                    "BUILDING",
                    "FURNITURE",
                    "HOUSEHOLD",
                    "MACHINERY",
                ),
            )
        ],
    )
    return repair(dirty, schema)


@register(
    "liftover_node",
    """SELECT 'account' AS type, CAST(c_custkey AS VARCHAR) AS account_id,
              c_name AS account_name, CAST(c_acctbal AS VARCHAR) AS balance,
              c_name || ';' || c_mktsegment AS label, c_mktsegment AS segment
       FROM customer
       UNION ALL
       SELECT 'account', CAST(s_suppkey AS VARCHAR), s_name,
              CAST(s_acctbal AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       FROM supplier""",
    "§2.9 L2 mapping-driven node liftover with ';' collision concat",
)
def liftover_node(spark, sf_dir):
    from .plans.liftover import MappingRow, lift_node

    customer, supplier = _t(spark, sf_dir, "customer", "supplier")
    mapping = [
        MappingRow("customer", "c_custkey", "account", "account_id"),
        MappingRow("customer", "c_name", "account", "account_name"),
        MappingRow("customer", "c_acctbal", "account", "balance"),
        MappingRow("customer", "c_mktsegment", "account", "segment"),
        MappingRow("customer", "c_name", "account", "label"),
        MappingRow("customer", "c_mktsegment", "account", "label"),
        MappingRow("supplier", "s_suppkey", "account", "account_id"),
        MappingRow("supplier", "s_name", "account", "account_name"),
        MappingRow("supplier", "s_acctbal", "account", "balance"),
    ]
    return lift_node({"customer": customer, "supplier": supplier}, mapping, "account")


# ---------------------------------------------------------------------------
# Scalar-function pack queries (SURVEY §2.10)
# ---------------------------------------------------------------------------


@register(
    "f_url_parse",
    r"""WITH u AS (
         SELECT doc_id,
                's3://bucket-' || source || '/docs/d' || CAST(doc_id AS VARCHAR) ||
                CASE WHEN doc_id % 3 = 0 THEN '.vcf.gz' ELSE '.txt' END AS url
         FROM documents)
       SELECT doc_id,
              regexp_extract(url, '^s3://([^/]+)/', 1) AS bucket,
              regexp_extract(url, '^s3://[^/]+/(.*)$', 1) AS key,
              regexp_extract(url, '([^/]*)$', 1) AS file_name,
              CASE WHEN url LIKE '%.gz'
                   THEN regexp_extract(url, '([^./]+)\.gz$', 1) || '.gz'
                   ELSE regexp_extract(url, '\.([^./]+)$', 1) END AS ext,
              CASE WHEN url LIKE '%.vcf.gz' THEN 'vcf'
                   ELSE regexp_extract(url, '\.([^./]+)$', 1) END AS file_type
       FROM u""",
    "F11/F12 url parse + extension→type inference",
)
def f_url_parse(spark, sf_dir):
    from .functions import urls

    (documents,) = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("s3://bucket-"),
        F.col("source"),
        F.lit("/docs/d"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".vcf.gz")).otherwise(F.lit(".txt")),
    )
    with_url = documents.select("doc_id", url.alias("__url__"))
    return with_url.select(
        "doc_id",
        urls.s3_bucket("__url__").alias("bucket"),
        urls.s3_key("__url__").alias("key"),
        urls.url_basename("__url__").alias("file_name"),
        urls.file_extension(urls.url_basename("__url__")).alias("ext"),
        urls.infer_file_type(urls.url_basename("__url__")).alias("file_type"),
    )


@register(
    "f_scalar_cleanup",
    """SELECT p_partkey, trim(p_name) AS name_trimmed, lower(p_brand) AS brand_lower,
              rpad(coalesce(p_type, ''), 250, ' ') || '.' AS type_padded,
              CAST(p_partkey % 1000 AS VARCHAR) || ';' ||
              CAST(p_partkey % 100 AS VARCHAR) AS id_list
       FROM part""",
    "F1/F5/F14 scalar cleanup battery",
)
def f_scalar_cleanup(spark, sf_dir):
    from .functions import cleaning

    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        cleaning.trim_all("p_name").alias("name_trimmed"),
        F.lower(F.col("p_brand")).alias("brand_lower"),
        cleaning.pad_description("p_type").alias("type_padded"),
        F.concat_ws(
            ";",
            (F.col("p_partkey") % 1000).cast("string"),
            (F.col("p_partkey") % 100).cast("string"),
        ).alias("id_list"),
    )


@register(
    "j4_lookup_join",
    """SELECT c_custkey,
              CASE c_mktsegment WHEN 'BUILDING' THEN 'B' WHEN 'AUTOMOBILE' THEN 'A'
                   WHEN 'FURNITURE' THEN 'F' ELSE c_mktsegment END AS segment_code
       FROM customer""",
    "J4 broadcast lookup join with dict-get(default) semantics",
)
def j4_lookup(spark, sf_dir):
    from .operators.joins import lookup_join

    (customer,) = _t(spark, sf_dir, "customer")
    mapping = spark.createDataFrame(
        [("BUILDING", "B"), ("AUTOMOBILE", "A"), ("FURNITURE", "F")],
        ["from_value", "to_value"],
    )
    mapped = lookup_join(
        customer,
        mapping,
        on="c_mktsegment",
        from_col="from_value",
        to_col="to_value",
        out_col="segment_code",
    )
    return mapped.select("c_custkey", "segment_code")


@register(
    "j2_coalesce_conflicts",
    """WITH p AS (SELECT o_orderkey, o_custkey,
                        CASE WHEN o_orderkey % 7 = 0 THEN NULL
                             ELSE o_orderpriority END AS priority
                 FROM orders),
            c AS (SELECT c_custkey, c_mktsegment AS priority FROM customer)
       SELECT o_orderkey, COALESCE(p.priority, c.priority) AS priority
       FROM p LEFT JOIN c ON p.o_custkey = c.c_custkey""",
    "J2 join-conflict coalesce, parent wins (src/s3_ccdi_to_cds.py:281-297)",
)
def j2_coalesce(spark, sf_dir):
    from .operators.joins import coalesce_conflicts

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    parent = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority_x"),
    )
    child = customer.select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("priority_y")
    )
    joined = parent.join(child, on="custkey", how="left")
    return coalesce_conflicts(joined).select("o_orderkey", "priority")


@register(
    "w3_unpivot_numbered",
    """SELECT l_orderkey, CAST(rn AS BIGINT) AS file_index, l_partkey, l_quantity
       FROM (SELECT l_orderkey, l_partkey, l_quantity,
                    ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
             FROM lineitem)
       WHERE rn <= 2""",
    "W3 unpivot of numbered wide columns (src/s3_ccdi_to_sra.py:408-447)",
)
def w3_unpivot(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    wide = reshape.spread_numbered(
        lineitem.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        key="l_orderkey",
        order_by=["l_linenumber", "l_partkey", "l_quantity"],
        value_cols=["l_partkey", "l_quantity"],
        max_n=2,
    )
    long = reshape.unpivot_numbered(
        wide,
        key_cols=["l_orderkey"],
        value_cols=["l_partkey", "l_quantity"],
        max_n=2,
    )
    return long.withColumn("file_index", F.col("file_index").cast("long"))


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators: dedup / similarity / text / multimodal.
# First-class additions beyond the reference surface (BASELINE.json
# north star); documents + embeddings tables.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_prefix",
    """SELECT prefix, MIN(doc_id) AS representative, COUNT(*) AS n_dups
       FROM (SELECT substring(text, 1, 40) AS prefix, doc_id FROM documents)
       GROUP BY prefix HAVING COUNT(*) > 1""",
    "exact dedup via hash-groupBy on normalized content key",
)
def dedup_exact_prefix(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    keyed = documents.select(
        F.substring(F.col("text"), 1, 40).alias("prefix"), F.col("doc_id")
    )
    return (
        keyed.groupBy("prefix")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


@register(
    "dedup_exact_groups",
    """SELECT md5(text) AS content_hash,
              MIN(doc_id) AS representative,
              COUNT(*) AS n_dups
       FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1""",
    "exact duplicate groups by content hash (md5 key here for oracle "
    "parity; xxhash64 is the library default at scale)",
)
def dedup_exact_groups(spark, sf_dir):
    from .operators.dedup import exact_duplicates

    (documents,) = _t(spark, sf_dir, "documents")
    return exact_duplicates(
        documents, hash_fn=lambda c: F.md5(F.encode(c, "UTF-8"))
    )


@register(
    "dedup_minhash_pairs",
    None,  # LSH banding is hash-seeded → rows-only; Jaccard verified in tests
    "MinHash+LSH near-dup candidate pairs with exact Jaccard verify",
)
def dedup_minhash_pairs(spark, sf_dir):
    from .operators.dedup import minhash_dedup

    (documents,) = _t(spark, sf_dir, "documents")
    return minhash_dedup(documents, threshold=0.5)


@register(
    "dedup_simhash_pairs",
    None,
    "SimHash near-dup pairs (Hamming ≤ 3) via pigeonhole banding",
)
def dedup_simhash_pairs(spark, sf_dir):
    from .operators.dedup import simhash_candidates

    (documents,) = _t(spark, sf_dir, "documents")
    return simhash_candidates(documents, max_hamming=3)


@register(
    "dedup_ngram_jaccard",
    r"""WITH t AS (
         SELECT doc_id, lang, source,
                list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '') AS toks
         FROM documents
       ), s AS (
         SELECT doc_id, lang, source,
                CASE WHEN len(toks) >= 3
                     THEN list_distinct(list_transform(range(1, len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                     ELSE [array_to_string(toks, ' ')] END AS sh
         FROM t
       )
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       FROM s a JOIN s b
         ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2""",
    "blocked pairwise n-gram Jaccard (exact, oracle-checked)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    # Inverted-index formulation: explode distinct shingles, join docs
    # on (shingle, block), count common shingles per pair, then
    # |A∩B| / (|A|+|B|-|A∩B|).  Identical set semantics to the
    # pairwise array_intersect version, but cost scales with actual
    # shingle collisions instead of all-pairs × array length —
    # 12s → ~1s at sf0.1, and at 100 TB only colliding docs ever meet.
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    # the shingle table feeds three branches (sizes, both join sides);
    # materializing it is the signature step every dedup pipeline has —
    # at corpus scale a parquet write, here an eager localCheckpoint
    # (NOT .persist(): cacheManager-tracked blocks outlive the query
    # and accumulate across a single-session sweep of the registry,
    # while checkpoint RDDs are GC-released once unreferenced).
    # Checkpoint the COMPACT one-row-per-doc array frame, not the
    # exploded postings: the explode re-runs per branch (cheap — one
    # generator over cached rows), while checkpointing post-explode
    # serializes |docs|·|shingles| rows (measured 0.9 s → 4.4 s).
    staged = with_shingles(documents, "text", "sh", 3).select(
        "doc_id", "lang", "source", "sh"
    ).localCheckpoint()
    # per-doc shingle counts ride ALONG the postings instead of
    # joining back onto the pair set afterwards: |A| is just
    # size(sh) on the pre-explode array (sh is distinct), so n_a/n_b
    # flow through the band join into the pair aggregation as
    # first() aggregates.  The old shape joined the pair set (which
    # the dup-heavy fixture makes QUADRATIC) back to the per-doc
    # sizes table — a forced broadcast masked the cost until the
    # size side outgrew the threshold, then two sort-merge joins
    # sorted the pair set twice (115 → 209 s at the 100× probe).
    # Same trap class as the kNN re-rank (SCALE.md r8): attach
    # payload on the linear side, never join a pair stream back to
    # a corpus-sized table.
    ex = staged.select(
        "doc_id", "lang", "source",
        F.size("sh").alias("n"),
        F.explode("sh").alias("shingle"),
    )
    a = ex.select(
        F.col("doc_id").alias("id_a"), "lang", "source", "shingle",
        F.col("n").alias("n_a"),
    )
    b = ex.select(
        F.col("doc_id").alias("id_b"), "lang", "source", "shingle",
        F.col("n").alias("n_b"),
    )
    full = (
        a.join(b, on=["lang", "source", "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    return (
        full.filter(jac >= 0.2)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "sim_cosine_topk",
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
                           (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[]))) *
                            sqrt(list_inner_product(q.qv, q.qv))), 6) AS cosine_sim
              FROM embeddings e CROSS JOIN q),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cosine_sim DESC, vec_id) AS rn
              FROM scored)
       SELECT query_id, vec_id, cosine_sim FROM ranked WHERE rn <= 10""",
    "brute-force cosine top-k per query vector (exact ANN baseline)",
)
def sim_cosine_topk(spark, sf_dir):
    from .operators.similarity import brute_force_top_k

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    query = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return brute_force_top_k(embeddings, query, k=10)


@register(
    "sim_ivf_topk",
    None,  # approximate (cell pruning) → rows-only; recall tested in tests/
    "IVF-bucketed approximate top-k (scale path for ANN)",
)
def sim_ivf_topk(spark, sf_dir):
    from .operators.similarity import assign_cells, ivf_top_k, pick_centroids

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    centroids = pick_centroids(embeddings, n_cells=8)
    indexed = assign_cells(embeddings, centroids)
    query = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ivf_top_k(indexed, centroids, query, k=10, n_probe=3)


@register(
    "text_token_stats",
    r"""SELECT doc_id,
              CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
              CAST(length(text) AS BIGINT) AS n_chars_computed,
              CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
       FROM documents""",
    "token counting: whitespace + BPE-ish regex",
)
def text_token_stats(spark, sf_dir):
    from .operators.text import bpe_ish_token_count, token_count

    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
        bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
    )


@register(
    "text_quality",
    r"""WITH t AS (
         SELECT doc_id, text,
                list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '') AS toks
         FROM documents)
       SELECT doc_id,
              ROUND(CASE WHEN len(toks) > 0 THEN
                    CAST(len(list_filter(toks, t2 -> list_contains(
                      ['the','a','of','and','to','in','is','that','it','for'], t2)))
                      AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS stopword_ratio,
              ROUND(CASE WHEN length(text) > 0 THEN
                    CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) /
                    length(text) ELSE 0.0 END, 6) AS punct_ratio,
              ROUND(CASE WHEN len(toks) > 0 THEN
                    CAST(list_sum(list_transform(toks, t2 -> length(t2))) AS DOUBLE) /
                    len(toks) ELSE 0.0 END, 6) AS mean_word_len
       FROM t""",
    "quality scoring: stopword / punctuation / word-length heuristics",
)
def text_quality(spark, sf_dir):
    from .operators.text import quality_features

    (documents,) = _t(spark, sf_dir, "documents")
    feats = quality_features(documents)
    return feats.select("doc_id", "stopword_ratio", "punct_ratio", "mean_word_len")


@register(
    "text_lang_id",
    r"""WITH t AS (
         SELECT doc_id,
                list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '') AS toks
         FROM documents
       ), h AS (
         SELECT doc_id,
           len(list_filter(toks, x -> list_contains(
             ['der','die','das','und','ist','von','mit','für','ein','nicht'], x))) AS h_de,
           len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','in','is','that','it','for'], x))) AS h_en,
           len(list_filter(toks, x -> list_contains(
             ['el','la','los','de','y','es','un','una','por','para'], x))) AS h_es,
           len(list_filter(toks, x -> list_contains(
             ['le','la','les','de','et','est','un','une','pour','dans'], x))) AS h_fr,
           len(list_filter(toks, x -> list_contains(
             ['的','是','在','了','和','有','我','不','这','他'], x))) AS h_zh
         FROM t)
       SELECT doc_id,
              CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) <= 0 THEN 'und'
                   WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
                   WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                   WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                   WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                   ELSE 'zh' END AS lang_pred
       FROM h""",
    "language ID via stopword-profile scoring (first-wins tie-break)",
)
def text_lang_id(spark, sf_dir):
    from .operators.text import language_id

    (documents,) = _t(spark, sf_dir, "documents")
    return language_id(documents).select("doc_id", "lang_pred")


@register(
    "text_fingerprint",
    None,  # xxhash64-based → rows-only; stability tested in tests/
    "document fingerprint: min-hash over word 5-gram shingles",
)
def text_fingerprint(spark, sf_dir):
    from .operators.text import fingerprint

    (documents,) = _t(spark, sf_dir, "documents")
    return fingerprint(documents).select("doc_id", "fingerprint")


@register(
    "multimodal_stub_features",
    """SELECT doc_id AS media_id, 'image' AS modality,
              'stub_digest' AS feature_kind,
              'len=' || CAST(14 + length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
                AS feature_value
       FROM documents""",
    "multimodal plumbing: binary payload → mapInPandas feature extract (stub kernel)",
)
def multimodal_stub_features(spark, sf_dir):
    from .operators.multimodal import extract_features, synthesize_media

    (documents,) = _t(spark, sf_dir, "documents")
    media = synthesize_media(documents, "doc_id", modality="image")
    return extract_features(media)


_STREAM_TUMBLING_ORACLE = """SELECT
  CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS window_start_us,
  CAST(epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS BIGINT)
    AS window_end_us,
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
    <= greatest(2, 0.15 * COUNT(DISTINCT user_id)) AS users_ok,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2, 3"""


@register(
    "stream_tumbling_rollup",
    _STREAM_TUMBLING_ORACLE,
    "§2.15 tumbling-window rollup — batch twin of "
    "streaming/events.py::tumbling_rollup (the same window-agg plan "
    "attaches to readStream with a watermark).  r7 VERDICT item 7: "
    "rows-only → oracle.  Window bounds emit as NTZ epoch micros "
    "(integer-exact, tz-independent); the HLL user count certifies as "
    "a property boolean — each engine's estimate within 15% of ITS "
    "OWN exact distinct, the profile_columns_approx sketch discipline "
    "— because raw HLL++ estimates are engine-specific by nature",
)
def stream_tumbling_rollup(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    # F.window on the native TIMESTAMP_NTZ column (supported in batch
    # and streaming since Spark 3.4) — no LTZ cast, so the epoch-us
    # projection below is exact under ANY driver session timezone.
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    base = events.groupBy(
        F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("n_users"),
        agg.exact_sum("value", "total_value"),
    )
    return base.select(
        F.expr(us.format("win.start")).alias("window_start_us"),
        F.expr(us.format("win.end")).alias("window_end_us"),
        "event_type",
        "n_events",
        "n_users",
        # absolute-2 floor: HLL estimates of tiny windows (4-6 users)
        # are off by ±1 on either engine — 25% relative — while the
        # relative bound governs real cardinalities (measured at
        # sf0.01: zero violations on both engines under max(2, 15%))
        (
            F.abs(F.col("approx_users") - F.col("n_users"))
            <= F.greatest(F.lit(2.0), 0.15 * F.col("n_users"))
        ).alias("users_ok"),
        "total_value",
    )


# ---------------------------------------------------------------------------
# Sources pack (SURVEY §2.1): EAV graph intake, inventory reconcile
# ---------------------------------------------------------------------------


@register(
    "eav_roundtrip",
    """SELECT event_id AS startNodeId, event_type,
              printf('%.3f', value) AS value,
              CAST(user_id AS VARCHAR) AS "user.id"
       FROM events""",
    "S10→W1 EAV long→wide pivot with link re-attach (src/neo4j_data_tools.py:1666-1759)",
)
def eav_roundtrip(spark, sf_dir):
    from .sources.eav import eav_to_node_table

    (events,) = _t(spark, sf_dir, "events")
    # build the long EAV extract the reference's exporter would emit
    props = events.select(
        F.col("event_id").alias("startNodeId"),
        F.lit("event").alias("startNodeLabels"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("p"), F.col("event_type").alias("v")
                ),
                F.struct(
                    F.lit("value").alias("p"),
                    F.format_string("%.3f", F.col("value")).alias("v"),
                ),
            )
        ).alias("pv"),
        F.lit(None).cast("long").alias("linkedNodeId"),
        F.lit(None).cast("string").alias("linkedNodeLabels"),
    ).select(
        "startNodeId",
        "startNodeLabels",
        F.col("pv.p").alias("startNodePropertyName"),
        F.col("pv.v").alias("startNodePropertyValue"),
        "linkedNodeId",
        "linkedNodeLabels",
    )
    links = events.select(
        F.col("event_id").alias("startNodeId"),
        F.lit("event").alias("startNodeLabels"),
        F.lit(None).cast("string").alias("startNodePropertyName"),
        F.lit(None).cast("string").alias("startNodePropertyValue"),
        F.col("user_id").alias("linkedNodeId"),
        F.lit("user").alias("linkedNodeLabels"),
    )
    eav = props.unionByName(links)
    wide = eav_to_node_table(
        eav, "event", prop_values=["event_type", "value"], link_labels=["user"]
    )
    return wide.select(
        "startNodeId", "event_type", "value", F.col("`user.id`")
    )


@register(
    "s3_inventory_reconcile",
    """WITH m AS (
         SELECT 'data/p' || CAST(p_partkey AS VARCHAR) || '.dat' AS file_path,
                CAST(p_size AS BIGINT) AS manifest_size
         FROM part WHERE p_partkey % 11 <> 0
       ), i AS (
         SELECT 'data/p' || CAST(p_partkey AS VARCHAR) || '.dat' AS file_path,
                CAST(p_size + CASE WHEN p_partkey % 7 = 0 THEN 1 ELSE 0 END
                     AS BIGINT) AS bucket_size
         FROM part WHERE p_partkey % 5 <> 0
       )
       SELECT COALESCE(m.file_path, i.file_path) AS file_path,
              CASE WHEN m.file_path IS NULL THEN 'missing_in_manifest'
                   WHEN i.file_path IS NULL THEN 'missing_in_bucket'
                   WHEN manifest_size <> bucket_size THEN 'size_mismatch'
                   ELSE 'ok' END AS status
       FROM m FULL OUTER JOIN i ON m.file_path = i.file_path""",
    "S6+J6 two-way manifest↔bucket reconcile (src/s3_validationry_refactored.py:1618-1783)",
)
def s3_inventory_reconcile(spark, sf_dir):
    from .sources.s3 import reconcile_with_inventory

    (part,) = _t(spark, sf_dir, "part")
    path = F.concat(F.lit("data/p"), F.col("p_partkey").cast("string"), F.lit(".dat"))
    manifest = part.filter(F.col("p_partkey") % 11 != 0).select(
        F.concat(F.lit("s3://bucket/"), path).alias("file_url"),
        F.col("p_size").cast("long").alias("file_size"),
    )
    inventory = part.filter(F.col("p_partkey") % 5 != 0).select(
        path.alias("file_path"),
        path.alias("file_name"),
        (
            F.col("p_size")
            + F.when(F.col("p_partkey") % 7 == 0, 1).otherwise(0)
        ).cast("long").alias("file_size"),
        F.lit("dat").alias("ext"),
    )
    out = reconcile_with_inventory(manifest, inventory)
    return out.select("file_path", "status")


# ---------------------------------------------------------------------------
# Ordering / set-op / scalar coverage (O2, O4, F6, U2, W-b)
# ---------------------------------------------------------------------------


@register(
    "o2_custom_order",
    """SELECT o_orderpriority FROM (SELECT DISTINCT o_orderpriority FROM orders)
       ORDER BY CASE o_orderpriority
                WHEN '2-HIGH' THEN 0 WHEN '1-URGENT' THEN 1 ELSE 99 END,
                o_orderpriority
       LIMIT 3""",
    "O2 custom categorical order via position table (src/s3_validationry_refactored.py:120-125)",
)
def o2_custom_order(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    position = spark.createDataFrame(
        [("2-HIGH", 0), ("1-URGENT", 1)], ["o_orderpriority", "position"]
    )
    distinct = orders.select("o_orderpriority").distinct()
    return (
        distinct.join(F.broadcast(position), on="o_orderpriority", how="left")
        .withColumn("position", F.coalesce(F.col("position"), F.lit(99)))
        .orderBy("position", "o_orderpriority")
        .limit(3)
        .select("o_orderpriority")
    )


@register(
    "o4_incell_sort",
    """SELECT c_custkey,
              array_to_string(list_transform(list_sort(list_transform(
                string_split(c_name || ';' || c_mktsegment || ';' || 'zeta', ';'),
                x -> [lower(x), x])), p -> p[2]), ';') AS sorted_cell
       FROM customer""",
    "O4 casefolded in-cell ';'-list sort (src/s3_catcherry.py:459-469)",
)
def o4_incell_sort(spark, sf_dir):
    from .functions.cleaning import sort_delimited_cell

    (customer,) = _t(spark, sf_dir, "customer")
    cell = F.concat_ws(";", F.col("c_name"), F.col("c_mktsegment"), F.lit("zeta"))
    return customer.select(
        "c_custkey", sort_delimited_cell(cell).alias("sorted_cell")
    )


@register(
    "f6_enum_normalize",
    """SELECT o_orderkey,
              CASE o_orderpriority WHEN '1-URGENT' THEN 'URGENT'
                   WHEN '2-HIGH' THEN 'HIGH' ELSE 'OTHER' END AS priority_norm
       FROM orders""",
    "F6 hardcoded normalization map with unknown→OTHER (src/s3_ccdi_to_sra.py:485-722)",
)
def f6_enum_normalize(spark, sf_dir):
    from .functions.cleaning import map_values

    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        map_values(
            "o_orderpriority",
            {"1-URGENT": "URGENT", "2-HIGH": "HIGH"},
            unknown_value="OTHER",
        ).alias("priority_norm"),
    )


@register(
    "u2_union_previous_keep_last",
    """WITH prev AS (SELECT c_custkey, c_mktsegment || '_old' AS segment FROM customer),
            cur  AS (SELECT c_custkey, c_mktsegment AS segment FROM customer
                     WHERE c_custkey % 2 = 0)
       SELECT c_custkey,
              CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
                   ELSE c_mktsegment || '_old' END AS segment
       FROM customer""",
    "U2 union with previous submission, keep-last on key (src/s3_ccdi_to_sra.py:1511-1527)",
)
def u2_union_previous(spark, sf_dir):
    from .operators.setops import union_with_previous

    (customer,) = _t(spark, sf_dir, "customer")
    previous = customer.select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("_old")).alias("segment"),
        F.lit(0).alias("generation"),
    )
    current = (
        customer.filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", F.col("c_mktsegment").alias("segment"))
        .withColumn("generation", F.lit(1))
    )
    merged = union_with_previous(
        current, previous, keys=["c_custkey"], priority=["generation"]
    )
    return merged.select("c_custkey", "segment")


@register(
    "wb_first_match_fallback",
    """SELECT c_custkey, c_mktsegment FROM customer
       ORDER BY CASE c_mktsegment WHEN 'BUILDING' THEN 0
                WHEN 'AUTOMOBILE' THEN 1 ELSE 2 END, c_custkey
       LIMIT 1""",
    "W-b first-match-with-fallback contact pick (src/s3_ccdi_to_sra.py:50-82)",
)
def wb_first_match(spark, sf_dir):
    from .operators.windows import first_match_with_fallback

    (customer,) = _t(spark, sf_dir, "customer")
    priority = (
        F.when(F.col("c_mktsegment") == "BUILDING", 0)
        .when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
        .otherwise(2)
    )
    picked = first_match_with_fallback(
        customer.select("c_custkey", "c_mktsegment"), priority, ["c_custkey"]
    )
    return picked


# ---------------------------------------------------------------------------
# Exampler pipeline (§2.12): generate → plant errors → validate
# ---------------------------------------------------------------------------


@register(
    "exampler_validate",
    None,  # xxhash-seeded generation is Spark-specific → rows-only
    "§2.12 synthetic node generation + seeded errors + rule validation",
)
def exampler_validate(spark, sf_dir):
    from .plans.exampler import generate_node, seeded_error_variant
    from .plans.rules import NodeSchema, PropertyRule, validate

    schema = NodeSchema(
        node="sample",
        rules=[
            PropertyRule("sample_id", type="string", key=True, required=True),
            PropertyRule("sample_tumor_status", type="enum",
                         enum_terms=("Tumor", "Normal"), required=True),
            PropertyRule("age_at_collection", type="integer"),
            PropertyRule("anatomic_site", type="array[string;enum]",
                         enum_terms=("Lung", "Liver", "Brain")),
        ],
        key_props=["sample_id"],
    )
    clean = generate_node(spark, schema, n_rows=500)
    dirty = seeded_error_variant(clean, schema, every_n=10)
    return validate(dirty, schema)


@register(
    "exampler_dcc_generate",
    None,  # xxhash-seeded generation is Spark-specific → rows-only;
    # caps/linkage/surrogate invariants pinned in tests/test_dcc.py
    "§2.12 DCC exampler variant (src/template_exampler_ccdi_dcc.py): "
    "study_status capped at 1 and consent_group at 2 example rows, "
    "guid surrogate stripped, consent_group.consent_group_id wired by "
    "sampling the generated consent ids (create_linkage)",
)
def exampler_dcc_generate(spark, sf_dir):
    from .plans.exampler import generate_dcc_example_set
    from .plans.rules import NodeSchema, PropertyRule

    schemas = [
        NodeSchema(
            node="consent_group",
            rules=[
                PropertyRule("consent_group_id", type="string", key=True,
                             required=True),
                PropertyRule("consent_group_name", type="string"),
            ],
            key_props=["consent_group_id"],
        ),
        NodeSchema(
            node="study_status",
            rules=[
                PropertyRule("study_status_id", type="string", key=True,
                             required=True),
                PropertyRule("status", type="enum",
                             enum_terms=("Open", "Closed")),
            ],
            key_props=["study_status_id"],
        ),
        NodeSchema(
            node="participant",
            rules=[
                PropertyRule("participant_id", type="string", key=True,
                             required=True),
                PropertyRule("sex_at_birth", type="enum",
                             enum_terms=("Male", "Female", "Unknown")),
            ],
            key_props=["participant_id"],
        ),
    ]
    nodes = generate_dcc_example_set(spark, schemas, n_rows=200)
    return nodes["participant"]


# ---------------------------------------------------------------------------
# Coverage pack 2 (SURVEY §2 gaps): J9-J11, L3, F7/F12/F13/F15/F16,
# A8, O1, proband rule, streaming sessions/dedup, embedding near-dup
# ---------------------------------------------------------------------------


@register(
    "j9_fuzzy_relink",
    """WITH manifest AS (
         SELECT p_partkey, p_name AS file_name, p_size AS file_size,
                's3://old/' || CAST(p_partkey AS VARCHAR) || '/' || p_name AS file_url
         FROM part),
       listing AS (
         SELECT p_name AS file_name, p_size AS ls_size,
                's3://bucket/data/' || CAST(p_partkey AS VARCHAR) || '/' || p_name AS ls_path
         FROM part WHERE p_partkey % 3 <> 0),
       cand AS (
         SELECT m.*, l.ls_size, l.ls_path
         FROM manifest m LEFT JOIN listing l USING (file_name)),
       cnt AS (
         SELECT *,
           COUNT(ls_path) OVER w AS n_cand,
           SUM(CASE WHEN ls_size = file_size THEN 1 ELSE 0 END) OVER w AS n_size
         FROM cand WINDOW w AS (PARTITION BY file_name, file_url)),
       flagged AS (
         SELECT *,
           CASE WHEN n_cand = 0 THEN 'missing'
                WHEN n_size = 1 THEN 'size_match'
                WHEN n_cand = 1 THEN 'name_match'
                ELSE 'ambiguous' END AS relink_status,
           CASE WHEN n_size = 1 AND ls_size = file_size THEN ls_path
                WHEN n_cand = 1 AND n_size <> 1 THEN ls_path
                END AS picked
         FROM cnt)
       SELECT DISTINCT p_partkey, file_name, file_size, file_url,
              relink_status, COALESCE(picked, file_url) AS resolved_url
       FROM flagged
       WHERE picked IS NOT NULL OR relink_status IN ('missing', 'ambiguous')""",
    "J9 name+size fuzzy url repair (src/s3_catcherry.py:1130-1182)",
)
def j9_fuzzy_relink(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    manifest = part.select(
        "p_partkey",
        F.col("p_name").alias("file_name"),
        F.col("p_size").alias("file_size"),
        F.concat(
            F.lit("s3://old/"), F.col("p_partkey").cast("string"),
            F.lit("/"), F.col("p_name"),
        ).alias("file_url"),
    )
    listing = part.filter(F.col("p_partkey") % 3 != 0).select(
        F.col("p_name").alias("file_name"),
        F.col("p_size").alias("file_size"),
        F.concat(
            F.lit("s3://bucket/data/"), F.col("p_partkey").cast("string"),
            F.lit("/"), F.col("p_name"),
        ).alias("file_path"),
    )
    return J.fuzzy_relink(manifest, listing)


@register(
    "j10_synonym_attach",
    """SELECT c.c_custkey, c.c_name, s.synonym_id, s.repository,
              CASE WHEN s.repository = 'dbGaP'
                   THEN 'phs-' || CAST(s.synonym_id AS VARCHAR) END
                AS dbGaP_subject_id
       FROM customer c
       LEFT JOIN (
         SELECT o_custkey, o_orderkey AS synonym_id,
                CASE WHEN o_orderpriority = '1-URGENT' THEN 'dbGaP'
                     ELSE 'other' END AS repository
         FROM orders) s ON s.o_custkey = c.c_custkey""",
    "J10 synonym attach + conditional column promote (src/s3_ccdi_to_cds.py:731-759)",
)
def j10_synonym_attach(spark, sf_dir):
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    synonym = orders.select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("synonym_id"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "dbGaP")
        .otherwise("other")
        .alias("repository"),
    )
    return (
        customer.join(synonym, customer["c_custkey"] == synonym["o_custkey"], "left")
        .withColumn(
            "dbGaP_subject_id",
            F.when(
                F.col("repository") == "dbGaP",
                F.concat(F.lit("phs-"), F.col("synonym_id").cast("string")),
            ),
        )
        .select("c_custkey", "c_name", "synonym_id", "repository", "dbGaP_subject_id")
    )


@register(
    "j11_mapping_eval",
    """WITH pairs AS (SELECT DISTINCT p_type AS from_prop, p_brand AS to_prop FROM part)
       SELECT 'one_to_many' AS kind, from_prop AS prop, COUNT(DISTINCT to_prop) AS n
       FROM pairs GROUP BY from_prop HAVING COUNT(DISTINCT to_prop) > 1
       UNION ALL
       SELECT 'many_to_one', to_prop, COUNT(DISTINCT from_prop)
       FROM pairs GROUP BY to_prop HAVING COUNT(DISTINCT from_prop) > 1""",
    "J11/L1 mapping-version eval: unmapped/1-to-many/many-to-1 (src/manifest_liftover.py:98-169)",
)
def j11_mapping_eval(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    pairs = part.select(
        F.col("p_type").alias("from_prop"), F.col("p_brand").alias("to_prop")
    ).dropDuplicates()
    one_to_many = (
        pairs.groupBy("from_prop")
        .agg(F.countDistinct("to_prop").alias("n"))
        .filter(F.col("n") > 1)
        .select(F.lit("one_to_many").alias("kind"), F.col("from_prop").alias("prop"), "n")
    )
    many_to_one = (
        pairs.groupBy("to_prop")
        .agg(F.countDistinct("from_prop").alias("n"))
        .filter(F.col("n") > 1)
        .select(F.lit("many_to_one").alias("kind"), F.col("to_prop").alias("prop"), "n")
    )
    return one_to_many.unionByName(many_to_one)


@register(
    "l3_unlifted_report",
    """SELECT 'customer' AS node, 'c_nationkey' AS property, COUNT(c_nationkey) AS n_values FROM customer
       UNION ALL SELECT 'customer', 'c_acctbal', COUNT(c_acctbal) FROM customer
       UNION ALL SELECT 'customer', 'c_mktsegment', COUNT(c_mktsegment) FROM customer
       UNION ALL SELECT 'supplier', 's_name', COUNT(s_name) FROM supplier
       UNION ALL SELECT 'supplier', 's_nationkey', COUNT(s_nationkey) FROM supplier
       UNION ALL SELECT 'supplier', 's_acctbal', COUNT(s_acctbal) FROM supplier""",
    "L3 unlifted-value report: unmapped props holding data (src/manifest_liftover.py:360-385)",
)
def l3_unlifted_report(spark, sf_dir):
    from .plans.liftover import MappingRow, unlifted_value_report

    customer, supplier = _t(spark, sf_dir, "customer", "supplier")
    mapping = [
        MappingRow("customer", "c_custkey", "participant", "participant_id"),
        MappingRow("customer", "c_name", "participant", "name"),
        MappingRow("supplier", "s_suppkey", "center", "center_id"),
    ]
    return unlifted_value_report(
        {"customer": customer, "supplier": supplier}, mapping
    )


@register(
    "f7_pii_scan",
    """WITH scan AS (
         SELECT o_orderkey,
                CAST(o_orderdate AS VARCHAR) AS odate_str,
                o_orderpriority,
                CASE WHEN o_orderkey % 100 = 0 THEN 'dob 1990-01-01'
                     WHEN o_orderkey % 101 = 0 THEN 'ssn 123-45-6789'
                     ELSE 'clean note' END AS notes
         FROM orders)
       SELECT 'odate_str' AS property,
              COUNT(CASE WHEN regexp_matches(odate_str, '\\d{4}-\\d{2}-\\d{2}')
                           OR regexp_matches(odate_str, '\\d{3}-\\d{2}-\\d{4}')
                         THEN 1 END) AS n_violations FROM scan
       UNION ALL
       SELECT 'o_orderpriority',
              COUNT(CASE WHEN regexp_matches(o_orderpriority, '\\d{4}-\\d{2}-\\d{2}')
                           OR regexp_matches(o_orderpriority, '\\d{3}-\\d{2}-\\d{4}')
                         THEN 1 END) FROM scan
       UNION ALL
       SELECT 'notes',
              COUNT(CASE WHEN regexp_matches(notes, '\\d{4}-\\d{2}-\\d{2}')
                           OR regexp_matches(notes, '\\d{3}-\\d{2}-\\d{4}')
                         THEN 1 END) FROM scan""",
    "F7 PII regex scan per string prop (src/s3_validationry_refactored.py:615-746)",
)
def f7_pii_scan(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    scan = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("odate_str"),
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 100 == 0, "dob 1990-01-01")
        .when(F.col("o_orderkey") % 101 == 0, "ssn 123-45-6789")
        .otherwise("clean note")
        .alias("notes"),
    )
    def pii(c: str):
        return F.col(c).rlike(r"\d{4}-\d{2}-\d{2}") | F.col(c).rlike(
            r"\d{3}-\d{2}-\d{4}"
        )

    parts = [
        scan.agg(F.sum(pii(c).cast("long")).alias("n_violations")).select(
            F.lit(c).alias("property"), "n_violations"
        )
        for c in ("odate_str", "o_orderpriority", "notes")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "f12_ext_type_infer",
    # the oracle derives expected types straight from the modulo class —
    # an independent derivation from the Spark when-cascade over the
    # constructed filename, so dialect bugs can't cancel out.
    """WITH named AS (
         SELECT CASE p_partkey % 8
                  WHEN 0 THEN 'bam' WHEN 1 THEN 'fastq' WHEN 2 THEN 'vcf'
                  WHEN 3 THEN 'tbi' WHEN 4 THEN 'dicom' WHEN 5 THEN 'notes'
                  WHEN 6 THEN 'txt' WHEN 7 THEN 'fasta' END AS file_type
         FROM part)
       SELECT file_type, COUNT(*) AS n FROM named GROUP BY file_type""",
    "F12 extension→type inference cascade (src/s3_validationry_refactored.py:1235-1338)",
)
def f12_ext_type_infer(spark, sf_dir):
    from .functions.urls import infer_file_type

    (part,) = _t(spark, sf_dir, "part")
    exts = F.array(
        *[F.lit(e) for e in
          (".bam", ".fastq.gz", ".vcf.gz", ".tbi", ".dcm", ".notes",
           ".superlongext", ".fa")]
    )
    named = part.select(
        F.concat(
            F.lower(F.regexp_replace(F.col("p_name"), " ", "_")),
            F.element_at(exts, (F.col("p_partkey") % 8 + 1).cast("int")),
        ).alias("file_name")
    )
    return (
        named.select(infer_file_type("file_name").alias("file_type"))
        .groupBy("file_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "f13_numeric_checks",
    """WITH vals AS (
         SELECT CASE WHEN c_custkey % 3 = 0 THEN printf('%.2f', c_acctbal)
                     WHEN c_custkey % 3 = 1 THEN 'NA'
                     ELSE CAST(c_custkey AS VARCHAR) END AS v
         FROM customer)
       SELECT
         COUNT(CASE WHEN regexp_matches(v, '^[+-]?\\d+$') THEN 1 END) AS n_int_ok,
         COUNT(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 1 END) AS n_float_ok,
         COUNT(CASE WHEN TRY_CAST(v AS DOUBLE) IS NULL THEN 1 END) AS n_bad
       FROM vals""",
    "F13 numeric parse checks via try_cast (src/s3_validationry_refactored.py:28-41,474-586)",
)
def f13_numeric_checks(spark, sf_dir):
    from .functions.checks import is_floatlike

    (customer,) = _t(spark, sf_dir, "customer")
    vals = customer.select(
        F.when(F.col("c_custkey") % 3 == 0, F.format_string("%.2f", F.col("c_acctbal")))
        .when(F.col("c_custkey") % 3 == 1, F.lit("NA"))
        .otherwise(F.col("c_custkey").cast("string"))
        .alias("v")
    )
    return vals.agg(
        F.sum(F.col("v").rlike(r"^[+-]?\d+$").cast("long")).alias("n_int_ok"),
        F.sum(is_floatlike("v").cast("long")).alias("n_float_ok"),
        F.sum((~is_floatlike("v")).cast("long")).alias("n_bad"),
    )


@register(
    "f15_uuid5_mint",
    None,  # DuckDB 1.0 lacks sha1/blob hashing — bit-exactness vs
    #        python uuid.uuid5 is asserted by golden vectors in tests
    "F15 deterministic UUIDv5, pure JVM expression (src/s3_ccdi_to_tabbreakery.py:11-38)",
)
def f15_uuid5_mint(spark, sf_dir):
    from .functions.ids import uuid5_expr

    (part,) = _t(spark, sf_dir, "part")
    name = F.concat_ws(
        "::", F.lit("study1"), F.lit("part"), F.col("p_partkey").cast("string")
    )
    return part.select(
        "p_partkey",
        uuid5_expr(name).alias("guid"),
    )


@register(
    "f16_code_encoding",
    """SELECT CASE c_mktsegment
                WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
                WHEN 'MACHINERY' THEN 3 WHEN 'HOUSEHOLD' THEN 4
                WHEN 'FURNITURE' THEN 5 ELSE 0 END AS segment_code,
              COUNT(*) AS n
       FROM customer GROUP BY 1""",
    "F16 closed-vocabulary → integer encoding (src/s3_ccdi_to_dbgap.py:213-226)",
)
def f16_code_encoding(spark, sf_dir):
    from .functions.cleaning import map_values

    (customer,) = _t(spark, sf_dir, "customer")
    mapping = {
        "BUILDING": 1, "AUTOMOBILE": 2, "MACHINERY": 3,
        "HOUSEHOLD": 4, "FURNITURE": 5,
    }
    coded = customer.select(
        map_values("c_mktsegment", mapping, unknown_value=0).alias("segment_code")
    )
    return coded.groupBy("segment_code").agg(F.count(F.lit(1)).alias("n"))


@register(
    "a8_binned_histogram",
    """SELECT CASE WHEN c_acctbal < 0 THEN 'Not Reported'
                   ELSE CAST(CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT) AS VARCHAR)
              END AS bucket,
              COUNT(*) AS n
       FROM customer GROUP BY 1""",
    "A8 binned histogram with sentinel bucket (workflows/data_catalog_stats.py:78-104)",
)
def a8_binned_histogram(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, F.lit("Not Reported"))
        .otherwise(
            (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("bigint").cast("string")
        )
        .alias("bucket")
    )
    return customer.select(bucket).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "o1_order_by_count",
    """SELECT event_type, COUNT(*) AS n FROM events
       GROUP BY event_type ORDER BY n DESC, event_type""",
    "O1 breakdown ordered by count desc (src/read_buckets.py:87-104)",
)
def o1_order_by_count(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
    )


@register(
    "rule_proband_family",
    """SELECT o_custkey AS family_id,
              COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_probands
       FROM orders GROUP BY o_custkey
       HAVING COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) <> 1""",
    "proband-in-family rule: exactly one proband per family "
    "(src/s3_validationry_refactored.py:837-910)",
)
def rule_proband_family(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("family_id"))
        .agg(
            F.sum((F.col("o_orderstatus") == "P").cast("long")).alias("n_probands")
        )
        .filter(F.col("n_probands") != 1)
    )


_STREAM_SESSION_ORACLE = """WITH marked AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,4)) AS vd,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, us, vd,
         -- RANGE (not ROWS): duplicate (user_id, ts) rows at a session
         -- break must share the tie group's cumulative brk so peers land
         -- in ONE session, matching Spark's session_window merge of
         -- equal-timestamp events (ADVICE r7 item 1).
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        RANGE UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT CAST(MIN(us) AS BIGINT) AS session_start_us,
       CAST(MAX(us) + 1800000000 AS BIGINT) AS session_end_us,
       user_id,
       COUNT(*) AS n_events,
       CAST(SUM(vd) AS DOUBLE) AS session_value
FROM sess GROUP BY user_id, sid"""


@register(
    "stream_session_windows",
    _STREAM_SESSION_ORACLE,
    "§2.15 gap-based session windows per user via the native "
    "F.session_window operator (the same plan attaches to readStream "
    "with a watermark; streaming/events.py::sessionize).  r7 VERDICT "
    "item 7: rows-only → oracle — batch session_window IS the classic "
    "gap-islands computation: break where the per-user gap exceeds "
    "30 min (measured: Spark MERGES a gap of exactly 30 min, so the "
    "break rule is strictly-greater), session end = last event + gap. "
    " Bounds emit as NTZ epoch micros, value sum decimal-routed",
)
def stream_session_windows(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    return (
        events.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("sess"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            agg.exact_sum("value", "session_value"),
        )
        .select(
            F.expr(us.format("sess.start")).alias("session_start_us"),
            F.expr(us.format("sess.end")).alias("session_end_us"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


@register(
    "stream_stateful_dedup",
    """SELECT user_id, event_type, COUNT(*) AS n FROM (
         SELECT DISTINCT ON (user_id, event_type, CAST(ts AS DATE))
                user_id, event_type, ts
         FROM events ORDER BY user_id, event_type, CAST(ts AS DATE), ts)
       GROUP BY user_id, event_type""",
    "§2.15 stateful dedup (watermarked dropDuplicates); batch twin is "
    "first-event-per-(user,type,day)",
)
def stream_stateful_dedup(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    # batch rendering of streaming_dedup's semantics: first event per
    # (user, type, day); the streaming path is
    # events.withWatermark("ts","1 hour").dropDuplicates([...])
    w = Window.partitionBy(
        "user_id", "event_type", F.col("ts").cast("date")
    ).orderBy("ts")
    return (
        events.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "dedup_embedding_cosine",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              ROUND(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_sim
       FROM n a JOIN n b ON a.vec_id < b.vec_id
       WHERE ROUND(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45""",
    "embedding-cosine near-dup pairs (exact baseline; minhash/simhash/IVF "
    "are the blocked scale paths)",
)
def dedup_embedding_cosine(spark, sf_dir):
    from .operators.similarity import as_double_array, dot, l2_norm

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    # norms computed once per row before the pair join, so the O(n^2)
    # part is a single dot per candidate pair.  At scale the candidate
    # set comes from an LSH/IVF blocker (see dedup_minhash_pairs /
    # sim_ivf_topk); this exact all-pairs variant is the recall oracle.
    e = embeddings.select(
        "vec_id", as_double_array("embedding").alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    # the nested-loop pair join parallelizes over STREAM-side
    # partitions; an embedding table small enough to arrive as one
    # parquet file would otherwise run the whole O(n^2) scan on one
    # core (36 s -> 1.5 s at sf0.1)
    n_slices = spark.sparkContext.defaultParallelism * 2
    a = e.repartition(n_slices).select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cos)
        .filter(F.col("cosine_sim") >= 0.45)
        .select("id_a", "id_b", "cosine_sim")
    )


@register(
    "dedup_embedding_cosine_blocked",
    None,  # Arrow-batched numpy GEMM → rows-only; equality with the
    # oracle-checked exact query is pinned by
    # tests/test_operators.py::test_blocked_gemm_matches_exact_pairs
    "exact all-pairs cosine via block-partitioned numpy GEMM "
    "(applyInPandas) — the exact-tier scale path",
)
def dedup_embedding_cosine_blocked(spark, sf_dir):
    from .operators.similarity import blocked_cosine_pairs

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(embeddings, 0.45, n_blocks=16)


@register(
    "f_repair_battery",
    """WITH base AS (
         SELECT p_partkey, p_name,
                CAST(p_partkey % 9999 AS VARCHAR) || '/3 : ' || p_name AS coded,
                p_name || '® – x' AS weird,
                p_name || ' and nos' AS titled,
                COUNT(*) OVER (PARTITION BY p_name) AS n_name,
                md5(p_name || CAST(p_partkey AS VARCHAR)) AS m
         FROM part)
       SELECT p_partkey,
         regexp_replace(coded, '^[^:]*\\d[^:]*\\s*:\\s*', '') AS decoded,
         replace(replace(replace(replace(replace(weird,
           '®',''),'™',''),'©',''),'–','-'),'—','-') AS ascii_clean,
         array_to_string(list_transform(string_split(titled, ' '),
           x -> CASE WHEN upper(x) IN ('AND','OR','NOS') THEN upper(x)
                     ELSE upper(substr(x,1,1)) || lower(substr(x,2)) END), ' ')
           AS title_cased,
         replace(replace(replace(p_name, ' ', '%20'), ',', '%2C'), '#', '%23')
           AS encoded_name,
         CASE WHEN n_name > 1 THEN substr(m, 29, 4) || '_' || p_name
              ELSE p_name END AS uniquified
       FROM base""",
    "F3/F4/F5/F18 repair battery: code-prefix strip, char substitution, "
    "title-case-except, url encoding, duplicate-filename uniquify",
)
def f_repair_battery(spark, sf_dir):
    from pyspark.sql import Window

    from .functions import cleaning, urls

    (part,) = _t(spark, sf_dir, "part")
    base = part.select(
        "p_partkey",
        "p_name",
        F.concat(
            (F.col("p_partkey") % 9999).cast("string"), F.lit("/3 : "), F.col("p_name")
        ).alias("coded"),
        F.concat(F.col("p_name"), F.lit("® – x")).alias("weird"),
        F.concat(F.col("p_name"), F.lit(" and nos")).alias("titled"),
        (F.count(F.lit(1)).over(Window.partitionBy("p_name")) > 1).alias("is_dup"),
        F.md5(F.concat(F.col("p_name"), F.col("p_partkey").cast("string"))).alias("m"),
    )
    return base.select(
        "p_partkey",
        cleaning.strip_code_prefix("coded").alias("decoded"),
        cleaning.substitute_chars("weird").alias("ascii_clean"),
        cleaning.title_case_except("titled").alias("title_cased"),
        cleaning.url_encode_spaces("p_name").alias("encoded_name"),
        urls.uniquify_filename("p_name", "m", F.col("is_dup")).alias("uniquified"),
    )


@register(
    "f17_name_parse",
    """WITH named AS (
         SELECT c_custkey,
                CASE c_custkey % 4
                  WHEN 0 THEN 'Dr. Ada B Lovelace'
                  WHEN 1 THEN 'Grace Hopper'
                  WHEN 2 THEN 'Ms. Alan Turing'
                  ELSE 'Katherine G Johnson' END AS display_name
         FROM customer),
       toks AS (
         SELECT c_custkey, display_name,
                string_split(display_name, ' ') AS t,
                list_contains(['Dr.','Mr.','Mrs.','Ms.','Prof.'],
                              string_split(display_name, ' ')[1]) AS has_title
         FROM named),
       rest AS (
         SELECT c_custkey, display_name, has_title,
                CASE WHEN has_title THEN t[2:] ELSE t END AS r,
                CASE WHEN has_title THEN t[1] END AS title
         FROM toks)
       SELECT c_custkey, display_name, title,
              r[1] AS first_name,
              CASE WHEN len(r) >= 3 THEN r[2] END AS middle_name,
              CASE WHEN len(r) >= 2 THEN r[-1] END AS last_name
       FROM rest""",
    "F17 personnel name parsing with honorific strip (src/s3_ccdi_to_cds.py:878-934)",
)
def f17_name_parse(spark, sf_dir):
    from .functions.cleaning import parse_person_name

    (customer,) = _t(spark, sf_dir, "customer")
    named = customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 4 == 0, "Dr. Ada B Lovelace")
        .when(F.col("c_custkey") % 4 == 1, "Grace Hopper")
        .when(F.col("c_custkey") % 4 == 2, "Ms. Alan Turing")
        .otherwise("Katherine G Johnson")
        .alias("display_name"),
    )
    return named.withColumn("p", parse_person_name("display_name")).select(
        "c_custkey",
        "display_name",
        F.col("p.title").alias("title"),
        F.col("p.first_name").alias("first_name"),
        F.col("p.middle_name").alias("middle_name"),
        F.col("p.last_name").alias("last_name"),
    )


@register(
    "rules_validate_graph",
    """WITH uk AS (
         SELECT p_name, COUNT(*) AS c FROM part
         WHERE p_name IS NOT NULL GROUP BY p_name HAVING COUNT(*) > 1)
       SELECT 'part_node' AS node, 'p_name' AS property, 'unique_key' AS rule,
              'ERROR' AS severity, p_name AS row_ref, CAST(c AS VARCHAR) AS value
       FROM uk
       UNION ALL
       SELECT 'lineitem_node', 'parent_link', 'dangling_link', 'ERROR',
              CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR),
              'MISSING-' || CAST(l_orderkey AS VARCHAR)
       FROM lineitem WHERE l_orderkey % 50 = 0
       UNION ALL
       SELECT 'part_node', 'key_id', 'key_charset', 'ERROR',
              CAST(p_partkey AS VARCHAR), 'bad key!' || CAST(p_partkey AS VARCHAR)
       FROM part WHERE p_partkey % 61 = 0
       UNION ALL
       SELECT 'part_node', 'acl', 'acl_format', 'ERROR',
              CAST(p_partkey AS VARCHAR), acl
       FROM (
         SELECT p_partkey,
                CASE WHEN p_partkey % 91 = 0 THEN '[bad'
                     WHEN p_partkey % 2 = 0 THEN '[''*'']'
                     ELSE '[''phs000123.c1'']' END AS acl,
                CASE WHEN p_partkey % 2 = 0 THEN 'Open'
                     ELSE 'Controlled' END AS fa
         FROM part)
       WHERE CASE WHEN fa = 'Open' THEN acl <> '[''*'']'
                  ELSE NOT (regexp_matches(acl, '^\\[''[A-Za-z0-9_.-]+''\\]$')
                            AND acl <> '[''*'']') END""",
    "§2.11 graph-shaped rule families: unique-key, multiplicity-aware "
    "dangling links, key-charset (F9), acl format (F10)",
)
def rules_validate_graph(spark, sf_dir):
    from .functions import checks
    from .plans.rules import NodeSchema, PropertyRule, validate_cross_links, validate_unique_keys

    part, lineitem, orders = _t(spark, sf_dir, "part", "lineitem", "orders")

    uk = validate_unique_keys(
        part, NodeSchema(node="part_node", rules=[], key_props=["p_name"])
    )

    child = lineitem.select(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("row_key"),
        F.when(
            F.col("l_orderkey") % 50 == 0,
            F.concat_ws(
                ";", F.col("l_orderkey").cast("string"),
                F.concat(F.lit("MISSING-"), F.col("l_orderkey").cast("string")),
            ),
        )
        .otherwise(F.col("l_orderkey").cast("string"))
        .alias("parent_link"),
    )
    links = validate_cross_links(
        child, "lineitem_node", "parent_link", orders, "o_orderkey",
        key_col="row_key", multi_valued=True,
    )

    keyed = part.select(
        F.col("p_partkey").cast("string").alias("row_ref"),
        F.when(
            F.col("p_partkey") % 61 == 0,
            F.concat(F.lit("bad key!"), F.col("p_partkey").cast("string")),
        )
        .otherwise(F.concat(F.lit("ok_"), F.col("p_partkey").cast("string")))
        .alias("key_id"),
    )
    charset = keyed.filter(~checks.is_valid_key_id("key_id")).select(
        F.lit("part_node").alias("node"),
        F.lit("key_id").alias("property"),
        F.lit("key_charset").alias("rule"),
        F.lit("ERROR").alias("severity"),
        "row_ref",
        F.col("key_id").alias("value"),
    )

    acled = part.select(
        F.col("p_partkey").cast("string").alias("row_ref"),
        F.when(F.col("p_partkey") % 91 == 0, "[bad")
        .when(F.col("p_partkey") % 2 == 0, "['*']")
        .otherwise("['phs000123.c1']")
        .alias("acl"),
        F.when(F.col("p_partkey") % 2 == 0, "Open")
        .otherwise("Controlled")
        .alias("file_access"),
    )
    acl_bad = acled.filter(~checks.is_valid_acl("acl", "file_access")).select(
        F.lit("part_node").alias("node"),
        F.lit("acl").alias("property"),
        F.lit("acl_format").alias("rule"),
        F.lit("ERROR").alias("severity"),
        "row_ref",
        F.col("acl").alias("value"),
    )

    return uk.unionByName(links).unionByName(charset).unionByName(acl_bad)


# ---------------------------------------------------------------------------
# Curation lifecycle (SURVEY §3.1): repair → derive → index → validate
# as ONE composed plan (plans/curation.py)
# ---------------------------------------------------------------------------


_CURATION_FILE_NODE_SQL = """
  SELECT 'f' || CAST(p_partkey AS VARCHAR) AS file_id,
         CASE WHEN p_partkey % 37 = 0 THEN ' ' ELSE '' END ||
           replace(p_name, ' ', '_') ||
           CASE p_partkey % 4 WHEN 0 THEN '.bam' WHEN 1 THEN '.vcf.gz'
                WHEN 2 THEN '.fastq.gz' ELSE '.txt' END AS file_name,
         CASE WHEN p_partkey % 113 = 0 THEN 0 ELSE p_size END AS file_size,
         CASE WHEN p_partkey % 101 = 0 THEN 'zz' || md5(p_name || CAST(p_partkey AS VARCHAR))
              WHEN p_partkey % 103 = 0 THEN 'NA'
              WHEN p_partkey % 97 = 0 THEN upper(md5(p_name || CAST(p_partkey AS VARCHAR)))
              ELSE md5(p_name || CAST(p_partkey AS VARCHAR)) END AS md5sum,
         's3://bucket/data/' ||
           CASE WHEN p_partkey % 127 = 0 THEN 'other_' ELSE '' END ||
           replace(p_name, ' ', '_') ||
           CASE p_partkey % 4 WHEN 0 THEN '.bam' WHEN 1 THEN '.vcf.gz'
                WHEN 2 THEN '.fastq.gz' ELSE '.txt' END AS file_url,
         CASE WHEN p_partkey % 2 = 0 THEN 'Open' ELSE 'Controlled' END AS file_access,
         CASE WHEN p_partkey % 2 = 0 THEN '[''*'']' ELSE '[''phs000123.c1'']' END AS acl,
         CASE WHEN p_partkey % 2 = 0 THEN 's' || CAST(p_partkey AS VARCHAR)
              ELSE 'NA' END AS sample_link,
         CASE WHEN p_partkey % 8 IN (1, 3) THEN 'p' || CAST(p_partkey AS VARCHAR)
              ELSE 'NA' END AS participant_link,
         p_partkey
  FROM part
"""


def _curation_file_node(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ext = F.element_at(
        F.array(F.lit(".bam"), F.lit(".vcf.gz"), F.lit(".fastq.gz"), F.lit(".txt")),
        (k % 4 + 1).cast("int"),
    )
    clean_name = F.concat(F.regexp_replace("p_name", " ", "_"), ext)
    good_md5 = F.md5(F.concat(F.col("p_name"), k.cast("string")))
    return part.select(
        F.concat(F.lit("f"), k.cast("string")).alias("file_id"),
        F.concat(
            F.when(k % 37 == 0, F.lit(" ")).otherwise(F.lit("")), clean_name
        ).alias("file_name"),
        F.when(k % 113 == 0, F.lit(0)).otherwise(F.col("p_size")).alias("file_size"),
        F.when(k % 101 == 0, F.concat(F.lit("zz"), good_md5))
        .when(k % 103 == 0, F.lit("NA"))
        .when(k % 97 == 0, F.upper(good_md5))
        .otherwise(good_md5)
        .alias("md5sum"),
        F.concat(
            F.lit("s3://bucket/data/"),
            F.when(k % 127 == 0, F.lit("other_")).otherwise(F.lit("")),
            clean_name,
        ).alias("file_url"),
        F.when(k % 2 == 0, "Open").otherwise("Controlled").alias("file_access"),
        F.when(k % 2 == 0, "['*']").otherwise("['phs000123.c1']").alias("acl"),
        F.when(k % 2 == 0, F.concat(F.lit("s"), k.cast("string")))
        .otherwise(F.lit("NA"))
        .alias("sample_link"),
        F.when((k % 8).isin(1, 3), F.concat(F.lit("p"), k.cast("string")))
        .otherwise(F.lit("NA"))
        .alias("participant_link"),
        k.alias("p_partkey"),
    )


@register(
    "curation_pipeline",
    f"""WITH f AS ({_CURATION_FILE_NODE_SQL})
       SELECT file_id,
              trim(file_name) AS file_name,
              CASE p_partkey % 4 WHEN 0 THEN 'bam' WHEN 1 THEN 'vcf'
                   WHEN 2 THEN 'fastq' ELSE 'txt' END AS file_type,
              file_size,
              CASE WHEN md5sum = 'NA' THEN NULL ELSE lower(md5sum) END AS md5sum,
              file_url, file_access, acl,
              CASE WHEN sample_link <> 'NA' THEN 'Sample'
                   WHEN participant_link <> 'NA' THEN 'Participant'
                   ELSE 'Study' END AS file_mapping_level
       FROM f""",
    "§3.1 runner as one composed plan: CatchERR repair + F12/F20 derive "
    "+ DCF index projection (file_type re-derived independently in the oracle)",
)
def curation_pipeline(spark, sf_dir):
    from .plans.curation import curate_file_node

    return curate_file_node(_curation_file_node(spark, sf_dir).drop("p_partkey"))


@register(
    "curation_violations",
    f"""WITH f AS ({_CURATION_FILE_NODE_SQL}),
       idx AS (
         SELECT file_id,
                trim(file_name) AS file_name,
                CASE WHEN md5sum = 'NA' THEN NULL ELSE lower(md5sum) END AS md5sum,
                file_size, file_url
         FROM f)
       SELECT 'file' AS node, 'md5_format' AS rule, 'ERROR' AS severity,
              file_id AS row_ref
       FROM idx WHERE md5sum IS NOT NULL AND NOT regexp_matches(md5sum, '^[a-f0-9]{{32}}$')
       UNION ALL
       SELECT 'file', 'zero_size', 'ERROR', file_id FROM idx WHERE file_size <= 0
       UNION ALL
       SELECT 'file', 'url_basename_mismatch', 'ERROR', file_id
       FROM idx WHERE regexp_extract(file_url, '([^/]*)$', 1) <> file_name""",
    "§2.11 file-metadata rule family over the curated index",
)
def curation_violations(spark, sf_dir):
    from .plans.curation import curate_file_node, index_violations

    return index_violations(
        curate_file_node(_curation_file_node(spark, sf_dir).drop("p_partkey"))
    )


@register(
    "mci_transform",
    """WITH latest AS (
         SELECT user_id, event_type AS last_status,
                ROUND(value, 3) AS age_at_last,
                ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events),
       survival AS (SELECT user_id, last_status, age_at_last FROM latest WHERE rn = 1),
       joined AS (
         SELECT c.c_custkey AS participant_id, c.c_mktsegment, s.last_status,
                s.age_at_last
         FROM customer c JOIN survival s ON s.user_id = c.c_custkey)
       SELECT participant_id,
              last_status AS vital_status,
              age_at_last AS age_at_last_known_status,
              CASE c_mktsegment
                WHEN 'BUILDING' THEN '9380/3' WHEN 'AUTOMOBILE' THEN '9401/3'
                WHEN 'MACHINERY' THEN '9440/3' ELSE 'Not Reported'
              END AS icdo_morphology
       FROM joined
       WHERE last_status IN ('click', 'purchase', 'view')""",
    "§3.3 MCI→GDC transform: W-d latest-status window → participant join "
    "→ assay filter → ICD-O lookup (workflows/mci_gdc_transform.py:31-60,387-455)",
)
def mci_transform(spark, sf_dir):
    from pyspark.sql import Window

    events, customer = _t(spark, sf_dir, "events", "customer")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    survival = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_status"),
            F.round("value", 3).alias("age_at_last"),
        )
    )
    joined = customer.join(
        survival, customer["c_custkey"] == survival["user_id"], "inner"
    )
    icdo = (
        F.when(F.col("c_mktsegment") == "BUILDING", "9380/3")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "9401/3")
        .when(F.col("c_mktsegment") == "MACHINERY", "9440/3")
        .otherwise("Not Reported")
    )
    return (
        joined.filter(F.col("last_status").isin("click", "purchase", "view"))
        .select(
            F.col("c_custkey").alias("participant_id"),
            F.col("last_status").alias("vital_status"),
            F.col("age_at_last").alias("age_at_last_known_status"),
            icdo.alias("icdo_morphology"),
        )
    )


@register(
    "text_fingerprint_md5",
    r"""WITH t AS (
         SELECT doc_id,
                list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '') AS toks
         FROM documents),
       s AS (
         SELECT doc_id,
                CASE WHEN len(toks) >= 5
                     THEN list_distinct(list_transform(range(1, len(toks) - 3),
                          i -> array_to_string(list_slice(toks, i, i + 4), ' ')))
                     ELSE [array_to_string(toks, ' ')] END AS sh
         FROM t)
       SELECT doc_id,
              list_min(list_transform(sh, x -> md5(x))) AS fingerprint
       FROM s""",
    "document fingerprint with an engine-portable md5-min key "
    "(xxhash64 variant `text_fingerprint` is the scale path)",
)
def text_fingerprint_md5(spark, sf_dir):
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    staged = with_shingles(documents, "text", "__sh__", 5)
    fp = F.array_min(
        F.transform(F.col("__sh__"), lambda s: F.md5(F.encode(s, "UTF-8")))
    )
    return staged.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# Composed CDS flattening (J3 at full reference fidelity):
# the 14-path catalog + parent-wins/anatomic_site-reversed conflict
# table from src/s3_ccdi_to_cds.py:299-729,563-681 over a synthetic
# CCDI graph derived from the star schema.  The graph plants every
# link topology the path catalog can traverse: direct samples,
# pdx/cell_line indirection (one and two sample hops), files linking
# at sample/pdx/cell_line/participant/study level.
# ---------------------------------------------------------------------------

_CDS_NODE_COLS: dict[str, list[str]] = {
    "sample": [
        "sample_id", "participant_id", "pdx_id", "cell_line_id",
        "study_id", "anatomic_site",
    ],
    "pdx": ["pdx_id", "sample_id", "study_id", "passage_number"],
    "cell_line": [
        "cell_line_id", "sample_id", "participant_id", "study_id",
        "cell_line_source",
    ],
    "study_level": [
        "study_id", "study_title", "study_status", "personnel_type",
        "personnel_name",
    ],
    "participant_level": [
        "study_id", "study_title", "study_status", "personnel_type",
        "personnel_name", "participant_id", "sex_at_birth", "anatomic_site",
    ],
}

_CDS_FILE_COLS: list[str] = [
    "file_name", "file_url", "md5sum", "file_size", "file_type",
    "sample_id", "pdx_id", "cell_line_id", "participant_id", "study_id",
]

_CDS_FINAL_COLS: list[str] = [
    "study_id", "study_title", "study_status", "personnel_name",
    "participant_id", "sex_at_birth", "sample_id", "anatomic_site",
    "file_name", "file_type", "file_size", "md5sum", "file_url",
]

#: the CDS template's required props → "Not Applicable" fill
#: (src/s3_ccdi_to_cds.py:1020-1028)
_CDS_REQUIRED_COLS: list[str] = ["participant_id", "sex_at_birth", "anatomic_site"]

_CDS_NODE_CTES = """cust_study AS (
  SELECT c_custkey AS cust, r_name AS st
  FROM customer JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey),
ob AS (
  SELECT o_orderkey AS k, cust, st
  FROM orders JOIN cust_study ON o_custkey = cust),
sample AS (
  SELECT 'S' || CAST(k AS VARCHAR) AS sample_id,
         'P' || CAST(cust AS VARCHAR) AS participant_id,
         CAST(NULL AS VARCHAR) AS pdx_id,
         CAST(NULL AS VARCHAR) AS cell_line_id,
         CAST(NULL AS VARCHAR) AS study_id,
         'site-' || CAST(k % 4 AS VARCHAR) AS anatomic_site
  FROM ob WHERE k % 5 <> 0
  UNION ALL
  SELECT 'S' || CAST(k AS VARCHAR), NULL, 'X' || CAST(k AS VARCHAR), NULL,
         NULL, 'site-' || CAST(k % 4 AS VARCHAR)
  FROM ob WHERE k % 10 = 0
  UNION ALL
  SELECT 'S' || CAST(k AS VARCHAR), NULL, NULL, 'C' || CAST(k AS VARCHAR),
         NULL, 'site-' || CAST(k % 4 AS VARCHAR)
  FROM ob WHERE k % 10 = 5
  UNION ALL
  SELECT 'SB' || CAST(k AS VARCHAR),
         CASE WHEN k % 40 <> 20 THEN 'P' || CAST(cust AS VARCHAR) END,
         NULL, NULL,
         CASE WHEN k % 40 = 20 THEN st END,
         'bsite-' || CAST(k % 8 AS VARCHAR)
  FROM ob WHERE k % 40 IN (0, 5, 20, 25)),
pdx AS (
  SELECT 'X' || CAST(k AS VARCHAR) AS pdx_id,
         CASE WHEN k % 20 = 0 THEN 'SB' || CAST(k AS VARCHAR) END AS sample_id,
         CASE WHEN k % 20 = 10 THEN st END AS study_id,
         'psg-' || CAST(k % 7 AS VARCHAR) AS passage_number
  FROM ob WHERE k % 10 = 0),
cell_line AS (
  SELECT 'C' || CAST(k AS VARCHAR) AS cell_line_id,
         CASE WHEN k % 20 = 5 THEN 'SB' || CAST(k AS VARCHAR) END AS sample_id,
         CASE WHEN k % 40 = 15 THEN 'P' || CAST(cust AS VARCHAR) END AS participant_id,
         CASE WHEN k % 40 = 35 THEN st END AS study_id,
         'src-' || CAST(k % 3 AS VARCHAR) AS cell_line_source
  FROM ob WHERE k % 10 = 5),
participant AS (
  SELECT 'P' || CAST(cust AS VARCHAR) AS participant_id, st AS study_id,
         CASE WHEN cust % 2 = 0 THEN 'Female' ELSE 'Male' END AS sex_at_birth
  FROM cust_study),
diagnosis AS (
  SELECT 'P' || CAST(cust AS VARCHAR) AS participant_id,
         'dx-' || CAST(cust % 5 AS VARCHAR) AS anatomic_site
  FROM cust_study WHERE cust % 3 = 0),
study_level AS (
  SELECT s.study_id, s.study_title, a.study_status,
         p.personnel_type, p.personnel_name
  FROM (SELECT r_name AS study_id, 'Study ' || r_name AS study_title
        FROM region) s
  LEFT JOIN (SELECT r_name AS study_id,
                    CASE WHEN r_regionkey % 2 = 0 THEN 'Active'
                         ELSE 'Closed' END AS study_status
             FROM region) a ON s.study_id = a.study_id
  LEFT JOIN (SELECT r_name AS study_id, 'PI' AS personnel_type,
                    'pi-' || r_name AS personnel_name FROM region
             UNION ALL
             SELECT r_name, 'Co-PI', 'copi-' || r_name FROM region) p
         ON s.study_id = p.study_id),
participant_level AS (
  SELECT sl.study_id, sl.study_title, sl.study_status, sl.personnel_type,
         sl.personnel_name, pt.participant_id, pt.sex_at_birth,
         d.anatomic_site
  FROM study_level sl
  LEFT JOIN participant pt ON sl.study_id = pt.study_id
  LEFT JOIN diagnosis d ON pt.participant_id = d.participant_id),
file_node AS (
  SELECT 'f_' || CAST(k AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)
           || '.bam' AS file_name,
         's3://cds/' || CAST(k AS VARCHAR) || '/f_' || CAST(k AS VARCHAR)
           || '_' || CAST(l_linenumber AS VARCHAR) || '.bam' AS file_url,
         md5(CAST(k AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) AS md5sum,
         (k % 1000) * 100 + l_linenumber AS file_size,
         'bam' AS file_type,
         CASE WHEN l_linenumber <= 4 OR (l_linenumber = 6 AND k % 5 <> 0)
                OR (l_linenumber = 6 AND k % 40 = 20)
              THEN 'S' || CAST(k AS VARCHAR) END AS sample_id,
         CASE WHEN l_linenumber = 6 AND k % 10 = 0 AND k % 40 <> 20
              THEN 'X' || CAST(k AS VARCHAR) END AS pdx_id,
         CASE WHEN l_linenumber = 6 AND k % 10 = 5
              THEN 'C' || CAST(k AS VARCHAR) END AS cell_line_id,
         CASE WHEN l_linenumber = 7
              THEN 'P' || CAST(cust AS VARCHAR) END AS participant_id,
         CASE WHEN l_linenumber = 5 THEN st END AS study_id
  FROM lineitem JOIN ob ON l_orderkey = k)"""


def _cds_graph(spark, sf_dir) -> dict[str, DataFrame]:
    """Spark twin of :data:`_CDS_NODE_CTES` — same graph, same values."""
    orders, customer, nation, region, lineitem = _t(
        spark, sf_dir, "orders", "customer", "nation", "region", "lineitem"
    )
    cust_study = (
        customer.join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select(F.col("c_custkey").alias("cust"), F.col("r_name").alias("st"))
    )
    # cust_study is customer-scale — no hint; AQE broadcasts when small
    ob = orders.join(
        cust_study, orders["o_custkey"] == cust_study["cust"]
    ).select(F.col("o_orderkey").alias("k"), "cust", "st")

    k = F.col("k")
    s_id = F.concat(F.lit("S"), k.cast("string"))
    sb_id = F.concat(F.lit("SB"), k.cast("string"))
    p_id = F.concat(F.lit("P"), F.col("cust").cast("string"))
    x_id = F.concat(F.lit("X"), k.cast("string"))
    c_id = F.concat(F.lit("C"), k.cast("string"))
    site = F.concat(F.lit("site-"), (k % 4).cast("string"))
    bsite = F.concat(F.lit("bsite-"), (k % 8).cast("string"))
    null_s = F.lit(None).cast("string")

    sample = (
        ob.filter(k % 5 != 0)
        .select(
            s_id.alias("sample_id"), p_id.alias("participant_id"),
            null_s.alias("pdx_id"), null_s.alias("cell_line_id"),
            null_s.alias("study_id"), site.alias("anatomic_site"),
        )
        .unionByName(
            ob.filter(k % 10 == 0).select(
                s_id.alias("sample_id"), null_s.alias("participant_id"),
                x_id.alias("pdx_id"), null_s.alias("cell_line_id"),
                null_s.alias("study_id"), site.alias("anatomic_site"),
            )
        )
        .unionByName(
            ob.filter(k % 10 == 5).select(
                s_id.alias("sample_id"), null_s.alias("participant_id"),
                null_s.alias("pdx_id"), c_id.alias("cell_line_id"),
                null_s.alias("study_id"), site.alias("anatomic_site"),
            )
        )
        .unionByName(
            ob.filter((k % 40).isin(0, 5, 20, 25)).select(
                sb_id.alias("sample_id"),
                F.when(k % 40 != 20, p_id).alias("participant_id"),
                null_s.alias("pdx_id"), null_s.alias("cell_line_id"),
                F.when(k % 40 == 20, F.col("st")).alias("study_id"),
                bsite.alias("anatomic_site"),
            )
        )
    )
    pdx = ob.filter(k % 10 == 0).select(
        x_id.alias("pdx_id"),
        F.when(k % 20 == 0, sb_id).alias("sample_id"),
        F.when(k % 20 == 10, F.col("st")).alias("study_id"),
        F.concat(F.lit("psg-"), (k % 7).cast("string")).alias("passage_number"),
    )
    cell_line = ob.filter(k % 10 == 5).select(
        c_id.alias("cell_line_id"),
        F.when(k % 20 == 5, sb_id).alias("sample_id"),
        F.when(k % 40 == 15, p_id).alias("participant_id"),
        F.when(k % 40 == 35, F.col("st")).alias("study_id"),
        F.concat(F.lit("src-"), (k % 3).cast("string")).alias("cell_line_source"),
    )
    participant = cust_study.select(
        F.concat(F.lit("P"), F.col("cust").cast("string")).alias("participant_id"),
        F.col("st").alias("study_id"),
        F.when(F.col("cust") % 2 == 0, "Female")
        .otherwise("Male")
        .alias("sex_at_birth"),
    )
    diagnosis = cust_study.filter(F.col("cust") % 3 == 0).select(
        F.concat(F.lit("P"), F.col("cust").cast("string")).alias("participant_id"),
        F.concat(F.lit("dx-"), (F.col("cust") % 5).cast("string")).alias(
            "anatomic_site"
        ),
    )
    study = region.select(
        F.col("r_name").alias("study_id"),
        F.concat(F.lit("Study "), F.col("r_name")).alias("study_title"),
    )
    study_admin = region.select(
        F.col("r_name").alias("study_id"),
        F.when(F.col("r_regionkey") % 2 == 0, "Active")
        .otherwise("Closed")
        .alias("study_status"),
    )
    study_personnel = region.select(
        F.col("r_name").alias("study_id"),
        F.lit("PI").alias("personnel_type"),
        F.concat(F.lit("pi-"), F.col("r_name")).alias("personnel_name"),
    ).unionByName(
        region.select(
            F.col("r_name").alias("study_id"),
            F.lit("Co-PI").alias("personnel_type"),
            F.concat(F.lit("copi-"), F.col("r_name")).alias("personnel_name"),
        )
    )
    j = F.col("j")
    fname = F.concat(
        F.lit("f_"), k.cast("string"), F.lit("_"), j.cast("string"), F.lit(".bam")
    )
    file_node = (
        lineitem.select(
            F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("j")
        )
        .join(ob, on="k")
        .select(
            fname.alias("file_name"),
            F.concat(
                F.lit("s3://cds/"), k.cast("string"), F.lit("/"), fname
            ).alias("file_url"),
            F.md5(
                F.encode(
                    F.concat(k.cast("string"), F.lit("-"), j.cast("string")),
                    "UTF-8",
                )
            ).alias("md5sum"),
            ((k % 1000) * 100 + j).cast("long").alias("file_size"),
            F.lit("bam").alias("file_type"),
            # j==6 pdx links are only planted where the catalog can
            # route them (pdx→SB→participant or pdx→study); a pdx
            # whose base sample is study-linked (k%40==20) has no
            # file→pdx→sample→study path in the reference catalog,
            # so those files link their sample instead (→ path 14).
            F.when(
                (j <= 4)
                | ((j == 6) & (k % 5 != 0))
                | ((j == 6) & (k % 40 == 20)),
                s_id,
            ).alias("sample_id"),
            F.when((j == 6) & (k % 10 == 0) & (k % 40 != 20), x_id).alias(
                "pdx_id"
            ),
            F.when((j == 6) & (k % 10 == 5), c_id).alias("cell_line_id"),
            F.when(j == 7, p_id).alias("participant_id"),
            F.when(j == 5, F.col("st")).alias("study_id"),
        )
    )
    return {
        "sample": sample,
        "pdx": pdx,
        "cell_line": cell_line,
        "participant": participant,
        "diagnosis": diagnosis,
        "study": study,
        "study_admin": study_admin,
        "study_personnel": study_personnel,
        "file": file_node,
    }


def _cds_oracle() -> str:
    from .plans.cds import render_cds_oracle_sql

    return render_cds_oracle_sql(
        _CDS_NODE_CTES,
        _CDS_NODE_COLS,
        _CDS_FILE_COLS,
        _CDS_FINAL_COLS,
        _CDS_REQUIRED_COLS,
    )


@register(
    "cds_flatten",
    _cds_oracle(),
    "J3 composed: the reference's 14-path CDS flattening with the real "
    "parent-wins/anatomic_site-reversed conflict table "
    "(src/s3_ccdi_to_cds.py:299-729,563-681); oracle SQL is generated "
    "from the same path catalog",
)
def cds_flatten(spark, sf_dir):
    from .plans.cds import build_levels, cds_metadata

    g = _cds_graph(spark, sf_dir)
    study_level, participant_level = build_levels(
        g["study"], g["study_admin"], g["study_personnel"],
        g["participant"], g["diagnosis"],
    )
    nodes = {
        "sample": g["sample"],
        "pdx": g["pdx"],
        "cell_line": g["cell_line"],
        "study_level": study_level,
        "participant_level": participant_level,
    }
    return cds_metadata(
        g["file"], nodes, _CDS_FINAL_COLS, _CDS_REQUIRED_COLS
    )


# ---------------------------------------------------------------------------
# Composed CCDI→SRA submission (src/s3_ccdi_to_sra.py:1338-1585):
# trim/dedup → F6 enum battery + F14 pad → filetype filter →
# verification → A10 guard → W3-unpivot previous + U2 keep-last →
# F18 filename uniquify → W2 spread.  plans/sra.py is the engine;
# the oracle mirrors it stage for stage.
# ---------------------------------------------------------------------------

_SRA_ATTR_COLS: list[str] = [
    "library_strategy", "library_source", "library_selection",
    "library_layout", "platform", "instrument_model",
    "design_description", "phs_accession", "study_name",
]

_SRA_ATTR_SQL = """'S' || CAST(k AS VARCHAR) AS sample_ID,
         'L' || CAST(k AS VARCHAR) || '_1' AS library_ID,
         'T ' || CAST(k AS VARCHAR) AS title,
         CASE k % 3 WHEN 0 THEN 'WGS' WHEN 1 THEN 'WXS'
              ELSE 'RNA-Seq' END AS library_strategy,
         CASE k % 2 WHEN 0 THEN 'GENOMIC'
              ELSE 'TRANSCRIPTOMIC' END AS library_source,
         CASE k % 3 WHEN 0 THEN 'RANDOM' WHEN 1 THEN 'Hybrid Selection'
              ELSE 'PCR' END AS library_selection,
         'paired' AS library_layout,
         CASE k % 4 WHEN 0 THEN 'ILLUMINA' WHEN 1 THEN 'ION_TORRENT'
              WHEN 2 THEN 'PACBIO_SMRT'
              ELSE 'OXFORD_NANOPORE' END AS platform,
         'model-' || CAST(k % 5 AS VARCHAR) AS instrument_model,
         rpad('dd ' || CAST(k AS VARCHAR), 250, ' ') || '.' AS design_description,
         'phs000123' AS phs_accession,
         'Study CCDI Synthetic' AS study_name"""

_SRA_ORACLE = f"""WITH seq0 AS (
  SELECT DISTINCT l_orderkey AS k, l_linenumber AS j FROM lineitem),
raw AS (
  SELECT 'S' || CAST(k AS VARCHAR) AS sample_ID,
         CASE WHEN k % 50 = 0 AND j % 2 = 1
              THEN 'SHARED_' || CAST(k % 7 AS VARCHAR)
              ELSE 'L' || CAST(k AS VARCHAR) || '_'
                   || CAST(j % 2 AS VARCHAR) END AS library_ID,
         CASE WHEN k % 33 = 0 THEN NULL
              ELSE 'T ' || CAST(k AS VARCHAR) END AS title,
         CASE k % 3 WHEN 0 THEN 'WGS' WHEN 1 THEN 'WXS'
              ELSE 'RNA-Seq' END AS library_strategy,
         CASE k % 2 WHEN 0 THEN 'GENOMIC'
              ELSE 'TRANSCRIPTOMIC' END AS library_source,
         CASE k % 3 WHEN 0 THEN 'Random' WHEN 1 THEN 'Hybrid Selection'
              ELSE 'PCR' END AS sel_raw,
         CASE j % 2 WHEN 1 THEN 'Paired end'
              ELSE 'Single end' END AS layout_raw,
         CASE k % 4 WHEN 0 THEN 'Illumina NovaSeq 6000'
              WHEN 1 THEN 'Ion Torrent S5' WHEN 2 THEN 'PacBio Sequel II'
              ELSE 'Oxford Nanopore PromethION' END AS platform_raw,
         'model-' || CAST(k % 5 AS VARCHAR) AS instrument_model,
         'dd ' || CAST(k AS VARCHAR) AS dd_raw,
         CASE WHEN j = 3 THEN 'txt' WHEN j % 2 = 0 THEN 'bam'
              ELSE 'fastq' END AS filetype,
         CASE WHEN k % 25 = 0 AND j = 1 THEN 'common.fastq'
              ELSE 'sq_' || CAST(k AS VARCHAR) || '_' || CAST(j AS VARCHAR)
                   || '.' || CASE WHEN j = 3 THEN 'txt'
                                  WHEN j % 2 = 0 THEN 'bam'
                                  ELSE 'fastq' END END AS filename,
         md5(CAST(k AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS MD5_checksum,
         'phs000123' AS phs_accession,
         'Study CCDI Synthetic' AS study_name
  FROM seq0),
normalized AS (
  SELECT sample_ID, library_ID, title, library_strategy, library_source,
         CASE sel_raw WHEN 'Random' THEN 'RANDOM'
              ELSE sel_raw END AS library_selection,
         CASE layout_raw WHEN 'Paired end' THEN 'paired'
              WHEN 'Single end' THEN 'single'
              ELSE layout_raw END AS library_layout,
         CASE WHEN platform_raw LIKE 'Illumina%' THEN 'ILLUMINA'
              WHEN platform_raw LIKE 'Ion%' THEN 'ION_TORRENT'
              WHEN platform_raw LIKE 'PacBio%' THEN 'PACBIO_SMRT'
              WHEN platform_raw LIKE 'Oxford%' THEN 'OXFORD_NANOPORE'
              ELSE 'OTHER' END AS platform,
         instrument_model,
         rpad(COALESCE(dd_raw, ''), 250, ' ') || '.' AS design_description,
         phs_accession, study_name, filetype, filename, MD5_checksum
  FROM raw
  WHERE filetype IN ('bam', 'fastq', 'cram')
    AND sample_ID IS NOT NULL AND library_ID IS NOT NULL
    AND title IS NOT NULL),
guarded AS (
  SELECT * FROM normalized WHERE library_ID NOT IN (
    SELECT library_ID FROM normalized
    GROUP BY library_ID HAVING COUNT(DISTINCT sample_ID) > 1)),
prevk AS (
  SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_orderkey % 10 = 3),
prev_long AS (
  SELECT {_SRA_ATTR_SQL},
         'fastq' AS filetype,
         'sq_' || CAST(k AS VARCHAR) || '_1.fastq' AS filename,
         md5('old:' || CAST(k AS VARCHAR)) AS MD5_checksum
  FROM prevk
  UNION ALL
  SELECT {_SRA_ATTR_SQL},
         'bam', 'prev_' || CAST(k AS VARCHAR) || '.bam',
         md5('prev:' || CAST(k AS VARCHAR))
  FROM prevk),
unioned AS (
  SELECT sample_ID, library_ID, title, library_strategy, library_source,
         library_selection, library_layout, platform, instrument_model,
         design_description, phs_accession, study_name,
         filetype, filename, MD5_checksum, 1 AS pri
  FROM guarded
  UNION ALL
  SELECT sample_ID, library_ID, title, library_strategy, library_source,
         library_selection, library_layout, platform, instrument_model,
         design_description, phs_accession, study_name,
         filetype, filename, MD5_checksum, 0
  FROM prev_long),
kept AS (
  SELECT sample_ID, library_ID, title, library_strategy, library_source,
         library_selection, library_layout, platform, instrument_model,
         design_description, phs_accession, study_name,
         filetype, filename, MD5_checksum
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY library_ID, filename
          ORDER BY pri DESC, MD5_checksum) AS rn
        FROM unioned)
  WHERE rn = 1),
renamed AS (
  SELECT sample_ID, library_ID, title, library_strategy, library_source,
         library_selection, library_layout, platform, instrument_model,
         design_description, phs_accession, study_name, filetype,
         CASE WHEN COUNT(*) OVER (PARTITION BY filename) > 1
              THEN substr(MD5_checksum, 29, 4) || '_' || filename
              ELSE filename END AS filename,
         MD5_checksum
  FROM kept),
slotted AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY library_ID ORDER BY filename) AS slot
  FROM renamed)
SELECT library_ID,
       MAX(sample_ID) AS sample_ID, MAX(title) AS title,
       MAX(library_strategy) AS library_strategy,
       MAX(library_source) AS library_source,
       MAX(library_selection) AS library_selection,
       MAX(library_layout) AS library_layout,
       MAX(platform) AS platform,
       MAX(instrument_model) AS instrument_model,
       MAX(design_description) AS design_description,
       MAX(phs_accession) AS phs_accession,
       MAX(study_name) AS study_name,
       MAX(CASE WHEN slot = 1 THEN filetype END) AS "filetype.1",
       MAX(CASE WHEN slot = 1 THEN filename END) AS "filename.1",
       MAX(CASE WHEN slot = 1 THEN MD5_checksum END) AS "MD5_checksum.1",
       MAX(CASE WHEN slot = 2 THEN filetype END) AS "filetype.2",
       MAX(CASE WHEN slot = 2 THEN filename END) AS "filename.2",
       MAX(CASE WHEN slot = 2 THEN MD5_checksum END) AS "MD5_checksum.2",
       MAX(CASE WHEN slot = 3 THEN filetype END) AS "filetype.3",
       MAX(CASE WHEN slot = 3 THEN filename END) AS "filename.3",
       MAX(CASE WHEN slot = 3 THEN MD5_checksum END) AS "MD5_checksum.3",
       MAX(CASE WHEN slot = 4 THEN filetype END) AS "filetype.4",
       MAX(CASE WHEN slot = 4 THEN filename END) AS "filename.4",
       MAX(CASE WHEN slot = 4 THEN MD5_checksum END) AS "MD5_checksum.4"
FROM slotted GROUP BY library_ID"""


def _sra_seq_node(spark, sf_dir) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    seq0 = lineitem.select(
        F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("j")
    ).distinct()
    k, j = F.col("k"), F.col("j")
    ks, js = k.cast("string"), j.cast("string")
    filetype = (
        F.when(j == 3, "txt").when(j % 2 == 0, "bam").otherwise("fastq")
    )
    return seq0.select(
        F.concat(F.lit("S"), ks).alias("sample_ID"),
        F.when(
            (k % 50 == 0) & (j % 2 == 1),
            F.concat(F.lit("SHARED_"), (k % 7).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("L"), ks, F.lit("_"), (j % 2).cast("string"))
        )
        .alias("library_ID"),
        F.when(k % 33 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("T "), ks))
        .alias("title"),
        F.when(k % 3 == 0, "WGS")
        .when(k % 3 == 1, "WXS")
        .otherwise("RNA-Seq")
        .alias("library_strategy"),
        F.when(k % 2 == 0, "GENOMIC")
        .otherwise("TRANSCRIPTOMIC")
        .alias("library_source"),
        F.when(k % 3 == 0, "Random")
        .when(k % 3 == 1, "Hybrid Selection")
        .otherwise("PCR")
        .alias("sel_raw"),
        F.when(j % 2 == 1, "Paired end").otherwise("Single end").alias("layout_raw"),
        F.when(k % 4 == 0, "Illumina NovaSeq 6000")
        .when(k % 4 == 1, "Ion Torrent S5")
        .when(k % 4 == 2, "PacBio Sequel II")
        .otherwise("Oxford Nanopore PromethION")
        .alias("platform_raw"),
        F.concat(F.lit("model-"), (k % 5).cast("string")).alias("instrument_model"),
        F.concat(F.lit("dd "), ks).alias("dd_raw"),
        filetype.alias("filetype"),
        F.when((k % 25 == 0) & (j == 1), F.lit("common.fastq"))
        .otherwise(
            F.concat(F.lit("sq_"), ks, F.lit("_"), js, F.lit("."), filetype)
        )
        .alias("filename"),
        F.md5(F.encode(F.concat(ks, F.lit(":"), js), "UTF-8")).alias(
            "MD5_checksum"
        ),
        F.lit("phs000123").alias("phs_accession"),
        F.lit("Study CCDI Synthetic").alias("study_name"),
    )


def _sra_prev_wide(spark, sf_dir) -> DataFrame:
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    prevk = (
        lineitem.select(F.col("l_orderkey").alias("k"))
        .filter(F.col("k") % 10 == 3)
        .distinct()
    )
    k = F.col("k")
    ks = k.cast("string")
    return prevk.select(
        F.concat(F.lit("S"), ks).alias("sample_ID"),
        F.concat(F.lit("L"), ks, F.lit("_1")).alias("library_ID"),
        F.concat(F.lit("T "), ks).alias("title"),
        F.when(k % 3 == 0, "WGS")
        .when(k % 3 == 1, "WXS")
        .otherwise("RNA-Seq")
        .alias("library_strategy"),
        F.when(k % 2 == 0, "GENOMIC")
        .otherwise("TRANSCRIPTOMIC")
        .alias("library_source"),
        F.when(k % 3 == 0, "RANDOM")
        .when(k % 3 == 1, "Hybrid Selection")
        .otherwise("PCR")
        .alias("library_selection"),
        F.lit("paired").alias("library_layout"),
        F.when(k % 4 == 0, "ILLUMINA")
        .when(k % 4 == 1, "ION_TORRENT")
        .when(k % 4 == 2, "PACBIO_SMRT")
        .otherwise("OXFORD_NANOPORE")
        .alias("platform"),
        F.concat(F.lit("model-"), (k % 5).cast("string")).alias("instrument_model"),
        F.concat(
            F.rpad(F.concat(F.lit("dd "), ks), 250, " "), F.lit(".")
        ).alias("design_description"),
        F.lit("phs000123").alias("phs_accession"),
        F.lit("Study CCDI Synthetic").alias("study_name"),
        F.lit("fastq").alias("filetype.1"),
        F.concat(F.lit("sq_"), ks, F.lit("_1.fastq")).alias("filename.1"),
        F.md5(F.encode(F.concat(F.lit("old:"), ks), "UTF-8")).alias(
            "MD5_checksum.1"
        ),
        F.lit("bam").alias("filetype.2"),
        F.concat(F.lit("prev_"), ks, F.lit(".bam")).alias("filename.2"),
        F.md5(F.encode(F.concat(F.lit("prev:"), ks), "UTF-8")).alias(
            "MD5_checksum.2"
        ),
    )


# ---------------------------------------------------------------------------
# Composed CCDI→dbGaP SC/SSM/SA triple (src/s3_ccdi_to_dbgap.py:33-321,
# 444-497): SSM re-parent through pdx/cell_line indirection (the
# deep_search shape, via operators.joins.iterative_resolve), SC with
# F16 sex/consent encodings semi-filtered to subjects-with-samples,
# SA semi-filtered to mapped samples, then plain-dedup union with a
# previous submission.  One discriminated frame carries all three
# files so the oracle hash-checks the whole triple.
# ---------------------------------------------------------------------------

_DBGAP_ORACLE = f"""WITH {_CDS_NODE_CTES},
ssm0 AS (
  SELECT DISTINCT SUBJECT_ID, SAMPLE_ID FROM (
    SELECT participant_id AS SUBJECT_ID, sample_id AS SAMPLE_ID
    FROM sample WHERE participant_id IS NOT NULL
    UNION ALL
    SELECT sb.participant_id, s.sample_id
    FROM sample s
    JOIN pdx x ON s.pdx_id = x.pdx_id
    JOIN sample sb ON x.sample_id = sb.sample_id
    WHERE sb.participant_id IS NOT NULL
    UNION ALL
    SELECT sb.participant_id, s.sample_id
    FROM sample s
    JOIN cell_line c ON s.cell_line_id = c.cell_line_id
    JOIN sample sb ON c.sample_id = sb.sample_id
    WHERE sb.participant_id IS NOT NULL)
  WHERE SUBJECT_ID IS NOT NULL AND SAMPLE_ID IS NOT NULL),
sc0 AS (
  SELECT DISTINCT 'P' || CAST(c_custkey AS VARCHAR) AS SUBJECT_ID,
         CASE c_custkey % 3 WHEN 0 THEN '1' WHEN 1 THEN '2'
              ELSE '3' END AS CONSENT,
         CASE WHEN (CASE WHEN c_custkey % 17 = 0 THEN 'Intersex'
                         WHEN c_custkey % 2 = 0 THEN 'Female'
                         ELSE 'Male' END) LIKE '%Female%' THEN '2'
              WHEN (CASE WHEN c_custkey % 17 = 0 THEN 'Intersex'
                         WHEN c_custkey % 2 = 0 THEN 'Female'
                         ELSE 'Male' END) LIKE '%Male%' THEN '1'
              ELSE 'UNK' END AS SEX
  FROM customer),
sc AS (
  SELECT * FROM sc0 WHERE SUBJECT_ID IN (SELECT SUBJECT_ID FROM ssm0)),
sa0 AS (
  SELECT DISTINCT sample_id AS SAMPLE_ID,
         CASE WHEN anatomic_site LIKE 'b%' THEN 'Normal'
              ELSE 'Tumor' END AS SAMPLE_TUMOR_STATUS
  FROM sample WHERE sample_id IS NOT NULL),
sa AS (
  SELECT * FROM sa0 WHERE SAMPLE_ID IN (SELECT SAMPLE_ID FROM ssm0)),
prevc AS (
  SELECT DISTINCT c_custkey AS cust FROM customer WHERE c_custkey % 13 = 0),
sc_all AS (
  SELECT DISTINCT * FROM (
    SELECT 'P' || CAST(cust AS VARCHAR) AS SUBJECT_ID, '9' AS CONSENT,
           'UNK' AS SEX FROM prevc
    UNION ALL SELECT * FROM sc)),
ssm_all AS (
  SELECT DISTINCT * FROM (
    SELECT 'P' || CAST(cust AS VARCHAR) AS SUBJECT_ID,
           'OLD_S' || CAST(cust AS VARCHAR) AS SAMPLE_ID FROM prevc
    UNION ALL SELECT * FROM ssm0)),
sa_all AS (
  SELECT DISTINCT * FROM (
    SELECT 'OLD_S' || CAST(cust AS VARCHAR) AS SAMPLE_ID,
           'Tumor' AS SAMPLE_TUMOR_STATUS FROM prevc
    UNION ALL SELECT * FROM sa))
SELECT 'SC' AS record_type, SUBJECT_ID, CAST(NULL AS VARCHAR) AS SAMPLE_ID,
       CONSENT, SEX, CAST(NULL AS VARCHAR) AS SAMPLE_TUMOR_STATUS
FROM sc_all
UNION ALL
SELECT 'SSM', SUBJECT_ID, SAMPLE_ID, NULL, NULL, NULL FROM ssm_all
UNION ALL
SELECT 'SA', NULL, SAMPLE_ID, NULL, NULL, SAMPLE_TUMOR_STATUS FROM sa_all"""


@register(
    "ccdi_to_dbgap",
    _DBGAP_ORACLE,
    "composed CCDI→dbGaP SC/SSM/SA triple (src/s3_ccdi_to_dbgap.py:33-321): "
    "SSM pdx/cell_line re-parent via iterative_resolve, F16 encodings, "
    "semi-filters, previous-submission plain-dedup union",
)
def ccdi_to_dbgap(spark, sf_dir):
    from .operators.joins import iterative_resolve, semi_join

    g = _cds_graph(spark, sf_dir)
    # sample feeds direct links, the resolve frontier, the resolve
    # terminal map AND the SA projection — one materialization, four
    # consumers.
    sample = g["sample"].localCheckpoint()
    pdx, cell_line = g["pdx"], g["cell_line"]
    (customer,) = _t(spark, sf_dir, "customer")

    # --- SSM: direct participant links + pdx/cell_line trace-back ---
    with_parent = sample.filter(F.col("participant_id").isNotNull())
    direct = with_parent.select(
        F.col("participant_id").alias("SUBJECT_ID"),
        F.col("sample_id").alias("SAMPLE_ID"),
    )
    frontier = (
        sample.filter(F.col("participant_id").isNull())
        .select(
            F.col("sample_id").alias("SAMPLE_ID"),
            F.coalesce(F.col("pdx_id"), F.col("cell_line_id")).alias("__cursor__"),
        )
        .filter(F.col("__cursor__").isNotNull())
    )
    resolved = iterative_resolve(
        frontier,
        parent_maps=[
            (pdx, "pdx_id", "sample_id"),
            (cell_line, "cell_line_id", "sample_id"),
        ],
        terminal_map=(with_parent, "sample_id", "participant_id"),
        target_col="SUBJECT_ID",
    ).select("SUBJECT_ID", "SAMPLE_ID")
    # ssm feeds the SC semi-join, the SA semi-join AND the SSM output —
    # without materialization each reference re-runs iterative_resolve
    # (the whole pdx/cell_line trace-back, 44 scans in the r6 plan
    # audit).  Hashes unchanged.
    ssm = (
        direct.unionByName(resolved)
        .filter(F.col("SUBJECT_ID").isNotNull() & F.col("SAMPLE_ID").isNotNull())
        .distinct()
        .localCheckpoint()
    )

    # --- SC: F16 encodings, keep only subjects that have samples ---
    cust = F.col("c_custkey")
    sex_raw = (
        F.when(cust % 17 == 0, "Intersex")
        .when(cust % 2 == 0, "Female")
        .otherwise("Male")
    )
    sc0 = customer.select(
        F.concat(F.lit("P"), cust.cast("string")).alias("SUBJECT_ID"),
        F.when(cust % 3 == 0, "1")
        .when(cust % 3 == 1, "2")
        .otherwise("3")
        .alias("CONSENT"),
        F.when(sex_raw.contains("Female"), "2")
        .when(sex_raw.contains("Male"), "1")
        .otherwise("UNK")
        .alias("SEX"),
    ).distinct()
    sc = semi_join(sc0, ssm.select("SUBJECT_ID"), ["SUBJECT_ID"])

    # --- SA: tumor status, keep only mapped samples ---
    sa0 = (
        sample.filter(F.col("sample_id").isNotNull())
        .select(
            F.col("sample_id").alias("SAMPLE_ID"),
            F.when(F.col("anatomic_site").startswith("b"), "Normal")
            .otherwise("Tumor")
            .alias("SAMPLE_TUMOR_STATUS"),
        )
        .distinct()
    )
    sa = semi_join(sa0, ssm.select("SAMPLE_ID"), ["SAMPLE_ID"])

    # --- previous submission: plain-dedup concat (no keep-last) ---
    prevc = customer.filter(cust % 13 == 0).select(
        cust.alias("cust")
    ).distinct()
    pc = F.col("cust").cast("string")
    prev_sc = prevc.select(
        F.concat(F.lit("P"), pc).alias("SUBJECT_ID"),
        F.lit("9").alias("CONSENT"),
        F.lit("UNK").alias("SEX"),
    )
    prev_ssm = prevc.select(
        F.concat(F.lit("P"), pc).alias("SUBJECT_ID"),
        F.concat(F.lit("OLD_S"), pc).alias("SAMPLE_ID"),
    )
    prev_sa = prevc.select(
        F.concat(F.lit("OLD_S"), pc).alias("SAMPLE_ID"),
        F.lit("Tumor").alias("SAMPLE_TUMOR_STATUS"),
    )
    sc_all = prev_sc.unionByName(sc).distinct()
    ssm_all = prev_ssm.unionByName(ssm).distinct()
    sa_all = prev_sa.unionByName(sa).distinct()

    null_s = F.lit(None).cast("string")
    return (
        sc_all.select(
            F.lit("SC").alias("record_type"),
            "SUBJECT_ID",
            null_s.alias("SAMPLE_ID"),
            "CONSENT",
            "SEX",
            null_s.alias("SAMPLE_TUMOR_STATUS"),
        )
        .unionByName(
            ssm_all.select(
                F.lit("SSM").alias("record_type"),
                "SUBJECT_ID",
                "SAMPLE_ID",
                null_s.alias("CONSENT"),
                null_s.alias("SEX"),
                null_s.alias("SAMPLE_TUMOR_STATUS"),
            )
        )
        .unionByName(
            sa_all.select(
                F.lit("SA").alias("record_type"),
                null_s.alias("SUBJECT_ID"),
                "SAMPLE_ID",
                null_s.alias("CONSENT"),
                null_s.alias("SEX"),
                "SAMPLE_TUMOR_STATUS",
            )
        )
    )


@register(
    "ccdi_to_sra",
    _SRA_ORACLE,
    "composed CCDI→SRA submission plan (src/s3_ccdi_to_sra.py:1338-1585): "
    "dedup → F6/F14 reformat → filetype filter → verification → A10 guard "
    "→ W3+U2 previous-submission merge → F18 → W2 spread",
)
def ccdi_to_sra_query(spark, sf_dir):
    from .plans.sra import ccdi_to_sra

    return ccdi_to_sra(
        _sra_seq_node(spark, sf_dir),
        _sra_prev_wide(spark, sf_dir),
        attr_cols=_SRA_ATTR_COLS,
        max_files_per_library=4,
    )


# ---------------------------------------------------------------------------
# Composed CCDI→DCF index manifest (src/utils.py:1501-1567): per-sheet
# column extraction + missing-guid mint per (md5sum, file_url) group,
# cross-sheet union/dedup, final guid/md5/size/acl/authz/urls/
# phs_accession projection.  The mint is the engine's deterministic
# md5-based variant (the reference's uuid4 cannot be oracle-checked),
# reproduced verbatim in the DuckDB oracle below.
# ---------------------------------------------------------------------------

_DCF_GUID_SQL = (
    "substr(h,1,8) || '-' || substr(h,9,4) || '-3' || substr(h,14,3) || '-' || "
    "translate(substr(h,17,1), '0123456789abcdef', '89ab89ab89ab89ab') || "
    "substr(h,18,3) || '-' || substr(h,21,12)"
)

_DCF_ORACLE = f"""WITH f AS (
  SELECT md5(CAST(l_orderkey AS VARCHAR) || '-'
             || CAST(l_linenumber AS VARCHAR)) AS md5sum,
         's3://cds/' || CAST(l_orderkey AS VARCHAR) || '/f_'
           || CAST(l_orderkey AS VARCHAR) || '_'
           || CAST(l_linenumber AS VARCHAR) || '.bam' AS file_url,
         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS file_size,
         '["phs' || CAST(l_orderkey % 4 AS VARCHAR) || '"]' AS acl,
         '["/programs/phs' || CAST(l_orderkey % 4 AS VARCHAR) || '"]' AS authz,
         CASE WHEN l_orderkey % 3 = 0 AND l_quantity < 25
              THEN 'dg.4DFC/pre-' || md5(CAST(l_orderkey AS VARCHAR) || '-'
                                         || CAST(l_linenumber AS VARCHAR))
         END AS dcf_indexd_guid,
         l_linenumber AS j
  FROM lineitem),
seq AS (SELECT * FROM f WHERE j <= 4),
cl AS (SELECT * FROM f WHERE j > 4),
seq_g AS (
  SELECT md5sum, file_url, max(dcf_indexd_guid) AS ex
  FROM seq GROUP BY md5sum, file_url),
seq_m AS (
  SELECT md5sum, file_url,
         coalesce(ex, 'dg.4DFC/' || {_DCF_GUID_SQL}) AS guid
  FROM (SELECT md5sum, file_url, ex,
               md5('ccdi-dcf::' || file_url || '|' || md5sum) AS h
        FROM seq_g)),
cl_g AS (
  SELECT md5sum, file_url, max(dcf_indexd_guid) AS ex
  FROM cl GROUP BY md5sum, file_url),
cl_m AS (
  SELECT md5sum, file_url,
         coalesce(ex, 'dg.4DFC/' || {_DCF_GUID_SQL}) AS guid
  FROM (SELECT md5sum, file_url, ex,
               md5('ccdi-dcf::' || file_url || '|' || md5sum) AS h
        FROM cl_g)),
combined AS (
  SELECT DISTINCT s.acl, s.authz, m.guid, s.md5sum, s.file_url, s.file_size
  FROM seq s JOIN seq_m m USING (md5sum, file_url)
  UNION
  SELECT DISTINCT c.acl, c.authz, m.guid, c.md5sum, c.file_url, c.file_size
  FROM cl c JOIN cl_m m USING (md5sum, file_url))
SELECT guid, md5sum AS md5, file_size AS size, acl, authz,
       file_url AS urls, 'phs-CDS' AS phs_accession
FROM combined"""


def _dcf_sheets(spark, sf_dir) -> list[DataFrame]:
    """Two synthetic file-node sheets over lineitem, with partially
    pre-populated guids (one group can mix guid-carrying and guid-less
    rows, exercising the propagate-existing invariant)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    k, j, q = F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_quantity")
    ks, js = k.cast("string"), j.cast("string")
    fname = F.concat(F.lit("f_"), ks, F.lit("_"), js, F.lit(".bam"))
    md5sum = F.md5(F.encode(F.concat(ks, F.lit("-"), js), "UTF-8"))
    phs = (k % 4).cast("string")
    base = lineitem.select(
        md5sum.alias("md5sum"),
        F.concat(F.lit("s3://cds/"), ks, F.lit("/"), fname).alias("file_url"),
        ((k % 1000) * 100 + j).cast("long").alias("file_size"),
        F.concat(F.lit('["phs'), phs, F.lit('"]')).alias("acl"),
        F.concat(F.lit('["/programs/phs'), phs, F.lit('"]')).alias("authz"),
        F.when(
            (k % 3 == 0) & (q < 25), F.concat(F.lit("dg.4DFC/pre-"), md5sum)
        ).alias("dcf_indexd_guid"),
        j.alias("__j__"),
    )
    return [
        base.filter(F.col("__j__") <= 4).drop("__j__"),
        base.filter(F.col("__j__") > 4).drop("__j__"),
    ]


@register(
    "ccdi_to_dcf_index",
    _DCF_ORACLE,
    "composed CCDI→DCF index manifest (src/utils.py:1501-1567): per-sheet "
    "F15 guid mint per (md5sum, file_url) + F10 acl/authz passthrough + "
    "cross-sheet dedup + index-column projection",
)
def ccdi_to_dcf_index_query(spark, sf_dir):
    from .plans.dcf import ccdi_to_dcf_index

    return ccdi_to_dcf_index(_dcf_sheets(spark, sf_dir), phs_accession="phs-CDS")


# ---------------------------------------------------------------------------
# COG clinical-rules battery (src/cog_rules_functions.py): the
# metadata-driven transformer applied over a synthetic COG export
# derived from customer.  Five rule derivations — liftover+prefix,
# race/ethnicity cascade, difference, two-input tumor-grade mapping
# union with required default, diagnosis-basis title/contains/mapping —
# each compiled to one Column (plans/cog.py), reproduced in SQL below.
# ---------------------------------------------------------------------------

_COG_ORACLE = """WITH src AS (
  SELECT CAST(c_custkey AS VARCHAR) AS pid,
         CASE c_custkey % 5 WHEN 0 THEN 'White'
                            WHEN 1 THEN 'Black or African American'
                            WHEN 2 THEN 'Asian'
                            WHEN 3 THEN 'Unknown'
                            ELSE 'Not Reported' END AS race,
         CASE c_custkey % 3 WHEN 0 THEN 'Hispanic or Latino'
                            WHEN 1 THEN 'Not Hispanic or Latino'
                            ELSE 'Unknown' END AS eth,
         CAST(c_custkey % 50 + 10 AS VARCHAR) AS enroll_age,
         CAST(c_custkey % 50 + 10 + c_custkey % 20 AS VARCHAR) AS event_age,
         CASE c_custkey % 6 WHEN 0 THEN 'I' WHEN 1 THEN 'II'
                            WHEN 2 THEN 'III' WHEN 3 THEN 'IV'
                            WHEN 4 THEN 'Unknown' END AS grade_1,
         CASE WHEN c_custkey % 7 = 0 THEN 'Grade II' END AS grade_2,
         CASE c_custkey % 4 WHEN 0 THEN 'needle biopsy'
                            WHEN 1 THEN 'histology'
                            WHEN 2 THEN 'imaging'
                            ELSE 'other' END AS basis
  FROM customer),
staged AS (
  SELECT pid, race, enroll_age, event_age, grade_1, grade_2, basis,
         CASE WHEN eth IN ('Not Hispanic or Latino', 'Unknown',
                           'Not Reported') THEN '' ELSE eth END AS b1,
         CASE grade_1 WHEN 'I' THEN 'G1 Low Grade'
                      WHEN 'II' THEN 'G2 Intermediate Grade'
                      WHEN 'III' THEN 'G3 High Grade'
                      WHEN 'IV' THEN 'G4 Anaplastic'
                      WHEN 'Unknown' THEN 'Unknown' END AS m1,
         CASE WHEN grade_2 = 'Grade II'
              THEN 'G2 Intermediate Grade' END AS m2
  FROM src),
staged2 AS (
  SELECT *, CASE WHEN b1 <> '' AND race IN ('Unknown', 'Not Reported')
                 THEN '' ELSE race END AS a1
  FROM staged)
SELECT 'COG_' || pid AS PARTICIPANT_ID,
       CASE WHEN a1 = '' AND b1 = '' THEN 'Not Reported'
            WHEN b1 <> '' AND a1 <> '' THEN a1 || ';' || b1
            WHEN b1 <> '' THEN b1
            ELSE a1 END AS RACE_ETHNICITY,
       CAST(CAST(event_age AS INTEGER) - CAST(enroll_age AS INTEGER)
            AS VARCHAR) AS AGE_AT_EVENT,
       coalesce(
         CASE WHEN m1 IS NULL AND m2 IS NULL THEN NULL
              WHEN m1 IS NULL THEN m2
              WHEN m2 IS NULL OR m1 = m2 THEN m1
              ELSE m1 || ';' || m2 END,
         'Not Reported') AS TUMOR_GRADE,
       CASE basis WHEN 'needle biopsy' THEN 'Pathology'
                  WHEN 'histology' THEN 'Pathology'
                  WHEN 'imaging' THEN 'Pathology'
                  ELSE 'Not Reported' END AS DX_BASIS
FROM staged2"""


@register(
    "cog_transform_battery",
    _COG_ORACLE,
    "COG clinical-rules battery (src/cog_rules_functions.py): five "
    "metadata-driven rule derivations compiled to Columns via plans/cog.py "
    "— liftover+prefix, race/ethnicity cascade, difference, tumor-grade "
    "mapping union + required default, diagnosis-basis title/contains map",
)
def cog_transform_battery(spark, sf_dir):
    from .plans.cog import CogRule, cog_transform

    (customer,) = _t(spark, sf_dir, "customer")
    cust = F.col("c_custkey")
    src = customer.select(
        cust.cast("string").alias("pid"),
        F.when(cust % 5 == 0, "White")
        .when(cust % 5 == 1, "Black or African American")
        .when(cust % 5 == 2, "Asian")
        .when(cust % 5 == 3, "Unknown")
        .otherwise("Not Reported")
        .alias("race"),
        F.when(cust % 3 == 0, "Hispanic or Latino")
        .when(cust % 3 == 1, "Not Hispanic or Latino")
        .otherwise("Unknown")
        .alias("eth"),
        (cust % 50 + 10).cast("string").alias("enroll_age"),
        (cust % 50 + 10 + cust % 20).cast("string").alias("event_age"),
        F.when(cust % 6 == 0, "I")
        .when(cust % 6 == 1, "II")
        .when(cust % 6 == 2, "III")
        .when(cust % 6 == 3, "IV")
        .when(cust % 6 == 4, "Unknown")
        .alias("grade_1"),
        F.when(cust % 7 == 0, "Grade II").alias("grade_2"),
        F.when(cust % 4 == 0, "needle biopsy")
        .when(cust % 4 == 1, "histology")
        .when(cust % 4 == 2, "imaging")
        .otherwise("other")
        .alias("basis"),
    )
    rules = [
        CogRule("participant", "PARTICIPANT_ID", "liftover", ["pid"],
                core=True, modifiers=[("prefix", "COG")]),
        CogRule("participant", "RACE_ETHNICITY", "race_ethnicity",
                ["race", "eth"]),
        CogRule("participant", "AGE_AT_EVENT", "difference",
                ["enroll_age", "event_age"]),
        CogRule("participant", "TUMOR_GRADE", "mapping_union",
                ["grade_1", "grade_2"],
                mapping={
                    "I": "G1 Low Grade",
                    "II": "G2 Intermediate Grade",
                    "III": "G3 High Grade",
                    "IV": "G4 Anaplastic",
                    "Grade I": "G1 Low Grade",
                    "Grade II": "G2 Intermediate Grade",
                    "Grade III": "G3 High Grade",
                    "Grade IV": "G4 Anaplastic",
                },
                required_default="Not Reported"),
        CogRule("participant", "DX_BASIS", "mapping_union", ["basis"],
                title_case=True,
                contains_replace=(("iopsy", "Pathology"),),
                mapping={
                    "Histology": "Pathology",
                    "Imaging": "Pathology",
                    "Other": "Not Reported",
                    "Tumor Marker": "Molecular",
                }),
    ]
    return cog_transform(src, rules)["participant"]


# ---------------------------------------------------------------------------
# Generic MDF-driven liftover (src/liftover_generic.py:205-363): full
# lift-to schema projection (unmapped props null), all-null-row drop,
# per-prop default fill — over a synthetic source node from customer.
# ---------------------------------------------------------------------------

_LIFT_GENERIC_ORACLE = """WITH src AS (
  SELECT CASE WHEN c_custkey % 10 <> 7
              THEN 'P' || CAST(c_custkey AS VARCHAR) END AS sid,
         CASE WHEN c_custkey % 10 <> 7 AND c_custkey % 4 <> 0
              THEN 'site-' || CAST(c_custkey % 4 AS VARCHAR) END AS site,
         CASE WHEN c_custkey % 10 <> 7 AND c_custkey % 5 = 0
              THEN 'Dead' END AS vital
  FROM customer)
SELECT 'sample' AS type,
       sid AS sample_id,
       site AS anatomic_site,
       coalesce(vital, 'Unknown') AS vital_status,
       'Not Reported' AS tumor_status
FROM src
WHERE sid IS NOT NULL OR site IS NOT NULL OR vital IS NOT NULL"""


@register(
    "liftover_generic_node",
    _LIFT_GENERIC_ORACLE,
    "generic MDF-driven liftover (src/liftover_generic.py:205-363): "
    "full target-schema projection + all-null-row drop + default fill",
)
def liftover_generic_node(spark, sf_dir):
    from .plans.liftover import MappingRow, lift_node_generic

    (customer,) = _t(spark, sf_dir, "customer")
    cust = F.col("c_custkey")
    live = cust % 10 != 7
    src = customer.select(
        F.when(live, F.concat(F.lit("P"), cust.cast("string"))).alias("sid"),
        F.when(
            live & (cust % 4 != 0),
            F.concat(F.lit("site-"), (cust % 4).cast("string")),
        ).alias("site"),
        F.when(live & (cust % 5 == 0), "Dead").alias("vital"),
    )
    mapping = [
        MappingRow("subject", "sid", "sample", "sample_id"),
        MappingRow("subject", "site", "sample", "anatomic_site"),
        MappingRow("subject", "vital", "sample", "vital_status"),
    ]
    return lift_node_generic(
        {"subject": src},
        mapping,
        "sample",
        ["sample_id", "anatomic_site", "vital_status", "tumor_status"],
        defaults={"vital_status": "Unknown", "tumor_status": "Not Reported"},
    )


# ---------------------------------------------------------------------------
# Cascade entry removal (workflows/entry_remover.py:142-260): BFS
# transitive closure of a removal list over the child-link graph —
# each hop one distributed join, oracle-checked with a recursive CTE.
# Graph: customer → orders → lineitem with prefixed string ids.
# ---------------------------------------------------------------------------

_CASCADE_ORACLE = """WITH RECURSIVE
seeds AS (
  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS entry_id, 'customer' AS node
  FROM customer WHERE c_acctbal < 0),
edges AS (
  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS parent,
         'O' || CAST(o_orderkey AS VARCHAR) AS child,
         'orders' AS node
  FROM orders
  UNION ALL
  SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS parent,
         'L' || CAST(l_orderkey AS VARCHAR) || '-'
             || CAST(l_linenumber AS VARCHAR) AS child,
         'lineitem' AS node
  FROM lineitem),
closure AS (
  SELECT entry_id, node FROM seeds
  UNION
  SELECT e.child, e.node FROM edges e JOIN closure c ON e.parent = c.entry_id)
SELECT entry_id, node FROM closure"""


@register(
    "cascade_remove",
    _CASCADE_ORACLE,
    "cascade entry removal (workflows/entry_remover.py:142-260): "
    "frontier-BFS transitive closure of the removal list over "
    "child-link edges; recursive-CTE oracle",
)
def cascade_remove_query(spark, sf_dir):
    from .operators.graph import cascade_remove

    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    ck = F.col("c_custkey").cast("string")
    ok = F.col("o_orderkey").cast("string")
    lk = F.col("l_orderkey").cast("string")
    cust = customer.select(
        F.concat(F.lit("C"), ck).alias("customer_id"), "c_acctbal"
    )
    ords = orders.select(
        F.concat(F.lit("O"), ok).alias("orders_id"),
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
            "customer.customer_id"
        ),
    )
    line = lineitem.select(
        F.concat(
            F.lit("L"), lk, F.lit("-"), F.col("l_linenumber").cast("string")
        ).alias("lineitem_id"),
        F.concat(F.lit("O"), lk).alias("orders.orders_id"),
    )
    seeds = cust.filter(F.col("c_acctbal") < 0).select(
        F.col("customer_id").alias("entry_id")
    )
    closure, _kept = cascade_remove(
        {"customer": cust, "orders": ords, "lineitem": line},
        seeds,
        id_cols={
            "customer": "customer_id",
            "orders": "orders_id",
            "lineitem": "lineitem_id",
        },
        link_cols={
            "orders": ["customer.customer_id"],
            "lineitem": ["orders.orders_id"],
        },
    )
    return closure.select("entry_id", "node")


# ---------------------------------------------------------------------------
# GUID checker (workflows/guid_checker.py:46-233): fill missing
# dcf_indexd_guid from a staged index extract by (md5, size) +
# url basename/dirname match; existing guids are kept verbatim.
# ---------------------------------------------------------------------------

_GUID_FILL_ORACLE = """WITH f AS (
  SELECT md5(CAST(l_orderkey AS VARCHAR) || '-'
             || CAST(l_linenumber AS VARCHAR)) AS md5sum,
         's3://cds/' || CAST(l_orderkey AS VARCHAR) || '/f_'
           || CAST(l_orderkey AS VARCHAR) || '_'
           || CAST(l_linenumber AS VARCHAR) || '.bam' AS file_url,
         'f_' || CAST(l_orderkey AS VARCHAR) || '_'
           || CAST(l_linenumber AS VARCHAR) || '.bam' AS fname,
         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS file_size,
         CASE WHEN l_orderkey % 3 = 0 AND l_quantity < 25
              THEN 'dg.4DFC/pre-' || md5(CAST(l_orderkey AS VARCHAR) || '-'
                                          || CAST(l_linenumber AS VARCHAR))
         END AS guid0,
         l_orderkey AS k,
         ROW_NUMBER() OVER () AS rid
  FROM lineitem),
idx AS (
  SELECT 'dg.4DFC/idx-' || md5sum AS did, md5sum AS hash, file_size AS size,
         CASE WHEN k % 5 = 0
              THEN ['s3://mirror/' || CAST(k AS VARCHAR) || '/' || fname]
              ELSE [file_url, 's3://mirror/' || CAST(k AS VARCHAR) || '/' || fname]
         END AS urls
  FROM f WHERE k % 2 = 0),
ex AS (SELECT did, hash, size, unnest(urls) AS u FROM idx),
m AS (
  -- group by the per-row id too: duplicate manifest rows each emit a
  -- row, matching the engine's row-preserving fill
  SELECT f.rid, f.md5sum, f.file_url, f.file_size, f.guid0,
         max(e.did) AS did
  FROM f LEFT JOIN ex e
    ON f.md5sum = e.hash AND f.file_size = e.size
   AND regexp_extract(e.u, '[^/]*$') = regexp_extract(f.file_url, '[^/]*$')
   AND regexp_replace(e.u, '/[^/]*$', '') = regexp_replace(f.file_url, '/[^/]*$', '')
  GROUP BY 1, 2, 3, 4, 5)
SELECT file_url, md5sum, file_size,
       coalesce(CASE WHEN trim(guid0) = '' THEN NULL ELSE guid0 END, did, '')
         AS dcf_indexd_guid
FROM m"""


@register(
    "guid_fill_reconcile",
    _GUID_FILL_ORACLE,
    "GUID checker (workflows/guid_checker.py:46-233): keep existing "
    "guids, fill the rest from an index extract via (md5, size) + url "
    "basename/dirname match, '' when unmatched",
)
def guid_fill_reconcile(spark, sf_dir):
    from .plans.dcf import guid_fill_from_index

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    k, j, q = F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_quantity")
    ks, js = k.cast("string"), j.cast("string")
    fname = F.concat(F.lit("f_"), ks, F.lit("_"), js, F.lit(".bam"))
    md5sum = F.md5(F.encode(F.concat(ks, F.lit("-"), js), "UTF-8"))
    file_url = F.concat(F.lit("s3://cds/"), ks, F.lit("/"), fname)
    base = lineitem.select(
        md5sum.alias("md5sum"),
        file_url.alias("file_url"),
        fname.alias("fname"),
        ((k % 1000) * 100 + j).cast("long").alias("file_size"),
        F.when(
            (k % 3 == 0) & (q < 25), F.concat(F.lit("dg.4DFC/pre-"), md5sum)
        ).alias("dcf_indexd_guid"),
        k.alias("__k__"),
    )
    manifest = base.select("md5sum", "file_url", "file_size", "dcf_indexd_guid")
    mirror = F.concat(
        F.lit("s3://mirror/"), F.col("__k__").cast("string"), F.lit("/"),
        F.col("fname"),
    )
    index_records = base.filter(F.col("__k__") % 2 == 0).select(
        F.concat(F.lit("dg.4DFC/idx-"), F.col("md5sum")).alias("did"),
        F.col("md5sum").alias("hash"),
        F.col("file_size").alias("size"),
        F.when(F.col("__k__") % 5 == 0, F.array(mirror))
        .otherwise(F.array(F.col("file_url"), mirror))
        .alias("urls"),
    )
    out = guid_fill_from_index(manifest, index_records)
    return out.select("file_url", "md5sum", "file_size", "dcf_indexd_guid")


# ---------------------------------------------------------------------------
# DB stats wide report (workflows/db_stats.py:122-312): independent
# per-study count pulls stacked long, pivoted wide over a fixed column
# list, zero-filled, left-joined onto the full study dimension.
# ---------------------------------------------------------------------------

_DB_STATS_ORACLE = """WITH c AS (
  SELECT c_nationkey AS study_id, COUNT(*) AS n FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS study_id, COUNT(*) AS n FROM supplier GROUP BY 1),
o AS (
  SELECT c_nationkey AS study_id, COUNT(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
SELECT n_nationkey AS study_id, n_name AS study_name,
       coalesce(c.n, 0) AS customer_node_count,
       coalesce(s.n, 0) AS supplier_node_count,
       coalesce(o.n, 0) AS study_level_file_count
FROM nation
LEFT JOIN c ON c.study_id = n_nationkey
LEFT JOIN s ON s.study_id = n_nationkey
LEFT JOIN o ON o.study_id = n_nationkey"""


@register(
    "db_stats_wide",
    _DB_STATS_ORACLE,
    "DB stats wide report (workflows/db_stats.py:122-312): stacked "
    "per-study counts pivoted wide over a fixed column list, "
    "zero-filled onto the study dimension",
)
def db_stats_wide_query(spark, sf_dir):
    from .plans.db_stats import db_stats_wide

    customer, supplier, orders, nation = _t(
        spark, sf_dir, "customer", "supplier", "orders", "nation"
    )
    cust_n = customer.groupBy(F.col("c_nationkey").alias("study_id")).agg(
        F.count("*").alias("n")
    )
    supp_n = supplier.groupBy(F.col("s_nationkey").alias("study_id")).agg(
        F.count("*").alias("n")
    )
    # orders carries no nation key — route through the (custkey →
    # nationkey) map; the map is customer-scale, so no forced hint:
    # size-based selection broadcasts it at bench scale and demotes to
    # a shuffle join once customer outgrows an executor (100 TB)
    ord_n = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("study_id"))
        .agg(F.count("*").alias("n"))
    )
    studies = nation.select(
        F.col("n_nationkey").alias("study_id"), F.col("n_name").alias("study_name")
    )
    return db_stats_wide(
        studies,
        {
            "customer_node_count": cust_n,
            "supplier_node_count": supp_n,
            "study_level_file_count": ord_n,
        },
        column_order=[
            "customer_node_count",
            "supplier_node_count",
            "study_level_file_count",
        ],
    )


# ---------------------------------------------------------------------------
# Model mapping maker (workflows/model_mapping_maker.py:90-275): two
# model-version prop inventories → name-equi outer-join skeleton →
# curated-mapping reconcile (provided wins, net-new appended) →
# ;-node expansion → DELETION/ADDITION/CHANGED comparison.
# ---------------------------------------------------------------------------

_MODEL_DIFF_ORACLE = """WITH vf AS (
  SELECT DISTINCT p_brand AS fn, lower(p_type) AS fp
  FROM part WHERE p_size <= 30),
vt AS (
  SELECT DISTINCT p_brand AS tn,
         CASE WHEN lower(p_type) LIKE 's%' THEN lower(p_type) || '_v2'
              ELSE lower(p_type) END AS tp
  FROM part WHERE p_size >= 15),
built AS (
  SELECT vf.fn, vf.fp, vt.tn, vt.tp
  FROM vf FULL OUTER JOIN vt ON vf.fn = vt.tn AND vf.fp = vt.tp),
provided AS (
  SELECT fn, fp, fn AS tn, fp || '_v2' AS tp FROM vf WHERE fp LIKE 's%'
  UNION ALL
  SELECT fn, fp, fn || ';archive' AS tn, fp AS tp FROM vf WHERE fp LIKE 'e%'),
reconciled AS (
  SELECT * FROM provided
  UNION ALL
  SELECT * FROM built b WHERE NOT EXISTS (
    SELECT 1 FROM provided p WHERE p.fn = b.fn AND p.fp = b.fp)),
expanded AS (
  SELECT fn, fp, tn, tp FROM reconciled
  WHERE tn IS NULL OR tn IN ('NA', 'none', '')
  UNION ALL
  SELECT r.fn, r.fp, trim(t.u) AS tn, r.tp
  FROM reconciled r, UNNEST(string_split(r.tn, ';')) AS t(u)
  WHERE NOT (r.tn IS NULL OR r.tn IN ('NA', 'none', ''))),
comparison AS (
  SELECT DISTINCT
    CASE WHEN (coalesce(tn, '') = '' OR coalesce(tp, '') = '')
              AND NOT (coalesce(fn, '') = '' OR coalesce(fp, '') = '')
         THEN 'DELETION'
         WHEN (coalesce(fn, '') = '' OR coalesce(fp, '') = '')
              AND NOT (coalesce(tn, '') = '' OR coalesce(tp, '') = '')
         THEN 'ADDITION'
         WHEN coalesce(fn, '') <> coalesce(tn, '')
              OR coalesce(fp, '') <> coalesce(tp, '')
         THEN 'CHANGED'
         ELSE 'SAME' END AS state,
    coalesce(fn, '') AS lift_from_node,
    coalesce(fp, '') AS lift_from_property,
    'v1' AS lift_from_version,
    coalesce(tn, '') AS lift_to_node,
    coalesce(tp, '') AS lift_to_property,
    'v2' AS lift_to_version
  FROM expanded)
SELECT * FROM comparison WHERE state <> 'SAME'"""


@register(
    "model_mapping_diff",
    _MODEL_DIFF_ORACLE,
    "model mapping maker (workflows/model_mapping_maker.py:90-275): "
    "outer-join skeleton + curated reconcile + ;-node expansion + "
    "state-classified comparison",
)
def model_mapping_diff_query(spark, sf_dir):
    from .plans.model_diff import model_mapping_diff

    (part,) = _t(spark, sf_dir, "part")
    prop = F.lower(F.col("p_type"))
    # vf feeds the two provided-mapping derivations AND the diff's
    # joins; vt the diff's joins — checkpoint so the part scan +
    # distinct run once per side (12 scans in the r6 plan audit
    # without).  Hashes unchanged.
    vf = (
        part.filter(F.col("p_size") <= 30)
        .select(
            F.col("p_brand").alias("lift_from_node"),
            prop.alias("lift_from_property"),
            F.lit("v1").alias("lift_from_version"),
        )
        .distinct()
        .localCheckpoint()
    )
    tprop = F.when(prop.like("s%"), F.concat(prop, F.lit("_v2"))).otherwise(prop)
    vt = (
        part.filter(F.col("p_size") >= 15)
        .select(
            F.col("p_brand").alias("lift_to_node"),
            tprop.alias("lift_to_property"),
            F.lit("v2").alias("lift_to_version"),
        )
        .distinct()
        .localCheckpoint()
    )
    prov_s = vf.filter(F.col("lift_from_property").like("s%")).select(
        "lift_from_node",
        "lift_from_property",
        "lift_from_version",
        F.col("lift_from_node").alias("lift_to_node"),
        F.concat("lift_from_property", F.lit("_v2")).alias("lift_to_property"),
        F.lit("v2").alias("lift_to_version"),
    )
    prov_e = vf.filter(F.col("lift_from_property").like("e%")).select(
        "lift_from_node",
        "lift_from_property",
        "lift_from_version",
        F.concat("lift_from_node", F.lit(";archive")).alias("lift_to_node"),
        F.col("lift_from_property").alias("lift_to_property"),
        F.lit("v2").alias("lift_to_version"),
    )
    provided = prov_s.unionByName(prov_e)
    return model_mapping_diff(vf, vt, provided, "v1", "v2")


# ---------------------------------------------------------------------------
# COG tranche comparer (workflows/cog_comparer.py:19-98): per-prop
# per-substudy sparsity in two tranches, change classification,
# quartile bucketing.  One stack-unpivot + groupBy per tranche.
# ---------------------------------------------------------------------------

_COG_SPARSITY_ORACLE = """WITH src AS (
  SELECT o_orderpriority AS substudy, o_orderkey AS k,
         CASE WHEN o_totalprice < 50000 THEN '' ELSE 'x' END AS pr_a,
         CASE WHEN o_orderstatus = 'F' THEN 'NA' ELSE o_orderstatus END AS pr_b,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE 'v' END AS pr_c
  FROM orders),
longf AS (
  SELECT substudy, k, 'pr_a' AS prop,
         CASE WHEN pr_a IN ('', 'NA') THEN NULL ELSE pr_a END AS v FROM src
  UNION ALL
  SELECT substudy, k, 'pr_b',
         CASE WHEN pr_b IN ('', 'NA') THEN NULL ELSE pr_b END FROM src
  UNION ALL
  SELECT substudy, k, 'pr_c',
         CASE WHEN pr_c IN ('', 'NA') THEN NULL ELSE pr_c END FROM src),
old_s AS (
  SELECT prop, substudy AS MCI_substudy,
         round(avg(CASE WHEN v IS NULL THEN 1 ELSE 0 END), 6)
           AS sparsity_old_tranche
  FROM longf WHERE k % 3 < 2 GROUP BY 1, 2),
new_s AS (
  SELECT prop, substudy AS MCI_substudy,
         round(avg(CASE WHEN v IS NULL THEN 1 ELSE 0 END), 6)
           AS sparsity_new_tranche
  FROM longf WHERE k % 3 > 0 GROUP BY 1, 2)
SELECT o.prop, o.MCI_substudy, sparsity_old_tranche, sparsity_new_tranche,
       CASE WHEN sparsity_new_tranche > sparsity_old_tranche THEN 'increased'
            WHEN sparsity_new_tranche < sparsity_old_tranche THEN 'decreased'
            ELSE 'same' END AS sparsity_change,
       CASE WHEN sparsity_old_tranche <= 0.25 THEN '0-25%'
            WHEN sparsity_old_tranche <= 0.5 THEN '25-50%'
            WHEN sparsity_old_tranche <= 0.75 THEN '50-75%'
            ELSE '75-100%' END AS sparsity_group_old_tranche,
       CASE WHEN sparsity_new_tranche <= 0.25 THEN '0-25%'
            WHEN sparsity_new_tranche <= 0.5 THEN '25-50%'
            WHEN sparsity_new_tranche <= 0.75 THEN '50-75%'
            ELSE '75-100%' END AS sparsity_group_new_tranche
FROM old_s o JOIN new_s n
  ON o.prop = n.prop AND o.MCI_substudy = n.MCI_substudy"""


@register(
    "cog_tranche_sparsity",
    _COG_SPARSITY_ORACLE,
    "COG tranche comparer (workflows/cog_comparer.py:19-98): per-prop "
    "per-substudy sparsity diff with change classification and "
    "quartile buckets; single stack-unpivot per tranche",
)
def cog_tranche_sparsity(spark, sf_dir):
    from .plans.cog import tranche_sparsity_compare

    (orders,) = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    src = orders.select(
        F.col("o_orderpriority").alias("substudy"),
        k.alias("k"),
        F.when(F.col("o_totalprice") < 50000, "").otherwise("x").alias("pr_a"),
        F.when(F.col("o_orderstatus") == "F", "NA")
        .otherwise(F.col("o_orderstatus"))
        .alias("pr_b"),
        F.when(k % 7 == 0, None).otherwise("v").alias("pr_c"),
    )
    old = src.filter(k % 3 < 2)
    new = src.filter(k % 3 > 0)
    return tranche_sparsity_compare(
        old, new, "substudy", ["pr_a", "pr_b", "pr_c"]
    )


# ---------------------------------------------------------------------------
# JSON row↔document round-trip (S5 JSON sink + S13 REST entity shape,
# workflows/gdc_import.py:296-321 convert_tsv_json): rows fold into one
# JSON document per user (to_json over collect_list), then shred back
# via from_json + explode.  The oracle is the identity projection —
# the round-trip must reproduce the source rows exactly.
# ---------------------------------------------------------------------------

_JSON_SHRED_ORACLE = """SELECT event_id, user_id, event_type FROM events"""


@register(
    "json_roundtrip_shred",
    _JSON_SHRED_ORACLE,
    "JSON doc fold + shred round-trip (workflows/gdc_import.py:296-321, "
    "mci_gdc_transform.py:296-321): to_json(collect_list(struct)) per "
    "user, from_json + explode back; oracle = identity",
)
def json_roundtrip_shred(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    docs = events.groupBy("user_id").agg(
        F.to_json(
            F.struct(
                F.col("user_id"),
                F.sort_array(
                    F.collect_list(F.struct("event_id", "event_type"))
                ).alias("evs"),
            )
        ).alias("doc")
    )
    schema = (
        "struct<user_id:bigint,"
        "evs:array<struct<event_id:bigint,event_type:string>>>"
    )
    shredded = (
        docs.select(F.from_json("doc", schema).alias("d"))
        .select(F.col("d.user_id").alias("user_id"), F.explode("d.evs").alias("e"))
        .select("e.event_id", "user_id", "e.event_type")
    )
    return shredded


# ---------------------------------------------------------------------------
# Surrogate→business-key translation (src/join_tsv_to_manifest.py:
# 111-192): DB-export TSVs carry `<parent>.id` surrogate guids; a
# global (id → key) mapping built from every node translates them to
# `<parent>.<parent>_id` business keys, surrogates blanked after.
# ---------------------------------------------------------------------------

_SURROGATE_ORACLE = """WITH mapping AS (
  SELECT 'guid-' || md5(CAST(c_custkey AS VARCHAR)) AS id,
         'C' || CAST(c_custkey AS VARCHAR) AS key
  FROM customer),
child AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS orders_id,
         CASE WHEN o_orderkey % 11 <> 0
              THEN 'guid-' || md5(CAST(o_custkey AS VARCHAR)) END AS cid
  FROM orders)
SELECT orders_id,
       coalesce(m.key, c.cid) AS "customer.customer_id",
       '' AS "customer.id"
FROM child c LEFT JOIN mapping m ON c.cid = m.id"""


@register(
    "surrogate_key_translate",
    _SURROGATE_ORACLE,
    "surrogate-id → business-key translation "
    "(src/join_tsv_to_manifest.py:154-181): broadcast (id→key) map "
    "join per `<parent>.id` column, surrogate blanked after",
)
def surrogate_key_translate(spark, sf_dir):
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    mapping = customer.select(
        F.concat(
            F.lit("guid-"), F.md5(F.encode(F.col("c_custkey").cast("string"), "UTF-8"))
        ).alias("__id__"),
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("__key__"),
    )
    child = orders.select(
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("orders_id"),
        F.when(
            F.col("o_orderkey") % 11 != 0,
            F.concat(
                F.lit("guid-"),
                F.md5(F.encode(F.col("o_custkey").cast("string"), "UTF-8")),
            ),
        ).alias("customer.id"),
    )
    # the reference keeps unmapped / null surrogates as-is
    # (join_tsv_to_manifest.py:172-174), then blanks the surrogate col.
    # mapping is customer-scale (one surrogate per customer) — no
    # forced hint; size-based selection decides per scale
    out = child.join(
        mapping, F.col("`customer.id`") == F.col("__id__"), "left"
    )
    return out.select(
        "orders_id",
        F.coalesce(F.col("__key__"), F.col("`customer.id`")).alias(
            "customer.customer_id"
        ),
        F.lit("").alias("customer.id"),
    )


# ---------------------------------------------------------------------------
# DCC manifest GUID remap (src/join_tsv_to_manifest_dcc.py:212-316):
# the DCC flavor builds ONE global guid → <type>_id map and translates
# MULTI-VALUED `;`-joined guid cells — items trimmed, unmapped guids
# becoming "", null/blank cells collapsing to "" — then blanks the
# consumed guid columns.  Exercises plans/dcc.py end-to-end.
# ---------------------------------------------------------------------------

_DCC_REMAP_ORACLE = """WITH mapping AS (
  SELECT 'guid-' || md5(CAST(c_custkey AS VARCHAR)) AS guid,
         'C' || CAST(c_custkey AS VARCHAR) AS node_id
  FROM customer),
m1 AS (
  SELECT map_from_entries(list(row(guid, node_id))) AS gm FROM mapping),
src AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS orders_id,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              WHEN o_orderkey % 5 = 0 THEN
                ' guid-' || md5(CAST(o_custkey AS VARCHAR))
                || ' ; guid-unknown-' || CAST(o_orderkey AS VARCHAR)
              ELSE 'guid-' || md5(CAST(o_custkey AS VARCHAR)) END AS cell
  FROM orders)
SELECT s.orders_id,
       coalesce(array_to_string(
         list_transform(
           list_filter(
             list_transform(string_split(coalesce(s.cell, ''), ';'),
                            x -> trim(x)),
             x -> x <> ''),
           g -> coalesce(gm[g][1], '')), ';'), '')
         AS "customer.customer_id",
       '' AS "customer.guid"
FROM src s, m1"""


@register(
    "dcc_manifest_guid_remap",
    _DCC_REMAP_ORACLE,
    "DCC manifest join: global guid→<type>_id map over multi-valued "
    "`;`-joined cells, items trimmed, unmapped → '', guid columns "
    "blanked (src/join_tsv_to_manifest_dcc.py:212-316)",
)
def dcc_manifest_guid_remap(spark, sf_dir):
    from .plans.dcc import build_guid_mapping, remap_guid_columns

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    ck = F.md5(F.encode(F.col("c_custkey").cast("string"), "UTF-8"))
    node = customer.select(
        F.concat(F.lit("guid-"), ck).alias("guid"),
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias(
            "customer_id"
        ),
    )
    mapping = build_guid_mapping({"customer": node})
    ok = F.col("o_orderkey")
    omd5 = F.md5(F.encode(F.col("o_custkey").cast("string"), "UTF-8"))
    child = orders.select(
        F.concat(F.lit("O"), ok.cast("string")).alias("orders_id"),
        F.when(ok % 13 == 0, F.lit(None).cast("string"))
        .when(
            ok % 5 == 0,
            F.concat(
                F.lit(" guid-"), omd5,
                F.lit(" ; guid-unknown-"), ok.cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("guid-"), omd5))
        .alias("customer.guid"),
    )
    return remap_guid_columns(child, mapping)


# ---------------------------------------------------------------------------
# COG/IGM → DCC postprocess merge (src/cog_igm_mapping_dcc.py:104-131):
# after the rule-engine transform, chemotherapy rows sharing a
# treatment_chemotherapy_id collapse — pandas groupby "first" for the
# scalar columns and ";".join(set(split)) for the agent.  The engine
# pins pandas-first as min_by over an explicit order column and the
# set join as first-occurrence array_distinct (plans/dcc.py policy).
# Order key = md5 of the source tuple, portable to DuckDB.
# ---------------------------------------------------------------------------

_DCC_POSTPROCESS_ORACLE = """WITH src AS (
  SELECT 'TC' || CAST(l_orderkey % 997 AS VARCHAR) AS key,
         'P' || CAST(l_orderkey % 211 AS VARCHAR) AS pid,
         CASE WHEN l_partkey % 17 = 0 THEN NULL
              ELSE 'ct' || CAST(l_partkey % 3 AS VARCHAR) END AS ctype,
         CASE WHEN l_suppkey % 7 = 0 THEN NULL
              WHEN l_suppkey % 11 = 0 THEN
                'ag' || CAST(l_partkey % 5 AS VARCHAR)
                || ';;ag' || CAST(l_suppkey % 9 AS VARCHAR)
              ELSE 'ag' || CAST(l_partkey % 5 AS VARCHAR)
                || ';ag' || CAST(l_suppkey % 9 AS VARCHAR) END AS agent,
         'tt' || CAST(l_linenumber % 2 AS VARCHAR) AS ttype,
         CASE WHEN l_partkey % 13 = 0 THEN NULL
              ELSE CAST(l_partkey % 50 AS VARCHAR) END AS dose,
         md5(CAST(l_orderkey AS VARCHAR) || '-'
             || CAST(l_linenumber AS VARCHAR) || '-'
             || CAST(l_partkey AS VARCHAR) || '-'
             || CAST(l_suppkey AS VARCHAR)) AS ord
  FROM lineitem),
kept AS (SELECT * FROM src WHERE ctype IS NOT NULL),
g AS (
  SELECT key,
         arg_min(pid, CASE WHEN pid IS NOT NULL THEN ord END) AS pid,
         arg_min(ctype, ord) AS ctype,
         arg_min(ttype, CASE WHEN ttype IS NOT NULL THEN ord END) AS ttype,
         arg_min(dose, CASE WHEN dose IS NOT NULL THEN ord END) AS dose,
         flatten(list(coalesce(string_split(agent, ';'), []) ORDER BY ord))
           AS fl
  FROM kept GROUP BY key),
f AS (SELECT key, pid, ctype, ttype, dose,
             list_filter(fl, x -> x <> '') AS fl2 FROM g)
SELECT key AS treatment_chemotherapy_id,
       pid AS "participant.participant_id",
       ctype AS chemotherapy_type, ttype AS treatment_type, dose,
       coalesce(array_to_string(
         list_filter(fl2, (x, i) -> list_position(fl2, x) = i), ';'), '')
         AS chemotherapy_agent
FROM f"""


@register(
    "cog_dcc_postprocess_merge",
    _DCC_POSTPROCESS_ORACLE,
    "COG/IGM→DCC chemotherapy postprocess "
    "(src/cog_igm_mapping_dcc.py:104-131): null-type rows dropped, "
    "rows per treatment_chemotherapy_id collapsed — min_by firsts "
    "(pandas-first twin) + ;-set-union of agents in first-occurrence "
    "order; ONE shuffle on the id",
)
def cog_dcc_postprocess_merge(spark, sf_dir):
    from .plans.dcc import dcc_postprocess_node

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    src = lineitem.select(
        F.concat(F.lit("TC"), (F.col("l_orderkey") % 997).cast("string"))
        .alias("treatment_chemotherapy_id"),
        F.concat(F.lit("P"), (F.col("l_orderkey") % 211).cast("string"))
        .alias("participant.participant_id"),
        F.when(F.col("l_partkey") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(F.lit("ct"), (F.col("l_partkey") % 3).cast("string"))
        )
        .alias("chemotherapy_type"),
        F.when(F.col("l_suppkey") % 7 == 0, F.lit(None).cast("string"))
        .when(
            F.col("l_suppkey") % 11 == 0,
            F.concat(
                F.lit("ag"), (F.col("l_partkey") % 5).cast("string"),
                F.lit(";;ag"), (F.col("l_suppkey") % 9).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("ag"), (F.col("l_partkey") % 5).cast("string"),
                F.lit(";ag"), (F.col("l_suppkey") % 9).cast("string"),
            )
        )
        .alias("chemotherapy_agent"),
        F.concat(F.lit("tt"), (F.col("l_linenumber") % 2).cast("string"))
        .alias("treatment_type"),
        F.when(F.col("l_partkey") % 13 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("l_partkey") % 50).cast("string"))
        .alias("dose"),
        F.md5(
            F.encode(
                F.concat_ws(
                    "-",
                    s("l_orderkey"), s("l_linenumber"),
                    s("l_partkey"), s("l_suppkey"),
                ),
                "UTF-8",
            )
        ).alias("__ord__"),
    )
    return dcc_postprocess_node("treatment_chemotherapy", src, "__ord__")


# ---------------------------------------------------------------------------
# Crawl-URL canonicalization dedup (LLM-data op): the same page under
# many spellings — scheme/host case, www., tracking params, fragments,
# trailing slash — collapses to one canonical key BEFORE the dedup
# aggregation.  The normalization is row-local codegen
# (functions/urls.py::canonicalize_url); the only wide op is the
# groupBy on the canonical key (never the raw text/URL variants).
# ---------------------------------------------------------------------------

_URL_DEDUP_ORACLE = r"""WITH u AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'http://example' || CAST(doc_id % 37 AS VARCHAR)
        || '.com/p/' || CAST(doc_id % 211 AS VARCHAR)
      WHEN 1 THEN 'HTTPS://WWW.EXAMPLE' || CAST(doc_id % 37 AS VARCHAR)
        || '.COM/p/' || CAST(doc_id % 211 AS VARCHAR) || '/'
      WHEN 2 THEN 'http://example' || CAST(doc_id % 37 AS VARCHAR)
        || '.com/p/' || CAST(doc_id % 211 AS VARCHAR)
        || '?utm_source=feed&q=' || CAST(doc_id % 5 AS VARCHAR)
        || '&ref=tw'
      ELSE 'https://example' || CAST(doc_id % 37 AS VARCHAR)
        || '.com/p/' || CAST(doc_id % 211 AS VARCHAR)
        || '#sec-' || CAST(doc_id % 9 AS VARCHAR)
    END AS url
  FROM documents),
parts AS (
  SELECT doc_id,
         split_part(split_part(url, '#', 1), '?', 1) AS base,
         CASE WHEN contains(split_part(url, '#', 1), '?')
              THEN split_part(split_part(url, '#', 1), '?', 2)
              ELSE '' END AS query
  FROM u),
c AS (
  SELECT doc_id,
    'http://'
    || regexp_replace(
         lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)),
         '^www\.', '')
    || regexp_replace(
         regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$', 1),
         '/$', '')
    || CASE WHEN array_to_string(list_filter(string_split(query, '&'),
              p -> p <> '' AND NOT (starts_with(p, 'utm_')
                OR split_part(p, '=', 1) IN
                   ('ref', 'fbclid', 'gclid', 'mc_cid', 'sessionid'))),
              '&') <> ''
         THEN '?' || array_to_string(list_filter(string_split(query, '&'),
              p -> p <> '' AND NOT (starts_with(p, 'utm_')
                OR split_part(p, '=', 1) IN
                   ('ref', 'fbclid', 'gclid', 'mc_cid', 'sessionid'))),
              '&')
         ELSE '' END AS canon
  FROM parts)
SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_variants,
       MIN(doc_id) AS keep_id
FROM c GROUP BY canon"""


@register(
    "corpus_url_canonical_dedup",
    _URL_DEDUP_ORACLE,
    "crawl-URL canonicalization dedup (LLM-data op): defragment, "
    "scheme fold, host lowercase + www. strip, tracking-param drop "
    "(order-preserving keep of the rest), trailing-slash strip — all "
    "row-local codegen — then ONE groupBy on the canonical key "
    "keeping min doc_id (functions/urls.py::canonicalize_url)",
)
def corpus_url_canonical_dedup(spark, sf_dir):
    from .functions.urls import canonicalize_url

    (documents,) = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host_k = (d % 37).cast("string")
    page_k = (d % 211).cast("string")
    url = (
        F.when(
            d % 4 == 0,
            F.concat(F.lit("http://example"), host_k, F.lit(".com/p/"), page_k),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("HTTPS://WWW.EXAMPLE"), host_k, F.lit(".COM/p/"),
                page_k, F.lit("/"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("http://example"), host_k, F.lit(".com/p/"), page_k,
                F.lit("?utm_source=feed&q="), (d % 5).cast("string"),
                F.lit("&ref=tw"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"), host_k, F.lit(".com/p/"), page_k,
                F.lit("#sec-"), (d % 9).cast("string"),
            )
        )
    )
    withc = documents.select(
        "doc_id", canonicalize_url(url).alias("canon")
    )
    return withc.groupBy("canon").agg(
        F.count("*").alias("n_variants"),
        F.min("doc_id").alias("keep_id"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel conversion (events analytics): per user, the first
# view, the first click AT OR AFTER that view, and the first purchase
# at or after that click — three chained conditional mins over the
# SAME user partition, so Catalyst plans ONE exchange and three
# Window nodes (no re-shuffle between steps).  Counts + integral
# micro conversion rates aggregate to a single summary row.
# ---------------------------------------------------------------------------

_FUNNEL_CONV_ORACLE = """WITH w AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id),
c AS (
  SELECT w.user_id, w.t_view,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts >= w.t_view
                  THEN e.ts END) AS t_click
  FROM w JOIN events e USING (user_id)
  GROUP BY w.user_id, w.t_view),
p AS (
  SELECT c.user_id, c.t_view, c.t_click,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t_click
                  THEN e.ts END) AS t_purchase
  FROM c JOIN events e USING (user_id)
  GROUP BY c.user_id, c.t_view, c.t_click)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_view) AS BIGINT) AS n_view,
       CAST(COUNT(t_click) AS BIGINT) AS n_view_click,
       CAST(COUNT(t_purchase) AS BIGINT) AS n_view_click_purchase,
       CAST(COUNT(t_click) * 1000000 // COUNT(t_view) AS BIGINT)
         AS click_conv_micro,
       CAST(COUNT(t_purchase) * 1000000 // COUNT(t_click) AS BIGINT)
         AS purchase_conv_micro
FROM p"""


@register(
    "events_funnel_conversion",
    _FUNNEL_CONV_ORACLE,
    "ordered view→click→purchase funnel with conversion rates: the "
    "WINDOW-CHAINED twin of events_funnel's collect_list shape — "
    "three chained conditional mins over ONE user partition (one "
    "exchange, three Window nodes, no per-user array buffering, so "
    "power-user histories never exceed a window buffer), then a "
    "single summary aggregation with integral micro rates",
)
def events_funnel_conversion(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = events.select("user_id", "event_type", "ts")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
        F.expr(
            "CAST(count(t_click) * 1000000 div count(t_view) AS BIGINT)"
        ).alias("click_conv_micro"),
        F.expr(
            "CAST(count(t_purchase) * 1000000 div count(t_click) AS BIGINT)"
        ).alias("purchase_conv_micro"),
    )


# ---------------------------------------------------------------------------
# CPI associated-id crosswalk (workflows/ccdi_cpi_query.py:126-200):
# for each (participant, domain) fetch the participant's ids in every
# OTHER domain — a self-join of the crosswalk on the global id.
# ---------------------------------------------------------------------------

_CPI_ORACLE = """WITH xwalk AS (
  SELECT c_custkey AS gid,
         'dom' || CAST(c_nationkey % 3 AS VARCHAR) AS domain,
         'D' || CAST(c_nationkey % 3 AS VARCHAR) || '-'
             || CAST(c_custkey AS VARCHAR) AS local_id
  FROM customer)
SELECT a.local_id AS participant_id, a.domain,
       b.domain AS associated_domain, b.local_id AS associated_id
FROM xwalk a JOIN xwalk b
  ON a.gid = b.gid AND a.domain <> b.domain"""


@register(
    "cpi_associated_ids",
    _CPI_ORACLE,
    "CPI associated-participant-id crosswalk "
    "(workflows/ccdi_cpi_query.py:126-200): self-join on the global "
    "id, other-domain ids attached",
)
def cpi_associated_ids(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    dom = F.concat(F.lit("dom"), (F.col("c_nationkey") % 3).cast("string"))
    xwalk = customer.select(
        F.col("c_custkey").alias("gid"),
        dom.alias("domain"),
        F.concat(
            F.lit("D"),
            (F.col("c_nationkey") % 3).cast("string"),
            F.lit("-"),
            F.col("c_custkey").cast("string"),
        ).alias("local_id"),
    )
    a, b = xwalk.alias("a"), xwalk.alias("b")
    return (
        a.join(b, (F.col("a.gid") == F.col("b.gid"))
               & (F.col("a.domain") != F.col("b.domain")))
        .select(
            F.col("a.local_id").alias("participant_id"),
            F.col("a.domain").alias("domain"),
            F.col("b.domain").alias("associated_domain"),
            F.col("b.local_id").alias("associated_id"),
        )
    )


# ---------------------------------------------------------------------------
# DB count diff (workflows/neo4j_db_diff.py:100-104,
# db_diff_central_worker.py): per-(study, node) counts from two DB
# instances outer-joined, zero-filled, with a signed count_diff.
# ---------------------------------------------------------------------------

_DB_DIFF_ORACLE = """WITH db1 AS (
  SELECT c_nationkey AS study_id, 'customer' AS node, COUNT(*) AS n
  FROM customer GROUP BY 1
  UNION ALL
  SELECT s_nationkey, 'supplier', COUNT(*) FROM supplier GROUP BY 1),
db2 AS (
  SELECT c_nationkey AS study_id, 'customer' AS node, COUNT(*) AS n
  FROM customer WHERE c_custkey % 13 <> 0 GROUP BY 1
  UNION ALL
  SELECT s_nationkey, 'part_supp', COUNT(*) FROM supplier GROUP BY 1)
SELECT coalesce(db1.study_id, db2.study_id) AS study_id,
       coalesce(db1.node, db2.node) AS node,
       coalesce(db1.n, 0) AS sandbox_DB_count,
       coalesce(db2.n, 0) AS dev_DB_count,
       coalesce(db1.n, 0) - coalesce(db2.n, 0) AS count_diff
FROM db1 FULL OUTER JOIN db2
  ON db1.study_id = db2.study_id AND db1.node = db2.node"""


@register(
    "db_count_diff",
    _DB_DIFF_ORACLE,
    "DB instance count diff (workflows/neo4j_db_diff.py:100-104): "
    "outer-join of two per-(study,node) count frames, zero-filled, "
    "signed count_diff",
)
def db_count_diff(spark, sf_dir):
    customer, supplier = _t(spark, sf_dir, "customer", "supplier")

    def counts(cust_pred):
        c = (
            customer.filter(cust_pred)
            .groupBy(F.col("c_nationkey").alias("study_id"))
            .agg(F.count("*").alias("n"))
            .withColumn("node", F.lit("customer"))
        )
        return c

    db1 = counts(F.lit(True)).unionByName(
        supplier.groupBy(F.col("s_nationkey").alias("study_id"))
        .agg(F.count("*").alias("n"))
        .withColumn("node", F.lit("supplier"))
    )
    db2 = counts(F.col("c_custkey") % 13 != 0).unionByName(
        supplier.groupBy(F.col("s_nationkey").alias("study_id"))
        .agg(F.count("*").alias("n"))
        .withColumn("node", F.lit("part_supp"))
    )
    a, b = db1.alias("a"), db2.alias("b")
    joined = a.join(
        b,
        (F.col("a.study_id") == F.col("b.study_id"))
        & (F.col("a.node") == F.col("b.node")),
        "full_outer",
    )
    n1 = F.coalesce(F.col("a.n"), F.lit(0))
    n2 = F.coalesce(F.col("b.n"), F.lit(0))
    return joined.select(
        F.coalesce(F.col("a.study_id"), F.col("b.study_id")).alias("study_id"),
        F.coalesce(F.col("a.node"), F.col("b.node")).alias("node"),
        n1.alias("sandbox_DB_count"),
        n2.alias("dev_DB_count"),
        (n1 - n2).alias("count_diff"),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary top-k (LLM-data op, beyond reference surface):
# corpus-level token frequency — tokenize every document once,
# explode, one partial-aggregated count, deterministic top-k.
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = """WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents)
SELECT token, COUNT(*) AS n
FROM toks WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 100"""


@register(
    "text_vocab_topk",
    _VOCAB_ORACLE,
    "corpus vocabulary top-k (LLM-data op): explode tokens, "
    "map-side-combined count, total-ordered top 100",
)
def text_vocab_topk(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# GDC mapping battery (src/ccdi_gdc_mapping_functions.py:85-420): the
# full transformer set — race/ethnicity split-filters, sex encode,
# filename regex parsers (read group, read pair, idat channel),
# specimen/tumor-descriptor cascades, multi-value dict mappers with
# unmatched-strip, single dict mappers — compiled to one projection.
# ---------------------------------------------------------------------------

_GDC_UNMATCHED = (
    "Other Solid Tumors",
    "Other CNS",
    "Other Hematopoietic Neoplasms",
    "Low-grade Gliomas",
    "Other Brain Tumors",
)

_GDC_ORACLE = r"""WITH src AS (
  SELECT 'P' || CAST(c_custkey AS VARCHAR) AS participant_id,
         'S' || CAST(c_custkey % 10 AS VARCHAR) AS sample_id,
         CASE c_custkey % 5
           WHEN 0 THEN 'White;Hispanic or Latino'
           WHEN 1 THEN 'Asian'
           WHEN 2 THEN 'hispanic or latino'
           WHEN 4 THEN 'Black or African American;Asian' END AS race,
         CASE c_custkey % 5
           WHEN 0 THEN 'Male' WHEN 1 THEN 'F'
           WHEN 2 THEN 'female' WHEN 3 THEN 'other' END AS sex,
         CASE WHEN c_custkey % 6 = 0
           THEN 'ARR_' || CAST(c_custkey AS VARCHAR) || '_A_B_'
                || CASE WHEN c_custkey % 2 = 0 THEN 'Grn' ELSE 'Red' END
                || '.idat'
           ELSE 'MCI_P' || CAST(c_custkey AS VARCHAR)
                || '_S' || CAST(c_custkey % 10 AS VARCHAR)
                || '_L00' || CAST(c_custkey % 4 AS VARCHAR)
                || '_R' || CAST(1 + c_custkey % 2 AS VARCHAR)
                || '_00' || CAST(c_custkey % 3 AS VARCHAR)
                || '.fastq.gz' END AS file_name,
         CASE c_custkey % 3
           WHEN 0 THEN 'Malignant Tumor Tissue'
           WHEN 1 THEN 'Blood Derived Normal' END AS specimen,
         CASE c_custkey % 4
           WHEN 0 THEN 'Localized' WHEN 1 THEN 'Metastatic, NOS'
           WHEN 2 THEN 'Not Reported' ELSE 'Unknown' END AS tumor_spatial,
         CASE c_custkey % 6
           WHEN 0 THEN 'Sarcoma' WHEN 1 THEN 'Leukemia'
           WHEN 2 THEN 'Other CNS;Sarcoma' WHEN 3 THEN 'Low-grade Gliomas'
           WHEN 4 THEN 'Sarcoma;Leukemia' END AS diag,
         CASE WHEN c_custkey % 7 = 0
           THEN 'site-0;site-' || CAST(c_custkey % 5 AS VARCHAR)
           ELSE 'site-' || CAST(c_custkey % 5 AS VARCHAR) END AS site,
         'm' || CAST(c_custkey % 3 AS VARCHAR) AS morph
  FROM customer),
mapped AS (
  SELECT participant_id,
    CASE WHEN race IS NULL OR trim(race) = '' THEN 'Unknown'
         ELSE coalesce(
           list_transform(
             list_filter(string_split(race, ';'),
               v -> NOT (contains(lower(v), 'hispanic')
                         OR contains(lower(v), 'latino'))),
             v -> trim(lower(v)))[1], 'Unknown') END AS gdc_race,
    CASE WHEN race IS NULL OR trim(race) = '' THEN 'not reported'
         ELSE coalesce(
           list_transform(
             list_filter(string_split(race, ';'),
               v -> contains(lower(v), 'hispanic')
                    OR contains(lower(v), 'latino')),
             v -> trim(lower(v)))[1], 'not reported') END AS gdc_ethnicity,
    CASE WHEN sex IS NULL OR trim(sex) = '' THEN 'unknown'
         WHEN lower(sex) IN ('male', 'm') THEN 'male'
         WHEN lower(sex) IN ('female', 'f') THEN 'female'
         ELSE 'unknown' END AS gdc_sex,
    CASE WHEN regexp_extract(file_name,
              '^(?:[^_]+_){3}([^_]+(?:_[^_]+)*)_R\d+_\d+', 1) <> ''
         THEN sample_id || '_rg_'
              || regexp_extract(file_name,
                   '^(?:[^_]+_){3}([^_]+(?:_[^_]+)*)_R\d+_\d+', 1)
    END AS rg_id,
    nullif(regexp_extract(file_name, '_(R\d)_\d+', 1), '') AS read_pair,
    CASE lower(regexp_extract(file_name, '_(Grn|Red).idat', 1))
         WHEN 'grn' THEN 'Green' WHEN 'red' THEN 'Red' END AS channel_color,
    CASE WHEN specimen IS NULL OR trim(specimen) = '' THEN NULL
         WHEN contains(lower(specimen), 'tumor') THEN 'Solid Tissue'
         WHEN contains(lower(specimen), 'normal')
         THEN 'Peripheral Whole Blood' END AS specimen_type,
    tumor_spatial, specimen, diag, site, morph
  FROM src),
desc_t AS (
  SELECT *,
    CASE WHEN contains(lower(tumor_spatial), 'local') THEN 'Primary'
         WHEN contains(lower(tumor_spatial), 'metastatic') THEN 'Metastatic'
         WHEN (contains(lower(tumor_spatial), 'not reported')
               OR contains(lower(tumor_spatial), 'unknown'))
              AND lower(specimen_type) IN ('solid tissue', 'tumor')
         THEN 'Primary'
         WHEN (contains(lower(tumor_spatial), 'not reported')
               OR contains(lower(tumor_spatial), 'unknown'))
              AND lower(specimen_type) IN ('peripheral whole blood', 'normal')
         THEN 'Not Applicable'
         ELSE 'Not Reported' END AS tumor_descriptor,
    CASE WHEN diag IS NULL OR trim(diag) = '' THEN NULL ELSE
      (WITH m AS (SELECT list_sort(list_distinct(list_transform(
           list_filter(list_transform(string_split(diag, ';'), v -> trim(v)),
             v -> v NOT IN ('Other Solid Tumors', 'Other CNS',
                            'Other Hematopoietic Neoplasms',
                            'Low-grade Gliomas', 'Other Brain Tumors')),
           v -> CASE WHEN v = 'Sarcoma' THEN 'Sarcomas'
                     WHEN v = 'Leukemia' THEN 'Leukemias'
                     ELSE 'Not Mapped' END))) AS l)
       SELECT CASE WHEN len(l) = 1 THEN l[1]
                   WHEN len(list_filter(l, v -> v <> 'Not Mapped')) > 0
                   THEN array_to_string(
                          list_filter(l, v -> v <> 'Not Mapped'), ';')
                   ELSE 'Not Mapped' END FROM m) END AS disease_type,
    CASE WHEN site IS NULL OR trim(site) = '' THEN NULL ELSE
      (WITH m AS (SELECT list_sort(list_distinct(list_transform(
           list_transform(string_split(site, ';'), v -> trim(v)),
           v -> CASE WHEN v = 'site-0' THEN 'Brain'
                     WHEN v = 'site-1' THEN 'Kidney'
                     WHEN v = 'site-2' THEN 'Liver'
                     ELSE 'Not Mapped' END))) AS l)
       SELECT CASE WHEN len(l) = 1 THEN l[1]
                   WHEN len(list_filter(l, v -> v <> 'Not Mapped')) > 0
                   THEN array_to_string(
                          list_filter(l, v -> v <> 'Not Mapped'), ';')
                   ELSE 'Not Mapped' END FROM m) END AS primary_site,
    CASE WHEN morph IS NULL OR trim(morph) = '' THEN NULL
         WHEN trim(morph) = 'm0' THEN '9500/3'
         WHEN trim(morph) = 'm1' THEN '9861/3' END AS morphology
  FROM mapped)
SELECT participant_id, gdc_race, gdc_ethnicity, gdc_sex, rg_id, read_pair,
       channel_color, specimen_type, tumor_descriptor, disease_type,
       primary_site, morphology
FROM desc_t"""


@register(
    "gdc_mapping_battery",
    _GDC_ORACLE,
    "GDC mapping battery (src/ccdi_gdc_mapping_functions.py:85-420): "
    "race/ethnicity/sex encodes, filename regex parsers, specimen + "
    "tumor-descriptor cascades, multi- and single-value dict mappers "
    "— one codegen projection, zero joins/shuffles",
)
def gdc_mapping_battery(spark, sf_dir):
    from .plans import gdc

    (customer,) = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    idat = F.concat(
        F.lit("ARR_"), ks, F.lit("_A_B_"),
        F.when(k % 2 == 0, "Grn").otherwise("Red"), F.lit(".idat"),
    )
    fastq = F.concat(
        F.lit("MCI_P"), ks,
        F.lit("_S"), (k % 10).cast("string"),
        F.lit("_L00"), (k % 4).cast("string"),
        F.lit("_R"), (1 + k % 2).cast("string"),
        F.lit("_00"), (k % 3).cast("string"),
        F.lit(".fastq.gz"),
    )
    src = customer.select(
        F.concat(F.lit("P"), ks).alias("participant_id"),
        F.concat(F.lit("S"), (k % 10).cast("string")).alias("sample_id"),
        F.when(k % 5 == 0, "White;Hispanic or Latino")
        .when(k % 5 == 1, "Asian")
        .when(k % 5 == 2, "hispanic or latino")
        .when(k % 5 == 4, "Black or African American;Asian")
        .alias("race"),
        F.when(k % 5 == 0, "Male")
        .when(k % 5 == 1, "F")
        .when(k % 5 == 2, "female")
        .when(k % 5 == 3, "other")
        .alias("sex"),
        F.when(k % 6 == 0, idat).otherwise(fastq).alias("file_name"),
        F.when(k % 3 == 0, "Malignant Tumor Tissue")
        .when(k % 3 == 1, "Blood Derived Normal")
        .alias("specimen"),
        F.when(k % 4 == 0, "Localized")
        .when(k % 4 == 1, "Metastatic, NOS")
        .when(k % 4 == 2, "Not Reported")
        .otherwise("Unknown")
        .alias("tumor_spatial"),
        F.when(k % 6 == 0, "Sarcoma")
        .when(k % 6 == 1, "Leukemia")
        .when(k % 6 == 2, "Other CNS;Sarcoma")
        .when(k % 6 == 3, "Low-grade Gliomas")
        .when(k % 6 == 4, "Sarcoma;Leukemia")
        .alias("diag"),
        F.when(
            k % 7 == 0,
            F.concat(F.lit("site-0;site-"), (k % 5).cast("string")),
        )
        .otherwise(F.concat(F.lit("site-"), (k % 5).cast("string")))
        .alias("site"),
        F.concat(F.lit("m"), (k % 3).cast("string")).alias("morph"),
    )
    spec = gdc.specimen_col(F.col("specimen"))
    return src.select(
        "participant_id",
        gdc.race_col(F.col("race")).alias("gdc_race"),
        gdc.ethnicity_col(F.col("race")).alias("gdc_ethnicity"),
        gdc.sex_col(F.col("sex")).alias("gdc_sex"),
        gdc.wxs_rg_id_col(F.col("sample_id"), F.col("file_name")).alias("rg_id"),
        gdc.read_pair_col(F.col("file_name")).alias("read_pair"),
        gdc.channel_color_col(F.col("file_name")).alias("channel_color"),
        spec.alias("specimen_type"),
        gdc.tumor_descriptor_col(F.col("tumor_spatial"), spec).alias(
            "tumor_descriptor"
        ),
        gdc.multi_map_col(
            F.col("diag"),
            {"Sarcoma": "Sarcomas", "Leukemia": "Leukemias"},
            unmatched=_GDC_UNMATCHED,
        ).alias("disease_type"),
        gdc.multi_map_col(
            F.col("site"),
            {"site-0": "Brain", "site-1": "Kidney", "site-2": "Liver"},
        ).alias("primary_site"),
        gdc.single_map_col(
            F.col("morph"), {"m0": "9500/3", "m1": "9861/3"}
        ).alias("morphology"),
    )


# ---------------------------------------------------------------------------
# GDC experiment-name reconcile (src/s3_ccdi_to_gdc.py:180-212): rows
# sharing a submitter_id all adopt the group's LONGEST experiment
# name, then dedup.  Tie-break pinned to (length desc, name desc) —
# the reference's first-occurrence tie depends on pandas row order.
# ---------------------------------------------------------------------------

_EXP_RECONCILE_ORACLE = """WITH src AS (
  SELECT 'SUB-' || CAST(l_orderkey AS VARCHAR) AS submitter_id,
         'e' || repeat('x', CAST(l_linenumber AS INT)) || '_'
             || CAST(l_orderkey % 3 AS VARCHAR) AS experiment_name,
         l_returnflag AS flag
  FROM lineitem),
best AS (
  SELECT submitter_id, experiment_name FROM (
    SELECT submitter_id, experiment_name,
           row_number() OVER (
             PARTITION BY submitter_id
             ORDER BY length(experiment_name) DESC, experiment_name DESC) AS rn
    FROM src) WHERE rn = 1)
SELECT DISTINCT s.submitter_id, b.experiment_name, s.flag
FROM src s JOIN best b ON s.submitter_id = b.submitter_id"""


@register(
    "gdc_experiment_reconcile",
    _EXP_RECONCILE_ORACLE,
    "GDC experiment-name reconcile (src/s3_ccdi_to_gdc.py:180-212): "
    "longest name per submitter_id broadcast to the group, dedup; "
    "max_by aggregate, no window over the fact",
)
def gdc_experiment_reconcile(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    src = lineitem.select(
        F.concat(F.lit("SUB-"), F.col("l_orderkey").cast("string")).alias(
            "submitter_id"
        ),
        F.concat(
            F.lit("e"),
            F.repeat(F.lit("x"), F.col("l_linenumber").cast("int")),
            F.lit("_"),
            (F.col("l_orderkey") % 3).cast("string"),
        ).alias("experiment_name"),
        F.col("l_returnflag").alias("flag"),
    )
    best = src.groupBy("submitter_id").agg(
        F.max_by(
            "experiment_name",
            F.struct(
                F.length("experiment_name").alias("l"),
                F.col("experiment_name").alias("n"),
            ),
        ).alias("experiment_name")
    )
    return (
        src.drop("experiment_name")
        .join(best, "submitter_id")
        .select("submitter_id", "experiment_name", "flag")
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# Nested-entity render round-trip (src/s3_ccdi_to_gdc.py:58-110):
# dotted columns fold into nested structs (flatten_to_nested), render
# to JSON entities, then shred back — oracle is the identity
# projection, proving the nest → to_json → from_json path is lossless.
# ---------------------------------------------------------------------------

_NESTED_ORACLE = """SELECT 'S' || CAST(o_orderkey AS VARCHAR) AS submitter_id,
       CASE WHEN o_orderkey % 5 <> 0
            THEN 'P' || CAST(o_custkey AS VARCHAR) END AS participant_id,
       o_orderstatus AS status
FROM orders"""


@register(
    "gdc_nested_entity_roundtrip",
    _NESTED_ORACLE,
    "nested-entity render (src/s3_ccdi_to_gdc.py:58-110): dotted cols "
    "→ nested struct → to_json (nulls skipped like the reference) → "
    "from_json shred; oracle = identity",
)
def gdc_nested_entity_roundtrip(spark, sf_dir):
    from .operators.reshape import nest_dotted

    (orders,) = _t(spark, sf_dir, "orders")
    flat = orders.select(
        F.concat(F.lit("S"), F.col("o_orderkey").cast("string")).alias(
            "submitter_id"
        ),
        F.when(
            F.col("o_orderkey") % 5 != 0,
            F.concat(F.lit("P"), F.col("o_custkey").cast("string")),
        ).alias("participants.participant_id"),
        F.col("o_orderstatus").alias("status"),
    )
    nested = nest_dotted(flat)
    entities = nested.select(
        F.to_json(F.struct("submitter_id", "participants", "status")).alias("doc")
    )
    schema = (
        "struct<submitter_id:string,"
        "participants:struct<participant_id:string>,status:string>"
    )
    return entities.select(F.from_json("doc", schema).alias("d")).select(
        F.col("d.submitter_id").alias("submitter_id"),
        F.col("d.participants.participant_id").alias("participant_id"),
        F.col("d.status").alias("status"),
    )


# ---------------------------------------------------------------------------
# Percent necrosis / tumor-content fill-in
# (src/cog_igm_utils.py:332-370): contains-based category normalize,
# left merge of decoded report values onto the clinical sheet keyed by
# (participant, category), drop rows where both percents are null.
# ---------------------------------------------------------------------------

_NECROSIS_ORACLE = """WITH clin AS (
  SELECT 'P' || CAST(o_custkey AS VARCHAR) AS pid,
         CASE WHEN o_orderkey % 6 <> 0
              THEN 'S' || CAST(o_orderkey AS VARCHAR) END AS sid,
         CASE o_orderkey % 4
           WHEN 0 THEN 'DNA Methylation Profile'
           WHEN 1 THEN 'RNA Gene Fusion Panel'
           WHEN 2 THEN 'Tumor Normal Pair'
           ELSE 'Other Category' END AS data_category
  FROM orders),
clin_n AS (
  SELECT pid, sid,
         CASE WHEN contains(data_category, 'Methylation') THEN 'methylation'
              WHEN contains(data_category, 'Gene Fusion') THEN 'archer_fusion'
              WHEN contains(data_category, 'Tumor Normal') THEN 'tumor_normal'
              ELSE data_category END AS data_category
  FROM clin WHERE sid IS NOT NULL),
parsed AS (
  SELECT DISTINCT 'P' || CAST(c_custkey AS VARCHAR) AS subject_id,
         CASE c_custkey % 3 WHEN 0 THEN 'methylation'
              WHEN 1 THEN 'archer_fusion' ELSE 'tumor_normal' END AS report_type,
         CASE WHEN c_custkey % 5 <> 0
              THEN CAST(c_custkey % 90 AS DOUBLE) END AS percent_necrosis,
         CASE WHEN c_custkey % 7 <> 0
              THEN CAST(c_custkey % 80 AS DOUBLE) END AS percent_tumor
  FROM customer)
SELECT pid AS "participant.participant_id", sid AS "sample.sample_id",
       percent_necrosis, percent_tumor
FROM clin_n LEFT JOIN parsed
  ON pid = subject_id AND data_category = report_type
WHERE percent_necrosis IS NOT NULL OR percent_tumor IS NOT NULL"""


@register(
    "necrosis_tumor_fill",
    _NECROSIS_ORACLE,
    "percent necrosis/tumor fill-in (src/cog_igm_utils.py:332-370): "
    "contains-normalize categories, broadcast-join decoded report "
    "values, drop rows with neither percent",
)
def necrosis_tumor_fill(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    ok, ck = F.col("o_orderkey"), F.col("c_custkey")
    clin = orders.select(
        F.concat(F.lit("P"), F.col("o_custkey").cast("string")).alias("pid"),
        F.when(ok % 6 != 0, F.concat(F.lit("S"), ok.cast("string"))).alias("sid"),
        F.when(ok % 4 == 0, "DNA Methylation Profile")
        .when(ok % 4 == 1, "RNA Gene Fusion Panel")
        .when(ok % 4 == 2, "Tumor Normal Pair")
        .otherwise("Other Category")
        .alias("data_category"),
    ).filter(F.col("sid").isNotNull())
    cat = (
        F.when(F.col("data_category").contains("Methylation"), "methylation")
        .when(F.col("data_category").contains("Gene Fusion"), "archer_fusion")
        .when(F.col("data_category").contains("Tumor Normal"), "tumor_normal")
        .otherwise(F.col("data_category"))
    )
    clin = clin.withColumn("data_category", cat)
    parsed = (
        customer.select(
            F.concat(F.lit("P"), ck.cast("string")).alias("subject_id"),
            F.when(ck % 3 == 0, "methylation")
            .when(ck % 3 == 1, "archer_fusion")
            .otherwise("tumor_normal")
            .alias("report_type"),
            F.when(ck % 5 != 0, (ck % 90).cast("double")).alias(
                "percent_necrosis"
            ),
            F.when(ck % 7 != 0, (ck % 80).cast("double")).alias("percent_tumor"),
        )
        .dropDuplicates()
    )
    # parsed is participant-scale (one row per customer) — no forced
    # hint; AQE broadcasts it while it fits and demotes at 100 TB
    merged = clin.join(
        parsed,
        (F.col("pid") == F.col("subject_id"))
        & (F.col("data_category") == F.col("report_type")),
        "left",
    )
    return merged.filter(
        F.col("percent_necrosis").isNotNull() | F.col("percent_tumor").isNotNull()
    ).select(
        F.col("pid").alias("participant.participant_id"),
        F.col("sid").alias("sample.sample_id"),
        "percent_necrosis",
        "percent_tumor",
    )


# ---------------------------------------------------------------------------
# Dup-pair → dup-cluster canonicalization (LLM-data op): exact-dup
# edges over documents (each doc → its md5 group's min doc_id) fed to
# min-label-propagation connected components; oracle is a recursive
# CTE computing min-reachable-id per doc over a lag chain per group —
# a different edge set with the same components.
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = """WITH RECURSIVE g AS (
  SELECT doc_id, md5(text) AS h FROM documents),
ordered AS (
  SELECT doc_id, h,
         lag(doc_id) OVER (PARTITION BY h ORDER BY doc_id) AS prev
  FROM g),
edges0 AS (SELECT prev AS src, doc_id AS dst FROM ordered WHERE prev IS NOT NULL),
edges AS (
  SELECT src, dst FROM edges0
  UNION
  SELECT dst, src FROM edges0),
reach AS (
  SELECT doc_id AS a, doc_id AS b FROM g
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a"""


@register(
    "dedup_cluster_star",
    _CLUSTER_ORACLE,
    "dup-cluster canonicalization: dedup_cluster_components under the "
    "name bench.py's sweep and the benchmark's linkage workload call; "
    "same recursive-CTE oracle",
)
@register(
    "dedup_cluster_components",
    _CLUSTER_ORACLE,
    "dup-cluster canonicalization (LLM-data op): star edges per "
    "exact-dup group (doc → the group's min doc_id) → min-label-"
    "propagation connected components (operators/graph.py); "
    "recursive-CTE oracle over a lag chain per group",
)
def dedup_cluster_components(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.graph import connected_components

    (documents,) = _t(spark, sf_dir, "documents")
    g = documents.select(
        "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("h")
    )
    # a star onto the group's min id has diameter 2 however many
    # replicas share a text; a lag chain's diameter grows with the
    # group and min-label needs one round per hop
    rooted = g.withColumn(
        "root", F.min("doc_id").over(Window.partitionBy("h"))
    )
    edges = rooted.filter(F.col("doc_id") != F.col("root")).select(
        F.col("root").alias("src"), F.col("doc_id").alias("dst")
    )
    return connected_components(
        edges, g.select("doc_id"), id_col="doc_id", label_col="cluster_id"
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation (LLM-data op, composed): quality features
# + language ID + token counts in ONE scan/projection, threshold
# filters, then exact-dup canonicalization keeping the min doc_id per
# content hash.  The whole pipeline is one scan + one aggregation —
# the shape a 100 TB pretraining-corpus pass wants.
# ---------------------------------------------------------------------------

_CURATION_LLM_ORACLE = r"""WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
feats AS (
  SELECT doc_id, text,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         ROUND(CASE WHEN len(toks) > 0 THEN
               CAST(len(list_filter(toks, t2 -> list_contains(
                 ['the','a','of','and','to','in','is','that','it','for'], t2)))
                 AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS stopword_ratio,
         ROUND(CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, t2 -> length(t2))) AS DOUBLE) /
               len(toks) ELSE 0.0 END, 6) AS mean_word_len,
         len(list_filter(toks, x -> list_contains(
           ['der','die','das','und','ist','von','mit','für','ein','nicht'], x))) AS h_de,
         len(list_filter(toks, x -> list_contains(
           ['the','a','of','and','to','in','is','that','it','for'], x))) AS h_en,
         len(list_filter(toks, x -> list_contains(
           ['el','la','los','de','y','es','un','una','por','para'], x))) AS h_es,
         len(list_filter(toks, x -> list_contains(
           ['le','la','les','de','et','est','un','une','pour','dans'], x))) AS h_fr,
         len(list_filter(toks, x -> list_contains(
           ['的','是','在','了','和','有','我','不','这','他'], x))) AS h_zh
  FROM t),
lang AS (
  SELECT *,
         CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) <= 0 THEN 'und'
              WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
              WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
              WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
              WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
              ELSE 'zh' END AS lang_pred
  FROM feats),
kept AS (
  SELECT doc_id, text, n_tokens, stopword_ratio, lang_pred
  FROM lang
  WHERE lang_pred = 'en' AND n_tokens >= 10
    AND stopword_ratio >= 0.05 AND mean_word_len BETWEEN 2.0 AND 12.0),
canon AS (
  SELECT md5(text) AS h, min(doc_id) AS keep_id FROM kept GROUP BY 1)
SELECT k.doc_id, k.n_tokens, k.stopword_ratio, k.lang_pred
FROM kept k JOIN canon c ON md5(k.text) = c.h AND k.doc_id = c.keep_id"""


@register(
    "corpus_curation_pipeline",
    _CURATION_LLM_ORACLE,
    "end-to-end LLM corpus curation (composed): quality + lang-id + "
    "token counts in one projection, threshold filters, exact-dup "
    "canonicalization keeping min doc_id — one scan + one aggregation",
)
def corpus_curation_pipeline(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import language_id, quality_features, token_count

    (documents,) = _t(spark, sf_dir, "documents")
    # single-file local input → one scan partition; spread the heavy
    # HOF work across cores (SCALE.md rule 4 — occupancy; a real
    # multi-split corpus skips this shuffle).  Width derives from the
    # session's parallelism (r10: was a constant 64 tuned for
    # local[32] — identical there, scale-adaptive elsewhere)
    docs = documents.repartition(spark.sparkContext.defaultParallelism * 2)
    # stage the token array ONCE — quality + lang-id reference the
    # same bound column instead of re-tokenizing per metric
    # (Catalyst does not CSE inside HOF lambdas; SCALE.md staging rule)
    staged = docs.withColumn("__toks__", normalized_tokens(F.col("text")))
    feats = quality_features(staged, tokens_col="__toks__")
    scored = language_id(feats, tokens_col="__toks__").withColumn(
        "n_tokens", token_count("text").cast("long")
    )
    kept = scored.filter(
        (F.col("lang_pred") == "en")
        & (F.col("n_tokens") >= 10)
        & (F.col("stopword_ratio") >= 0.05)
        & F.col("mean_word_len").between(2.0, 12.0)
    ).withColumn("__h__", F.md5(F.encode(F.col("text"), "UTF-8")))
    # min-doc_id-per-hash as a window top-1, NOT groupBy+self-join:
    # the heavy HOF projection is evaluated once and the plan compiles
    # to WindowGroupLimit (survivors-only shuffle) — measured 5.2 s →
    # 1.1 s at sf0.1 vs the two-branch join shape
    from pyspark.sql import Window

    w = Window.partitionBy("__h__").orderBy("doc_id")
    return (
        kept.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("doc_id", "n_tokens", "stopword_ratio", "lang_pred")
    )


# FFD is deterministic given the shard salt and the (tokens desc, id)
# in-shard order, so the oracle replays the exact first-fit loop as a
# recursive CTE whose state is the per-shard list of pack totals: each
# step places the next doc in the FIRST pack it fits (index lambda
# over the totals list) or opens a new one (r03 VERDICT item 8).  The
# certified twin shards on portable `doc_id % 16` instead of xxhash64
# — same algorithm-pinning-by-portable-salt trick as the _md5 dedup
# entries; the operator default stays hash-salted.
_PACK_ORACLE = r"""WITH RECURSIVE base AS (
  SELECT doc_id % 16 AS shard, doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents),
docs AS (
  SELECT shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY shard
                            ORDER BY n_tokens DESC, doc_id) AS rn
  FROM base),
rec AS (
  SELECT shard, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
         CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS INTEGER) AS pack,
         CAST([] AS BIGINT[]) AS totals
  FROM (SELECT DISTINCT shard FROM docs)
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         CAST(coalesce(f.idx - 1, len(r.totals)) AS INTEGER) AS pack,
         CASE WHEN f.idx IS NULL THEN list_append(r.totals, d.n_tokens)
              ELSE list_transform(r.totals,
                     (x, j) -> CASE WHEN j = f.idx THEN x + d.n_tokens
                               ELSE x END)
         END AS totals
  FROM rec r
  JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1
  LEFT JOIN LATERAL (
    SELECT list_filter(range(1, len(r.totals) + 1),
                       i -> r.totals[i] + d.n_tokens <= 2048)[1] AS idx
  ) f ON TRUE
)
SELECT CAST(shard AS VARCHAR) || '-' || CAST(pack AS VARCHAR) AS pack_id,
       doc_id, n_tokens
FROM rec WHERE rn > 0"""


@register(
    "corpus_pack_sequences",
    _PACK_ORACLE,
    "sequence packing (LLM-data op): first-fit-decreasing within "
    "shards via one applyInPandas; packs ≤ 2048-token budget; oracle "
    "replays the identical FFD loop as a recursive CTE over the "
    "per-shard pack-totals list (portable doc_id %% 16 salt)",
)
def corpus_pack_sequences(spark, sf_dir):
    from .operators.packing import pack_sequences
    from .operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    docs = documents.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs,
        budget=2048,
        n_groups=16,
        shard_col=F.pmod(F.col("doc_id"), F.lit(16)),
    )


# ---------------------------------------------------------------------------
# Column profiling (LLM-data / catalog op): per-column null ratio,
# distinct count, min/max — ONE pass over the table (every stat is a
# partial-aggregated expression in a single agg).  Exact distincts
# here for the oracle; swap approx_count_distinct at 100 TB (same
# plan shape, sketch merge instead of exact merge).
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """WITH s AS (
  SELECT COUNT(*) AS n,
         COUNT(lang) AS nn_lang, COUNT(DISTINCT lang) AS nd_lang,
         min(lang) AS min_lang, max(lang) AS max_lang,
         COUNT(source) AS nn_source, COUNT(DISTINCT source) AS nd_source,
         min(source) AS min_source, max(source) AS max_source,
         COUNT(n_chars) AS nn_chars, COUNT(DISTINCT n_chars) AS nd_chars,
         CAST(min(n_chars) AS VARCHAR) AS min_chars,
         CAST(max(n_chars) AS VARCHAR) AS max_chars
  FROM documents)
SELECT 'lang' AS column_name,
       round(1.0 - CAST(nn_lang AS DOUBLE) / n, 6) AS null_ratio,
       nd_lang AS n_distinct, min_lang AS min_value, max_lang AS max_value
FROM s
UNION ALL
SELECT 'source', round(1.0 - CAST(nn_source AS DOUBLE) / n, 6),
       nd_source, min_source, max_source FROM s
UNION ALL
SELECT 'n_chars', round(1.0 - CAST(nn_chars AS DOUBLE) / n, 6),
       nd_chars, min_chars, max_chars FROM s"""


@register(
    "profile_columns",
    _PROFILE_ORACLE,
    "one-pass column profiling (catalog op): null ratio, distinct "
    "count, min/max per column in a single aggregation; "
    "approx_count_distinct swaps in at 100 TB",
)
def profile_columns(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    cols = ["lang", "source", "n_chars"]
    aggs = [F.count("*").alias("__n__")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}__"),
            F.countDistinct(c).alias(f"__nd_{c}__"),
            F.min(c).cast("string").alias(f"__min_{c}__"),
            F.max(c).cast("string").alias(f"__max_{c}__"),
        ]
    s = documents.agg(*aggs)
    parts = [
        s.select(
            F.lit(c).alias("column_name"),
            F.round(
                1.0 - F.col(f"__nn_{c}__").cast("double") / F.col("__n__"), 6
            ).alias("null_ratio"),
            F.col(f"__nd_{c}__").alias("n_distinct"),
            F.col(f"__min_{c}__").alias("min_value"),
            F.col(f"__max_{c}__").alias("max_value"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "corpus_stratified_sample",
    """SELECT doc_id, lang, source FROM documents
       WHERE CASE lang WHEN 'en' THEN 0.5
                       WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.25
                       WHEN 'es' THEN 0.25 WHEN 'zh' THEN 0.25 END
             IS NOT NULL
         AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             < CASE lang WHEN 'en' THEN 0.5
                         WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.25
                         WHEN 'es' THEN 0.25 WHEN 'zh' THEN 0.25 END
               * 1152921504606846976.0""",
    "stratified subsampling (LLM-data op): per-language fractions via "
    "md5-threshold sampling — deterministic, no RNG state, and (since "
    "round 4) oracle-checked with the corpus_temperature_mix integer-"
    "threshold parity trick (xxhash64 is the drop-in at scale)",
)
def corpus_stratified_sample(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    # content-hash thresholding, not sampleBy: reruns and cluster
    # resizes pick the SAME rows (no seed/partition dependence)
    fractions = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.25}
    frac = F.lit(None).cast("double")
    for lang, p in fractions.items():
        frac = F.when(F.col("lang") == lang, F.lit(p)).otherwise(frac)
    hash60 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        documents.withColumn("__p__", frac)
        .filter(
            F.col("__p__").isNotNull()
            & (hash60 < F.col("__p__") * F.lit(1152921504606846976.0))
        )
        .select("doc_id", "lang", "source")
    )


@register(
    "dedup_minhash_clusters",
    None,  # minhash pairs are xxhash64-seeded → rows-only like
    # dedup_minhash_pairs; the CC step itself is oracle-proven by
    # dedup_cluster_components
    "near-dup clustering (LLM-data op, composed): MinHash-LSH verified "
    "pairs → min-label-propagation connected components → one "
    "(doc_id, cluster_id) per involved doc",
)
def dedup_minhash_clusters(spark, sf_dir):
    from .operators.dedup import minhash_dedup

    (documents,) = _t(spark, sf_dir, "documents")
    return _pair_clusters(minhash_dedup(documents, threshold=0.7))


def _pair_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every doc in a MinHash ``(id_a, id_b)``
    pair set, clustered by min-label connected components."""
    from .operators.graph import connected_components

    # the pair set feeds the node derivation (twice) AND the CC
    # iterations — checkpoint so the signature + banding pipeline runs
    # ONCE (450 s -> signature-cost once at the 10x probe of the md5
    # composition, whose per-shingle hashing is the expensive part)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .unionByName(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    return connected_components(
        edges, nodes, id_col="doc_id", label_col="cluster_id"
    )


# ---------------------------------------------------------------------------
# PII redaction (LLM-data op): the redaction twin of the F7 scan —
# training pipelines keep the text and mask the spans instead of
# rejecting rows.  PII is planted deterministically so the oracle
# exercises every pattern.
# ---------------------------------------------------------------------------

_PII_REDACT_ORACLE = r"""WITH planted AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 0 THEN ' call 555-123-4567'
           WHEN 1 THEN ' ssn 123-45-6789'
           WHEN 2 THEN ' born 2020-01-02'
           WHEN 3 THEN ' mail a.b@example.org'
           ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(regexp_replace(regexp_replace(
    text,
    '\d{1,2}[/-]\d{1,2}[/-]\d{2,4}', '[PII]', 'g'),
    '\d{4}[/-]\d{1,2}[/-]\d{1,2}', '[PII]', 'g'),
    '\b\d{1,2}\s+(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{2,4}\b',
    '[PII]', 'g'),
    '\b(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{1,2},?\s+\d{2,4}\b',
    '[PII]', 'g'),
    '\b\d{3}-\d{2}-\d{4}\b', '[PII]', 'g'),
    '\b\d{3}[-.\s]\d{3}[-.\s]\d{4}\b', '[PII]', 'g'),
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g')
  AS redacted,
  CASE WHEN doc_id % 5 < 4 THEN TRUE ELSE FALSE END AS had_pii
FROM planted"""


@register(
    "text_pii_redact",
    _PII_REDACT_ORACLE,
    "PII redaction (LLM-data op; redaction twin of F7 "
    "src/s3_validationry_refactored.py:620-746): chained "
    "regexp_replace battery masks dates/SSN/phone/email spans",
)
def text_pii_redact(spark, sf_dir):
    from .functions.checks import redact_pii

    (documents,) = _t(spark, sf_dir, "documents")
    planted = documents.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, " call 555-123-4567")
            .when(F.col("doc_id") % 5 == 1, " ssn 123-45-6789")
            .when(F.col("doc_id") % 5 == 2, " born 2020-01-02")
            .when(F.col("doc_id") % 5 == 3, " mail a.b@example.org")
            .otherwise(""),
        ).alias("text"),
    )
    return planted.select(
        "doc_id",
        redact_pii("text").alias("redacted"),
        (F.col("doc_id") % 5 < 4).alias("had_pii"),
    )


# ---------------------------------------------------------------------------
# As-of join over the event stream (custom operator — Spark lacks
# ASOF JOIN): for every click, the latest purchase value at or before
# it per user.  Union + single-sort formulation; the DuckDB oracle
# uses its native ASOF LEFT JOIN.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """SELECT a.event_id, a.user_id,
       b.value AS asof_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id AND a.ts >= b.ts"""


@register(
    "events_asof_join",
    _ASOF_ORACLE,
    "backward as-of join (custom operator, operators/joins.py): "
    "latest purchase value at-or-before each click per user; union + "
    "one-sort formulation vs DuckDB's native ASOF JOIN",
)
def events_asof_join(spark, sf_dir):
    from .operators.joins import asof_join

    (events,) = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(clicks, purchases, "user_id", "ts", ["purchase_value"])
    return out.select("event_id", "user_id", "asof_purchase_value")


# ---------------------------------------------------------------------------
# Range join (custom operator — Spark plans BETWEEN joins as nested
# loops): events bucket-joined to covering value intervals, rolled up
# per interval.  The oracle is the plain BETWEEN join.
# ---------------------------------------------------------------------------

_RANGE_ORACLE = """WITH intervals AS (
  SELECT 'I' || CAST(p_partkey AS VARCHAR) AS interval_id,
         CAST(p_partkey % 480 AS DOUBLE) AS lo,
         CAST(p_partkey % 480 + 1 + p_partkey % 10 AS DOUBLE) AS hi
  FROM part WHERE p_partkey % 4 = 0)
SELECT i.interval_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e JOIN intervals i ON e.value BETWEEN i.lo AND i.hi
GROUP BY i.interval_id"""


@register(
    "events_range_join",
    _RANGE_ORACLE,
    "bucketized range join (custom operator, operators/joins.py): "
    "intervals replicated to covered buckets, points equi-join one "
    "bucket + residual BETWEEN — no nested-loop; per-interval rollup",
)
def events_range_join(spark, sf_dir):
    from .operators.joins import interval_join

    events, part = _t(spark, sf_dir, "events", "part")
    pk = F.col("p_partkey")
    intervals = part.filter(pk % 4 == 0).select(
        F.concat(F.lit("I"), pk.cast("string")).alias("interval_id"),
        (pk % 480).cast("double").alias("lo"),
        (pk % 480 + 1 + pk % 10).cast("double").alias("hi"),
    )
    points = events.select("value")
    joined = interval_join(points, intervals, "value", "lo", "hi", bucket_width=8.0)
    return joined.groupBy("interval_id").agg(
        F.count("*").alias("n_events"),
        agg.exact_sum("value", "sum_value"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel analysis over the event stream: signup → click →
# purchase, each stage's timestamp strictly at-or-after the previous
# stage's.  ONE shuffle (the per-user collect); stage resolution is
# row-local array logic, so the plan survives any event volume whose
# per-user history fits a row (skew caveat documented).
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """WITH agg AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
  FROM events GROUP BY 1),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN agg a ON e.user_id = a.user_id
  WHERE e.event_type = 'click' AND e.ts >= a.t1 GROUP BY 1),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY 1)
SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage,
       COUNT(*) AS n_users
FROM agg LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
GROUP BY 1"""


@register(
    "events_funnel",
    _FUNNEL_ORACLE,
    "ordered funnel (signup → click → purchase) per user in ONE "
    "per-user aggregation + row-local array stage resolution; the "
    "oracle re-derives each stage with ordered min-joins",
)
def events_funnel(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("evs")
    )
    evs = F.col("evs")

    def stage_ts(ev_type: str, not_before):
        cond = (
            (lambda e: (e["event_type"] == ev_type) & (e["ts"] >= not_before))
            if not_before is not None
            else (lambda e: e["event_type"] == ev_type)
        )
        return F.array_min(F.transform(F.filter(evs, cond), lambda e: e["ts"]))

    staged = per_user.withColumn("t1", stage_ts("signup", None))
    staged = staged.withColumn("t2", stage_ts("click", F.col("t1")))
    staged = staged.withColumn("t3", stage_ts("purchase", F.col("t2")))
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        staged.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Grouping-sets rollup (additive — SURVEY §2.4 notes the reference
# has no cube/rollup; Spark provides them natively): per-(nation,
# segment) order stats with nation subtotals and a grand total in ONE
# pass, replacing the reference's N separate groupby+concat reports.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """SELECT
  coalesce(n_name, 'ALL') AS study,
  coalesce(c_mktsegment, 'ALL') AS segment,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)"""


@register(
    "orders_rollup_stats",
    _ROLLUP_ORACLE,
    "grouping-sets rollup (additive): per-(nation, segment) order "
    "stats + nation subtotals + grand total in one pass — replaces "
    "the reference's separate groupby reports (A1/A6 generalized)",
)
def orders_rollup_stats(spark, sf_dir):
    orders, customer, nation = _t(spark, sf_dir, "orders", "customer", "nation")
    # customer projection is SF-scaling — no hint (AQE decides); the
    # fixed 25-row nation keeps its broadcast
    base = orders.join(
        customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
        orders["o_custkey"] == F.col("c_custkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        base.rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            agg.exact_sum("o_totalprice", "total_price"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("study"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Batch gap-sessionization (the oracle-checkable twin of
# stream_session_windows): session breaks where the per-user gap
# exceeds 30 min; session id is the running sum of breaks.  Two
# windows over ONE shuffle (same partition key), then one agg.
# ---------------------------------------------------------------------------

_SESSIONIZE_ORACLE = """WITH marked AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, us,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                             RANGE UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM marked)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       max(us) - min(us) AS duration_us
FROM sess GROUP BY user_id, session_seq"""


@register(
    "events_sessionize",
    _SESSIONIZE_ORACLE,
    "batch gap-sessionization (oracle twin of stream_session_windows): "
    "break on >30min per-user gaps, running-sum session ids, "
    "per-session rollup — two windows sharing one shuffle",
)
def events_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    # integer MICROSECOND arithmetic on both engines — unix_timestamp
    # truncates sub-seconds while DuckDB's epoch() keeps them, so
    # second-resolution gaps disagree at boundaries
    # `ts` arrives as TIMESTAMP_NTZ under Spark 4.x (TIMESTAMP(NANOS)
    # parquet reads natively as NTZ; `unix_micros` only takes LTZ), so
    # derive epoch micros with timestampdiff from an NTZ epoch literal
    # — integer-exact parity with DuckDB's epoch_us on naive ts.
    def _us(c):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
        )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _us("ts")
    marked0 = events.withColumn("__prev_ts__", F.lag("ts").over(w))
    gap = us - _us("__prev_ts__")
    marked = marked0.select(
        "user_id",
        us.alias("us"),
        F.when(F.col("__prev_ts__").isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0)
        .alias("brk"),
    )
    # RANGE, not ROWS (r9 sweep of the r8 stream_session_windows
    # class): `us` alone is not a total order, and a ROWS running sum
    # over tied peers is peer-order-dependent on BOTH engines — a
    # latent phantom-red the moment the fixture produces two events
    # with one (user_id, ts).  RANGE gives tied rows the shared peer
    # total: deterministic, and ties belong to one session anyway.
    ws = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("session_seq", F.sum("brk").over(ws))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# Round-3 LLM-data-pipeline pack: repetition detection, quality-filter
# battery, TF-IDF / BM25 ranking, inverted-index build, deterministic
# domain-mix sampling, quantile profiling, retention cohorts, daily
# top-k, and URL canonicalization dedup.  All integer-exact or
# %.6g-stable against DuckDB; token pipelines stage the token array
# once (HOF-CSE rule) and keep n-gram work row-local.
# ---------------------------------------------------------------------------

_TOKS_CTE = r"""toks AS (
  SELECT doc_id, w,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS BIGINT)
           AS pos
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
               generate_subscripts(
                 regexp_split_to_array(lower(trim(text)), '\s+'), 1) AS ord
        FROM documents)
  WHERE w <> '')"""

_REPETITION_ORACLE = rf"""WITH {_TOKS_CTE},
g2 AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS g
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
g3 AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
              JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
t_agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
                 COUNT(DISTINCT w) AS n_distinct_tokens
          FROM toks GROUP BY doc_id),
g2_agg AS (SELECT doc_id, COUNT(*) AS n_2grams,
                  COUNT(DISTINCT g) AS n_distinct_2grams
           FROM g2 GROUP BY doc_id),
g2_top AS (SELECT doc_id, MAX(c) AS top_2gram_count
           FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g)
           GROUP BY doc_id),
g3_agg AS (SELECT doc_id, COUNT(*) AS n_3grams,
                  COUNT(DISTINCT g) AS n_distinct_3grams
           FROM g3 GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens,
       COALESCE(g2_agg.n_2grams, 0) AS n_2grams,
       COALESCE(g2_agg.n_distinct_2grams, 0) AS n_distinct_2grams,
       COALESCE(g3_agg.n_3grams, 0) AS n_3grams,
       COALESCE(g3_agg.n_distinct_3grams, 0) AS n_distinct_3grams,
       COALESCE(g2_top.top_2gram_count, 0) AS top_2gram_count
FROM t_agg t
LEFT JOIN g2_agg ON t.doc_id = g2_agg.doc_id
LEFT JOIN g2_top ON t.doc_id = g2_top.doc_id
LEFT JOIN g3_agg ON t.doc_id = g3_agg.doc_id"""


@register(
    "text_repetition_stats",
    _REPETITION_ORACLE,
    "Gopher-style repetition detection: duplicate word / 2-gram / "
    "3-gram multiplicities and the top-2-gram run, integer-exact, "
    "one row-local projection — no shuffle beyond the scan (the "
    "oracle needs three self-joins for what the fold does in-row)",
)
def text_repetition_stats(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import max_element_run, word_ngrams_expr

    (documents,) = _t(spark, sf_dir, "documents")
    staged = (
        documents.select("doc_id", normalized_tokens("text").alias("toks"))
        .withColumn("g2", word_ngrams_expr("toks", 2))
        .withColumn("g3", word_ngrams_expr("toks", 3))
    )
    return staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
        F.size("g2").cast("long").alias("n_2grams"),
        F.size(F.array_distinct("g2")).cast("long").alias("n_distinct_2grams"),
        F.size("g3").cast("long").alias("n_3grams"),
        F.size(F.array_distinct("g3")).cast("long").alias("n_distinct_3grams"),
        max_element_run(F.col("g2")).alias("top_2gram_count"),
    )


_GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that")

_GOPHER_ORACLE = rf"""WITH {_TOKS_CTE},
feat AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(length(w)) AS BIGINT) AS total_word_chars,
         COUNT(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 END)
           AS n_alpha_words,
         COUNT(DISTINCT CASE WHEN w IN
           ('the','a','of','and','to','in','is','that') THEN w END)
           AS n_stop_hits
  FROM toks GROUP BY doc_id)
SELECT doc_id, n_tokens, total_word_chars, n_alpha_words, n_stop_hits,
       (n_tokens BETWEEN 50 AND 100000) AS ok_word_count,
       (3 * n_tokens <= total_word_chars
        AND total_word_chars <= 10 * n_tokens) AS ok_mean_word_len,
       (10 * n_alpha_words >= 8 * n_tokens) AS ok_alpha_frac,
       (n_stop_hits >= 2) AS ok_stopwords,
       ((n_tokens BETWEEN 50 AND 100000)
        AND 3 * n_tokens <= total_word_chars
        AND total_word_chars <= 10 * n_tokens
        AND 10 * n_alpha_words >= 8 * n_tokens
        AND n_stop_hits >= 2) AS keep
FROM feat"""


@register(
    "corpus_gopher_filter",
    _GOPHER_ORACLE,
    "Gopher/C4-style quality-filter battery: word-count bounds, mean "
    "word length (integer cross-multiplication — no float drift), "
    "alphabetic-word fraction, stopword presence; per-doc keep flag. "
    "One scan, all row-local",
)
def corpus_gopher_filter(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    staged = documents.select(
        "doc_id", normalized_tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.aggregate(
            F.col("toks"),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t),
        ).alias("total_word_chars"),
        F.size(
            F.filter(F.col("toks"), lambda t: t.rlike("[a-z]"))
        ).cast("long").alias("n_alpha_words"),
        F.size(
            F.array_intersect(F.array_distinct(F.col("toks")), sw)
        ).cast("long").alias("n_stop_hits"),
    )
    ok_wc = F.col("n_tokens").between(50, 100000)
    ok_mwl = (3 * F.col("n_tokens") <= F.col("total_word_chars")) & (
        F.col("total_word_chars") <= 10 * F.col("n_tokens")
    )
    ok_alpha = 10 * F.col("n_alpha_words") >= 8 * F.col("n_tokens")
    ok_stop = F.col("n_stop_hits") >= 2
    return staged.select(
        "*",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_frac"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_alpha & ok_stop).alias("keep"),
    )


_TFIDF_ORACLE = rf"""WITH {_TOKS_CTE},
tf AS (SELECT doc_id, w AS token, COUNT(*) AS tf
       FROM toks GROUP BY doc_id, w),
dfreq AS (SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df_docs,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df_docs) AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df_docs)
                      DESC,
                    tf.token) AS rn
  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
SELECT doc_id, token, tf, df_docs, tfidf
FROM scored WHERE rn <= 5"""


@register(
    "text_tfidf_topk",
    _TFIDF_ORACLE,
    "per-document top-5 terms by TF-IDF: explode → (doc,term) counts; "
    "doc-frequency is a COUNT window over the token partitioning "
    "(no aggregate+re-join — one exchange fewer, same bytes), "
    "broadcast N (metadata-only count-star scan), window top-k",
)
def text_tfidf_topk(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.explode(normalized_tokens("text")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    ndocs = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn(
            "df_docs", F.count("*").over(Window.partitionBy("token"))
        )
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df_docs")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tf", "df_docs", "tfidf")
    )


_BM25_TERMS = ("spark", "table", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_ORACLE = rf"""WITH {_TOKS_CTE},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
tf AS (SELECT doc_id, w AS term, COUNT(*) AS tf FROM toks
       WHERE w IN ('spark','table','window') GROUP BY doc_id, w),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         SUM(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * (1.2 + 1)
             / (tf.tf + 1.2 * (1 - 0.75
                               + 0.75 * dl.dl / stats.avgdl))) AS bm25
  FROM tf JOIN dfreq USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id LIMIT 20"""


@register(
    "text_bm25_search",
    _BM25_ORACLE,
    "BM25 ranking for a fixed query-term set: term filter pushed "
    "into the explode, per-doc length + broadcast corpus stats "
    "(N, avgdl), top-20 by score — the scan only materializes "
    "matching terms",
)
def text_bm25_search(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    staged = documents.select(
        "doc_id", normalized_tokens("text").alias("toks")
    )
    dl = staged.select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    terms = F.array(*[F.lit(t) for t in _BM25_TERMS])
    tf = (
        staged.select(
            "doc_id",
            F.explode(
                F.filter(F.col("toks"), lambda t: F.array_contains(terms, t))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        # dfreq is vocabulary-sized (Heaps-law unbounded) — no forced
        # hint, AQE decides; stats stays hinted (one global row)
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


_INVINDEX_ORACLE = rf"""WITH {_TOKS_CTE},
tf AS (SELECT doc_id, w AS token, COUNT(*) AS tf
       FROM toks GROUP BY doc_id, w),
stats AS (SELECT token, COUNT(*) AS df_docs,
                 CAST(SUM(tf) AS BIGINT) AS tf_total
          FROM tf GROUP BY token),
ranked AS (SELECT token, doc_id,
                  row_number() OVER (PARTITION BY token ORDER BY doc_id)
                    AS rn
           FROM tf),
postings AS (SELECT token,
                    string_agg(CAST(doc_id AS VARCHAR), ','
                               ORDER BY doc_id) AS posting_head
             FROM ranked WHERE rn <= 20 GROUP BY token)
SELECT stats.token, stats.df_docs, stats.tf_total, postings.posting_head
FROM stats JOIN postings USING (token)"""


@register(
    "inverted_index_build",
    _INVINDEX_ORACLE,
    "inverted-index build: token → (doc freq, total tf, head of the "
    "sorted posting list).  Postings are truncated BEFORE collect "
    "(window rn ≤ 20 per token) so a stop-word key never "
    "materializes its full doc list — the hot-key-safe shape for a "
    "100 TB corpus",
)
def inverted_index_build(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    tf = (
        documents.select(
            "doc_id", F.explode(normalized_tokens("text")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    # df/tf_total as windows over the SAME token partitioning the
    # rank window needs — one exchange serves all three, and the
    # final groupBy(token) reuses it (no aggregate+re-join).
    wt = Window.partitionBy("token")
    wr = Window.partitionBy("token").orderBy("doc_id")
    enriched = (
        tf.withColumn("df_docs", F.count("*").over(wt))
        .withColumn("tf_total", F.sum("tf").over(wt).cast("long"))
        .withColumn("rn", F.row_number().over(wr))
    )
    return (
        enriched.filter(F.col("rn") <= 20)
        .groupBy("token")
        .agg(
            F.max("df_docs").alias("df_docs"),
            F.max("tf_total").alias("tf_total"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_head"),
        )
    )


# Deterministic domain-mix sampling: md5-threshold keep decision —
# identical bytes on both engines, so the sample is reproducible and
# oracle-checkable (vs rand(), which can never be).  Weight buckets
# keyed on the numeric source suffix mod 4.
_MIX_THRESH = {0: "g", 1: "80000000", 2: "40000000", 3: "1999999a"}

_DOMAIN_MIX_ORACLE = """WITH marked AS (
  SELECT source,
         CASE CAST(substr(source, 4) AS INTEGER) % 4
           WHEN 0 THEN 'g' WHEN 1 THEN '80000000'
           WHEN 2 THEN '40000000' ELSE '1999999a' END AS thresh,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       COUNT(CASE WHEN h < thresh THEN 1 END) AS n_kept
FROM marked GROUP BY source"""


@register(
    "corpus_domain_mix",
    _DOMAIN_MIX_ORACLE,
    "domain-weighted mix sampling: per-source target weights applied "
    "as an md5-hash threshold — deterministic, reproducible across "
    "engines and runs (no rand()), one scan + one small agg; the "
    "weight table is a broadcast join",
)
def corpus_domain_mix(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    weights = F.broadcast(
        documents.sparkSession.createDataFrame(
            [(f"src{i}", _MIX_THRESH[i % 4]) for i in range(20)],
            "source string, thresh string",
        )
    )
    marked = documents.join(weights, "source").select(
        "source",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
            < F.col("thresh")
        ).alias("kept"),
    )
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
    )


_QUANTILE_ORACLE = """SELECT 'orders' AS tbl, 'o_totalprice' AS col,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.75) AS p75 FROM orders
UNION ALL
SELECT 'lineitem', 'l_extendedprice',
       quantile_cont(l_extendedprice, 0.25),
       quantile_cont(l_extendedprice, 0.5),
       quantile_cont(l_extendedprice, 0.75) FROM lineitem
UNION ALL
SELECT 'lineitem', 'l_quantity',
       quantile_cont(l_quantity, 0.25),
       quantile_cont(l_quantity, 0.5),
       quantile_cont(l_quantity, 0.75) FROM lineitem
UNION ALL
SELECT 'customer', 'c_acctbal',
       quantile_cont(c_acctbal, 0.25),
       quantile_cont(c_acctbal, 0.5),
       quantile_cont(c_acctbal, 0.75) FROM customer
UNION ALL
SELECT 'events', 'value',
       quantile_cont(value, 0.25),
       quantile_cont(value, 0.5),
       quantile_cont(value, 0.75) FROM events"""


@register(
    "profile_quantiles",
    _QUANTILE_ORACLE,
    "exact quantile profiling (p25/p50/p75) across five numeric "
    "columns, one small agg per table unioned — the exact tier; "
    "approx_percentile is the documented 100 TB scale path (single "
    "pass, mergeable sketches)",
)
def profile_quantiles(spark, sf_dir):
    def q(df, tbl, col):
        pct = F.expr(f"percentile({col}, array(0.25D, 0.5D, 0.75D))")
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.element_at(pct, 1).alias("p25"),
            F.element_at(pct, 2).alias("p50"),
            F.element_at(pct, 3).alias("p75"),
        )

    orders, lineitem, customer, events = _t(
        spark, sf_dir, "orders", "lineitem", "customer", "events"
    )
    parts = [
        q(orders, "orders", "o_totalprice"),
        q(lineitem, "lineitem", "l_extendedprice"),
        q(lineitem, "lineitem", "l_quantity"),
        q(customer, "customer", "c_acctbal"),
        q(events, "events", "value"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_RETENTION_ORACLE = """WITH days AS (
  SELECT user_id, date_trunc('day', ts) AS day FROM events),
cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
SELECT CAST(cohort.cohort_day AS DATE) AS cohort_day,
       CAST(date_diff('day', cohort.cohort_day, days.day) AS BIGINT)
         AS offset_days,
       COUNT(DISTINCT days.user_id) AS n_users
FROM days JOIN cohort USING (user_id)
GROUP BY 1, 2"""


@register(
    "events_retention_cohorts",
    _RETENTION_ORACLE,
    "retention cohort analysis: first-seen day per user (one agg), "
    "re-join activity days, distinct users per (cohort, day-offset) "
    "— the cohort frame shuffles once on user_id and is reused",
)
def events_retention_cohorts(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("offset_days"),
        )
        .groupBy(F.col("cohort_day").cast("date").alias("cohort_day"), "offset_days")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_DAILY_TOPK_ORACLE = """WITH counts AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT day, event_type, n,
         row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type)
           AS rk
  FROM counts)
SELECT day, event_type, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3"""


@register(
    "events_daily_topk",
    _DAILY_TOPK_ORACLE,
    "top-3 event types per day: groupBy counts then a rank window — "
    "compiles to WindowGroupLimit (only survivors cross the final "
    "exchange), deterministic tie-break on type",
)
def events_daily_topk(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    counts = (
        events.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "event_type",
        )
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("day", "event_type", "n", "rk")
    )


# URL canonicalization + dedup (F11 generalized to the web-corpus
# case): lowercase scheme+host, strip default https port, drop utm_*
# tracking params, strip trailing slash — then group identical
# canonical urls.  The synthetic urls are derived from orders keys so
# both engines build byte-identical inputs.
_URL_DEDUP_ORACLE = r"""WITH raw AS (
  SELECT 'https://Shop' || CAST(o_custkey % 20 AS VARCHAR) ||
         '.Example.COM' ||
         CASE WHEN o_orderkey % 3 = 0 THEN ':443' ELSE '' END ||
         '/p/' || CAST(o_orderkey % 500 AS VARCHAR) ||
         CASE WHEN o_orderkey % 2 = 0
              THEN '/?utm_source=mail&utm_id=' ||
                   CAST(o_custkey % 7 AS VARCHAR) || '&ref=abc'
              ELSE '' END AS url
  FROM orders),
canon AS (
  SELECT url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 lower(regexp_extract(url, '^(https?://[^/?]+)', 1)) ||
                 substr(url, length(regexp_extract(url, '^(https?://[^/?]+)', 1)) + 1),
                 ':443/', '/'),
               'utm_[a-z_]+=[^&]*&', '', 'g'),
             '[?&]utm_[a-z_]+=[^&]*$', ''),
           '/\?', '?') AS c0
  FROM raw),
canon2 AS (
  SELECT url, regexp_replace(regexp_replace(c0, '\?$', ''), '/$', '')
           AS canonical_url
  FROM canon)
SELECT canonical_url, COUNT(*) AS n_rows,
       COUNT(DISTINCT url) AS n_distinct_raw,
       MIN(url) AS sample_raw
FROM canon2 GROUP BY canonical_url"""


@register(
    "url_dedup_canonical",
    _URL_DEDUP_ORACLE,
    "URL canonicalization dedup: lowercase host, strip default "
    "port / utm_* params / trailing slash via chained "
    "regexp_replace (JVM-side, one projection), then exact group "
    "dedup on the canonical form",
)
def url_dedup_canonical(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    raw = orders.select(
        F.concat(
            F.lit("https://Shop"),
            (F.col("o_custkey") % 20).cast("string"),
            F.lit(".Example.COM"),
            F.when(F.col("o_orderkey") % 3 == 0, ":443").otherwise(""),
            F.lit("/p/"),
            (F.col("o_orderkey") % 500).cast("string"),
            F.when(
                F.col("o_orderkey") % 2 == 0,
                F.concat(
                    F.lit("/?utm_source=mail&utm_id="),
                    (F.col("o_custkey") % 7).cast("string"),
                    F.lit("&ref=abc"),
                ),
            ).otherwise(""),
        ).alias("url")
    )
    head = F.regexp_extract(F.col("url"), r"^(https?://[^/?]+)", 1)
    lowered = F.concat(
        F.lower(head), F.expr("substr(url, length(regexp_extract(url, '^(https?://[^/?]+)', 1)) + 1)")
    )
    c0 = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(lowered, ":443/", "/"),
                "utm_[a-z_]+=[^&]*&",
                "",
            ),
            r"[?&]utm_[a-z_]+=[^&]*$",
            "",
        ),
        r"/\?",
        "?",
    )
    canonical = F.regexp_replace(
        F.regexp_replace(c0, r"\?$", ""), "/$", ""
    )
    return (
        raw.select("url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("url").alias("n_distinct_raw"),
            F.min("url").alias("sample_raw"),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 pack 2: unigram-LM scoring, token-budget mixing, rank
# windows, sliding rates, embedding centroids, SCD2 intervals, and
# bipartite degree profiling.
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = rf"""WITH {_TOKS_CTE},
lm AS (SELECT w, COUNT(*) AS ctf FROM toks GROUP BY w),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM toks)
SELECT toks.doc_id,
       COUNT(*) AS n_tokens,
       SUM(ln(lm.ctf / total.n_total)) / COUNT(*) AS avg_logprob
FROM toks JOIN lm USING (w) CROSS JOIN total
GROUP BY toks.doc_id"""


@register(
    "text_unigram_logprob",
    _UNIGRAM_ORACLE,
    "perplexity-proxy scoring: corpus unigram LM (one token agg) "
    "joined back to doc tokens, mean log-probability per doc — the "
    "cheap LM-quality signal used to rank web corpora.  The LM side "
    "aggregates BEFORE the join so the join carries (vocab) rows, "
    "not (corpus tokens) rows",
)
def text_unigram_logprob(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.explode(normalized_tokens("text")).alias("w")
    )
    lm = toks.groupBy("w").agg(F.count("*").alias("ctf"))
    total = toks.agg(F.count("*").cast("double").alias("n_total"))
    return (
        toks.join(lm, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.sum(F.log(F.col("ctf") / F.col("n_total"))) / F.count("*")
            ).alias("avg_logprob"),
        )
    )


_TOKEN_BUDGET = 1000

_BUDGET_MIX_ORACLE = rf"""WITH {_TOKS_CTE},
doc_tokens AS (SELECT doc_id, COUNT(*) AS n_tokens
               FROM toks GROUP BY doc_id),
ordered AS (
  SELECT d.source, d.doc_id, t.n_tokens,
         CAST(SUM(t.n_tokens) OVER (
           PARTITION BY d.source
           ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 16), d.doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM documents d JOIN doc_tokens t USING (doc_id))
SELECT source, doc_id, n_tokens, cum_tokens
FROM ordered WHERE cum_tokens <= {_TOKEN_BUDGET}"""


@register(
    "corpus_token_budget_mix",
    _BUDGET_MIX_ORACLE,
    "token-budget mixing: per-source deterministic shuffle order "
    "(md5 of doc id), cumulative token sum, keep docs until the "
    "source's token budget fills — the data-mixing primitive for "
    "hitting per-domain token targets exactly, one window shuffle",
)
def corpus_token_budget_mix(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    sized = documents.select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 16).alias("__h__"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("__h__", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= _TOKEN_BUDGET)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
    )


_PCT_RANK_ORACLE = """SELECT o_orderkey, o_custkey, o_totalprice,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(ntile(10) OVER w AS BIGINT) AS decile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)"""


@register(
    "orders_percentile_rank",
    _PCT_RANK_ORACLE,
    "rank-family windows (percent_rank / cume_dist / ntile) per "
    "priority group — exact rational arithmetic on both engines, "
    "full tie-break so results are deterministic",
)
def orders_percentile_rank(spark, sf_dir):
    from pyspark.sql import Window

    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


_SLIDING_RATE_ORACLE = """WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
           AS day_idx,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2)
SELECT day, n,
       CAST(SUM(n) OVER (ORDER BY day_idx
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_7d
FROM daily"""


@register(
    "events_sliding_rate",
    _SLIDING_RATE_ORACLE,
    "7-day sliding event rate: daily counts then a RANGE window over "
    "an integer day index (calendar-gap-correct, unlike a ROWS "
    "frame) — the batch twin of a sliding streaming window",
)
def events_sliding_rate(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    daily = (
        events.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "day_idx",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long"),
        )
    )
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    return daily.select(
        "day", "n", F.sum("n").over(w).cast("long").alias("n_7d")
    )


_CENTROID_ORACLE = """WITH dims AS (
  SELECT vec_id, label,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
centroids AS (
  SELECT label, pos, AVG(CAST(x AS DOUBLE)) AS c
  FROM dims GROUP BY label, pos),
dist AS (
  SELECT dims.vec_id, dims.label,
         sqrt(SUM((CAST(dims.x AS DOUBLE) - centroids.c)
                  * (CAST(dims.x AS DOUBLE) - centroids.c))) AS d
  FROM dims JOIN centroids USING (label, pos)
  GROUP BY dims.vec_id, dims.label),
ranked AS (
  SELECT label, vec_id, d,
         row_number() OVER (PARTITION BY label ORDER BY d DESC, vec_id)
           AS rn
  FROM dist)
SELECT label, vec_id, d AS dist_to_centroid
FROM ranked WHERE rn <= 3"""


@register(
    "embedding_label_outliers",
    _CENTROID_ORACLE,
    "per-label centroid + top-3 outliers by euclidean distance: "
    "posexplode → (label, dim) mean (the centroid fits in one agg "
    "row per dimension — broadcastable), rejoin for per-vector "
    "distance, WindowGroupLimit top-k.  The label-cluster quality "
    "probe for embedding spaces",
)
def embedding_label_outliers(spark, sf_dir):
    from pyspark.sql import Window

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    dims = embeddings.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("x").cast("double").alias("x"),
    )
    centroids = dims.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    dist = (
        dims.join(F.broadcast(centroids), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            ).alias("d")
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("d"), F.asc("vec_id"))
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", F.col("d").alias("dist_to_centroid"))
    )


_SCD2_ORACLE = """WITH ordered AS (
  SELECT user_id, event_type AS status, ts, event_id,
         lag(event_type) OVER w AS prev_status
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
changes AS (
  SELECT user_id, status, ts AS valid_from, event_id
  FROM ordered
  WHERE prev_status IS NULL OR status <> prev_status),
intervals AS (
  SELECT user_id, status, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, event_id)
           AS valid_to
  FROM changes)
SELECT user_id, status, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM intervals"""


@register(
    "events_scd2_intervals",
    _SCD2_ORACLE,
    "SCD type-2 dimension build from a change stream: collapse "
    "consecutive repeats (lag), validity intervals via lead, open "
    "interval flagged current — two windows sharing one user_id "
    "shuffle.  The warehouse-dimension primitive the reference's "
    "keep-last dedup (A9) approximates",
)
def events_scd2_intervals(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        F.col("event_type").alias("status"),
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_status"),
    )
    changes = ordered.filter(
        F.col("prev_status").isNull()
        | (F.col("status") != F.col("prev_status"))
    ).select("user_id", "status", F.col("ts").alias("valid_from"), "event_id")
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "status",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


_DEGREE_ORACLE = """WITH edges AS (
  SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
deg AS (SELECT custkey, COUNT(*) AS degree FROM edges GROUP BY custkey)
SELECT degree, COUNT(*) AS n_customers
FROM deg GROUP BY degree"""


@register(
    "bipartite_degree_hist",
    _DEGREE_ORACLE,
    "bipartite degree histogram (customer↔supplier via lineitem): "
    "distinct edge projection, per-node degree, degree histogram — "
    "the graph-profiling shape; the distinct is the only wide "
    "exchange, degrees reuse its partitioning",
)
def bipartite_degree_hist(spark, sf_dir):
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    edges = (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("custkey"),
                F.col("l_suppkey").alias("suppkey"))
        .distinct()
    )
    deg = edges.groupBy("custkey").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_customers"))


_STREAM_SLIDING_ORACLE = """WITH repl AS (
  SELECT date_trunc('hour', ts) - i * INTERVAL 1 HOUR AS ws,
         event_type, value
  FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS i))
SELECT CAST(epoch_us(ws) AS BIGINT) AS window_start_us,
       CAST(epoch_us(ws + INTERVAL 2 HOUR) AS BIGINT) AS window_end_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM repl GROUP BY 1, 2, 3"""


@register(
    "stream_sliding_rollup",
    _STREAM_SLIDING_ORACLE,
    "§2.15 sliding-window rollup (2h window, 1h slide): each event "
    "lands in exactly two windows; the same window-agg attaches to "
    "readStream with a watermark for incremental state reclamation.  "
    "r7 VERDICT item 7: rows-only → oracle — overlapping windows ARE "
    "SQL-expressible as explode-over-window-starts (an event at t "
    "belongs to starts {trunc_hour(t), trunc_hour(t)-1h}), which is "
    "also precisely how Spark's physical plan expands sliding "
    "windows.  NTZ event time end-to-end; bounds as epoch micros",
)
def stream_sliding_rollup(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    return (
        events.groupBy(
            F.window(F.col("ts"), "2 hours", "1 hour").alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            agg.exact_sum("value", "total_value"),
        )
        .select(
            F.expr(us.format("win.start")).alias("window_start_us"),
            F.expr(us.format("win.end")).alias("window_end_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# Sketch ESTIMATES are engine-specific (Spark HLL++ / GK vs DuckDB
# HLL / t-digest), so the raw numbers can never hash-match — but the
# PROPERTIES that make the sketches usable are engine-agnostic: each
# engine's estimate must sit within tolerance of ITS OWN exact anchor.
# Certifying the booleans (r05 VERDICT item 7: rows-only → oracle)
# pins the sketch path end-to-end: a broken/misconfigured sketch flips
# a TRUE to FALSE and the hash reds.  Tolerances are loose multiples
# of the configured accuracy (HLL++ rsd 0.05 → 0.15; GK accuracy
# 10000 → near-exact, 2% on smooth price distributions).
_PROFILE_APPROX_ORACLE = """WITH o AS (
  SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
         approx_count_distinct(o_custkey) AS ad,
         COUNT(DISTINCT o_custkey) AS ed,
         approx_quantile(CAST(o_totalprice AS DOUBLE),
                         [0.25, 0.5, 0.75]) AS aq,
         quantile_cont(CAST(o_totalprice AS DOUBLE),
                       [0.25, 0.5, 0.75]) AS eq
  FROM orders),
l AS (
  SELECT 'lineitem' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
         approx_count_distinct(l_partkey) AS ad,
         COUNT(DISTINCT l_partkey) AS ed,
         approx_quantile(CAST(l_extendedprice AS DOUBLE),
                         [0.25, 0.5, 0.75]) AS aq,
         quantile_cont(CAST(l_extendedprice AS DOUBLE),
                       [0.25, 0.5, 0.75]) AS eq
  FROM l_src),
u AS (SELECT * FROM o UNION ALL SELECT * FROM l)
SELECT tbl, n_rows,
       abs(ad * 1.0 / ed - 1) <= 0.15 AS approx_distinct_ok,
       NOT list_has_any(
         list_transform(list_zip(aq, eq),
                        z -> abs(z[1] / z[2] - 1) > 0.02),
         [TRUE]) AS approx_quantiles_ok
FROM u""".replace("l_src", "lineitem")


@register(
    "profile_columns_approx",
    _PROFILE_APPROX_ORACLE,
    "sketch-based profiling — the documented 100 TB swap-in for "
    "profile_columns/profile_quantiles: approx_count_distinct (HLL++) "
    "and approx_percentile (GK) in ONE pass with mergeable partial "
    "state, no exact-distinct shuffle, no full sort.  Oracle-backed "
    "via property certification: raw estimates are engine-specific, "
    "but each engine's sketch must land within tolerance of its own "
    "exact anchor (booleans + exact n_rows hash-match; a broken "
    "sketch path flips a boolean)",
)
def profile_columns_approx(spark, sf_dir):
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")

    def prof(df, tbl, key, val):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.count("*").alias("n_rows"),
            F.approx_count_distinct(key).alias("ad"),
            F.countDistinct(key).alias("ed"),
            F.expr(
                f"approx_percentile(CAST({val} AS DOUBLE),"
                " array(0.25, 0.5, 0.75), 10000)"
            ).alias("aq"),
            F.expr(
                f"percentile(CAST({val} AS DOUBLE), array(0.25, 0.5, 0.75))"
            ).alias("eq"),
        )

    u = prof(orders, "orders", "o_custkey", "o_totalprice").unionByName(
        prof(lineitem, "lineitem", "l_partkey", "l_extendedprice")
    )
    within = F.zip_with(
        "aq", "eq", lambda a, b: F.abs(a / b - 1) <= 0.02
    )
    return u.select(
        "tbl",
        "n_rows",
        (
            F.abs(F.col("ad") / F.col("ed") - 1) <= 0.15
        ).alias("approx_distinct_ok"),
        F.forall(within, lambda x: x).alias("approx_quantiles_ok"),
    )


# ---------------------------------------------------------------------------
# Round-3 pack 3: market-basket lift, anomaly z-scores, cosine LSH.
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
      FROM items),
part_n AS (SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_n
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey)
SELECT pairs.part_a, pairs.part_b, pairs.pair_n,
       pairs.pair_n * n.n_orders / (pa.cnt * pb.cnt) AS lift
FROM pairs
JOIN part_n pa ON pairs.part_a = pa.l_partkey
JOIN part_n pb ON pairs.part_b = pb.l_partkey
CROSS JOIN n
ORDER BY pairs.pair_n DESC, pairs.part_a, pairs.part_b
LIMIT 20"""


@register(
    "orders_market_basket",
    _BASKET_ORACLE,
    "market-basket pair mining: distinct items per order, "
    "within-order self-join (quadratic only in basket size — bounded "
    "by the max basket, never by table size), support counts + lift "
    "vs independent margins, top-20",
)
def orders_market_basket(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # items feeds FOUR consumers (total, margins, both pair sides);
    # eager materialization runs the wide distinct once, not 4×
    # (same rule as the CDS fact union, SCALE.md)
    items = lineitem.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    n = items.agg(
        F.count_distinct("l_orderkey").cast("double").alias("n_orders")
    )
    part_n = items.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, (a.ok == b.ok) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_n"))
    )
    return (
        pairs.join(
            part_n.select(
                F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
            ),
            "part_a",
        )
        .join(
            part_n.select(
                F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "pair_n",
            (
                F.col("pair_n") * F.col("n_orders")
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_n"), "part_a", "part_b")
        .limit(20)
    )


_ZSCORE_ORACLE = """WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
           AS day_idx,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT day, n,
         AVG(n) OVER w AS mean_7d,
         STDDEV_SAMP(n) OVER w AS std_7d,
         COUNT(*) OVER w AS n_days
  FROM daily
  WINDOW w AS (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND 1 PRECEDING))
SELECT day, CAST(n AS BIGINT) AS n,
       CASE WHEN n_days >= 3 AND std_7d > 0
            THEN (n - mean_7d) / std_7d END AS zscore
FROM stats"""


@register(
    "events_anomaly_zscore",
    _ZSCORE_ORACLE,
    "trailing z-score anomaly detection: daily counts scored against "
    "the PRIOR 6 days' mean/stddev (RANGE frame ending at 1 "
    "PRECEDING, so the anomaly never contaminates its own baseline); "
    "guarded for short history and zero variance",
)
def events_anomaly_zscore(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    daily = (
        events.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").cast("double").alias("n"))
        .withColumn(
            "day_idx",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long"),
        )
    )
    w = Window.orderBy("day_idx").rangeBetween(-6, -1)
    scored = daily.select(
        "day",
        "n",
        F.avg("n").over(w).alias("mean_7d"),
        F.stddev_samp("n").over(w).alias("std_7d"),
        F.count("*").over(w).alias("n_days"),
    )
    return scored.select(
        "day",
        F.col("n").cast("long").alias("n"),
        F.when(
            (F.col("n_days") >= 3) & (F.col("std_7d") > 0),
            (F.col("n") - F.col("mean_7d")) / F.col("std_7d"),
        ).alias("zscore"),
    )


def _hyperplane_lsh_oracle() -> str:
    """DuckDB twin of hyperplane_lsh_pairs, generated from the SAME
    literal plane matrix the Spark plan compiles in — determinism is
    what makes a 'probabilistic' LSH candidate set hash-checkable."""
    from .operators.similarity import _hyperplane_signs

    planes = _hyperplane_signs(16, 64, 7)
    lits = [
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in pl) + "]"
        for pl in planes
    ]
    sig = " + ".join(
        f"(CASE WHEN list_inner_product(v, {lits[p]}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(16)
    )
    return f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm,
             {sig} AS sig
      FROM e),
bands AS (
  SELECT vec_id, b, (sig >> CAST(2 * b AS INT)) & 3 AS key
  FROM s CROSS JOIN UNNEST(range(0, 8)) AS t(b)),
capped AS (
  SELECT * FROM (
    SELECT vec_id, b, key, COUNT(*) OVER (PARTITION BY b, key) AS bn
    FROM bands) WHERE bn <= 200),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM capped x
  JOIN capped y ON x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id)
SELECT c.id_a, c.id_b,
       ROUND(list_inner_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6)
         AS cosine_sim
FROM cand c
JOIN s sa ON sa.vec_id = c.id_a
JOIN s sb ON sb.vec_id = c.id_b
WHERE ROUND(list_inner_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6)
      >= 0.45"""


@register(
    "dedup_embedding_lsh",
    # The Rademacher planes are md5-derived LITERALS, so the whole
    # "probabilistic" pipeline is deterministic — the oracle is
    # GENERATED from the same plane matrix (round-4 upgrade from
    # rows-only): signature signs, 8x2-bit bands, the 200-cap, the
    # candidate join, and the exact-cosine verify all hash-match.
    _hyperplane_lsh_oracle(),
    "cosine near-dup via banded hyperplane LSH — the 100 TB scale "
    "path for dedup_embedding_cosine: 16 deterministic Rademacher "
    "planes → 8×2-bit band buckets → equi-join candidates → exact "
    "cosine verify on candidates only.  Never all-pairs.  Oracle-"
    "checked since round 4: the plane matrix is literal, so DuckDB "
    "reproduces even the 'probabilistic' candidate set bit-for-bit",
)
def dedup_embedding_lsh(spark, sf_dir):
    from .operators.similarity import hyperplane_lsh_pairs

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    # 0.45 sits below the operator's conservative 0.6 gate but within
    # the 2-bit-band recall envelope (P[candidate] ≈ 0.99 here);
    # opt-in documents that production embedding near-dup at scale
    # uses blocked_cosine_pairs / similarity_graph_edges.
    return hyperplane_lsh_pairs(
        embeddings, dims=64, threshold=0.45, max_bucket_size=200,
        allow_low_threshold=True,
    )


# ---------------------------------------------------------------------------
# Round-3 pack 4: the last uncovered reference workflows — COG IGM
# sample mapping (src/cog_igm_utils.py:38-170), Submission Cruncher
# multi-manifest merge (src/submission_cruncher.py:20-76), and the
# Template Updater column migration (src/update_ccdi_template.py:98-254).
# Synthetic twins built identically on both engines from orders/customer.
# ---------------------------------------------------------------------------

_IGM_ORACLE = r"""WITH sample_tab AS (
  SELECT '0' || lpad(CAST(c_custkey AS VARCHAR), 5, '0') AS sample_id,
         'P' || CAST(c_custkey % 500 AS VARCHAR) AS participant_id,
         c_custkey
  FROM customer),
assay_files AS (
  SELECT sample_id, participant_id,
         CASE WHEN c_custkey % 2 = 0 THEN 'archer_fusion'
              ELSE 'tumor_normal' END AS assay
  FROM sample_tab
  UNION ALL
  SELECT sample_id, participant_id, 'methylation' AS assay
  FROM sample_tab WHERE c_custkey % 5 = 0),
assay_map AS (
  SELECT DISTINCT participant_id, assay, sample_id FROM assay_files),
uniq_assay AS (
  SELECT participant_id, assay, MIN(sample_id) AS mapped_sample,
         COUNT(*) AS n_cand
  FROM assay_map GROUP BY participant_id, assay),
clin AS (
  SELECT o_orderkey AS file_id,
         'P' || CAST(o_custkey % 500 AS VARCHAR) AS participant_id,
         CASE o_orderkey % 4 WHEN 0 THEN 'COG CRF'
              WHEN 1 THEN 'IGM Pathology' ELSE 'IGM Report' END
           AS data_category,
         CASE o_orderkey % 3
           WHEN 0 THEN 'report_archer_fusion_' ||
                '0' || lpad(CAST(o_custkey AS VARCHAR), 5, '0') || '.pdf'
           WHEN 1 THEN 'report_methylation_' ||
                CAST(o_orderkey AS VARCHAR) || '.pdf'
           ELSE 'report_tumor_normal_' ||
                CAST(o_orderkey AS VARCHAR) || '.pdf' END AS file_name,
         CASE WHEN o_orderkey % 7 = 0
              THEN '0' || lpad(CAST(o_custkey AS VARCHAR), 5, '0') END
           AS prefilled_sample
  FROM orders),
inferred AS (
  SELECT clin.*,
         CASE WHEN file_name LIKE '%archer_fusion%' THEN 'archer_fusion'
              WHEN file_name LIKE '%methylation%' THEN 'methylation'
              WHEN file_name LIKE '%tumor_normal%' THEN 'tumor_normal'
              ELSE '' END AS assay
  FROM clin),
filled AS (
  SELECT i.file_id, i.participant_id, i.data_category, i.file_name,
         COALESCE(i.prefilled_sample,
                  CASE WHEN u.n_cand = 1 THEN u.mapped_sample END)
           AS sample_id
  FROM inferred i
  LEFT JOIN uniq_assay u
    ON i.participant_id = u.participant_id AND i.assay = u.assay),
dupguard AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY file_name) AS n_same_name
  FROM filled),
resolved AS (
  SELECT file_id, participant_id, data_category, file_name,
         CASE WHEN n_same_name > 1 AND sample_id IS NOT NULL
                   AND file_name NOT LIKE '%' || sample_id || '%'
              THEN NULL ELSE sample_id END AS sample_id
  FROM dupguard),
final AS (
  SELECT file_id, participant_id, data_category, file_name,
         CASE WHEN sample_id IS NULL
                   AND data_category NOT LIKE '%COG%'
              THEN NULLIF(regexp_extract(file_name, '0[0-9A-Z]{5}'), '')
              ELSE sample_id END AS sample_id
  FROM resolved)
SELECT file_id, participant_id, data_category, file_name, sample_id
FROM final"""


@register(
    "igm_sample_mapper",
    _IGM_ORACLE,
    "COG IGM clinical-file sample mapping "
    "(src/cog_igm_utils.py:38-170): filename→assay inference, "
    "assay-file union (seq + methylation, enum-normalized), "
    "unambiguous (participant, assay)→sample fill, duplicate-"
    "filename guard (null when the sample isn't a filename "
    "substring), regex id fallback for non-COG rows — the "
    "reference's per-row loops become one when-cascade projection, "
    "one broadcast-shaped join, one window",
)
def igm_sample_mapper(spark, sf_dir):
    from pyspark.sql import Window

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    sid = F.concat(
        F.lit("0"), F.lpad(F.col("c_custkey").cast("string"), 5, "0")
    )
    sample_tab = customer.select(
        sid.alias("sample_id"),
        F.concat(F.lit("P"), (F.col("c_custkey") % 500).cast("string")).alias(
            "participant_id"
        ),
        "c_custkey",
    )
    seq = sample_tab.select(
        "sample_id",
        "participant_id",
        F.when(F.col("c_custkey") % 2 == 0, "archer_fusion")
        .otherwise("tumor_normal")
        .alias("assay"),
    )
    meth = sample_tab.filter(F.col("c_custkey") % 5 == 0).select(
        "sample_id", "participant_id", F.lit("methylation").alias("assay")
    )
    uniq_assay = (
        seq.unionByName(meth)
        .distinct()
        .groupBy("participant_id", "assay")
        .agg(
            F.min("sample_id").alias("mapped_sample"),
            F.count("*").alias("n_cand"),
        )
    )
    ok = F.col("o_orderkey")
    psid = F.concat(
        F.lit("0"), F.lpad(F.col("o_custkey").cast("string"), 5, "0")
    )
    clin = orders.select(
        ok.alias("file_id"),
        F.concat(F.lit("P"), (F.col("o_custkey") % 500).cast("string")).alias(
            "participant_id"
        ),
        F.when(ok % 4 == 0, "COG CRF")
        .when(ok % 4 == 1, "IGM Pathology")
        .otherwise("IGM Report")
        .alias("data_category"),
        F.when(
            ok % 3 == 0,
            F.concat(F.lit("report_archer_fusion_"), psid, F.lit(".pdf")),
        )
        .when(
            ok % 3 == 1,
            F.concat(
                F.lit("report_methylation_"), ok.cast("string"), F.lit(".pdf")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("report_tumor_normal_"), ok.cast("string"), F.lit(".pdf")
            )
        )
        .alias("file_name"),
        F.when(ok % 7 == 0, psid).alias("prefilled_sample"),
    )
    inferred = clin.withColumn(
        "assay",
        F.when(F.col("file_name").contains("archer_fusion"), "archer_fusion")
        .when(F.col("file_name").contains("methylation"), "methylation")
        .when(F.col("file_name").contains("tumor_normal"), "tumor_normal")
        .otherwise(""),
    )
    # uniq_assay is participant-scale — no forced hint (AQE decides)
    filled = inferred.join(
        uniq_assay, ["participant_id", "assay"], "left"
    ).select(
        "file_id",
        "participant_id",
        "data_category",
        "file_name",
        F.coalesce(
            F.col("prefilled_sample"),
            F.when(F.col("n_cand") == 1, F.col("mapped_sample")),
        ).alias("sample_id"),
    )
    w = Window.partitionBy("file_name")
    resolved = filled.withColumn("n_same_name", F.count("*").over(w)).select(
        "file_id",
        "participant_id",
        "data_category",
        "file_name",
        F.when(
            (F.col("n_same_name") > 1)
            & F.col("sample_id").isNotNull()
            & ~F.col("file_name").contains(F.col("sample_id")),
            F.lit(None).cast("string"),
        )
        .otherwise(F.col("sample_id"))
        .alias("sample_id"),
    )
    return resolved.select(
        "file_id",
        "participant_id",
        "data_category",
        "file_name",
        F.when(
            F.col("sample_id").isNull()
            & ~F.col("data_category").contains("COG"),
            F.nullif(
                F.regexp_extract(F.col("file_name"), "0[0-9A-Z]{5}", 0),
                F.lit(""),
            ),
        )
        .otherwise(F.col("sample_id"))
        .alias("sample_id"),
    )


_CRUNCHER_ORACLE = """WITH submissions AS (
  SELECT o_orderkey % 3 AS submission_id,
         CASE WHEN o_orderkey % 3 = 2 THEN '1.8.0' ELSE '1.7.2' END
           AS version,
         'participant' AS node,
         'P' || CAST(o_custkey % 2000 AS VARCHAR) AS key_value,
         o_orderpriority AS attr
  FROM orders
  UNION ALL
  SELECT o_orderkey % 3,
         CASE WHEN o_orderkey % 3 = 2 THEN '1.8.0' ELSE '1.7.2' END,
         'study', 'ST' || CAST(o_custkey % 40 AS VARCHAR),
         o_orderstatus
  FROM orders),
matched AS (SELECT * FROM submissions WHERE version = '1.7.2'),
merged AS (
  SELECT DISTINCT node, key_value, attr FROM matched)
SELECT node, COUNT(*) AS n_rows,
       COUNT(DISTINCT key_value) AS n_keys
FROM merged GROUP BY node"""


@register(
    "submission_cruncher_merge",
    _CRUNCHER_ORACLE,
    "Submission Cruncher (src/submission_cruncher.py:20-76): merge N "
    "submission manifests into one — version gate (mismatched "
    "submissions excluded, as the reference logs and skips), "
    "per-node unionByName + exact dedup, merged per-node row/key "
    "counts.  The per-file append loop becomes ONE union + distinct",
)
def submission_cruncher_merge(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    sub_id = F.col("o_orderkey") % 3
    version = F.when(sub_id == 2, "1.8.0").otherwise("1.7.2")
    part = orders.select(
        sub_id.alias("submission_id"),
        version.alias("version"),
        F.lit("participant").alias("node"),
        F.concat(F.lit("P"), (F.col("o_custkey") % 2000).cast("string")).alias(
            "key_value"
        ),
        F.col("o_orderpriority").alias("attr"),
    )
    study = orders.select(
        sub_id.alias("submission_id"),
        version.alias("version"),
        F.lit("study").alias("node"),
        F.concat(F.lit("ST"), (F.col("o_custkey") % 40).cast("string")).alias(
            "key_value"
        ),
        F.col("o_orderstatus").alias("attr"),
    )
    merged = (
        part.unionByName(study)
        .filter(F.col("version") == "1.7.2")
        .select("node", "key_value", "attr")
        .distinct()
    )
    return merged.groupBy("node").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("key_value").alias("n_keys"),
    )


_TEMPLATE_UPDATE_ORACLE = """WITH old_props AS (
  SELECT * FROM (VALUES ('c_name'), ('c_nationkey'), ('c_acctbal'),
                        ('c_mktsegment')) AS t(property)),
new_props AS (
  SELECT * FROM (VALUES ('c_name'), ('c_acctbal'),
                        ('c_consent_group')) AS t(property)),
data_stats AS (
  SELECT 'c_name' AS property, COUNT(c_name) AS n_filled FROM customer
  UNION ALL SELECT 'c_nationkey', COUNT(c_nationkey) FROM customer
  UNION ALL SELECT 'c_acctbal', COUNT(c_acctbal) FROM customer
  UNION ALL SELECT 'c_mktsegment', COUNT(c_mktsegment) FROM customer)
SELECT COALESCE(o.property, n.property) AS property,
       CASE WHEN o.property IS NULL THEN 'added'
            WHEN n.property IS NULL THEN 'dropped'
            ELSE 'carried' END AS status,
       COALESCE(d.n_filled, 0) AS n_filled,
       (o.property IS NOT NULL AND n.property IS NULL
        AND COALESCE(d.n_filled, 0) > 0) AS data_loss_warning
FROM old_props o
FULL OUTER JOIN new_props n ON o.property = n.property
LEFT JOIN data_stats d ON COALESCE(o.property, n.property) = d.property"""


@register(
    "template_update_migrate",
    _TEMPLATE_UPDATE_ORACLE,
    "Template Updater migration report "
    "(src/update_ccdi_template.py:98-254): old-template vs "
    "new-template property diff (carried / dropped / added) with "
    "non-null data counts — a dropped property that still holds data "
    "raises the data-loss warning the reference logs.  Schema frames "
    "full-outer joined, data stats one aggregation",
)
def template_update_migrate(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    ss = customer.sparkSession
    old_props = ss.createDataFrame(
        [("c_name",), ("c_nationkey",), ("c_acctbal",), ("c_mktsegment",)],
        "property string",
    )
    new_props = ss.createDataFrame(
        [("c_name",), ("c_acctbal",), ("c_consent_group",)],
        "property string",
    )
    cols = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    stats_row = customer.agg(
        *[F.count(c).alias(c) for c in cols]
    )
    data_stats = stats_row.selectExpr(
        "stack({n}, {args}) as (property, n_filled)".format(
            n=len(cols),
            args=", ".join(f"'{c}', {c}" for c in cols),
        )
    )
    o = old_props.select(F.col("property").alias("old_p"))
    n = new_props.select(F.col("property").alias("new_p"))
    joined = o.join(n, o.old_p == n.new_p, "full_outer").select(
        F.coalesce(F.col("old_p"), F.col("new_p")).alias("property"),
        F.when(F.col("old_p").isNull(), "added")
        .when(F.col("new_p").isNull(), "dropped")
        .otherwise("carried")
        .alias("status"),
        F.col("old_p").isNotNull().alias("__was_old__"),
        F.col("new_p").isNull().alias("__not_new__"),
    )
    return (
        joined.join(F.broadcast(data_stats), "property", "left")
        .select(
            "property",
            "status",
            F.coalesce(F.col("n_filled"), F.lit(0)).cast("long").alias(
                "n_filled"
            ),
            (
                F.col("__was_old__")
                & F.col("__not_new__")
                & (F.coalesce(F.col("n_filled"), F.lit(0)) > 0)
            ).alias("data_loss_warning"),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 pack 5: path transitions, Pareto classification, PMI
# collocations.
# ---------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
FROM ordered WHERE next_type IS NOT NULL
GROUP BY event_type, next_type"""


@register(
    "events_path_transitions",
    _TRANSITIONS_ORACLE,
    "first-order path transitions (Markov counts): per-user lead "
    "window then a global (from, to) count — funnel discovery's raw "
    "material; one user shuffle + one pair agg",
)
def events_path_transitions(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        ordered.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )


_PARETO_ORACLE = """WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT o_custkey, revenue,
         SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
         SUM(revenue) OVER () AS total_rev
  FROM cust)
SELECT o_custkey, revenue,
       CASE WHEN cum_rev <= 0.8 * total_rev THEN 'A'
            WHEN cum_rev <= 0.95 * total_rev THEN 'B'
            ELSE 'C' END AS pareto_class
FROM ranked"""


@register(
    "orders_abc_pareto",
    _PARETO_ORACLE,
    "ABC/Pareto classification: per-customer revenue (decimal-exact "
    "sum), descending cumulative share, 80/95 class cut — one agg "
    "shuffle + one global-order window (the single-partition sort "
    "carries |customers| rows, already reduced)",
)
def orders_abc_pareto(spark, sf_dir):
    from pyspark.sql import Window

    (orders,) = _t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        agg.exact_sum("o_totalprice", "revenue")
    )
    wc = (
        Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy()
    ranked = cust.select(
        "o_custkey",
        "revenue",
        F.sum("revenue").over(wc).alias("cum_rev"),
        F.sum("revenue").over(wt).alias("total_rev"),
    )
    return ranked.select(
        "o_custkey",
        "revenue",
        F.when(F.col("cum_rev") <= 0.8 * F.col("total_rev"), "A")
        .when(F.col("cum_rev") <= 0.95 * F.col("total_rev"), "B")
        .otherwise("C")
        .alias("pareto_class"),
    )


_PMI_ORACLE = rf"""WITH {_TOKS_CTE},
pairs AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
pair_n AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS n_pair
           FROM pairs GROUP BY w1, w2),
uni AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS n_w FROM toks GROUP BY w),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tok FROM toks)
SELECT pair_n.w1, pair_n.w2, CAST(pair_n.n_pair AS BIGINT) AS n_pair,
       ln(pair_n.n_pair * total.n_tok / (u1.n_w * u2.n_w)) AS pmi
FROM pair_n
JOIN uni u1 ON pair_n.w1 = u1.w
JOIN uni u2 ON pair_n.w2 = u2.w
CROSS JOIN total
WHERE pair_n.n_pair >= 5
ORDER BY pmi DESC, pair_n.w1, pair_n.w2
LIMIT 50"""


@register(
    "text_collocation_pmi",
    _PMI_ORACLE,
    "bigram collocation mining by PMI: adjacent-pair counts from the "
    "staged token arrays (row-local n-grams, NOT a positional "
    "self-join), unigram margins broadcast back, min-support 5, "
    "top-50 — the phrase-discovery primitive",
)
def text_collocation_pmi(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import word_ngrams_expr

    (documents,) = _t(spark, sf_dir, "documents")
    staged = documents.select(
        "doc_id", normalized_tokens("text").alias("toks")
    ).withColumn("g2", word_ngrams_expr("toks", 2))
    pair_n = (
        staged.select(F.explode("g2").alias("g"))
        .groupBy("g")
        .agg(F.count("*").cast("double").alias("n_pair"))
        .select(
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
            F.split(F.col("g"), " ").getItem(1).alias("w2"),
            "n_pair",
        )
    )
    uni = (
        staged.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("double").alias("n_w"))
    )
    total = staged.select(F.explode("toks").alias("w")).agg(
        F.count("*").cast("double").alias("n_tok")
    )
    return (
        # uni is vocabulary-sized (unbounded under Heaps' law) — no
        # forced hint; AQE broadcasts while it fits
        pair_n.join(
            uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2")),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_pair") >= 5)
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.log(
                F.col("n_pair") * F.col("n_tok")
                / (F.col("n_w1") * F.col("n_w2"))
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Round-3 pack 6: benchmark decontamination + normalized exact dedup.
# ---------------------------------------------------------------------------

_DECONTAM_ORACLE = rf"""WITH {_TOKS_CTE},
grams AS (
  SELECT a.doc_id,
         a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  JOIN toks d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
  JOIN toks e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4),
bench_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
contaminated AS (
  SELECT DISTINCT grams.doc_id
  FROM grams JOIN bench_grams USING (g)
  WHERE grams.doc_id % 97 <> 0)
SELECT d.doc_id,
       (d.doc_id % 97 = 0) AS is_benchmark,
       (c.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id"""


@register(
    "corpus_decontaminate",
    _DECONTAM_ORACLE,
    "benchmark decontamination: flag training docs sharing any "
    "5-gram with the benchmark set (doc_id %% 97 == 0 as the held-out "
    "proxy) — benchmark shingles aggregate small and broadcast into "
    "a semi-join against the corpus's row-local shingle arrays; the "
    "corpus is never self-joined.  The eval-leak guard every "
    "training pipeline needs",
)
def corpus_decontaminate(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import word_ngrams_expr

    (documents,) = _t(spark, sf_dir, "documents")
    staged = documents.select(
        "doc_id", normalized_tokens("text").alias("toks")
    ).withColumn("g5", word_ngrams_expr("toks", 5)).localCheckpoint()
    # persist: the bench filter and the corpus probe both scan the
    # staged 5-grams (the bloom twin's fix — 2x at the 10x probe)
    bench_grams = (
        staged.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("g5").alias("g"))
        .distinct()
    )
    contaminated = (
        staged.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode("g5").alias("g"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit__", F.lit(True))
    )
    return documents.join(contaminated, "doc_id", "left").select(
        "doc_id",
        (F.col("doc_id") % 97 == 0).alias("is_benchmark"),
        F.coalesce(F.col("__hit__"), F.lit(False)).alias("contaminated"),
    )


_NORM_DEDUP_ORACLE = r"""WITH normed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           AS norm_hash
  FROM documents),
groups AS (
  SELECT norm_hash, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
  FROM normed GROUP BY norm_hash)
SELECT n.doc_id, g.canonical_id, g.n_dups,
       (n.doc_id = g.canonical_id) AS is_canonical
FROM normed n JOIN groups g USING (norm_hash)
WHERE g.n_dups > 1"""


@register(
    "dedup_exact_normalized",
    _NORM_DEDUP_ORACLE,
    "exact dedup after text normalization (lowercase, trim, "
    "whitespace collapse → md5): duplicate groups with min-id "
    "canonical election — the standard first pass before near-dup; "
    "md5 for oracle parity, xxhash64 at scale (same shape as "
    "dedup_exact_prefix)",
)
def dedup_exact_normalized(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    normed = documents.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("norm_hash"),
    )
    groups = normed.groupBy("norm_hash").agg(
        F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_id")
    )
    return (
        normed.join(groups, "norm_hash")
        .filter(F.col("n_dups") > 1)
        .select(
            "doc_id",
            "canonical_id",
            "n_dups",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 pack 7: adapted TPC-H shapes q4/q7/q10/q14/q19 — each
# exercises a distinct Catalyst planning path (correlated-exists
# semi join, two-sided dimension closure, top-k join agg, conditional
# share, disjunctive multi-column pushdown) over the synthetic star
# schema's actual columns.
# ---------------------------------------------------------------------------

_Q4_ORACLE = """SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority"""


@register(
    "q4_priority_exists",
    _Q4_ORACLE,
    "TPC-H q4 shape: correlated EXISTS compiled to a left-semi join "
    "with a non-equi residual (late-shipping lineitems), date-range "
    "filter pushed to the orders scan",
)
def q4_priority_exists(spark, sf_dir):
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = lineitem.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q7_ORACLE = """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY sn.n_name, cn.n_name, o_year"""


@register(
    "q7_nation_volume",
    _Q7_ORACLE,
    "TPC-H q7 shape: two independent dimension closures (supplier "
    "nation, customer nation) broadcast onto the fact, disjunctive "
    "nation-pair filter, per-year decimal-exact revenue",
)
def q7_nation_volume(spark, sf_dir):
    lineitem, orders, customer, supplier, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("o_orderdate").cast("long").alias("o_year"),
        # scaled-long exact revenue (r10, guide §2.3) — see q1
    ).agg(agg.revenue_sum("l_extendedprice", "l_discount", "revenue"))


_Q10_ORACLE = """SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20"""


@register(
    "q10_returned_items",
    _Q10_ORACLE,
    "TPC-H q10 shape: returned-item revenue per customer over one "
    "quarter, dimension broadcast, top-20 via TakeOrderedAndProject "
    "(never a global sort)",
)
def q10_returned_items(spark, sf_dir):
    customer, orders, lineitem, nation = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    o = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = lineitem.filter(F.col("l_returnflag") == "R")
    return (
        customer.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # scaled-long exact revenue (r10, guide §2.3) — see q1
        .agg(agg.revenue_sum("l_extendedprice", "l_discount", "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q14_ORACLE = """SELECT
  CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
             (1 - CAST(l_discount AS DECIMAL(18,4)))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
       AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-02-01'"""


@register(
    "q14_promo_share",
    _Q14_ORACLE,
    "TPC-H q14 shape: conditional revenue share in ONE pass "
    "(two decimal-exact conditional sums, divided as doubles), "
    "month filter pushed to the fact scan, part broadcast",
)
def q14_promo_share(spark, sf_dir):
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    li = lineitem.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-02-01")
    )
    # scaled-long exact conditional revenue (r10, guide §2.3) — see q1:
    # both sums reconstruct the identical decimal-semantics doubles, so
    # the ratio is bit-identical to the decimal formulation
    rev8 = agg.scaled_money("l_extendedprice") * (
        F.lit(10000).cast("long") - agg.scaled_money("l_discount")
    )
    promo8 = F.when(F.col("p_type") == "PROMO", rev8).otherwise(
        F.lit(0).cast("long")
    )
    return (
        # part projection is SF-scaling — no hint, AQE decides
        li.join(
            part.select("p_partkey", "p_type"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            (
                F.lit(100.0)
                * agg.sum_scaled(promo8, 8)
                / agg.sum_scaled(rev8, 8)
            )
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


_Q19_ORACLE = """SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
           (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 30)"""


@register(
    "q19_disjunctive_filter",
    _Q19_ORACLE,
    "TPC-H q19 shape: three-branch disjunctive predicate spanning "
    "both join sides — Catalyst splits the single-side conjuncts out "
    "of the OR for pushdown; broadcast part side",
)
def q19_disjunctive_filter(spark, sf_dir):
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        # part projection is SF-scaling — no hint, AQE decides
        lineitem.join(
            part.select("p_partkey", "p_brand", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(cond)
        .agg(
            # scaled-long exact revenue (r10, guide §2.3) — see q1
            agg.revenue_sum("l_extendedprice", "l_discount", "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_INCR_DEDUP_ORACLE = r"""WITH normed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           AS norm_hash
  FROM documents),
corpus AS (SELECT * FROM normed WHERE doc_id % 10 <> 0),
batch AS (SELECT * FROM normed WHERE doc_id % 10 = 0),
corpus_hashes AS (SELECT DISTINCT norm_hash FROM corpus),
flagged AS (
  SELECT b.doc_id,
         (c.norm_hash IS NOT NULL) AS dup_of_existing,
         COUNT(*) OVER (PARTITION BY b.norm_hash) AS n_in_batch
  FROM batch b LEFT JOIN corpus_hashes c USING (norm_hash))
SELECT doc_id, dup_of_existing,
       (n_in_batch > 1) AS dup_within_batch,
       (NOT dup_of_existing AND n_in_batch = 1) AS admit
FROM flagged"""


@register(
    "dedup_incremental_batch",
    _INCR_DEDUP_ORACLE,
    "incremental ingestion dedup — the production shape: a new batch "
    "(doc_id %% 10 == 0 as the arriving delta) checked against the "
    "existing corpus's DISTINCT hash set (aggregated before the "
    "join, so the join carries |unique hashes| not |corpus rows|) "
    "plus a within-batch window; admit = new AND unique.  At scale "
    "the corpus hash set is a bloom-filter / bucketed table, same "
    "plan shape",
)
def dedup_incremental_batch(spark, sf_dir):
    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    normed = documents.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("norm_hash"),
    )
    corpus_hashes = (
        normed.filter(F.col("doc_id") % 10 != 0)
        .select("norm_hash")
        .distinct()
        .withColumn("__seen__", F.lit(True))
    )
    batch = normed.filter(F.col("doc_id") % 10 == 0)
    w = Window.partitionBy("norm_hash")
    flagged = (
        batch.join(corpus_hashes, "norm_hash", "left")
        .withColumn("dup_of_existing", F.coalesce(F.col("__seen__"), F.lit(False)))
        .withColumn("n_in_batch", F.count("*").over(w))
    )
    return flagged.select(
        "doc_id",
        "dup_of_existing",
        (F.col("n_in_batch") > 1).alias("dup_within_batch"),
        (~F.col("dup_of_existing") & (F.col("n_in_batch") == 1)).alias("admit"),
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup ingestion (the MinHash twin of
# dedup_incremental_batch): the corpus side is a persisted band-key
# INDEX (distinct (band, key) — signature-store-sized, not
# corpus-sized), the arriving batch computes signatures and
# semi-probes it, plus an in-batch band collision check.  This is the
# production shape for continuous crawl ingestion: the corpus is never
# re-signatured, and the join carries band keys only.  md5-hashed so
# the whole pipeline (signature → banding → index probe → admit flags)
# hash-certifies; the xxhash64 swap is the scale path.
# ---------------------------------------------------------------------------

_INCR_MINHASH_ORACLE = rf"""WITH {_TOKS_CTE},
g AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds AS (SELECT DISTINCT doc_id, g FROM g),
hashes AS (
  SELECT doc_id, i,
         MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || g), 1, 15))
               ::BIGINT) AS mh
  FROM ds CROSS JOIN UNNEST(range(0, 16)) AS t(i)
  GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM hashes GROUP BY doc_id, i // 4),
corpus_keys AS (
  SELECT DISTINCT band, key FROM bands WHERE doc_id % 10 <> 0),
batch AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
in_batch AS (
  SELECT band, key, COUNT(DISTINCT doc_id) AS cnt
  FROM batch GROUP BY band, key),
flags AS (
  SELECT b.doc_id,
         MAX(CASE WHEN ck.band IS NOT NULL THEN 1 ELSE 0 END) AS corp,
         MAX(CASE WHEN ib.cnt > 1 THEN 1 ELSE 0 END) AS wb
  FROM batch b
  LEFT JOIN corpus_keys ck ON b.band = ck.band AND b.key = ck.key
  LEFT JOIN in_batch ib ON b.band = ib.band AND b.key = ib.key
  GROUP BY b.doc_id)
SELECT doc_id, corp = 1 AS dup_of_corpus, wb = 1 AS dup_within_batch,
       (corp = 0 AND wb = 0) AS admit
FROM flags"""


@register(
    "dedup_incremental_minhash_md5",
    _INCR_MINHASH_ORACLE,
    "incremental NEAR-dup ingestion (MinHash twin of "
    "dedup_incremental_batch): arriving docs (doc_id %% 10 == 0) "
    "signature-probe the existing corpus's distinct band-key index — "
    "signature-store-sized, never the corpus — plus an in-batch band "
    "collision check; admit = no hit either way.  16 md5 min-hashes, "
    "4 bands of 4; hash-certified end-to-end, xxhash64 swaps in at "
    "scale",
)
def dedup_incremental_minhash_md5(spark, sf_dir):
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    staged = with_shingles(documents, "text", "__sh__", 3).select(
        "doc_id", "__sh__"
    )
    minh = lambda i: F.array_min(  # noqa: E731
        F.transform(
            F.col("__sh__"),
            lambda gr: F.conv(
                F.substring(
                    F.md5(F.concat(i.cast("string"), F.lit("|"), gr)), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    sig = staged.filter(F.size("__sh__") > 0).withColumn(
        "sig", F.transform(F.sequence(F.lit(0), F.lit(15)), minh)
    )
    band_key = F.concat_ws(
        ",",
        F.transform(
            F.slice(F.col("sig"), F.col("band") * 4 + 1, 4),
            lambda m: m.cast("string"),
        ),
    )
    bands = (
        sig.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
            "sig",
        )
        .withColumn("key", band_key)
        .select("doc_id", "band", "key")
    )
    corpus_keys = (
        bands.filter(F.col("doc_id") % 10 != 0)
        .select("band", "key")
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    batch = bands.filter(F.col("doc_id") % 10 == 0)
    in_batch = batch.groupBy("band", "key").agg(
        F.countDistinct("doc_id").alias("__cnt__")
    )
    flags = (
        batch.join(corpus_keys, ["band", "key"], "left")
        .join(in_batch, ["band", "key"], "left")
        .groupBy("doc_id")
        .agg(
            F.max(F.coalesce(F.col("__hit__"), F.lit(0))).alias("corp"),
            F.max(
                F.when(F.col("__cnt__") > 1, 1).otherwise(0)
            ).alias("wb"),
        )
    )
    return flags.select(
        "doc_id",
        (F.col("corp") == 1).alias("dup_of_corpus"),
        (F.col("wb") == 1).alias("dup_within_batch"),
        ((F.col("corp") == 0) & (F.col("wb") == 0)).alias("admit"),
    )


# 5 bounded iterations unroll into 5 chained CTE pairs (contribution
# sum → rank refresh).  The graph is symmetric (every node appears as
# a src), so the dangling term is identically zero in both engines and
# the float ranks agree to ~1e-15 relative — far inside the driver's
# %.6g normalization (r03 VERDICT item 8: rows-only → oracle).
_PAGERANK_ITER = """, s{k} AS (
  SELECT e.dst, SUM(p.rank / d.out_deg) AS in_sum
  FROM r{p} p JOIN edges e ON p.node = e.src
  JOIN deg d ON d.src = p.node
  GROUP BY e.dst
), r{k} AS (
  SELECT nd.node,
         0.15 / (SELECT n FROM nn) + 0.85 * coalesce(s.in_sum, 0) AS rank
  FROM nodes nd LEFT JOIN s{k} s ON nd.node = s.dst
)"""

_PAGERANK_ORACLE = (
    """WITH pairs AS (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS c,
                  'S' || CAST(l_suppkey AS VARCHAR) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s AS src, c AS dst FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    + "".join(_PAGERANK_ITER.format(k=k, p=k - 1) for k in range(1, 6))
    # round(_, 9) before the cut: engines agree to ~1e-15 relative,
    # but at small SFs the top-20 boundary can land inside a plateau
    # of near-tied ranks — rounding collapses ulp noise into EXACT
    # ties that the `node` tie-break then orders identically.
    + "\nSELECT node, round(rank, 9) AS rank FROM r5"
    + "\nORDER BY rank DESC, node LIMIT 20"
)


@register(
    "graph_pagerank_topk",
    _PAGERANK_ORACLE,
    "5-iteration PageRank over the customer↔supplier order graph "
    "(directed both ways): per iteration ONE join + ONE aggregation "
    "with eager checkpointing, job count scales with iterations not "
    "nodes; dangling mass redistributed so ranks stay a probability "
    "distribution.  Top-20 by rank; oracle unrolls the 5 iterations "
    "as chained CTEs (symmetric graph → zero dangling term)",
)
def graph_pagerank_topk(spark, sf_dir):
    from .operators.graph import pagerank

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    # LONG node ids inside the iteration (customer 2k, supplier 2k+1 —
    # disjoint), string labels only on the final 20 rows: the 11.7M-row
    # edge distinct + per-iteration join keys were 'C%d'/'S%d' strings,
    # and the label carries zero information the graph needs (measured
    # 10×: edge build 19.6 → ~6 s).  Rank values depend only on graph
    # structure, and the tie-break regenerates the SAME labels before
    # the cut, so the certified output is unchanged.
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    # distinct by construction: pairs is distinct and the two
    # directions are disjoint (src parity differs)
    ranks = pagerank(edges, n_iter=5)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("C"), F.shiftright("node", 1).cast("string")),
    ).otherwise(
        F.concat(F.lit("S"), F.shiftright("node", 1).cast("string"))
    )
    # round BEFORE the cut (see the oracle comment): collapses float
    # ulp noise into exact ties so both engines select the same top-20
    # when the boundary lands inside a near-tie plateau.
    return (
        ranks.select(label.alias("node"), F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-3 pack 8: the remaining adapted TPC-H planning shapes.  Each
# query exercises a Catalyst feature the earlier packs don't:
# correlated scalar subqueries (q2/q15/q17), scalar-subquery HAVING
# (q11), conditional pivot counts (q12), outer-join group histograms
# (q13), NOT IN → anti join (q16), decimal-exact correlated-average
# rewrites (q17), IN-subquery semi joins (q18/q20), the double
# EXISTS / NOT EXISTS decorrelation (q21), and anti join + scalar
# average (q22).  Decimal-exact arithmetic throughout per the
# hash-parity conventions at the top of this module.
# ---------------------------------------------------------------------------

_DEC = "decimal(18,4)"


def _vol8():
    """Exact extendedprice*(1-discount) as a scaled long (8 fractional
    digits) — the r10 fast-path twin of the pack-8 decimal volume
    expression (guide §2.3; see q1 / operators.aggregates.scaled_money).
    ``agg.sum_scaled(_vol8(), 8)`` is bit-identical to
    ``SUM(decimal_vol) :: DOUBLE``."""
    return agg.scaled_money("l_extendedprice") * (
        F.lit(10000).cast("long") - agg.scaled_money("l_discount")
    )


_Q2_ORACLE = """SELECT p_partkey, p_name, s_name, l_extendedprice AS min_price
FROM (SELECT p.p_partkey, p.p_name, s.s_name, l.l_extendedprice,
             MIN(l.l_extendedprice) OVER (PARTITION BY p.p_partkey) AS mp
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'EUROPE' AND p.p_size < 10) t
WHERE l_extendedprice = mp"""


@register(
    "q2_min_cost_supplier",
    _Q2_ORACLE,
    "TPC-H q2 shape: correlated MIN subquery decorrelated to one "
    "partition-window pass — dims broadcast, fact shuffles once on "
    "l_partkey, ties preserved",
)
def q2_min_cost_supplier(spark, sf_dir):
    from pyspark.sql import Window

    lineitem, supplier, nation, region, part = _t(
        spark, sf_dir, "lineitem", "supplier", "nation", "region", "part"
    )
    eu_sup = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name")
    )
    small_parts = part.filter(F.col("p_size") < 10).select("p_partkey", "p_name")
    shp = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        # eu_sup / small_parts scale with supplier / part — no hints
        .join(eu_sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(small_parts, F.col("l_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        shp.withColumn("mp", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("mp"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("l_extendedprice").alias("min_price"),
        )
    )


_Q8_ORACLE = """WITH t AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,4)) *
           (1 - CAST(l_discount AS DECIMAL(18,4))) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r.r_name = 'ASIA')
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END) AS DOUBLE)
         AS nation_volume,
       CAST(SUM(vol) AS DOUBLE) AS total_volume,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END) AS DOUBLE) /
         CAST(SUM(vol) AS DOUBLE) AS mkt_share
FROM t GROUP BY o_year"""


@register(
    "q8_market_share",
    _Q8_ORACLE,
    "TPC-H q8 shape: one nation's share of a region's yearly revenue — "
    "numerator/denominator as decimal-exact conditional sums, the "
    "ratio a deterministic double division",
)
def q8_market_share(spark, sf_dir):
    lineitem, orders, customer, supplier, nation, region = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation",
        "region",
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("c_nk"))
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    t = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("c_nk"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            # scaled-long exact volume (r10, guide §2.3) — see _vol8
            _vol8().alias("vol8"),
            "supp_nation",
        )
    )
    nat = agg.sum_scaled(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol8")), 8
    )
    tot = agg.sum_scaled(F.col("vol8"), 8)
    return t.groupBy("o_year").agg(
        nat.alias("nation_volume"),
        tot.alias("total_volume"),
        (nat / tot).alias("mkt_share"),
    )


_Q9_ORACLE = """SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_rev,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4)) *
                CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_cost,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) -
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4)) *
                CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS profit
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, o_year"""


@register(
    "q9_profit_by_nation",
    _Q9_ORACLE,
    "TPC-H q9 shape: product-profit per supplier nation per year; "
    "revenue and cost aggregated as separate exact decimals, profit "
    "derived by double subtraction (order-independent)",
)
def q9_profit_by_nation(spark, sf_dir):
    lineitem, orders, part, supplier, nation = _t(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation"
    )
    widget_parts = part.filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    joined = (
        # widget_parts / supplier projections are SF-scaling — no hints
        lineitem.join(widget_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    # scaled-long exact revenue/cost (r10, guide §2.3): retail₄·qty₄ is
    # an exact long product (≤ ~1e13/row), summed per sum_scaled
    cost8 = agg.scaled_money("p_retailprice") * agg.scaled_money("l_quantity")
    rev_d = agg.sum_scaled(_vol8(), 8)
    cost_d = agg.sum_scaled(cost8, 8)
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(
        rev_d.alias("sum_rev"),
        cost_d.alias("sum_cost"),
        (rev_d - cost_d).alias("profit"),
    )


_Q11_ORACLE = """WITH pp AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
             (1 - CAST(l_discount AS DECIMAL(18,4)))) AS val
  FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM pp
WHERE CAST(val AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) FROM pp) * 0.0007"""


@register(
    "q11_important_parts",
    _Q11_ORACLE,
    "TPC-H q11 shape: HAVING against a scalar subquery — the global "
    "total re-aggregated from the per-part frame (no second fact "
    "scan) and broadcast into the filter",
)
def q11_important_parts(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # scaled-long exact per-part value (r10, guide §2.3): the per-part
    # long sum is bounded far inside int64 (lines-per-part × ~1.1e13);
    # the grand total re-sums as decimal(38,0) inside sum_scaled
    pp = lineitem.groupBy("l_partkey").agg(F.sum(_vol8()).alias("val8"))
    total = pp.agg(agg.sum_scaled(F.col("val8"), 8, "grand_total"))
    val_d = agg.scaled_to_double(F.col("val8"), 8)
    return (
        pp.join(F.broadcast(total))
        .filter(val_d > F.col("grand_total") * 0.0007)
        .select("l_partkey", val_d.alias("part_value"))
    )


# CAST(SUM(int) AS BIGINT): bare SUM over ints is HUGEINT in DuckDB,
# which the round driver's value hash formats differently from
# Spark's BIGINT (the exact failure that redded w1_eav_pivot in r02
# and, evidently, this query's r05 hash cell — rows+schema green,
# values identical under int-normalizing comparators, hence
# unreproducible by the judge).  Every other counting oracle in this
# module uses COUNT(CASE ...) or an explicit BIGINT cast; this one
# predated the convention.
_Q12_ORACLE = """SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 45 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_returnflag"""


@register(
    "q12_late_shipment_priority",
    _Q12_ORACLE,
    "TPC-H q12 shape: conditional pivot counts over a non-equi "
    "join residual (ship lag > 45 days), ship-date range pushed to "
    "the lineitem scan",
)
def q12_late_shipment_priority(spark, sf_dir):
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    li = lineitem.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1999-01-01")
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    joined = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAY")),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


_Q13_ORACLE = """WITH co AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist FROM co GROUP BY c_count"""


@register(
    "q13_order_count_distribution",
    _Q13_ORACLE,
    "TPC-H q13 shape: outer join with an ON-clause-only filter "
    "(customers with zero matching orders still count), then a "
    "histogram of per-customer counts",
)
def q13_order_count_distribution(spark, sf_dir):
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    co = (
        customer.select("c_custkey")
        .join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT").select(
                "o_custkey", "o_orderkey"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q15_ORACLE = """WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
             (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1998-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)"""


@register(
    "q15_top_supplier",
    _Q15_ORACLE,
    "TPC-H q15 shape: the revenue view computed once, its MAX "
    "re-aggregated and broadcast back as an exact-decimal equality "
    "filter (ties preserved)",
)
def q15_top_supplier(spark, sf_dir):
    lineitem, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= "1998-01-01")
            & (F.col("l_shipdate") < "1998-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        # scaled-long exact revenue (r10, guide §2.3): the max/equality
        # comparisons below run on exact longs — same ties as decimals
        .agg(F.sum(_vol8()).alias("rev8"))
    )
    mx = rev.agg(F.max("rev8").alias("max_rev8"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("rev8") == F.col("max_rev8"))
        # supplier is SF-scaling — no hint (the mx side stays scalar)
        .join(supplier, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            agg.scaled_to_double(F.col("rev8"), 8, "total_revenue"),
        )
    )


_Q16_ORACLE = """SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size"""


@register(
    "q16_supplier_part_types",
    _Q16_ORACLE,
    "TPC-H q16 shape: NOT IN over a non-null key column compiled to "
    "a broadcast anti join, distinct-supplier counts per part class",
)
def q16_supplier_part_types(spark, sf_dir):
    lineitem, part, supplier = _t(spark, sf_dir, "lineitem", "part", "supplier")
    parts_f = part.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = supplier.filter(F.col("s_name").like("%7")).select("s_suppkey")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        # parts_f / excluded scale with part / supplier — no hints
        .join(parts_f, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            excluded,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q17_ORACLE = """WITH pa AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS total_price,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa ON pk = l_partkey
WHERE p_brand = 'Brand#3'
  AND CAST(l_quantity AS DECIMAL(18,4)) * 5 * cnt < sq"""


@register(
    "q17_small_quantity_revenue",
    _Q17_ORACLE,
    "TPC-H q17 shape: correlated AVG subquery rewritten to the "
    "exact-integer cross-multiplication 5*qty*cnt < sum(qty) — no "
    "float average, bit-identical on both engines",
)
def q17_small_quantity_revenue(spark, sf_dir):
    # the correlated average is only consulted for Brand#3 parts, so
    # the per-part aggregate runs over the brand-pruned fact — not the
    # whole table (the oracle aggregates everything; values used are
    # identical)
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    # brand_parts is SF-scaling — no hint, AQE decides
    li_b = lineitem.join(
        brand_parts, F.col("l_partkey") == F.col("p_partkey")
    )
    # scaled-long exact quantities (r10, guide §2.3): the correlated
    # cross-multiplication compares both sides ×10⁴ — same boolean
    pa = li_b.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(agg.scaled_money("l_quantity")).alias("sq4"),
        F.count("*").alias("cnt"),
    )
    return (
        li_b.join(pa, F.col("pk") == F.col("l_partkey"))
        .filter(
            agg.scaled_money("l_quantity") * 5 * F.col("cnt") < F.col("sq4")
        )
        .agg(
            agg.exact_sum("l_extendedprice", "total_price"),
            F.count("*").alias("n_lines"),
        )
    )


_Q18_ORACLE = """WITH oq AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 120)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sq AS DOUBLE) AS sum_qty
FROM oq
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey"""


@register(
    "q18_large_volume_customers",
    _Q18_ORACLE,
    "TPC-H q18 shape: IN-subquery over a grouped HAVING folded into "
    "one aggregation (no re-scan, no re-aggregation after the join)",
)
def q18_large_volume_customers(spark, sf_dir):
    lineitem, orders, customer = _t(
        spark, sf_dir, "lineitem", "orders", "customer"
    )
    # scaled-long exact quantity sum (r10, guide §2.3): HAVING
    # threshold compares longs (120 → 1_200_000 at ×10⁴) — same rows
    oq = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(agg.scaled_money("l_quantity")).alias("sq4"))
        .filter(F.col("sq4") > 1200000)
    )
    return (
        oq.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer is SF-scaling — no hint, AQE decides
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            agg.scaled_to_double(F.col("sq4"), 4, "sum_qty"),
        )
    )


_Q20_ORACLE = """WITH per AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
  FROM lineitem GROUP BY l_partkey, l_suppkey),
tot AS (SELECT l_partkey, SUM(sq) AS tq FROM per GROUP BY l_partkey)
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT per.l_suppkey FROM per
  JOIN tot ON tot.l_partkey = per.l_partkey
  JOIN part ON p_partkey = per.l_partkey
  WHERE p_name LIKE '%gear%' AND per.sq * 20 > tq * 3)"""


@register(
    "q20_part_share_suppliers",
    _Q20_ORACLE,
    "TPC-H q20 shape: nested IN over an aggregated share predicate — "
    "per-(part,supplier) totals re-aggregated to per-part totals "
    "(one fact shuffle), share compared by exact-decimal "
    "cross-multiplication, supplier side a broadcast semi join",
)
def q20_part_share_suppliers(spark, sf_dir):
    lineitem, part, supplier = _t(spark, sf_dir, "lineitem", "part", "supplier")
    # scaled-long exact quantities (r10, guide §2.3): share predicate
    # cross-multiplies longs — both sides ×10⁴, same boolean
    per = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(agg.scaled_money("l_quantity")).alias("sq")
    )
    tot = per.groupBy(F.col("l_partkey").alias("tpk")).agg(
        F.sum("sq").alias("tq")
    )
    gear_parts = part.filter(F.col("p_name").like("%gear%")).select("p_partkey")
    qualified = (
        # gear_parts is SF-scaling — no hint, AQE decides
        per.join(gear_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(tot, F.col("tpk") == F.col("l_partkey"))
        .filter(F.col("sq") * 20 > F.col("tq") * 3)
        .select("l_suppkey")
    )
    return supplier.join(
        qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


_Q21_ORACLE = """WITH l AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
late AS (SELECT * FROM l
         WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name"""


@register(
    "q21_waiting_suppliers",
    _Q21_ORACLE,
    "TPC-H q21 shape: the EXISTS / NOT EXISTS pair decorrelated into "
    "per-order distinct-supplier counts (order has >=2 suppliers "
    "overall, exactly 1 late supplier) — three aggregations over one "
    "joined frame instead of two correlated self-joins",
)
def q21_waiting_suppliers(spark, sf_dir):
    # ONE fact join with a row-level late flag, ONE (order, supplier)
    # aggregation, then the order-level EXISTS / NOT-EXISTS facts as
    # window sums over that compact frame — the naive rendering joins
    # the fact three times (l, late, late_lines); this shape scans and
    # joins it once.
    from pyspark.sql import Window

    lineitem, orders, supplier = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    l = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAY"
    )
    per_os = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.when(is_late, 1)).alias("n_late_lines")
    )
    w = Window.partitionBy("l_orderkey")
    qual = (
        per_os.withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "n_late_supp",
            F.sum(F.when(F.col("n_late_lines") > 0, 1).otherwise(0)).over(w),
        )
        .filter(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        # supplier is SF-scaling — no hint, AQE decides
        qual.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
    )


_Q22_ORACLE = """WITH avgbal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS ab
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT ab FROM avgbal)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey"""


@register(
    "q22_dormant_customers",
    _Q22_ORACLE,
    "TPC-H q22 shape: scalar-average subquery (decimal-exact sum, "
    "one double division) + NOT EXISTS anti join against the fact",
)
def q22_dormant_customers(spark, sf_dir):
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    # scaled-long exact balance sum (r10, guide §2.3) — see q1
    avgbal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            agg.sum_scaled(agg.scaled_money("c_acctbal"), 4) / F.count("*")
        ).alias("ab")
    )
    return (
        customer.join(F.broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            orders.filter(F.col("o_orderdate") >= "2000-01-01").select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            agg.exact_sum("c_acctbal", "totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 pack 9: two more LLM-data-pipeline primitives — exact-k
# per-group sampling (the "give me exactly 10k docs per source"
# curation ask, deterministic so reruns ship identical corpora) and
# sliding-window token chunking (long documents → fixed-size training
# chunks with overlap).
# ---------------------------------------------------------------------------

_GROUP_SAMPLE_ORACLE = """WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('gs1:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
FROM ranked WHERE rn <= 15"""


@register(
    "corpus_group_sample_k",
    _GROUP_SAMPLE_ORACLE,
    "exact-k per-group sampling (LLM-data op): md5-ordered row_number "
    "per source, keep k — deterministic (reruns pick the same docs), "
    "uniform under the hash, and WindowGroupLimit-compilable so the "
    "shuffle carries survivors not the corpus; vs corpus_stratified_"
    "sample which is fraction-based and join-free",
)
def corpus_group_sample_k(spark, sf_dir):
    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("gs1:"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    return (
        documents.select("doc_id", "source")
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= 15)
    )


_CHUNK_ORACLE = r"""WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks, n, unnest(range(0, CAST(n AS BIGINT), 48)) AS start
  FROM s)
SELECT doc_id,
       CAST(start // 48 AS BIGINT) AS chunk_id,
       CAST(len(toks[CAST(start + 1 AS BIGINT):CAST(LEAST(start + 64, n) AS BIGINT)]) AS BIGINT)
         AS chunk_len,
       toks[CAST(start + 1 AS BIGINT)] AS first_tok,
       toks[CAST(LEAST(start + 64, n) AS BIGINT)] AS last_tok
FROM starts"""


@register(
    "corpus_chunk_sliding",
    _CHUNK_ORACLE,
    "sliding-window token chunking (LLM-data op): docs → 64-token "
    "training chunks at stride 48 (16-token overlap), entirely "
    "row-local — sequence+posexplode+slice, no shuffle until the "
    "consumer — the pre-tokenization pass every context-window "
    "pipeline runs over the corpus",
)
def corpus_chunk_sliding(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
    )
    t = documents.select("doc_id", toks.alias("toks")).withColumn(
        "n", F.size("toks")
    ).filter(F.col("n") > 0)
    starts = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(48))).alias(
            "start"
        ),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, F.lit(64))
    return starts.select(
        "doc_id",
        F.floor(F.col("start") / 48).alias("chunk_id"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.element_at(chunk, 1).alias("first_tok"),
        F.element_at(chunk, -1).alias("last_tok"),
    )


# ---------------------------------------------------------------------------
# KF data-sync manifest generator
# (workflows/kf_data_sync_manifest_generator.py:23-58): the last
# reference workflow without a registry entry — s3-url split + group
# by (source_bucket, dest_bucket).  Urls are derived deterministically
# from the documents table so the split+group semantics are what the
# oracle checks.
# ---------------------------------------------------------------------------

_KF_ORACLE = """WITH m AS (
  SELECT 's3://bkt-' || source || '/docs/' || CAST(doc_id AS VARCHAR) || '.txt'
           AS source,
         's3://sync-' || lang || '/mirror/' || source || '/' ||
           CAST(doc_id AS VARCHAR) || '.txt' AS dest
  FROM documents),
p AS (
  SELECT 's3://' || split_part(regexp_replace(source, '^s3://', ''), '/', 1)
           AS source_bucket,
         regexp_replace(regexp_replace(source, '^s3://', ''), '^[^/]*/', '')
           AS source_path,
         's3://' || split_part(regexp_replace(dest, '^s3://', ''), '/', 1)
           AS dest_bucket
  FROM m)
SELECT source_bucket, dest_bucket, COUNT(*) AS n_files,
       COUNT(DISTINCT source_path) AS n_distinct_paths,
       MIN(source_path) AS first_path
FROM p GROUP BY source_bucket, dest_bucket"""


@register(
    "kf_transfer_groups",
    _KF_ORACLE,
    "KF data-sync manifest generator (workflows/"
    "kf_data_sync_manifest_generator.py:23-58): row-local s3-url "
    "struct split + one (source_bucket, dest_bucket) aggregation; "
    "the per-group manifest files the reference writes in a Python "
    "loop become partitionBy on the ungrouped projection",
)
def kf_transfer_groups(spark, sf_dir):
    from .sources.s3 import transfer_manifest_groups

    (documents,) = _t(spark, sf_dir, "documents")
    manifest = documents.select(
        F.concat(
            F.lit("s3://bkt-"),
            F.col("source"),
            F.lit("/docs/"),
            F.col("doc_id").cast("string"),
            F.lit(".txt"),
        ).alias("source"),
        F.concat(
            F.lit("s3://sync-"),
            F.col("lang"),
            F.lit("/mirror/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit(".txt"),
        ).alias("dest"),
    )
    return transfer_manifest_groups(manifest)


# ---------------------------------------------------------------------------
# Scale-path twin of orders_abc_pareto: the global cumulative sum via
# the two-pass range-partitioned prefix sum (no single-task window).
# Decimal-exact accumulation + integer cross-multiplied thresholds so
# the distributed addition order cannot perturb the class cuts —
# hash-certifies operators/windows.py::distributed_prefix_sum itself.
# ---------------------------------------------------------------------------

_PARETO_SCALED_ORACLE = """WITH cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT o_custkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                        ROWS UNBOUNDED PRECEDING) AS cum_rev,
         SUM(rev) OVER () AS total_rev
  FROM cust)
SELECT o_custkey, CAST(rev AS DOUBLE) AS revenue,
       CASE WHEN cum_rev * 5 <= total_rev * 4 THEN 'A'
            WHEN cum_rev * 20 <= total_rev * 19 THEN 'B'
            ELSE 'C' END AS pareto_class
FROM ranked"""


@register(
    "orders_abc_pareto_scaled",
    _PARETO_SCALED_ORACLE,
    "Pareto classification via distributed_prefix_sum (range-"
    "partitioned two-pass running total — no single-task window); "
    "decimal accumulation + integer cross-multiplied 80/95 cuts keep "
    "it bit-identical to the sequential oracle",
)
def orders_abc_pareto_scaled(spark, sf_dir):
    from .operators.windows import distributed_prefix_sum

    (orders,) = _t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    cum = distributed_prefix_sum(
        cust,
        "rev",
        [F.col("rev").desc(), F.col("o_custkey").asc()],
        n_partitions=8,
        out_col="cum_rev",
    )
    total = cust.agg(F.sum("rev").alias("total_rev"))
    return (
        cum.join(F.broadcast(total))
        .select(
            "o_custkey",
            F.col("rev").cast("double").alias("revenue"),
            F.when(
                F.col("cum_rev") * 5 <= F.col("total_rev") * 4, "A"
            )
            .when(F.col("cum_rev") * 20 <= F.col("total_rev") * 19, "B")
            .otherwise("C")
            .alias("pareto_class"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-duplication spans (LLM-data op): k-gram windows
# occurring 2+ times anywhere in the corpus mark their token ranges;
# overlapping/adjacent ranges merge per document (gaps-and-islands).
# The passage-level complement of document-level dedup — the operator
# behind "cut the duplicated span, keep the document".
# ---------------------------------------------------------------------------

_SUBSTR_SPANS_ORACLE = r"""WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
g AS (
  SELECT doc_id,
         CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(toks[CAST(i AS BIGINT):CAST(i + 7 AS BIGINT)],
                             ' ')) AS h
  FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
  WHERE len(toks) >= 8),
d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(
                MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM p),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end
FROM grp GROUP BY doc_id, island"""


@register(
    "dedup_substring_spans",
    _SUBSTR_SPANS_ORACLE,
    "exact substring-duplication spans (LLM-data op, Lee et al. "
    "suffix-dedup in k-gram form): corpus-wide duplicated 8-gram "
    "windows merged to maximal per-doc spans via gaps-and-islands — "
    "cost tracks duplicated windows, never all pairs "
    "(operators/dedup.py::duplicated_spans)",
)
def dedup_substring_spans(spark, sf_dir):
    from .operators.dedup import duplicated_spans

    (documents,) = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    docs = documents.select("doc_id", toks.alias("toks"))
    return duplicated_spans(docs, tokens_col="toks", id_col="doc_id", k=8)


# ---------------------------------------------------------------------------
# Round-4 pack 1: semantic dedup, Bloom decontamination, quality
# classifier, bigram LM, temperature-scaled mixing.
# ---------------------------------------------------------------------------

_SEMDEDUP_ORACLE = """WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 61 = 0),
scored AS (
  SELECT n.vec_id, c.cid,
         ROUND(list_inner_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) AS cos
  FROM n CROSS JOIN c),
assigned AS (
  SELECT vec_id, cid AS cluster_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM scored)
  WHERE rn = 1),
dups AS (
  SELECT b.vec_id
  FROM assigned a
  JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE ROUND(list_inner_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) >= 0.45
  GROUP BY b.vec_id)
SELECT s.vec_id, s.cluster_id, (p.vec_id IS NOT NULL) AS is_dup
FROM assigned s LEFT JOIN dups p ON s.vec_id = p.vec_id"""


@register(
    "semdedup_prune",
    _SEMDEDUP_ORACLE,
    "SemDeDup semantic dedup (Abbas et al., arXiv:2303.09540): "
    "hash-deterministic centroid pick (vec_id % 61 — no global "
    "window, no extra pass), shuffle-free argmax cluster assignment "
    "(one broadcast row of centroid structs, row-local fold), then "
    "the quadratic cosine prune confined WITHIN clusters so cost is "
    "n^2/k with cluster_id as the only shuffle key; min-id canonical "
    "election matches the exact-dedup family",
)
def semdedup_prune(spark, sf_dir):
    from .operators.curation import semdedup

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return semdedup(embeddings, tau=0.45, centroid_mod=61)


_BLOOM_WORD = 32  # bits per word; masks stay in non-negative int32 range

_BLOOM_DECON_ORACLE = rf"""WITH {_TOKS_CTE},
grams AS (
  SELECT a.doc_id,
         a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  JOIN toks d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
  JOIN toks e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4),
bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
pos AS (
  SELECT (('0x' || substr(md5(g), 1, 8))::BIGINT) % 65536 AS p FROM bg
  UNION ALL
  SELECT (('0x' || substr(md5(g), 9, 8))::BIGINT) % 65536 FROM bg
  UNION ALL
  SELECT (('0x' || substr(md5(g), 17, 8))::BIGINT) % 65536 FROM bg),
bloom AS (
  SELECT p // {_BLOOM_WORD} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_WORD} AS INT)) AS bits
  FROM pos GROUP BY 1),
probe AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 97 <> 0),
ppos AS (
  SELECT doc_id, g, (('0x' || substr(md5(g), 1, 8))::BIGINT) % 65536 AS p
  FROM probe
  UNION ALL
  SELECT doc_id, g, (('0x' || substr(md5(g), 9, 8))::BIGINT) % 65536 FROM probe
  UNION ALL
  SELECT doc_id, g, (('0x' || substr(md5(g), 17, 8))::BIGINT) % 65536
  FROM probe),
hits AS (
  SELECT doc_id, g,
         MIN(COALESCE(
           (b.bits & (CAST(1 AS BIGINT) << CAST(pp.p % {_BLOOM_WORD} AS INT)))
             <> 0, FALSE)) AS hit
  FROM ppos pp LEFT JOIN bloom b ON b.word = pp.p // {_BLOOM_WORD}
  GROUP BY doc_id, g)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) FILTER (WHERE hit) AS BIGINT) AS n_bloom_hits,
       COALESCE(bool_or(hit), FALSE) AS contaminated
FROM hits GROUP BY doc_id"""


@register(
    "corpus_bloom_decontaminate",
    _BLOOM_DECON_ORACLE,
    "Bloom-filter benchmark decontamination (scale twin of "
    "corpus_decontaminate): the benchmark 5-gram set compresses to a "
    "65536-bit filter via ONE map-side-combinable bit_or aggregation "
    "(<= 2048 rows regardless of shingle count), broadcast to every "
    "probe task — O(1) membership per corpus shingle, zero corpus "
    "shuffle on the probe.  md5-derived positions for oracle parity "
    "(xxhash64(g, seed=i) at scale); false positives possible and "
    "reproduced exactly, false negatives impossible "
    "(operators/curation.py::bloom_build/bloom_probe)",
)
def corpus_bloom_decontaminate(spark, sf_dir):
    from .operators.curation import bloom_build, bloom_probe
    from .operators.dedup import normalized_tokens
    from .operators.text import word_ngrams_expr

    (documents,) = _t(spark, sf_dir, "documents")
    staged = documents.select(
        "doc_id", normalized_tokens("text").alias("toks")
    ).withColumn("g5", F.array_distinct(word_ngrams_expr("toks", 5)))
    # both the bench build and the corpus probe scan the exploded
    # shingles — checkpoint the COMPACT array frame so the (expensive)
    # n-gram construction runs ONCE (the minhash signature rule: a
    # parquet materialization at corpus scale); the per-branch explode
    # is a cheap generator over the cached arrays
    staged = staged.select("doc_id", "g5").localCheckpoint()
    shing = staged.select("doc_id", F.explode("g5").alias("g"))
    bench = shing.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    bloom = bloom_build(bench, "g", m_bits=65536, k=3)
    probe = shing.filter(F.col("doc_id") % 97 != 0)
    flagged = bloom_probe(probe, bloom, "g", m_bits=65536, k=3, out_col="hit")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.count(F.when(F.col("hit"), True)).alias("n_bloom_hits"),
        F.coalesce(F.max("hit"), F.lit(False)).alias("contaminated"),
    )


_QCLS_ORACLE = r"""WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
weights AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         (b * 2654435761) % 2001 - 1000 AS w_milli
  FROM UNNEST(range(0, 4096)) AS t(b)),
feat AS (
  SELECT doc_id,
         (('0x' || substr(md5(w), 1, 8))::BIGINT) % 4096 AS bucket
  FROM toks),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(w_milli) AS BIGINT) AS s_milli
  FROM feat JOIN weights USING (bucket)
  GROUP BY doc_id)
SELECT doc_id, n_tokens,
       ROUND(s_milli / (1000.0 * n_tokens), 6) AS quality_score,
       (s_milli > 0) AS keep
FROM scored"""


@register(
    "text_quality_classifier",
    _QCLS_ORACLE,
    "hashed-feature linear quality classifier (fasttext-shaped "
    "inference): token -> md5 feature hash mod 4096 -> broadcast "
    "weight-table lookup -> mean pool.  Weights live in a TABLE "
    "(deterministic integer milli-weights), exactly how a trained "
    "model ships; pooling is exact int64 so the keep decision is "
    "order-independent — the score divides once at the end.  One "
    "corpus scan, one broadcast join, one groupBy(doc_id)",
)
def text_quality_classifier(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    weights = spark.range(4096).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 2654435761) % 2001 - 1000).alias("w_milli"),
    )
    feat = documents.select(
        "doc_id", F.explode(normalized_tokens("text")).alias("w")
    ).select(
        "doc_id",
        (F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % 4096).alias(
            "bucket"
        ),
    )
    return (
        feat.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w_milli").alias("s_milli"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s_milli") / (1000.0 * F.col("n_tokens")), 6).alias(
                "quality_score"
            ),
            (F.col("s_milli") > 0).alias("keep"),
        )
    )


_BIGRAM_LM_ORACLE = rf"""WITH {_TOKS_CTE},
bt AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS bg, a.w AS w1
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cb FROM bt GROUP BY bg),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM toks GROUP BY w),
v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vsz FROM toks)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(ln((cb + 1.0) / (cu + vsz))) / COUNT(*), 6) AS avg_logprob
FROM bt JOIN bc USING (bg) JOIN uc ON uc.w = bt.w1 CROSS JOIN v
GROUP BY doc_id"""


@register(
    "text_bigram_logprob",
    _BIGRAM_LM_ORACLE,
    "bigram LM scoring with Laplace smoothing (perplexity proxy one "
    "notch above text_unigram_logprob): P(w2|w1) = (B+1)/(U(w1)+V).  "
    "Spark builds bigrams ROW-LOCALLY (word_ngrams_expr HOF — no "
    "positional self-join, unlike the oracle); both count tables "
    "aggregate to vocab size BEFORE the join back, V broadcasts as "
    "one row.  The standard LM-quality ranking signal for web "
    "corpora at a cost of two shuffles (bigram key, doc_id)",
)
def text_bigram_logprob(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import word_ngrams_expr

    (documents,) = _t(spark, sf_dir, "documents")
    staged = documents.select("doc_id", normalized_tokens("text").alias("toks"))
    bt = staged.select(
        "doc_id", F.explode(word_ngrams_expr("toks", 2)).alias("bg")
    ).withColumn("w1", F.split(F.col("bg"), " ")[0])
    toks = staged.select(F.explode("toks").alias("w"))
    bc = bt.groupBy("bg").agg(F.count("*").alias("cb"))
    uc = toks.groupBy("w").agg(F.count("*").alias("cu"))
    v = toks.agg(F.count_distinct("w").alias("vsz"))
    return (
        bt.join(bc, "bg")
        .join(uc.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("vsz"))))
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


_TEMP_MIX_ORACLE = r"""WITH dt AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents),
s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      FROM dt GROUP BY source),
w AS (SELECT source, src_tokens,
             CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS w_int
      FROM s),
tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS all_tokens,
               CAST(SUM(w_int) AS BIGINT) AS z
        FROM w),
f AS (SELECT source, src_tokens,
             LEAST(1.0, 0.5 * all_tokens * w_int / (z * src_tokens))
               AS keep_frac
      FROM w CROSS JOIN tot),
kept AS (
  SELECT d.source, d.n_tokens
  FROM dt d JOIN f USING (source)
  WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT)
        < f.keep_frac * 1152921504606846976.0),
ka AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
              CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
       FROM kept GROUP BY source)
SELECT f.source, f.src_tokens, ROUND(f.keep_frac, 6) AS keep_frac,
       COALESCE(ka.n_docs_kept, 0) AS n_docs_kept,
       COALESCE(ka.kept_tokens, 0) AS kept_tokens
FROM f LEFT JOIN ka USING (source)"""


@register(
    "corpus_temperature_mix",
    _TEMP_MIX_ORACLE,
    "temperature-scaled domain mixing (alpha = 0.5, the multilingual-"
    "sampling rule): per-source weight proportional to sqrt(token "
    "count), total budget = half the corpus, per-doc keep decided by "
    "a deterministic md5 threshold.  The sqrt weight is FLOORED to "
    "integer micro-units so every aggregate on the decision path is "
    "exact int64 — order-independent under partial aggregation, "
    "bit-identical to the oracle.  Two small shuffles (source aggs); "
    "the per-doc filter is a broadcast join, no corpus shuffle",
)
def corpus_temperature_mix(spark, sf_dir):
    from .operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    dt = documents.select(
        "doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    s = dt.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    w = s.withColumn(
        "w_int",
        F.floor(F.sqrt(F.col("src_tokens").cast("double")) * 1000000.0).cast("long"),
    )
    tot = w.agg(
        F.sum("src_tokens").alias("all_tokens"), F.sum("w_int").alias("z")
    )
    f = w.crossJoin(F.broadcast(tot)).withColumn(
        "keep_frac",
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            * F.col("all_tokens")
            * F.col("w_int")
            / (F.col("z") * F.col("src_tokens")),
        ),
    )
    hash60 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    kept = (
        dt.join(F.broadcast(f.select("source", "keep_frac")), "source")
        .filter(hash60 < F.col("keep_frac") * F.lit(1152921504606846976.0))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
    )
    return (
        f.join(kept, "source", "left")
        .select(
            "source",
            "src_tokens",
            F.round(F.col("keep_frac"), 6).alias("keep_frac"),
            F.coalesce(F.col("n_docs_kept"), F.lit(0)).alias("n_docs_kept"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 pack 2: triangle counting + Count-Min sketch.
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
ed AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE ROUND(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3),
tri AS (
  SELECT e1.u AS a, e1.w AS b, e2.w AS c
  FROM ed e1
  JOIN ed e2 ON e2.u = e1.w
  JOIN ed e3 ON e3.u = e1.u AND e3.w = e2.w),
verts AS (SELECT unnest([a, b, c]) AS vertex FROM tri)
SELECT vertex, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM verts GROUP BY vertex"""


@register(
    "graph_triangle_count",
    _TRIANGLE_ORACLE,
    "per-vertex triangle counts over the embedding-similarity graph "
    "(rounded cosine >= 0.3): degree-ordered wedge join (Schank-"
    "Wagner orientation — out-degrees bounded O(sqrt(m)), so a "
    "celebrity vertex's wedges are charged to its few higher-order "
    "successors, not itself; operators/graph.py::triangle_counts).  "
    "The oracle counts the same triangles with a naive a<b<c triple "
    "join — same set, no orientation needed at oracle scale",
)
def graph_triangle_count(spark, sf_dir):
    """Exact-edge certification twin of graph_triangle_count_lsh: the
    all-pairs edge build is inherent to the EXACT similarity-graph
    definition and only appropriate at audit scale — the scale path
    is the LSH-candidate entry below (same twin discipline as
    dedup_minhash_pairs/_md5)."""
    from .operators.graph import triangle_counts
    from .operators.similarity import dot, l2_norm

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    n_slices = spark.sparkContext.defaultParallelism * 2
    a = e.repartition(n_slices).select(
        F.col("vec_id").alias("u"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("w"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    edges = (
        a.join(b, F.col("u") < F.col("w"))
        .filter(
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
            >= 0.3
        )
        .select("u", "w")
    )
    return triangle_counts(edges, "u", "w", out_id="vertex")


def _triangle_lsh_oracle() -> str:
    """DuckDB twin of graph_triangle_count_lsh: the SAME literal
    Rademacher plane matrix, band keys, hot-bucket cap, and exact-
    cosine verify as hyperplane_lsh_pairs (threshold 0.3), then the
    naive a<b<c triple join over those candidate edges."""
    from .operators.similarity import _hyperplane_signs

    planes = _hyperplane_signs(16, 64, 7)
    lits = [
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in pl) + "]"
        for pl in planes
    ]
    sig = " + ".join(
        f"(CASE WHEN list_inner_product(v, {lits[p]}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(16)
    )
    return f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm,
             {sig} AS sig
      FROM e),
bands AS (
  SELECT vec_id, b, (sig >> CAST(2 * b AS INT)) & 3 AS key
  FROM s CROSS JOIN UNNEST(range(0, 8)) AS t(b)),
capped AS (
  SELECT * FROM (
    SELECT vec_id, b, key, COUNT(*) OVER (PARTITION BY b, key) AS bn
    FROM bands) WHERE bn <= 200),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM capped x
  JOIN capped y ON x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id),
ed AS (
  SELECT c.id_a AS u, c.id_b AS w
  FROM cand c
  JOIN s sa ON sa.vec_id = c.id_a
  JOIN s sb ON sb.vec_id = c.id_b
  WHERE ROUND(list_inner_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6)
        >= 0.3),
tri AS (
  SELECT e1.u AS a, e1.w AS b, e2.w AS c
  FROM ed e1
  JOIN ed e2 ON e2.u = e1.w
  JOIN ed e3 ON e3.u = e1.u AND e3.w = e2.w),
verts AS (SELECT unnest([a, b, c]) AS vertex FROM tri)
SELECT vertex, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM verts GROUP BY vertex"""


@register(
    "graph_triangle_count_lsh",
    _triangle_lsh_oracle(),
    "the SCALE path for similarity-graph triangle counting: edges "
    "from banded hyperplane LSH (signature → 8×2-bit band bucket "
    "join → exact cosine verify at the same rounded 0.3 threshold — "
    "never all-pairs, hot buckets capped) feeding the degree-ordered "
    "wedge join.  graph_triangle_count is its exact-edge "
    "certification twin (the dedup_minhash_pairs/_md5 discipline "
    "applied to graph construction); the deterministic literal plane "
    "matrix makes even the 'probabilistic' edge set hash-checkable",
)
def graph_triangle_count_lsh(spark, sf_dir):
    from .operators.graph import triangle_counts
    from .operators.similarity import hyperplane_lsh_pairs

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    # allow_low_threshold: this entry is the certification twin of the
    # banded-candidate machinery itself; a production 0.3-threshold
    # graph goes through similarity_graph_edges, which routes to the
    # kNN path (graph_triangle_count_knn) — the LSH recall collapse at
    # low thresholds is measured and gated in operators/similarity.py.
    edges = hyperplane_lsh_pairs(
        embeddings, dims=64, threshold=0.3, max_bucket_size=200,
        allow_low_threshold=True,
    ).select(F.col("id_a").alias("u"), F.col("id_b").alias("w"))
    return triangle_counts(edges, "u", "w", out_id="vertex")


_CMS_ORACLE = """WITH cells AS (
  SELECT d,
         (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1 + 8 * d, 8))::BIGINT)
           % 256 AS bucket
  FROM events CROSS JOIN UNNEST([0, 1, 2]) AS t(d)),
sketch AS (
  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY d, bucket),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY user_id),
probes AS (
  SELECT e.user_id, e.exact_n, s.cnt
  FROM exact e
  CROSS JOIN UNNEST([0, 1, 2]) AS t(d)
  LEFT JOIN sketch s
    ON s.d = t.d
   AND s.bucket = (('0x' || substr(md5(CAST(e.user_id AS VARCHAR)),
                                   1 + 8 * t.d, 8))::BIGINT) % 256),
est AS (
  SELECT user_id, exact_n, MIN(COALESCE(cnt, 0)) AS cms_est
  FROM probes GROUP BY user_id, exact_n)
SELECT user_id, exact_n, cms_est, cms_est - exact_n AS overestimate
FROM est
ORDER BY exact_n DESC, user_id
LIMIT 20"""


@register(
    "events_cms_heavy_hitters",
    _CMS_ORACLE,
    "Count-Min heavy hitters on the event stream: the 3x256 counter "
    "grid builds in ONE map-side-combinable aggregation (<= 768 rows "
    "from any number of events — the 100 TB -> kilobytes shape; "
    "disjoint-partition sketches merge by addition, "
    "operators/sketches.py::cms_merge), broadcasts to the probe, and "
    "every estimate is >= truth by construction.  Estimates shown "
    "against exact counts for the top-20 users; md5 buckets for "
    "oracle parity (xxhash64 at scale)",
)
def events_cms_heavy_hitters(spark, sf_dir):
    from .operators.sketches import cms_build, cms_estimate

    (events,) = _t(spark, sf_dir, "events")
    sketch = cms_build(events.select("user_id"), "user_id", depth=3, width=256)
    exact = events.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(exact, sketch, "user_id", depth=3, width=256)
    return (
        est.select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-4 pack 3: reproducible HLL profiling + interval concurrency.
# ---------------------------------------------------------------------------

_HLL_ORACLE = """WITH keys AS (
  SELECT 'user_id' AS column_name, CAST(user_id AS VARCHAR) AS k FROM events
  UNION ALL SELECT 'event_type', event_type FROM events
  UNION ALL SELECT 'event_id', CAST(event_id AS VARCHAR) FROM events),
h AS (SELECT column_name, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h
      FROM keys),
rk AS (SELECT column_name, h % 256 AS bucket,
              CASE WHEN h // 256 = 0 THEN 53
                   ELSE 52 - length(bin(h // 256)) + 1 END AS rank
       FROM h),
regs AS (SELECT column_name, bucket, MAX(rank) AS M
         FROM rk GROUP BY 1, 2),
agg AS (SELECT column_name, COUNT(*) AS n_present,
               SUM(CAST(1 AS BIGINT) << CAST(53 - M AS INT)) AS s_present
        FROM regs GROUP BY 1),
e AS (SELECT column_name, 256 - n_present AS v,
             0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256
               * 9007199254740992.0
               / (s_present + (256 - n_present)
                              * (CAST(1 AS BIGINT) << 53)) AS e_raw
      FROM agg),
fin AS (SELECT column_name,
               ROUND(CASE WHEN e_raw <= 2.5 * 256 AND v > 0
                          THEN 256.0 * ln(256 / v) ELSE e_raw END, 4)
                 AS hll_est
        FROM e),
ex AS (
  SELECT 'user_id' AS column_name,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events
  UNION ALL SELECT 'event_type', COUNT(DISTINCT event_type) FROM events
  UNION ALL SELECT 'event_id', COUNT(DISTINCT event_id) FROM events)
SELECT f.column_name, ex.exact_distinct, f.hll_est,
       ROUND((f.hll_est - ex.exact_distinct) / ex.exact_distinct, 6)
         AS rel_err
FROM fin f JOIN ex USING (column_name)"""


@register(
    "profile_hll_distinct",
    _HLL_ORACLE,
    "bit-reproducible HyperLogLog distinct-count profiling over three "
    "event columns: rank via length(bin(r)) — exact integer log2 — "
    "and the harmonic sum as EXACT int64 powers of two, so partial-"
    "aggregation order cannot perturb the estimate (the failure mode "
    "that makes naive float HLLs unhashable).  Registers merge by "
    "MAX across partitions/columns; linear-counting small-range "
    "correction; estimates shown against exact distinct counts "
    "(operators/sketches.py::hll_registers/hll_estimate; Spark's "
    "approx_count_distinct is the production twin — "
    "profile_columns_approx)",
)
def profile_hll_distinct(spark, sf_dir):
    from .operators.sketches import hll_estimate, hll_registers

    (events,) = _t(spark, sf_dir, "events")
    # One exploded (column_name, key) frame serves all three columns:
    # the register build and the exact anchor each scan it once — 2
    # fact scans total (was one scan per column per side: 6).  NOT
    # checkpointed deliberately: materializing 3n narrow rows would
    # cost more than the one extra scan at 100 TB; both consumers are
    # map-side-combinable aggregations over the same scan shape.
    keyed = events.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("user_id").alias("column_name"),
                    F.col("user_id").cast("string").alias("k"),
                ),
                F.struct(
                    F.lit("event_type").alias("column_name"),
                    F.col("event_type").alias("k"),
                ),
                F.struct(
                    F.lit("event_id").alias("column_name"),
                    F.col("event_id").cast("string").alias("k"),
                ),
            )
        ).alias("e")
    ).select("e.column_name", "e.k")
    regs = hll_registers(keyed, "k", group_cols=["column_name"])
    est = hll_estimate(regs, ["column_name"])
    exact = keyed.groupBy("column_name").agg(
        F.count_distinct("k").alias("exact_distinct")
    )
    return est.join(exact, "column_name").select(
        "column_name",
        "exact_distinct",
        "hll_est",
        F.round(
            (F.col("hll_est") - F.col("exact_distinct")) / F.col("exact_distinct"), 6
        ).alias("rel_err"),
    )


_CONCURRENCY_ORACLE = """WITH pts AS (
  SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, epoch_us(ts) + 300000000, -1 FROM events),
run AS (
  SELECT event_type,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS c
  FROM pts)
SELECT event_type, CAST(MAX(c) AS BIGINT) AS peak_concurrency
FROM run GROUP BY event_type"""


@register(
    "events_concurrency_peak",
    _CONCURRENCY_ORACLE,
    "sweep-line interval concurrency: each event holds a 5-minute "
    "lease; peak simultaneous leases per event_type via +1/-1 "
    "boundary points and a running sum.  The default RANGE frame "
    "makes tied timestamps deterministic (all ties included before "
    "the max is read), and -1 sorts before +1 at the same instant so "
    "half-open intervals never self-overlap.  Per-type partitioned "
    "window — at 100 TB with few types swap the running sum for "
    "operators/windows.py::distributed_prefix_sum (the "
    "orders_abc_pareto_scaled shape)",
)
def events_concurrency_peak(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    starts = events.select(
        "event_type", us.alias("t"), F.lit(1).alias("delta")
    )
    ends = events.select(
        "event_type", (us + 300_000_000).alias("t"), F.lit(-1).alias("delta")
    )
    pts = starts.unionByName(ends)
    w = Window.partitionBy("event_type").orderBy("t", "delta")
    run = pts.withColumn("c", F.sum("delta").over(w))
    return run.groupBy("event_type").agg(
        F.max("c").alias("peak_concurrency")
    )


# ---------------------------------------------------------------------------
# Round-4 pack 4: weighted median + cube grouping.
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """WITH base AS (
  SELECT l_returnflag, l_extendedprice AS price,
         CAST(l_quantity AS DECIMAL(18,4)) AS wd
  FROM lineitem),
cum AS (
  SELECT l_returnflag, price,
         SUM(wd) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
         SUM(wd) OVER (PARTITION BY l_returnflag) AS t
  FROM base)
SELECT l_returnflag, MIN(price) AS weighted_median_price
FROM cum WHERE 2 * cw >= t
GROUP BY l_returnflag"""


@register(
    "lineitem_weighted_median",
    _WMEDIAN_ORACLE,
    "exact weighted median (weight = quantity) per return flag via "
    "the declarative two-pass histogram prune "
    "(operators/quantiles.py::grouped_weighted_median): the oracle's "
    "direct formulation serializes each group through one task (3 "
    "single-thread sorts of 2M rows each at the 10x probe, 7.4 s); "
    "here windows touch only the per-group bucket frame (<=1024 "
    "rows) and the one crossing bucket (~N/1024 rows) — 1.3 s at the "
    "same probe, bit-identical output.  Decimal weights keep the "
    "crossing decision exact; value ties share a bucket, preserving "
    "RANGE-frame tie semantics",
)
def lineitem_weighted_median(spark, sf_dir):
    from .operators.quantiles import grouped_weighted_median

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    base = lineitem.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("decimal(18,4)").alias("wd"),
    )
    return grouped_weighted_median(
        base, "l_returnflag", "price", "wd"
    ).select(
        "l_returnflag", F.col("weighted_median").alias("weighted_median_price")
    )


_CUBE_ORACLE = """SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)"""


@register(
    "orders_cube_stats",
    _CUBE_ORACLE,
    "CUBE grouping over (priority, status): all four grouping sets — "
    "detail, both one-dim margins, grand total — in one pass with "
    "partial aggregation (Spark expands the sets map-side; no "
    "re-scan per margin).  Decimal-exact sums keep every cell "
    "order-independent.  Completes the rollup family "
    "(orders_rollup_stats)",
)
def orders_cube_stats(spark, sf_dir):
    from .operators.aggregates import exact_sum

    (orders,) = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"),
        exact_sum("o_totalprice", "sum_price"),
    )


# ---------------------------------------------------------------------------
# Round-4 pack 5: PPJoin set-similarity + two-pass exact median.
# ---------------------------------------------------------------------------

_SETSIM_ORACLE = rf"""WITH {_TOKS_CTE},
g AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds AS (SELECT DISTINCT doc_id, g FROM g),
sets AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
pairs AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
  FROM ds x JOIN ds y USING (g)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sets sa ON sa.doc_id = id_a
JOIN sets sb ON sb.doc_id = id_b
WHERE ROUND(inter / (sa.n + sb.n - inter), 6) >= 0.3"""


@register(
    "dedup_setsim_prefix_join",
    _SETSIM_ORACLE,
    "exact set-similarity self-join via prefix filtering (AllPairs/"
    "PPJoin, Bayardo et al. WWW'07) on 3-gram shingle sets at "
    "Jaccard >= 0.3: sets sorted by global rarity, candidates only "
    "from the first |s|-ceil(t|s|)+1 tokens — a LOSSLESS blocking, "
    "so the hash against the naive all-pairs oracle IS the proof of "
    "the no-false-negative guarantee.  Inverted-index cost instead "
    "of n^2; every shuffle keyed (operators/dedup.py::"
    "setsim_prefix_join)",
)
def dedup_setsim_prefix_join(spark, sf_dir):
    from .operators.dedup import setsim_prefix_join, with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    staged = with_shingles(documents, "text", "__sh__", 3).select(
        "doc_id", "__sh__"
    )
    return setsim_prefix_join(
        staged, id_col="doc_id", set_col="__sh__", threshold=0.3
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("jaccard")
    )


_MEDIAN2P_ORACLE = """WITH o AS (
  SELECT l_extendedprice AS v,
         ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem)
SELECT v AS median_price FROM o WHERE rn = (n + 1) // 2"""


@register(
    "lineitem_median_twopass",
    _MEDIAN2P_ORACLE,
    "EXACT global median without a global sort: histogram-prune to "
    "the one bucket holding the median rank (the histogram is a "
    "fixed-size <=1024-row summary — bounded driver state, not a "
    "data collect), then TakeOrderedAndProject over ~N/1024 rows.  "
    "Two scans + a distributed heap top-k vs the oracle's full-"
    "column ROW_NUMBER sort — the shape that stays exact at 100 TB "
    "(operators/quantiles.py::exact_kth_smallest_twopass; "
    "approx_percentile remains the cheap path, profile_quantiles the "
    "reduced-frame exact path)",
)
def lineitem_median_twopass(spark, sf_dir):
    from .operators.quantiles import exact_kth_smallest_twopass

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    v = exact_kth_smallest_twopass(lineitem, "l_extendedprice")
    return spark.createDataFrame([(v,)], "median_price double")


# The ES rank key ln(u)/w is a float, but certification is safe here:
# the measured key gap at the k=50 boundary is ~1e-5 (sf0.001 and
# sf0.01) — ten orders of magnitude above any libm ln() ulp skew — and
# the SELECTED rows carry only exact values (ids/strings/integral w).
_WSAMPLE_ORACLE = r"""WITH d AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS w
  FROM documents),
k AS (
  SELECT doc_id, source, w,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT)
            / 4503599627370496.0) / w AS key
  FROM d)
SELECT doc_id, source, w FROM k ORDER BY key DESC, doc_id LIMIT 50"""


@register(
    "corpus_weighted_sample",
    _WSAMPLE_ORACLE,
    "weighted sampling without replacement (Efraimidis-Spirakis): "
    "rank by ln(u)/w with u = md5-uniform per doc, keep the top-50 "
    "by token-count weight via ONE TakeOrdered (per-partition heaps, "
    "no global sort, no corpus shuffle).  Reproducible across runs "
    "and engines; the building block for importance-weighted corpus "
    "subsetting (operators/curation.py::weighted_sample_k)",
)
def corpus_weighted_sample(spark, sf_dir):
    from .operators.curation import weighted_sample_k
    from .operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    sized = documents.select(
        "doc_id", "source", token_count(F.col("text")).cast("double").alias("w")
    )
    return weighted_sample_k(sized, "w", k=50, id_col="doc_id")


# Peeling is a removal fixpoint — not a monotone recursive CTE — but
# it IS certifiable the same way the 5-iteration PageRank is: unroll a
# BOUNDED round count as chained CTEs.  Extra rounds past convergence
# are no-ops (an empty under-degree set removes nothing), so 16
# unrolled rounds certify any graph that converges within 16; the
# synthetic embedding graphs converge in 8-10 (measured at sf0.001 /
# sf0.01; sf0.1 is already a 3-core).  r05 VERDICT item 7:
# rows-only → oracle.
# Each CTE is MATERIALIZED: round k references round k-1 three times
# (FROM + two NOT INs), so inlined CTEs re-execute the whole prefix
# 3^16 times — materialization is what makes the unroll linear, the
# SQL analog of the Spark side's per-round localCheckpoint.
_KCORE_ITER = """, l{k} AS MATERIALIZED (
  SELECT u FROM e{p} GROUP BY u HAVING COUNT(*) < {deg}
), e{k} AS MATERIALIZED (
  SELECT u, w FROM e{p}
  WHERE u NOT IN (SELECT u FROM l{k}) AND w NOT IN (SELECT u FROM l{k})
)"""


def _kcore_rounds(n_rounds: int, deg: int) -> str:
    return "".join(
        _KCORE_ITER.format(k=k, p=k - 1, deg=deg)
        for k in range(1, n_rounds + 1)
    )


#: Shared final select with a convergence guard (ADVICE r6): rounds
#: past convergence are no-ops, so e15 == e16 iff the peel converged
#: within the 16-round unroll.  A denser corpus needing more rounds
#: would otherwise silently diverge from Spark's run-to-fixpoint
#: k_core as an unexplained hash mismatch — error() makes the bound
#: violation loud instead (raise the unroll, don't chase the hash).
_KCORE_FINAL = (
    "\nSELECT u AS vertex, CAST(COUNT(*) AS BIGINT) AS degree"
    "\nFROM e16"
    "\nWHERE (SELECT COUNT(*) FROM e15) = (SELECT COUNT(*) FROM e16)"
    "\n   OR error('kcore oracle: 16-round peel unroll did not converge"
    " — raise the bound')"
    "\nGROUP BY u"
)

_KCORE_ORACLE = (
    """WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM v),
ed AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE ROUND(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3),
e0 AS MATERIALIZED (SELECT u, w FROM ed UNION SELECT w, u FROM ed)"""
    + _kcore_rounds(16, 3)
    + _KCORE_FINAL
)


@register(
    "graph_kcore_membership",
    _KCORE_ORACLE,
    "3-core of the embedding-similarity graph (cosine >= 0.3): "
    "iterative peeling, one degree agg + two anti joins per round, "
    "localCheckpoint per iteration so round r never replays rounds "
    "1..r-1; converges in a handful of rounds on real graphs "
    "(operators/graph.py::k_core).  Oracle unrolls 16 bounded peel "
    "rounds as chained CTEs (the certified-PageRank trick; rounds "
    "past convergence are no-ops).  Exact-edge certification twin of "
    "graph_kcore_membership_lsh — the community-scaffold extractor "
    "that pairs with dedup_cluster_* and graph_triangle_count",
)
def graph_kcore_membership(spark, sf_dir):
    from .operators.graph import k_core
    from .operators.similarity import dot, l2_norm

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    n_slices = spark.sparkContext.defaultParallelism * 2
    a = e.repartition(n_slices).select(
        F.col("vec_id").alias("u"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("w"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    edges = (
        a.join(b, F.col("u") < F.col("w"))
        .filter(
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
            >= 0.3
        )
        .select("u", "w")
    )
    return k_core(edges, k=3)


def _kcore_lsh_oracle() -> str:
    """DuckDB twin of graph_kcore_membership_lsh: LSH-candidate edges
    (same literal plane matrix / bands / cap / cosine verify as
    hyperplane_lsh_pairs at threshold 0.3) feeding the same 16
    MATERIALIZED peel rounds as the exact twin."""
    from .operators.similarity import _hyperplane_signs

    planes = _hyperplane_signs(16, 64, 7)
    lits = [
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in pl) + "]"
        for pl in planes
    ]
    sig = " + ".join(
        f"(CASE WHEN list_inner_product(v, {lits[p]}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(16)
    )
    head = f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS MATERIALIZED (
  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm,
         {sig} AS sig
  FROM e),
bands AS (
  SELECT vec_id, b, (sig >> CAST(2 * b AS INT)) & 3 AS key
  FROM s CROSS JOIN UNNEST(range(0, 8)) AS t(b)),
capped AS (
  SELECT * FROM (
    SELECT vec_id, b, key, COUNT(*) OVER (PARTITION BY b, key) AS bn
    FROM bands) WHERE bn <= 200),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM capped x
  JOIN capped y ON x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id),
ed AS (
  SELECT c.id_a AS u, c.id_b AS w
  FROM cand c
  JOIN s sa ON sa.vec_id = c.id_a
  JOIN s sb ON sb.vec_id = c.id_b
  WHERE ROUND(list_inner_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6)
        >= 0.3),
e0 AS MATERIALIZED (SELECT u, w FROM ed UNION SELECT w, u FROM ed)"""
    return (
        head
        + _kcore_rounds(16, 3)
        + _KCORE_FINAL
    )


@register(
    "graph_kcore_membership_lsh",
    _kcore_lsh_oracle(),
    "the SCALE path for similarity-graph k-core: edges from banded "
    "hyperplane LSH + exact cosine verify at the same rounded 0.3 "
    "threshold (never all-pairs, hot buckets capped) feeding the "
    "iterative peel.  graph_kcore_membership is its exact-edge "
    "certification twin; oracle = the LSH edge CTEs + the same 16 "
    "MATERIALIZED peel rounds",
)
def graph_kcore_membership_lsh(spark, sf_dir):
    from .operators.graph import k_core
    from .operators.similarity import hyperplane_lsh_pairs

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    # certification twin of the banded-candidate machinery (see
    # graph_triangle_count_lsh); production low-threshold graphs route
    # through similarity_graph_edges → kNN (graph_kcore_membership_knn)
    edges = hyperplane_lsh_pairs(
        embeddings, dims=64, threshold=0.3, max_bucket_size=200,
        allow_low_threshold=True,
    ).select(F.col("id_a").alias("u"), F.col("id_b").alias("w"))
    return k_core(edges, k=3)


# ---------------------------------------------------------------------------
# kNN-graph construction — the scale path for LOW-threshold similarity
# graphs.  Banded sign-LSH is the right tool for near-dup thresholds
# (>=0.7) but collapses at 0.3: per-bit agreement is only ~0.6, so
# recall needs narrow bands, and narrow bands at corpus scale put
# every vector in a hot bucket (measured at the 10x probe: with 2-bit
# bands ALL 20k vectors exceed any sane cap — zero candidates).  The
# standard fix is the bounded-degree kNN graph: each vector keeps its
# top-k neighbors from the deterministic IVF probe (fixed ~61-vector
# cells, 3 probed cells -> ~183 candidates per vector at ANY corpus
# size, so edge construction is O(n), never O(n^2)).  Deterministic
# hash-mod centroids make the whole graph hash-certifiable — the
# sim_ivf_topk_det discipline applied to graph construction.
# ---------------------------------------------------------------------------

#: shared CTE prefix: deterministic-IVF kNN edges at cosine >= 0.3.
#: Centroid count is ~sqrt(n) (the standard IVF sizing): a FIXED
#: modulus (sim_ivf_topk_det's %61) gives n/61 cells, which is right
#: when only a handful of queries probe but quadratic when EVERY
#: vector is a query — measured 112 s at the 10x probe before this
#: sizing, ~10x less after.  sqrt(n) cells balance the two n-dependent
#: costs (centroid scoring n·sqrt(n), candidate re-rank n·3·sqrt(n)).
_KNN_EDGE_CTES = """WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS MATERIALIZED (
  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
pp AS (SELECT GREATEST(2, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) AS p
       FROM n),
c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
      WHERE vec_id % (SELECT p FROM pp) = 0),
assigned AS MATERIALIZED (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT n.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY ROUND(list_inner_product(n.v, c.cv)
                            / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
    FROM n CROSS JOIN c) WHERE rn = 1),
probe AS MATERIALIZED (
  SELECT query_id, cid FROM (
    SELECT n.vec_id AS query_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY ROUND(list_inner_product(n.v, c.cv)
                            / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
    FROM n CROSS JOIN c) WHERE rn <= 3),
scored AS (
  SELECT p.query_id, a.vec_id,
         ROUND(list_inner_product(nq.v, nv.v) / (nq.nrm * nv.nrm), 6)
           AS cosine_sim
  FROM probe p
  JOIN assigned a ON a.cluster_id = p.cid AND a.vec_id <> p.query_id
  JOIN n nq ON nq.vec_id = p.query_id
  JOIN n nv ON nv.vec_id = a.vec_id),
knn AS (
  SELECT query_id, vec_id, cosine_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, vec_id) AS rn
    FROM scored) WHERE rn <= 10 AND cosine_sim >= 0.3),
ed AS MATERIALIZED (
  SELECT DISTINCT least(query_id, vec_id) AS u,
                  greatest(query_id, vec_id) AS w
  FROM knn)"""


def _knn_graph_edges(spark, sf_dir):
    """Spark twin of _KNN_EDGE_CTES: (u, w) kNN-graph edges.

    Delegates to operators/similarity.py::knn_graph_edges (promoted
    there in r7 so similarity_graph_edges can route low-threshold
    graphs to it); dims=64 from the schema, top-10 at cosine >= 0.3
    with 3 probed cells — numerically identical to the pre-promotion
    inline build (same unrolled dots, same tie-breaks, same
    localCheckpoint/repartition scale shape).
    """
    from .operators.similarity import knn_graph_edges

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return knn_graph_edges(
        embeddings, dims=64, k=10, threshold=0.3, n_probe=3
    )


@register(
    "graph_triangle_count_knn",
    _KNN_EDGE_CTES
    + """,
tri AS (
  SELECT e1.u AS a, e1.w AS b, e2.w AS c
  FROM ed e1
  JOIN ed e2 ON e2.u = e1.w
  JOIN ed e3 ON e3.u = e1.u AND e3.w = e2.w),
verts AS (SELECT unnest([a, b, c]) AS vertex FROM tri)
SELECT vertex, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM verts GROUP BY vertex""",
    "triangle counts over the kNN similarity graph — the scale path "
    "for LOW-threshold graphs where banded LSH collapses (per-bit "
    "agreement ~0.6 at cosine 0.3): deterministic-IVF top-10 "
    "neighbors per vector (fixed ~61-vector cells, 3 probes -> O(n) "
    "edge construction, bounded degree) feeding the degree-ordered "
    "wedge join.  Hash-mod centroids make the whole graph "
    "hash-certifiable (the sim_ivf_topk_det discipline)",
)
def graph_triangle_count_knn(spark, sf_dir):
    from .operators.graph import triangle_counts

    return triangle_counts(
        _knn_graph_edges(spark, sf_dir), "u", "w", out_id="vertex"
    )


@register(
    "graph_kcore_membership_knn",
    _KNN_EDGE_CTES
    + """,
e0 AS MATERIALIZED (SELECT u, w FROM ed UNION SELECT w, u FROM ed)"""
    + _kcore_rounds(16, 2)
    + _KCORE_FINAL,
    "2-core over the kNN similarity graph (same O(n) deterministic-"
    "IVF edge construction as graph_triangle_count_knn) with 16 "
    "MATERIALIZED unrolled peel rounds — k=2 because a top-10 kNN "
    "graph is bounded-degree by construction and its 3-core is empty "
    "on this corpus (the 2-core prunes dangling chains, the useful "
    "scaffold here).  The bounded-degree graph makes the peel's "
    "per-round work O(n·k) at any corpus size; measured convergence "
    "3-4 rounds",
)
def graph_kcore_membership_knn(spark, sf_dir):
    from .operators.graph import k_core

    return k_core(_knn_graph_edges(spark, sf_dir), k=2)


@register(
    "similarity_graph_routed_low",
    _KNN_EDGE_CTES + "\nSELECT u, w FROM ed",
    "the threshold-routed similarity-graph front door "
    "(operators/similarity.py::similarity_graph_edges, r6 VERDICT "
    "item 4) exercised at cosine 0.3: thresholds below the 0.6 LSH "
    "recall floor must route to the deterministic kNN path, so this "
    "entry's oracle IS the kNN edge set — a routing regression (back "
    "to banded LSH, which measurably returns zero candidates at 10×) "
    "reds the hash immediately",
)
def similarity_graph_routed_low(spark, sf_dir):
    from .operators.similarity import similarity_graph_edges

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return similarity_graph_edges(embeddings, dims=64, threshold=0.3)


_SHARD_BALANCE_ORACLE = r"""WITH d AS (
  SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
           % 16 AS shard,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
FROM d GROUP BY shard"""


@register(
    "corpus_shard_balance",
    _SHARD_BALANCE_ORACLE,
    "training-shard balance audit: md5-deterministic 16-way shard "
    "assignment with per-shard doc and token counts — the check run "
    "before a training job to confirm the global shuffle produced "
    "even shards (writer twin: operators/curation.py::"
    "write_training_shards, range-contiguous + reproducible, "
    "unit-pinned).  One aggregation, no data movement",
)
def corpus_shard_balance(spark, sf_dir):
    from .operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 16
    )
    return (
        documents.select(
            shard.alias("shard"),
            token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 pack 7: sketch algebra — grouped HLL + CMS join-size estimate.
# ---------------------------------------------------------------------------

_GROUPED_HLL_ORACLE = r"""WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
h AS (SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks),
rk AS (SELECT source, h % 256 AS bucket,
              CASE WHEN h // 256 = 0 THEN 53
                   ELSE 52 - length(bin(h // 256)) + 1 END AS rank
       FROM h),
regs AS (SELECT source, bucket, MAX(rank) AS M FROM rk GROUP BY 1, 2),
agg AS (SELECT source, COUNT(*) AS n_present,
               SUM(CAST(1 AS BIGINT) << CAST(53 - M AS INT)) AS s_present
        FROM regs GROUP BY 1),
e AS (SELECT source, 256 - n_present AS v,
             0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256
               * 9007199254740992.0
               / (s_present + (256 - n_present)
                              * (CAST(1 AS BIGINT) << 53)) AS e_raw
      FROM agg),
fin AS (SELECT source,
               ROUND(CASE WHEN e_raw <= 2.5 * 256 AND v > 0
                          THEN 256.0 * ln(256 / v) ELSE e_raw END, 4)
                 AS hll_est
        FROM e),
ex AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_distinct
       FROM toks GROUP BY source)
SELECT f.source, ex.exact_distinct, f.hll_est
FROM fin f JOIN ex USING (source)"""


@register(
    "profile_hll_by_source",
    _GROUPED_HLL_ORACLE,
    "GROUPED reproducible-HLL: per-source distinct-token estimates "
    "from per-(source, bucket) register tables — the same 256 "
    "registers per group, merged by MAX, estimated with the exact-"
    "int64 harmonic sum.  The mergeable-by-group shape is what a "
    "daily profiling job stores: registers roll up across days by "
    "MAX without re-reading data (operators/sketches.py)",
)
def profile_hll_by_source(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.sketches import hll_estimate

    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "source", F.explode(normalized_tokens("text")).alias("w")
    )
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    r = F.floor(h / 256).cast("long")
    rank = F.when(r == 0, F.lit(53)).otherwise(F.lit(52) - F.length(F.bin(r)) + 1)
    regs = (
        toks.select("source", (h % 256).alias("bucket"), rank.alias("rank"))
        .groupBy("source", "bucket")
        .agg(F.max("rank").alias("M"))
    )
    est = hll_estimate(regs, ["source"])
    exact = toks.groupBy("source").agg(
        F.count_distinct("w").alias("exact_distinct")
    )
    return est.join(exact, "source").select("source", "exact_distinct", "hll_est")


_CMS_JOINSIZE_ORACLE = """WITH lk AS (
  SELECT d,
         (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1 + 8 * d, 8))
            ::BIGINT) % 1024 AS bucket
  FROM lineitem CROSS JOIN UNNEST([0, 1, 2]) AS t(d)),
ok AS (
  SELECT d,
         (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1 + 8 * d, 8))
            ::BIGINT) % 1024 AS bucket
  FROM orders CROSS JOIN UNNEST([0, 1, 2]) AS t(d)),
s1 AS (SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c1 FROM lk GROUP BY 1, 2),
s2 AS (SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c2 FROM ok GROUP BY 1, 2),
dots AS (
  SELECT s1.d, CAST(SUM(s1.c1 * s2.c2) AS BIGINT) AS dot
  FROM s1 JOIN s2 USING (d, bucket) GROUP BY s1.d),
est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size FROM dots),
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT est.est_join_size, ex.exact_join_size,
       ROUND(est.est_join_size / ex.exact_join_size, 6) AS over_ratio
FROM est CROSS JOIN ex"""


@register(
    "join_size_estimate_cms",
    _CMS_JOINSIZE_ORACLE,
    "equi-join cardinality estimation from two Count-Min sketches "
    "(the AGMS/CM inner-product estimator): |R join S| is estimated "
    "by the min over depths of the bucket-wise count dot product — "
    "never an underestimate, computed from two fixed-size sketches "
    "WITHOUT running the join.  The query-optimizer primitive for "
    "choosing join strategies at 100 TB; shown against the exact "
    "join count (operators/sketches.py::cms_build)",
)
def join_size_estimate_cms(spark, sf_dir):
    from .operators.sketches import cms_build

    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    s1 = cms_build(
        lineitem.select(F.col("l_orderkey").alias("k")), "k", depth=3, width=1024
    ).withColumnRenamed("cnt", "c1")
    s2 = cms_build(
        orders.select(F.col("o_orderkey").alias("k")), "k", depth=3, width=1024
    ).withColumnRenamed("cnt", "c2")
    # decimal-routed moment sum (r7 audit): a hot CMS bucket holds up
    # to n counts, so c1*c2 ~ n² wraps int64 past ~3e9 rows/side —
    # exactly the silent-at-tested-scale class the gini fix caught
    dots = (
        s1.join(s2, ["d", "bucket"])
        .groupBy("d")
        .agg(
            F.sum(F.col("c1").cast("decimal(19,0)") * F.col("c2")).alias(
                "dot"
            )
        )
    )
    est = dots.agg(F.min("dot").cast("long").alias("est_join_size"))
    exact = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count("*").alias("exact_join_size"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "est_join_size",
            "exact_join_size",
            F.round(
                F.col("est_join_size") / F.col("exact_join_size"), 6
            ).alias("over_ratio"),
        )
    )


_CONTAIN_ORACLE = rf"""WITH {_TOKS_CTE},
g AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds AS (SELECT DISTINCT doc_id, g FROM g),
sets AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
pairs AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
  FROM ds x JOIN ds y USING (g)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(inter / sa.n, 6) AS containment_a,
       ROUND(inter / sb.n, 6) AS containment_b
FROM pairs
JOIN sets sa ON sa.doc_id = id_a
JOIN sets sb ON sb.doc_id = id_b
WHERE ROUND(inter / sa.n, 6) >= 0.5 OR ROUND(inter / sb.n, 6) >= 0.5"""


@register(
    "dedup_containment_pairs",
    _CONTAIN_ORACLE,
    "asymmetric containment near-dup (|A∩B|/|A| — catches QUOTES and "
    "subsets that symmetric Jaccard misses: a paragraph wholly "
    "inside a larger doc scores ~1.0 containment but low Jaccard).  "
    "Intersections come from the inverted-index gram join — linear "
    "in co-occurring gram pairs, never all-pairs; both directions "
    "reported, either >= 0.5 kept",
)
def dedup_containment_pairs(spark, sf_dir):
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    ds = (
        with_shingles(documents, "text", "__sh__", 3)
        .select("doc_id", F.explode("__sh__").alias("g"))
    )
    sets = ds.groupBy("doc_id").agg(F.count("*").alias("n"))
    pairs = (
        ds.select(F.col("doc_id").alias("id_a"), "g")
        .join(ds.select(F.col("doc_id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = F.round(F.col("inter") / F.col("na"), 6)
    cb = F.round(F.col("inter") / F.col("nb"), 6)
    return (
        pairs.join(
            sets.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .withColumn("containment_a", ca)
        .withColumn("containment_b", cb)
        .filter((F.col("containment_a") >= 0.5) | (F.col("containment_b") >= 0.5))
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


_SLIDING_HLL_ORACLE = """WITH e AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         CAST(user_id AS VARCHAR) AS k
  FROM events),
h AS (SELECT day_idx, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h FROM e),
rk AS (SELECT day_idx, h % 256 AS bucket,
              CASE WHEN h // 256 = 0 THEN 53
                   ELSE 52 - length(bin(h // 256)) + 1 END AS rank
       FROM h),
regs AS (SELECT day_idx, bucket, MAX(rank) AS M FROM rk GROUP BY 1, 2),
spread AS (
  SELECT day_idx + o AS target_day, bucket, M
  FROM regs CROSS JOIN UNNEST(range(0, 7)) AS t(o)),
merged AS (
  SELECT target_day, bucket, MAX(M) AS M
  FROM spread GROUP BY 1, 2),
agg AS (SELECT target_day, COUNT(*) AS n_present,
               SUM(CAST(1 AS BIGINT) << CAST(53 - M AS INT)) AS s_present
        FROM merged GROUP BY 1),
e2 AS (SELECT target_day, 256 - n_present AS v,
              0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256
                * 9007199254740992.0
                / (s_present + (256 - n_present)
                               * (CAST(1 AS BIGINT) << 53)) AS e_raw
       FROM agg),
fin AS (SELECT target_day,
               ROUND(CASE WHEN e_raw <= 2.5 * 256 AND v > 0
                          THEN 256.0 * ln(256 / v) ELSE e_raw END, 4)
                 AS hll_est
        FROM e2),
ex AS (
  SELECT d.day_idx AS target_day,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_distinct
  FROM (SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT)
          AS day_idx FROM events) d
  JOIN (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
               user_id FROM events) e
    ON e.day_idx BETWEEN d.day_idx - 6 AND d.day_idx
  GROUP BY 1)
SELECT f.target_day AS day_idx, ex.exact_distinct, f.hll_est
FROM fin f JOIN ex ON ex.target_day = f.target_day"""


@register(
    "events_sliding_hll_uniques",
    _SLIDING_HLL_ORACLE,
    "trailing-7-day distinct users per day WITHOUT re-scanning 7 "
    "days of events: daily HLL register tables (<=256 rows/day) "
    "spread to the 7 days they influence and max-merged — sketch "
    "algebra replaces the oracle's 7x event re-read range join.  "
    "This is THE daily-uniques dashboard shape at 100 TB: store "
    "registers per day, merge windows at query time; exact distincts "
    "shown alongside (operators/sketches.py::hll_estimate)",
)
def events_sliding_hll_uniques(spark, sf_dir):
    from .operators.sketches import hll_estimate

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    day = F.floor(us / 86_400_000_000).cast("long")
    e = events.select(day.alias("day_idx"), F.col("user_id"))
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    r = F.floor(h / 256).cast("long")
    rank = F.when(r == 0, F.lit(53)).otherwise(F.lit(52) - F.length(F.bin(r)) + 1)
    regs = (
        e.select("day_idx", (h % 256).alias("bucket"), rank.alias("rank"))
        .groupBy("day_idx", "bucket")
        .agg(F.max("rank").alias("M"))
    )
    spread = regs.select(
        F.explode(F.sequence(F.col("day_idx"), F.col("day_idx") + 6)).alias(
            "target_day"
        ),
        "bucket",
        "M",
    )
    merged = spread.groupBy("target_day", "bucket").agg(F.max("M").alias("M"))
    est = hll_estimate(
        merged.withColumnRenamed("target_day", "day_idx"), ["day_idx"]
    )
    days = e.select("day_idx").distinct()
    exact = (
        days.alias("d")
        .join(
            e.select(F.col("day_idx").alias("ed"), "user_id").alias("e"),
            (F.col("ed") >= F.col("day_idx") - 6) & (F.col("ed") <= F.col("day_idx")),
        )
        .groupBy("day_idx")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "day_idx").select("day_idx", "exact_distinct", "hll_est")


_ENTROPY_ORACLE = r"""WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
c AS (SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS c
      FROM toks GROUP BY doc_id, w),
per_doc AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         list_sum(list_transform(list(c ORDER BY w), x -> x * ln(x))) AS s
  FROM c GROUP BY doc_id)
SELECT doc_id, n_tokens,
       ROUND(ln(n_tokens) - s / n_tokens, 6) AS token_entropy
FROM per_doc"""


@register(
    "text_token_entropy",
    _ENTROPY_ORACLE,
    "Shannon token entropy per doc — the gibberish/boilerplate "
    "signal (low entropy = repeated tokens, high = diverse) — "
    "computed ROW-LOCALLY: sort + one fold accumulating c*ln(c) as "
    "runs close (operators/text.py::token_entropy), zero shuffle "
    "where the oracle pays explode + two groupBys.  Sorted-run "
    "accumulation order matches the oracle's ORDER BY token list "
    "sum, so the doubles agree bit-for-bit",
)
def text_token_entropy(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import token_count, token_entropy

    (documents,) = _t(spark, sf_dir, "documents")
    staged = documents.select("doc_id", normalized_tokens("text").alias("toks"))
    return staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(token_entropy(F.col("toks")), 6).alias("token_entropy"),
    )


_TWA_ORACLE = """WITH pts AS (
  SELECT user_id, epoch_us(ts) AS t,
         CAST(value AS DECIMAL(18,4)) AS v
  FROM events),
seg AS (
  SELECT user_id, v,
         LEAD(t) OVER (PARTITION BY user_id ORDER BY t, v) - t AS dur
  FROM pts),
agg AS (
  SELECT user_id,
         CAST(SUM(v * dur) AS DOUBLE) AS weighted,
         CAST(SUM(dur) AS BIGINT) AS total_us
  FROM seg WHERE dur IS NOT NULL
  GROUP BY user_id)
SELECT user_id, total_us,
       ROUND(weighted / total_us, 6) AS time_weighted_value
FROM agg WHERE total_us > 0"""


@register(
    "events_time_weighted_avg",
    _TWA_ORACLE,
    "time-weighted average value per user (each reading holds until "
    "the next — the sensor/price TWA): segment durations from one "
    "LEAD window, weights as DECIMAL x integer-microsecond products "
    "so the sum is exact and order-independent under partial "
    "aggregation.  One user_id shuffle; ties ordered (t, v) "
    "identically on both engines",
)
def events_time_weighted_avg(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    pts = events.select(
        "user_id", us.alias("t"), F.col("value").cast("decimal(18,4)").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("t", "v")
    seg = pts.withColumn("dur", F.lead("t").over(w) - F.col("t")).filter(
        F.col("dur").isNotNull()
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("v") * F.col("dur")).cast("double").alias("weighted"),
            F.sum("dur").alias("total_us"),
        )
        .filter(F.col("total_us") > 0)
        .select(
            "user_id",
            "total_us",
            F.round(F.col("weighted") / F.col("total_us"), 6).alias(
                "time_weighted_value"
            ),
        )
    )


_HYBRID_RRF_ORACLE = rf"""WITH {_TOKS_CTE},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
tf AS (SELECT doc_id, w AS term, COUNT(*) AS tf FROM toks
       WHERE w IN ('spark','table','window') GROUP BY doc_id, w),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         SUM(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * (1.2 + 1)
             / (tf.tf + 1.2 * (1 - 0.75
                               + 0.75 * dl.dl / stats.avgdl))) AS bm25
  FROM tf JOIN dfreq USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
  GROUP BY tf.doc_id),
sparse AS (
  SELECT doc_id AS id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rs
  FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos
  FROM embeddings e CROSS JOIN q),
dense AS (
  SELECT query_id, vec_id AS id, rd FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, vec_id) AS rd
    FROM scored) WHERE rd <= 20),
sp2 AS (SELECT query_id, id, rs
        FROM (SELECT DISTINCT query_id FROM dense) CROSS JOIN sparse),
merged AS (
  SELECT COALESCE(d.query_id, s.query_id) AS query_id,
         COALESCE(d.id, s.id) AS id,
         COALESCE(1.0 / (60 + d.rd), 0.0)
           + COALESCE(1.0 / (60 + s.rs), 0.0) AS rrf
  FROM dense d FULL JOIN sp2 s
    ON d.query_id = s.query_id AND d.id = s.id),
ranked AS (
  SELECT query_id, id, ROUND(rrf, 6) AS rrf_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, id) AS rn
  FROM merged)
SELECT query_id, id, rrf_score FROM ranked WHERE rn <= 10"""


@register(
    "search_hybrid_rrf",
    _HYBRID_RRF_ORACLE,
    "hybrid retrieval via reciprocal-rank fusion: BM25 top-20 "
    "(sparse) and per-query cosine top-20 (dense) fused with "
    "1/(60+rank) — the standard RRF that needs NO score "
    "normalization between incomparable ranking scales.  Both "
    "rankers' heavy stages are the already-pinned shapes (term-"
    "filtered explode; broadcast-query corpus scan); the fusion "
    "itself joins two <=20-row-per-query frames.  The modern "
    "retrieval-stack shape (sparse + dense + fuse) end-to-end",
)
def search_hybrid_rrf(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.dedup import normalized_tokens
    from .operators.similarity import brute_force_top_k

    documents, embeddings = _t(spark, sf_dir, "documents", "embeddings")
    staged = documents.select("doc_id", normalized_tokens("text").alias("toks"))
    # dl feeds the corpus stats AND the BM25 score join; tf feeds the
    # document-frequency agg AND the score join — checkpoint both (dl
    # is two longs per doc, tf is tiny after the term filter) so the
    # tokenization runs once per frame instead of once per reference.
    dl = staged.select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    ).localCheckpoint()
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        staged.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin("spark", "table", "window"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    bm_term = idf * F.col("tf") * (1.2 + 1) / (
        F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    bm = (
        # dfreq is vocabulary-sized — no forced hint (AQE decides)
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(bm_term).alias("bm25"))
    )
    sparse = (
        bm.orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
        .withColumn(
            "rs", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
        )
        .select(F.col("doc_id").alias("id"), "rs")
    )
    query = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    dense = (
        brute_force_top_k(embeddings, query, k=20)
        .withColumn(
            "rd",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cosine_sim"), "vec_id"
                )
            ),
        )
        .select("query_id", F.col("vec_id").alias("id"), "rd")
    )
    sp2 = dense.select("query_id").distinct().crossJoin(F.broadcast(sparse))
    merged = dense.join(sp2, ["query_id", "id"], "full").select(
        "query_id",
        "id",
        (
            F.coalesce(1.0 / (60 + F.col("rd")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("rs")), F.lit(0.0))
        ).alias("rrf"),
    )
    ranked = merged.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("rrf"), "id")
        ),
    )
    return ranked.filter(F.col("rn") <= 10).select(
        "query_id", "id", F.round("rrf", 6).alias("rrf_score")
    )


_MINHASH_MD5_ORACLE = rf"""WITH {_TOKS_CTE},
g AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds AS (SELECT DISTINCT doc_id, g FROM g),
hashes AS (
  SELECT doc_id, i,
         MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || g), 1, 15))
               ::BIGINT) AS mh
  FROM ds CROSS JOIN UNNEST(range(0, 64)) AS t(i)
  GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM hashes GROUP BY doc_id, i // 4)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"""


@register(
    "dedup_minhash_pairs_md5",
    _MINHASH_MD5_ORACLE,
    "ORACLE-CHECKED MinHash-LSH banding (md5 twin of the xxhash64 "
    "scale path dedup_minhash_pairs): 64 md5-seeded min-hashes as "
    "one row-local nested HOF — no explode, no per-hash shuffle — "
    "16 bands of 4 rows, candidate pairs from the banded self-join.  "
    "The hash against DuckDB certifies the full signature/banding "
    "pipeline bit-for-bit; the production variant only swaps the "
    "hash function",
)
def dedup_minhash_pairs_md5(spark, sf_dir):
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    staged = with_shingles(documents, "text", "__sh__", 3).select(
        "doc_id", "__sh__"
    )
    minh = lambda i: F.array_min(  # noqa: E731
        F.transform(
            F.col("__sh__"),
            lambda gr: F.conv(
                F.substring(
                    F.md5(F.concat(i.cast("string"), F.lit("|"), gr)), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    sig = staged.withColumn(
        "sig", F.transform(F.sequence(F.lit(0), F.lit(63)), minh)
    )
    band_key = F.concat_ws(
        ",",
        F.transform(
            F.slice(F.col("sig"), F.col("band") * 4 + 1, 4),
            lambda m: m.cast("string"),
        ),
    )
    bands = (
        sig.select(
            "doc_id", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("band"), "sig"
        )
        .withColumn("key", band_key)
        .select("doc_id", "band", "key")
    )
    a = bands.select(F.col("doc_id").alias("id_a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


_SIMHASH_MD5_ORACLE = r"""WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks),
votes AS (
  SELECT doc_id, j,
         SUM(((h >> CAST(j AS INT)) & 1) * 2 - 1) AS v
  FROM h CROSS JOIN UNNEST(range(0, 60)) AS t(j)
  GROUP BY doc_id, j),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                       ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY doc_id),
bands AS (
  SELECT doc_id, b, (sig >> CAST(15 * b AS INT)) & 32767 AS bv
  FROM sig CROSS JOIN UNNEST(range(0, 4)) AS t(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv
                            AND a.doc_id < b.doc_id)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.sig, sb.sig)) <= 3"""


@register(
    "dedup_simhash_pairs_md5",
    _SIMHASH_MD5_ORACLE,
    "ORACLE-CHECKED SimHash (md5 twin of the xxhash64 scale path "
    "dedup_simhash_pairs): 60-bit signature from ONE fold over the "
    "token-hash array — each step zip_with-adds a 60-vote delta "
    "(the single-pass formulation the round-1 verdict suggested "
    "over 64 separate folds) — 4x15-bit pigeonhole bands, exact "
    "Hamming <= 3 verify via bit_count(xor).  Certifies the whole "
    "signature/banding/verify pipeline bit-for-bit against DuckDB",
)
def dedup_simhash_pairs_md5(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.array_distinct(normalized_tokens("text")).alias("tk")
    )
    md5int = lambda t: F.conv(  # noqa: E731
        F.substring(F.md5(t), 1, 15), 16, 10
    ).cast("long")
    harr = toks.select("doc_id", F.transform("tk", md5int).alias("hs"))
    delta = lambda h: F.array(  # noqa: E731 — 60 literal shifts
        *[
            (
                F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
            )
            for j in range(60)
        ]
    )
    votes = F.aggregate(
        F.col("hs"),
        F.array(*[F.lit(0) for _ in range(60)]),
        lambda acc, h: F.zip_with(acc, delta(h), lambda a, d: a + d),
    )
    sigv = harr.select("doc_id", votes.alias("v"))
    sig_expr = None
    for j in range(60):
        term = F.when(
            F.element_at(F.col("v"), j + 1) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig_expr = term if sig_expr is None else sig_expr + term
    sig = sigv.select("doc_id", sig_expr.alias("sig"))
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("sig"), 15 * b)
                        .bitwiseAND(F.lit(32767))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk")["b"].alias("b"), F.col("bk")["bv"].alias("bv"))
    cand = (
        bands.select(F.col("doc_id").alias("id_a"), "b", "bv")
        .join(bands.select(F.col("doc_id").alias("id_b"), "b", "bv"), ["b", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.join(sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa")), "id_a")
        .join(sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb")), "id_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


_IVF_DET_ORACLE = """WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 61 = 0),
assigned AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT n.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY ROUND(list_inner_product(n.v, c.cv)
                            / (n.nrm * c.cnrm), 6) DESC, c.cid) AS rn
    FROM n CROSS JOIN c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
      FROM n WHERE vec_id < 3),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND(list_inner_product(q.qv, c.cv)
                            / (q.qnrm * c.cnrm), 6) DESC, c.cid) AS rn
    FROM q CROSS JOIN c) WHERE rn <= 3),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probe p JOIN assigned a ON a.cluster_id = p.cid),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         ROUND(list_inner_product(n.v, q.qv) / (n.nrm * q.qnrm), 6)
           AS cosine_sim
  FROM cand
  JOIN n ON n.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id)
SELECT query_id, vec_id, cosine_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id) AS rn
  FROM scored) WHERE rn <= 10"""


@register(
    "sim_ivf_topk_det",
    _IVF_DET_ORACLE,
    "ORACLE-CHECKED IVF ANN (deterministic twin of sim_ivf_topk): "
    "hash-mod centroids (vec_id % 61 — zero extra passes), "
    "shuffle-free argmax cell assignment (the semdedup broadcast-"
    "fold), top-3 probed cells per query, exact re-rank within "
    "candidates.  Pruning is part of the SPEC here — the hash "
    "certifies cells, probes, and final ranking bit-for-bit, "
    "closing the we-cant-oracle-approximate-search gap: fix the "
    "randomness, and approximate search is just another "
    "deterministic plan",
)
def sim_ivf_topk_det(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.curation import cluster_assign_argmax
    from .operators.similarity import dot

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    cents = e.filter(F.col("vec_id") % 61 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    assigned = cluster_assign_argmax(e, cents).select("vec_id", "cluster_id")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    qcos = F.round(
        dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")), 6
    )
    probe = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("qc", qcos)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("qc"), "cid")
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("query_id", F.col("cid").alias("cluster_id"))
    )
    cand = probe.join(assigned, "cluster_id").select("query_id", "vec_id")
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 6
            ),
        )
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cosine_sim"), "vec_id"
                )
            ),
        )
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id", "cosine_sim")
    )


_DECAY_ORACLE = """WITH pts AS (
  SELECT user_id, epoch_us(ts) AS t, value AS v FROM events),
tm AS (SELECT MAX(t) AS tmax FROM pts),
terms AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         list_sum(list(v * exp(-((tmax - t) / 86400000000.0))
                       ORDER BY t, v)) AS s
  FROM pts CROSS JOIN tm
  GROUP BY user_id)
SELECT user_id, n_events, ROUND(s, 6) AS decayed_score
FROM terms"""


@register(
    "events_decayed_score",
    _DECAY_ORACLE,
    "exponentially-decayed engagement score per user (1-day "
    "half-life-ish lambda=1/day): sum of value*exp(-age_days) "
    "accumulated in (t, v)-SORTED order via a row-local fold over "
    "the collected per-user series — the same ordered-summation "
    "trick as text_token_entropy, so the float sum is reproducible "
    "against the oracle's ORDER BY list.  The recency-weighted "
    "lifetime-value shape; one user_id shuffle, reference time "
    "broadcast from one aggregate",
)
def events_decayed_score(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    pts = events.select("user_id", us.alias("t"), F.col("value").alias("v"))
    tm = pts.agg(F.max("t").alias("tmax"))
    grouped = (
        pts.crossJoin(F.broadcast(tm))
        .groupBy("user_id", "tmax")
        .agg(
            F.count("*").alias("n_events"),
            F.sort_array(
                F.collect_list(F.struct(F.col("t"), F.col("v")))
            ).alias("series"),
        )
    )
    term = lambda acc, e: acc + e["v"] * F.exp(  # noqa: E731
        -((F.col("tmax") - e["t"]) / 86_400_000_000.0)
    )
    return grouped.select(
        "user_id",
        "n_events",
        F.round(
            F.aggregate(F.col("series"), F.lit(0.0), term), 6
        ).alias("decayed_score"),
    )


_TREND_OLS_ORACLE = """WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
sums AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY 1)
SELECT event_type, n AS n_days,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (n * sxx - sx * sx), 6) AS slope_per_day,
       ROUND((sy - CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
FROM sums WHERE n * sxx - sx * sx <> 0"""


@register(
    "events_trend_ols",
    _TREND_OLS_ORACLE,
    "per-group linear trend (OLS on daily counts): closed-form slope "
    "from EXACT int64 moment sums (n, Σx, Σy, Σxy, Σx²) — every "
    "aggregate is an integer, so partial-aggregation order cannot "
    "move the fit; one double division at the end.  The grouped-"
    "regression shape (trend detection per segment) in two "
    "aggregations, no ML library",
)
def events_trend_ols(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    daily = (
        events.select("event_type", F.floor(us / 86_400_000_000).cast("long").alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count("*").alias("y"))
    )
    # decimal-routed moment sums: day-index x count products (and the
    # n*sxy / sx*sy cross terms downstream) overflow int64 once event
    # counts reach ~1e12 — the customer_revenue_gini overflow class,
    # fixed the same way; everything downstream is double math anyway.
    sums = daily.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return (
        sums.filter(den != 0)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(slope, 6).alias("slope_per_day"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
                "intercept"
            ),
        )
    )


_CORR_ORACLE = """WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                  * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
         AS corr_qty_price
FROM m"""


@register(
    "lineitem_corr_grouped",
    _CORR_ORACLE,
    "stable grouped Pearson correlation: the five moment sums "
    "(Σx, Σy, Σxy, Σx², Σy²) computed in EXACT decimal, cast to "
    "double ONCE, combined in a fixed expression order — unlike "
    "streaming-covariance implementations (Welford in float), the "
    "result cannot move with partial-aggregation order.  Two "
    "aggregations worth of stats from one scan",
)
def lineitem_corr_grouped(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # DECIMAL(19,4): wide enough to force int128 storage in the
    # oracle (DuckDB 1.0 multiplies <=18-digit decimals in int64 and
    # overflows), products exact at (38,8) on both engines
    dx = F.col("l_quantity").cast("decimal(19,4)")
    dy = F.col("l_extendedprice").cast("decimal(19,4)")
    m = lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price")
    )


_EXPECT_ORACLE = """WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
         CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT)
           AS null_price,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
         CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
         CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
         CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
              AS BIGINT) AS bad_status
  FROM orders)
SELECT * FROM (
  SELECT 'row_count_at_least_1000' AS constraint_name,
         CAST(row_count AS DOUBLE) AS observed,
         row_count >= 1000 AS passed FROM m
  UNION ALL SELECT 'price_null_ratio_is_zero',
         CAST(null_price AS DOUBLE) / row_count,
         null_price = 0 FROM m
  UNION ALL SELECT 'priority_cardinality_at_most_10',
         CAST(n_priorities AS DOUBLE), n_priorities <= 10 FROM m
  UNION ALL SELECT 'price_is_positive', min_price, min_price > 0 FROM m
  UNION ALL SELECT 'price_below_1e7', max_price, max_price < 10000000
    FROM m
  UNION ALL SELECT 'status_in_domain',
         CAST(bad_status AS DOUBLE), bad_status = 0 FROM m)"""


@register(
    "profile_expectations",
    _EXPECT_ORACLE,
    "Deequ-shaped data-quality expectations: six constraints "
    "(row count, null ratio, cardinality bound, value bounds, "
    "enum domain) evaluated from ONE aggregation pass — the metrics "
    "compute once and every constraint reads the same 1-row metric "
    "frame, the analyzer/verifier split that keeps a 100-constraint "
    "suite at one scan.  Complements the reference-schema rule "
    "engine (rules_validate) with the generic numeric-profile tier",
)
def profile_expectations(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    m = orders.agg(
        F.count("*").alias("row_count"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("null_price"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("bad_status"),
    ).localCheckpoint()  # ONE row, referenced once per expectation
    checks = [
        ("row_count_at_least_1000", F.col("row_count").cast("double"),
         F.col("row_count") >= 1000),
        ("price_null_ratio_is_zero",
         F.col("null_price").cast("double") / F.col("row_count"),
         F.col("null_price") == 0),
        ("priority_cardinality_at_most_10",
         F.col("n_priorities").cast("double"), F.col("n_priorities") <= 10),
        ("price_is_positive", F.col("min_price"), F.col("min_price") > 0),
        ("price_below_1e7", F.col("max_price"),
         F.col("max_price") < 10_000_000),
        ("status_in_domain", F.col("bad_status").cast("double"),
         F.col("bad_status") == 0),
    ]
    out = None
    for name, observed, passed in checks:
        row = m.select(
            F.lit(name).alias("constraint_name"),
            observed.alias("observed"),
            passed.alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    return out


_GAP_ORACLE = """WITH pts AS (
  SELECT event_type, epoch_us(ts) AS t FROM events),
gaps AS (
  SELECT event_type,
         LEAD(t) OVER (PARTITION BY event_type ORDER BY t) - t AS gap
  FROM pts),
g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL),
rk AS (
  SELECT event_type, gap,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM g)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
         AS median_gap_us,
       CAST(MAX(CASE WHEN rn = n - (n // 10) THEN gap END) AS BIGINT)
         AS p90_gap_us
FROM rk GROUP BY event_type"""


@register(
    "events_gap_stats",
    _GAP_ORACLE,
    "inter-arrival gap statistics per event type (exact median and "
    "p90 of consecutive-event gaps): one LEAD window for the gaps, "
    "one rank window for the order statistics — integer-µs exact, "
    "rank positions chosen as explicit row numbers so both engines "
    "pick the identical element.  The burstiness profile behind "
    "rate-limit and capacity decisions; approx_percentile is the "
    "100 TB swap (profile_columns_approx pattern)",
)
def events_gap_stats(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    pts = events.select("event_type", us.alias("t"))
    wl = Window.partitionBy("event_type").orderBy("t")
    g = (
        pts.withColumn("gap", F.lead("t").over(wl) - F.col("t"))
        .filter(F.col("gap").isNotNull())
    )
    wr = Window.partitionBy("event_type").orderBy("gap")
    wn = Window.partitionBy("event_type")
    rk = g.select(
        "event_type",
        "gap",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return rk.groupBy("event_type").agg(
        F.max("n").alias("n_gaps"),
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("gap"))
        ).alias("median_gap_us"),
        F.max(
            F.when(
                F.col("rn") == F.col("n") - F.floor(F.col("n") / 10), F.col("gap")
            )
        ).alias("p90_gap_us"),
    )


_TREND_OUTLIER_ORACLE = """WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY 1),
fit AS (
  SELECT event_type, n, sx, sy,
         CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS b,
         (sy - CAST(n * sxy - sx * sy AS DOUBLE)
               / (n * sxx - sx * sx) * sx) / n AS a,
         sqrt(((syy - CAST(sy AS DOUBLE) * sy / n)
               - CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
                 * (sxy - CAST(sx AS DOUBLE) * sy / n)) / (n - 2)) AS sigma
  FROM m WHERE n > 2 AND n * sxx - sx * sx <> 0)
SELECT d.event_type, d.x AS day_idx, d.y AS n_events,
       ROUND(d.y - (f.a + f.b * d.x), 6) AS residual,
       ABS(d.y - (f.a + f.b * d.x)) > 2 * f.sigma AS is_outlier
FROM daily d JOIN fit f USING (event_type)"""


@register(
    "events_trend_outliers",
    _TREND_OUTLIER_ORACLE,
    "model-based anomaly detection: fit the per-type OLS trend from "
    "exact int64 moments (incl. Σy² for the residual variance), flag "
    "days whose residual exceeds 2σ — catches level anomalies z-"
    "scores miss when the series TRENDS (a growing series makes "
    "every late day a z-score 'anomaly'; residuals de-trend first).  "
    "Two aggs + one broadcast join of per-type fits; every moment "
    "exact, every double derived in fixed expression order",
)
def events_trend_outliers(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    daily = (
        events.select(
            "event_type", F.floor(us / 86_400_000_000).cast("long").alias("x")
        )
        .groupBy("event_type", "x")
        .agg(F.count("*").alias("y"))
    )
    # decimal-routed moment sums (see events_trend_ols: the gini
    # overflow class — int64 dies at ~1e12 events)
    m = daily.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    b = num / den
    a = (F.col("sy") - b * F.col("sx")) / F.col("n")
    sigma = F.sqrt(
        (
            (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n"))
            - b
            * (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
        )
        / (F.col("n") - 2)
    )
    fit = (
        m.filter((F.col("n") > 2) & (den != 0))
        .select("event_type", b.alias("b"), a.alias("a"), sigma.alias("sigma"))
    )
    resid = F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
    return (
        daily.join(F.broadcast(fit), "event_type")
        .select(
            "event_type",
            F.col("x").alias("day_idx"),
            F.col("y").alias("n_events"),
            F.round(resid, 6).alias("residual"),
            (F.abs(resid) > 2 * F.col("sigma")).alias("is_outlier"),
        )
    )


_SCD2_ENRICH_ORACLE = """WITH dim AS (
  SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority AS prio
  FROM (
    SELECT o_custkey, o_orderdate, o_orderpriority,
           LAG(o_orderpriority) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS prev_prio
    FROM orders)
  WHERE prev_prio IS NULL OR prio <> prev_prio),
fact AS (
  SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT d.prio AS priority_at_ship,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM fact f
ASOF JOIN dim d
  ON f.o_custkey = d.o_custkey AND f.l_shipdate >= d.valid_from
GROUP BY d.prio"""


@register(
    "lineitem_scd2_enrich",
    _SCD2_ENRICH_ORACLE,
    "SCD2 dimension enrichment: the customer's priority HISTORY "
    "(change-detected via LAG over order dates) joined as-of to each "
    "shipped item — 'what tier was this customer in when the item "
    "shipped', the versioned-dimension lookup every warehouse fact "
    "load runs.  Spark side uses the union+single-sort asof_join "
    "(one shuffle on the customer key, O((|L|+|R|) log) per "
    "partition); the oracle uses DuckDB's native ASOF JOIN — two "
    "engines, two physical strategies, identical decimal-exact "
    "revenue per tier",
)
def lineitem_scd2_enrich(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.joins import asof_join

    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = (
        orders.select(
            "o_custkey",
            "o_orderdate",
            "o_orderpriority",
            F.lag("o_orderpriority").over(w).alias("prev_prio"),
        )
        .filter(
            F.col("prev_prio").isNull()
            | (F.col("o_orderpriority") != F.col("prev_prio"))
        )
        .select(
            "o_custkey",
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("prio"),
        )
    )
    fact = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem["l_orderkey"] == orders["o_orderkey"],
    ).select("o_custkey", F.col("l_shipdate").alias("ts"), "l_extendedprice")
    enriched = asof_join(
        fact, dim, partition_col="o_custkey", ts_col="ts", value_cols=["prio"]
    )
    return (
        enriched.filter(F.col("asof_prio").isNotNull())
        .groupBy(F.col("asof_prio").alias("priority_at_ship"))
        .agg(
            F.count("*").alias("n_items"),
            agg.exact_sum("l_extendedprice", "revenue"),
        )
    )


_RFM_ORACLE = """WITH mx AS (SELECT MAX(o_orderdate) AS ref FROM orders),
base AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(o_orderdate), MAX(mx.ref)) AS BIGINT)
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS monetary
  FROM orders CROSS JOIN mx
  GROUP BY o_custkey),
scored AS (
  SELECT *,
         NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
         NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
  FROM base)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE) AS segment_value
FROM scored GROUP BY r_score, f_score, m_score"""


@register(
    "customer_rfm_segments",
    _RFM_ORACLE,
    "RFM segmentation: recency/frequency/monetary per customer in "
    "one aggregation, quintile scores via distributed_ntile — the "
    "exact NTILE remainder rule recomputed from a range-partitioned "
    "global row_number (orders_abc_pareto_scaled shape), so no "
    "|customers|-sized single-task window survives at 100 TB.  "
    "Explicit custkey tie-breaks keep both engines deterministic; "
    "decimal-exact monetary end-to-end",
)
def customer_rfm_segments(spark, sf_dir):
    from .operators.windows import distributed_ntile

    (orders,) = _t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("ref"))
    base = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("ref"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            agg.exact_sum("o_totalprice", "monetary"),
        )
    )
    scored = base
    for out_col, order in (
        ("r_score", [F.desc("recency_days"), F.col("o_custkey").asc()]),
        ("f_score", [F.col("frequency").asc(), F.col("o_custkey").asc()]),
        ("m_score", [F.col("monetary").asc(), F.col("o_custkey").asc()]),
    ):
        scored = distributed_ntile(
            scored, 5, order, out_col=out_col, n_partitions=8
        )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        agg.exact_sum("monetary", "segment_value"),
    )


_MINHASH_CLUSTERS_MD5_ORACLE = rf"""WITH RECURSIVE {_TOKS_CTE},
g AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds AS (SELECT DISTINCT doc_id, g FROM g),
hashes AS (
  SELECT doc_id, i,
         MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || g), 1, 15))
               ::BIGINT) AS mh
  FROM ds CROSS JOIN UNNEST(range(0, 64)) AS t(i)
  GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM hashes GROUP BY doc_id, i // 4),
p AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key
              AND a.doc_id < b.doc_id),
edges AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach AS (
  SELECT doc_id AS a, doc_id AS b FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a"""


@register(
    "dedup_minhash_clusters_md5",
    _MINHASH_CLUSTERS_MD5_ORACLE,
    "ORACLE-CHECKED composed near-dup clustering: md5-seeded "
    "MinHash-LSH candidate pairs (dedup_minhash_pairs_md5's "
    "pipeline) fed into min-label-propagation connected components — "
    "the END-TO-END signature→banding→pairs→clusters pipeline hash-"
    "matches a recursive-CTE oracle.  The xxhash composition "
    "(dedup_minhash_clusters) is the same plan at scale",
)
def dedup_minhash_clusters_md5(spark, sf_dir):
    return _pair_clusters(REGISTRY["dedup_minhash_pairs_md5"].fn(spark, sf_dir))


_NOVELTY_ORACLE = rf"""WITH {_TOKS_CTE},
g AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds AS (SELECT DISTINCT doc_id, g FROM g),
firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM ds GROUP BY g)
SELECT ds.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(*) FILTER (WHERE f.first_doc = ds.doc_id) AS BIGINT)
         AS n_novel,
       ROUND(COUNT(*) FILTER (WHERE f.first_doc = ds.doc_id)
             / COUNT(*), 6) AS novelty
FROM ds JOIN firsts f USING (g)
GROUP BY ds.doc_id"""


@register(
    "text_ngram_novelty",
    _NOVELTY_ORACLE,
    "corpus novelty curve: per doc, the fraction of its 3-gram "
    "shingles never seen in any LOWER-id doc (first-occurrence "
    "attribution via one min-per-gram agg + join back) — the "
    "diminishing-returns signal for corpus growth: when novelty "
    "flattens, new data is re-treading old data.  Shuffles on the "
    "gram key and the doc re-group; never pairwise",
)
def text_ngram_novelty(spark, sf_dir):
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    ds = with_shingles(documents, "text", "__sh__", 3).select(
        "doc_id", F.explode("__sh__").alias("g")
    )
    firsts = ds.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        ds.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


_QUANT_ORACLE = """WITH dims AS (
  SELECT vec_id, i - 1 AS dim, CAST(v AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)),
rng AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY dim),
coded AS (
  SELECT d.dim, d.x,
         CASE WHEN r.hi = r.lo THEN 0
              ELSE CAST(round((d.x - r.lo) / (r.hi - r.lo) * 254 - 127)
                        AS INT) END AS code,
         r.lo, r.hi
  FROM dims d JOIN rng r USING (dim)),
err AS (
  SELECT dim,
         ABS(x - (lo + (code + 127) * (hi - lo) / 254)) AS e
  FROM coded)
SELECT dim, ROUND(MAX(e), 6) AS max_abs_err,
       CAST(COUNT(*) AS BIGINT) AS n_values
FROM err GROUP BY dim"""


@register(
    "embedding_quantize_int8",
    _QUANT_ORACLE,
    "int8 scalar quantization of the embedding table (per-dimension "
    "min/max ranges -> 255-level codes) with per-dim MAX "
    "reconstruction error — max, not mean, because max is order-"
    "independent over doubles.  The memory-4x step before ANN "
    "serving; ranges are a 64-row broadcast, codes are row-local",
)
def embedding_quantize_int8(spark, sf_dir):
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    dims = embeddings.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    rng = dims.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    coded = dims.join(F.broadcast(rng), "dim").withColumn(
        "code",
        F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.round(
                (F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 254
                - 127
            ).cast("int")
        ),
    )
    err = coded.select(
        "dim",
        F.abs(
            F.col("x")
            - (
                F.col("lo")
                + (F.col("code") + 127) * (F.col("hi") - F.col("lo")) / 254
            )
        ).alias("e"),
    )
    return err.groupBy("dim").agg(
        F.round(F.max("e"), 6).alias("max_abs_err"),
        F.count("*").alias("n_values"),
    )


_SOURCE_SCORECARD_ORACLE = r"""WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nh
  FROM documents),
base AS (
  SELECT doc_id, source, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','in','is','that','it','for'], x)))
             AS DOUBLE) / len(toks) ELSE 0.0 END AS sw_ratio,
         nh
  FROM t),
dups AS (SELECT nh FROM base GROUP BY nh HAVING COUNT(*) > 1)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) FILTER (WHERE b.nh IN (SELECT nh FROM dups))
            AS BIGINT) AS n_exact_dups,
       CAST(COUNT(*) FILTER (WHERE n_tokens BETWEEN 50 AND 200
                               AND sw_ratio >= 0.05) AS BIGINT)
         AS n_quality_pass,
       ROUND(COUNT(*) FILTER (WHERE n_tokens BETWEEN 50 AND 200
                                AND sw_ratio >= 0.05)
             / COUNT(*), 6) AS quality_rate
FROM base b GROUP BY source"""


@register(
    "corpus_source_scorecard",
    _SOURCE_SCORECARD_ORACLE,
    "per-source data-vendor scorecard: doc/token volumes, exact-dup "
    "incidence (normalized-md5 groups >1), and a quality pass rate "
    "(token-count bounds + stopword presence) — ONE scan of the "
    "corpus feeding every column, one dup-group semi-join.  The "
    "table a curation team reviews before accepting a crawl "
    "delivery; composes the dedup + Gopher-filter primitives "
    "already oracle-certified individually",
)
def corpus_source_scorecard(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import stopword_ratio_of

    (documents,) = _t(spark, sf_dir, "documents")
    base = documents.select(
        "doc_id",
        "source",
        normalized_tokens("text").alias("toks"),
        F.md5(
            F.encode(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                "UTF-8",
            )
        ).alias("nh"),
    ).select(
        "doc_id",
        "source",
        F.size("toks").alias("n_tokens"),
        stopword_ratio_of(F.col("toks")).alias("sw_ratio"),
        "nh",
    )
    dups = (
        base.groupBy("nh")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("nh")
        .withColumn("__dup__", F.lit(True))
    )
    passed = (F.col("n_tokens").between(50, 200)) & (F.col("sw_ratio") >= 0.05)
    return (
        # dups scales with near-dup neighborhoods — no hint
        base.join(dups, "nh", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.count(F.when(F.col("__dup__"), 1)).alias("n_exact_dups"),
            F.count(F.when(passed, 1)).alias("n_quality_pass"),
            F.round(
                F.count(F.when(passed, 1)) / F.count("*"), 6
            ).alias("quality_rate"),
        )
    )


_ZIPF_ORACLE = r"""WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY w),
rk AS (
  SELECT ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r,
         ln(ROW_NUMBER() OVER (ORDER BY f DESC, w)) AS x,
         ln(f) AS y
  FROM vocab),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             list_sum(list(x ORDER BY r)) AS sx,
             list_sum(list(y ORDER BY r)) AS sy,
             list_sum(list(x * y ORDER BY r)) AS sxy,
             list_sum(list(x * x ORDER BY r)) AS sxx
      FROM rk)
SELECT n AS vocab_size,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM s"""


@register(
    "text_zipf_fit",
    _ZIPF_ORACLE,
    "Zipf-law fit over the corpus vocabulary: OLS slope of ln(freq) "
    "on ln(rank) — natural text sits near −1; synthetic/templated "
    "corpora drift toward 0 (this uniform-vocab fixture measurably "
    "does).  The log moments are summed in RANK ORDER via a sorted "
    "fold (the entropy rule), so the float sums reproduce against "
    "the oracle's ORDER BY lists; vocab ranking happens on the "
    "REDUCED vocab frame, never the token stream",
)
def text_zipf_fit(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    vocab = (
        documents.select(F.explode(normalized_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    r = F.row_number().over(Window.orderBy(F.desc("f"), "w"))
    rk = vocab.select(
        r.alias("r"), F.log(r.cast("double")).alias("x"), F.log("f").alias("y")
    )
    series = rk.agg(
        F.count("*").alias("n"),
        F.sort_array(
            F.collect_list(F.struct("r", "x", "y"))
        ).alias("pts"),
    )
    fold = lambda field_expr: F.aggregate(  # noqa: E731
        F.col("pts"), F.lit(0.0), lambda acc, p: acc + field_expr(p)
    )
    sums = series.select(
        "n",
        fold(lambda p: p["x"]).alias("sx"),
        fold(lambda p: p["y"]).alias("sy"),
        fold(lambda p: p["x"] * p["y"]).alias("sxy"),
        fold(lambda p: p["x"] * p["x"]).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").alias("vocab_size"), F.round(slope, 6).alias("zipf_slope")
    )


_DOW_ORACLE = """SELECT dayofweek(o_orderdate) + 1 AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1"""


@register(
    "orders_dow_seasonality",
    _DOW_ORACLE,
    "day-of-week seasonality profile: order counts + decimal-exact "
    "revenue per weekday (engines disagree on week numbering — "
    "DuckDB Sunday=0, Spark Sunday=1 — aligned explicitly in the "
    "oracle).  The ops-review staple; one aggregation",
)
def orders_dow_seasonality(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.dayofweek("o_orderdate").alias("dow"))
        .agg(
            F.count("*").alias("n_orders"),
            agg.exact_sum("o_totalprice", "revenue"),
        )
    )


_LANGID_EVAL_ORACLE = r"""WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), h AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(
      ['der','die','das','und','ist','von','mit','für','ein','nicht'], x))) AS h_de,
    len(list_filter(toks, x -> list_contains(
      ['the','a','of','and','to','in','is','that','it','for'], x))) AS h_en,
    len(list_filter(toks, x -> list_contains(
      ['el','la','los','de','y','es','un','una','por','para'], x))) AS h_es,
    len(list_filter(toks, x -> list_contains(
      ['le','la','les','de','et','est','un','une','pour','dans'], x))) AS h_fr,
    len(list_filter(toks, x -> list_contains(
      ['的','是','在','了','和','有','我','不','这','他'], x))) AS h_zh
  FROM t),
pred AS (
  SELECT lang,
         CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) <= 0 THEN 'und'
              WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
              WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
              WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
              WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
              ELSE 'zh' END AS lang_pred
  FROM h)
SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY lang), 6)
         AS row_rate
FROM pred GROUP BY lang, lang_pred"""


@register(
    "text_langid_confusion",
    _LANGID_EVAL_ORACLE,
    "classifier evaluation as a query: the lang-id confusion matrix "
    "(labeled lang x predicted lang, counts + per-label rates) — "
    "the eval harness every heuristic classifier needs, computed in "
    "the engine over the full corpus instead of a sampled notebook.  "
    "Reuses the oracle-certified scoring; rates via a window over "
    "the (tiny) grouped frame",
)
def text_langid_confusion(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.text import language_id

    (documents,) = _t(spark, sf_dir, "documents")
    pred = language_id(documents).select("lang", "lang_pred")
    counts = pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("row_rate"),
    )


# ---------------------------------------------------------------------------
# TabBreaker (src/s3_ccdi_to_tabbreakery.py:45-142) — the workbook →
# loader-TSV splitter, composed over two synthetic node sheets with a
# study-scoped surrogate-id mint.  The registry entry certifies the
# md5-twin surrogate (DuckDB has no sha1); the production uuid5 path
# shares every line except the hash primitive and is golden-tested
# against uuid.uuid5 in tests/test_operators.py.
# ---------------------------------------------------------------------------

_TB_SURGERY = (
    "substr(h,1,8) || '-' || substr(h,9,4) || '-3' || substr(h,14,3) || '-' || "
    "translate(substr(h,17,1), '0123456789abcdef', '89ab89ab89ab89ab') || "
    "substr(h,18,3) || '-' || substr(h,21,12)"
)

_TABBREAKER_ORACLE = f"""WITH p AS (
  SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL
              ELSE 'PCT_' || CAST(c_custkey AS VARCHAR) END AS participant_id,
         CASE c_custkey % 3 WHEN 0 THEN 'Male' WHEN 1 THEN 'Female'
              ELSE 'Not Reported' END AS sex_at_birth
  FROM customer),
pid AS (
  SELECT participant_id, sex_at_birth,
         CASE WHEN participant_id IS NOT NULL THEN {_TB_SURGERY} END AS id
  FROM (SELECT *,
          md5('ccdi::phs-TB::participant::' || participant_id) AS h
        FROM p)),
s AS (
  SELECT 'SMP_' || CAST(o_orderkey AS VARCHAR) AS sample_id,
         CASE WHEN o_orderkey % 89 = 0 THEN NULL
              ELSE 'PCT_' || CAST(o_custkey AS VARCHAR) END AS plink,
         o_orderstatus AS sample_type
  FROM orders),
sid AS (
  SELECT sample_id, sample_type,
         CASE WHEN sample_id IS NOT NULL THEN {_TB_SURGERY} END AS id,
         pid2 AS "participant.id"
  FROM (SELECT *,
          md5('ccdi::phs-TB::sample::' || sample_id) AS h,
          CASE WHEN plink IS NOT NULL THEN
            substr(h2,1,8) || '-' || substr(h2,9,4) || '-3' || substr(h2,14,3)
            || '-' ||
            translate(substr(h2,17,1), '0123456789abcdef', '89ab89ab89ab89ab')
            || substr(h2,18,3) || '-' || substr(h2,21,12) END AS pid2
        FROM (SELECT *,
                md5('ccdi::phs-TB::participant::' || plink) AS h2
              FROM s)))
SELECT 'participant' AS type, participant_id, id, sex_at_birth,
       CAST(NULL AS VARCHAR) AS sample_id,
       CAST(NULL AS VARCHAR) AS sample_type,
       CAST(NULL AS VARCHAR) AS "participant.id"
FROM pid
UNION ALL
SELECT 'sample', NULL, id, NULL, sample_id, sample_type, "participant.id"
FROM sid"""


def _tabbreaker_sheets(spark, sf_dir):
    """Three synthetic manifest sheets: participant (null-key rows),
    sample (redundant ``participant.participant_id`` link + null-link
    rows), and an all-null diagnosis sheet the pruning must drop."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    ck = F.col("c_custkey")
    participant = customer.select(
        F.when(ck % 97 != 0, F.concat(F.lit("PCT_"), ck.cast("string")))
        .alias("participant_id"),
        F.when(ck % 3 == 0, F.lit("Male"))
        .when(ck % 3 == 1, F.lit("Female"))
        .otherwise(F.lit("Not Reported"))
        .alias("sex_at_birth"),
    )
    ok = F.col("o_orderkey")
    sample = orders.select(
        F.concat(F.lit("SMP_"), ok.cast("string")).alias("sample_id"),
        F.when(
            ok % 89 != 0,
            F.concat(F.lit("PCT_"), F.col("o_custkey").cast("string")),
        ).alias("participant.participant_id"),
        F.col("o_orderstatus").alias("sample_type"),
    )
    diagnosis = customer.limit(5).select(
        F.lit(None).cast("string").alias("diagnosis_id"),
        F.lit(None).cast("string").alias("diagnosis"),
    )
    return {"participant": participant, "sample": sample, "diagnosis": diagnosis}


@register(
    "ccdi_to_tabbreaker",
    _TABBREAKER_ORACLE,
    "composed CCDI→TabBreaker workbook break "
    "(src/s3_ccdi_to_tabbreakery.py:45-142): per-node type stamp + "
    "study-scoped surrogate-id mint on keys and parent links, redundant "
    "link-column drop, empty/link-only sheet pruning — all shuffle-free "
    "codegen projections (plans/tabbreaker.py)",
)
def ccdi_to_tabbreaker_query(spark, sf_dir):
    from .plans.tabbreaker import tabbreaker

    broken = tabbreaker(
        _tabbreaker_sheets(spark, sf_dir),
        study_id="phs-TB",
        keys={
            "participant": "participant_id",
            "sample": "sample_id",
            "diagnosis": "diagnosis_id",
        },
        surrogate="md5",
    )
    assert "diagnosis" not in broken  # all-null sheet pruned
    out = broken["participant"].unionByName(
        broken["sample"], allowMissingColumns=True
    )
    return out.select(
        "type",
        "participant_id",
        "id",
        "sex_at_birth",
        "sample_id",
        "sample_type",
        F.col("`participant.id`"),
    )


# ---------------------------------------------------------------------------
# Indexd guid validation (src/sandbox_indexd_guid_validation.py) — the
# sandbox-vs-indexd reconciliation pair: the per-guid field-check
# battery and the ghost-record sweep.  The indexd side is a staged
# index extract derived from the same fact table with planted
# perturbations (missing records, corrupted md5s, drifted sizes,
# changed acls, ghost rows) so every check fires both ways.
# ---------------------------------------------------------------------------

_IDX_META_K_SQL = """
  SELECT l_orderkey AS okey,
         'dg.4DFC/' || md5(CAST(l_orderkey AS VARCHAR) || '-'
                           || CAST(l_linenumber AS VARCHAR)) AS guid,
         '["phs' || CAST(l_orderkey % 4 AS VARCHAR) || '"]' AS acl,
         '["/programs/phs' || CAST(l_orderkey % 4 AS VARCHAR) || '"]' AS authz,
         's3://sandbox/' || CAST(l_orderkey AS VARCHAR) || '/f_'
           || CAST(l_linenumber AS VARCHAR) || '.bam' AS url,
         md5('m' || CAST(l_orderkey AS VARCHAR) || '-'
             || CAST(l_linenumber AS VARCHAR)) AS md5sum,
         CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS file_size
  FROM lineitem WHERE l_linenumber <= 3"""

_IDX_META_SQL = (
    "SELECT guid, acl, authz, url, md5sum, file_size FROM metak"
)

_IDX_INDEX_SQL = """
  SELECT guid,
         CASE WHEN okey % 23 = 5
              THEN '["phs-moved"]' ELSE acl END AS acl,
         authz,
         url,
         CASE WHEN okey % 13 = 0
              THEN 'corrupt' || md5sum ELSE md5sum END AS md5sum,
         CASE WHEN okey % 11 = 3
              THEN file_size + 1 ELSE file_size END AS file_size
  FROM metak
  WHERE okey % 17 <> 0
  UNION ALL
  SELECT 'dg.4DFC/ghost-' || md5(CAST(l_orderkey AS VARCHAR)) AS guid,
         '["phs' || CAST(l_orderkey % 4 AS VARCHAR) || '"]' AS acl,
         '["/programs/phs' || CAST(l_orderkey % 4 AS VARCHAR) || '"]' AS authz,
         's3://ghost/' || CAST(l_orderkey AS VARCHAR) || '.bam' AS url,
         md5('g' || CAST(l_orderkey AS VARCHAR)) AS md5sum,
         CAST(l_orderkey % 5000 AS BIGINT) AS file_size
  FROM (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey % 19 = 0)
"""

_IDX_CHECK_ORACLE = f"""WITH metak AS ({_IDX_META_K_SQL}),
meta AS ({_IDX_META_SQL}),
idx AS ({_IDX_INDEX_SQL}),
j AS (
  SELECT m.*, i.acl AS i_acl, i.authz AS i_authz, i.md5sum AS i_md5,
         i.url AS i_url, i.file_size AS i_size
  FROM meta m LEFT JOIN idx i ON m.guid = i.guid)
SELECT guid, acl, authz, url, md5sum, file_size,
       CASE WHEN i_acl IS NOT NULL OR i_md5 IS NOT NULL
            THEN 'Yes' ELSE 'No' END AS indexd_guid_exist,
       coalesce(i_acl, '') AS indexd_acl,
       coalesce(i_authz, '') AS indexd_authz,
       coalesce(i_md5, '') AS indexd_md5sum,
       coalesce(i_url, '') AS indexd_url,
       i_size AS indexd_size,
       CASE WHEN acl = coalesce(i_acl, '') THEN 'Pass' ELSE 'Fail' END
         AS acl_check,
       CASE WHEN authz = coalesce(i_authz, '') THEN 'Pass' ELSE 'Fail' END
         AS authz_check,
       CASE WHEN md5sum = coalesce(i_md5, '') THEN 'Pass' ELSE 'Fail' END
         AS md5sum_check,
       CASE WHEN url = coalesce(i_url, '') THEN 'Pass' ELSE 'Fail' END
         AS url_check,
       CASE WHEN file_size = i_size THEN 'Pass' ELSE 'Fail' END
         AS size_check
FROM j"""

_IDX_GHOST_ORACLE = f"""WITH metak AS ({_IDX_META_K_SQL}),
meta AS ({_IDX_META_SQL}),
idx AS ({_IDX_INDEX_SQL})
SELECT i.guid, i.md5sum AS md5, i.file_size AS size, i.acl, i.authz,
       i.url AS urls
FROM idx i
WHERE i.acl LIKE '%phs1%'
  AND i.guid NOT IN (SELECT guid FROM meta)"""


def _indexd_sides(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    k, j = F.col("l_orderkey"), F.col("l_linenumber")
    ks, js = k.cast("string"), j.cast("string")
    meta = lineitem.filter(j <= 3).select(
        F.concat(F.lit("dg.4DFC/"), F.md5(F.encode(F.concat(ks, F.lit("-"), js), "UTF-8")))
        .alias("guid"),
        F.concat(F.lit('["phs'), (k % 4).cast("string"), F.lit('"]')).alias("acl"),
        F.concat(F.lit('["/programs/phs'), (k % 4).cast("string"), F.lit('"]'))
        .alias("authz"),
        F.concat(F.lit("s3://sandbox/"), ks, F.lit("/f_"), js, F.lit(".bam"))
        .alias("url"),
        F.md5(F.encode(F.concat(F.lit("m"), ks, F.lit("-"), js), "UTF-8")).alias("md5sum"),
        ((k % 1000) * 100 + j).cast("long").alias("file_size"),
        k.alias("__k__"),
    )
    perturbed = (
        meta.filter(F.col("__k__") % 17 != 0)
        .select(
            "guid",
            F.when(F.col("__k__") % 23 == 5, F.lit('["phs-moved"]'))
            .otherwise(F.col("acl"))
            .alias("acl"),
            "authz",
            "url",
            F.when(
                F.col("__k__") % 13 == 0,
                F.concat(F.lit("corrupt"), F.col("md5sum")),
            )
            .otherwise(F.col("md5sum"))
            .alias("md5sum"),
            F.when(F.col("__k__") % 11 == 3, F.col("file_size") + 1)
            .otherwise(F.col("file_size"))
            .alias("file_size"),
        )
    )
    ghosts = (
        lineitem.filter(k % 19 == 0)
        .select(k.alias("gk"))
        .distinct()
        .select(
            F.concat(F.lit("dg.4DFC/ghost-"), F.md5(F.encode(F.col("gk").cast("string"), "UTF-8")))
            .alias("guid"),
            F.concat(F.lit('["phs'), (F.col("gk") % 4).cast("string"), F.lit('"]'))
            .alias("acl"),
            F.concat(
                F.lit('["/programs/phs'),
                (F.col("gk") % 4).cast("string"),
                F.lit('"]'),
            ).alias("authz"),
            F.concat(F.lit("s3://ghost/"), F.col("gk").cast("string"),
                     F.lit(".bam")).alias("url"),
            F.md5(F.encode(F.concat(F.lit("g"), F.col("gk").cast("string")), "UTF-8"))
            .alias("md5sum"),
            (F.col("gk") % 5000).cast("long").alias("file_size"),
        )
    )
    index_records = perturbed.unionByName(ghosts)
    return meta.drop("__k__"), index_records


@register(
    "indexd_guid_validation",
    _IDX_CHECK_ORACLE,
    "sandbox-vs-indexd guid metadata battery "
    "(src/sandbox_indexd_guid_validation.py:82-142): the reference's "
    "one-API-GET-per-guid loop becomes ONE guid-keyed left join plus a "
    "codegen Pass/Fail projection over acl/authz/md5/url/size "
    "(plans/dcf.py::guid_meta_check)",
)
def indexd_guid_validation_query(spark, sf_dir):
    from .plans.dcf import guid_meta_check

    meta, index_records = _indexd_sides(spark, sf_dir)
    return guid_meta_check(meta, index_records)


@register(
    "indexd_ghost_records",
    _IDX_GHOST_ORACLE,
    "ghost-record sweep (src/sandbox_indexd_guid_validation.py:146-200): "
    "indexd records holding the study's acl but absent from the sandbox "
    "pull — the reference's paged-API + driver-side 'in' probe becomes "
    "an acl filter (scan-pushed) + left-anti join "
    "(plans/dcf.py::ghost_index_records)",
)
def indexd_ghost_records_query(spark, sf_dir):
    from .plans.dcf import ghost_index_records

    meta, index_records = _indexd_sides(spark, sf_dir)
    return ghost_index_records(index_records, meta, phs_accession="phs1")


# ---------------------------------------------------------------------------
# BPE tokenization (additive LLM-pipeline capability, operators/bpe.py):
# real byte-pair encoding — the distributed trainer plus the codegen
# chained-replace applier (oracle-certified) and the Arrow-batched
# greedy encoder for large vocabularies (rows-only; equality with the
# codegen twin is unit-pinned).
# ---------------------------------------------------------------------------

#: fixed literal merge table for the certified apply — training is a
#: separate (iterative) operator; applying a GIVEN vocabulary is the
#: hot per-corpus path and must be exactly reproducible
_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("e", "\x02"),
    ("th", "e\x02"),
    ("e", "r"),
    ("n", "\x02"),
    ("o", "r"),
    ("o", "w"),
    ("ow", "\x02"),
    ("er", "\x02"),
    ("a", "r"),
    ("i", "n"),
    ("in", "\x02"),
    ("s", "t"),
    ("a", "t"),
    ("l", "u"),
    ("r", "y"),
]


def _bpe_oracle() -> str:
    from .operators.bpe import PRETOKEN_RE, bpe_apply_sql

    sep2 = "chr(1) || chr(1)"
    spaced = (
        f"{sep2} || array_to_string(list_transform("
        f"regexp_extract_all(lower(text), '{PRETOKEN_RE}'), "
        "w -> array_to_string(list_append(regexp_extract_all(w, '.'), chr(2)),"
        f" {sep2}) || {sep2}), '')"
    )
    chain = bpe_apply_sql(_BPE_MERGES, col="s")
    return f"""WITH sp AS (
  SELECT doc_id, {spaced} AS s FROM documents),
enc AS (
  SELECT doc_id,
         list_filter(string_split({chain}, chr(1)), t -> t <> '') AS toks
  FROM sp)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       replace(array_to_string(toks, ' '), chr(2), '</w>') AS tokens_str
FROM enc"""


@register(
    "text_bpe_tokens",
    _bpe_oracle(),
    "BPE tokenizer APPLY as pure codegen: each merge of a fixed "
    "vocabulary in rank order is one separator-guarded replace over the "
    "doc's symbol string (the subword-nmt algorithm), so encoding a "
    "100 TB corpus is one scan with zero shuffles and zero Python — "
    "operators/bpe.py::tokenize_doc_expr, oracle = the same replace "
    "chain in DuckDB",
)
def text_bpe_tokens_query(spark, sf_dir):
    from .operators.bpe import tokenize_doc_expr

    (documents,) = _t(spark, sf_dir, "documents")
    toks = tokenize_doc_expr("text", _BPE_MERGES)
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.replace(
            F.array_join(toks, " "), F.lit("\x02"), F.lit("</w>")
        ).alias("tokens_str"),
    )


@register(
    "text_bpe_tokens_fast",
    None,  # mapInPandas encoder; equality with the codegen twin is
    # unit-pinned (tests/test_bpe.py), and the codegen twin is the
    # oracle-certified entry above
    "BPE tokenizer APPLY for realistic 30-50k-merge vocabularies: "
    "Arrow-batched greedy lowest-rank-first encoder with per-executor "
    "rank broadcast and Zipf-exploiting per-word memoization "
    "(operators/bpe.py::bpe_encode_batches)",
)
def text_bpe_tokens_fast_query(spark, sf_dir):
    from .operators.bpe import Merge, bpe_encode_batches

    (documents,) = _t(spark, sf_dir, "documents")
    merges = [Merge(i, a, b) for i, (a, b) in enumerate(_BPE_MERGES)]
    enc = bpe_encode_batches(documents, merges)
    return enc.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.replace(
            F.array_join("tokens", " "), F.lit("\x02"), F.lit("</w>")
        ).alias("tokens_str"),
    )


def _bpe_train_oracle(n_merges: int = 16, max_words: int = 2000) -> str:
    """DuckDB replay of bpe_train (r05 VERDICT item 7: rows-only →
    oracle): the merge loop unrolls as chained MATERIALIZED CTE rounds
    (the certified PageRank/k-core discipline).  Per round: adjacent-
    pair counts weighted by word freq, argmax with the trainer's exact
    tie-break (n DESC, left, right), then the separator-guarded
    ``replace`` rewrite — the bpe_apply_sql machinery, whose
    equivalence to the trainer's left-to-right fold is the module's
    documented SEP2 invariant.  Rounds where no pair reaches freq 2
    produce no merge row and rewrite nothing (the trainer's stop
    rule), so a fixed unroll replays any run that stops early.
    """
    from .operators.bpe import PRETOKEN_RE

    sep2 = "chr(1) || chr(1)"
    spaced = (
        f"{sep2} || array_to_string(list_append("
        f"regexp_extract_all(word, '.'), chr(2)), {sep2}) || {sep2}"
    )
    head = f"""WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '{PRETOKEN_RE}')) AS word
  FROM documents),
wf AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY word
  ORDER BY freq DESC, word LIMIT {max_words}),
s0 AS MATERIALIZED (SELECT {spaced} AS s, freq FROM wf)"""
    it = """, t{k} AS (
  SELECT list_filter(string_split(s, chr(1)), x -> x <> '') AS toks, freq
  FROM s{p}
), p{k} AS MATERIALIZED (
  SELECT toks[i] AS l, toks[i + 1] AS r, SUM(freq) AS n
  FROM t{k} CROSS JOIN UNNEST(range(1, len(toks))) AS u(i)
  GROUP BY 1, 2
), m{k} AS MATERIALIZED (
  SELECT l, r, l || r AS m FROM p{k} WHERE n >= 2
  ORDER BY n DESC, l, r LIMIT 1
), s{k} AS MATERIALIZED (
  SELECT CASE WHEN m.l IS NULL THEN cur.s
         ELSE replace(cur.s,
                      chr(1) || m.l || chr(1) || chr(1) || m.r || chr(1),
                      chr(1) || m.m || chr(1)) END AS s, cur.freq
  FROM s{p} cur LEFT JOIN m{k} m ON TRUE
)"""
    body = "".join(it.format(k=k, p=k - 1) for k in range(1, n_merges + 1))
    tail = (
        "\nSELECT * FROM ("
        + "\nUNION ALL ".join(
            f"SELECT CAST({k - 1} AS INTEGER) AS rank,"
            " replace(l, chr(2), '</w>') AS \"left\","
            " replace(r, chr(2), '</w>') AS \"right\","
            f" replace(m, chr(2), '</w>') AS merged FROM m{k}"
            for k in range(1, n_merges + 1)
        )
        + ")"
    )
    return head + body + tail


@register(
    "corpus_bpe_vocab",
    _bpe_train_oracle(),
    "BPE tokenizer TRAIN: driver-coordinated merge loop over the "
    "(distinct word, freq) table — the corpus collapses to a "
    "vocabulary-sized frame after one scan+groupBy, then each round is "
    "one map-side-combinable pair count plus a row-local array fold; "
    "lineage cut via localCheckpoint (operators/bpe.py::bpe_train).  "
    "Oracle replays the whole training loop as 16 chained "
    "MATERIALIZED CTE rounds — deterministic tie-breaks make even "
    "the trainer hash-certifiable",
)
def corpus_bpe_vocab_query(spark, sf_dir):
    from .operators.bpe import bpe_train, merges_table

    (documents,) = _t(spark, sf_dir, "documents")
    merges = bpe_train(documents, n_merges=16, max_words=2000)
    out = merges_table(spark, merges)
    return out.select(
        "rank",
        F.replace(F.col("left"), F.lit("\x02"), F.lit("</w>")).alias("left"),
        F.replace(F.col("right"), F.lit("\x02"), F.lit("</w>")).alias("right"),
        F.replace(F.col("merged"), F.lit("\x02"), F.lit("</w>")).alias("merged"),
    )


# ---------------------------------------------------------------------------
# HTML boilerplate strip / k-anonymity profiling / blocked fuzzy
# linkage (operators/text.py, operators/privacy.py, operators/linkage.py)
# ---------------------------------------------------------------------------


def _html_oracle() -> str:
    from .operators.text import html_strip_sql

    html = (
        "'<html><head><title>Doc</title><style>p{m:0}</style>"
        "<script type=\"a\">var x=1 < 2;</script></head><body>"
        "<!-- nav --><h1>H &amp; 1</h1><p class=\"b\">' || text || "
        "'</p><br/><div>&lt;safe&gt; &quot;q&#39;s&quot;&nbsp;tail"
        "</div></body></html>'"
    )
    return f"""SELECT doc_id,
       {html_strip_sql(html)} AS clean_text
FROM documents"""


@register(
    "text_html_strip",
    _html_oracle(),
    "HTML boilerplate removal for web-crawl corpora: drop "
    "script/style/comment blocks, strip tags, decode entities, collapse "
    "whitespace — a pure regexp_replace chain (row-local, codegen, one "
    "scan); operators/text.py::html_strip, oracle = identical chain with "
    "RE2 'g' flags",
)
def text_html_strip_query(spark, sf_dir):
    from .operators.text import html_strip

    (documents,) = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            '<html><head><title>Doc</title><style>p{m:0}</style>'
            '<script type="a">var x=1 < 2;</script></head><body>'
            '<!-- nav --><h1>H &amp; 1</h1><p class="b">'
        ),
        F.col("text"),
        F.lit(
            "</p><br/><div>&lt;safe&gt; &quot;q&#39;s&quot;&nbsp;tail"
            "</div></body></html>"
        ),
    )
    return documents.select(
        "doc_id", html_strip(html).alias("clean_text")
    )


_KANON_ORACLE = """WITH qi AS (
  SELECT c_nationkey AS nation,
         c_mktsegment AS segment,
         CAST((c_custkey % 60 + 18) // 10 * 10 AS BIGINT) AS age_band,
         CASE WHEN c_nationkey % 5 = 0 THEN 'condition_X'
              ELSE 'condition_' || CAST(c_custkey % 4 AS VARCHAR)
         END AS diagnosis
  FROM customer)
SELECT nation, segment, age_band,
       COUNT(*) AS group_n,
       COUNT(DISTINCT diagnosis) AS distinct_sensitive,
       COUNT(*) < 5 AS at_risk_k,
       COUNT(DISTINCT diagnosis) < 2 AS at_risk_l
FROM qi GROUP BY nation, segment, age_band"""


@register(
    "privacy_k_anonymity",
    _KANON_ORACLE,
    "k-anonymity / l-diversity screen before a corpus ships "
    "(operators/privacy.py): one map-side-combinable groupBy on the "
    "quasi-identifier tuple — cell size (k), sensitive-value diversity "
    "(l), and risk flags; complements the F7 direct-identifier PII scan "
    "with combinational re-identification risk",
)
def privacy_k_anonymity_query(spark, sf_dir):
    from .operators.privacy import k_anonymity_profile

    (customer,) = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    qi = customer.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        ((ck % 60 + 18) / 10).cast("long").alias("__b__"),
        F.when(F.col("c_nationkey") % 5 == 0, F.lit("condition_X"))
        .otherwise(F.concat(F.lit("condition_"), (ck % 4).cast("string")))
        .alias("diagnosis"),
    ).select(
        "nation",
        "segment",
        (F.floor("__b__") * 10).cast("long").alias("age_band"),
        "diagnosis",
    )
    return k_anonymity_profile(
        qi,
        ["nation", "segment", "age_band"],
        sensitive_col="diagnosis",
        k=5,
        l_threshold=2,
    )


_LINKAGE_ORACLE = """WITH l AS (
  SELECT c_custkey AS lid,
         lower(c_mktsegment) || '_' || CAST(c_custkey AS VARCHAR) AS name
  FROM customer),
r AS (
  SELECT c_custkey AS rid,
         CASE
           WHEN c_custkey % 5 = 0 AND c_custkey % 7 = 0 THEN
             substr(nm, 1, 2) || 'x' || substr(nm, 4, 1) || substr(nm, 6)
           WHEN c_custkey % 5 = 0 THEN
             substr(nm, 1, 2) || 'x' || substr(nm, 4)
           WHEN c_custkey % 7 = 0 THEN
             substr(nm, 1, 3) || substr(nm, 5)
           ELSE nm
         END AS name
  FROM (SELECT c_custkey,
               lower(c_mktsegment) || '_' || CAST(c_custkey AS VARCHAR) AS nm
        FROM customer)),
lb AS (
  SELECT lid, name, substring(name, length(name) - 3, 4) AS tail4,
         CAST(floor(length(name) / 4) AS INT) AS len_b
  FROM l),
rb AS (
  SELECT rid, name, substring(name, length(name) - 3, 4) AS tail4,
         CAST(floor(length(name) / 4) AS INT) AS len_b
  FROM r),
cand AS (
  SELECT lb.lid, rb.rid, levenshtein(lb.name, rb.name) AS distance
  FROM lb JOIN rb ON lb.tail4 = rb.tail4 AND lb.len_b = rb.len_b),
kept AS (SELECT * FROM cand WHERE distance <= 2),
best AS (
  SELECT lid, rid, distance,
         ROW_NUMBER() OVER (PARTITION BY lid ORDER BY distance, rid) AS rn
  FROM kept)
SELECT lid, rid, distance FROM best WHERE rn = 1"""


def _name_tail_block(name):
    """Shared blocking key for the fuzzy-linkage fixtures: the name's
    high-entropy last-4-chars + length bucket (cardinality grows with
    the corpus, so block sizes stay bounded — see SCALE.md)."""
    return F.struct(
        F.substring(name, F.length(name) - 3, F.lit(4)).alias("tail4"),
        F.floor(F.length(name) / 4).cast("int").alias("len_b"),
    )


def _perturb_name(ck, nm):
    """Shared planted-typo pattern: substitution at pos 3 (%5),
    deletion at pos 4 (%7), both (%35) — prefix-region edits that
    leave the blocking tail intact."""
    return (
        F.when(
            (ck % 5 == 0) & (ck % 7 == 0),
            F.concat(
                F.substring(nm, 1, 2), F.lit("x"),
                F.substring(nm, 4, 1), F.substring(nm, 6, 1000),
            ),
        )
        .when(
            ck % 5 == 0,
            F.concat(F.substring(nm, 1, 2), F.lit("x"), F.substring(nm, 4, 1000)),
        )
        .when(
            ck % 7 == 0,
            F.concat(F.substring(nm, 1, 3), F.substring(nm, 5, 1000)),
        )
        .otherwise(nm)
    )


def _linkage_sides(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    nm = F.concat(
        F.lower(F.col("c_mktsegment")), F.lit("_"), ck.cast("string")
    )
    left = customer.select(ck.alias("lid"), nm.alias("name"))
    right = customer.select(ck.alias("rid"), _perturb_name(ck, nm).alias("name"))
    return left, right


@register(
    "linkage_blocked_fuzzy",
    _LINKAGE_ORACLE,
    "blocked fuzzy record linkage (operators/linkage.py): "
    "Fellegi-Sunter-style (prefix, length-bucket) blocking contracts the "
    "edit-distance join from |L|x|R| to per-block products, levenshtein "
    "verifies inside the block (JVM codegen), best match per left record "
    "resolves by (distance, rid) — typo'd-key reconciliation that never "
    "goes all-pairs",
)
def linkage_blocked_fuzzy_query(spark, sf_dir):
    from .operators.linkage import best_match_per_left, blocked_fuzzy_matches

    left, right = _linkage_sides(spark, sf_dir)
    matches = blocked_fuzzy_matches(
        left, right, "lid", "rid", name_col="name", max_dist=2,
        block_fn=_name_tail_block,
    )
    return best_match_per_left(matches, "lid", "rid")


# ---------------------------------------------------------------------------
# CDC changelog apply (operators/cdc.py) — the lakehouse MERGE: base
# snapshot + (key, seq, op, payload) deltas → next snapshot.  The
# synthetic changelog plants every path: single update, stacked
# updates, delete-after-update, insert of a new key, and an insert
# REPLAYED onto an existing key (upsert).  Seqs are unique per key so
# the collapse order is engine-independent.
# ---------------------------------------------------------------------------

_CDC_ORACLE = """WITH base AS (
  SELECT o_orderkey AS okey, o_orderstatus AS status,
         CAST(o_orderkey % 997 AS BIGINT) AS val
  FROM orders WHERE o_orderkey % 10 <> 0),
ch AS (
  SELECT o_orderkey AS okey, 1 AS seq, 'U' AS op,
         'U1_' || CAST(o_orderkey % 5 AS VARCHAR) AS status,
         CAST(o_orderkey % 997 + 1000 AS BIGINT) AS val
  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, 2, 'U', 'U2',
         CAST(o_orderkey % 997 + 2000 AS BIGINT)
  FROM orders WHERE o_orderkey % 6 = 0 AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', NULL, NULL
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 1, 'I', 'NEW',
         CAST(o_orderkey % 997 AS BIGINT)
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 4, 'I', 'REPLAYED',
         CAST(o_orderkey % 997 + 9000 AS BIGINT)
  FROM orders WHERE o_orderkey % 9 = 0 AND o_orderkey % 10 <> 0),
last AS (
  SELECT okey, op, status, val
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY okey
          ORDER BY seq DESC,
                   CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
        ) AS rn
        FROM ch)
  WHERE rn = 1),
merged AS (
  SELECT coalesce(b.okey, l.okey) AS okey,
         l.op,
         CASE WHEN l.op IS NOT NULL THEN l.status ELSE b.status END AS status,
         CASE WHEN l.op IS NOT NULL THEN l.val ELSE b.val END AS val
  FROM base b FULL OUTER JOIN last l ON b.okey = l.okey)
SELECT okey, status, val FROM merged
WHERE op IS NULL OR op <> 'D'"""


def _cdc_sides(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    val = (k % 997).cast("long")
    base = orders.filter(k % 10 != 0).select(
        k.alias("okey"),
        F.col("o_orderstatus").alias("status"),
        val.alias("val"),
    )
    in_base = k % 10 != 0

    def ev(cond, seq, op, status, v):
        return orders.filter(cond).select(
            k.alias("okey"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            status.alias("status"),
            v.alias("val"),
        )

    nul = F.lit(None).cast("string")
    nuv = F.lit(None).cast("long")
    changes = (
        ev(
            (k % 3 == 0) & in_base,
            1,
            "U",
            F.concat(F.lit("U1_"), (k % 5).cast("string")),
            (val + 1000).cast("long"),
        )
        .unionByName(
            ev((k % 6 == 0) & in_base, 2, "U", F.lit("U2"),
               (val + 2000).cast("long"))
        )
        .unionByName(ev(k % 7 == 0, 3, "D", nul, nuv))
        .unionByName(ev(k % 10 == 0, 1, "I", F.lit("NEW"), val))
        .unionByName(
            ev((k % 9 == 0) & in_base, 4, "I", F.lit("REPLAYED"),
               (val + 9000).cast("long"))
        )
    )
    return base, changes


@register(
    "cdc_merge_snapshot",
    _CDC_ORACLE,
    "CDC changelog apply — the lakehouse MERGE shape "
    "(operators/cdc.py): collapse deltas to last-event-per-key with ONE "
    "max_by-style aggregation (no window over history), then a "
    "full-outer key join applies upserts and drops deletes; the "
    "collapsed delta broadcasts when small, and bucketed tables make "
    "the join shuffle-free",
)
def cdc_merge_snapshot_query(spark, sf_dir):
    from .operators.cdc import apply_changelog

    base, changes = _cdc_sides(spark, sf_dir)
    return apply_changelog(base, changes, ["okey"])


# ---------------------------------------------------------------------------
# Product quantization (operators/similarity.py PQ block): codes are
# 16 one-byte-ish subspace assignments instead of 64 floats (16x
# memory), the ADC scan reads codes only, and an exact re-rank of the
# 50-candidate shortlist repairs recall.  Everything is deterministic
# (hash-mod donors, int64 micro-distances), so even the approximate
# shortlist is hash-certified — the sim_ivf_topk_det discipline.
# ---------------------------------------------------------------------------

_PQ_NSUB, _PQ_DSUB, _PQ_MOD, _PQ_SHORT, _PQ_K = 16, 4, 5, 50, 10
_PQ_NCW = 64


def _pq_oracle() -> str:
    def l2sub(a: str, b: str, base: str) -> str:
        terms = [
            f"({a}[{base}+{i}]-{b}[{base}+{i}])*({a}[{base}+{i}]-{b}[{base}+{i}])"
            for i in range(1, _PQ_DSUB + 1)
        ]
        return "CAST(ROUND((" + " + ".join(terms) + ")*1000000) AS BIGINT)"

    full_terms = " + ".join(
        f"(x.v[{i}]-q.qv[{i}])*(x.v[{i}]-q.qv[{i}])" for i in range(1, 65)
    )
    sub = l2sub("x.v", "d.v", "ms.m*4")
    qsub = l2sub("q.qv", "d.v", "ms.m*4")
    return f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ms AS (SELECT unnest(range(0, {_PQ_NSUB})) AS m),
donors AS (
  SELECT * FROM e WHERE vec_id % {_PQ_MOD} = 0
  ORDER BY vec_id LIMIT {_PQ_NCW}),
codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT x.vec_id, ms.m, d.vec_id AS cid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id, ms.m
                              ORDER BY {sub}, d.vec_id) AS rn
    FROM e x CROSS JOIN ms CROSS JOIN donors d)
  WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
dtab AS (
  SELECT q.query_id, ms.m, d.vec_id AS cid, {qsub} AS dmic
  FROM q CROSS JOIN ms CROSS JOIN donors d),
adc AS (
  SELECT dt.query_id, c.vec_id, SUM(dt.dmic) AS adc_dist_micro
  FROM codes c JOIN dtab dt ON c.m = dt.m AND c.cid = dt.cid
  GROUP BY dt.query_id, c.vec_id),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist_micro, vec_id) AS rn
    FROM adc) WHERE rn <= {_PQ_SHORT}),
rerank AS (
  SELECT s.query_id, s.vec_id,
         CAST(ROUND(({full_terms})*1000000) AS BIGINT) AS dist_micro
  FROM short s JOIN e x ON x.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id)
SELECT query_id, vec_id, dist_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dist_micro, vec_id) AS rn
  FROM rerank) WHERE rn <= {_PQ_K}"""


@register(
    "sim_pq_topk_det",
    _pq_oracle(),
    "product-quantization ANN, fully hash-certified: hash-mod donor "
    "codebooks (16 subspaces x 4 dims), shuffle-free row-local argmin "
    "encoding (codes are 16 int64s instead of 64 floats), ADC scan via "
    "one broadcast distance-table map per query over int64 "
    "micro-distances (order-independent sums), 50-candidate shortlist, "
    "exact re-rank top-10 — the quantize/scan/re-rank pipeline behind "
    "FAISS-style billion-scale search (operators/similarity.py)",
)
def sim_pq_topk_det_query(spark, sf_dir):
    from .operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
        pq_rerank,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = pq_codebook(
        e, n_sub=_PQ_NSUB, d_sub=_PQ_DSUB, selector_mod=_PQ_MOD,
        n_codewords=_PQ_NCW,
    )
    enc = pq_encode(e, cb, n_sub=_PQ_NSUB, d_sub=_PQ_DSUB)
    short = pq_adc_topk(
        e, cb, enc, F.col("vec_id") < 3,
        n_sub=_PQ_NSUB, d_sub=_PQ_DSUB, k=_PQ_SHORT,
    )
    return pq_rerank(short, e, F.col("vec_id") < 3, k=_PQ_K)


# ---------------------------------------------------------------------------
# Trigram LM with stupid backoff (Brants et al. 2007) — the
# perplexity-proxy tier above text_bigram_logprob, with a proper
# train/held-out split (LM counts from doc_id % 3 != 0, scoring on
# doc_id % 3 == 0) so the backoff branches actually fire on unseen
# n-grams.  Per-trigram scores are int64 micro-log-probs, so document
# aggregation is order-independent.
# ---------------------------------------------------------------------------

_TRIGRAM_LM_ORACLE = rf"""WITH {_TOKS_CTE},
train AS (SELECT * FROM toks WHERE doc_id % 3 <> 0),
held AS (SELECT * FROM toks WHERE doc_id % 3 = 0),
tg AS (
  SELECT a.doc_id,
         a.w || ' ' || b.w || ' ' || c.w AS t3,
         a.w || ' ' || b.w AS b12,
         b.w || ' ' || c.w AS b23,
         b.w AS w2, c.w AS w3
  FROM held a
  JOIN held b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN held c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
tc AS (SELECT a.w || ' ' || b.w || ' ' || c.w AS t3,
              CAST(COUNT(*) AS BIGINT) AS ct
       FROM train a
       JOIN train b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       JOIN train c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
       GROUP BY 1),
bc AS (SELECT a.w || ' ' || b.w AS bg, CAST(COUNT(*) AS BIGINT) AS cb
       FROM train a
       JOIN train b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       GROUP BY 1),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM train GROUP BY w),
nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(COUNT(DISTINCT w) AS BIGINT) AS vsz
       FROM train),
scored AS (
  SELECT tg.doc_id,
         CASE
           WHEN tc.ct IS NOT NULL THEN
             CAST(ROUND(ln(tc.ct * 1.0 / b12c.cb) * 1000000) AS BIGINT)
           WHEN b23c.cb IS NOT NULL THEN
             CAST(ROUND(ln(0.4 * b23c.cb / w2c.cu) * 1000000) AS BIGINT)
           ELSE
             CAST(ROUND(ln(0.16 * (COALESCE(w3c.cu, 0) + 1.0) / (nv.n + nv.vsz))
                        * 1000000) AS BIGINT)
         END AS smic
  FROM tg
  LEFT JOIN tc ON tc.t3 = tg.t3
  LEFT JOIN bc b12c ON b12c.bg = tg.b12
  LEFT JOIN bc b23c ON b23c.bg = tg.b23
  LEFT JOIN uc w2c ON w2c.w = tg.w2
  LEFT JOIN uc w3c ON w3c.w = tg.w3
  CROSS JOIN nv)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(smic) AS BIGINT) AS sum_logprob_micro
FROM scored GROUP BY doc_id"""


@register(
    "text_trigram_backoff",
    _TRIGRAM_LM_ORACLE,
    "trigram LM with stupid backoff (Brants et al., 'Large Language "
    "Models in Machine Translation'): S(w3|w1w2) falls back 0.4x to "
    "the bigram and 0.16x to the Laplace unigram when counts are "
    "unseen; counts train on 2/3 of the corpus, held-out docs score.  "
    "Spark builds n-grams ROW-LOCALLY (HOF, no positional self-join), "
    "aggregates all count tables before the joins back, and keeps "
    "per-trigram scores in int64 micro-log-prob so the document sum "
    "is order-independent",
)
def text_trigram_backoff(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import word_ngrams_expr

    (documents,) = _t(spark, sf_dir, "documents")
    # The tokenized frame feeds five consumers (tri/bi/unigram counts,
    # the vocab total, the held-out scorer) — materialize once instead
    # of re-tokenizing the corpus per reference (7 scans before).
    # Every LM pipeline materializes its tokenized training set.
    staged = documents.select(
        "doc_id", normalized_tokens("text").alias("toks")
    ).localCheckpoint()
    train = staged.filter(F.col("doc_id") % 3 != 0)
    held = staged.filter(F.col("doc_id") % 3 == 0)

    t_tr = train.select(F.explode(word_ngrams_expr("toks", 3)).alias("t3"))
    b_tr = train.select(F.explode(word_ngrams_expr("toks", 2)).alias("bg"))
    u_tr = train.select(F.explode("toks").alias("w"))
    tc = t_tr.groupBy("t3").agg(F.count("*").alias("ct"))
    bc = b_tr.groupBy("bg").agg(F.count("*").alias("cb"))
    uc = u_tr.groupBy("w").agg(F.count("*").alias("cu"))
    nv = u_tr.agg(
        F.count("*").alias("n"), F.count_distinct("w").alias("vsz")
    )

    tg = held.select(
        "doc_id", F.explode(word_ngrams_expr("toks", 3)).alias("t3")
    ).select(
        "doc_id",
        "t3",
        F.array_join(F.slice(F.split("t3", " "), 1, 2), " ").alias("b12"),
        F.array_join(F.slice(F.split("t3", " "), 2, 2), " ").alias("b23"),
        F.split("t3", " ")[1].alias("w2"),
        F.split("t3", " ")[2].alias("w3"),
    )
    joined = (
        tg.join(tc, "t3", "left")
        .join(bc.select(F.col("bg").alias("b12"), F.col("cb").alias("cb12")),
              "b12", "left")
        .join(bc.select(F.col("bg").alias("b23"), F.col("cb").alias("cb23")),
              "b23", "left")
        .join(uc.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")),
              "w2", "left")
        .join(uc.select(F.col("w").alias("w3"), F.col("cu").alias("cu3")),
              "w3", "left")
        .crossJoin(F.broadcast(nv))
    )
    micro = lambda c: F.round(F.log(c) * 1000000).cast("long")  # noqa: E731
    smic = (
        F.when(F.col("ct").isNotNull(), micro(F.col("ct") * 1.0 / F.col("cb12")))
        .when(
            F.col("cb23").isNotNull(),
            micro(0.4 * F.col("cb23") / F.col("cu2")),
        )
        .otherwise(
            micro(
                0.16
                * (F.coalesce(F.col("cu3"), F.lit(0)) + 1.0)
                / (F.col("n") + F.col("vsz"))
            )
        )
    )
    return joined.select("doc_id", smic.alias("smic")).groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        F.sum("smic").alias("sum_logprob_micro"),
    )


# ---------------------------------------------------------------------------
# Purchase attribution, corpus distribution drift, and stride-scheduled
# batch interleaving — analytics/curation closers.
# ---------------------------------------------------------------------------

_ATTR_ORACLE = """WITH ev AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
  FROM events),
w AS (
  SELECT *,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch_id,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch_us,
         first_value(CASE WHEN event_type IN ('click', 'view')
                          THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS first_touch_id
  FROM ev)
SELECT event_id, user_id, value, last_touch_id, first_touch_id,
       (last_touch_us IS NOT NULL
        AND us - last_touch_us <= 259200000000) AS attributed
FROM w WHERE event_type = 'purchase'"""


@register(
    "events_attribution",
    _ATTR_ORACLE,
    "first/last-touch purchase attribution: one user-keyed window "
    "carries the most recent and the first preceding click/view "
    "(IGNORE NULLS frames, integer-microsecond arithmetic); a purchase "
    "is attributed when its last touch is within 72 h.  ONE shuffle on "
    "user_id shared by all three frames — no per-purchase join back",
)
def events_attribution_query(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    ev = events.select(
        "event_id", "user_id", "event_type", "value", us.alias("us")
    )
    touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = ev.select(
        "*",
        F.last(F.when(touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("last_touch_id"),
        F.last(F.when(touch, F.col("us")), ignorenulls=True)
        .over(w)
        .alias("last_touch_us"),
        F.first(F.when(touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("first_touch_id"),
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "value",
        "last_touch_id",
        "first_touch_id",
        (
            F.col("last_touch_us").isNotNull()
            & (F.col("us") - F.col("last_touch_us") <= 259200000000)
        ).alias("attributed"),
    )


_KL_ORACLE = r"""WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
a AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ca FROM toks
      WHERE doc_id % 3 <> 0 GROUP BY w),
b AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cb FROM toks
      WHERE doc_id % 3 = 0 GROUP BY w),
u AS (SELECT coalesce(a.w, b.w) AS w, coalesce(ca, 0) AS ca,
             coalesce(cb, 0) AS cb
      FROM a FULL OUTER JOIN b ON a.w = b.w),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM u)
SELECT w, ca, cb,
       CAST(ROUND(
         ((ca + 1.0) / (na + v))
         * ln(((ca + 1.0) * (nb + v)) / ((cb + 1.0) * (na + v)))
         * 1000000000) AS BIGINT) AS kl_contrib_nano
FROM u CROSS JOIN tot
ORDER BY kl_contrib_nano DESC, w LIMIT 20"""


@register(
    "corpus_kl_drift",
    _KL_ORACLE,
    "distribution-shift monitor: per-word KL(P_a || P_b) contributions "
    "between two corpus slices with add-1 smoothing over the union "
    "vocab — the drift alarm for ingest batches.  Two map-side-combined "
    "count tables, one vocab-sized outer join, int64 nano "
    "contributions; top movers by (contribution, word)",
)
def corpus_kl_drift_query(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.explode(normalized_tokens("text")).alias("w")
    )
    a = toks.filter(F.col("doc_id") % 3 != 0).groupBy("w").agg(
        F.count("*").alias("ca")
    )
    b = toks.filter(F.col("doc_id") % 3 == 0).groupBy("w").agg(
        F.count("*").alias("cb")
    )
    u = (
        a.join(b, "w", "full_outer")
        .select(
            "w",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = u.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count("*").alias("v"),
    )
    contrib = F.round(
        ((F.col("ca") + 1.0) / (F.col("na") + F.col("v")))
        * F.log(
            ((F.col("ca") + 1.0) * (F.col("nb") + F.col("v")))
            / ((F.col("cb") + 1.0) * (F.col("na") + F.col("v")))
        )
        * 1000000000
    ).cast("long")
    return (
        u.crossJoin(F.broadcast(tot))
        .select("w", "ca", "cb", contrib.alias("kl_contrib_nano"))
        .orderBy(F.desc("kl_contrib_nano"), "w")
        .limit(20)
    )


_SCHED_ORACLE = """WITH d AS (
  SELECT doc_id, source FROM documents),
s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM d GROUP BY source),
w AS (SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_int
      FROM s),
ranked AS (
  SELECT d.doc_id, d.source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS BIGINT)
           AS rnk
  FROM d),
vt AS (
  SELECT r.doc_id, r.source,
         r.rnk * (1000000000000 // w.w_int) AS vtime
  FROM ranked r JOIN w USING (source))
SELECT source, CAST(vtime // 50000000 AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM vt WHERE vtime // 50000000 < 20
GROUP BY source, batch_id"""


@register(
    "corpus_batch_schedule",
    _SCHED_ORACLE,
    "training-batch assembly by stride scheduling: each source gets a "
    "stride inversely proportional to sqrt(size), docs take virtual "
    "times rank x stride (rank = md5-ordered reproducible shuffle "
    "within source), and batch_id = vtime // quantum interleaves "
    "sources proportionally WITHOUT a global sort — no single-task "
    "row_number over the corpus, just one per-source window + integer "
    "division.  Output: per-batch source composition for the first 20 "
    "batches",
)
def corpus_batch_schedule_query(spark, sf_dir):
    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    d = documents.select("doc_id", "source")
    s = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w_int = F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000).cast(
        "long"
    )
    weights = s.select("source", w_int.alias("w_int"))
    win = Window.partitionBy("source").orderBy(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), "doc_id"
    )
    ranked = d.withColumn("rnk", F.row_number().over(win).cast("long"))
    vt = (
        ranked.join(F.broadcast(weights), "source")
        .withColumn(
            "__stride__",
            F.expr("1000000000000 div w_int").cast("long"),
        )
        .select(
            "doc_id",
            "source",
            (F.col("rnk") * F.col("__stride__")).alias("vtime"),
        )
    )
    # vtime exceeds 2^53 on big corpora — integral div, not floor(/)
    return (
        vt.withColumn("batch_id", F.expr("vtime div 50000000").cast("long"))
        .filter(F.col("batch_id") < 20)
        .groupBy("source", "batch_id")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: blocked fuzzy matching → connected
# components → field-level survivorship (the "golden record").
# Composes operators/linkage.py + operators/graph.py; system-B node
# ids are shifted so the two id spaces are disjoint.
# ---------------------------------------------------------------------------

#: system-B id shift; it must exceed every customer key a scale replica
#: can hold (scale_replica adds 1,000,000 per copy), or the two id
#: spaces overlap and unrelated customers merge.  Still an int64.
_ER_SHIFT = 1 << 40

_GOLDEN_ORACLE = f"""WITH RECURSIVE l AS (
  SELECT c_custkey AS id,
         lower(c_mktsegment) || '_' || CAST(c_custkey AS VARCHAR) AS name,
         lpad(CAST(c_custkey * 7919 % 10000000 AS VARCHAR), 7, '0') AS phone
  FROM customer),
r AS (
  SELECT c_custkey + {_ER_SHIFT} AS id,
         CASE
           WHEN c_custkey % 5 = 0 AND c_custkey % 7 = 0 THEN
             substr(nm, 1, 2) || 'x' || substr(nm, 4, 1) || substr(nm, 6)
           WHEN c_custkey % 5 = 0 THEN
             substr(nm, 1, 2) || 'x' || substr(nm, 4)
           WHEN c_custkey % 7 = 0 THEN
             substr(nm, 1, 3) || substr(nm, 5)
           ELSE nm
         END AS name,
         CASE WHEN c_custkey % 13 = 0
              THEN '999' || lpad(CAST(c_custkey * 7919 % 10000000 AS VARCHAR), 7, '0')
              ELSE lpad(CAST(c_custkey * 7919 % 10000000 AS VARCHAR), 7, '0')
         END AS phone
  FROM (SELECT c_custkey,
               lower(c_mktsegment) || '_' || CAST(c_custkey AS VARCHAR) AS nm
        FROM customer)),
nodes AS (SELECT * FROM l UNION ALL SELECT * FROM r),
lb AS (SELECT id, name, substring(name, length(name) - 3, 4) AS tail4,
              CAST(floor(length(name) / 4) AS INT) AS len_b FROM l),
rb AS (SELECT id, name, substring(name, length(name) - 3, 4) AS tail4,
              CAST(floor(length(name) / 4) AS INT) AS len_b FROM r),
edges0 AS (
  SELECT lb.id AS src, rb.id AS dst
  FROM lb JOIN rb ON lb.tail4 = rb.tail4 AND lb.len_b = rb.len_b
  WHERE levenshtein(lb.name, rb.name) <= 2),
edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
reach AS (
  SELECT id AS a, id AS b FROM nodes
  UNION
  SELECT reach.a, e.dst FROM reach JOIN edges e ON reach.b = e.src),
cc AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
members AS (
  SELECT cc.cluster_id, n.id, n.name, n.phone
  FROM cc JOIN nodes n USING (id)),
phone_votes AS (
  SELECT cluster_id, phone, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM members GROUP BY cluster_id, phone),
phone_pick AS (
  SELECT cluster_id, phone FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY cnt DESC, phone) AS rn
    FROM phone_votes) WHERE rn = 1)
SELECT m.cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       min_by(m.name, m.id) AS name,
       any_value(p.phone) AS phone
FROM members m JOIN phone_pick p USING (cluster_id)
GROUP BY m.cluster_id"""


def _er_sides(spark, sf_dir):
    (customer,) = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    nm = F.concat(
        F.lower(F.col("c_mktsegment")), F.lit("_"), ck.cast("string")
    )
    digits = F.lpad((ck * 7919 % 10000000).cast("string"), 7, "0")
    left = customer.select(
        ck.alias("id"), nm.alias("name"), digits.alias("phone")
    )
    perturbed = _perturb_name(ck, nm)
    bad_phone = F.when(
        ck % 13 == 0, F.concat(F.lit("999"), digits)
    ).otherwise(digits)
    right = customer.select(
        (ck + _ER_SHIFT).alias("id"),
        perturbed.alias("name"),
        bad_phone.alias("phone"),
    )
    return left, right


@register(
    "entity_golden_record",
    _GOLDEN_ORACLE,
    "entity resolution end-to-end (composes linkage + graph): blocked "
    "levenshtein matching produces edges, min-label connected "
    "components cluster the two id spaces, and field-level "
    "survivorship emits one golden record per cluster — oldest-id "
    "name, modal phone with deterministic tie-breaks.  Recursive-CTE "
    "oracle certifies the whole composition",
)
def entity_golden_record_query(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.graph import connected_components
    from .operators.linkage import blocked_fuzzy_matches

    left, right = _er_sides(spark, sf_dir)
    edges = blocked_fuzzy_matches(
        left.select(F.col("id").alias("lid"), "name"),
        right.select(F.col("id").alias("rid"), "name"),
        "lid",
        "rid",
        name_col="name",
        max_dist=2,
        block_fn=_name_tail_block,
    ).select(F.col("lid").alias("src"), F.col("rid").alias("dst"))

    nodes = left.unionByName(right)
    cc = connected_components(edges, nodes.select("id"), id_col="id")
    members = cc.join(nodes, "id")

    votes = members.groupBy("cluster_id", "phone").agg(
        F.count("*").alias("cnt")
    )
    wv = Window.partitionBy("cluster_id").orderBy(F.desc("cnt"), "phone")
    pick = (
        votes.withColumn("__rn__", F.row_number().over(wv))
        .filter(F.col("__rn__") == 1)
        .select("cluster_id", "phone")
    )
    golden = members.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min_by("name", "id").alias("name"),
    )
    return golden.join(pick, "cluster_id").select(
        "cluster_id", "n_members", "name", "phone"
    )


# ---------------------------------------------------------------------------
# Dedup-pipeline evaluation: MinHash-LSH candidate quality vs exact
# Jaccard ground truth, measured IN the engine (the langid-confusion
# discipline applied to dedup).  Threshold θ=0.5 is checked by integer
# cross-multiplication (3·common ≥ |A|+|B| ⟺ J ≥ 0.5), so the truth
# set is exact.  Ground truth uses the inverted-index pair join — cost
# scales with shingle collisions, not all-pairs; at 100 TB this eval
# runs on a sampled slice, which is exactly how recall audits are done.
# ---------------------------------------------------------------------------

_MINHASH_EVAL_ORACLE = rf"""WITH cand AS ({_MINHASH_MD5_ORACLE}),
toks2 AS (
  SELECT doc_id, w,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS BIGINT)
           AS pos
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
               generate_subscripts(
                 regexp_split_to_array(lower(trim(text)), '\s+'), 1) AS ord
        FROM documents)),
g2 AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks2 a
  JOIN toks2 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks2 c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds2 AS (SELECT DISTINCT doc_id, g FROM g2),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ds2 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
  FROM ds2 a JOIN ds2 b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = common.id_a
  JOIN sizes sb ON sb.doc_id = common.id_b
  WHERE 3 * c >= sa.n + sb.n),
j AS (
  SELECT coalesce(c.id_a, t.id_a) AS id_a,
         (c.id_a IS NOT NULL) AS in_cand,
         (t.id_a IS NOT NULL) AS in_truth
  FROM cand c FULL OUTER JOIN truth t
    ON c.id_a = t.id_a AND c.id_b = t.id_b)
SELECT CAST(COUNT(*) FILTER (WHERE in_cand) AS BIGINT) AS n_candidates,
       CAST(COUNT(*) FILTER (WHERE in_truth) AS BIGINT) AS n_truth,
       CAST(COUNT(*) FILTER (WHERE in_cand AND in_truth) AS BIGINT) AS tp,
       CAST(COUNT(*) FILTER (WHERE in_cand AND NOT in_truth) AS BIGINT) AS fp,
       CAST(COUNT(*) FILTER (WHERE in_truth AND NOT in_cand) AS BIGINT) AS fn,
       CAST(COUNT(*) FILTER (WHERE in_cand AND in_truth) * 1000000
            // GREATEST(COUNT(*) FILTER (WHERE in_cand), 1) AS BIGINT)
         AS precision_micro,
       CAST(COUNT(*) FILTER (WHERE in_cand AND in_truth) * 1000000
            // GREATEST(COUNT(*) FILTER (WHERE in_truth), 1) AS BIGINT)
         AS recall_micro
FROM j"""


@register(
    "dedup_minhash_eval",
    _MINHASH_EVAL_ORACLE,
    "in-engine dedup-pipeline evaluation: the certified MinHash-LSH "
    "candidate set scored against EXACT Jaccard≥0.5 ground truth "
    "(integer cross-multiplied threshold, inverted-index pair join) — "
    "TP/FP/FN + integer-micro precision/recall in one full-outer "
    "reconciliation.  The recall audit every production dedup "
    "pipeline should ship with",
)
def dedup_minhash_eval_query(spark, sf_dir):
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    cand = REGISTRY["dedup_minhash_pairs_md5"].fn(spark, sf_dir).select(
        "id_a", "id_b", F.lit(True).alias("in_cand")
    )
    # checkpoint the compact per-doc array frame; the explode re-runs
    # per branch over cached rows (cheaper than serializing postings)
    staged = with_shingles(documents, "text", "sh", 3).select(
        "doc_id", F.array_distinct("sh").alias("sh")
    ).localCheckpoint()
    # per-doc sizes ride the postings (size(sh) on the pre-explode
    # array) instead of joining back onto the quadratic pair set —
    # the kNN-re-rank trap class, see dedup_ngram_jaccard
    ex = staged.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    truth = (
        ex.select(F.col("doc_id").alias("id_a"), "g", F.col("n").alias("n_a"))
        .join(
            ex.select(
                F.col("doc_id").alias("id_b"), "g", F.col("n").alias("n_b")
            ),
            "g",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .filter(3 * F.col("c") >= F.col("n_a") + F.col("n_b"))
        .select("id_a", "id_b", F.lit(True).alias("in_truth"))
    )
    j = cand.join(truth, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_cand", F.lit(False)).alias("in_cand"),
        F.coalesce("in_truth", F.lit(False)).alias("in_truth"),
    )
    cnt = lambda c: F.count(F.when(c, True))  # noqa: E731
    tp = cnt(F.col("in_cand") & F.col("in_truth"))
    ncand = cnt(F.col("in_cand"))
    ntruth = cnt(F.col("in_truth"))
    return (
        j.agg(
            ncand.alias("n_candidates"),
            ntruth.alias("n_truth"),
            tp.alias("tp"),
            cnt(F.col("in_cand") & ~F.col("in_truth")).alias("fp"),
            cnt(F.col("in_truth") & ~F.col("in_cand")).alias("fn"),
        )
        .withColumn("__num__", F.col("tp") * F.lit(1000000).cast("long"))
        .select(
            "n_candidates",
            "n_truth",
            "tp",
            "fp",
            "fn",
            F.expr("__num__ div greatest(n_candidates, 1)")
            .cast("long")
            .alias("precision_micro"),
            F.expr("__num__ div greatest(n_truth, 1)")
            .cast("long")
            .alias("recall_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility (tokens-per-word): the standard tokenizer-quality
# metric, computed per source over the certified BPE apply chain —
# exact integer token/word counts, one ratio at the end.
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    from .operators.bpe import PRETOKEN_RE, bpe_apply_sql

    sep2 = "chr(1) || chr(1)"
    spaced = (
        f"{sep2} || array_to_string(list_transform("
        f"regexp_extract_all(lower(text), '{PRETOKEN_RE}'), "
        "w -> array_to_string(list_append(regexp_extract_all(w, '.'), chr(2)),"
        f" {sep2}) || {sep2}), '')"
    )
    chain = bpe_apply_sql(_BPE_MERGES, col="s")
    return f"""WITH sp AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(text), '{PRETOKEN_RE}')) AS BIGINT)
           AS n_words,
         {spaced} AS s
  FROM documents),
enc AS (
  SELECT source, n_words,
         CAST(len(list_filter(string_split({chain}, chr(1)), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM sp)
SELECT source,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(SUM(n_tokens) * 1.0 / SUM(n_words), 6) AS fertility
FROM enc GROUP BY source"""


@register(
    "text_bpe_fertility",
    _fertility_oracle(),
    "tokenizer fertility (tokens per word) per source over the "
    "certified BPE replace chain — the vocabulary-quality metric that "
    "decides whether a tokenizer suits a corpus; exact integer counts, "
    "single division at the end",
)
def text_bpe_fertility_query(spark, sf_dir):
    from .operators.bpe import PRETOKEN_RE, tokenize_doc_expr

    (documents,) = _t(spark, sf_dir, "documents")
    toks = tokenize_doc_expr("text", _BPE_MERGES)
    n_words = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(PRETOKEN_RE), 0)
    ).cast("long")
    per_doc = documents.select(
        "source", n_words.alias("n_words"), F.size(toks).cast("long").alias("n_tokens")
    )
    return per_doc.groupBy("source").agg(
        F.sum("n_words").alias("total_words"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens") * 1.0 / F.sum("n_words"), 6).alias(
            "fertility"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view delta update):
# the maintained (group → count, sum) is updated purely from changelog
# before/after images; the ORACLE recomputes the aggregate from
# scratch over the merged snapshot — two different computation paths
# certifying the incremental algebra, including group MOVES.
# ---------------------------------------------------------------------------

_INC_AGG_ORACLE = """WITH base AS (
  SELECT o_orderkey AS okey, o_orderstatus AS grp,
         CAST(o_orderkey % 997 AS BIGINT) AS val
  FROM orders WHERE o_orderkey % 10 <> 0),
final AS (
  -- survivors of the one-change-per-key changelog, recomputed
  SELECT okey,
         CASE WHEN okey % 7 <> 0 AND okey % 3 = 0 AND okey % 12 = 0
              THEN 'X'
              ELSE grp END AS grp,
         CASE WHEN okey % 7 <> 0 AND okey % 3 = 0
              THEN val + 1000 ELSE val END AS val
  FROM base WHERE okey % 7 <> 0
  UNION ALL
  SELECT o_orderkey, 'N', CAST(o_orderkey % 997 AS BIGINT)
  FROM orders WHERE o_orderkey % 10 = 0)
SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(val) AS BIGINT) AS total
FROM final GROUP BY grp"""


@register(
    "cdc_incremental_agg",
    _INC_AGG_ORACLE,
    "materialized-view maintenance (operators/cdc.py::incremental_agg): "
    "the maintained group→(count,sum) updates from changelog "
    "before/after images only — inserts add, deletes retract, updates "
    "retract+add so group moves net out; both sides are |groups|-sized "
    "and the fact table is never re-read.  The oracle recomputes from "
    "scratch, certifying the delta algebra via a DIFFERENT computation "
    "path",
)
def cdc_incremental_agg_query(spark, sf_dir):
    from .operators.cdc import incremental_agg

    (orders,) = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    val = (k % 997).cast("long")
    base = orders.filter(k % 10 != 0).select(
        k.alias("okey"), F.col("o_orderstatus").alias("grp"), val.alias("val")
    )
    base_agg = base.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("val").alias("total")
    )
    nul = F.lit(None).cast("string")
    nuv = F.lit(None).cast("long")
    deletes = orders.filter((k % 10 != 0) & (k % 7 == 0)).select(
        F.lit("D").alias("op"),
        F.col("o_orderstatus").alias("grp_before"),
        val.alias("val_before"),
        nul.alias("grp_after"),
        nuv.alias("val_after"),
    )
    updates = orders.filter(
        (k % 10 != 0) & (k % 7 != 0) & (k % 3 == 0)
    ).select(
        F.lit("U").alias("op"),
        F.col("o_orderstatus").alias("grp_before"),
        val.alias("val_before"),
        F.when(k % 12 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("grp_after"),
        (val + 1000).alias("val_after"),
    )
    inserts = orders.filter(k % 10 == 0).select(
        F.lit("I").alias("op"),
        nul.alias("grp_before"),
        nuv.alias("val_before"),
        F.lit("N").alias("grp_after"),
        val.alias("val_after"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    return incremental_agg(base_agg, changes, "grp", "val")


# ---------------------------------------------------------------------------
# Decontamination SURGERY: don't drop contaminated docs — cut the
# contaminated 5-gram spans out and keep the rest (the Lee-et-al
# span-removal discipline applied to benchmark overlap).  Composes the
# decontaminate detector with the cut_spans token filter.
# ---------------------------------------------------------------------------

_DECONTAM_CUT_ORACLE = rf"""WITH {_TOKS_CTE},
g5 AS (
  SELECT a.doc_id, a.pos,
         a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w || ' ' || e.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  JOIN toks d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
  JOIN toks e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4),
bench AS (
  SELECT DISTINCT g FROM g5 WHERE doc_id % 97 = 0),
hits AS (
  SELECT g5.doc_id, g5.pos
  FROM g5 JOIN bench USING (g) WHERE g5.doc_id % 97 <> 0),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS idx
  FROM hits CROSS JOIN UNNEST(range(0, 5)) AS t(j)),
corpus AS (SELECT * FROM toks WHERE doc_id % 97 <> 0),
kept AS (
  SELECT c.doc_id, c.w, c.pos
  FROM corpus c
  LEFT JOIN covered v ON v.doc_id = c.doc_id AND v.idx = c.pos
  WHERE v.idx IS NULL)
SELECT d.doc_id,
       CAST(COUNT(c.pos) AS BIGINT) AS n_tokens,
       CAST(COUNT(k.pos) AS BIGINT) AS n_kept,
       coalesce(string_agg(k.w, ' ' ORDER BY k.pos), '') AS clean_text
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN corpus c ON c.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = c.doc_id AND k.pos = c.pos
GROUP BY d.doc_id"""


@register(
    "corpus_decontaminate_cut",
    _DECONTAM_CUT_ORACLE,
    "decontamination surgery: benchmark 5-gram hits mark token spans, "
    "and the spans are CUT from the doc instead of dropping it — the "
    "hit positions broadcast back per doc and a row-local filter keeps "
    "uncovered tokens (no explode of the corpus, no self-join); "
    "composes the decontaminate detector with the cut_spans shape",
)
def corpus_decontaminate_cut_query(spark, sf_dir):
    from .operators.dedup import normalized_tokens
    from .operators.text import word_ngrams_expr

    (documents,) = _t(spark, sf_dir, "documents")
    staged = documents.select(
        "doc_id", normalized_tokens("text").alias("toks")
    ).withColumn("g5", word_ngrams_expr("toks", 5)).localCheckpoint()
    bench = (
        staged.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("g5").alias("g"))
        .distinct()
    )
    corpus = staged.filter(F.col("doc_id") % 97 != 0)
    hits = (
        corpus.select("doc_id", F.posexplode("g5").alias("p", "g"))
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("__hits__"))
    )
    toks = F.col("toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks), F.lit(1)) - 1)
    kept = F.filter(
        F.zip_with(toks, idx, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("__hits__"),
            lambda p: (s["i"] >= p) & (s["i"] < p + 5),
        ),
    )
    out = corpus.join(hits, "doc_id", "left").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(F.col("__hits__").isNull(), toks)
        .otherwise(F.transform(kept, lambda s: s["t"]))
        .alias("__kept__"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.size("__kept__").cast("long").alias("n_kept"),
        F.array_join("__kept__", " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe dataset splitting and PSI numeric drift — the last two
# pieces of the train-data governance story.
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """WITH h AS (
  SELECT doc_id, md5(lower(trim(text))) AS grp FROM documents),
cl AS (SELECT doc_id, grp, MIN(doc_id) OVER (PARTITION BY grp) AS cluster_id
       FROM h),
assigned AS (
  SELECT doc_id, cluster_id,
         ('0x' || substr(md5('split::' || CAST(cluster_id AS VARCHAR)), 1, 15))
           ::BIGINT AS hv
  FROM cl)
SELECT doc_id, cluster_id,
       -- EXACT integer thresholds (16^15 * 4 // 5 etc.): comparing the
       -- bigint hash against 0.8 * 2^60 as a double reclassifies
       -- borderline hashes (bigint→double rounding)
       CASE WHEN hv < 922337203685477580 THEN 'train'
            WHEN hv < 1037629354146162278 THEN 'val'
            ELSE 'test' END AS split
FROM assigned"""


@register(
    "corpus_split_leakage_safe",
    _SPLIT_ORACLE,
    "train/val/test splitting that cannot leak duplicates across "
    "splits: the split decision hashes the DUP-CLUSTER id (normalized "
    "exact-dup groups), not the doc id, so every member of a duplicate "
    "group lands in the same split — md5-threshold 80/10/10, "
    "deterministic and rerun-stable.  Near-dup clusters drop in by "
    "swapping the cluster source (dedup_minhash_clusters)",
)
def corpus_split_leakage_safe_query(spark, sf_dir):
    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    h = documents.select(
        "doc_id",
        F.md5(
            F.encode(F.lower(F.trim(F.col("text"))), "UTF-8")
        ).alias("grp"),
    )
    cl = h.withColumn(
        "cluster_id", F.min("doc_id").over(Window.partitionBy("grp"))
    )
    hv = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat(F.lit("split::"), F.col("cluster_id").cast("string")),
                    "UTF-8",
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    # exact integer thresholds (shared with the oracle): float-derived
    # cutoffs differ between engines on borderline hashes
    t80, t90 = 922337203685477580, 1037629354146162278
    return cl.select(
        "doc_id",
        "cluster_id",
        F.when(hv < t80, F.lit("train"))
        .when(hv < t90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_PSI_ORACLE = """WITH binned AS (
  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bin,
         o_orderkey % 2 = 0 AS in_a
  FROM orders),
counts AS (
  SELECT bin,
         CAST(COUNT(*) FILTER (WHERE in_a) AS BIGINT) AS ca,
         CAST(COUNT(*) FILTER (WHERE NOT in_a) AS BIGINT) AS cb
  FROM binned GROUP BY bin),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM counts)
SELECT bin, ca, cb,
       CAST(ROUND(
         ((ca + 1.0) / (na + k) - (cb + 1.0) / (nb + k))
         * ln(((ca + 1.0) * (nb + k)) / ((cb + 1.0) * (na + k)))
         * 1000000000) AS BIGINT) AS psi_contrib_nano
FROM counts CROSS JOIN tot"""


@register(
    "profile_psi_drift",
    _PSI_ORACLE,
    "population-stability-index drift for numeric columns (the model-"
    "monitoring twin of corpus_kl_drift): fixed-width bins, two "
    "map-side-combined slice counts in ONE pass (conditional "
    "aggregation — the column is scanned once, not twice), add-1 "
    "smoothed per-bin PSI contributions as int64 nanos",
)
def profile_psi_drift_query(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    binned = orders.select(
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
        .cast("long")
        .alias("bin"),
        (F.col("o_orderkey") % 2 == 0).alias("in_a"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("in_a"), True)).alias("ca"),
        F.count(F.when(~F.col("in_a"), True)).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count("*").alias("k"),
    )
    pa = (F.col("ca") + 1.0) / (F.col("na") + F.col("k"))
    pb = (F.col("cb") + 1.0) / (F.col("nb") + F.col("k"))
    contrib = F.round(
        (pa - pb)
        * F.log(
            ((F.col("ca") + 1.0) * (F.col("nb") + F.col("k")))
            / ((F.col("cb") + 1.0) * (F.col("na") + F.col("k")))
        )
        * 1000000000
    ).cast("long")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin", "ca", "cb", contrib.alias("psi_contrib_nano")
    )


# ---------------------------------------------------------------------------
# Embedding pipeline closers: chunk→document pooling and hard-negative
# mining for retrieval training.
# ---------------------------------------------------------------------------

_POOL_ORACLE = """WITH e AS (
  SELECT vec_id // 8 AS doc_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings),
ex AS (
  SELECT doc_id, generate_subscripts(v, 1) AS dim,
         CAST(ROUND(unnest(v) * 1000000) AS BIGINT) AS xi
  FROM e),
pooled AS (
  SELECT doc_id, dim, CAST(SUM(xi) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY doc_id, dim),
per_doc AS (
  SELECT doc_id, MAX(n) AS n_chunks, CAST(SUM(s * s) AS BIGINT) AS ssq
  FROM pooled GROUP BY doc_id)
SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
       CAST(ROUND(sqrt(CAST(ssq AS DOUBLE)) / n_chunks) AS BIGINT)
         AS norm_micro
FROM per_doc"""


@register(
    "embedding_doc_pool",
    _POOL_ORACLE,
    "chunk→document embedding pooling (long-doc recipe: embed chunks, "
    "mean-pool, renormalize): chunk components quantize to int64 "
    "micros FIRST, so both aggregation levels — per-(doc,dim) sums and "
    "the per-doc sum of squared sums — are exact integers and "
    "order-independent; one division and sqrt at the very end.  "
    "posexplode + two map-side-combinable groupBys",
)
def embedding_doc_pool_query(spark, sf_dir):
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    e = embeddings.select(
        F.floor(F.col("vec_id") / 8).cast("long").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    exploded = e.select("doc_id", F.posexplode("v").alias("dim", "x")).select(
        "doc_id", "dim", F.round(F.col("x") * 1000000).cast("long").alias("xi")
    )
    pooled = exploded.groupBy("doc_id", "dim").agg(
        F.sum("xi").alias("s"), F.count("*").alias("n")
    )
    # decimal-routed moment sum (r7 audit): s ~ n_chunks·1e6 micros, so
    # s² wraps int64 once a document exceeds ~3e3 chunks·dims — route
    # the square through decimal, one double cast at the sqrt
    per_doc = pooled.groupBy("doc_id").agg(
        F.max("n").alias("n_chunks"),
        F.sum(F.col("s").cast("decimal(19,0)") * F.col("s")).alias("ssq"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.round(F.sqrt(F.col("ssq").cast("double")) / F.col("n_chunks"))
        .cast("long")
        .alias("norm_micro"),
    )


_HARDNEG_ORACLE = """WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qnrm
      FROM n WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, n.vec_id,
         ROUND(list_inner_product(n.v, q.qv) / (n.nrm * q.qnrm), 6)
           AS cosine_sim
  FROM q JOIN n ON n.label <> q.qlabel)
SELECT query_id, vec_id, cosine_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id) AS rn
  FROM scored) WHERE rn <= 5"""


@register(
    "sim_hard_negatives",
    _HARDNEG_ORACLE,
    "hard-negative mining for retrieval training: per query, the "
    "top-5 most-similar vectors with a DIFFERENT label — the negatives "
    "that actually teach a bi-encoder.  Broadcast queries, label "
    "inequality pushed into the join, exact cosine re-uses the "
    "brute-force machinery, WindowGroupLimit top-k",
)
def sim_hard_negatives_query(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.similarity import cosine

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    n = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = n.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = n.join(
        F.broadcast(q), F.col("label") != F.col("qlabel")
    ).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), "vec_id"
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= 5)
        .drop("__rn__")
    )


# ---------------------------------------------------------------------------
# Data-repair closers: functional-dependency violation repair and
# outlier-robust trimmed means.
# ---------------------------------------------------------------------------

_FD_ORACLE = """WITH claims AS (
  SELECT l.l_orderkey AS okey,
         CASE WHEN l.l_orderkey % 31 = 0 AND l.l_linenumber = 7
              THEN o.o_custkey + 1 ELSE o.o_custkey END AS cust
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
votes AS (
  SELECT okey, cust, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM claims GROUP BY okey, cust),
viol AS (
  SELECT okey FROM votes GROUP BY okey HAVING COUNT(*) > 1),
majority AS (
  SELECT okey, cust AS repair_value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY okey
                                 ORDER BY cnt DESC, cust) AS rn
    FROM votes) WHERE rn = 1)
SELECT v.okey,
       CAST((SELECT COUNT(*) FROM votes t WHERE t.okey = v.okey) AS BIGINT)
         AS n_distinct_values,
       m.repair_value,
       CAST((SELECT COALESCE(SUM(cnt), 0) FROM votes t
             WHERE t.okey = v.okey AND t.cust <> m.repair_value) AS BIGINT)
         AS n_rows_to_repair
FROM viol v JOIN majority m ON m.okey = v.okey"""


@register(
    "repair_fd_violations",
    _FD_ORACLE,
    "functional-dependency repair (HoloClean-lite): for a dependency "
    "X→Y (order determines customer), find keys with conflicting Y "
    "values and propose the majority repair with deterministic "
    "tie-breaks.  One (X,Y) vote aggregation — map-side combinable — "
    "feeds both the violation filter and the majority pick; no "
    "self-join of the fact table",
)
def repair_fd_violations_query(spark, sf_dir):
    from pyspark.sql import Window

    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    claims = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.col("l_orderkey").alias("okey"),
        F.when(
            (F.col("l_orderkey") % 31 == 0) & (F.col("l_linenumber") == 7),
            F.col("o_custkey") + 1,
        )
        .otherwise(F.col("o_custkey"))
        .alias("cust"),
    )
    votes = claims.groupBy("okey", "cust").agg(F.count("*").alias("cnt"))
    per_key = votes.groupBy("okey").agg(
        F.count("*").alias("n_distinct_values"),
        F.sum("cnt").alias("n_total"),
        F.max_by(
            F.col("cust"),
            F.struct(F.col("cnt"), -F.col("cust")),
        ).alias("repair_value"),
        F.max(F.struct(F.col("cnt"), -F.col("cust"))).alias("__best__"),
    )
    return (
        per_key.filter(F.col("n_distinct_values") > 1)
        .select(
            "okey",
            "n_distinct_values",
            "repair_value",
            (F.col("n_total") - F.col("__best__")["cnt"]).alias(
                "n_rows_to_repair"
            ),
        )
    )


_TRIMMED_ORACLE = """WITH ranked AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(18, 2)) AS price,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem),
kept AS (
  SELECT l_returnflag, price, n
  FROM ranked
  WHERE rn > n // 10 AND rn <= n - n // 10)
SELECT l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(ROUND(SUM(price) / COUNT(*), 6) AS DOUBLE) AS trimmed_mean
FROM kept GROUP BY l_returnflag"""


@register(
    "lineitem_trimmed_mean",
    _TRIMMED_ORACLE,
    "outlier-robust aggregation: 10%-trimmed mean per group — exact "
    "rank window with full tie-breaks drops each tail, decimal-exact "
    "sum so partial aggregation and the oracle agree bit-for-bit; the "
    "robust-statistics twin of the exact-median operators",
)
def lineitem_trimmed_mean_query(spark, sf_dir):
    # Prefix-sum formulation, not a rank window: partitionBy on a
    # 3-value group column funnels the whole table through 3 tasks
    # (6.4 s at the 10x probe; unbounded at 100 TB).  Instead:
    # value-level counts (map-side combinable), a RANGE-PARTITIONED
    # global running count, tiny per-group offsets, then per distinct
    # value the number of its occurrences inside the kept band —
    # identical kept MULTISET (trim-by-count keeps the same values no
    # matter how ties are ordered), no low-cardinality window.
    from pyspark.sql import Window

    from .operators.windows import distributed_prefix_sum

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    counts = (
        lineitem.select(
            "l_returnflag",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy("l_returnflag", "price")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pre = distributed_prefix_sum(
        counts, "cnt", order_by=["l_returnflag", "price"], out_col="cum"
    )
    gstats = counts.groupBy("l_returnflag").agg(F.sum("cnt").alias("n"))
    offw = Window.orderBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = gstats.withColumn(
        "goff", F.coalesce(F.sum("n").over(offw), F.lit(0))
    )
    j = pre.join(F.broadcast(offs), "l_returnflag").withColumn(
        "k", F.expr("n div 10")
    )
    before = F.col("cum") - F.col("cnt") - F.col("goff")
    lo = F.greatest(before, F.col("k"))
    hi = F.least(before + F.col("cnt"), F.col("n") - F.col("k"))
    kept_cnt = F.greatest(hi - lo, F.lit(0))
    staged = j.select(
        "l_returnflag", "price", "n", kept_cnt.alias("kc")
    )
    return staged.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.sum("kc").cast("long").alias("n_kept"),
        F.round(
            F.sum(F.col("price") * F.col("kc")) / F.sum("kc"), 6
        )
        .cast("double")
        .alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------------
# Feature-prep and model-eval closers: leave-one-out target encoding
# and exact per-group ROC-AUC (Mann-Whitney with tie correction) in
# integer arithmetic.
# ---------------------------------------------------------------------------

_LOO_ORACLE = """WITH t AS (
  SELECT o_orderkey AS okey, o_orderpriority AS cat,
         CAST(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS BIGINT)
           AS y
  FROM orders),
s AS (SELECT cat, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM t GROUP BY cat)
SELECT t.okey, t.cat,
       CASE WHEN s.n > 1
            THEN CAST((s.sy - t.y) * 1000000 // (s.n - 1) AS BIGINT)
            ELSE CAST(500000 AS BIGINT) END AS te_micro
FROM t JOIN s USING (cat)"""


@register(
    "features_target_encode_loo",
    _LOO_ORACLE,
    "leave-one-out target encoding (the leakage-safe categorical "
    "encoder): per-category target sum/count aggregate once, broadcast "
    "back, and each row's own label subtracts out — (S−y)/(n−1) in "
    "integer micros, singleton categories fall back to the 0.5 prior.  "
    "One groupBy + one broadcast join; no per-row window",
)
def features_target_encode_loo_query(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    t = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_totalprice") > 150000, 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    s = t.groupBy("cat").agg(
        F.sum("y").alias("sy"), F.count("*").alias("n")
    )
    return (
        t.join(F.broadcast(s), "cat")
        .withColumn(
            "__num__", (F.col("sy") - F.col("y")) * F.lit(1000000).cast("long")
        )
        .withColumn("__den__", F.col("n") - 1)
        .select(
            "okey",
            "cat",
            F.when(F.col("n") > 1, F.expr("__num__ div __den__"))
            .otherwise(F.lit(500000))
            .cast("long")
            .alias("te_micro"),
        )
    )


_AUC_ORACLE = """WITH t AS (
  SELECT source,
         CAST(length(text) % 97 AS BIGINT) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
r AS (
  SELECT source, score, y,
         RANK() OVER (PARTITION BY source ORDER BY score) AS rmin,
         COUNT(*) OVER (PARTITION BY source, score) AS ties
  FROM t),
agg AS (
  SELECT source,
         CAST(SUM(CASE WHEN y = 1 THEN 2 * rmin + ties - 1 END) AS BIGINT)
           AS r2pos,
         CAST(SUM(y) AS BIGINT) AS np,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
  FROM r GROUP BY source)
SELECT source, np, nn,
       CAST((r2pos - np * (np + 1)) * 1000000 // (2 * np * nn) AS BIGINT)
         AS auc_micro
FROM agg WHERE np > 0 AND nn > 0"""


@register(
    "eval_auc_by_source",
    _AUC_ORACLE,
    "exact ROC-AUC per group, in the engine: Mann-Whitney rank "
    "statistic with average-rank tie correction kept in DOUBLED "
    "integers (2·rank_min + ties − 1), so the whole computation — "
    "ranks, positive-rank sum, final ratio — is exact int64 and "
    "order-independent.  The classifier-eval primitive for per-domain "
    "quality-model audits; groups parallelize the rank windows",
)
def eval_auc_by_source_query(spark, sf_dir):
    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        "source",
        (F.length("text") % 97).cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    wr = Window.partitionBy("source").orderBy("score")
    wt = Window.partitionBy("source", "score")
    r = t.select(
        "source",
        "y",
        F.rank().over(wr).alias("rmin"),
        F.count("*").over(wt).alias("ties"),
    )
    agg = r.groupBy("source").agg(
        F.sum(
            F.when(F.col("y") == 1, 2 * F.col("rmin") + F.col("ties") - 1)
        ).alias("r2pos"),
        F.sum("y").alias("np"),
        (F.count("*") - F.sum("y")).alias("nn"),
    )
    # `div` (SQL integral division) — the numerator grows past 2^53
    # on big groups, where floor(double-division) loses low bits
    return (
        agg.filter((F.col("np") > 0) & (F.col("nn") > 0))
        .withColumn(
            "__num__",
            (F.col("r2pos") - F.col("np") * (F.col("np") + 1))
            * F.lit(1000000).cast("long"),
        )
        .withColumn("__den__", 2 * F.col("np") * F.col("nn"))
        .select(
            "source",
            F.col("np").cast("long").alias("np"),
            F.col("nn").cast("long").alias("nn"),
            F.expr("__num__ div __den__").cast("long").alias("auc_micro"),
        )
    )


_CALIB_ORACLE = """WITH t AS (
  SELECT CAST(length(text) % 97 AS BIGINT) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
b AS (
  SELECT CAST(least(score * 10 // 97, 9) AS BIGINT) AS bin, score, y
  FROM t)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_micro
FROM b GROUP BY bin"""


@register(
    "eval_calibration_bins",
    _CALIB_ORACLE,
    "reliability-diagram data (the calibration twin of "
    "eval_auc_by_source): decile score bins via integer arithmetic, "
    "per-bin support, score mass, and positive rate in exact int64 — "
    "one map-side-combined aggregation",
)
def eval_calibration_bins_query(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        (F.length("text") % 97).cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    b = t.select(
        F.least(F.floor(F.col("score") * 10 / 97), F.lit(9))
        .cast("long")
        .alias("bin"),
        "score",
        "y",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("score").alias("sum_score"),
            F.sum("y").alias("n_pos"),
        )
        .withColumn("__num__", F.col("n_pos") * F.lit(1000000).cast("long"))
        .select(
            "bin",
            "n",
            "sum_score",
            "n_pos",
            F.expr("__num__ div n").cast("long").alias("pos_rate_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic bootstrap confidence interval: Poisson(1) resampling
# with md5-derived counts, so the "random" resamples are reproducible
# and oracle-checkable.  32 replicas ride one explode; each replica
# mean is one map-side-combined aggregation over decimal-exact sums.
# ---------------------------------------------------------------------------

#: cumulative Poisson(1) thresholds scaled to the md5-15-hex-digit
#: integer range (16^15), truncated at 5 occurrences
_POIS_T = [
    int(0.3678794412 * (1 << 60)),
    int(0.7357588823 * (1 << 60)),
    int(0.9196986029 * (1 << 60)),
    int(0.9810118431 * (1 << 60)),
    int(0.9963401532 * (1 << 60)),
]

_BOOT_ORACLE = f"""WITH x AS (
  SELECT l_orderkey AS k, l_linenumber AS j,
         CAST(l_extendedprice AS DECIMAL(18, 2)) AS v
  FROM lineitem),
rep AS (
  SELECT x.k, x.j, x.v, r.r,
         ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
                             CAST(x.k AS VARCHAR) || '-' ||
                             CAST(x.j AS VARCHAR)), 1, 15))::BIGINT AS u
  FROM x CROSS JOIN (SELECT unnest(range(0, 32)) AS r) r),
cnted AS (
  SELECT r, v,
         CASE WHEN u < {_POIS_T[0]} THEN 0
              WHEN u < {_POIS_T[1]} THEN 1
              WHEN u < {_POIS_T[2]} THEN 2
              WHEN u < {_POIS_T[3]} THEN 3
              WHEN u < {_POIS_T[4]} THEN 4
              ELSE 5 END AS c
  FROM rep),
means AS (
  -- integer cents end-to-end: mean_micro = (cents*10000) // count
  SELECT r,
         CAST(SUM(CAST(v * 100 AS BIGINT) * c) * 10000
              // SUM(c) AS BIGINT) AS mean_micro
  FROM cnted GROUP BY r HAVING SUM(c) > 0),
ranked AS (
  SELECT mean_micro,
         ROW_NUMBER() OVER (ORDER BY mean_micro, mean_micro) AS rn,
         COUNT(*) OVER () AS nr
  FROM means)
SELECT CAST((SELECT COUNT(*) FROM means) AS BIGINT) AS n_replicas,
       (SELECT MIN(mean_micro) FROM ranked WHERE rn >= 0.025 * nr)
         AS ci_lo_micro,
       (SELECT MAX(mean_micro) FROM ranked WHERE rn <= 0.975 * nr)
         AS ci_hi_micro"""


@register(
    "stats_bootstrap_ci",
    _BOOT_ORACLE,
    "deterministic Poisson bootstrap: per (replica, row) the md5 of "
    "(replica, row-key) maps through the Poisson(1) inverse CDF to a "
    "resample count, so all 32 'random' replicas are reproducible and "
    "hash-certified.  Replica means are decimal-exact; the 95% CI "
    "reads off the tiny replica frame.  Row cost is x32 on an "
    "aggregate-only path (map-side combine), never a shuffle of the "
    "fact table per replica",
)
def stats_bootstrap_ci_query(spark, sf_dir):
    from pyspark.sql import Window

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    x = lineitem.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("j"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
    )
    rep = x.select(
        "k", "j", "v", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r")
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat(
                        F.col("r").cast("string"), F.lit(":"),
                        F.col("k").cast("string"), F.lit("-"),
                        F.col("j").cast("string"),
                    ),
                    "UTF-8",
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    c = (
        F.when(u < _POIS_T[0], 0)
        .when(u < _POIS_T[1], 1)
        .when(u < _POIS_T[2], 2)
        .when(u < _POIS_T[3], 3)
        .when(u < _POIS_T[4], 4)
        .otherwise(5)
    )
    cnted = rep.select("r", "v", c.alias("c"))
    cents = (F.col("v") * 100).cast("long")
    means = (
        cnted.groupBy("r")
        .agg(
            F.sum(cents * F.col("c")).alias("sv"),
            F.sum("c").alias("sc"),
        )
        .filter(F.col("sc") > 0)
        .withColumn("__num__", F.col("sv") * F.lit(10000).cast("long"))
        .select(
            F.expr("__num__ div sc").cast("long").alias("mean_micro")
        )
    )
    wr = Window.orderBy("mean_micro")
    ranked = means.select(
        "mean_micro",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("nr"),
    )
    return ranked.agg(
        F.max("nr").cast("long").alias("n_replicas"),
        F.min(
            F.when(F.col("rn") >= 0.025 * F.col("nr"), F.col("mean_micro"))
        ).alias("ci_lo_micro"),
        F.max(
            F.when(F.col("rn") <= 0.975 * F.col("nr"), F.col("mean_micro"))
        ).alias("ci_hi_micro"),
    )


# ---------------------------------------------------------------------------
# REAL multimodal decode, certified: constant-color BMPs synthesized
# (stdlib encoder) and decoded (stdlib struct parser) inside Arrow
# stages; the oracle predicts the channel sums in closed form
# (w·h·color), so the binary encode→decode roundtrip hash-checks
# against an independent analytical model.
# ---------------------------------------------------------------------------

_BMP_ORACLE = """SELECT o_orderkey AS media_id,
       CAST(4 + o_orderkey % 5 AS BIGINT) AS width,
       CAST(3 + o_orderkey % 4 AS BIGINT) AS height,
       CAST((4 + o_orderkey % 5) * (3 + o_orderkey % 4)
            * (o_orderkey * 7 % 256) AS BIGINT) AS sum_r,
       CAST((4 + o_orderkey % 5) * (3 + o_orderkey % 4)
            * (o_orderkey * 13 % 256) AS BIGINT) AS sum_g,
       CAST((4 + o_orderkey % 5) * (3 + o_orderkey % 4)
            * (o_orderkey * 29 % 256) AS BIGINT) AS sum_b,
       CAST(NULL AS VARCHAR) AS decode_error
FROM orders WHERE o_orderkey % 301 = 0"""


@register(
    "multimodal_bmp_decode",
    _BMP_ORACLE,
    "REAL image decode end-to-end (no codec libs — 24-bpp BMP via "
    "stdlib struct): constant-color images synthesized per row in one "
    "Arrow stage, decoded to dimensions + exact channel sums in "
    "another; the oracle predicts the sums analytically (w·h·color), "
    "certifying the binary encode→decode roundtrip.  PNG/JPEG swap "
    "into the same kernel contract when codecs exist "
    "(operators/multimodal.py::decode_bmp_stats)",
)
def multimodal_bmp_decode_query(spark, sf_dir):
    from .operators.multimodal import decode_bmp_stats, encode_bmp

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (4 + F.col("o_orderkey") % 5).cast("int").alias("w"),
        (3 + F.col("o_orderkey") % 4).cast("int").alias("h"),
        (F.col("o_orderkey") * 7 % 256).cast("int").alias("r"),
        (F.col("o_orderkey") * 13 % 256).cast("int").alias("g"),
        (F.col("o_orderkey") * 29 % 256).cast("int").alias("b"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                encode_bmp(
                    int(w), int(h),
                    lambda x, y, c=(int(r), int(g), int(b)): c,
                )
                for w, h, r, g, b in zip(
                    pdf["w"], pdf["h"], pdf["r"], pdf["g"], pdf["b"]
                )
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    return decode_bmp_stats(media)


# ---------------------------------------------------------------------------
# REAL PNG decode, certified: gradient images (pixel value depends on
# x, y AND the media id) are PNG-encoded with the scanline filter
# CYCLING through all five types, zlib-compressed, then decoded by the
# stdlib inflate+unfilter kernel.  The oracle recomputes the channel
# sums from the same pixel formula over a range() pixel grid — a
# gradient (unlike the BMP's constant color) makes every unfilter
# path (Sub/Up/Average/Paeth) carry non-trivial deltas, so a wrong
# predictor cannot hash-match.
# ---------------------------------------------------------------------------

_PNG_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k,
         4 + o_orderkey % 5 AS w,
         3 + o_orderkey % 4 AS h
  FROM orders WHERE o_orderkey % 301 = 0),
px AS (
  SELECT k, w, h, x, y
  FROM m
  JOIN range(8) tx(x) ON x < w
  JOIN range(6) ty(y) ON y < h)
SELECT k AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM((x * 7 + y * 3 + k) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((x * 13 + y * 29 + k * 2) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((x * 31 + y * 5 + k * 3) % 256) AS BIGINT) AS sum_b,
       CAST(NULL AS VARCHAR) AS decode_error
FROM px GROUP BY k, w, h"""


@register(
    "multimodal_png_decode",
    _PNG_ORACLE,
    "REAL PNG decode end-to-end with no codec libs (PNG is pure "
    "stdlib: zlib inflate + per-scanline unfilter): per-row gradient "
    "images encoded with the filter type CYCLING through "
    "None/Sub/Up/Average/Paeth, decoded to dimensions + exact channel "
    "sums in an Arrow stage; the oracle recomputes the sums from the "
    "same pixel formula over a range() grid, so a wrong Paeth "
    "predictor or average rounding cannot hash-match "
    "(operators/multimodal.py::decode_png_stats; closes the PNG stub "
    "seam from r03)",
)
def multimodal_png_decode_query(spark, sf_dir):
    from .operators.multimodal import decode_png_stats, encode_png

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (4 + F.col("o_orderkey") % 5).cast("int").alias("w"),
        (3 + F.col("o_orderkey") % 4).cast("int").alias("h"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                encode_png(
                    int(w),
                    int(h),
                    lambda x, y, k=int(k): (
                        (x * 7 + y * 3 + k) % 256,
                        (x * 13 + y * 29 + k * 2) % 256,
                        (x * 31 + y * 5 + k * 3) % 256,
                    ),
                )
                for k, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"])
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    return decode_png_stats(media)


# ---------------------------------------------------------------------------
# REAL WAV decode, certified: the audio leg of the media pipeline gets
# the same treatment as BMP/PNG/BAM — PCM16 RIFF files synthesized
# per row (rule-driven samples over frame index, channel and media
# id), walked chunk-by-chunk and summed by the stdlib kernel; the
# oracle recomputes every stat from a range() frame×channel grid, so
# a wrong interleave or sign handling cannot hash-match.
# ---------------------------------------------------------------------------

_WAV_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k,
         50 + o_orderkey % 64 AS nf,
         1 + o_orderkey % 2 AS nc
  FROM orders WHERE o_orderkey % 301 = 0),
s AS (
  SELECT k, nf, nc,
         ((i * 37 + ch * 1001 + k) % 4001) - 2000 AS v
  FROM m
  JOIN range(114) ti(i) ON i < nf
  JOIN range(2) tc(ch) ON ch < nc)
SELECT k AS media_id,
       CAST(nc AS BIGINT) AS n_channels,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf * 1000 // 8000 AS BIGINT) AS duration_milli,
       CAST(SUM(v) AS BIGINT) AS sum_samples,
       CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
       CAST(NULL AS VARCHAR) AS decode_error
FROM s GROUP BY k, nf, nc"""


@register(
    "multimodal_wav_decode",
    _WAV_ORACLE,
    "REAL audio decode end-to-end with no codec libs (PCM WAV is a "
    "pure RIFF struct walk): per-row mono/stereo PCM16 files with "
    "rule-driven samples are encoded and decoded to frame counts, "
    "milli-duration and exact sample/abs sums inside Arrow stages; "
    "the oracle recomputes the sums from the same sample formula "
    "over a range() frame×channel grid "
    "(operators/multimodal.py::decode_wav_stats; closes the audio "
    "stub seam from r03)",
)
def multimodal_wav_decode_query(spark, sf_dir):
    from .operators.multimodal import decode_wav_stats, encode_wav

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (50 + F.col("o_orderkey") % 64).cast("int").alias("nf"),
        (1 + F.col("o_orderkey") % 2).cast("int").alias("nc"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                encode_wav(
                    lambda i, ch, k=int(k): ((i * 37 + ch * 1001 + k) % 4001)
                    - 2000,
                    n_samples=int(nf),
                    sample_rate=8000,
                    n_channels=int(nc),
                )
                for k, nf, nc in zip(pdf["media_id"], pdf["nf"], pdf["nc"])
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    return decode_wav_stats(media)


# ---------------------------------------------------------------------------
# REAL baseline-JPEG decode, certified: the last codec seam closed
# with the stdlib alone (operators/jpeg.py: Huffman entropy decode +
# dequant + IDCT + 4:2:0 chroma upsampling + restart-marker resync).
# Certification uses the exact regime: images FLAT within each 8×8
# block (a flat block's DCT is a lone DC coefficient, preserved
# exactly at quant 1) with grayscale values (the YCbCr transform is
# identity for r=g=b), pushed through the FULL color path — 3
# components, 4:2:0 subsampling, restart markers — so the oracle can
# predict the channel sums analytically from the block-value formula.
# ---------------------------------------------------------------------------

_JPEG_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k,
         8 + (o_orderkey % 3) * 8 AS w,
         8 + (o_orderkey % 2) * 8 AS h
  FROM orders WHERE o_orderkey % 301 = 0),
px AS (
  SELECT k, w, h,
         (37 * (x // 8) + 91 * (y // 8) + k) % 256 AS v
  FROM m
  JOIN range(24) tx(x) ON x < w
  JOIN range(16) ty(y) ON y < h)
SELECT k AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS sum_r,
       CAST(SUM(v) AS BIGINT) AS sum_g,
       CAST(SUM(v) AS BIGINT) AS sum_b,
       CAST(NULL AS VARCHAR) AS decode_error
FROM px GROUP BY k, w, h"""


@register(
    "multimodal_jpeg_decode",
    _JPEG_ORACLE,
    "REAL baseline-JPEG decode end-to-end with no codec libs "
    "(operators/jpeg.py: marker parse, Huffman entropy decode, "
    "dequant, IDCT, 4:2:0 upsampling, restart-marker resync): "
    "per-row images flat within each 8x8 block and grayscale-valued "
    "are encoded through the FULL color path (3 components, 4:2:0, "
    "DRI/RST) — the regime where DCT+quant-1 is bit-exact — and "
    "decoded to dimensions + channel sums in Arrow stages; the "
    "oracle recomputes the sums from the block-value formula over a "
    "range() grid (operators/multimodal.py::decode_jpeg_stats; "
    "closes the final codec stub from r03)",
)
def multimodal_jpeg_decode_query(spark, sf_dir):
    from .operators.jpeg import encode_jpeg
    from .operators.multimodal import decode_jpeg_stats

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (8 + (F.col("o_orderkey") % 3) * 8).cast("int").alias("w"),
        (8 + (F.col("o_orderkey") % 2) * 8).cast("int").alias("h"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                encode_jpeg(
                    int(w),
                    int(h),
                    lambda x, y, k=int(k): (
                        ((37 * (x // 8) + 91 * (y // 8) + k) % 256,) * 3
                    ),
                    quant=1,
                    subsample="420",
                    restart_interval=2,
                )
                for k, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"])
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    return decode_jpeg_stats(media)


# ---------------------------------------------------------------------------
# REAL video decode, certified: MJPEG-in-AVI is the video format the
# stdlib can own end-to-end — the container is a RIFF chunk walk
# (operators/video.py) and every frame is a baseline JPEG through the
# operators/jpeg.py decoder.  Per-row clips with rule-driven
# MCU-flat grayscale frames decode to exact channel sums over ALL
# frames; the oracle recomputes them over a frame×pixel grid.
# ---------------------------------------------------------------------------

_MJPEG_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k,
         2 + o_orderkey % 3 AS nf,
         8 + (o_orderkey % 2) * 8 AS w
  FROM orders WHERE o_orderkey % 301 = 0),
px AS (
  SELECT k, nf, w,
         (37 * (x // 8) + 13 * f + k) % 256 AS v
  FROM m
  JOIN range(4) tf(f) ON f < nf
  JOIN range(16) tx(x) ON x < w
  JOIN range(8) ty(y) ON y < 8)
SELECT k AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(SUM(v) AS BIGINT) AS sum_r,
       CAST(SUM(v) AS BIGINT) AS sum_g,
       CAST(SUM(v) AS BIGINT) AS sum_b,
       CAST(NULL AS VARCHAR) AS decode_error
FROM px GROUP BY k, nf, w"""


@register(
    "multimodal_mjpeg_video_decode",
    _MJPEG_ORACLE,
    "REAL video decode end-to-end with no codec libs (MJPEG-in-AVI: "
    "RIFF chunk walk + per-frame baseline JPEG through "
    "operators/jpeg.py): per-row clips of rule-driven MCU-flat "
    "grayscale frames through the full 4:2:0 color path, decoded to "
    "frame counts + exact channel sums over all frames in Arrow "
    "stages; the oracle recomputes the sums over a frame x pixel "
    "grid (operators/video.py::decode_mjpeg_stats; closes the video "
    "stub — frame_sample_plan fans long videos out per frame first)",
)
def multimodal_mjpeg_video_decode_query(spark, sf_dir):
    from .operators.jpeg import encode_jpeg
    from .operators.video import decode_mjpeg_stats, encode_avi_mjpeg

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (2 + F.col("o_orderkey") % 3).cast("int").alias("nf"),
        (8 + (F.col("o_orderkey") % 2) * 8).cast("int").alias("w"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, nf, w in zip(pdf["media_id"], pdf["nf"], pdf["w"]):
                k, nf, w = int(k), int(nf), int(w)
                frames = [
                    encode_jpeg(
                        w,
                        8,
                        lambda x, y, f=f, k=k: (
                            ((37 * (x // 8) + 13 * f + k) % 256,) * 3
                        ),
                        quant=1,
                        subsample="420",
                    )
                    for f in range(nf)
                ]
                payloads.append(encode_avi_mjpeg(frames, w, 8))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    return decode_mjpeg_stats(media)


# ---------------------------------------------------------------------------
# REAL compressed-audio decode, certified: FLAC is LOSSLESS, so unlike
# JPEG there is no "exact regime" to engineer — every stream decodes
# bit-exactly.  Per-row stereo/mono FLAC files (fixed-predictor
# subframes, Rice-coded residuals, mid/side decorrelation for stereo)
# decode through the full CRC-verified path in operators/flac.py; the
# oracle recomputes the sums from the sample formula over a range()
# frame×channel grid — the WAV entry's twin, one compression layer
# deeper.
# ---------------------------------------------------------------------------

_FLAC_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k,
         300 + o_orderkey % 200 AS nf,
         1 + o_orderkey % 2 AS nc
  FROM orders WHERE o_orderkey % 301 = 0),
s AS (
  SELECT k, nf, nc,
         ((i * 37 + ch * 1001 + k) % 4001) - 2000 AS v
  FROM m
  JOIN range(500) ti(i) ON i < nf
  JOIN range(2) tc(ch) ON ch < nc)
SELECT k AS media_id,
       CAST(nc AS BIGINT) AS n_channels,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf * 1000 // 16000 AS BIGINT) AS duration_milli,
       CAST(SUM(v) AS BIGINT) AS sum_samples,
       CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
       CAST(NULL AS VARCHAR) AS decode_error
FROM s GROUP BY k, nf, nc"""


@register(
    "multimodal_flac_decode",
    _FLAC_ORACLE,
    "REAL compressed-audio decode end-to-end with no codec libs "
    "(FLAC is stdlib-decodable and LOSSLESS — operators/flac.py: "
    "frame sync + CRC-8/CRC-16 verification, fixed-predictor "
    "subframes, Rice partitions, mid/side stereo decorrelation, "
    "stream MD5 check): per-row mono/stereo files with rule-driven "
    "samples are Rice-compressed and decoded to exact sample/abs "
    "sums in Arrow stages; the oracle recomputes the sums over a "
    "range() frame×channel grid "
    "(operators/flac.py::decode_flac_stats; closes the last "
    "compressed-codec stub)",
)
def multimodal_flac_decode_query(spark, sf_dir):
    from .operators.flac import decode_flac_stats, encode_flac

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (300 + F.col("o_orderkey") % 200).cast("int").alias("nf"),
        (1 + F.col("o_orderkey") % 2).cast("int").alias("nc"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                encode_flac(
                    lambda i, ch, k=int(k): (
                        ((i * 37 + ch * 1001 + k) % 4001) - 2000
                    ),
                    n_samples=int(nf),
                    sample_rate=16000,
                    n_channels=int(nc),
                    block_size=128,
                    subframe="fixed2",
                    partition_order=2,
                    mid_side=int(nc) == 2,
                )
                for k, nf, nc in zip(pdf["media_id"], pdf["nf"], pdf["nc"])
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    return decode_flac_stats(media)


# ---------------------------------------------------------------------------
# Mixed-format media ROUTING, certified: the production shape for a
# multimodal corpus — ONE media table carrying different formats with
# typed metadata, dispatched by mime to the right real kernel
# (filter → kernel → unionByName in long stat form).  Three formats
# cover the three codec classes: BMP (raw image), JPEG (compressed
# image, exact flat-block regime), FLAC (compressed audio, lossless).
# The oracle unions the three analytic formulas — certification of
# the dispatch itself, not just each kernel.
# ---------------------------------------------------------------------------

_ROUTE_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k, o_orderkey % 3 AS fmt
  FROM orders WHERE o_orderkey % 301 = 0),
bmp AS (
  SELECT k, 'image/bmp' AS mime, s.stat, s.value
  FROM m,
  LATERAL (VALUES
    ('width', CAST(6 AS BIGINT)),
    ('height', CAST(4 AS BIGINT)),
    ('sum_r', CAST(24 * (k * 7 % 256) AS BIGINT)),
    ('sum_g', CAST(24 * (k * 13 % 256) AS BIGINT)),
    ('sum_b', CAST(24 * (k * 29 % 256) AS BIGINT))) s(stat, value)
  WHERE fmt = 0),
jpg AS (
  SELECT k, 'image/jpeg' AS mime, s.stat, s.value
  FROM (
    SELECT k, SUM((37 * (x // 8) + k) % 256) AS sv
    FROM m JOIN range(16) tx(x) ON TRUE JOIN range(8) ty(y) ON TRUE
    WHERE fmt = 1 GROUP BY k) j,
  LATERAL (VALUES
    ('width', CAST(16 AS BIGINT)),
    ('height', CAST(8 AS BIGINT)),
    ('sum_r', CAST(sv AS BIGINT)),
    ('sum_g', CAST(sv AS BIGINT)),
    ('sum_b', CAST(sv AS BIGINT))) s(stat, value)),
flac AS (
  SELECT k, 'audio/flac' AS mime, s.stat, s.value
  FROM (
    SELECT k,
           SUM(((i * 37 + k) % 4001) - 2000) AS ss,
           SUM(abs(((i * 37 + k) % 4001) - 2000)) AS sa
    FROM m JOIN range(400) ti(i) ON TRUE
    WHERE fmt = 2 GROUP BY k) f,
  LATERAL (VALUES
    ('n_frames', CAST(400 AS BIGINT)),
    ('duration_milli', CAST(400 * 1000 // 16000 AS BIGINT)),
    ('sum_samples', CAST(ss AS BIGINT)),
    ('sum_abs', CAST(sa AS BIGINT))) s(stat, value))
SELECT k AS media_id, mime, stat, value FROM bmp
UNION ALL SELECT k, mime, stat, value FROM jpg
UNION ALL SELECT k, mime, stat, value FROM flac"""


@register(
    "multimodal_route_decode",
    _ROUTE_ORACLE,
    "mixed-format media routing: ONE table carries BMP + JPEG + FLAC "
    "payloads with mime metadata; mime-filtered branches run each "
    "REAL kernel and unionByName their stats in long (stat, value) "
    "form — the production dispatch shape for a multimodal corpus.  "
    "The oracle unions the three analytic formulas, certifying the "
    "routing itself, not just each kernel in isolation",
)
def multimodal_route_decode_query(spark, sf_dir):
    from .operators.flac import decode_flac_stats, encode_flac
    from .operators.jpeg import encode_jpeg
    from .operators.multimodal import (
        decode_bmp_stats,
        decode_jpeg_stats,
        encode_bmp,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (F.col("o_orderkey") % 3).cast("int").alias("fmt"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads, mimes = [], []
            for k, fmt in zip(pdf["media_id"], pdf["fmt"]):
                k, fmt = int(k), int(fmt)
                if fmt == 0:
                    payloads.append(
                        encode_bmp(
                            6, 4,
                            lambda x, y, k=k: (
                                k * 7 % 256, k * 13 % 256, k * 29 % 256
                            ),
                        )
                    )
                    mimes.append("image/bmp")
                elif fmt == 1:
                    payloads.append(
                        encode_jpeg(
                            16, 8,
                            lambda x, y, k=k: (
                                ((37 * (x // 8) + k) % 256,) * 3
                            ),
                            quant=1, subsample="420",
                        )
                    )
                    mimes.append("image/jpeg")
                else:
                    payloads.append(
                        encode_flac(
                            lambda i, ch, k=k: ((i * 37 + k) % 4001) - 2000,
                            n_samples=400, sample_rate=16000,
                            subframe="fixed2", partition_order=2,
                        )
                    )
                    mimes.append("audio/flac")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": mimes,
                    "payload": payloads,
                }
            )

    media = meta.mapInPandas(
        synth, "media_id long, mime string, payload binary"
    ).localCheckpoint()

    def long_form(stats, mime, cols):
        pairs = [
            F.struct(F.lit(c).alias("stat"), F.col(c).cast("long").alias("value"))
            for c in cols
        ]
        return stats.select(
            "media_id",
            F.lit(mime).alias("mime"),
            F.explode(F.array(*pairs)).alias("s"),
        ).select("media_id", "mime", F.col("s.stat"), F.col("s.value"))

    bmp = long_form(
        decode_bmp_stats(media.filter(F.col("mime") == "image/bmp")),
        "image/bmp", ["width", "height", "sum_r", "sum_g", "sum_b"],
    )
    jpg = long_form(
        decode_jpeg_stats(media.filter(F.col("mime") == "image/jpeg")),
        "image/jpeg", ["width", "height", "sum_r", "sum_g", "sum_b"],
    )
    flac = long_form(
        decode_flac_stats(media.filter(F.col("mime") == "audio/flac")),
        "audio/flac",
        ["n_frames", "duration_milli", "sum_samples", "sum_abs"],
    )
    return bmp.unionByName(jpg).unionByName(flac)


# ---------------------------------------------------------------------------
# IMAGE near-dup, certified end-to-end: decode → pooled-gray aHash →
# banded candidate join → Hamming verify (operators/imagehash.py).
# The LAION-shaped dedup a multimodal training corpus needs — the
# image twin of dedup_simhash_pairs, with the DECODE inside the
# certified pipeline.  Fixtures: per key, an original and a
# one-block-perturbed variant (near-dups by construction, far from
# other keys); flat-block gray BMPs make every pooled cell, hash bit,
# band key and Hamming distance analytic in SQL.
# ---------------------------------------------------------------------------

_IMG_AHASH_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 301 = 0),
imgs AS (
  SELECT k, var, k * 2 + var AS media_id
  FROM m JOIN range(2) tv(var) ON TRUE),
cells AS (
  SELECT media_id, by * 8 + bx AS cell,
         CASE WHEN var = 1 AND bx = 0 AND by = 0
              THEN ((37 * bx + 91 * by + k) % 256 + 128) % 256
              ELSE (37 * bx + 91 * by + k) % 256 END AS v
  FROM imgs JOIN range(8) tb(bx) ON TRUE JOIN range(8) tc(by) ON TRUE),
tot AS (SELECT media_id, SUM(v) AS total FROM cells GROUP BY media_id),
hv AS (
  SELECT c.media_id,
         CAST(SUM(CASE WHEN v * 64 > total AND cell < 32
                       THEN (1::BIGINT << cell) ELSE 0 END) AS BIGINT)
           AS h1,
         CAST(SUM(CASE WHEN v * 64 > total AND cell >= 32
                       THEN (1::BIGINT << (cell - 32)) ELSE 0 END) AS BIGINT)
           AS h2
  FROM cells c JOIN tot USING (media_id) GROUP BY c.media_id),
banded AS (
  SELECT media_id, h1, h2, band,
         CASE WHEN band < 4
              THEN (h1 // (1::BIGINT << (8 * band))) % 256
              ELSE (h2 // (1::BIGINT << (8 * (band - 4)))) % 256
         END AS key
  FROM hv JOIN range(8) tb(band) ON TRUE),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS hamming
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key
              AND a.media_id < b.media_id)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= 7"""


@register(
    "dedup_image_ahash_pairs",
    _IMG_AHASH_ORACLE,
    "IMAGE near-dup end-to-end (the multimodal twin of "
    "dedup_simhash_pairs, with the DECODE in the certified path): "
    "per-key original + one-block-perturbed BMPs are decoded and "
    "pooled to an 8x8 gray grid, average-hashed into two int64 "
    "halves (integer mean compare, no floats), banded 8x8-bit for "
    "the candidate join (pigeonhole-complete at Hamming<=7), "
    "Hamming-verified with bit_count(xor) "
    "row-locally.  One scan, one (band,key,id) shuffle — never "
    "all-pairs (operators/imagehash.py)",
)
def dedup_image_ahash_pairs_query(spark, sf_dir):
    from .operators.imagehash import ahash_near_dup_pairs, image_ahash
    from .operators.multimodal import encode_bmp

    (orders,) = _t(spark, sf_dir, "orders")
    meta = (
        orders.filter(F.col("o_orderkey") % 301 == 0)
        .select(F.col("o_orderkey").alias("k"))
        .withColumn("var", F.explode(F.array(F.lit(0), F.lit(1))))
        .select("k", "var", (F.col("k") * 2 + F.col("var")).alias("media_id"))
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, var in zip(pdf["k"], pdf["var"]):
                k, var = int(k), int(var)

                def pix(x, y, k=k, var=var):
                    bx, by = x // 8, y // 8
                    v = (37 * bx + 91 * by + k) % 256
                    if var == 1 and bx == 0 and by == 0:
                        v = (v + 128) % 256
                    return (v, v, v)

                payloads.append(encode_bmp(64, 64, pix))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    pairs = ahash_near_dup_pairs(image_ahash(media), max_hamming=7)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# AUDIO near-dup, certified end-to-end: the audio twin of
# dedup_image_ahash_pairs — decode → 64-window energy profile →
# aHash → 8×8-bit bands → Hamming verify (operators/audiohash.py
# reusing the imagehash machinery: a 64-cell integer grid is a
# 64-cell integer grid whatever the modality).  Fixtures: per key, an
# original clip and a one-window-replaced variant; energies are
# integer |sample| sums, so the oracle replays windows, bits, bands
# and distances exactly.
# ---------------------------------------------------------------------------

_AUDIO_AHASH_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 301 = 0),
clips AS (
  SELECT k, var, k * 2 + var AS media_id
  FROM m JOIN range(2) tv(var) ON TRUE),
w AS (
  SELECT media_id, i // 10 AS win,
         CASE WHEN var = 1 AND i < 10 THEN 3000
              ELSE abs(((i * 37 + k) % 4001) - 2000) END AS e
  FROM clips JOIN range(640) ti(i) ON TRUE),
cells AS (
  SELECT media_id, win, SUM(e) AS energy
  FROM w GROUP BY media_id, win),
tot AS (SELECT media_id, SUM(energy) AS total FROM cells GROUP BY media_id),
hv AS (
  SELECT c.media_id,
         CAST(SUM(CASE WHEN energy * 64 > total AND win < 32
                       THEN (1::BIGINT << win) ELSE 0 END) AS BIGINT) AS h1,
         CAST(SUM(CASE WHEN energy * 64 > total AND win >= 32
                       THEN (1::BIGINT << (win - 32)) ELSE 0 END) AS BIGINT)
           AS h2
  FROM cells c JOIN tot USING (media_id) GROUP BY c.media_id),
banded AS (
  SELECT media_id, h1, h2, band,
         CASE WHEN band < 4
              THEN (h1 // (1::BIGINT << (8 * band))) % 256
              ELSE (h2 // (1::BIGINT << (8 * (band - 4)))) % 256
         END AS key
  FROM hv JOIN range(8) tb(band) ON TRUE),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS hamming
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key
              AND a.media_id < b.media_id)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= 7"""


@register(
    "dedup_audio_ahash_pairs",
    _AUDIO_AHASH_ORACLE,
    "AUDIO near-dup end-to-end (the audio twin of "
    "dedup_image_ahash_pairs): per-key original + one-window-"
    "replaced PCM WAV clips decode to a 64-window integer energy "
    "profile, average-hash into two int64 halves, band 8x8-bit "
    "(pigeonhole-complete at Hamming<=7) and verify with "
    "bit_count(xor).  One scan, one (band,key,id) shuffle "
    "(operators/audiohash.py, reusing the imagehash machinery)",
)
def dedup_audio_ahash_pairs_query(spark, sf_dir):
    from .operators.audiohash import audio_ahash
    from .operators.imagehash import ahash_near_dup_pairs
    from .operators.multimodal import encode_wav

    (orders,) = _t(spark, sf_dir, "orders")
    meta = (
        orders.filter(F.col("o_orderkey") % 301 == 0)
        .select(F.col("o_orderkey").alias("k"))
        .withColumn("var", F.explode(F.array(F.lit(0), F.lit(1))))
        .select("k", "var", (F.col("k") * 2 + F.col("var")).alias("media_id"))
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, var in zip(pdf["k"], pdf["var"]):
                k, var = int(k), int(var)

                def s(i, ch, k=k, var=var):
                    if var == 1 and i < 10:
                        return 3000
                    return ((i * 37 + k) % 4001) - 2000

                payloads.append(encode_wav(s, 640, 8000, 1))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    pairs = ahash_near_dup_pairs(audio_ahash(media), max_hamming=7)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# VIDEO near-dup, certified end-to-end — the third leg of the
# perceptual-dedup triad (image/audio/video): MJPEG clips decode to
# PER-FRAME luma-grid hashes, candidates band-join per (frame, band),
# and a clip pair is a near-dup when most frame indices match within
# Hamming 7.  32×32 frames with flat 8×8 blocks keep every pooled
# cell (4×4 px, 2×2 cells per block) analytic in SQL.
# ---------------------------------------------------------------------------

_VIDEO_CLIP_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 301 = 0),
clips AS (
  SELECT k, var, k * 2 + var AS media_id
  FROM m JOIN range(2) tv(var) ON TRUE),
cells AS (
  SELECT media_id, f, gy * 8 + gx AS cell,
         CASE WHEN var = 1 AND f = 1 AND gx < 2 AND gy < 2
              THEN ((37 * (gx // 2) + 91 * (gy // 2) + 13 * f + k) % 256
                    + 128) % 256
              ELSE (37 * (gx // 2) + 91 * (gy // 2) + 13 * f + k) % 256
         END AS v
  FROM clips
  JOIN range(3) tf(f) ON TRUE
  JOIN range(8) tx(gx) ON TRUE
  JOIN range(8) ty(gy) ON TRUE
  WHERE f % 2 = 0),
tot AS (
  SELECT media_id, f, SUM(v) AS total
  FROM cells GROUP BY media_id, f),
hv AS (
  SELECT c.media_id, c.f,
         CAST(SUM(CASE WHEN v * 64 > total AND cell < 32
                       THEN (1::BIGINT << cell) ELSE 0 END) AS BIGINT) AS h1,
         CAST(SUM(CASE WHEN v * 64 > total AND cell >= 32
                       THEN (1::BIGINT << (cell - 32)) ELSE 0 END) AS BIGINT)
           AS h2
  FROM cells c JOIN tot ON c.media_id = tot.media_id AND c.f = tot.f
  GROUP BY c.media_id, c.f),
banded AS (
  SELECT media_id, f, h1, h2, band,
         CASE WHEN band < 4
              THEN (h1 // (1::BIGINT << (8 * band))) % 256
              ELSE (h2 // (1::BIGINT << (8 * (band - 4)))) % 256
         END AS key
  FROM hv JOIN range(8) tb(band) ON TRUE),
frame_matches AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.f,
         bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS hamming
  FROM banded a
  JOIN banded b ON a.f = b.f AND a.band = b.band AND a.key = b.key
              AND a.media_id < b.media_id)
SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_frames_matched
FROM frame_matches WHERE hamming <= 7
GROUP BY id_a, id_b HAVING COUNT(*) >= 2"""


@register(
    "dedup_video_clip_pairs",
    _VIDEO_CLIP_ORACLE,
    "VIDEO near-dup end-to-end (third leg of the perceptual triad): "
    "MJPEG clips decode SAMPLED frames only (frame_stride=2 — the "
    "frame_sample_plan discipline in the kernel, cost ∝ sampled "
    "frames not clip length) to pooled-luma aHashes, candidates "
    "band-join per (frame_no, band) — the shuffle carries "
    "(frame, band, key, id), never clip x clip — frame pairs "
    "Hamming-verify row-locally, and clip pairs keep >=2 sampled "
    "matching frame indices "
    "(operators/video.py::video_clip_frame_hashes/"
    "clip_near_dup_pairs)",
)
def dedup_video_clip_pairs_query(spark, sf_dir):
    from .operators.jpeg import encode_jpeg
    from .operators.video import (
        clip_near_dup_pairs,
        encode_avi_mjpeg,
        video_clip_frame_hashes,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    meta = (
        orders.filter(F.col("o_orderkey") % 301 == 0)
        .select(F.col("o_orderkey").alias("k"))
        .withColumn("var", F.explode(F.array(F.lit(0), F.lit(1))))
        .select("k", "var", (F.col("k") * 2 + F.col("var")).alias("media_id"))
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, var in zip(pdf["k"], pdf["var"]):
                k, var = int(k), int(var)
                frames = []
                for f in range(3):

                    def pix(x, y, f=f, k=k, var=var):
                        bx, by = x // 8, y // 8
                        v = (37 * bx + 91 * by + 13 * f + k) % 256
                        if var == 1 and f == 1 and bx == 0 and by == 0:
                            v = (v + 128) % 256
                        return v

                    frames.append(
                        encode_jpeg(32, 32, pix, quant=1, grayscale=True)
                    )
                payloads.append(encode_avi_mjpeg(frames, 32, 32))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    pairs = clip_near_dup_pairs(
        video_clip_frame_hashes(media, frame_stride=2),
        max_hamming=7,
        min_matching_frames=2,
    )
    return pairs.select(
        "id_a", "id_b",
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
    )


# ---------------------------------------------------------------------------
# REAL GIF decode, certified: the palette-indexed image class closes
# the codec suite (BMP raw, PNG filtered-deflate, JPEG transform,
# GIF LZW-palette).  GIF is lossless, so per-row images with
# formula-driven palettes and indices certify exactly; alternating
# interlaced encoding makes the 4-pass row reorder part of the
# certified path via the position-weighted checksum (sums alone
# cannot see row placement).
# ---------------------------------------------------------------------------

_GIF_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k,
         10 + o_orderkey % 8 AS w,
         6 + o_orderkey % 5 AS h
  FROM orders WHERE o_orderkey % 301 = 0),
px AS (
  SELECT k, w, h, x, y, (x + 2 * y + k) % 16 AS idx
  FROM m
  JOIN range(18) tx(x) ON x < w
  JOIN range(11) ty(y) ON y < h)
SELECT k AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM((idx * 11 + k) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((idx * 29 + k * 2) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((idx * 47 + k * 3) % 256) AS BIGINT) AS sum_b,
       CAST(SUM((y * w + x + 1) * idx) AS BIGINT) AS pos_checksum,
       CAST(NULL AS VARCHAR) AS decode_error
FROM px GROUP BY k, w, h"""


@register(
    "multimodal_gif_decode",
    _GIF_ORACLE,
    "REAL GIF decode end-to-end with no codec libs (operators/gif.py: "
    "dynamic-dictionary LZW to 12-bit codes, global color table, "
    "4-pass interlace, extension-block walk): per-row "
    "palette-indexed images — every other one INTERLACED — decode to "
    "exact channel sums plus a position-weighted checksum that pins "
    "the interlace row reorder; the oracle recomputes everything "
    "from the index/palette formulas over a range() grid "
    "(closes the palette-indexed image class)",
)
def multimodal_gif_decode_query(spark, sf_dir):
    from .operators.gif import decode_gif_stats, encode_gif

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("media_id"),
        (10 + F.col("o_orderkey") % 8).cast("int").alias("w"),
        (6 + F.col("o_orderkey") % 5).cast("int").alias("h"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                k, w, h = int(k), int(w), int(h)
                pal = [
                    ((i * 11 + k) % 256, (i * 29 + k * 2) % 256,
                     (i * 47 + k * 3) % 256)
                    for i in range(16)
                ]
                payloads.append(
                    encode_gif(
                        w, h,
                        lambda x, y, k=k: (x + 2 * y + k) % 16,
                        pal,
                        interlace=(k % 2 == 1),
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    return decode_gif_stats(media)


# ---------------------------------------------------------------------------
# WARC crawl intake, certified end-to-end: the corpus FRONT DOOR —
# CommonCrawl-shaped WARC containers fan out to records executor-side
# (sources/warc.py), HTTP-200 responses keep their bodies, and the
# existing html_strip chain turns them into clean text.  The oracle
# rebuilds the same HTML from the record formulas and applies
# html_strip's DuckDB twin — certifying framing, record fan-out,
# status filtering AND boilerplate removal in one pipeline.
# ---------------------------------------------------------------------------


def _warc_oracle() -> str:
    from .operators.text import html_strip_sql

    html = (
        "'<html><head><title>T</title><style>p{m}</style></head>"
        "<body><h1>Site ' || CAST(k % 7 AS VARCHAR) || "
        "'</h1><p>doc ' || CAST(k AS VARCHAR) || ' rec ' || "
        "CAST(i AS VARCHAR) || ' alpha &amp; beta</p><!-- footer -->"
        "</body></html>'"
    )
    return f"""WITH m AS (
  SELECT o_orderkey AS k, 1 + o_orderkey % 3 AS nf
  FROM orders WHERE o_orderkey % 301 = 0),
r AS (
  SELECT k, i, {html} AS h
  FROM m JOIN range(3) t(i) ON i < nf
  WHERE i <> 1)
SELECT k AS warc_id,
       CAST(i + 1 AS BIGINT) AS record_no,
       'http://site' || CAST(k % 7 AS VARCHAR) || '.example/p/'
         || CAST(i AS VARCHAR) AS target_uri,
       {html_strip_sql('h')} AS clean_text
FROM r"""


@register(
    "corpus_warc_extract",
    _warc_oracle(),
    "WARC crawl intake end-to-end (sources/warc.py): per-row WARC/1.0 "
    "containers (warcinfo + responses + request) fan out to records "
    "in an Arrow stage, HTTP-200 responses keep their bodies (a 404 "
    "response and the non-HTTP records drop), and html_strip turns "
    "them into clean text.  The oracle rebuilds the HTML from the "
    "record formulas and applies html_strip's DuckDB twin — framing, "
    "fan-out, status filter and boilerplate removal certified as ONE "
    "pipeline.  Containers are the parallelism unit (one ~1 GB WARC "
    "per task at CommonCrawl scale); fan-out is executor-side",
)
def corpus_warc_extract_query(spark, sf_dir):
    from .operators.text import html_strip
    from .sources.warc import encode_warc, warc_records

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("warc_id"),
        (1 + F.col("o_orderkey") % 3).cast("int").alias("nf"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, nf in zip(pdf["warc_id"], pdf["nf"]):
                k, nf = int(k), int(nf)
                recs = [{"warc_type": "warcinfo", "body": b"software: x"}]
                for i in range(nf):
                    body = (
                        "<html><head><title>T</title><style>p{m}</style>"
                        f"</head><body><h1>Site {k % 7}</h1><p>doc {k} "
                        f"rec {i} alpha &amp; beta</p><!-- footer -->"
                        "</body></html>"
                    ).encode()
                    recs.append(
                        {
                            "warc_type": "response",
                            "target_uri": f"http://site{k % 7}.example/p/{i}",
                            "http_body": body,
                            "http_status": 404 if i == 1 else 200,
                        }
                    )
                recs.append(
                    {
                        "warc_type": "request",
                        "target_uri": f"http://site{k % 7}.example/p/0",
                        "body": b"GET /p/0 HTTP/1.1",
                    }
                )
                payloads.append(encode_warc(recs))
            yield pd.DataFrame(
                {"warc_id": pdf["warc_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "warc_id long, payload binary")
    recs = warc_records(media)
    return recs.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    ).select(
        "warc_id",
        "record_no",
        "target_uri",
        html_strip(F.decode(F.col("body"), "UTF-8")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Bundle intake, certified: tar archives of small documents fan out
# to one row per member executor-side (sources/warc.py::tar_members,
# stdlib tarfile over the payload bytes) — the other common corpus
# delivery shape next to WARC.  Lossless pass-through, so names,
# sizes and contents certify against the generating formulas.
# ---------------------------------------------------------------------------

_TAR_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k, 2 + o_orderkey % 3 AS nm
  FROM orders WHERE o_orderkey % 301 = 0)
SELECT k AS archive_id,
       'docs/doc_' || CAST(i AS VARCHAR) || '.txt' AS member_name,
       CAST(length('content ' || CAST(k AS VARCHAR) || ' #'
                   || CAST(i AS VARCHAR)) AS BIGINT) AS member_bytes,
       'content ' || CAST(k AS VARCHAR) || ' #' || CAST(i AS VARCHAR)
         AS text
FROM m JOIN range(5) t(i) ON i < nm"""


@register(
    "corpus_tar_extract",
    _TAR_ORACLE,
    "bundle intake (sources/warc.py::tar_members): per-row tar "
    "archives of small documents fan out to one row per regular-file "
    "member in an Arrow stage — names, sizes and contents certify "
    "against the generating formulas (lossless pass-through).  "
    "Bundles are the parallelism unit; member fan-out never touches "
    "the driver",
)
def corpus_tar_extract_query(spark, sf_dir):
    from .sources.warc import tar_members

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 301 == 0).select(
        F.col("o_orderkey").alias("archive_id"),
        (2 + F.col("o_orderkey") % 3).cast("int").alias("nm"),
    )

    def synth(batches):
        import io
        import tarfile

        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, nm in zip(pdf["archive_id"], pdf["nm"]):
                k, nm = int(k), int(nm)
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w") as tf:
                    for i in range(nm):
                        data = f"content {k} #{i}".encode()
                        info = tarfile.TarInfo(f"docs/doc_{i}.txt")
                        info.size = len(data)
                        tf.addfile(info, io.BytesIO(data))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {"archive_id": pdf["archive_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "archive_id long, payload binary")
    return tar_members(media).select(
        "archive_id",
        "member_name",
        "member_bytes",
        F.decode(F.col("body"), "UTF-8").alias("text"),
    )


# ---------------------------------------------------------------------------
# REAL BAM stats, certified: the reference greps reads/bases/average
# length/coverage out of `samtools stats`/`samtools coverage` text per
# BAM (src/sra_metadata.py:30-90, pysam).  Here the same four stats
# come from the bytes: per-row synthetic BAMs (real BGZF blocks — raw
# DEFLATE + CRC32 footers — wrapping real SAM-spec alignment records)
# are decoded by the stdlib kernel in sources/bam.py; read counts,
# flags and lengths follow closed-form rules, so the oracle recomputes
# every statistic from a range() read grid.
# ---------------------------------------------------------------------------

_BAM_ORACLE = """WITH m AS (
  SELECT o_orderkey AS k,
         2 + o_orderkey % 4 AS nr,
         1000 + (o_orderkey % 7) * 100 AS reflen
  FROM orders WHERE o_orderkey % 401 = 0),
r AS (
  SELECT k, nr, reflen, i,
         50 + ((k + i) % 5) * 10 AS len,
         CASE WHEN (k + i) % 3 = 0 THEN 1 ELSE 0 END AS unm,
         CASE WHEN (k + i) % 7 = 0 THEN 1 ELSE 0 END AS dup
  FROM m JOIN range(6) t(i) ON i < nr)
SELECT k AS file_id,
       CAST(nr AS BIGINT) AS n_reads,
       CAST(SUM(1 - unm) AS BIGINT) AS n_mapped,
       CAST(SUM(dup) AS BIGINT) AS n_duplicates,
       CAST(SUM(len) AS BIGINT) AS total_bases,
       CAST(SUM(len) * 1000 // nr AS BIGINT) AS avg_read_len_milli,
       CAST(reflen AS BIGINT) AS total_ref_len,
       CAST(SUM((1 - unm) * len) * 1000 // reflen AS BIGINT)
         AS coverage_milli,
       CAST(NULL AS VARCHAR) AS decode_error
FROM r GROUP BY k, nr, reflen"""


@register(
    "bam_stats_extract",
    _BAM_ORACLE,
    "REAL BAM statistics end-to-end with no pysam (BGZF is gzip "
    "members + CRC32 footers; BAM records are fixed-layout structs — "
    "all stdlib): per-row synthetic BAMs with rule-driven read "
    "lengths/flags are BGZF-compressed, then the sources/bam.py "
    "kernel re-inflates, CRC-checks, walks the reference dictionary "
    "and per-record flag/l_seq fields, and emits reads, mapped, "
    "duplicates, bases, milli-average length and milli mean coverage "
    "(mapped bases over reference length — samtools coverage's "
    "meandepth); the oracle recomputes every stat from the same rules "
    "over a range() grid (src/sra_metadata.py:30-90 parity)",
)
def bam_stats_extract_query(spark, sf_dir):
    from .sources.bam import bam_stats, encode_bam

    (orders,) = _t(spark, sf_dir, "orders")
    meta = orders.filter(F.col("o_orderkey") % 401 == 0).select(
        F.col("o_orderkey").alias("file_id"),
        (2 + F.col("o_orderkey") % 4).cast("int").alias("nr"),
        (1000 + (F.col("o_orderkey") % 7) * 100).cast("int").alias("reflen"),
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, nr, reflen in zip(pdf["file_id"], pdf["nr"], pdf["reflen"]):
                k, nr = int(k), int(nr)
                reads = []
                for i in range(nr):
                    ln = 50 + ((k + i) % 5) * 10
                    flag = (4 if (k + i) % 3 == 0 else 0) | (
                        0x400 if (k + i) % 7 == 0 else 0
                    )
                    reads.append(
                        {
                            "name": f"read-{k}-{i}",
                            "seq": ("ACGT" * ln)[:ln],
                            "flag": flag,
                        }
                    )
                payloads.append(encode_bam([("chr1", int(reflen))], reads))
            yield pd.DataFrame(
                {"file_id": pdf["file_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "file_id long, payload binary")
    return bam_stats(media)


# ---------------------------------------------------------------------------
# MAD (median-absolute-deviation) outliers — the fully robust outlier
# screen (median and MAD have 50% breakdown points; mean/stddev have
# 0%).  Two grouped-weighted-median passes (weight 1), each via the
# histogram-pruned declarative machinery — no per-group single-task
# sort at any step.
# ---------------------------------------------------------------------------

_MAD_ORACLE = """WITH base AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price FROM lineitem),
cum1 AS (
  SELECT flag, price,
         SUM(CAST(1 AS DECIMAL(18,4)))
           OVER (PARTITION BY flag ORDER BY price) AS cw,
         SUM(CAST(1 AS DECIMAL(18,4))) OVER (PARTITION BY flag) AS t
  FROM base),
med AS (
  SELECT flag, MIN(price) AS m FROM cum1 WHERE 2 * cw >= t GROUP BY flag),
dev AS (
  SELECT b.flag, b.price, abs(b.price - med.m) AS d, med.m
  FROM base b JOIN med USING (flag)),
cum2 AS (
  SELECT flag, d,
         SUM(CAST(1 AS DECIMAL(18,4)))
           OVER (PARTITION BY flag ORDER BY d) AS cw,
         SUM(CAST(1 AS DECIMAL(18,4))) OVER (PARTITION BY flag) AS t
  FROM dev),
mad AS (
  SELECT flag, MIN(d) AS mad FROM cum2 WHERE 2 * cw >= t GROUP BY flag)
SELECT dev.flag AS l_returnflag,
       ROUND(MIN(dev.m), 2) AS median_price,
       ROUND(MIN(mad.mad), 2) AS mad_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN dev.d > 3 * mad.mad THEN 1 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad USING (flag)
GROUP BY dev.flag"""


@register(
    "lineitem_mad_outliers",
    _MAD_ORACLE,
    "MAD outlier screen: per-group exact median, then exact median of "
    "absolute deviations, then |x−med| > 3·MAD counts — both medians "
    "via the histogram-pruned grouped machinery (no per-group "
    "single-task sort; the oracle's direct windows are the "
    "serialized formulation).  50%-breakdown robustness vs the 0% of "
    "z-scores",
)
def lineitem_mad_outliers_query(spark, sf_dir):
    from .operators.quantiles import grouped_weighted_median

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    # base and dev each feed a grouped_weighted_median pass AND the
    # final aggregation; localCheckpoint so the fact table is scanned
    # once, not once per downstream reference (round-5 plan audit:
    # 49 scans without, ~6 with — hashes unchanged).
    base = lineitem.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.lit(1.0).alias("one"),
    ).localCheckpoint()
    med = grouped_weighted_median(base, "flag", "price", "one").select(
        "flag", F.col("weighted_median").alias("m")
    )
    dev = base.join(F.broadcast(med), "flag").select(
        "flag", "price", "m", F.abs(F.col("price") - F.col("m")).alias("d"),
        F.lit(1.0).alias("one"),
    ).localCheckpoint()
    mad = grouped_weighted_median(dev, "flag", "d", "one").select(
        "flag", F.col("weighted_median").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "flag")
        .groupBy("flag")
        .agg(
            F.round(F.min("m"), 2).alias("median_price"),
            F.round(F.min("mad"), 2).alias("mad_price"),
            F.count("*").alias("n_rows"),
            F.count(
                F.when(F.col("d") > 3 * F.col("mad"), True)
            ).alias("n_outliers"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "median_price",
            "mad_price",
            "n_rows",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# SQL surface demo: ONE shared ANSI-SQL text runs verbatim through
# spark.sql over the registered catalog views AND as the DuckDB
# oracle — the engine's second query interface, certified by
# construction.
# ---------------------------------------------------------------------------

# Engine-robust shared text: ROUND before the bigint cast (Spark casts
# double→bigint by truncation, DuckDB by rounding — ROUND makes the
# intermediate integer-valued so both agree), and the rank order is
# TOTAL (o_orderkey tiebreak) so the top-100 membership is identical.
_SHARED_SQL = """WITH seg AS (
  SELECT c_mktsegment AS segment, o_orderkey AS okey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM customer JOIN orders ON o_custkey = c_custkey),
ranked AS (
  SELECT segment, cents,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY cents DESC, okey) AS rn,
         COUNT(*) OVER (PARTITION BY segment) AS seg_n
  FROM seg)
SELECT segment,
       CAST(MAX(seg_n) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_top,
       CAST(SUM(cents) AS BIGINT) AS top_cents
FROM ranked WHERE rn <= 100
GROUP BY segment"""


@register(
    "sql_interface_top_orders",
    _SHARED_SQL,
    "the SQL front door, certified by construction: ONE shared ANSI "
    "CTE+window query text executes verbatim via spark.sql over the "
    "registered catalog views AND as the DuckDB oracle — every view "
    "the catalog registers is queryable through plain SQL with no "
    "engine-specific rewrites",
)
def sql_interface_top_orders_query(spark, sf_dir):
    load_testdata(
        spark, sf_dir, tables=("customer", "orders"), register_views=True
    )
    return spark.sql(_SHARED_SQL)


_SKEW_ORACLE = """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events),
c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events
  GROUP BY user_id)
SELECT user_id, n_rows,
       CAST(n_rows * 1000000 // total AS BIGINT) AS share_micro
FROM c CROSS JOIN t
WHERE n_rows * 1000 >= total
ORDER BY n_rows DESC, user_id LIMIT 50"""


@register(
    "diagnostics_skew_keys",
    _SKEW_ORACLE,
    "join-key skew diagnosis (the input to salted_join's salting "
    "decision, operators/skew.py): keys carrying >=0.1% of the table, "
    "integer-micro shares, full tie-breaks — one aggregation pass; at "
    "100 TB run it on a sample (heavy hitters survive sampling by "
    "definition)",
)
def diagnostics_skew_keys_query(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    total = events.count()
    c = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        c.filter(F.col("n_rows") * 1000 >= total)
        .withColumn("__num__", F.col("n_rows") * F.lit(1000000).cast("long"))
        .withColumn(
            "share_micro", F.expr(f"__num__ div {total}").cast("long")
        )
        .drop("__num__")
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Content-safety blocklist screen with obfuscation folding: leet-speak
# characters fold to letters (translate — one row-local pass), then
# word-boundary regex counts per blocklist term.  The safety-filter
# step of a curation pipeline, deterministic and cross-engine (RE2 and
# java regex agree on \b for ASCII).
# ---------------------------------------------------------------------------

_BLOCK_TERMS = ("spam", "scam", "fraud", "fake", "stream")

_BLOCKLIST_ORACLE = r"""WITH folded AS (
  SELECT doc_id,
         translate(lower(text), '013457@$', 'oleastas') AS t
  FROM documents),
hits AS (
  SELECT doc_id,
""" + ",\n".join(
    f"         CAST(len(regexp_extract_all(t, '\\b{term}\\b')) AS BIGINT)"
    f" AS h_{term}"
    for term in _BLOCK_TERMS
) + r"""
  FROM folded)
SELECT doc_id,
       """ + " + ".join(f"h_{t}" for t in _BLOCK_TERMS) + r""" AS n_hits,
       concat_ws(';', """ + ", ".join(
    f"CASE WHEN h_{t} > 0 THEN '{t}' END" for t in _BLOCK_TERMS
) + r""") AS matched_terms,
       (""" + " + ".join(f"h_{t}" for t in _BLOCK_TERMS) + r""") > 0 AS flagged
FROM hits"""


@register(
    "text_blocklist_screen",
    _BLOCKLIST_ORACLE,
    "content-safety blocklist screen: leet-speak obfuscation folds via "
    "one translate pass (0→o, 1→l, 3→e, 4→a, 5→s, 7→t, @→a, $→s), then "
    "word-boundary regex counts per term — per-doc hit totals, matched "
    "term list, and the keep/flag decision; all row-local, one scan",
)
def text_blocklist_screen_query(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    folded = F.translate(F.lower(F.col("text")), "013457@$", "oleastas")
    staged = documents.select("doc_id", folded.alias("t"))
    hit_cols = [
        F.size(F.regexp_extract_all(F.col("t"), F.lit(rf"\b{term}\b"), 0))
        .cast("long")
        .alias(f"h_{term}")
        for term in _BLOCK_TERMS
    ]
    h = staged.select("doc_id", *hit_cols)
    total = None
    for term in _BLOCK_TERMS:
        c = F.col(f"h_{term}")
        total = c if total is None else total + c
    matched = F.concat_ws(
        ";",
        *[
            F.when(F.col(f"h_{t}") > 0, F.lit(t))
            for t in _BLOCK_TERMS
        ],
    )
    return h.select(
        "doc_id",
        total.alias("n_hits"),
        matched.alias("matched_terms"),
        (total > 0).alias("flagged"),
    )


_TRUNC_ORACLE = r"""WITH t AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN n > 128 THEN n - 128 ELSE 0 END) AS BIGINT)
         AS truncated_tokens,
       CAST(COUNT(CASE WHEN n > 128 THEN 1 END) AS BIGINT)
         AS n_docs_truncated
FROM t GROUP BY source"""


@register(
    "corpus_truncation_loss",
    _TRUNC_ORACLE,
    "context-length planning: per source, how many tokens a max_len "
    "cutoff of 128 would discard and how many docs it touches — the "
    "metric that decides sequence length vs the chunking pipeline "
    "(corpus_chunk_sliding is the no-loss alternative); one "
    "map-side-combined aggregation",
)
def corpus_truncation_loss_query(spark, sf_dir):
    from .operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        "source", token_count("text").cast("long").alias("n")
    )
    over = F.when(F.col("n") > 128, F.col("n") - 128).otherwise(0)
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum(over).alias("truncated_tokens"),
        F.count(F.when(F.col("n") > 128, True)).alias("n_docs_truncated"),
    )


# ---------------------------------------------------------------------------
# The end-to-end training-data manifest: one frame per document with
# every curation decision — language, token budget, safety flag,
# dup-cluster canonicality, leakage-safe split, and the final keep
# verdict.  Both sides COMPOSE already-certified pieces: the Spark
# side joins the registered queries' own DataFrames; the oracle embeds
# the same queries' oracle SQL as CTEs.  This is the query a user of
# the engine actually ships.
# ---------------------------------------------------------------------------


def _manifest_oracle() -> str:
    lang = REGISTRY["text_lang_id"].oracle
    blk = REGISTRY["text_blocklist_screen"].oracle
    spl = REGISTRY["corpus_split_leakage_safe"].oracle
    return rf"""WITH lang AS ({lang}),
blk AS ({blk}),
spl AS ({spl}),
toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT t.doc_id, t.source, l.lang_pred, t.n_tokens,
       b.flagged, s.cluster_id,
       (s.cluster_id = t.doc_id) AS is_canonical,
       s.split,
       (t.n_tokens BETWEEN 5 AND 5000
        AND NOT b.flagged
        AND s.cluster_id = t.doc_id) AS keep
FROM toks t
JOIN lang l ON l.doc_id = t.doc_id
JOIN blk b ON b.doc_id = t.doc_id
JOIN spl s ON s.doc_id = t.doc_id"""


@register(
    "corpus_training_manifest",
    _manifest_oracle(),
    "THE end-to-end curation deliverable: per document — predicted "
    "language, token count, safety flag, dup-cluster id and "
    "canonicality, leakage-safe split, and the final keep verdict — "
    "composed by JOINING the registered certified queries (Spark side) "
    "while the oracle embeds the same queries' oracle SQL as CTEs: "
    "certified pieces compose into a certified pipeline",
)
def corpus_training_manifest_query(spark, sf_dir):
    from .operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    lang = REGISTRY["text_lang_id"].fn(spark, sf_dir).select(
        "doc_id", "lang_pred"
    )
    blk = REGISTRY["text_blocklist_screen"].fn(spark, sf_dir).select(
        "doc_id", "flagged"
    )
    spl = REGISTRY["corpus_split_leakage_safe"].fn(spark, sf_dir)
    keep = (
        F.col("n_tokens").between(5, 5000)
        & ~F.col("flagged")
        & (F.col("cluster_id") == F.col("doc_id"))
    )
    return (
        toks.join(lang, "doc_id")
        .join(blk, "doc_id")
        .join(spl, "doc_id")
        .select(
            "doc_id",
            "source",
            "lang_pred",
            "n_tokens",
            "flagged",
            "cluster_id",
            (F.col("cluster_id") == F.col("doc_id")).alias("is_canonical"),
            "split",
            keep.alias("keep"),
        )
    )


_MRR_ORACLE = """WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qnrm
      FROM n WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, q.qlabel, n.vec_id, n.label,
         ROUND(list_inner_product(n.v, q.qv) / (n.nrm * q.qnrm), 6)
           AS sim
  FROM q JOIN n ON n.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, qlabel, label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rnk
  FROM scored),
firsts AS (
  SELECT query_id, MIN(rnk) AS first_rel
  FROM ranked WHERE label = qlabel GROUP BY query_id),
per_q AS (
  SELECT q.query_id,
         coalesce(f.first_rel, 0) AS first_rel,
         CASE WHEN f.first_rel IS NOT NULL AND f.first_rel <= 10
              THEN 1 ELSE 0 END AS hit10
  FROM q LEFT JOIN firsts f USING (query_id))
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN first_rel > 0
                     THEN 1000000 // first_rel ELSE 0 END)
            // COUNT(*) AS BIGINT) AS mrr_micro,
       CAST(SUM(hit10) * 1000000 // COUNT(*) AS BIGINT) AS recall10_micro
FROM per_q"""


@register(
    "eval_retrieval_mrr",
    _MRR_ORACLE,
    "retrieval evaluation in-engine: MRR and recall@10 of exact-cosine "
    "ranking against same-label relevance — reciprocal ranks as "
    "integer micro-units (1e6 // rank) so the mean is "
    "order-independent; 20 queries broadcast, one corpus scan, "
    "per-query rank windows.  The eval loop for embedding-space "
    "quality, next to the ANN recall pins",
)
def eval_retrieval_mrr_query(spark, sf_dir):
    from .operators.similarity import cosine

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    n = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = n.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    # scored feeds the best-relevant agg AND the predecessor count —
    # checkpoint the narrow (ids/labels/sim) frame so the 20-query
    # cosine scoring pass runs once, not twice.
    scored = n.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"),
    ).localCheckpoint()
    # no per-query window (20 partitions would rank the WHOLE corpus
    # through 20 tasks): the first relevant rank is 1 + the number of
    # items ordered before the BEST relevant item — two aggregations,
    # both map-side combinable
    best_rel = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("vec_id")).alias("nv")))
            .alias("b")
        )
        .select(
            "query_id",
            F.col("b.sim").alias("bsim"),
            (-F.col("b.nv")).alias("bvec"),
        )
    )
    preds = (
        scored.join(F.broadcast(best_rel), "query_id")
        .filter(
            (F.col("sim") > F.col("bsim"))
            | ((F.col("sim") == F.col("bsim")) & (F.col("vec_id") < F.col("bvec")))
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_before"))
    )
    # LEFT join from best_rel: a best-relevant with zero predecessors
    # is rank 1 and has no preds row at all
    firsts = best_rel.join(preds, "query_id", "left").select(
        "query_id",
        (F.coalesce("n_before", F.lit(0)) + 1).alias("first_rel"),
    )
    per_q = q.select("query_id").join(firsts, "query_id", "left").select(
        F.coalesce("first_rel", F.lit(0)).alias("first_rel"),
        F.when(
            F.col("first_rel").isNotNull() & (F.col("first_rel") <= 10), 1
        )
        .otherwise(0)
        .alias("hit10"),
    )
    rr = F.when(
        F.col("first_rel") > 0,
        F.expr("1000000 div first_rel"),
    ).otherwise(F.lit(0))
    agg = per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum(rr).alias("sum_rr"),
        F.sum("hit10").alias("sum_hit"),
    )
    return agg.select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.expr("sum_rr div n_queries").cast("long").alias("mrr_micro"),
        F.expr("(sum_hit * 1000000) div n_queries")
        .cast("long")
        .alias("recall10_micro"),
    )


_LTV_ORACLE = """WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, value FROM events),
firsts AS (
  SELECT user_id, MIN(us) AS first_us FROM ev GROUP BY user_id),
cohorted AS (
  SELECT e.user_id,
         CAST(f.first_us // 86400000000 AS BIGINT) AS cohort_day,
         CAST((e.us - f.first_us) // 604800000000 AS BIGINT) AS week_offset,
         CAST(ROUND(e.value * 100) AS BIGINT) AS cents
  FROM ev e JOIN firsts f USING (user_id)
  WHERE e.event_type = 'purchase'),
wk AS (
  SELECT cohort_day, week_offset,
         CAST(SUM(cents) AS BIGINT) AS revenue_cents,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS buyers
  FROM cohorted GROUP BY cohort_day, week_offset),
cum AS (
  SELECT cohort_day, week_offset, revenue_cents, buyers,
         CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_day
                                       ORDER BY week_offset) AS BIGINT)
           AS cum_revenue_cents
  FROM wk)
SELECT * FROM cum"""


@register(
    "events_ltv_cohorts",
    _LTV_ORACLE,
    "lifetime-value cohort curves: users cohorted by first-seen day, "
    "purchase revenue accumulated per cohort week — integer cents "
    "end-to-end, and the cumulative window runs over the tiny "
    "(cohort, week) grid, never the event stream",
)
def events_ltv_cohorts_query(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    ev = events.select(
        "user_id", us.alias("us"), "event_type", "value"
    )
    firsts = ev.groupBy("user_id").agg(F.min("us").alias("first_us"))
    cohorted = (
        ev.join(firsts, "user_id")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("first_us div 86400000000").cast("long").alias("cohort_day"),
            F.expr("(us - first_us) div 604800000000")
            .cast("long")
            .alias("week_offset"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    wk = cohorted.groupBy("cohort_day", "week_offset").agg(
        F.sum("cents").alias("revenue_cents"),
        F.countDistinct("user_id").alias("buyers"),
    )
    w = Window.partitionBy("cohort_day").orderBy("week_offset")
    return wk.select(
        "cohort_day",
        "week_offset",
        "revenue_cents",
        "buyers",
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    )


_READABILITY_ORACLE = r"""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(lower(trim(text)),
                                     '\.|!|\?')) AS BIGINT) AS n_sents,
         CAST(len(regexp_extract_all(lower(trim(text)), '[aeiouy]+'))
              AS BIGINT) AS n_syll
  FROM documents)
SELECT doc_id, n_words, GREATEST(n_sents, 1) AS n_sents, n_syll,
       CAST(206835 - 1015 * (n_words * 1000 // GREATEST(n_sents, 1)) // 1000
                   - 84600 * (n_syll * 1000 // GREATEST(n_words, 1)) // 1000
            AS BIGINT) AS flesch_milli
FROM t"""


@register(
    "text_readability_flesch",
    _READABILITY_ORACLE,
    "Flesch reading-ease per document with vowel-run syllable "
    "estimation — the classic readability screen, computed entirely in "
    "scaled integers (milli-units, integral division) so the score is "
    "order-independent and hash-certified; row-local, one scan",
)
def text_readability_flesch_query(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    low = F.lower(F.trim(F.col("text")))
    n_words = F.size(F.regexp_extract_all(low, F.lit(r"[a-z]+"), 0)).cast("long")
    n_sents = F.size(F.regexp_extract_all(low, F.lit(r"\.|!|\?"), 0)).cast("long")
    n_syll = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), 0)).cast("long")
    t = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.greatest(n_sents, F.lit(1)).alias("n_sents"),
        n_syll.alias("n_syll"),
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        F.expr(
            "206835"
            " - (1015 * ((n_words * 1000) div n_sents)) div 1000"
            " - (84600 * ((n_syll * 1000) div greatest(n_words, 1))) div 1000"
        )
        .cast("long")
        .alias("flesch_milli"),
    )


_WOW_ORACLE = """WITH wk AS (
  SELECT CAST(epoch_us(o_orderdate) // 604800000000 AS BIGINT) AS week,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1),
lagged AS (
  SELECT week, revenue_cents, n_orders,
         LAG(revenue_cents) OVER (ORDER BY week) AS prev_cents
  FROM wk)
SELECT week, revenue_cents, n_orders,
       CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0
            THEN CAST((revenue_cents - prev_cents) * 1000000 // prev_cents
                      AS BIGINT)
       END AS wow_growth_micro
FROM lagged"""


@register(
    "orders_wow_growth",
    _WOW_ORACLE,
    "week-over-week revenue growth: the stream aggregates to the "
    "weekly grid first (integer cents, map-side combinable), then lag "
    "and the growth ratio run over that tiny frame — integral-division "
    "micros, the dashboard time-series primitive",
)
def orders_wow_growth_query(spark, sf_dir):
    from pyspark.sql import Window

    (orders,) = _t(spark, sf_dir, "orders")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " o_orderdate)"
    )
    wk = orders.select(
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " o_orderdate) div 604800000000"
        )
        .cast("long")
        .alias("week"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).groupBy("week").agg(
        F.sum("cents").alias("revenue_cents"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("week")
    lagged = wk.withColumn(
        "prev_cents", F.lag("revenue_cents").over(w)
    ).withColumn(
        "__diff__",
        (F.col("revenue_cents") - F.col("prev_cents"))
        * F.lit(1000000).cast("long"),
    )
    return lagged.select(
        "week",
        "revenue_cents",
        "n_orders",
        F.when(
            F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0),
            F.expr("__diff__ div prev_cents"),
        )
        .cast("long")
        .alias("wow_growth_micro"),
    )


_XSOURCE_ORACLE = """WITH h AS (
  SELECT doc_id, source,
         md5(substr(lower(trim(text)), 1, 40)) AS grp
  FROM documents),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
  FROM h a JOIN h b ON a.grp = b.grp AND a.doc_id < b.doc_id
  GROUP BY a.source, b.source)
SELECT LEAST(source_a, source_b) AS source_x,
       GREATEST(source_a, source_b) AS source_y,
       CAST(SUM(n_dup_pairs) AS BIGINT) AS n_dup_pairs
FROM pairs GROUP BY 1, 2"""


@register(
    "dedup_cross_source_matrix",
    _XSOURCE_ORACLE,
    "who copies whom: duplicate-pair counts between every source pair "
    "(unordered) keyed on the 40-char prefix fingerprint — the "
    "vendor-contamination forensic that decides which feed to drop.  "
    "The self-join runs on hash groups (tiny fan-out per group), "
    "never on content; swap in the full-text or MinHash key for "
    "stricter/looser notions of duplicate",
)
def dedup_cross_source_matrix_query(spark, sf_dir):
    (documents,) = _t(spark, sf_dir, "documents")
    h = documents.select(
        "doc_id",
        "source",
        F.md5(
            F.encode(F.substring(F.lower(F.trim(F.col("text"))), 1, 40), "UTF-8")
        ).alias("grp"),
    )
    a = h.select(F.col("grp"), F.col("doc_id").alias("ida"),
                 F.col("source").alias("source_a"))
    b = h.select(F.col("grp"), F.col("doc_id").alias("idb"),
                 F.col("source").alias("source_b"))
    pairs = (
        a.join(b, "grp")
        .filter(F.col("ida") < F.col("idb"))
        .select(
            F.least("source_a", "source_b").alias("source_x"),
            F.greatest("source_a", "source_b").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count("*").alias("n_dup_pairs"))
    )
    return pairs


_WOE_ORACLE = """WITH t AS (
  SELECT o_orderpriority AS cat,
         CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
  FROM orders),
c AS (
  SELECT cat,
         CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM t GROUP BY cat),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS tp, CAST(SUM(neg) AS BIGINT) AS tn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM c)
SELECT cat, pos, neg,
       CAST(ROUND(ln(((pos + 1.0) * (tn + k)) / ((neg + 1.0) * (tp + k)))
                  * 1000000) AS BIGINT) AS woe_micro,
       CAST(ROUND(((pos + 1.0) / (tp + k) - (neg + 1.0) / (tn + k))
                  * ln(((pos + 1.0) * (tn + k)) / ((neg + 1.0) * (tp + k)))
                  * 1000000000) AS BIGINT) AS iv_contrib_nano
FROM c CROSS JOIN tot"""


@register(
    "features_woe_iv",
    _WOE_ORACLE,
    "weight-of-evidence + information-value feature screening "
    "(credit-scoring classic, add-1 smoothed): per-category WOE in "
    "int64 micros and IV contributions in nanos — one "
    "map-side-combined count pass, broadcast totals; ranks categorical "
    "features before encoding, next to target encoding and PSI",
)
def features_woe_iv_query(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    t = orders.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("y"),
    )
    c = t.groupBy("cat").agg(
        F.sum("y").alias("pos"),
        (F.count("*") - F.sum("y")).alias("neg"),
    )
    tot = c.agg(
        F.sum("pos").alias("tp"), F.sum("neg").alias("tn"),
        F.count("*").alias("k"),
    )
    woe = F.log(
        ((F.col("pos") + 1.0) * (F.col("tn") + F.col("k")))
        / ((F.col("neg") + 1.0) * (F.col("tp") + F.col("k")))
    )
    ivc = (
        (F.col("pos") + 1.0) / (F.col("tp") + F.col("k"))
        - (F.col("neg") + 1.0) / (F.col("tn") + F.col("k"))
    ) * woe
    return c.crossJoin(F.broadcast(tot)).select(
        "cat",
        F.col("pos").cast("long").alias("pos"),
        F.col("neg").cast("long").alias("neg"),
        F.round(woe * 1000000).cast("long").alias("woe_micro"),
        F.round(ivc * 1000000000).cast("long").alias("iv_contrib_nano"),
    )


# ---------------------------------------------------------------------------
# The CCDI release dashboard: one row summarizing a whole submission
# run — violation counts by severity, DCF index size, SRA rows, CDS
# flattened rows — composed from the certified submission flows the
# same way corpus_training_manifest composes the curation flows: the
# Spark side aggregates the registered queries' DataFrames, the oracle
# embeds those queries' oracle SQL as CTEs.
# ---------------------------------------------------------------------------


def _release_oracle() -> str:
    viol = REGISTRY["curation_violations"].oracle
    dcf = REGISTRY["ccdi_to_dcf_index"].oracle
    sra = REGISTRY["ccdi_to_sra"].oracle
    cds = REGISTRY["cds_flatten"].oracle
    return f"""WITH viol AS ({viol}),
dcf AS ({dcf}),
sra AS ({sra}),
cds AS ({cds}),
v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_violations,
         CAST(COUNT(CASE WHEN severity = 'error' THEN 1 END) AS BIGINT)
           AS n_errors,
         CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes_affected
  FROM viol),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_index_rows,
             CAST(COUNT(DISTINCT guid) AS BIGINT) AS n_guids,
             CAST(SUM(size) AS BIGINT) AS total_bytes
      FROM dcf),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sra_rows,
             CAST(COUNT(DISTINCT library_ID) AS BIGINT) AS n_libraries
      FROM sra),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cds_rows,
             CAST(COUNT(DISTINCT participant_id) AS BIGINT)
               AS n_cds_participants
      FROM cds)
SELECT * FROM v CROSS JOIN d CROSS JOIN s CROSS JOIN c"""


@register(
    "ccdi_release_dashboard",
    _release_oracle(),
    "the submission-run dashboard: violations by severity, DCF index "
    "size and byte total, SRA rows/libraries, CDS flattened rows — one "
    "wide row composed from the certified submission flows (Spark "
    "joins the registered queries' frames; the oracle embeds their "
    "oracle SQL as CTEs).  The go/no-go artifact a data manager reads "
    "before release",
)
def ccdi_release_dashboard_query(spark, sf_dir):
    rollups = {
        "curation_violations": lambda viol: viol.agg(
            F.count("*").alias("n_violations"),
            F.count(F.when(F.col("severity") == "error", True)).alias("n_errors"),
            F.countDistinct("node").alias("n_nodes_affected"),
        ),
        "ccdi_to_dcf_index": lambda dcf: dcf.agg(
            F.count("*").alias("n_index_rows"),
            F.countDistinct("guid").alias("n_guids"),
            F.sum("size").alias("total_bytes"),
        ),
        "ccdi_to_sra": lambda sra: sra.agg(
            F.count("*").alias("n_sra_rows"),
            F.countDistinct("library_ID").alias("n_libraries"),
        ),
        "cds_flatten": lambda cds: cds.agg(
            F.count("*").alias("n_cds_rows"),
            F.countDistinct("participant_id").alias("n_cds_participants"),
        ),
    }
    # Each one-row rollup is materialized eagerly, so the four composed
    # flows run as four independent jobs instead of one mega-plan that
    # re-plans every sub-flow's scans under a single cross-join tree
    # (VERDICT r03 item 4 — at scale these would be read back from the
    # flows' materialized release artifacts, not recomputed).
    # The four flows are independent (guide §2.6 "overlap independent
    # jobs"), so each pool worker BUILDS its flow, then its rollup, then
    # checkpoints the rollup: construction overlaps too (cds_flatten's
    # eager construction-time checkpoints run beside the other three
    # flows' driver-side planning), and the later flows' tasks back-fill
    # executors freed by the earlier flows' stragglers.  Every job the
    # dashboard starts, construction-time ones included, runs in the
    # shared job group — group state is thread-local, so each worker
    # sets it (PySpark pinned-thread mode, default since 3.2; ADVICE
    # r10).  Measured at the 10× replica for the checkpoint overlap
    # alone (interleaved same-session A/B pairs, warm runs): 97.7→83.5 s
    # and 79.9→61.4 s.
    # Cancel-on-failure: as soon as ANY worker fails, the group's
    # running jobs are cancelled, and re-cancelled while the siblings
    # wind down (a sibling still planning submits its next job after
    # the first cancel); the error is raised once every worker has
    # stopped, so nothing the dashboard started is left running.  Other
    # threads' queries on a shared session are outside the group and
    # unaffected.
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    sc = spark.sparkContext
    group = "ccdi_release_dashboard"

    def _rollup(name):
        sc.setJobGroup(group, f"dashboard sub-flow {name}")
        return rollups[name](REGISTRY[name].fn(spark, sf_dir)).localCheckpoint()

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [pool.submit(_rollup, name) for name in rollups]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in done if f.exception() is not None]
        while failed and pending:
            sc.cancelJobGroup(group)
            _, pending = wait(pending, timeout=0.5)
    if failed:
        failed[0].result()  # re-raises the first failure, not a cancel
    v, d, s, c = (f.result() for f in futures)
    return v.crossJoin(d).crossJoin(s).crossJoin(c)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimator — the reference's clinical domain
# (survival status per participant, workflows/mci_gdc_transform.py)
# taken to its canonical analysis.  Synthetic lifetimes: per user,
# follow-up days from first to last event; "event" (vs censored) when
# the user ever purchased.  The estimator runs entirely on the tiny
# distinct-day grid: per-day deaths/censored counts, at-risk via
# cumulative sums, survival via the cumulative sum of ln(1 − d/n)
# micro-ints (order-independent after the per-day aggregation).
# ---------------------------------------------------------------------------

_KM_ORACLE = """WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
life AS (
  SELECT user_id,
         CAST((MAX(us) - MIN(us)) // 86400000000 AS BIGINT) AS t_days,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS observed
  FROM ev GROUP BY user_id),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM life),
grid AS (
  SELECT t_days,
         CAST(SUM(observed) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(observed) AS BIGINT) AS c
  FROM life GROUP BY t_days),
risk AS (
  SELECT t_days, d, c,
         n0 - coalesce(SUM(d + c) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM grid CROSS JOIN tot),
steps AS (
  SELECT t_days, d, c, n_risk,
         CAST(ROUND(ln(1.0 - d * 1.0 / n_risk) * 1000000) AS BIGINT)
           AS ln_step_micro
  FROM risk WHERE d > 0 AND n_risk > d),
surv AS (
  SELECT t_days, d, n_risk,
         CAST(SUM(ln_step_micro) OVER (ORDER BY t_days) AS BIGINT)
           AS ln_surv_micro
  FROM steps)
SELECT t_days, d, CAST(n_risk AS BIGINT) AS n_risk, ln_surv_micro FROM surv"""


@register(
    "events_kaplan_meier",
    _KM_ORACLE,
    "Kaplan-Meier survival curve over synthetic follow-up lifetimes "
    "(the canonical analysis for the reference's survival domain): "
    "per-day death/censor counts aggregate first, at-risk via a "
    "cumulative window over the tiny day grid, and the survival curve "
    "as cumulative ln(1 − d/n) micro-ints — the product estimator in "
    "log space, order-independent and hash-certified",
)
def events_kaplan_meier_query(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    ev = events.select("user_id", us.alias("us"), "event_type")
    life = ev.groupBy("user_id").agg(
        F.expr("(max(us) - min(us)) div 86400000000")
        .cast("long")
        .alias("t_days"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("observed"),
    ).localCheckpoint()  # feeds the scalar total AND the day grid
    n0 = life.agg(F.count("*").alias("n0"))
    grid = life.groupBy("t_days").agg(
        F.sum("observed").alias("d"),
        (F.count("*") - F.sum("observed")).alias("c"),
    )
    w_prev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = grid.crossJoin(F.broadcast(n0)).withColumn(
        "n_risk",
        F.col("n0")
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
    )
    steps = risk.filter(
        (F.col("d") > 0) & (F.col("n_risk") > F.col("d"))
    ).withColumn(
        "ln_step_micro",
        F.round(F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk")) * 1000000)
        .cast("long"),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return steps.select(
        "t_days",
        F.col("d").cast("long").alias("d"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.sum("ln_step_micro").over(w_cum).cast("long").alias("ln_surv_micro"),
    )


_LOGRANK_ORACLE = """WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
life AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
         CAST((MAX(us) - MIN(us)) // 86400000000 AS BIGINT) AS t_days,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS observed
  FROM ev GROUP BY user_id),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(COUNT(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS n0_1
  FROM life),
grid AS (
  SELECT t_days,
         CAST(SUM(observed) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving,
         CAST(SUM(CASE WHEN grp = 1 THEN observed END) AS BIGINT) AS d1,
         CAST(COUNT(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS leaving1
  FROM life GROUP BY t_days),
risk AS (
  SELECT t_days, d, d1,
         n0 - coalesce(SUM(leaving) OVER (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
         n0_1 - coalesce(SUM(leaving1) OVER (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
  FROM grid CROSS JOIN tot),
steps AS (
  SELECT t_days, d, d1, n, n1,
         CAST(ROUND(d * n1 * 1000000.0 / n) AS BIGINT) AS e1_micro,
         CASE WHEN n > 1 THEN
           CAST(ROUND(d * (n1 * 1.0 / n) * ((n - n1) * 1.0 / n)
                        * ((n - d) * 1.0 / (n - 1)) * 1000000) AS BIGINT)
         ELSE 0 END AS v_micro
  FROM risk WHERE d > 0 AND n > 0)
SELECT CAST(SUM(d1) AS BIGINT) AS o1,
       CAST(SUM(e1_micro) AS BIGINT) AS e1_micro,
       CAST(SUM(v_micro) AS BIGINT) AS v_micro,
       ROUND(POWER(SUM(d1) - SUM(e1_micro) / 1000000.0, 2)
             / (SUM(v_micro) / 1000000.0), 6) AS logrank_stat
FROM steps"""


@register(
    "events_logrank_test",
    _LOGRANK_ORACLE,
    "log-rank test between two cohorts' survival curves (the "
    "hypothesis-test companion of events_kaplan_meier): per-day "
    "observed vs expected deaths and hypergeometric variance, rounded "
    "to micro-ints PER DAY so the sums are order-independent; the "
    "chi-square statistic divides once at the end",
)
def events_logrank_test_query(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    ev = events.select("user_id", us.alias("us"), "event_type")
    life = ev.groupBy("user_id").agg(
        F.expr("(max(us) - min(us)) div 86400000000")
        .cast("long")
        .alias("t_days"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("observed"),
    ).withColumn(
        "grp", (F.col("user_id") % 2).cast("long")
    ).localCheckpoint()  # feeds totals AND the day grid
    tot = life.agg(
        F.count("*").alias("n0"),
        F.count(F.when(F.col("grp") == 1, True)).alias("n0_1"),
    )
    grid = life.groupBy("t_days").agg(
        F.sum("observed").alias("d"),
        F.count("*").alias("leaving"),
        F.sum(F.when(F.col("grp") == 1, F.col("observed"))).alias("d1"),
        F.count(F.when(F.col("grp") == 1, True)).alias("leaving1"),
    )
    wp = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d",
        "d1",
        (F.col("n0") - F.coalesce(F.sum("leaving").over(wp), F.lit(0))).alias("n"),
        (
            F.col("n0_1") - F.coalesce(F.sum("leaving1").over(wp), F.lit(0))
        ).alias("n1"),
    )
    steps = risk.filter((F.col("d") > 0) & (F.col("n") > 0)).select(
        "d1",
        F.round(F.col("d") * F.col("n1") * 1000000.0 / F.col("n"))
        .cast("long")
        .alias("e1_micro"),
        F.when(
            F.col("n") > 1,
            F.round(
                F.col("d")
                * (F.col("n1") * 1.0 / F.col("n"))
                * ((F.col("n") - F.col("n1")) * 1.0 / F.col("n"))
                * ((F.col("n") - F.col("d")) * 1.0 / (F.col("n") - 1))
                * 1000000
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("v_micro"),
    )
    return steps.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_micro").cast("long").alias("e1_micro"),
        F.sum("v_micro").cast("long").alias("v_micro"),
        F.round(
            F.pow(F.sum("d1") - F.sum("e1_micro") / 1000000.0, 2)
            / (F.sum("v_micro") / 1000000.0),
            6,
        ).alias("logrank_stat"),
    )


_RMST_ORACLE = """WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
life AS (
  SELECT user_id,
         CAST((MAX(us) - MIN(us)) // 86400000000 AS BIGINT) AS t_days,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS observed
  FROM ev GROUP BY user_id),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM life),
grid AS (
  SELECT t_days, CAST(SUM(observed) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(observed) AS BIGINT) AS c
  FROM life GROUP BY t_days),
risk AS (
  SELECT t_days, d,
         n0 - coalesce(SUM(d + c) OVER (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM grid CROSS JOIN tot),
steps AS (
  SELECT t_days,
         CAST(SUM(CAST(ROUND(ln(1.0 - d * 1.0 / n_risk) * 1000000)
                       AS BIGINT)) OVER (ORDER BY t_days) AS BIGINT)
           AS ln_surv_micro
  FROM risk WHERE d > 0 AND n_risk > d),
segs AS (
  SELECT t_days, ln_surv_micro,
         LEAD(t_days) OVER (ORDER BY t_days) AS t_next
  FROM steps),
tau AS (SELECT CAST(MAX(t_days) AS BIGINT) AS tau FROM life),
contrib AS (
  SELECT CAST(ROUND(exp(ln_surv_micro / 1000000.0)
                    * (coalesce(t_next, tau) - t_days) * 1000000)
              AS BIGINT) AS c_micro
  FROM segs CROSS JOIN tau
  UNION ALL
  SELECT CAST((SELECT MIN(t_days) FROM steps) * 1000000 AS BIGINT))
SELECT (SELECT tau FROM tau) AS tau_days,
       CAST(SUM(c_micro) AS BIGINT) AS rmst_micro_days
FROM contrib"""


@register(
    "events_rmst",
    _RMST_ORACLE,
    "restricted mean survival time (area under the Kaplan-Meier curve "
    "to the horizon): per-interval contributions rounded to "
    "micro-days BEFORE summing so the total is order-independent; the "
    "clinically-reportable single-number summary completing the "
    "KM + log-rank survival family",
)
def events_rmst_query(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    ev = events.select("user_id", us.alias("us"), "event_type")
    life = ev.groupBy("user_id").agg(
        F.expr("(max(us) - min(us)) div 86400000000")
        .cast("long")
        .alias("t_days"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("observed"),
    ).localCheckpoint()  # feeds n0, tau AND the day grid
    tot = life.agg(F.count("*").alias("n0"))
    tau = life.agg(F.max("t_days").cast("long").alias("tau"))
    grid = life.groupBy("t_days").agg(
        F.sum("observed").alias("d"),
        (F.count("*") - F.sum("observed")).alias("c"),
    )
    wp = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d",
        (
            F.col("n0")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wp), F.lit(0))
        ).alias("n_risk"),
    )
    wc = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    steps = (
        risk.filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d")))
        .select(
            "t_days",
            F.round(
                F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk")) * 1000000
            )
            .cast("long")
            .alias("step"),
        )
        .select(
            "t_days", F.sum("step").over(wc).cast("long").alias("ln_surv_micro")
        )
    )
    wl = Window.orderBy("t_days")
    segs = steps.withColumn("t_next", F.lead("t_days").over(wl))
    contrib = (
        segs.crossJoin(F.broadcast(tau))
        .select(
            F.round(
                F.exp(F.col("ln_surv_micro") / 1000000.0)
                * (F.coalesce("t_next", "tau") - F.col("t_days"))
                * 1000000
            )
            .cast("long")
            .alias("c_micro")
        )
        .unionByName(
            steps.agg(
                (F.min("t_days") * F.lit(1000000).cast("long")).alias(
                    "c_micro"
                )
            )
        )
    )
    return contrib.crossJoin(F.broadcast(tau)).agg(
        F.max("tau").cast("long").alias("tau_days"),
        F.sum("c_micro").cast("long").alias("rmst_micro_days"),
    )


# Benford expected probabilities log10(1+1/d) in micro units, d=1..9
_BENFORD_MICRO = [301030, 176091, 124939, 96910, 79181, 66947, 57992,
                  51153, 45757]

_BENFORD_ORACLE = f"""WITH digits AS (
  -- FLOOR before the bigint cast: Spark truncates double casts,
  -- DuckDB rounds — FLOOR pins both to the same integer
  SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS BIGINT) AS d
  FROM lineitem WHERE l_extendedprice >= 1),
c AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
exp_tab AS (
  SELECT * FROM (VALUES {", ".join(f"({i + 1}, {p})" for i, p in enumerate(_BENFORD_MICRO))})
    AS t(d, p_micro))
SELECT c.d, c.n,
       CAST(c.n * 1000000 // tot.total AS BIGINT) AS observed_micro,
       e.p_micro AS expected_micro,
       CAST(c.n * 1000000 // tot.total - e.p_micro AS BIGINT)
         AS deviation_micro
FROM c JOIN exp_tab e ON e.d = c.d CROSS JOIN tot"""


@register(
    "lineitem_benford_test",
    _BENFORD_ORACLE,
    "Benford's-law first-digit screen on monetary amounts — the "
    "forensic data-quality check for fabricated or truncated numeric "
    "columns: observed vs expected digit frequencies in integer "
    "micros; one aggregation, broadcast expected table",
)
def lineitem_benford_test_query(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    digits = lineitem.filter(F.col("l_extendedprice") >= 1).select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"),
            1, 1,
        )
        .cast("long")
        .alias("d")
    )
    c = digits.groupBy("d").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("total"))
    exp_tab = c.sparkSession.createDataFrame(
        [(i + 1, p) for i, p in enumerate(_BENFORD_MICRO)],
        "d long, p_micro long",
    )
    return (
        c.join(F.broadcast(exp_tab), "d")
        .crossJoin(F.broadcast(tot))
        .withColumn("__num__", F.col("n") * F.lit(1000000).cast("long"))
        .select(
            "d",
            "n",
            F.expr("__num__ div total").cast("long").alias("observed_micro"),
            F.col("p_micro").cast("long").alias("expected_micro"),
            (F.expr("__num__ div total") - F.col("p_micro"))
            .cast("long")
            .alias("deviation_micro"),
        )
    )


_STICKINESS_ORACLE = """WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events),
days AS (SELECT DISTINCT day FROM ud),
wau AS (
  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day)
SELECT dau.day, dau.dau, wau.wau,
       CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_micro
FROM dau JOIN wau USING (day)"""


@register(
    "events_dau_wau_stickiness",
    _STICKINESS_ORACLE,
    "DAU/WAU stickiness by day — the engagement ratio: exact distinct "
    "users per day and per trailing 7-day window (the day-grid range "
    "join replicates each user-day at most 7x; distinct-count windows "
    "don't exist, range joins do), integral-division micros",
)
def events_dau_wau_stickiness_query(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    day = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " div 86400000000"
    ).cast("long")
    ud = events.select("user_id", day.alias("day")).distinct()
    days = ud.select("day").distinct()
    wau = (
        days.alias("d")
        .join(
            ud.alias("u"),
            F.col("u.day").between(F.col("d.day") - 6, F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        dau.join(wau, "day")
        .withColumn("__num__", F.col("dau") * F.lit(1000000).cast("long"))
        .select(
            "day",
            "dau",
            "wau",
            F.expr("__num__ div wau").cast("long").alias("stickiness_micro"),
        )
    )


_REPEAT_ORACLE = """WITH o AS (
  SELECT o_custkey AS cust,
         CAST(epoch_us(o_orderdate) // 2592000000000 AS BIGINT) AS month
  FROM orders),
per_cust AS (
  SELECT cust, MIN(month) AS first_month,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM o GROUP BY cust)
SELECT first_month,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(COUNT(CASE WHEN n_orders > 1 THEN 1 END) AS BIGINT)
         AS n_repeat,
       CAST(COUNT(CASE WHEN n_orders > 1 THEN 1 END) * 1000000
            // COUNT(*) AS BIGINT) AS repeat_rate_micro
FROM per_cust GROUP BY first_month"""


@register(
    "orders_repeat_rate_cohort",
    _REPEAT_ORACLE,
    "repeat-purchase rate by acquisition cohort (30-day buckets): two "
    "map-side-combined aggregations, integral-division micros — the "
    "retention economics metric beside LTV and RFM",
)
def orders_repeat_rate_cohort_query(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    month = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " o_orderdate) div 2592000000000"
    ).cast("long")
    o = orders.select(F.col("o_custkey").alias("cust"), month.alias("month"))
    per_cust = o.groupBy("cust").agg(
        F.min("month").alias("first_month"),
        F.count("*").alias("n_orders"),
    )
    rep = F.count(F.when(F.col("n_orders") > 1, True))
    return (
        per_cust.groupBy("first_month")
        .agg(
            F.count("*").alias("n_customers"),
            rep.alias("n_repeat"),
        )
        .withColumn(
            "__num__", F.col("n_repeat") * F.lit(1000000).cast("long")
        )
        .select(
            "first_month",
            "n_customers",
            "n_repeat",
            F.expr("__num__ div n_customers")
            .cast("long")
            .alias("repeat_rate_micro"),
        )
    )


_ERRBUDGET_ORACLE = """WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
           AS n_err
  FROM events GROUP BY 1),
rates AS (
  SELECT day, n, n_err,
         CAST(n_err * 1000000 // n AS BIGINT) AS err_rate_micro
  FROM d),
burn AS (
  SELECT day, n, n_err, err_rate_micro,
         CAST(GREATEST(err_rate_micro - 200000, 0) AS BIGINT) AS excess_micro
  FROM rates)
SELECT day, n, n_err, err_rate_micro,
       CAST(SUM(excess_micro) OVER (ORDER BY day) AS BIGINT)
         AS burn_cum_micro
FROM burn"""


@register(
    "events_error_budget_burn",
    _ERRBUDGET_ORACLE,
    "SRE error-budget burn-down: daily error rate in integral micros "
    "against a 20% budget, cumulative excess over the tiny day grid — "
    "the reliability twin of the anomaly z-scores",
)
def events_error_budget_burn_query(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    day = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " div 86400000000"
    ).cast("long")
    d = events.select(day.alias("day"), "event_type").groupBy("day").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "error", True)).alias("n_err"),
    )
    rates = d.withColumn(
        "__num__", F.col("n_err") * F.lit(1000000).cast("long")
    ).withColumn("err_rate_micro", F.expr("__num__ div n").cast("long"))
    burn = rates.withColumn(
        "excess_micro",
        F.greatest(F.col("err_rate_micro") - 200000, F.lit(0)).cast("long"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return burn.select(
        "day",
        "n",
        "n_err",
        "err_rate_micro",
        F.sum("excess_micro").over(w).cast("long").alias("burn_cum_micro"),
    )


_PROPS_ORACLE = """WITH p AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE props IS NOT NULL)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(SUM(k) * 1000000 // COUNT(*) AS BIGINT) AS mean_k_micro
FROM p GROUP BY event_type"""


@register(
    "events_props_json_stats",
    _PROPS_ORACLE,
    "semi-structured column analytics on the fixture's REAL JSON "
    "payloads: get_json_object extraction stays JVM-codegen, per-type "
    "integer stats with integral-division means — the schema-on-read "
    "path for property bags without a parsing UDF",
)
def events_props_json_stats_query(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    p = events.filter(F.col("props").isNotNull()).select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return (
        p.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .withColumn("__num__", F.col("sum_k") * F.lit(1000000).cast("long"))
        .select(
            "event_type",
            "n",
            "sum_k",
            "min_k",
            "max_k",
            F.expr("__num__ div n").cast("long").alias("mean_k_micro"),
        )
    )


_REFAUDIT_ORACLE = """SELECT 'lineitem->orders' AS fk,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem->part',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem->supplier',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
UNION ALL
SELECT 'orders->customer',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'customer->nation',
       CAST((SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
UNION ALL
SELECT 'supplier->nation',
       CAST((SELECT COUNT(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
UNION ALL
SELECT 'nation->region',
       CAST((SELECT COUNT(*) FROM nation n
             WHERE NOT EXISTS (SELECT 1 FROM region r
                               WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)"""


@register(
    "star_referential_audit",
    _REFAUDIT_ORACLE,
    "referential-integrity audit of every FK edge in the star schema "
    "(the warehouse twin of the graph dangling-link rule family): the "
    "FACT table's three edges audit in ONE scan — three parent-key "
    "left joins (dimensions broadcast) feeding one aggregate of "
    "null-parent counts — the remaining dimension edges one "
    "anti-count each.  At 100 TB the one-scan shape saves two full "
    "passes over the fact table vs the per-edge formulation",
)
def star_referential_audit_query(spark, sf_dir):
    t = dict(
        zip(
            (
                "lineitem", "orders", "part", "supplier", "customer",
                "nation", "region",
            ),
            _t(
                spark, sf_dir, "lineitem", "orders", "part", "supplier",
                "customer", "nation", "region",
            ),
        )
    )
    # one fact scan, three parent flags, one agg
    li = t["lineitem"].select("l_orderkey", "l_partkey", "l_suppkey")
    o_keys = (
        t["orders"].select(F.col("o_orderkey")).distinct()
        .withColumn("__o__", F.lit(1))
    )
    p_keys = (
        t["part"].select(F.col("p_partkey")).distinct()
        .withColumn("__p__", F.lit(1))
    )
    s_keys = (
        t["supplier"].select(F.col("s_suppkey")).distinct()
        .withColumn("__s__", F.lit(1))
    )
    li_counts = (
        li.join(o_keys, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        # p_keys/s_keys are distinct part/supplier keys — SF-scaling,
        # no hints; AQE broadcasts while they fit
        .join(
            p_keys,
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .join(
            s_keys,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
        .agg(
            F.count(F.when(F.col("__o__").isNull(), True)).alias("lo"),
            F.count(F.when(F.col("__p__").isNull(), True)).alias("lp"),
            F.count(F.when(F.col("__s__").isNull(), True)).alias("ls"),
        )
    )
    fact_rows = li_counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem->orders").alias("fk"),
                    F.col("lo").alias("n_orphans"),
                ),
                F.struct(
                    F.lit("lineitem->part").alias("fk"),
                    F.col("lp").alias("n_orphans"),
                ),
                F.struct(
                    F.lit("lineitem->supplier").alias("fk"),
                    F.col("ls").alias("n_orphans"),
                ),
            )
        ).alias("r")
    ).select("r.fk", "r.n_orphans")

    edges = [
        ("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        ("supplier->nation", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
        ("nation->region", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
    ]
    out = fact_rows
    for name, child, ck, parent, pk in edges:
        orphans = child.join(
            parent.select(F.col(pk).alias(ck)).distinct(), ck, "left_anti"
        ).agg(F.count("*").alias("n_orphans"))
        out = out.unionByName(orphans.select(F.lit(name).alias("fk"), "n_orphans"))
    return out


_SLA_ORACLE = """WITH first_ship AS (
  SELECT l_orderkey, MIN(epoch_us(l_shipdate)) AS ship_us
  FROM lineitem GROUP BY l_orderkey),
lagd AS (
  SELECT o.o_orderpriority AS priority,
         CAST((f.ship_us - epoch_us(o.o_orderdate)) // 86400000000 AS BIGINT)
           AS lag_days
  FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(CASE WHEN lag_days <= 30 THEN 1 END) AS BIGINT)
         AS n_within_30d,
       CAST(COUNT(CASE WHEN lag_days <= 30 THEN 1 END) * 1000000
            // COUNT(*) AS BIGINT) AS sla_rate_micro,
       CAST(MAX(lag_days) AS BIGINT) AS worst_lag_days
FROM lagd GROUP BY priority"""


@register(
    "orders_priority_sla",
    _SLA_ORACLE,
    "fulfilment SLA by priority: first-ship lag per order (one "
    "map-side-combined min), share shipped within 30 days in integral "
    "micros, worst lag — the operations dashboard beside WoW growth "
    "and the error budget",
)
def orders_priority_sla_query(spark, sf_dir):
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    su = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " l_shipdate)"
    )
    first_ship = lineitem.select(
        "l_orderkey", su.alias("ship_us")
    ).groupBy("l_orderkey").agg(F.min("ship_us").alias("ship_us"))
    lagd = orders.join(
        first_ship, orders["o_orderkey"] == first_ship["l_orderkey"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "(ship_us - timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate))"
            " div 86400000000"
        )
        .cast("long")
        .alias("lag_days"),
    )
    hit = F.count(F.when(F.col("lag_days") <= 30, True))
    return (
        lagd.groupBy("priority")
        .agg(
            F.count("*").alias("n_orders"),
            hit.alias("n_within_30d"),
            F.max("lag_days").cast("long").alias("worst_lag_days"),
        )
        .withColumn(
            "__num__", F.col("n_within_30d") * F.lit(1000000).cast("long")
        )
        .select(
            "priority",
            "n_orders",
            "n_within_30d",
            F.expr("__num__ div n_orders").cast("long").alias("sla_rate_micro"),
            "worst_lag_days",
        )
    )


_HHI_ORACLE = """WITH s AS (
  SELECT p.p_brand AS brand, l.l_suppkey AS supp,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2),
t AS (
  SELECT brand, CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(n * n) AS BIGINT) AS sum_sq,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM s GROUP BY brand)
SELECT brand, n_suppliers, total,
       CAST(sum_sq * 1000000 // (total * total) AS BIGINT) AS hhi_micro
FROM t"""


@register(
    "supplier_concentration_hhi",
    _HHI_ORACLE,
    "supply-concentration risk: the Herfindahl-Hirschman index of "
    "supplier share per brand, computed as sum(n_i^2)*1e6 div total^2 "
    "— exact int64 throughout (shares never materialize as floats); "
    "two map-side-combined aggregations",
)
def supplier_concentration_hhi_query(spark, sf_dir):
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    s = (
        # part projection is SF-scaling — no hint, AQE decides
        lineitem.join(
            part.select("p_partkey", "p_brand"),
            lineitem["l_partkey"] == part["p_partkey"],
        )
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("supp"))
        .agg(F.count("*").alias("n"))
    )
    # decimal-routed: total^2 and sum_sq*1e6 overflow int64 once a
    # brand's line count passes ~3e9 (the gini overflow class)
    t = s.groupBy("brand").agg(
        F.sum(F.col("n").cast("decimal(38,0)")).alias("total"),
        F.sum(
            F.col("n").cast("decimal(38,0)") * F.col("n")
        ).alias("sum_sq"),
        F.count("*").alias("n_suppliers"),
    )
    return (
        t.withColumn("__num__", F.col("sum_sq") * F.lit(1000000).cast("long"))
        .withColumn("__den__", F.col("total") * F.col("total"))
        .select(
            "brand",
            "n_suppliers",
            "total",
            F.expr("__num__ div __den__").cast("long").alias("hhi_micro"),
        )
    )


_GINI_ORACLE = """WITH rev AS (
  SELECT o_custkey AS cust,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY cust),
ranked AS (
  SELECT cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents, cust) AS BIGINT) AS rnk
  FROM rev),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(rnk * cents) AS BIGINT) AS weighted
  FROM ranked)
SELECT n, s,
       -- exact floor(num*1e6/den) without overflow: num*1e6 exceeds
       -- int64, so decompose base-1000 (q1*1e6 + q2*1e3 + q3)
       CAST(q1 * 1000000 + q2 * 1000 + (r2 * 1000) // den AS BIGINT)
         AS gini_micro
FROM (
  SELECT n, s, den, q1, q2,
         r1 * 1000 - q2 * den AS r2
  FROM (
    SELECT n, s, den, q1,
           num - q1 * den AS r1,
           ((num - q1 * den) * 1000) // den AS q2
    FROM (
      SELECT n, s,
             2 * weighted - (n + 1) * s AS num,
             n * s AS den,
             (2 * weighted - (n + 1) * s) // (n * s) AS q1
      FROM agg)))"""


@register(
    "customer_revenue_gini",
    _GINI_ORACLE,
    "revenue-inequality Gini across customers — a GLOBAL-rank "
    "statistic computed scale-safely: ranks come from the "
    "range-partitioned distributed prefix sum (counting formulation), "
    "never a single-task ROW_NUMBER over the corpus (the oracle's "
    "direct window IS that serialized formulation); ties share any "
    "order because equal values contribute identically.  Exact int64 "
    "cents end-to-end, one integral division",
)
def customer_revenue_gini_query(spark, sf_dir):
    from .operators.windows import distributed_prefix_sum

    (orders,) = _t(spark, sf_dir, "orders")
    rev = orders.select(
        F.col("o_custkey").alias("cust"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c0"),
    ).groupBy("cust").agg(F.sum("c0").alias("cents"))
    counted = rev.withColumn("one", F.lit(1).cast("long"))
    ranked = distributed_prefix_sum(
        counted, "one", order_by=["cents", "cust"], out_col="rnk"
    )
    # rank × cents products and their sum overflow int64 at scale
    # (caught by the 10x probe: ARITHMETIC_OVERFLOW at 150k customers)
    # — route the weighted sum and the n·s denominator through
    # DECIMAL(38,0), the repo's exact-sum discipline.  `div` on
    # decimals is exact integral division, so the base-1000
    # decomposition below stays bit-identical to the HUGEINT oracle.
    agg = ranked.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("rnk").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("weighted"),
    )
    # exact floor(num*1e6/den) without overflow: decompose base-1000
    staged = (
        agg.withColumn(
            "num", 2 * F.col("weighted") - (F.col("n") + 1) * F.col("s")
        )
        .withColumn("den", F.col("n") * F.col("s"))
        .withColumn("q1", F.expr("num div den"))
        .withColumn("r1", F.col("num") - F.col("q1") * F.col("den"))
        .withColumn("q2", F.expr("(r1 * 1000) div den"))
        .withColumn("r2", F.col("r1") * 1000 - F.col("q2") * F.col("den"))
        .withColumn("q3", F.expr("(r2 * 1000) div den"))
    )
    return staged.select(
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
        (F.col("q1") * 1000000 + F.col("q2") * 1000 + F.col("q3"))
        .cast("long")
        .alias("gini_micro"),
    )


_JACHIST_ORACLE = r"""WITH toks AS (
  SELECT doc_id, w,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS BIGINT)
           AS pos
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
               generate_subscripts(
                 regexp_split_to_array(lower(trim(text)), '\s+'), 1) AS ord
        FROM documents)),
g AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
ds AS (SELECT DISTINCT doc_id, g FROM g),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ds GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
  FROM ds a JOIN ds b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
binned AS (
  SELECT (10 * c) // (sa.n + sb.n - c) AS bin
  FROM common
  JOIN sizes sa ON sa.doc_id = common.id_a
  JOIN sizes sb ON sb.doc_id = common.id_b)
SELECT CAST(LEAST(bin, 9) AS BIGINT) AS jaccard_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM binned GROUP BY 1"""


@register(
    "dedup_jaccard_histogram",
    _JACHIST_ORACLE,
    "the near-duplicate LANDSCAPE: pairwise Jaccard deciles over "
    "colliding shingle pairs — the decile is the exact integer "
    "(10·common) div (|A|+|B|−common), no float similarities.  The "
    "profile that picks a dedup threshold BEFORE committing to one; "
    "inverted-index pair join, cost scales with collisions",
)
def dedup_jaccard_histogram_query(spark, sf_dir):
    from .operators.dedup import with_shingles

    (documents,) = _t(spark, sf_dir, "documents")
    # checkpoint the compact per-doc array frame; the explode re-runs
    # per branch over cached rows (cheaper than serializing postings)
    staged = with_shingles(documents, "text", "sh", 3).select(
        "doc_id", F.array_distinct("sh").alias("sh")
    ).localCheckpoint()
    # per-doc sizes ride the postings (size(sh) on the pre-explode
    # array) instead of joining back onto the quadratic pair set —
    # the kNN-re-rank trap class, see dedup_ngram_jaccard
    ex = staged.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    binned = (
        ex.select(F.col("doc_id").alias("id_a"), "g", F.col("n").alias("n_a"))
        .join(
            ex.select(
                F.col("doc_id").alias("id_b"), "g", F.col("n").alias("n_b")
            ),
            "g",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn("__num__", 10 * F.col("c"))
        .withColumn("__den__", F.col("n_a") + F.col("n_b") - F.col("c"))
        .select(F.expr("__num__ div __den__").alias("bin"))
    )
    return binned.groupBy(
        F.least(F.col("bin"), F.lit(9)).cast("long").alias("jaccard_decile")
    ).agg(F.count("*").alias("n_pairs"))


_VOCABOVR_ORACLE = r"""WITH vw AS (
  SELECT DISTINCT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM vw GROUP BY source),
common AS (
  SELECT a.source AS source_x, b.source AS source_y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM vw a JOIN vw b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_x, source_y, c AS n_common,
       CAST(c * 1000000 // (sa.n + sb.n - c) AS BIGINT) AS jaccard_micro
FROM common
JOIN sizes sa ON sa.source = common.source_x
JOIN sizes sb ON sb.source = common.source_y"""


@register(
    "corpus_vocab_overlap_matrix",
    _VOCABOVR_ORACLE,
    "vocabulary overlap between every source pair — linguistic "
    "similarity of feeds (same register? same template?): per-source "
    "distinct-word sets, inverted-index pair join on the word, exact "
    "integral-micro Jaccard; pairs cross-source dup counts with a "
    "lexical lens",
)
def corpus_vocab_overlap_matrix_query(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    vw = documents.select(
        "source", F.explode(normalized_tokens("text")).alias("w")
    ).distinct()
    sizes = vw.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    common = (
        vw.select(F.col("source").alias("source_x"), "w")
        .join(vw.select(F.col("source").alias("source_y"), "w"), "w")
        .filter(F.col("source_x") < F.col("source_y"))
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(
            F.broadcast(
                sizes.select(F.col("source").alias("source_x"),
                             F.col("n").alias("n_a"))
            ),
            "source_x",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("source").alias("source_y"),
                             F.col("n").alias("n_b"))
            ),
            "source_y",
        )
        .withColumn("__num__", F.col("c") * F.lit(1000000).cast("long"))
        .withColumn("__den__", F.col("n_a") + F.col("n_b") - F.col("c"))
        .select(
            "source_x",
            "source_y",
            F.col("c").alias("n_common"),
            F.expr("__num__ div __den__").cast("long").alias("jaccard_micro"),
        )
    )


_COVERAGE_CURVE_ORACLE = r"""WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY w),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk FROM c),
tops AS (
  SELECT k, CAST(SUM(n) AS BIGINT) AS covered
  FROM (VALUES (5), (10), (20)) AS ks(k)
  JOIN ranked ON ranked.rnk <= ks.k
  GROUP BY k)
SELECT k AS vocab_size, covered,
       CAST(covered * 1000000 // total AS BIGINT) AS coverage_micro
FROM tops CROSS JOIN tot"""


@register(
    "corpus_vocab_coverage_curve",
    _COVERAGE_CURVE_ORACLE,
    "how big a vocabulary you need: token-mass coverage of the top-k "
    "words at k=5/10/20 — each k is one TakeOrdered over the reduced "
    "vocab frame (per-partition heaps, no global sort or window), "
    "coverage in integral micros.  The sizing curve read before "
    "training a tokenizer",
)
def corpus_vocab_coverage_curve_query(spark, sf_dir):
    from .operators.dedup import normalized_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    c = documents.select(
        F.explode(normalized_tokens("text")).alias("w")
    ).groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    c = c.localCheckpoint()
    total = c.agg(F.sum("n").alias("total"))
    parts = []
    for k in (5, 10, 20):
        topk = c.orderBy(F.desc("n"), "w").limit(k)
        parts.append(
            topk.agg(F.sum("n").alias("covered")).select(
                F.lit(k).cast("long").alias("vocab_size"), "covered"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.crossJoin(F.broadcast(total))
        .withColumn("__num__", F.col("covered") * F.lit(1000000).cast("long"))
        .select(
            "vocab_size",
            "covered",
            F.expr("__num__ div total").cast("long").alias("coverage_micro"),
        )
    )


_HOUR_PROFILE_ORACLE = """WITH h AS (
  SELECT CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT) AS hour,
         event_type
  FROM events)
SELECT hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
         AS n_purchases,
       CAST(COUNT(*) * 1000000
            // (SELECT COUNT(*) FROM h) AS BIGINT) AS share_micro
FROM h GROUP BY hour"""


@register(
    "events_hour_profile",
    _HOUR_PROFILE_ORACLE,
    "hour-of-day traffic profile with integral-micro shares — the "
    "capacity-planning heatmap row; one aggregation, the total "
    "broadcast back",
)
def events_hour_profile_query(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    hour = F.expr(
        "(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " % 86400000000) div 3600000000"
    ).cast("long")
    h = events.select(hour.alias("hour"), "event_type")
    tot = h.agg(F.count("*").alias("total"))
    return (
        h.groupBy("hour")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("event_type") == "purchase", True)).alias(
                "n_purchases"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("__num__", F.col("n") * F.lit(1000000).cast("long"))
        .select(
            "hour",
            "n",
            "n_purchases",
            F.expr("__num__ div total").cast("long").alias("share_micro"),
        )
    )


_RETURNS_ORACLE = """WITH m AS (
  SELECT CAST(epoch_us(l_shipdate) // 2592000000000 AS BIGINT) AS month,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
  FROM lineitem)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(r) AS BIGINT) AS n_returns,
       CAST(SUM(r) * 1000000 // COUNT(*) AS BIGINT) AS return_rate_micro
FROM m GROUP BY month"""


@register(
    "lineitem_returns_trend",
    _RETURNS_ORACLE,
    "returns-rate trend by ship month in integral micros — the "
    "quality time-series beside WoW growth and the SLA rates; one "
    "map-side-combined aggregation",
)
def lineitem_returns_trend_query(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    month = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " l_shipdate) div 2592000000000"
    ).cast("long")
    m = lineitem.select(
        month.alias("month"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    )
    return (
        m.groupBy("month")
        .agg(F.count("*").alias("n_lines"), F.sum("r").alias("n_returns"))
        .withColumn(
            "__num__", F.col("n_returns") * F.lit(1000000).cast("long")
        )
        .select(
            "month",
            "n_lines",
            "n_returns",
            F.expr("__num__ div n_lines")
            .cast("long")
            .alias("return_rate_micro"),
        )
    )
