"""Relational battery (SURVEY.md Tier D — the dask.bag surface the
reference re-exposes — and Tier E standard-SQL completions).

Every query here is a DataFrame plan (Catalyst optimizes: pushdown,
pruning, broadcast selection, partial aggregation) with a DuckDB oracle.
Aggregated floats are rounded identically on both sides so cross-engine
summation-order noise cannot flip the value hash.

Scale annotations per query: what the plan does at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dask_obj_spark.pinning import pin
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- filter/scan


@query(
    "filter_pushdown",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
    "WHERE l_quantity > 45 AND l_returnflag = 'R'",
)
def filter_pushdown(spark, sf_dir):
    """bag.filter → Catalyst filter pushed to the parquet scan; only 4
    columns read (pruning). At 100 TB this is the difference between
    scanning 4 columns' row-groups and the whole table."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "remove_predicate",
    oracle="SELECT o_orderkey, o_orderstatus FROM orders WHERE NOT (o_orderstatus = 'F')",
)
def remove_predicate(spark, sf_dir):
    """bag.remove(pred) → filter(~pred)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(~(F.col("o_orderstatus") == "F")).select("o_orderkey", "o_orderstatus")


@query(
    "sample_deterministic",
    oracle="SELECT l_orderkey, l_partkey FROM lineitem "
    "WHERE l_orderkey % 7 = 0 AND l_linenumber = 1",
)
def sample_deterministic(spark, sf_dir):
    """Deterministic pseudo-sampling (key-modulo). bag.random_sample maps
    to df.sample (seeded Bernoulli — registered rows-only below) but the
    oracle-checked variant must be engine-reproducible."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") % 7 == 0) & (F.col("l_linenumber") == 1)).select(
        "l_orderkey", "l_partkey"
    )


@query("random_sample_rowsonly")
def random_sample_rowsonly(spark, sf_dir):
    """bag.random_sample → df.sample(seeded). No oracle: Bernoulli RNG is
    engine-specific; the driver's rows-only check applies."""
    return _t(spark, sf_dir, "orders").sample(fraction=0.1, seed=42)


# ---------------------------------------------------------------- dedup/distinct


@query(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark, sf_dir):
    """bag.distinct → hash-aggregate dedup (partial+final; no full sort)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------- aggregation


@query(
    "tpch_q1_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_agg(spark, sf_dir):
    """Tier D foldby-equivalent / BASELINE B2: TPC-H Q1-shaped multi-agg.
    Partial aggregation happens map-side before the 6-group shuffle —
    the canonical 100 TB-safe aggregation shape."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "scalar_aggs",
    oracle="""
    SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(stddev_pop(l_quantity), 6) AS std_qty,
           round(var_pop(l_quantity), 6) AS var_qty,
           count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def scalar_aggs(spark, sf_dir):
    """bag.max/min/sum/mean/std/var/count + exact count-distinct in one
    pass (Tier D scalar aggregates)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("std_qty"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "any_all_bools",
    oracle="SELECT bool_or(l_quantity > 49) AS any_high, "
    "bool_and(l_quantity > 0) AS all_positive FROM lineitem",
)
def any_all_bools(spark, sf_dir):
    """bag.any/all → bool_or/bool_and aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.bool_or(F.col("l_quantity") > 49).alias("any_high"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
    )


@query("approx_distinct_rowsonly")
def approx_distinct_rowsonly(spark, sf_dir):
    """Tier E approximate aggregate: HyperLogLog++ distinct. No oracle —
    sketch estimates are engine-specific by design; at 100 TB this
    replaces an exact distinct's full shuffle with a fixed-size sketch."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
    )


@query(
    "having_filter",
    oracle="""
    SELECT l_returnflag, count(*) AS cnt FROM lineitem
    GROUP BY l_returnflag HAVING count(*) > 100
    """,
)
def having_filter(spark, sf_dir):
    """GROUP BY ... HAVING → agg then filter (Catalyst folds it into the
    aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 100)
    )


@query(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark, sf_dir):
    """Tier E rollup: hierarchical subtotals (free in both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@query(
    "cube_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark, sf_dir):
    """Tier E cube: all grouping combinations."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "grouping_sets_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_agg(spark, sf_dir):
    """Tier E grouping sets via SQL (same Catalyst Expand operator)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
    )


@query(
    "pivot_status",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status(spark, sf_dir):
    """Tier E pivot → conditional aggregation (explicit value list: no
    extra distinct-scan job, required shape at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_returnflag").pivot("l_linestatus", ["O", "F"]).sum("l_quantity")
    return pv.select("l_returnflag", F.round("O", 2).alias("O"), F.round("F", 2).alias("F"))


# ---------------------------------------------------------------- joins


@query(
    "join_lineitem_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS cnt,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_lineitem_orders(spark, sf_dir):
    """Tier D equi-join / BASELINE B3. Both sides shuffle on orderkey at
    scale unless orders fits the broadcast threshold — AQE decides at
    runtime; co-partitioned bucketing is the 100 TB answer."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "broadcast_join_dims",
    oracle="""
    SELECT r_name, count(*) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def broadcast_join_dims(spark, sf_dir):
    """Star-schema dimension joins with explicit broadcast: zero shuffle
    of the fact side — THE pattern for 100 TB facts × small dims."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """,
)
def semi_join_customers(spark, sf_dir):
    """Tier E left-semi join (EXISTS): no row duplication, right side only
    probed."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 300000)
    """,
)
def anti_join_customers(spark, sf_dir):
    """Tier E left-anti join (NOT EXISTS): customers with no high-value
    order.  r14 review fix: the unfiltered form ("customers with no
    orders at all") returned 0 rows at every driver scale factor — the
    generator gives every customer at least one order — so the parity
    green was VACUOUS (the anti join could have been an inner join and
    still matched).  The o_totalprice > 300000 build-side filter keeps
    the anti-join shape and yields a non-empty, scale-robust survivor
    set (~2% of customers at sf0.01 and sf0.1)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "cross_join_dims",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def cross_join_dims(spark, sf_dir):
    """bag.product → crossJoin (both sides tiny; anything else at scale
    must be an explicit, justified choice)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "outer_join_counts",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def outer_join_counts(spark, sf_dir):
    """Left outer join preserving order-less customers (count=0 rows)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "range_join_events",
    oracle="""
    SELECT a.event_id AS base_id, count(*) AS n_following
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    GROUP BY a.event_id
    """,
)
def range_join_events(spark, sf_dir):
    """Tier E range join (theta): equi key + range predicate. The equi
    component keeps it a hash join with the range as post-filter — NOT a
    nested-loop cross product; essential at scale."""
    e = _t(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy(F.col("a.event_id").alias("base_id"))
        .agg(F.count(F.lit(1)).alias("n_following"))
    )


@query(
    "asof_join_last_event",
    oracle="""
    SELECT o_orderkey,
           (SELECT max(e.ts) FROM events e
             WHERE e.user_id = o.o_custkey AND e.ts <= o.o_orderdate) AS last_event_ts
    FROM orders o
    WHERE o_custkey <= 200
    """,
)
def asof_join_last_event(spark, sf_dir):
    """Tier E as-of join: latest event at-or-before each order, per user.
    Expressed as equi-join + range filter + max-aggregate (hash join +
    partial agg — scales; the correlated-subquery oracle is the spec)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    e = _t(spark, sf_dir, "events")
    joined = o.join(
        e,
        (o.o_custkey == e.user_id) & (e.ts <= o.o_orderdate),
        "left",
    )
    return joined.groupBy("o_orderkey").agg(F.max("ts").alias("last_event_ts"))


@query(
    "asof_join_tolerance",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             floor(epoch(o_orderdate::TIMESTAMP))::BIGINT AS od_s
      FROM orders WHERE o_custkey <= 200
    ), agg AS (
      SELECT o.o_orderkey, o.od_s,
             max(floor(epoch(e.ts))::BIGINT) AS l
      FROM o LEFT JOIN events e
        ON e.user_id = o.o_custkey
       AND floor(epoch(e.ts))::BIGINT <= o.od_s
       AND floor(epoch(e.ts))::BIGINT >= o.od_s - 604800
      GROUP BY o.o_orderkey, o.od_s
    )
    SELECT o_orderkey,
           coalesce(l, -1)::BIGINT AS last_ts_s,
           coalesce(od_s - l, -1)::BIGINT AS gap_s
    FROM agg
    """,
)
def asof_join_tolerance(spark, sf_dir):
    """Tier E as-of join, TOLERANCE-BOUNDED variant: latest event
    at-or-before each order but no older than 7 days — the production
    form of `asof_join_last_event`.  The two-sided time bound is what
    makes this survive 100 TB: the unbounded as-of's equi-join fans
    out to EVERY earlier event per key (years of history for a hot
    user), while the tolerance caps per-row match volume at one
    window's worth, so the hash join + partial max-aggregate stays
    proportional to the answer, not the history.

    Epochs are compared as truncated BIGINT seconds on BOTH engines
    (Spark unix_timestamp truncates; the oracle uses floor(epoch())),
    and the no-match case is sentinel -1 (nullable BIGINTs promote to
    float64 in the driver's pandas fetch)."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 200)
        .select(
            "o_orderkey",
            "o_custkey",
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("od_s"),
        )
    )
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp(F.col("ts")).alias("ts_s")
    )
    joined = o.join(
        e,
        (o.o_custkey == e.user_id)
        & (e.ts_s <= o.od_s)
        & (e.ts_s >= o.od_s - F.lit(604800)),
        "left",
    )
    agg = joined.groupBy("o_orderkey", "od_s").agg(F.max("ts_s").alias("l"))
    return agg.select(
        "o_orderkey",
        F.coalesce(F.col("l"), F.lit(-1)).cast("bigint").alias("last_ts_s"),
        F.coalesce(F.col("od_s") - F.col("l"), F.lit(-1))
        .cast("bigint")
        .alias("gap_s"),
    )


# ---------------------------------------------------------------- set ops


@query(
    "union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def union_nations(spark, sf_dir):
    """Tier E set op: UNION (dedup)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def intersect_nations(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    WHERE s_nationkey % 2 = 0
    """,
)
def except_nations(spark, sf_dir):
    # subtract = EXCEPT DISTINCT (set semantics, matching the SQL oracle);
    # exceptAll would be multiset difference.  r14 review fix: the
    # unfiltered form was VACUOUS — suppliers cover every nation at
    # every driver scale factor, so the difference was always empty and
    # the parity green proved nothing about subtract.  Any ORGANIC
    # right-side filter saturates as data grows (at sf0.1 every nation
    # already has a supplier in any acctbal band), so the filter is
    # structural: even-keyed supplier nations, leaving the odd-keyed
    # customer nations (~12 rows) in the difference at ANY scale —
    # both the dedup and the removal legs of EXCEPT now carry weight.
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") % 2 == 0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


# ---------------------------------------------------------------- order / topk


@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_orders(spark, sf_dir):
    """bag.topk / BASELINE B4 → TakeOrderedAndProject: per-partition
    top-k then merge of k-sized heaps — never a full sort. Orderkey
    tiebreak makes it deterministic across engines."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "orderby_limit",
    oracle="""
    SELECT o_orderkey, o_orderdate FROM orders
    ORDER BY o_orderdate ASC, o_orderkey LIMIT 5
    """,
)
def orderby_limit(spark, sf_dir):
    """Tier E order-by + limit (ascending variant)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey"))
        .limit(5)
        .select("o_orderkey", "o_orderdate")
    )


# ---------------------------------------------------------------- windows


@query(
    "window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark, sf_dir):
    """Tier E window: top-3 orders per customer (row_number). One shuffle
    on the partition key; deterministic via orderkey tiebreak."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           rank() OVER w AS price_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_lag_lead(spark, sf_dir):
    """Tier E window: lag/lead/rank over a per-customer frame."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.rank().over(w).alias("price_rank"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark, sf_dir):
    """bag.accumulate (prefix scan) expressed columnar: running total per
    customer — the Tier D accumulate maps to exactly this window at scale
    (the facade's generic-binop scan is unit-tested separately)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# ---------------------------------------------------------------- scalar funcs


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substring(p_name, 1, 8) AS name_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           concat(p_brand, '#', p_type) AS brand_type
    FROM part
    """,
)
def string_functions(spark, sf_dir):
    """Tier E scalar string library (A5 ``call`` dispatch targets)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
    FROM orders
    """,
)
def date_functions(spark, sf_dir):
    """Tier E date/time library."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
    )


@query(
    "json_extraction",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k_val
    FROM events WHERE props IS NOT NULL
    """,
)
def json_extraction(spark, sf_dir):
    """Tier E JSON access over the events payload column."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


@query(
    "case_when_buckets",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           count(*) AS cnt
    FROM orders GROUP BY 1
    """,
)
def case_when_buckets(spark, sf_dir):
    """Tier E conditional expressions (CASE WHEN) + aggregation."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "in_filter_agg",
    oracle="""
    SELECT o_orderstatus, count(*) AS cnt FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderstatus
    """,
)
def in_filter_agg(spark, sf_dir):
    """Tier E IN-list predicate (pushed to scan)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "null_handling",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           coalesce(nullif(l_discount, 0.0), -1.0) AS discount_or_flag
    FROM lineitem WHERE l_orderkey % 13 = 0
    """,
)
def null_handling(spark, sf_dir):
    """Tier E NULL semantics: nullif/coalesce round-trip."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 13 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(-1.0)).alias(
            "discount_or_flag"
        ),
    )


@query(
    "sql_entrypoint",
    oracle="""
    SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def sql_entrypoint(spark, sf_dir):
    """Tier E SQL entry point: spark.sql over registered views — same
    Catalyst plan as the DataFrame build."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        "SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name"
    )


# ---------------------------------------------------------------- funnel


@query(
    "funnel_stages",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t1
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      GROUP BY e.user_id
    ), users AS (
      SELECT DISTINCT user_id FROM events
    ), staged AS (
      SELECT CASE WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  WHEN t1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM users u
      LEFT JOIN t1 ON u.user_id = t1.user_id
      LEFT JOIN t2 ON u.user_id = t2.user_id
      LEFT JOIN t3 ON u.user_id = t3.user_id
    )
    SELECT stage, count(*) AS n_users FROM staged GROUP BY stage
    """,
)
def funnel_stages(spark, sf_dir):
    """Ordered-sequence funnel (view → click → purchase): users counted
    at the furthest stage they reached IN ORDER (a click only counts
    after the user's first view; a purchase only after that first
    qualifying click). The behavioral-analytics operator bags/SQL alike
    lack as a primitive.

    Plan: three per-user min-aggregations chained by equi-joins, all
    keyed on user_id — one partitioning reused across every stage
    (exchange reuse), per-stage outputs are one row per qualifying user.
    At 100 TB: events pre-bucketed by user_id make the whole funnel
    shuffle-free; stages beyond the first operate on shrinking user
    subsets."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    staged = (
        users.join(t1.select("user_id", "t1"), "user_id", "left")
        .join(t2.select("user_id", "t2"), "user_id", "left")
        .join(t3.select("user_id", "t3"), "user_id", "left")
        .select(
            F.when(F.col("t3").isNotNull(), F.lit(3))
            .when(F.col("t2").isNotNull(), F.lit(2))
            .when(F.col("t1").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("stage")
        )
    )
    return staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "retention_cohorts",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), cohort AS (
      SELECT user_id, min(day) AS c0 FROM ud GROUP BY user_id
    )
    SELECT CAST(epoch(c.c0) AS BIGINT) AS cohort_ts,
           date_diff('day', c.c0, ud.day) AS day_offset,
           count(DISTINCT ud.user_id) AS n_active
    FROM ud JOIN cohort c ON ud.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-active day, counted
    active per day-offset — THE product-analytics companion to the funnel.

    Plan: distinct user-days (partial-agg'd), per-user min for the cohort
    day, join back on user_id (same partitioning — exchange reuse), then
    a count-distinct per (cohort, offset). Day boundaries are integral
    seconds, so epoch casts are portable (no truncate-vs-round hazard).
    At 100 TB the user-day dedup is the load-bearing shrink: the retention
    matrix itself is tiny (days x offsets)."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    cohort = ud.groupBy("user_id").agg(F.min("day").alias("c0"))
    return (
        ud.join(cohort, "user_id")
        .groupBy(
            F.unix_timestamp("c0").alias("cohort_ts"),
            F.datediff(F.col("day"), F.col("c0")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ------------------------------------------------- round-3 relational depth
# Correlated subqueries, classic TPC-H shapes, statistical aggregates,
# rank-family windows, multi-distinct, and array-rebuild aggregations —
# the remaining standard-SQL surface a reference user would expect.


@query(
    "exists_subquery",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08
    )
    GROUP BY o_orderpriority
    """,
)
def exists_subquery(spark, sf_dir):
    """TPC-H q4 shape: orders having at least one qualifying lineitem,
    counted per priority.  The correlated EXISTS is expressed as a
    left-semi join — exactly what Catalyst rewrites EXISTS into, so the
    physical plan is one shuffled semi-join + partial/final hash agg;
    the probe side carries only the join key at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "scalar_subquery_avg",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    WHERE l.l_quantity < (
      SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
    )
    """,
)
def scalar_subquery_avg(spark, sf_dir):
    """TPC-H q17 shape: lineitems below half their part's average
    quantity.  The correlated scalar subquery decorrelates into a
    per-part aggregate joined back on partkey — same partitioning for
    the agg and the join, so one shuffle; the per-part agg output is
    |parts| rows, tiny next to lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q3_shipping",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           floor(epoch(o.o_orderdate))::BIGINT AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark, sf_dir):
    """TPC-H q3 shape: top unshipped-revenue orders for one market
    segment.  The segment filter prunes customer BEFORE the join, the
    filtered dim broadcasts, and the lineitem-side agg is partial+final
    on l_orderkey; TakeOrderedAndProject caps the sort at k=10."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark, sf_dir):
    """TPC-H q6 shape: pure filter + global agg — the canonical
    pushdown showcase: both predicates reach the parquet scan
    (PushedFilters), only 3 columns read, no shuffle at all (partial
    sums combine in one final reduce)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "stats_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covar_pop,
           round(stddev_pop(l_quantity), 6) AS qty_stddev_pop,
           round(var_pop(l_quantity), 6) AS qty_var_pop,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6)
             AS qty_median
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_aggregates(spark, sf_dir):
    """Statistical aggregate library: correlation, sample/population
    covariance, population stddev/variance, exact interpolated median —
    all single-pass algebraic aggs (median is the exception: Spark's
    percentile is a typed-imperative agg, still partial+final)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(q, p), 6).alias("qty_price_corr"),
        F.round(F.covar_samp(q, p), 4).alias("qty_price_covar"),
        F.round(F.covar_pop(q, p), 4).alias("qty_price_covar_pop"),
        F.round(F.stddev_pop(q), 6).alias("qty_stddev_pop"),
        F.round(F.var_pop(q), 6).alias("qty_var_pop"),
        F.round(F.percentile(q, F.lit(0.5)), 6).alias("qty_median"),
    )


@query(
    "window_ranks",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ranks(spark, sf_dir):
    """Rank-family window battery: ntile / percent_rank / cume_dist /
    nth_value with an explicit full frame.  One shuffle on the partition
    key; in-partition sort only — deterministic via the orderkey
    tiebreak."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
    )


@query(
    "multi_distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def multi_distinct_agg(spark, sf_dir):
    """Multiple DISTINCT aggregates in one GROUP BY — Catalyst plans the
    Expand operator (one duplicate of each row per distinct clause) so a
    single shuffle serves all three distinct sets; at 100 TB the Expand
    fan-out (×3 here) is the cost to watch vs three separate scans."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           round(sum(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
             AS big_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark, sf_dir):
    """Conditional aggregation (SQL FILTER clause) via when()-guarded
    aggregates — one scan, one shuffle, n conditions; the idiomatic
    replacement for n filtered self-joins."""
    o = _t(spark, sf_dir, "orders")
    st = F.col("o_orderstatus")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(st == "F", 1)).alias("n_finished"),
        F.count(F.when(st == "O", 1)).alias("n_open"),
        F.round(
            F.sum(F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice"))), 2
        ).alias("big_revenue"),
    )


@query(
    "inverted_index_postings",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS term
      FROM documents
    )
    SELECT term, count(*) AS df,
           array_to_string(array_agg(doc_id ORDER BY doc_id), ',') AS postings
    FROM toks
    GROUP BY term
    HAVING count(*) >= 20
    """,
)
def inverted_index_postings(spark, sf_dir):
    """Inverted-index build: term → sorted posting list of doc ids (the
    IR / contamination-lookup primitive).  explode → distinct(term, doc)
    → groupBy(term) with collect_set + array_sort (collect order is
    never trusted — same rule as corpus_pack_payload).  Postings for
    stop-terms are the skew risk at 100 TB: the df >= 20 gate models the
    frequency cap, and production would also cap posting length."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            # serialized as CSV so engines compare the VALUE, not each
            # client's array representation (numpy vs list repr)
            F.array_join(F.array_sort(F.collect_set("doc_id")), ",").alias(
                "postings"
            ),
        )
        .filter(F.col("df") >= 20)
    )


@query(
    "centroid_per_label",
    oracle="""
    WITH pos AS (
      SELECT label, unnest(range(1, len(embedding::DOUBLE[]) + 1)) AS i,
             embedding::DOUBLE[] AS v
      FROM embeddings
    ), per_dim AS (
      SELECT label, i, round(avg(v[i]), 6) AS m FROM pos GROUP BY label, i
    )
    SELECT label,
           array_to_string(array_agg(printf('%.6f', m) ORDER BY i), ',')
             AS centroid
    FROM per_dim GROUP BY label
    """,
)
def centroid_per_label(spark, sf_dir):
    """Mean embedding per label (class centroid): posexplode → partial
    avg per (label, dim) → rebuild the array with order imposed by
    array_sort over (dim, value) structs.  The shuffle carries k×dim
    partial sums, never vectors — the same contract as kmeans_fit."""
    emb = _t(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
        .groupBy("label", "i")
        .agg(F.round(F.avg("x"), 6).alias("m"))
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))),
                    # %.6f on BOTH engines: Spark's default double→string
                    # uses scientific notation for |x| < 1e-3
                    lambda s: F.format_string("%.6f", s["m"]),
                ),
                ",",
            ).alias("centroid")
        )
    )


@query("sqlrec_components", oracle=None)  # oracle attached below (import order)
def sqlrec_components(spark, sf_dir):
    """Connected components via Spark 4's WITH RECURSIVE — the
    declarative alternative to the iterative large-star/small-star
    operator (operators/corpus.py), over the same MinHash pair graph
    and checked against the SAME recursive-CTE oracle.

    Spark's recursive CTEs support UNION ALL only (no UNION dedup), so
    unbounded reachability would cycle; the recursion is label-pruned
    (only propagate a label that improves, r.lbl < e.s) and
    depth-bounded at 8 — exact whenever cluster diameter <= 8, which
    near-dup graphs satisfy by construction (clusters are quasi-cliques;
    the measured diameter here is <= 4).  For adversarial topologies
    (long chains) the iterative operator is the production path — this
    query exists to exercise the SQL-recursion surface with an exact
    oracle, not to replace it."""
    from dask_obj_spark.operators.dedup import minhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5).select(
        "id1", "id2"
    )
    pairs.createOrReplaceTempView("sqlrec_pairs")
    docs.createOrReplaceTempView("sqlrec_documents")
    return spark.sql("""
    WITH RECURSIVE edges AS (
      SELECT id1 AS s, id2 AS d FROM sqlrec_pairs
      UNION ALL
      SELECT id2 AS s, id1 AS d FROM sqlrec_pairs
    ), reach AS (
      SELECT s AS id, s AS lbl, 0 AS depth FROM edges
      UNION ALL
      SELECT e.s AS id, r.lbl, r.depth + 1
      FROM reach r JOIN edges e ON e.d = r.id
      WHERE r.depth < 8 AND r.lbl < e.s
    ), comp AS (
      SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
    )
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
                THEN 1 ELSE 0 END AS is_keeper
    FROM sqlrec_documents d LEFT JOIN comp c ON d.doc_id = c.id
    """)


def _attach_sqlrec_oracle() -> None:
    """The oracle is the corpus module's recursive-CTE cluster SQL —
    attached lazily to avoid a circular import at module load."""
    from dask_obj_spark.queries_corpus import _clusters_oracle
    from dask_obj_spark.queries import ORACLE

    ORACLE["sqlrec_components"] = _clusters_oracle()


_attach_sqlrec_oracle()


@query(
    "unpivot_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    """,
)
def unpivot_metrics(spark, sf_dir):
    """Wide→long unpivot (melt): four metric columns become (metric,
    val) rows — the inverse of pivot_status.  Spark's `unpivot` plans a
    single-scan Expand (×4 fan-out), NOT four unioned scans — at 100 TB
    that is one pass over the table instead of four."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    ).withColumn("metric", F.regexp_replace("metric", "^l_", ""))


# ----------------------------------------------------- TPC-H shape battery 2
# Adapted to the driver's synthetic schema (lineitem has no
# shipmode/commitdate; dates are TIMESTAMP) — the SHAPES are the point:
# multi-dim snowflake joins, disjunctive predicates, having + semi-join,
# ratio-of-sums. Each plan is annotated with its 100 TB behavior.


@query(
    "tpch_q5_local_volume",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
      JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_volume(spark, sf_dir):
    """TPC-H q5 shape: 6-table snowflake with the
    supplier-nation = customer-nation co-location predicate.  The three
    dims (region→nation filtered first, supplier) broadcast; lineitem —
    the only large table — flows through BroadcastHashJoins without
    shuffling until the final small groupBy(n_name).  At 100 TB orders
    exceeds broadcast and AQE switches that one join to shuffled-hash;
    the dim joins stay broadcast."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), (li["l_suppkey"] == s["s_suppkey"])
              & (s["s_nationkey"] == c["c_nationkey"]))
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "tpch_q10_returns",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returns(spark, sf_dir):
    """TPC-H q10 shape: lost-revenue ranking of customers with returned
    items.  The returnflag filter pushes to the lineitem scan;
    TakeOrderedAndProject caps at 20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q14_promo",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
)
def tpch_q14_promo(spark, sf_dir):
    """TPC-H q14 shape: ratio-of-conditional-sums (promo revenue share).
    One broadcast join (part is a dim), both sums in ONE aggregate pass
    — no second scan for the denominator."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"))
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 50
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H q18 shape: large-volume orders via HAVING-filtered
    aggregate reused as an IN-subquery → left-semi join on the keeper
    key set.  The pre-aggregate shrinks lineitem to |orders| rows BEFORE
    the 3-way join, and the semi-join probe carries only the 8-byte
    orderkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sq")).filter(
        F.col("sq") > 150
    ).select("l_orderkey")
    return (
        o.join(big.withColumnRenamed("l_orderkey", "bk"),
               F.col("o_orderkey") == F.col("bk"), "left_semi")
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


@query(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def tpch_q19_disjunctive(spark, sf_dir):
    """TPC-H q19 shape: three disjunctive cross-table predicate branches.
    Catalyst derives the single-table implications (brand/size on part,
    quantity range on lineitem) and pushes the OR-of-ranges into both
    scans; the residual disjunction evaluates post-join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    b = lambda brand, s0, s1, q0, q1: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s0, s1)
        & F.col("l_quantity").between(q0, q1)
    )
    return j.filter(
        b("Brand#1", 1, 15, 1, 20) | b("Brand#2", 10, 30, 10, 40) | b("Brand#3", 20, 50, 20, 50)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@query("approx_topk_terms_rowsonly")
def approx_topk_terms_rowsonly(spark, sf_dir):
    """Sketch-based heavy hitters: `approx_top_k` (DataSketches
    frequent-items) over the document token stream — the 100 TB path
    where an exact groupBy-count of the full vocabulary would dominate
    the job. One pass, mergeable sketch state, no full-vocab shuffle.
    Rows-only (sketch internals are engine-specific); exact-parity on
    well-separated counts is pinned in tests/test_core.py."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t"))
    toks.createOrReplaceTempView("approx_toks")
    return spark.sql(
        """
        SELECT s.item AS term, s.count AS approx_n
        FROM (SELECT explode(approx_top_k(t, 10)) AS s FROM approx_toks)
        """
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(sum(value), 6) AS sum_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY event_type
    """,
)
def incremental_agg_merge(spark, sf_dir):
    """Incremental aggregate maintenance: the corpus is split into a
    'standing' partition and a 'late-arriving' delta, each aggregated
    independently, and the PARTIALS are merged — count/sum/min/max are
    all algebraic, so merge(partial(A), partial(B)) ≡ full(A ∪ B),
    which the full-recompute oracle certifies.  This is the compaction
    / materialized-view-maintenance primitive: at 100 TB the standing
    aggregate is a stored table and each micro-batch folds in as one
    tiny groupBy — the full scan never reruns (same contract as
    streaming update mode and foreachBatch upserts)."""
    ev = load_table(spark, sf_dir, "events")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = partial(ev.filter(F.col("event_id") % 10 < 8))
    delta = partial(ev.filter(F.col("event_id") % 10 >= 8))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sv"), 6).alias("sum_value"),
            F.round(F.min("mn"), 6).alias("min_value"),
            F.round(F.max("mx"), 6).alias("max_value"),
        )
    )


@query(
    "incremental_agg_minmax",
    oracle="""
    SELECT event_type,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           count(DISTINCT user_id) AS n_users,
           true AS sketch_merge_consistent
    FROM events GROUP BY event_type
    """,
)
def incremental_agg_minmax(spark, sf_dir):
    """Incremental maintenance of the NON-additive aggregate family:
    min/max (semilattice merge), exact distinct-users (set-union merge),
    and an HLL register sketch (per-register max merge).  The corpus is
    split into a standing partition and a delta, partial states are
    computed independently and MERGED, and the oracle certifies the
    merged result against a full recompute.

    The sketch leg proves merge-invariance inside the query itself,
    in EXACT INTEGER algebra: the per-event_type HLL register tables
    of the two partials, max-merged, must carry the identical scaled
    indicator sum Σ 2^(53-M_j) (exact BIGINT) and nonzero count as a
    single pass over the whole table — the sketch_hll_distinct
    technique.  (The earlier DataSketches ``hll_union_agg`` version
    compared double-typed ESTIMATES, and the library's single-pass
    estimator (HIP) differs from its post-union estimator (composite)
    — the flag flipped at sf0.1.  Register state itself IS
    merge-invariant; comparing it as exact integers is engine- and
    scale-stable.)  At 100 TB the standing state is a stored table of
    (min, max, 256 registers) per key and each delta folds in as one
    tiny merge; the exact ``collect_set`` leg is the
    demonstration-scale analog whose scale path IS the register
    column beside it."""
    from dask_obj_spark.functions.hashing import porthash
    from dask_obj_spark.operators.scale import _HLL_M, _hll_rho

    ev = load_table(spark, sf_dir, "events")

    def regs(df):
        h = porthash(F.col("user_id").cast("string"), "hll")
        rows = df.select(
            "event_type", (h % _HLL_M).alias("bucket"), h.alias("h")
        ).select(
            "event_type", "bucket", F.expr(f"CAST(h div {_HLL_M} AS BIGINT)").alias("w")
        )
        return (
            rows.select("event_type", "bucket", _hll_rho(F.col("w")).alias("rho"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("m"))
        )

    def reg_state(r, zs_name, nz_name):
        # empty registers contribute 2^53 each; only non-empty rows exist
        return r.groupBy("event_type").agg(
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))"))
                + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1 << 53)
            ).alias(zs_name),
            F.count(F.lit(1)).alias(nz_name),
        )

    base_pred = F.col("event_id") % 10 < 8
    merged_regs = (
        regs(ev.filter(base_pred))
        .unionByName(regs(ev.filter(~base_pred)))
        .groupBy("event_type", "bucket")
        .agg(F.max("m").alias("m"))
    )
    merged_state = reg_state(merged_regs, "zs_m", "nz_m")
    single_state = reg_state(regs(ev), "zs_s", "nz_s")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.collect_set("user_id").alias("us"),
        )

    merged = (
        partial(ev.filter(base_pred))
        .unionByName(partial(ev.filter(~base_pred)))
        .groupBy("event_type")
        .agg(
            F.round(F.min("mn"), 6).alias("min_value"),
            F.round(F.max("mx"), 6).alias("max_value"),
            F.size(F.array_distinct(F.flatten(F.collect_list("us")))).alias("n_users"),
        )
    )
    # event_type is an enum-bounded dimension (constant-bounded side)
    return (
        merged.join(F.broadcast(merged_state), "event_type")
        .join(F.broadcast(single_state), "event_type")
        .select(
            "event_type",
            "min_value",
            "max_value",
            F.col("n_users").cast("long").alias("n_users"),
            (
                (F.col("zs_m") == F.col("zs_s")) & (F.col("nz_m") == F.col("nz_s"))
            ).alias("sketch_merge_consistent"),
        )
    )


@query(
    "profile_value_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 50000) AS BIGINT) * 50000 AS lo,
           count(*) AS n,
           round(avg(o_totalprice), 6) AS mean_in_bucket
    FROM orders GROUP BY 1, 2
    """,
)
def profile_value_histogram(spark, sf_dir):
    """Fixed-width histogram of order values: bucket = floor(v / w) with
    a constant anchor, so the plan is one scan + one tiny-key aggregate
    — no global sort, no two-pass min/max (the equi-DEPTH variant needs
    ntile = a global sort; fixed-width is the scan-bandwidth profiling
    shape, and AQE coalesces the near-empty tail buckets)."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 6).alias("mean_in_bucket"),
        )
        .select(
            "bucket", (F.col("bucket") * 50000).alias("lo"), "n", "mean_in_bucket"
        )
    )


@query(
    "profile_table_checksum",
    oracle=f"""
    SELECT count(*) AS n_rows,
           bit_xor({{h}}) AS row_xor
    FROM lineitem
    """.format(
        h="('0x' || substr(md5(l_orderkey::VARCHAR || '|' || "
        "l_linenumber::VARCHAR || '|' || l_quantity::VARCHAR), 1, 15))::BIGINT"
    ),
)
def profile_table_checksum(spark, sf_dir):
    """Order-insensitive table fingerprint: per-row portable hash of the
    canonicalized key columns, combined with bit_xor + a row count.
    The cross-engine/cross-cluster integrity primitive — two replicas
    (or a migration source and target) compare ONE row of state instead
    of shipping data; any dropped/duplicated/mutated row flips it.
    Map-side combinable, shuffle carries one partial per task. The
    oracle computing the identical checksum from the same parquet IS
    the demonstration."""
    li = _t(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"), F.bit_xor(h).alias("row_xor")
    )


@query(
    "profile_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.50) AS q2,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
    )
    SELECT CASE WHEN o_totalprice <= b.q1 THEN 0
                WHEN o_totalprice <= b.q2 THEN 1
                WHEN o_totalprice <= b.q3 THEN 2
                ELSE 3 END AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 6) AS lo,
           round(max(o_totalprice), 6) AS hi
    FROM orders CROSS JOIN b
    GROUP BY 1
    """,
)
def profile_equidepth_histogram(spark, sf_dir):
    """Equi-DEPTH histogram without a global sort: exact quartile
    boundaries from ONE aggregate (Spark percentile ≡ DuckDB
    quantile_cont, linear interpolation both), broadcast back as a
    1-row table, then a CASE bucket + count.  This two-phase shape is
    how equi-depth works at 100 TB — ntile() would be a global sort;
    at that scale the boundary pass swaps to percentile_approx with
    the identical downstream plan."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.50).alias("q2"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    )
    p = F.col("o_totalprice")
    bucket = (
        F.when(p <= F.col("q1"), 0)
        .when(p <= F.col("q2"), 1)
        .when(p <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(p), 6).alias("lo"),
            F.round(F.max(p), 6).alias("hi"),
        )
    )


@query(
    "basket_item_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
      SELECT count(DISTINCT l_orderkey) AS total FROM items
    ), part_n AS (
      SELECT l_partkey, count(*) AS n FROM items GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p.p1, p.p2, p.support,
           round(p.support / n1.n, 6) AS conf_1_to_2,
           round((p.support * t.total * 1.0) / (n1.n * 1.0 * n2.n), 6) AS lift
    FROM pairs p
    JOIN part_n n1 ON n1.l_partkey = p.p1
    JOIN part_n n2 ON n2.l_partkey = p.p2
    CROSS JOIN n_orders t
    WHERE p.support >= 3
    """,
)
def basket_item_pairs(spark, sf_dir):
    """Market-basket co-occurrence: part pairs ordered together, with
    support, confidence, and lift (the association-rules primitive).
    The pair self-join is keyed on the order — candidate fan-out is
    bounded by per-basket size squared, never corpus size, and the
    support filter prunes before the stats joins (which are
    dimension-sized broadcasts).  The same shape mines token
    co-occurrence or co-click graphs at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    items = pin(li.select("l_orderkey", "l_partkey").distinct())
    total = items.select("l_orderkey").distinct().count()
    part_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    n1 = part_n.select(F.col("l_partkey").alias("p1"), F.col("n").alias("n1"))
    n2 = part_n.select(F.col("l_partkey").alias("p2"), F.col("n").alias("n2"))
    return (
        pairs.join(F.broadcast(n1), "p1")
        .join(F.broadcast(n2), "p2")
        .select(
            "p1",
            "p2",
            "support",
            F.round(F.col("support") / F.col("n1"), 6).alias("conf_1_to_2"),
            # n1 * 1.0 * n2 on BOTH engines: two hot parts' count
            # product is the BIGINT-overflow class at 100 TB (r14
            # review); double is exact below 2^53 so hashes hold
            F.round(
                (F.col("support") * F.lit(float(total)))
                / (F.col("n1") * 1.0 * F.col("n2")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "ts_latest_per_key",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id,
           floor(epoch(ts))::BIGINT AS ts_secs,
           round(value, 6) AS value
    FROM ranked WHERE rn = 1
    """,
)
def ts_latest_per_key(spark, sf_dir):
    """CDC/upsert compaction: keep the latest row per key (ts desc,
    id desc tiebreak) — the MERGE-collapse primitive every changelog
    consumer runs.  One window over the key partitioning; at 100 TB
    this is the compaction pass over a bucketed changelog table, and
    the same plan serves 'current state' materialized views."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("ts_secs"),
            F.round("value", 6).alias("value"),
        )
    )


@query(
    "profile_mutual_information",
    oracle="""
    WITH n AS (
      SELECT count(*) AS total FROM documents
    ), joint AS (
      SELECT lang, source, count(*) AS n_xy FROM documents GROUP BY lang, source
    ), px AS (
      SELECT lang, count(*) AS n_x FROM documents GROUP BY lang
    ), py AS (
      SELECT source, count(*) AS n_y FROM documents GROUP BY source
    ), contrib AS (
      SELECT j.lang, j.source, j.n_xy,
             round(ln((j.n_xy * 1.0 * n.total) / (x.n_x * 1.0 * y.n_y)), 6) AS pmi,
             (j.n_xy * 1.0 / n.total)
               * ln((j.n_xy * 1.0 * n.total) / (x.n_x * 1.0 * y.n_y)) AS c_raw
      FROM joint j
      JOIN px x ON j.lang = x.lang
      JOIN py y ON j.source = y.source
      CROSS JOIN n
    )
    SELECT lang, source, n_xy, pmi,
           round(c_raw, 6) AS contrib,
           round(sum(c_raw) OVER (), 6) AS mi_total
    FROM contrib
    """,
)
def profile_mutual_information(spark, sf_dir):
    """Mutual information between two categorical columns (lang ×
    source), decomposed per cell: pointwise MI, the cell's weighted
    contribution, and the total MI replicated on every row — the
    column-dependency profile a schema-drift / feature-selection pass
    computes over every categorical pair.

    Plan: three hash aggregates of the corpus (joint + two marginals);
    the marginals broadcast back onto the joint table, which is
    dimension-sized (|lang| x |source|), so the final unpartitioned
    window for the total runs over a handful of rows, never the corpus.
    At 100 TB the only corpus-wide work is the three codegen'd
    count-aggregates — one shuffle each, map-side combined."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("total"))
    joint = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_xy"))
    px = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_x"))
    py = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_y"))
    # count PRODUCTS go through double (* 1.0, mirroring the oracle's
    # `n_xy * 1.0 * total`): a BIGINT*BIGINT product wraps/crashes past
    # 2^63 on Spark at 100 TB corpus sizes while DuckDB's SQL was
    # already double — the r13 burst-detection overflow class, caught
    # on the Spark side here in the r14 review.  Exact below 2^53, so
    # bench-scale values and hashes are unchanged.
    c_raw = (F.col("n_xy") / F.col("total")) * F.log(
        (F.col("n_xy") * 1.0 * F.col("total")) / (F.col("n_x") * 1.0 * F.col("n_y"))
    )
    contrib = (
        joint.join(F.broadcast(px), "lang")
        .join(F.broadcast(py), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "n_xy",
            F.round(
                F.log(
                    (F.col("n_xy") * 1.0 * F.col("total"))
                    / (F.col("n_x") * 1.0 * F.col("n_y"))
                ),
                6,
            ).alias("pmi"),
            c_raw.alias("c_raw"),
        )
    )
    w = Window.partitionBy()  # dimension-sized input: |lang| x |source| rows
    return contrib.select(
        "lang",
        "source",
        "n_xy",
        "pmi",
        F.round("c_raw", 6).alias("contrib"),
        F.round(F.sum("c_raw").over(w), 6).alias("mi_total"),
    )


@query(
    "stats_spearman_corr",
    oracle="""
    WITH gx AS (
      SELECT l_quantity AS v, count(*) AS c FROM lineitem GROUP BY l_quantity
    ), rx AS (
      SELECT v,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS r
      FROM gx
    ), gy AS (
      SELECT l_extendedprice AS v, count(*) AS c FROM lineitem
      GROUP BY l_extendedprice
    ), ry AS (
      SELECT v,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS r
      FROM gy
    )
    SELECT round(corr(rx.r, ry.r), 6) AS spearman_rho,
           count(*)::BIGINT AS n_rows
    FROM lineitem l
    JOIN rx ON l.l_quantity = rx.v
    JOIN ry ON l.l_extendedprice = ry.v
    """,
)
def stats_spearman_corr(spark, sf_dir):
    """Spearman rank correlation of quantity vs extended price — the
    monotone-dependence profile (Pearson over average ranks, standard
    tie handling).

    Scale shape: ranks are NOT assigned by a global row window over the
    fact table.  Each variable's average rank comes from its
    DISTINCT-VALUE table (count per value, exclusive running sum + half
    the tie block) — the window runs over |distinct values| rows, then
    the tiny rank tables broadcast-join back onto the facts and a single
    corr() aggregate finishes.  For a variable whose distinct count is
    itself huge, the running sum generalizes to the two-phase
    partition-offset scan used by profile_equidepth_histogram."""
    li = _t(spark, sf_dir, "lineitem")

    def avg_ranks(col: str):
        g = li.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return g.select(
            "v",
            (F.coalesce(F.sum("c").over(w), F.lit(0)) + (F.col("c") + 1) / 2.0).alias(
                "r"
            ),
        )

    rx = avg_ranks("l_quantity").withColumnRenamed("r", "rx")
    ry = avg_ranks("l_extendedprice").withColumnRenamed("r", "ry")
    # quantity has ~50 distinct values → broadcast; extendedprice is
    # high-cardinality (≈ one rank row per distinct price), so its rank
    # join must stay a plain equi-join for Catalyst/AQE to pick the
    # strategy — a forced broadcast there would not survive 100 TB
    joined = li.select("l_quantity", "l_extendedprice").join(
        F.broadcast(rx), li["l_quantity"] == rx["v"]
    ).join(ry, li["l_extendedprice"] == ry["v"])
    return joined.agg(
        F.round(F.corr("rx", "ry"), 6).alias("spearman_rho"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "profile_kl_drift",
    oracle="""
    WITH langs AS (
      SELECT DISTINCT lang FROM documents
    ), v AS (
      SELECT count(*) AS nv FROM langs
    ), gcnt AS (
      SELECT lang, count(*) AS c FROM documents GROUP BY lang
    ), gn AS (
      SELECT count(*) AS n FROM documents
    ), srcs AS (
      SELECT source, count(*) AS ns FROM documents GROUP BY source
    ), cell AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang
    ), grid AS (
      SELECT s.source, l.lang, s.ns, coalesce(c.c, 0) AS c
      FROM srcs s CROSS JOIN langs l
      LEFT JOIN cell c ON c.source = s.source AND c.lang = l.lang
    ), p AS (
      SELECT g.source, g.ns,
             (g.c + 1.0) / (g.ns + v.nv) AS p_sl,
             (gl.c + 1.0) / (gn.n + v.nv) AS p_l
      FROM grid g
      JOIN gcnt gl ON gl.lang = g.lang
      CROSS JOIN v CROSS JOIN gn
    )
    SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
           round(sum(p_sl * ln(p_sl / p_l)), 6) AS kl
    FROM p GROUP BY source
    """,
)
def profile_kl_drift(spark, sf_dir):
    """Distribution-drift profile: KL divergence of each source's
    language distribution from the corpus-wide distribution (add-one
    smoothed over the observed lang vocabulary) — the per-shard drift
    alarm a data-quality monitor computes for every categorical column
    on every ingest batch.

    Plan: everything after the two count aggregates is dimension-sized
    — the (source x lang) grid is built by cross-joining the two tiny
    key lists so ABSENT cells participate with their smoothed mass
    (a per-cell groupBy alone would silently skip them and understate
    the divergence).  At 100 TB the corpus-wide work is two codegen'd
    hash aggregates; the grid, joins and the final per-source sum touch
    |sources| x |langs| rows."""
    docs = _t(spark, sf_dir, "documents")
    langs = docs.select("lang").distinct()
    nv = langs.count()
    n = docs.count()
    glob = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("gc"))
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    cell = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    grid = (
        srcs.crossJoin(F.broadcast(langs))
        .join(cell, ["source", "lang"], "left")
        .select("source", "lang", "ns", F.coalesce("c", F.lit(0)).alias("c"))
    )
    p = grid.join(F.broadcast(glob), "lang").select(
        "source",
        "ns",
        ((F.col("c") + 1.0) / (F.col("ns") + F.lit(nv))).alias("p_sl"),
        ((F.col("gc") + 1.0) / (F.lit(n) + F.lit(nv))).alias("p_l"),
    )
    return p.groupBy("source").agg(
        F.max("ns").cast("bigint").alias("n_docs"),
        F.round(F.sum(F.col("p_sl") * F.log(F.col("p_sl") / F.col("p_l"))), 6).alias(
            "kl"
        ),
    )


@query(
    "profile_dp_release",
    oracle="""
    WITH counts AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ), seeded AS (
      SELECT event_type, n,
             ((('0x' || substr(md5(event_type || '#dp'), 1, 15))::BIGINT
               % 1000000) + 0.5) / 1000000.0 AS u
      FROM counts
    )
    SELECT event_type, n,
           round(n + (-1.0) * (CASE WHEN u < 0.5 THEN -1 ELSE 1 END)
                 * ln(1 - 2 * abs(u - 0.5)), 6) AS released
    FROM seeded
    """,
)
def profile_dp_release(spark, sf_dir):
    """Differentially-private count release: per-type event counts with
    Laplace(1/eps) noise, eps = 1 (inverse-CDF sampling of the Laplace
    from one uniform draw).

    The uniform is derived from the portable keyed hash instead of an
    RNG so the release is REPRODUCIBLE and oracle-checkable — the
    pattern for seeded/deterministic DP pipelines (a production release
    swaps the hash for a secret-seeded PRF; the plan is unchanged).
    Noise addition is per-GROUP, post-aggregation: zero cost at any
    scale, no per-row work — the DP mechanism lives entirely on the
    dimension-sized result."""
    from dask_obj_spark.functions.hashing import porthash

    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = (porthash(F.col("event_type"), "dp") % 1000000 + 0.5) / 1000000.0
    sign = F.when(u < 0.5, F.lit(-1)).otherwise(F.lit(1))
    noise = F.lit(-1.0) * sign * F.log(1 - 2 * F.abs(u - 0.5))
    return counts.select(
        "event_type", "n", F.round(F.col("n") + noise, 6).alias("released")
    )


@query(
    "profile_key_skew_gini",
    oracle="""
    WITH c AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), g AS (
      SELECT cnt, count(*) AS k FROM c GROUP BY cnt
    ), r AS (
      SELECT cnt, k,
             coalesce(sum(k) OVER (ORDER BY cnt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0
      FROM g
    ), s AS (
      SELECT CAST(sum(k) AS BIGINT) AS n_keys,
             CAST(sum(cnt * k) AS BIGINT) AS n_rows,
             CAST(sum(cnt * (k * r0 + k * (k + 1) / 2)) AS BIGINT) AS rank_mass,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM r
    )
    SELECT n_keys, n_rows,
           round(2.0 * rank_mass / (n_keys * 1.0 * n_rows)
                 - (n_keys + 1.0) / n_keys, 6) AS gini,
           round(max_cnt * 1.0 / n_rows, 6) AS top_key_share
    FROM s
    """,
)
def profile_key_skew_gini(spark, sf_dir):
    """Key-skew diagnostic: Gini coefficient of the per-user event-count
    distribution plus the hottest key's share — the numbers that decide
    whether a join/agg on this key needs salting or AQE skew handling
    BEFORE the job runs.

    Scale shape: the corpus collapses to a per-key count table in one
    hash aggregate; the Gini rank mass is then computed WITHOUT sorting
    individual keys — counts are grouped by value and tie blocks
    contribute c·(k·r0 + k(k+1)/2) in closed form, so the running-sum
    window scans |distinct count values| rows (tiny: counts concentrate)
    — the same two-phase ranking trick as stats_spearman_corr.  All
    rank mass stays in exact integer arithmetic; division happens once
    at the end."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    g = c.groupBy("cnt").agg(F.count(F.lit(1)).alias("k"))
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "cnt", "k", F.coalesce(F.sum("k").over(w), F.lit(0)).alias("r0")
    )
    s = r.agg(
        F.sum("k").cast("bigint").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("k")).cast("bigint").alias("n_rows"),
        F.sum(
            F.col("cnt")
            * (F.col("k") * F.col("r0") + F.col("k") * (F.col("k") + 1) / 2)
        )
        .cast("bigint")
        .alias("rank_mass"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    return s.select(
        "n_keys",
        "n_rows",
        # n_keys * 1.0 * n_rows like the oracle: the raw BIGINT product
        # wraps past 2^63 at 100 TB key×row volumes on Spark while the
        # oracle SQL was already double (r14 review, burst class)
        F.round(
            2.0 * F.col("rank_mass") / (F.col("n_keys") * 1.0 * F.col("n_rows"))
            - (F.col("n_keys") + 1.0) / F.col("n_keys"),
            6,
        ).alias("gini"),
        F.round(F.col("max_cnt") / F.col("n_rows"), 6).alias("top_key_share"),
    )


@query(
    "profile_benford_digits",
    oracle="""
    WITH v AS (
      SELECT substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT) AS VARCHAR),
                    1, 1) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), n AS (
      SELECT count(*) AS total FROM v
    ), obs AS (
      SELECT digit, count(*) AS n_obs FROM v GROUP BY digit
    )
    SELECT o.digit, o.n_obs,
           round(o.n_obs * 1.0 / n.total, 6) AS p_obs,
           round(ln(1.0 + 1.0 / CAST(o.digit AS BIGINT)) / ln(10.0), 6)
             AS p_benford,
           round(abs(o.n_obs * 1.0 / n.total
                     - ln(1.0 + 1.0 / CAST(o.digit AS BIGINT)) / ln(10.0)), 6)
             AS abs_dev
    FROM obs o CROSS JOIN n
    """,
)
def profile_benford_digits(spark, sf_dir):
    """Benford's-law first-digit profile of order totals: observed
    leading-digit frequencies vs the log10(1 + 1/d) expectation with
    per-digit absolute deviation — the classic fraud / synthetic-data
    screen a profiling pass runs over every monetary column.

    Plan: leading digit via integer-string truncation (no float
    formatting — the value is floored to BIGINT first, so both engines
    stringify identically), one hash aggregate, then a 9-row result
    against broadcast total.  Corpus-scale work is the single count
    aggregate."""
    o = _t(spark, sf_dir, "orders")
    v = o.filter(F.col("o_totalprice") >= 1).select(
        # explicit floor: Spark's double->bigint cast truncates while
        # DuckDB's ROUNDS (half-even) — the SKILL.md cast-semantics class
        F.substring(
            F.floor(F.abs(F.col("o_totalprice"))).cast("bigint").cast("string"),
            1, 1,
        ).alias("digit")
    )
    n = v.agg(F.count(F.lit(1)).alias("total"))
    obs = v.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    p_ben = F.log(1.0 + 1.0 / F.col("digit").cast("bigint")) / F.log(F.lit(10.0))
    return obs.crossJoin(F.broadcast(n)).select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs") / F.col("total"), 6).alias("p_obs"),
        F.round(p_ben, 6).alias("p_benford"),
        F.round(F.abs(F.col("n_obs") / F.col("total") - p_ben), 6).alias("abs_dev"),
    )


@query(
    "eval_ab_lift",
    oracle="""
    WITH armed AS (
      SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#ab'), 1, 15))::BIGINT
               % 2 AS arm,
             value
      FROM events
    ), stats AS (
      SELECT arm, count(*) AS n,
             avg(value) AS mu,
             var_samp(value) AS v
      FROM armed GROUP BY arm
    ), wide AS (
      SELECT
        max(CASE WHEN arm = 0 THEN n END) AS n_a,
        max(CASE WHEN arm = 0 THEN mu END) AS mu_a,
        max(CASE WHEN arm = 0 THEN v END) AS v_a,
        max(CASE WHEN arm = 1 THEN n END) AS n_b,
        max(CASE WHEN arm = 1 THEN mu END) AS mu_b,
        max(CASE WHEN arm = 1 THEN v END) AS v_b
      FROM stats
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(mu_a, 6) AS mean_a, round(mu_b, 6) AS mean_b,
           round(mu_b - mu_a, 6) AS lift,
           round((mu_b - mu_a) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_welch
    FROM wide
    """,
)
def eval_ab_lift(spark, sf_dir):
    """A/B experiment readout: users deterministically hash-assigned to
    two arms (the portable keyed hash — the same bucketing a real
    experimentation system uses so assignment is stable across
    sessions), per-arm mean/variance, lift, and the Welch t statistic.

    Plan: one scan, one two-group aggregate, one pivot of a 2-row
    table.  The per-arm moments are algebraic (map-side combined); at
    100 TB this is a single codegen'd aggregate whatever the event
    volume.  Cross-engine: hash assignment replays exactly; the moment
    sums' last-ulp ordering noise is absorbed by 6-dp rounding."""
    from dask_obj_spark.functions.hashing import porthash

    ev = _t(spark, sf_dir, "events")
    armed = ev.select(
        (porthash(F.col("user_id").cast("string"), "ab") % 2).alias("arm"),
        "value",
    )
    stats = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    wide = stats.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("mu"))).alias("mu_a"),
        F.max(F.when(F.col("arm") == 0, F.col("v"))).alias("v_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("mu"))).alias("mu_b"),
        F.max(F.when(F.col("arm") == 1, F.col("v"))).alias("v_b"),
    )
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("mu_a", 6).alias("mean_a"),
        F.round("mu_b", 6).alias("mean_b"),
        F.round(F.col("mu_b") - F.col("mu_a"), 6).alias("lift"),
        F.round(
            (F.col("mu_b") - F.col("mu_a"))
            / F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")),
            6,
        ).alias("t_welch"),
    )


@query(
    "eval_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             avg(CASE WHEN event_id % 2 = 0 THEN value END) AS pre,
             avg(CASE WHEN event_id % 2 = 1 THEN value END) AS post
      FROM events GROUP BY user_id
      HAVING count(CASE WHEN event_id % 2 = 0 THEN 1 END) > 0
         AND count(CASE WHEN event_id % 2 = 1 THEN 1 END) > 0
    ), armed AS (
      SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#ab'), 1, 15))::BIGINT
               % 2 AS arm,
             pre, post
      FROM per_user
    ), theta AS (
      SELECT floor((covar_samp(pre, post) / var_samp(pre)) * 1000000) / 1000000
               AS th,
             floor(avg(pre) * 1000000) / 1000000 AS pre_mu
      FROM armed
    ), adj AS (
      SELECT arm, post, post - th * (pre - pre_mu) AS post_adj
      FROM armed CROSS JOIN theta
    ), vr AS (
      SELECT round(1.0 - var_samp(post_adj) / var_samp(post), 6) AS var_reduction
      FROM adj
    )
    SELECT arm, count(*) AS n_users,
           round(avg(post), 6) AS mean_post,
           round(avg(post_adj), 6) AS mean_adj,
           (SELECT var_reduction FROM vr) AS var_reduction
    FROM adj GROUP BY arm
    """,
)
def eval_cuped_adjustment(spark, sf_dir):
    """CUPED variance reduction for the A/B readout: each user's
    pre-period metric (even event ids) regresses out of their
    post-period metric (odd event ids), shrinking arm variance without
    biasing the lift — the standard trick that cuts experiment runtime.

    theta = cov(pre, post)/var(pre) and the pre-period mean are
    floor-quantized to micro-units before the adjustment (the
    cross-engine contract: both are order-sensitive aggregate ratios
    feeding every row).  Plan: one per-user aggregate, a 1-row theta
    aggregate broadcast back, one per-arm aggregate — three shuffles
    total, all keyed/map-side-combined, at any scale."""
    from dask_obj_spark.functions.hashing import porthash

    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.avg(F.when(F.col("event_id") % 2 == 0, F.col("value"))).alias("pre"),
            F.avg(F.when(F.col("event_id") % 2 == 1, F.col("value"))).alias("post"),
            F.count(F.when(F.col("event_id") % 2 == 0, 1)).alias("n_pre"),
            F.count(F.when(F.col("event_id") % 2 == 1, 1)).alias("n_post"),
        )
        .filter((F.col("n_pre") > 0) & (F.col("n_post") > 0))
    )
    armed = per_user.select(
        (porthash(F.col("user_id").cast("string"), "ab") % 2).alias("arm"),
        "pre",
        "post",
    )
    theta = armed.agg(
        (F.floor((F.covar_samp("pre", "post") / F.var_samp("pre")) * 1000000)
         / 1000000).alias("th"),
        (F.floor(F.avg("pre") * 1000000) / 1000000).alias("pre_mu"),
    )
    adj = armed.crossJoin(F.broadcast(theta)).select(
        "arm",
        "post",
        (F.col("post") - F.col("th") * (F.col("pre") - F.col("pre_mu"))).alias(
            "post_adj"
        ),
    )
    vr = adj.agg(
        F.round(1.0 - F.var_samp("post_adj") / F.var_samp("post"), 6).alias(
            "var_reduction"
        )
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("post"), 6).alias("mean_post"),
            F.round(F.avg("post_adj"), 6).alias("mean_adj"),
        )
        .crossJoin(F.broadcast(vr))
    )


@query(
    "stats_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.event_id, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON m.event_type = e.event_type
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           round(d.med, 6) AS med,
           round(m.mad, 6) AS mad,
           CAST(abs(d.value - d.med) > 3 * 1.4826 * m.mad AS INT) AS is_outlier
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    """,
)
def stats_mad_outliers(spark, sf_dir):
    """Robust outlier flags by median absolute deviation: per event
    type, the median and MAD (scaled by 1.4826 to estimate sigma under
    normality), flagging |x - med| > 3 scaled MADs — the outlier screen
    that, unlike z-scores, is not itself corrupted by the outliers it
    hunts.

    Plan: two exact-percentile aggregates (per-type median, then
    per-type median of absolute deviations) with the tiny per-type
    tables broadcast back between them — two corpus scans, no window,
    no sort of the fact table (F.percentile aggregates).  Cross-engine:
    exact interpolated percentiles are identical; the comparison
    operands derive from them deterministically."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        (F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
        .cast("int")
        .alias("is_outlier"),
    )


@query(
    "stats_chi2_independence",
    oracle="""
    WITH n AS (
      SELECT count(*) AS total FROM documents
    ), joint AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
    ), px AS (
      SELECT lang, count(*) AS n_x FROM documents GROUP BY lang
    ), py AS (
      SELECT source, count(*) AS n_y FROM documents GROUP BY source
    ), grid AS (
      SELECT x.lang, y.source, x.n_x, y.n_y,
             coalesce(j.o, 0) AS o,
             x.n_x * 1.0 * y.n_y / n.total AS e
      FROM px x CROSS JOIN py y
      LEFT JOIN joint j ON j.lang = x.lang AND j.source = y.source
      CROSS JOIN n
    )
    SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
           CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
                AS BIGINT) AS dof,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM grid
    """,
)
def stats_chi2_independence(spark, sf_dir):
    """Pearson chi-square test of independence for lang × source: the
    statistic, degrees of freedom, and cell count — the hypothesis-test
    companion to profile_mutual_information (MI measures the strength
    of dependence; chi2 scales it against sampling noise).

    The full marginal grid (cross join of the two tiny key lists, LEFT
    joined with observed cells) includes zero-observation cells, which
    carry expected mass and belong in the statistic.  All corpus-wide
    work is three count aggregates; the grid is dimension-sized."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    joint = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    px = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_x"))
    py = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_y"))
    grid = (
        px.crossJoin(F.broadcast(py))
        .join(joint, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce("o", F.lit(0)).alias("o"),
            # n_x * 1.0 * n_y: double product like the oracle's
            # `x.n_x * 1.0 * y.n_y` — BIGINT*BIGINT wraps past 2^63 at
            # 100 TB marginals (r14 review, burst-overflow class)
            (F.col("n_x") * 1.0 * F.col("n_y") / F.lit(float(n))).alias("e"),
        )
    )
    return grid.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            6,
        ).alias("chi2"),
        ((F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1))
        .cast("bigint")
        .alias("dof"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )


_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563",
)
_BOOT_B = 32  # bootstrap replicas


def _boot_weight_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 5 END)"


@query(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT e.value, r.r,
             {_boot_weight_sql(
                 "((('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '#boot' "
                 "|| CAST(r.r AS VARCHAR)), 1, 15))::BIGINT % 1000000) + 0.5) "
                 "/ 1000000.0"
             )} AS w
      FROM events e CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS r) r
    ), means AS (
      SELECT r, round(sum(w * value) / sum(w), 6) AS mu
      FROM reps GROUP BY r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicas,
           round((SELECT avg(value) FROM events), 6) AS mean_full,
           round(quantile_cont(mu, 0.025), 6) AS ci_lo,
           round(quantile_cont(mu, 0.975), 6) AS ci_hi,
           round(stddev_samp(mu), 6) AS se_boot
    FROM means
    """,
)
def stats_bootstrap_ci(spark, sf_dir):
    """Bootstrap confidence interval for the mean event value by
    POISSONIZED resampling: each of the 32 replicas weights every row
    by a Poisson(1) draw derived from the keyed hash (inverse CDF over
    a hash-uniform), so the whole bootstrap is ONE scan producing 32
    weighted means — no per-replica shuffling of the data, and fully
    deterministic/oracle-checkable (a production run swaps the hash
    for a seeded PRF; the plan is unchanged).

    Poissonization is the standard distributed-bootstrap trick:
    multinomial resampling needs global coordination, Poisson(1)
    weights are independent per (row, replica) and the replica total
    concentrates at n.  Per-replica means are rounded to 6 dp before
    the percentile so the tiny engine-order sum noise cannot reorder
    nearly-equal replicas.  Scale: the explode is x32 rows of (value,
    weight) — at 100 TB run it on the statistic's sufficient columns
    only; the aggregate is map-side combined."""
    from dask_obj_spark.functions.hashing import porthash

    ev = _t(spark, sf_dir, "events")
    reps = ev.select("event_id", "value").crossJoin(
        F.broadcast(
            ev.sparkSession.range(_BOOT_B).select(F.col("id").cast("int").alias("r"))
        )
    )
    u = (
        porthash(
            F.concat(F.col("event_id").cast("string"), F.lit("#boot"),
                     F.col("r").cast("string")),
        )
        % 1000000
        + 0.5
    ) / 1000000.0
    w = F.when(u < float(_POIS_CDF[0]), 0)
    for k in range(1, 5):
        w = w.when(u < float(_POIS_CDF[k]), k)
    w = w.otherwise(5)
    means = (
        reps.select("r", "value", w.alias("w"))
        .groupBy("r")
        .agg(F.round(F.sum(F.col("w") * F.col("value")) / F.sum("w"), 6).alias("mu"))
    )
    full = ev.agg(F.round(F.avg("value"), 6).alias("mean_full"))
    return means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.round(F.percentile("mu", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("mu", F.lit(0.975)), 6).alias("ci_hi"),
        F.round(F.stddev_samp("mu"), 6).alias("se_boot"),
    ).crossJoin(F.broadcast(full)).select(
        "n_replicas", "mean_full", "ci_lo", "ci_hi", "se_boot"
    )


@query(
    "funnel_conversion_lag",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t1
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      GROUP BY e.user_id
    ), lags AS (
      SELECT 'view_to_click' AS transition,
             floor(epoch(t2.t2))::BIGINT - floor(epoch(t1.t1))::BIGINT AS lag_s
      FROM t2 JOIN t1 ON t1.user_id = t2.user_id
      UNION ALL
      SELECT 'click_to_purchase' AS transition,
             floor(epoch(t3.t3))::BIGINT - floor(epoch(t2.t2))::BIGINT AS lag_s
      FROM t3 JOIN t2 ON t2.user_id = t3.user_id
    )
    SELECT transition, count(*) AS n_users,
           round(avg(lag_s), 6) AS mean_lag_s,
           round(quantile_cont(lag_s, 0.5), 6) AS p50_lag_s,
           round(quantile_cont(lag_s, 0.9), 6) AS p90_lag_s
    FROM lags GROUP BY transition
    """,
)
def funnel_conversion_lag(spark, sf_dir):
    """Time-to-convert for each funnel transition (first qualifying
    view → click, click → purchase): per-transition user counts, mean
    and exact p50/p90 lags in seconds — the companion to funnel_stages
    that tells you not just WHERE users drop but HOW LONG conversion
    takes (the attribution-window calibration input).

    Same chained per-user min-aggregation plan as funnel_stages (one
    user_id partitioning reused end-to-end); lags are integer epoch
    second differences (floor on both engines), percentiles exact
    interpolated."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.join(t1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.join(t2, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lag1 = t2.join(t1, "user_id").select(
        F.lit("view_to_click").alias("transition"),
        (F.unix_timestamp("t2") - F.unix_timestamp("t1")).alias("lag_s"),
    )
    lag2 = t3.join(t2, "user_id").select(
        F.lit("click_to_purchase").alias("transition"),
        (F.unix_timestamp("t3") - F.unix_timestamp("t2")).alias("lag_s"),
    )
    return lag1.union(lag2).groupBy("transition").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("lag_s"), 6).alias("mean_lag_s"),
        F.round(F.percentile("lag_s", F.lit(0.5)), 6).alias("p50_lag_s"),
        F.round(F.percentile("lag_s", F.lit(0.9)), 6).alias("p90_lag_s"),
    )


@query(
    "incremental_agg_quantile",
    oracle="""
    WITH binned AS (
      SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS b
      FROM events
    ), hist AS (
      SELECT event_type, b, count(*) AS c FROM binned GROUP BY event_type, b
    ), tot AS (
      SELECT event_type, sum(c) AS n FROM hist GROUP BY event_type
    ), cum AS (
      SELECT h.event_type, h.b, h.c, t.n,
             sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.b
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cm
      FROM hist h JOIN tot t ON t.event_type = h.event_type
    ), med AS (
      SELECT event_type, min(b) AS med_bin FROM cum
      WHERE cm * 2 >= n GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(t.n AS BIGINT) AS n,
           round(m.med_bin / 100.0, 6) AS binned_p50,
           1 AS merge_consistent
    FROM med m JOIN tot t ON t.event_type = m.event_type
    """,
)
def incremental_agg_quantile(spark, sf_dir):
    """Incremental quantile maintenance: a fixed-resolution (centi-unit)
    histogram is the mergeable state — per-split histograms SUM into the
    global one, and the binned median reads off the cumulative counts.
    Third member of the incremental family (sum/count, min/max+sketch,
    now order statistics), the approximation contract being the bin
    width (here 0.01 absolute).

    The query itself proves merge-invariance: the corpus splits into a
    standing part and a delta, each aggregates its own histogram, the
    partials merge, and the merged median is compared in-plan to the
    full-recompute median (`merge_consistent` — histogram addition is
    exact, so any mismatch fails the hash).  All arithmetic is integer
    until the final bin→value division."""
    ev = _t(spark, sf_dir, "events")
    b = F.floor(F.col("value") * 100).cast("bigint").alias("b")

    def hist(df):
        return df.select("event_type", b).groupBy("event_type", "b").agg(
            F.count(F.lit(1)).alias("c")
        )

    part_a = hist(ev.filter(F.col("event_id") % 10 < 8))
    part_b = hist(ev.filter(F.col("event_id") % 10 >= 8))
    merged = (
        part_a.unionByName(part_b)
        .groupBy("event_type", "b")
        .agg(F.sum("c").alias("c"))
    )
    full = hist(ev)

    def binned_median(h):
        tot = h.groupBy("event_type").agg(F.sum("c").alias("n"))
        w = (
            Window.partitionBy("event_type")
            .orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = h.join(F.broadcast(tot), "event_type").withColumn(
            "cm", F.sum("c").over(w)
        )
        return (
            cum.filter(F.col("cm") * 2 >= F.col("n"))
            .groupBy("event_type")
            .agg(F.min("b").alias("med_bin"), F.max("n").alias("n"))
        )
    m_merged = binned_median(merged)
    m_full = binned_median(full).select(
        F.col("event_type"), F.col("med_bin").alias("med_full")
    )
    return m_merged.join(m_full, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("med_bin") / 100.0, 6).alias("binned_p50"),
        (F.col("med_bin") == F.col("med_full")).cast("int").alias("merge_consistent"),
    )


@query(
    "events_cohort_ltv",
    oracle="""
    WITH cohort AS (
      SELECT user_id, min(date_trunc('day', ts)) AS c0
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT c.c0, date_diff('day', c.c0, date_trunc('day', e.ts)) AS day_offset,
             sum(e.value) AS v
      FROM events e JOIN cohort c ON e.user_id = c.user_id
      GROUP BY 1, 2
    ), sized AS (
      SELECT c0, count(*) AS cohort_size FROM cohort GROUP BY c0
    )
    SELECT CAST(epoch(d.c0) AS BIGINT) AS cohort_ts,
           d.day_offset,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           round(sum(d.v) OVER (PARTITION BY d.c0 ORDER BY d.day_offset
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)
                 / s.cohort_size, 6) AS cum_value_per_user
    FROM daily d JOIN sized s ON s.c0 = d.c0
    """,
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: cumulative value per user by
    day-offset for each first-active-day cohort — the LTV companion to
    retention_cohorts that tells you what each cohort is WORTH over
    time, not just whether it comes back (the payback-period input).

    Plan: per-user cohort day (one aggregate), per-(cohort, offset)
    value sums (one aggregate on the joined stream — same user_id
    partitioning), then a running sum over the TINY cohort x offset
    matrix.  The running-sum window is dimension-sized; the corpus-wide
    work is two hash aggregates."""
    ev = _t(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("c0")
    )
    daily = (
        ev.join(cohort, "user_id")
        .groupBy(
            "c0",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("c0")).alias(
                "day_offset"
            ),
        )
        .agg(F.sum("value").alias("v"))
    )
    sized = cohort.groupBy("c0").agg(F.count(F.lit(1)).alias("cohort_size"))
    w = (
        Window.partitionBy("c0")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.join(F.broadcast(sized), "c0").select(
        F.unix_timestamp("c0").alias("cohort_ts"),
        "day_offset",
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.round(F.sum("v").over(w) / F.col("cohort_size"), 6).alias(
            "cum_value_per_user"
        ),
    )


@query(
    "profile_jsd_source_matrix",
    oracle="""
    WITH langs AS (
      SELECT DISTINCT lang FROM documents
    ), v AS (
      SELECT count(*) AS nv FROM langs
    ), srcs AS (
      SELECT source, count(*) AS ns FROM documents GROUP BY source
    ), cell AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang
    ), p AS (
      SELECT s.source, l.lang,
             (coalesce(c.c, 0) + 1.0) / (s.ns + v.nv) AS p
      FROM srcs s CROSS JOIN langs l
      LEFT JOIN cell c ON c.source = s.source AND c.lang = l.lang
      CROSS JOIN v
    ), pairs AS (
      SELECT a.source AS src1, b.source AS src2, a.lang,
             a.p AS pa, b.p AS pb, (a.p + b.p) / 2 AS pm
      FROM p a JOIN p b ON a.lang = b.lang AND a.source < b.source
    )
    SELECT src1, src2,
           round(sum(0.5 * pa * ln(pa / pm) + 0.5 * pb * ln(pb / pm))
                 / ln(2.0), 6) AS jsd_bits
    FROM pairs GROUP BY src1, src2
    """,
)
def profile_jsd_source_matrix(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence (in bits) between every pair
    of sources' language distributions — the symmetric, bounded [0, 1]
    drift MATRIX that feeds source clustering and mixture design, where
    profile_kl_drift gives each source's one-number drift from the
    corpus.

    Everything past the two count aggregates is dimension-sized: the
    smoothed (source x lang) probability grid self-joins on the lang
    key with source ordering, |sources|²/2 x |langs| rows.  JSD's
    mixture term makes it finite even where one side has zero mass
    (the +1 smoothing keeps both logs defined)."""
    docs = _t(spark, sf_dir, "documents")
    langs = docs.select("lang").distinct()
    nv = langs.count()
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    cell = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    p = (
        srcs.crossJoin(F.broadcast(langs))
        .join(cell, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            ((F.coalesce("c", F.lit(0)) + 1.0) / (F.col("ns") + F.lit(nv))).alias("p"),
        )
    )
    a = p.select(
        F.col("source").alias("src1"), "lang", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("src2"), F.col("lang").alias("lang2"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(
        b, (F.col("lang") == F.col("lang2")) & (F.col("src1") < F.col("src2"))
    ).withColumn("pm", (F.col("pa") + F.col("pb")) / 2)
    return pairs.groupBy("src1", "src2").agg(
        F.round(
            F.sum(
                0.5 * F.col("pa") * F.log(F.col("pa") / F.col("pm"))
                + 0.5 * F.col("pb") * F.log(F.col("pb") / F.col("pm"))
            )
            / F.log(F.lit(2.0)),
            6,
        ).alias("jsd_bits")
    )


@query(
    "stats_ks_test",
    oracle="""
    WITH a AS (
      SELECT value AS v, count(*) AS ca FROM events
      WHERE event_type = 'click' GROUP BY value
    ), b AS (
      SELECT value AS v, count(*) AS cb FROM events
      WHERE event_type = 'purchase' GROUP BY value
    ), g AS (
      SELECT coalesce(a.v, b.v) AS v,
             coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      FROM a FULL OUTER JOIN b ON a.v = b.v
    ), t AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM g
    ), e AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM g
    )
    SELECT round(max(abs(cuma / CAST(na AS DOUBLE) - cumb / CAST(nb AS DOUBLE))), 6)
             AS ks_d,
           max(na) AS n_a, max(nb) AS n_b
    FROM e CROSS JOIN t
    """,
)
def stats_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D statistic between the `value`
    distributions of click vs purchase events — the nonparametric
    "did this metric's distribution shift?" test a data-quality monitor
    runs between cohorts, sources, or ingestion batches (the supremum
    of the ECDF gap, unlike profile_kl_drift's binned divergence,
    needs no binning choice).

    Scale shape: each sample collapses to its DISTINCT-VALUE count
    table first (one codegen'd hash aggregate over the facts), so the
    full-outer value grid, the two running sums and the final max all
    run over |distinct values| rows, not |facts|.  Both cumulative
    counts come from ONE ordered window pass over the merged grid.
    For a value domain too large for a single window partition, the
    running sums generalize to the two-phase partition-offset scan
    used by profile_equidepth_histogram.  The two totals are one extra
    tiny aggregate broadcast onto the single-row result.  Division
    happens on exact BIGINT counts with an identical expression on
    both engines, so the doubles — and the hash — agree bit-for-bit.
    """
    ev = _t(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("value").alias("v"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("value").alias("v"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    g = (
        a.join(b, "v", "full_outer")
        .select(
            "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    t = g.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    e = g.select(
        "v",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    )
    return e.crossJoin(F.broadcast(t)).agg(
        F.round(
            F.max(
                F.abs(
                    F.col("cuma") / F.col("na").cast("double")
                    - F.col("cumb") / F.col("nb").cast("double")
                )
            ),
            6,
        ).alias("ks_d"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
    )


@query(
    "profile_ks_source_matrix",
    oracle="""
    WITH vals AS (
      SELECT DISTINCT n_chars AS v FROM documents
    ), srcs AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), cnt AS (
      SELECT source, n_chars AS v, count(*) AS c FROM documents
      GROUP BY source, n_chars
    ), grid AS (
      SELECT s.source, s.n, g.v, coalesce(c.c, 0) AS c
      FROM srcs s CROSS JOIN vals g
      LEFT JOIN cnt c ON c.source = s.source AND c.v = g.v
    ), e AS (
      SELECT source, n, v,
             sum(c) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM grid
    )
    SELECT a.source AS src_a, b.source AS src_b,
           round(max(abs(a.cum / CAST(a.n AS DOUBLE)
                         - b.cum / CAST(b.n AS DOUBLE))), 6) AS ks_d
    FROM e a JOIN e b ON a.v = b.v AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def profile_ks_source_matrix(spark, sf_dir):
    """Pairwise two-sample KS D between every pair of sources over the
    document-length distribution — the NONPARAMETRIC drift matrix next
    to profile_jsd_source_matrix (JSD needs the categorical lang
    column; KS ranks continuous columns with no binning choice), the
    per-ingest screen for "which feeds changed shape".

    Scale shape: ECDFs for ALL sources are evaluated on the shared
    distinct-value grid in ONE window pass partitioned by source (the
    union grid is what makes the pairwise supremum well-defined at
    absent values), so the pair join runs over |distinct values| ×
    |source pairs| rows — dimension-sized, never fact-sized.  Counts
    divide as exact BIGINTs; both engines build identical doubles."""
    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").alias("v")).distinct()
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    cnt = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        srcs.crossJoin(vals)
        .join(cnt, ["source", "v"], "left")
        .select("source", "n", "v", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    e = grid.select("source", "n", "v", F.sum("c").over(w).alias("cum"))
    a = e.select(
        F.col("source").alias("src_a"),
        F.col("v").alias("va"),
        (F.col("cum") / F.col("n").cast("double")).alias("fa"),
    )
    b = e.select(
        F.col("source").alias("src_b"),
        F.col("v").alias("vb"),
        (F.col("cum") / F.col("n").cast("double")).alias("fb"),
    )
    return (
        a.join(b, (a["va"] == b["vb"]) & (a["src_a"] < b["src_b"]))
        .groupBy("src_a", "src_b")
        .agg(F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_d"))
    )


@query(
    "stats_mannwhitney_u",
    oracle="""
    WITH g AS (
      SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY value
    ), r AS (
      SELECT v, ca, cb, ca + cb AS c,
             coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k
      FROM g
    ), t AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
             CAST(sum(ca * (2 * k + c + 1)) AS BIGINT) AS ra2,
             CAST(sum(c * c * c - c) AS BIGINT) AS ties
      FROM r
    )
    SELECT CAST(ra2 - na * (na + 1) AS BIGINT) AS u2,
           round(((ra2 - na::DOUBLE * (na + 1)) / 2.0 - na::DOUBLE * nb / 2.0)
             / sqrt(na::DOUBLE * nb / 12.0
                 * ((na + nb + 1) - ties
                    / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))), 6) AS z,
           na AS n_a, nb AS n_b
    FROM t
    """,
)
def stats_mannwhitney_u(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) for click vs purchase values
    — the rank-based "did the distribution shift?" test beside
    stats_ks_test (KS sees shape, U sees stochastic dominance), with
    the tie-corrected normal approximation.

    Scale shape: the pooled samples collapse to per-distinct-value
    (ca, cb) counts in one hash aggregate; ONE exclusive running-sum
    window over the |distinct| grid yields every tie block's average
    rank — carried as the INTEGER 2·rank = 2k+c+1, so the rank sum,
    U (emitted doubled: u2 = 2·U), and the tie term Σ(c³−c) are all
    exact BIGINTs and the z-score is one identical double expression
    on both engines.  Same two-phase-scan generalization note as
    stats_ks_test for a huge value domain."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("ca"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("c"),
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0)).alias("k"),
    )
    t = r.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("k") + F.col("c") + 1))
        .cast("long")
        .alias("ra2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("ties"),
    )
    na, nb, ra2, ties = F.col("na"), F.col("nb"), F.col("ra2"), F.col("ties")
    n = na + nb
    # z's count products run as doubles on BOTH engines (na::DOUBLE in
    # the oracle): na*(na+1) and na*nb wrap past 2^63 at 100 TB pooled
    # sample sizes (r14 review, burst-overflow class; exact below 2^53
    # so bench hashes are unchanged).  The INTEGER legs — u2, ra2, ties
    # — keep exact BIGINT algebra with a documented capacity bound:
    # ra2 ~ N², so past N ≈ 3e9 pooled rows both engines fail LOUDLY
    # (Spark ANSI overflow / DuckDB BIGINT overflow) rather than
    # silently, and a 100 TB deployment reads z, not u2.
    z = ((ra2 - na.cast("double") * (na + 1)) / 2.0 - na.cast("double") * nb / 2.0) / F.sqrt(
        na.cast("double") * nb / 12.0 * ((n + 1) - ties / (n.cast("double") * (n - 1)))
    )
    return t.select(
        (ra2 - na * (na + 1)).cast("long").alias("u2"),
        F.round(z, 6).alias("z"),
        na.alias("n_a"),
        nb.alias("n_b"),
    )


@query(
    "profile_completeness",
    oracle="""
    WITH m AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_null,
        CAST(sum(CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS text_blank,
        CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_null,
        CAST(sum(CASE WHEN lang IS NOT NULL AND trim(lang) = '' THEN 1 ELSE 0 END) AS BIGINT) AS lang_blank,
        CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_null,
        CAST(sum(CASE WHEN source IS NOT NULL AND trim(source) = '' THEN 1 ELSE 0 END) AS BIGINT) AS source_blank,
        CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_null,
        CAST(sum(CASE WHEN n_chars = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_zero
      FROM documents
    )
    SELECT col, n_rows, n_null, n_degenerate,
           round((n_rows - n_null - n_degenerate) / CAST(n_rows AS DOUBLE), 6)
             AS completeness
    FROM (
      SELECT 'text' AS col, n_rows, text_null AS n_null, text_blank AS n_degenerate FROM m
      UNION ALL
      SELECT 'lang', n_rows, lang_null, lang_blank FROM m
      UNION ALL
      SELECT 'source', n_rows, source_null, source_blank FROM m
      UNION ALL
      SELECT 'n_chars', n_rows, n_chars_null, n_chars_zero FROM m
    )
    """,
)
def profile_completeness(spark, sf_dir):
    """Per-column completeness census over documents: nulls, degenerate
    values (blank-after-trim strings, zero lengths) and the usable-row
    ratio — the first data-quality gate every ingest batch runs before
    anything downstream trusts the shard.

    Scale shape: ONE pass, one codegen'd aggregate computing every
    column's indicator sums simultaneously (never one scan per column
    — the difference between 1 and C full-table reads at 100 TB); the
    per-column unpivot happens on the single result row.  Ratios
    divide exact BIGINTs."""
    docs = _t(spark, sf_dir, "documents")

    def null_cnt(c):
        return F.sum(F.col(c).isNull().cast("long"))

    def blank_cnt(c):
        return F.sum(
            (F.col(c).isNotNull() & (F.trim(F.col(c)) == "")).cast("long")
        )

    m = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        null_cnt("text").alias("text_null"),
        blank_cnt("text").alias("text_blank"),
        null_cnt("lang").alias("lang_null"),
        blank_cnt("lang").alias("lang_blank"),
        null_cnt("source").alias("source_null"),
        blank_cnt("source").alias("source_blank"),
        null_cnt("n_chars").alias("n_chars_null"),
        F.sum((F.col("n_chars") == 0).cast("long")).alias("n_chars_zero"),
    )
    # unpivot by exploding a literal struct array over the SINGLE agg
    # row — a union of per-column selects would re-run the aggregate
    # (and the scan) once per column, which .explain showed as 4
    # FileScans; this stays one scan, one aggregate
    arms = F.array(
        *[
            F.struct(
                F.lit(col).alias("col"),
                F.col(nn).alias("n_null"),
                F.col(nd).alias("n_degenerate"),
            )
            for col, nn, nd in [
                ("text", "text_null", "text_blank"),
                ("lang", "lang_null", "lang_blank"),
                ("source", "source_null", "source_blank"),
                ("n_chars", "n_chars_null", "n_chars_zero"),
            ]
        ]
    )
    return m.select("n_rows", F.explode(arms).alias("a")).select(
        F.col("a.col").alias("col"),
        "n_rows",
        F.col("a.n_null").alias("n_null"),
        F.col("a.n_degenerate").alias("n_degenerate"),
        F.round(
            (F.col("n_rows") - F.col("a.n_null") - F.col("a.n_degenerate"))
            / F.col("n_rows").cast("double"),
            6,
        ).alias("completeness"),
    )


@query(
    "orders_pareto_concentration",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(floor(o_totalprice * 100)::BIGINT) AS BIGINT) AS rev_c
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, rev_c,
             ntile(10) OVER (ORDER BY rev_c DESC, o_custkey) AS decile
      FROM per_cust
    ), dec AS (
      SELECT decile, count(*)::BIGINT AS n_customers,
             CAST(sum(rev_c) AS BIGINT) AS revenue_c
      FROM ranked GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, revenue_c,
           CAST(sum(revenue_c) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 1000000 // (sum(revenue_c) OVER ()) AS BIGINT)
             AS cum_share_x1m
    FROM dec
    """,
)
def orders_pareto_concentration(spark, sf_dir):
    """Pareto/Lorenz revenue concentration: customers ntile(10)-ranked
    by total spend (cents — per-row floor-quantized exact integers),
    per-decile revenue and the cumulative revenue share in micro-units
    — "do 20% of customers drive 80% of revenue?" as one keyed
    aggregate + two dimension-sized windows."""
    o = _t(spark, sf_dir, "orders")
    per = o.select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("rev_c"),
    ).groupBy("o_custkey").agg(F.sum("rev_c").cast("bigint").alias("rev_c"))
    ranked = per.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy(F.desc("rev_c"), F.asc("o_custkey"))),
    )
    dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_c").cast("bigint").alias("revenue_c"),
    )
    return dec.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        "revenue_c",
        F.expr(
            "CAST(sum(revenue_c) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) * CAST(1000000 AS BIGINT) div "
            "sum(revenue_c) OVER () AS BIGINT)"
        ).alias("cum_share_x1m"),
    )
