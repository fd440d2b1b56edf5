"""Query registrations and DuckDB oracles for ``operators/scale.py``."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import duck_ws_tokens
from dask_obj_spark.operators.scale import (
    _HLL_ALPHA_MM,
    _HLL_M,
    _TWO_53,
    _hll_corrected_est,
    _hll_rho,
    bloom_build,
    bloom_might_contain,
    compaction_plan,
    fd_violations,
    heavy_hitters,
    hll_estimate_x1000,
    hll_registers,
    salted_agg,
    salted_join,
    with_hilbert_key,
    zorder_key,
)
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table


@query(
    "skew_salted_counts",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_counts_q(spark, sf_dir):
    """Skew-safe two-phase aggregation over the 5-hot-key event_type
    column — identical answer to the plain groupBy, B× the reducer
    parallelism on the heavy first phase."""
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        "event_type",
        salt_from="event_id",
        aggs={"n": ("event_id", "count"), "sum_value": ("value", "sum")},
        buckets=16,
    )
    return out.select("event_type", "n", F.round("sum_value", 6).alias("sum_value"))


def _duck_spread16(x: str) -> str:
    """The identical bit-spread as a DuckDB SQL expression string."""
    s = f"({x} & 65535)"
    s = f"(({s} | ({s} << 8)) & 16711935)"
    s = f"(({s} | ({s} << 4)) & 252645135)"
    s = f"(({s} | ({s} << 2)) & 858993459)"
    s = f"(({s} | ({s} << 1)) & 1431655765)"
    return s


@query(
    "layout_zorder_keys",
    oracle=f"""
    SELECT event_id,
           user_id % 65536 AS xb,
           CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 65536 AS yb,
           {_duck_spread16('(user_id % 65536)')}
             | ({_duck_spread16('(CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 65536)')} << 1)
             AS zkey
    FROM events
    """,
)
def layout_zorder_keys_q(spark, sf_dir):
    """Morton keys over (user bucket, hour bucket) for every event —
    the write-time clustering key behind `write_zordered`."""
    ev = load_table(spark, sf_dir, "events")
    xb = F.col("user_id") % 65536
    yb = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint") % 65536
    return ev.select(
        "event_id",
        xb.alias("xb"),
        yb.alias("yb"),
        zorder_key(xb, yb).alias("zkey"),
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority,
           round(l.l_extendedprice * (1 - l.l_discount), 6) AS net
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def skew_salted_join_q(spark, sf_dir):
    """Salted lineitem⋈orders — row-identical to the plain equi-join,
    with hot orderkeys spread across 8 reducers."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        o,
        "o_orderkey",
        salt_from="l_linenumber",
        buckets=8,
    )
    return j.select(
        F.col("o_orderkey").alias("l_orderkey"),
        "l_linenumber",
        "o_orderpriority",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("net"),
    )


def _duck_hilbert_sql(order: int = 8) -> str:
    """The identical unrolled Hilbert loop as chained MATERIALIZED CTEs
    (one per level — x is referenced several times per level, so DuckDB's
    default CTE inlining would nest the expression exponentially)."""
    rounds = []
    prev = "h0"
    for i in range(order):
        s = 1 << (order - 1 - i)
        cur = f"h{i + 1}"
        rounds.append(f"""{cur} AS MATERIALIZED (
      SELECT event_id, xb, yb,
             d + {s * s} * xor(3 * rx, ry) AS d,
             CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END
                  ELSE x END AS x,
             CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END
                  ELSE y END AS y
      FROM (SELECT event_id, xb, yb, d, x, y,
                   CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
            FROM {prev}) t
    )""")
        prev = cur
    return f"""
    WITH h0 AS MATERIALIZED (
      SELECT event_id,
             user_id % 256 AS xb,
             CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 256 AS yb,
             CAST(0 AS BIGINT) AS d,
             user_id % 256 AS x,
             CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 256 AS y
      FROM events
    ),
    {",".join(rounds)}
    SELECT event_id, xb, yb, d AS hkey FROM {prev}
    """


@query("layout_hilbert_keys", oracle=_duck_hilbert_sql(8))
def layout_hilbert_keys_q(spark, sf_dir):
    """Hilbert keys over (user bucket, hour bucket) for every event —
    the write-time clustering key behind `write_hilbert`, oracle-pinned
    against an identically-unrolled CTE chain."""
    ev = load_table(spark, sf_dir, "events")
    xb = (F.col("user_id") % 256).cast("long")
    yb = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint") % 256
    keyed = with_hilbert_key(
        ev.select("event_id", xb.alias("xb"), yb.alias("yb")),
        F.col("xb"), F.col("yb"), out="hkey", order=8,
    )
    return keyed.select("event_id", "xb", "yb", "hkey")


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT l_returnflag,
           count(*)::BIGINT AS n_items,
           round(sum(l_extendedprice), 6) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
    """,
)
def join_bloom_prefilter_q(spark, sf_dir):
    """Semi-join with an explicit Bloom prefilter: revenue by return flag
    of line items belonging to urgent orders.  The filter (4096 bits
    over the urgent order keys) is applied AT THE SCAN of the probe
    side, so only rows that might match ever enter the exchange; the
    exact semi-join then removes the false positives — the result is
    IDENTICAL to the plain semi-join (the oracle), which also proves the
    filter admits every true key (a false negative would drop rows and
    break the hash).

    This is the engine-independent form of Spark's own runtime
    row-level filtering (spark.sql.optimizer.runtime.bloomFilter.*):
    materializing it as an operator makes the technique available when
    the build side is computed OUTSIDE the query (a standing keyset, a
    previous job), not just when Catalyst can inject it itself.  At
    100 TB: shuffle volume on the probe side drops to
    |matches| + |false positives| instead of |probe|."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bloom = bloom_build(keys, "o_orderkey")
    prefiltered = li.filter(bloom_might_contain(bloom, "l_orderkey"))
    exact = prefiltered.join(F.broadcast(keys), li["l_orderkey"] == keys["o_orderkey"], "left_semi")
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 6).alias("revenue"),
    )


def _duck_hll_oracle() -> str:
    from dask_obj_spark.functions.hashing import duck_porthash

    m = _HLL_M
    rho_chain = " ".join(
        f"WHEN w >= {1 << (52 - r)} THEN {r}" for r in range(1, 53)
    )
    ph = duck_porthash("l_partkey::VARCHAR", "hll")
    reg = """
      SELECT g.bucket, coalesce(t.mx, 0) AS m FROM grid g
      LEFT JOIN (SELECT bucket, max(rho) AS mx FROM rho {where} GROUP BY bucket) t
      ON t.bucket = g.bucket"""
    corr = (
        f"CAST(floor(CASE WHEN {{nz}} < {_HLL_M}"
        f" AND {_HLL_ALPHA_MM!r} / (CAST({{zs}} AS DOUBLE) / {_TWO_53!r})"
        f" <= {2.5 * _HLL_M!r}"
        f" THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r}"
        f" / CAST({_HLL_M} - {{nz}} AS DOUBLE))"
        f" ELSE {_HLL_ALPHA_MM!r} / (CAST({{zs}} AS DOUBLE) / {_TWO_53!r})"
        f" END * 1000.0) AS BIGINT)"
    )
    return f"""
    WITH h AS (
      SELECT {ph} AS h, l_orderkey % 2 AS half FROM lineitem
    ), ex AS (
      SELECT count(DISTINCT l_partkey)::BIGINT AS n_exact FROM lineitem
    ), rho AS (
      SELECT h % {m} AS bucket, half,
             CASE {rho_chain} ELSE 53 END AS rho
      FROM (SELECT h, h // {m} AS w, half FROM h)
    ), grid AS (
      SELECT unnest(range(0, {m})) AS bucket
    ), regs_all AS ({reg.format(where="")}
    ), regs_even AS ({reg.format(where="WHERE half = 0")}
    ), regs_odd AS ({reg.format(where="WHERE half = 1")}
    ), merged AS (
      SELECT e.bucket, greatest(e.m, o.m) AS m
      FROM regs_even e JOIN regs_odd o ON o.bucket = e.bucket
    ), za AS (
      SELECT sum(1::BIGINT << (53 - m))::BIGINT AS zs,
             sum(CASE WHEN m > 0 THEN 1 ELSE 0 END)::BIGINT AS nz
      FROM regs_all
    ), zm AS (
      SELECT sum(1::BIGINT << (53 - m))::BIGINT AS zs FROM merged
    )
    SELECT ex.n_exact, {corr.format(zs="za.zs", nz="za.nz")} AS est_x1000,
           {corr.format(zs="zm.zs", nz="za.nz")} AS merged_x1000,
           za.nz AS nonzero_registers
    FROM ex, za, zm
    """


@query("sketch_hll_distinct", oracle=_duck_hll_oracle())
def sketch_hll_distinct_q(spark, sf_dir):
    """HyperLogLog distinct part-keys over lineitem with an IN-PLAN
    merge-invariance proof: registers built from the even- and
    odd-orderkey halves and max-merged must yield the SAME estimate as
    one pass over the whole table (est_x1000 = merged_x1000 — integer
    register algebra, so the equality is exact, the same proof shape
    as incremental_agg_quantile).  Exact distinct count rides along as
    the accuracy reference."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(F.count_distinct("l_partkey").cast("long").alias("n_exact"))
    whole = hll_estimate_x1000(
        hll_registers(li, "l_partkey")
    )
    even = hll_registers(li.filter(F.col("l_orderkey") % 2 == 0), "l_partkey")
    odd = hll_registers(li.filter(F.col("l_orderkey") % 2 == 1), "l_partkey")
    merged = (
        even.select("bucket", F.col("m").alias("me"))
        .join(odd.select("bucket", F.col("m").alias("mo")), "bucket")
        .select("bucket", F.greatest("me", "mo").alias("m"))
    )
    merged_est = hll_estimate_x1000(merged).select(
        F.col("est_x1000").alias("merged_x1000")
    )
    return (
        exact.crossJoin(F.broadcast(whole))
        .crossJoin(F.broadcast(merged_est))
        .select("n_exact", "est_x1000", "merged_x1000", "nonzero_registers")
    )


def _duck_rho_chain() -> str:
    return (
        "CASE "
        + " ".join(f"WHEN w >= {1 << (52 - r)} THEN {r}" for r in range(1, 53))
        + " ELSE 53 END"
    )


def _duck_raw_est(zs: str) -> str:
    return f"({_HLL_ALPHA_MM!r} / (CAST({zs} AS DOUBLE) / {_TWO_53!r}))"


def _duck_hll_sliding_oracle() -> str:
    from dask_obj_spark.functions.hashing import duck_porthash

    m = _HLL_M
    ph = duck_porthash("user_id::VARCHAR", "hll")
    return f"""
    WITH ev AS (
      SELECT floor(epoch(ts))::BIGINT // 3600 AS hr, user_id FROM events
    ), rho AS (
      SELECT hr, h % {m} AS bucket, {_duck_rho_chain().replace("w >=", "(h // " + str(m) + ") >=")} AS rho
      FROM (SELECT hr, {ph} AS h FROM ev)
    ), regs AS (
      SELECT hr, bucket, max(rho) AS mx FROM rho GROUP BY hr, bucket
    ), hours AS (
      SELECT DISTINCT hr FROM ev
    ), grid AS (
      SELECT h.hr, g.bucket FROM hours h
      CROSS JOIN (SELECT unnest(range(0, {m})) AS bucket) g
    ), filled AS (
      SELECT g.hr, g.bucket, coalesce(r.mx, 0) AS mreg FROM grid g
      LEFT JOIN regs r ON r.hr = g.hr AND r.bucket = g.bucket
    ), win AS (
      SELECT hr, bucket,
             max(mreg) OVER (PARTITION BY bucket ORDER BY hr
               RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS m
      FROM filled
    ), est AS (
      SELECT hr, sum(1::BIGINT << (53 - m))::BIGINT AS zs,
             sum(CASE WHEN m > 0 THEN 1 ELSE 0 END)::BIGINT AS nz
      FROM win GROUP BY hr
    ), exact AS (
      SELECT wend, count(DISTINCT user_id) AS n_exact FROM (
        SELECT user_id, unnest([hr, hr+1, hr+2, hr+3, hr+4, hr+5]) AS wend
        FROM ev
      ) GROUP BY wend
    )
    SELECT e.hr AS hour_end,
           CAST(floor(CASE
             WHEN e.nz < {m} AND {_duck_raw_est("e.zs")} <= {2.5 * _HLL_M!r}
             THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST({m} - e.nz AS DOUBLE))
             ELSE {_duck_raw_est("e.zs")}
           END * 1000.0) AS BIGINT) AS est_x1000,
           x.n_exact AS n_exact
    FROM est e JOIN exact x ON x.wend = e.hr
    """


@query("sketch_hll_sliding_users", oracle=_duck_hll_sliding_oracle())
def sketch_hll_sliding_users_q(spark, sf_dir):
    """Rolling 6-hour distinct-user ESTIMATE per hour from merged
    HyperLogLog registers — the pre-aggregated-sketch answer to the
    query window_sliding_distinct_users computes exactly: per-hour
    256-register tables (tiny, storable) are max-merged across the
    trailing window by a RANGE frame per register, so the rolling
    distinct needs NO re-scan of raw events and NO per-window distinct
    shuffle.  At 100 TB the hourly register tables are the only state
    retained (256 ints/hour), and ANY window — day, week, arbitrary
    ad-hoc span — merges from the same state; the exact twin rides
    along for the accuracy readout.  All register algebra is integer;
    one double conversion per window feeds the estimate, with the
    standard small-range linear-counting branch (n « m here, where the
    raw harmonic estimator is biased ~3x high; m·ln(m/V) from the
    integer empty-register count V brings it back to ~5%) — ln is the
    same libm contract the entropy/KL oracle rows already rely on."""
    from dask_obj_spark.functions.hashing import porthash

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").alias("hr"),
        "user_id",
    )
    h = porthash(F.col("user_id").cast("string"), "hll")
    rho = ev.select(
        "hr", (h % _HLL_M).alias("bucket"), h.alias("hh")
    ).select(
        "hr",
        "bucket",
        _hll_rho(F.expr(f"CAST(hh div {_HLL_M} AS BIGINT)")).alias("rho"),
    )
    regs = rho.groupBy("hr", "bucket").agg(F.max("rho").alias("mx"))
    hours = ev.select("hr").distinct()
    grid = hours.crossJoin(
        F.broadcast(
            ev.sparkSession.range(_HLL_M).select(
                F.col("id").cast("long").alias("bucket")
            )
        )
    )
    filled = grid.join(regs, ["hr", "bucket"], "left").select(
        "hr", "bucket", F.coalesce("mx", F.lit(0)).cast("int").alias("mreg")
    )
    w = Window.partitionBy("bucket").orderBy("hr").rangeBetween(-5, 0)
    win = filled.select("hr", "bucket", F.max("mreg").over(w).alias("m"))
    est = win.groupBy("hr").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))")
        ).alias("zs"),
        F.sum((F.col("m") > 0).cast("long")).alias("nz"),
    )
    est = est.select(
        "hr",
        F.floor(_hll_corrected_est() * F.lit(1000.0))
        .cast("long")
        .alias("est_x1000"),
    )
    wend = F.explode(F.array(*[F.col("hr") + i for i in range(6)])).alias("wend")
    exact = (
        ev.select("user_id", wend)
        .groupBy("wend")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return est.join(exact, est["hr"] == exact["wend"]).select(
        F.col("hr").alias("hour_end"), "est_x1000", "n_exact"
    )


def _duck_heavy_hitters_oracle(k: int) -> str:
    return f"""
WITH toks AS MATERIALIZED (
  SELECT unnest({duck_ws_tokens("text")}) AS term
  FROM documents
),
n AS (SELECT count(*)::BIGINT AS n FROM toks),
c AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY term)
SELECT term, cnt, ((cnt * 1000000) // (SELECT n FROM n))::BIGINT AS share_x1m
FROM c WHERE cnt * {k} >= (SELECT n FROM n)
"""


@query("sketch_heavy_hitters", oracle=_duck_heavy_hitters_oracle(50))
def sketch_heavy_hitters_q(spark, sf_dir):
    """Exact 1/50-heavy-hitter terms over the documents token stream:
    Misra-Gries bounded-state candidates, broadcast semi-join, exact
    second-pass counts — never a full-vocabulary shuffle."""
    from dask_obj_spark.functions.hashing import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(ws_tokens("text")).alias("term"))
    return heavy_hitters(toks, "term", k=50)


@query(
    "layout_compaction_plan",
    oracle="""
    WITH stats AS (
      SELECT 'shard-' || lpad((doc_id // 40)::VARCHAR, 4, '0') AS file,
             count(*)::BIGINT AS n_rows
      FROM documents GROUP BY 1
    ), pre AS (
      SELECT file, n_rows,
             CAST(sum(n_rows) OVER (ORDER BY file
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_rows
               AS BIGINT) AS prefix_rows
      FROM stats
    ), planned AS (
      SELECT file, n_rows, prefix_rows // 100 AS merge_bin FROM pre
    )
    SELECT file, n_rows, merge_bin,
           count(*) OVER (PARTITION BY merge_bin)::BIGINT AS bin_files,
           CAST(sum(n_rows) OVER (PARTITION BY merge_bin) AS BIGINT) AS bin_rows
    FROM planned
    """,
)
def layout_compaction_plan_q(spark, sf_dir):
    """Compaction plan over deterministic 40-doc shards of the
    documents table (the oracle cannot see real file boundaries
    through the driver's table views, so the planner is demonstrated
    on derived shard stats; the `input_file_name` stats pass is
    unit-tested against a real multi-file directory in
    tests/test_scale.py)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        F.concat(
            F.lit("shard-"),
            F.lpad(F.expr("doc_id div 40").cast("string"), 4, "0"),
        ).alias("file")
    ).groupBy("file").agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    return compaction_plan(stats, 100)


@query(
    "profile_fd_violations",
    oracle="""
    WITH checks AS (
      SELECT 'o_custkey->o_orderpriority' AS fd, o_custkey AS l,
             o_orderpriority AS r FROM orders
      UNION ALL
      SELECT 'l_orderkey->l_suppkey', l_orderkey, l_suppkey::VARCHAR
      FROM lineitem
      UNION ALL
      SELECT 'l_orderkey->l_returnflag', l_orderkey, l_returnflag
      FROM lineitem
    ), per AS (
      SELECT fd, l, count(DISTINCT r)::BIGINT AS n_rhs
      FROM checks GROUP BY fd, l
    )
    SELECT fd, count(*)::BIGINT AS n_groups,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(max(n_rhs) AS BIGINT) AS max_fanout
    FROM per GROUP BY fd
    """,
)
def profile_fd_violations_q(spark, sf_dir):
    """FD violation profile over three candidate dependencies: a
    customer's order priorities vary (violating), an order's suppliers
    vary (violating by design), an order's return flags may or may not
    — one summary row each, two hash aggregates per check."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = fd_violations(orders, "o_custkey", "o_orderpriority")
    b = fd_violations(
        li.select("l_orderkey", F.col("l_suppkey").cast("string").alias("l_suppkey")),
        "l_orderkey",
        "l_suppkey",
    )
    c = fd_violations(li, "l_orderkey", "l_returnflag")
    return a.unionByName(b).unionByName(c)
