"""Aggregation operators: grouped/distinct/hierarchical aggregates and the
pivot generalization of the reference's wide avg_info row (R11).

All double-typed measures aggregate through DECIMAL quantization
(functions.numeric.dsum/davg) so results are independent of partition
count and addition order — the property that makes these plans
repartition-safe at 1000 executors AND bit-exact against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.catalog import table
from bitcoinminingetl_spark.functions.cache import lru_persisted
from bitcoinminingetl_spark.functions.numeric import (
    _DSUM_BOUND,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    floor_long,
    floor_long_sql,
    round2,
    round2_sql,
    roundn,
    roundn_sql,
)
from bitcoinminingetl_spark.registry import query


@query(
    "q_avg_grouped",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_avg_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 generalized: hash aggregate by key — TPC-H Q1's shape (the
    pricing summary). Map-side partial aggregation means each of the N
    input partitions ships only |groups| rows into the shuffle."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct: Spark expands multi-distinct into an Expand +
    two-phase aggregate — no driver-side dedup. (The approximate variant
    is q_approx_distinct, rows-only: HLL sketches differ per engine.)"""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# module-level (not inline) so the mutation gate can point the sketch at
# the wrong column and prove the 5%-of-exact planted test goes red (the
# maximum legal rsd of 0.39 lands at 4.5% on this fixture — inside the
# tolerance — so a coarseness flip alone cannot prove the gate fires;
# the wrong-column regression is the same class as the _THETA_B gate)
_HLL_RSD = 0.05  # Spark's default relative standard deviation
_HLL_COL = "l_partkey"


@query("q_approx_distinct")  # rows-only: HLL estimates are engine-specific
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB path for distinct
    cardinality — mergeable sketches, no expand, 2% default error. Checked
    rows-only because sketch estimates are engine-specific; the unit test
    asserts it lands within 5% of the exact count."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct(_HLL_COL, _HLL_RSD).alias(
                "approx_parts"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', bounded=True)} AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate: (flag, status), (flag), () — grand total in
    one pass via Expand (each input row contributes to 3 grouping sets).

    EMPTY-INPUT corner (pinned, found by the r13 fuzz grammar): over an
    empty relation Spark's rollup/cube emit NOTHING where ANSI (and the
    DuckDB oracle) emit the () grand-total row; the oracles here compare
    over the never-empty fixture tables, and the behavior is pinned in
    tests/test_properties.py::test_rollup_empty_input_pinned with the
    exact HAVING count(*) > 0 encoding the fuzzer uses.

    bounded=True static range contract: l_quantity is DECIMAL(15,2) in
    [1, 50] by TPC-H schema, 12 orders of magnitude under the dsum poison
    bound — so the max(abs) guard leg is dropped. Through Expand that leg
    is not a constant: it re-ran once per grouping set per row and was
    the dominant term in this query's r5 2.2x regression (measured by a
    guards-on/off bench A/B)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), bounded=True).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {dsum_sql('o_totalprice')} AS sum_price,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions: all 4 grouping sets."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {dsum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither a rollup nor a cube): per-status and
    per-priority totals in one scan, via Spark SQL. The sum expression is
    the SAME dsum_sql string the oracle runs (the guarded CASE/TRY_CAST
    form parses in both dialects), so overflow semantics can't drift
    between the two sides."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               {dsum_sql('o_totalprice')} AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@query(
    "q_pivot",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {round2_sql("avg(value) FILTER (WHERE event_type = 'click')")} AS avg_click,
           {round2_sql("avg(value) FILTER (WHERE event_type = 'view')")} AS avg_view,
           {round2_sql("avg(value) FILTER (WHERE event_type = 'purchase')")} AS avg_purchase,
           {round2_sql("avg(value) FILTER (WHERE event_type = 'signup')")} AS avg_signup,
           {round2_sql("avg(value) FILTER (WHERE event_type = 'error')")} AS avg_error
    FROM events
    GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The avg_info wide-row pattern (R11) as a pivot: one row per day, one
    column per metric stream. Explicit value list — at scale you never let
    pivot run the implicit distinct-values job over 100 TB."""
    piv = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(round2(F.avg("value")))
    )
    return piv.select(
        "day", *[F.col(t).alias(f"avg_{t}") for t in _EVENT_TYPES]
    )


@query(
    "q_agg_salted_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_agg_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-free exact count-distinct: the two-phase rewrite that replaces
    a hot-key COUNT(DISTINCT). Phase 1 dedupes (event_type, user_id) —
    that shuffle hashes on BOTH columns, so a key with 10^9 rows spreads
    over the whole cluster. Phase 2 counts per key — its input is already
    one row per (key, user), bounded by distinct users, not events.
    A direct groupBy(event_type).agg(countDistinct(...)) funnels every
    row of a hot event_type through one reducer's distinct-set; this plan
    never concentrates a key until cardinality is already collapsed."""
    events = table(spark, sf_dir, "events")
    return (
        events.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_percentiles",
    oracle=f"""
    SELECT event_type,
           {roundn_sql('quantile_cont((CASE WHEN NOT isnan(value) THEN value END), 0.5)', 6)} AS p50,
           {roundn_sql('quantile_cont((CASE WHEN NOT isnan(value) THEN value END), 0.9)', 6)} AS p90,
           {roundn_sql('quantile_cont((CASE WHEN NOT isnan(value) THEN value END), 0.99)', 6)} AS p99
    FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (Spark `percentile` ==
    DuckDB `quantile_cont`: linear interpolation between order
    statistics). Exact percentile buffers every value per key — at 100 TB
    switch to `percentile_approx` (KLL-sketch-style bounded memory,
    mergeable across partitions); q_approx_distinct shows the same
    exact-vs-sketch trade for cardinality.

    NaN inputs are masked out of the order statistics on BOTH engines
    (r8 adversarial sweep): Spark sorts NaN greater than every number
    (a corrupt reading silently becomes the max and drags every
    quantile up), DuckDB's quantile_cont propagates it to NaN — two
    different wrong answers for the same corrupt stream. Excluding the
    non-ordering value is the one treatment with a defensible meaning
    (the quantiles of the readings that ARE comparable), and it is the
    cosine family's corrupt-exclusion doctrine applied to order stats.
    +/-Inf stays: infinities order identically in both engines."""
    nn = "(CASE WHEN NOT isnan(value) THEN value END)"
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            roundn(F.expr(f"percentile({nn}, 0.5)"), 6).alias("p50"),
            roundn(F.expr(f"percentile({nn}, 0.9)"), 6).alias("p90"),
            roundn(F.expr(f"percentile({nn}, 0.99)"), 6).alias("p99"),
        )
    )


@query(
    "q_corr_stats",
    oracle=f"""
    SELECT event_type,
           {roundn_sql('stddev_samp(value)', 6)} AS sd_value,
           {roundn_sql('var_samp(value)', 4)} AS var_value,
           {roundn_sql('corr(value, CAST(user_id AS DOUBLE))', 6)} AS corr_value_user
    FROM events GROUP BY event_type
    """,
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per key: sample stddev/variance and a
    Pearson correlation. All three are algebraic aggregates (sum, sum of
    squares, cross-moments) — partial-aggregated map-side, merged at the
    reducer: one shuffle of O(keys) rows regardless of input size.

    Correlation is assembled from covar_samp/stddev_samp moments behind
    a zero-variance guard instead of F.corr: Spark's corr aggregate
    divides internally, so a constant-valued stream (variance 0 — every
    heartbeat metric looks like this) raises DIVIDE_BY_ZERO under ANSI
    mode and kills the job. NULL is the SQL answer (and what DuckDB's
    corr returns). The component stddevs are computed over
    PAIRWISE-COMPLETE rows (both value and user_id non-null) — the same
    null mask covar_samp and Pearson's corr use — so the composition is
    algebraically identical to corr wherever it's defined (the n-1
    factors cancel); stddev over each column's own non-null rows would
    silently deflate the quotient whenever the null masks differ."""
    u = F.col("user_id").cast("double")
    pair = F.col("value").isNotNull() & u.isNotNull()
    sd_v = F.stddev_samp(F.when(pair, F.col("value")))
    sd_u = F.stddev_samp(F.when(pair, u))
    corr = F.when((sd_v > 0) & (sd_u > 0), F.covar_samp("value", u) / (sd_v * sd_u))
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            roundn(F.stddev_samp("value"), 6).alias("sd_value"),
            roundn(F.var_samp("value"), 4).alias("var_value"),
            roundn(corr, 6).alias("corr_value_user"),
        )
    )


_LINREG_ANCHOR = 1_704_067_200  # 2024-01-01 00:00:00 UTC, epoch seconds


@query(
    "q_linreg_trend",
    oracle=f"""
    WITH p AS (
        SELECT event_type,
               (epoch(ts) - {_LINREG_ANCHOR}) / 3600.0 AS x,
               value AS y
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_obs,
               var_pop(x) AS vx,
               var_pop(y) AS vy,
               covar_pop(y, x) AS cxy,
               avg(x) AS mx,
               avg(y) AS my
        FROM p GROUP BY event_type
    )
    SELECT event_type,
           n_obs,
           {roundn_sql('CASE WHEN vx > 0 THEN cxy / vx END', 6)} AS slope_per_hour,
           {roundn_sql('CASE WHEN vx > 0 THEN my - (cxy / vx) * mx END', 4)} AS intercept,
           {roundn_sql('CASE WHEN vx > 0 AND vy > 0 THEN (cxy * cxy) / (vx * vy) END', 6)}
               AS r2
    FROM m
    """,
)
def q_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream least-squares trend line (slope/intercept/R²) of the
    metric against time — the drift detector run over every metric
    stream before a model-input freshness gate. x is hours since a fixed
    anchor (2024-01-01): anchoring keeps the moments small (raw epoch
    seconds ~1.7e9 would burn double precision in the variance), and a
    LITERAL anchor — not min(ts) — keeps the intercept independent of
    which rows an incremental run has seen.

    Assembled from population moments (var_pop/covar_pop/avg over one
    grouped pass) instead of Spark's regr_slope/regr_r2 family, for the
    q_corr_stats reason: the builtins divide internally, so a
    zero-variance stream (constant metric, or all rows same timestamp —
    the adversarial corpus has both) raises DIVIDE_BY_ZERO under ANSI
    mode; here the CASE guard emits NULL, the SQL answer. All five
    moments are algebraic — partial-aggregated map-side, one shuffle of
    O(keys) rows at any scale. The same explicit mask (ts AND value
    non-null) feeds every moment, so the composition is exactly
    regression over pairwise-complete observations."""
    x = (F.col("ts").cast("double") - F.lit(float(_LINREG_ANCHOR))) / F.lit(3600.0)
    pair = F.col("ts").isNotNull() & F.col("value").isNotNull()
    px = F.when(pair, x)
    py = F.when(pair, F.col("value"))
    m = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(py).alias("n_obs"),
            F.var_pop(px).alias("vx"),
            F.var_pop(py).alias("vy"),
            F.covar_pop(py, px).alias("cxy"),
            F.avg(px).alias("mx"),
            F.avg(py).alias("my"),
        )
    )
    vx, vy, cxy = F.col("vx"), F.col("vy"), F.col("cxy")
    slope = F.when(vx > 0, cxy / vx)
    return m.select(
        "event_type",
        "n_obs",
        roundn(slope, 6).alias("slope_per_hour"),
        roundn(F.when(vx > 0, F.col("my") - (cxy / vx) * F.col("mx")), 4).alias(
            "intercept"
        ),
        roundn(F.when((vx > 0) & (vy > 0), (cxy * cxy) / (vx * vy)), 6).alias("r2"),
    )


@query(
    "q_histogram",
    oracle=f"""
    SELECT {floor_long_sql('value', 50)} AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram over the metric column: bucketing is a scalar
    projection (stays in codegen), counting is a partial-agg groupBy on
    the bucket id — the canonical distribution profile a data-quality
    pass runs over every numeric column at ingest. Non-finite values
    AND finite |x| >= 2**63 are masked BEFORE floor (r7 + r8 ADVICE,
    the _value_band class): unmasked, Spark's floor(double) merges NaN
    into bucket 0 and +/-Inf plus huge finite values into Long.MIN/MAX
    buckets while the oracle NULLs them — a corrupt reading lands in
    the NULL bucket on both engines, where a data-quality pass can SEE
    it instead of it inflating a real bin (floor_long/floor_long_sql
    apply the identical mask on both engines)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(floor_long(F.col("value"), 50).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_sql_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary, written through the SQL entry
    point (register view -> spark.sql) to exercise the engine's second
    front door — the same Catalyst plan as the DataFrame API, proving the
    two surfaces are one engine. Classic scan-heavy aggregate: predicate
    pushed to parquet, partial aggregation map-side, ~6 output rows."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q1")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {dsum_sql('l_quantity')} AS sum_qty,
               {dsum_sql('l_extendedprice')} AS sum_base_price,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {davg_sql('l_quantity')} AS avg_qty,
               {davg_sql('l_extendedprice')} AS avg_price,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem_q1
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "q_star_join",
    oracle=f"""
    SELECT n.n_name AS nation,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: the 4-table star join (fact → fact → dim → dim)
    every warehouse runs. Catalyst orders the joins and broadcasts the
    dims (customer/nation are tiny at TPC-H ratios); the only real
    shuffle is lineitem ⋈ orders on orderkey, which AQE skew-splits at
    runtime. The date filter prunes orders before the join touches it."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_group_concat",
    oracle="""
    SELECT lang,
           string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    WHERE n_chars < 200
    GROUP BY lang
    """,
)
def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP_CONCAT / string_agg: collapse a group's ids into one sorted
    comma-joined string (the manifest/lineage-column pattern).
    collect_list order is partition-dependent — sort_array makes the
    result deterministic under any parallelism, which is what lets an
    unordered distributed aggregate hash-match a single-threaded oracle
    (both sides order lexicographically)."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") < 200)
        .groupBy("lang")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc_id").cast("string")))
            ).alias("doc_ids"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


@query(
    "q_ohlc_bars",
    oracle=f"""
    WITH w AS (
        SELECT event_type, date_trunc('hour', ts) AS bar_ts, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, bar_ts,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           {davg_sql('value')} AS avg_value
    FROM w GROUP BY event_type, bar_ts
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type — the canonical time-series rollup
    of the reference's price stream (avg_info generalizes to
    open/high/low/close; src/mining/utils/load.py:8-42 computes only the
    mean). open/close are the values at the window's earliest/latest
    (ts, event_id) — the composite tiebreak makes the bar deterministic
    even with equal timestamps, unlike bare min_by/max_by whose tie
    winner is partition-order-dependent.

    Plan shape: both row_number windows and the final aggregate hash-
    partition on the same (event_type, bar) key, so Catalyst plans ONE
    exchange, two in-partition sorts, and a partitioning-reusing agg — at
    100 TB this is a single shuffle of the (pruned) event columns. The
    raw O/H/L/C doubles pass through unmodified (no float arithmetic →
    exact cross-engine equality); only avg_value is computed, via the
    decimal-quantized davg."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar_ts"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("event_type", "bar_ts")
    flagged = ev.select(
        "event_type",
        "bar_ts",
        "value",
        F.row_number().over(w.orderBy("ts", "event_id")).alias("rn_a"),
        F.row_number()
        .over(w.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rn_d"),
    )
    return flagged.groupBy("event_type", "bar_ts").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        davg(F.col("value")).alias("avg_value"),
    )


_Z_THRESHOLD = 2.5


@query(
    "q_anomaly_zscore",
    oracle=f"""
    WITH s AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           {roundn_sql('(value - mu) / sigma', 4)} AS z
    FROM events e JOIN s USING (event_type)
    WHERE sigma <> 0
      AND abs({roundn_sql('(value - mu) / sigma', 4)}) >= {_Z_THRESHOLD}
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per metric stream — the cheap anomaly
    gate over the reference's price/hashrate feeds generalized to every
    event_type. Two passes over the fact: a per-type mean/stddev
    aggregate (|event_types| rows) broadcast back onto the scan, then a
    scalar filter on |z| >= 2.5. The broadcast join means the second
    pass is shuffle-free — at 100 TB this is two scans, or one scan if
    the stats come from a maintained profile table (q_dq_profile). The
    filter applies to the 4-dp rounded z so the survivor set is
    engine-exact. Zero-variance streams (sigma 0 — constant heartbeat
    metrics) are filtered BEFORE z is projected: they have no outliers
    by definition, and under ANSI mode the division would otherwise
    raise DIVIDE_BY_ZERO instead of returning NULL. The sigma <> 0
    predicate also drops single-row streams (stddev_samp NULL)."""
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = roundn((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") != 0)
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) >= _Z_THRESHOLD)
    )


# module-level (not inline) so the tolerance mutation gate can coarsen
# the sketch and prove the 1%-of-exact planted test goes red
_APCT_ACCURACY = 10000


@query("q_approx_percentiles")  # rows-only: sketch quantiles are engine-specific
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) per key — the 100 TB
    path for quantiles: mergeable per-partition sketches, one narrow
    shuffle of sketch state instead of sorting the column. accuracy=10000
    bounds rank error at 1/10000. Rows-only check (sketch boundaries are
    engine-specific); the unit test asserts each approximate quantile
    lands within the exact neighboring order statistics from
    q_percentiles."""
    # The sketch emits one array per key; it is re-projected to scalar
    # columns because the driver canonicalizer cannot hash array cells.
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.5, 0.9, 0.99], _APCT_ACCURACY
            ).alias("approx_pcts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.element_at("approx_pcts", 1).alias("p50"),
            F.element_at("approx_pcts", 2).alias("p90"),
            F.element_at("approx_pcts", 3).alias("p99"),
            "n_rows",
        )
    )


_RESAMPLE_MIN = 15
_RESAMPLE_SEC = 60 * _RESAMPLE_MIN


_RESAMPLE_AGG_CACHE: dict[str, DataFrame] = {}


@query(
    "q_resample_interpolate",
    oracle=f"""
    WITH agg AS (
        SELECT event_type,
               CAST(to_timestamp(CAST(floor(epoch(ts) / {_RESAMPLE_SEC}) AS BIGINT)
                   * {_RESAMPLE_SEC}) AS TIMESTAMP) AS bucket,
               {davg_sql('value')} AS v
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM agg GROUP BY 1
    ), spine AS (
        SELECT event_type,
               unnest(generate_series(lo, hi, INTERVAL {_RESAMPLE_MIN} MINUTES))
                   AS bucket
        FROM bounds
    ), filled AS (
        SELECT s.event_type, s.bucket, a.v FROM spine s
        LEFT JOIN agg a ON a.event_type = s.event_type AND a.bucket = s.bucket
    ), anno AS (
        SELECT event_type, bucket, v,
            last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
            first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
            last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_t,
            first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_t
        FROM filled
    )
    SELECT event_type, bucket,
           v IS NOT NULL AS observed,
           {roundn_sql('coalesce(v, prev_v + (next_v - prev_v)'
                       ' * (epoch(bucket) - epoch(prev_t))'
                       ' / (epoch(next_t) - epoch(prev_t)), prev_v, next_v)', 6)}
               AS value
    FROM anno
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with linear interpolation — the reference's
    previous-window fallback (R10, load.py:17-25) generalized from "reuse
    the last value" to "reconstruct the missing bucket from both
    neighbors": 15-minute buckets per event_type, a generated dense time
    spine per stream (sequence(min, max, interval) — no driver-side range
    materialization), left join of observations onto the spine, then
    gap values = prev + (next - prev) * elapsed-fraction via
    ignorenulls last/first over an ordered window. Leading/trailing gaps
    degrade to nearest-neighbor (coalesce chain). `observed` flags
    real vs reconstructed rows — downstream consumers must be able to
    tell them apart.

    Scale: the spine explode is |streams| x |buckets| rows (tiny vs the
    fact), the join and both window passes (one per sort direction —
    see the growing-frame note below) share one hash partitioning on
    event_type, and per-stream bucket counts are bounded by the time
    range — state stays O(buckets), never O(events)."""
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / _RESAMPLE_SEC).cast("long") * _RESAMPLE_SEC
    )
    # The bucket aggregate feeds BOTH the spine (min/max) and the join —
    # unmaterialized, Spark recomputes it from the raw scan twice. The
    # relation is O(streams x buckets) rows (never O(events)), so
    # materializing it is scale-safe and saves a full second scan of the
    # fact table — at 100 TB, the dominant cost. Strategy measured at
    # sf0.1/local[16], 5 warm reps each (r4 VERDICT item 6):
    # persist min 1.56 / med 2.01 s; localCheckpoint min 1.96 / med 2.37 s;
    # recompute min 1.35 / med 1.78 s. Recompute is cheapest HERE only
    # because an sf0.1 events scan is ~free — it is two full fact scans
    # at 100 TB, disqualified. Among one-scan strategies PERSIST wins:
    # checkpoint copies every block through the block manager up front,
    # persist shares the in-memory aggregate between the two consumers
    # lazily. Confirmed at local[32] interleaved (5 reps): persist
    # 1.40/1.74 vs ckpt 1.52/1.78 — the occasional >4 s bench reading is
    # first-touch position noise, not plan cost.
    #
    # Persist-once per (session, corpus) with bounded LRU eviction — the
    # shared pattern of functions/cache.py (shingle index, normed
    # embeddings). A bare .persist() per invocation leaked one
    # never-unpersisted relation per call into the block manager (bench
    # reps, scaling sweeps); immutable-input assumption documented in the
    # helper module.
    agg = lru_persisted(
        _RESAMPLE_AGG_CACHE,
        f"{spark.sparkContext.applicationId}:{sf_dir}",
        lambda: (
            table(spark, sf_dir, "events")
            .groupBy("event_type", bucket.alias("bucket"))
            .agg(davg(F.col("value")).alias("v"))
        ),
    )
    spine = (
        agg.groupBy("event_type")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    "lo", "hi", F.expr(f"INTERVAL {_RESAMPLE_MIN} MINUTES")
                )
            ).alias("bucket"),
        )
    )
    filled = spine.join(agg, ["event_type", "bucket"], "left")
    # "next"-neighbor lookups run over a GROWING frame on the REVERSED
    # sort, not ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING: Spark
    # evaluates a shrinking (unbounded-following) frame by re-aggregating
    # from scratch at every row — O(n²) per partition (a year-long
    # 15-min stream is ~35k buckets, i.e. ~1.2e9 frame updates per
    # expression), while the growing frame is incremental O(n). Cost of
    # the reversal: a second in-partition sort inside the SAME
    # event_type exchange — no extra shuffle. Measured at sf0.1 this
    # halves the window stage.
    before = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    after = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    obs_t = F.when(F.col("v").isNotNull(), F.col("bucket"))
    # Window outputs materialize as plain columns BEFORE the
    # interpolation+roundn projection: roundn's overflow guard references
    # its argument twice, and duplicated window expressions are computed
    # twice by the Window operator (see functions/numeric.py).
    anno = filled.select(
        "event_type",
        "bucket",
        "v",
        F.last("v", ignorenulls=True).over(before).alias("prev_v"),
        F.last("v", ignorenulls=True).over(after).alias("next_v"),
        F.last(obs_t, ignorenulls=True).over(before).alias("prev_t"),
        F.last(obs_t, ignorenulls=True).over(after).alias("next_t"),
    )
    frac = (F.unix_timestamp(F.col("bucket")) - F.unix_timestamp("prev_t")) / (
        F.unix_timestamp("next_t") - F.unix_timestamp("prev_t")
    )
    return anno.select(
        "event_type",
        "bucket",
        F.col("v").isNotNull().alias("observed"),
        roundn(
            F.coalesce(
                F.col("v"),
                F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
                F.col("prev_v"),
                F.col("next_v"),
            ),
            6,
        ).alias("value"),
    )


@query(
    "q_mode_per_key",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS modal_event_type, n FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        FROM c
    ) WHERE rn = 1
    """,
)
def q_mode_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per key (each user's most frequent event type)
    with a deterministic tiebreak (lexicographically smallest wins) —
    `mode()` built-ins break ties arbitrarily, which can never pass a
    differential check. Count aggregate + ranking window on the same
    partitioning: the window reuses the aggregate's exchange."""
    c = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_event_type"), "n")
    )


@query(
    "q_funnel_stages",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CASE WHEN p.t_purchase IS NOT NULL THEN 'purchase'
                WHEN c.t_click IS NOT NULL THEN 'click'
                ELSE 'view' END AS funnel_stage
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): each stage's
    entry time is the user's first qualifying event STRICTLY AFTER the
    previous stage — the order constraint is what separates a funnel
    from three independent mins. Three per-user aggregates, each joined
    to the previous stage's (small) survivor set; every shuffle keys on
    user_id so AQE can coalesce them, and the stage frames shrink
    monotonically. Output: per-user stage timestamps + furthest stage
    reached."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), "purchase")
            .when(F.col("t_click").isNotNull(), "click")
            .otherwise("view")
            .alias("funnel_stage"),
        )
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort
        FROM events GROUP BY user_id
    ), act AS (
        SELECT DISTINCT e.user_id, f.cohort,
               date_diff('day', f.cohort, date_trunc('day', e.ts)) AS day_off
        FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT CAST(cohort AS TIMESTAMP) AS cohort,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id) FILTER (WHERE day_off = 1) AS BIGINT)
               AS retained_d1,
           CAST(count(DISTINCT user_id) FILTER (WHERE day_off = 7) AS BIGINT)
               AS retained_d7
    FROM act GROUP BY cohort
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, with distinct
    day-1 and day-7 returners per cohort. The first-seen aggregate is
    |users| rows — broadcast back onto the fact scan (same two-pass shape
    as q_anomaly_zscore), then (user, cohort, day-offset) dedup feeds one
    multi-distinct aggregate. At 100 TB the broadcast threshold decides
    between this plan and a shuffled join; both keep the fact to two
    scans."""
    ev = table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    act = (
        ev.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort")).alias("day_off"),
        )
        .distinct()
    )
    return act.groupBy("cohort").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("day_off") == 1, F.col("user_id"))).alias(
            "retained_d1"
        ),
        F.countDistinct(F.when(F.col("day_off") == 7, F.col("user_id"))).alias(
            "retained_d7"
        ),
    )


@query(
    "q_event_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ), c AS (
        SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           {roundn_sql('n * 1.0 / sum(n) OVER (PARTITION BY prev_type)', 6)} AS p
    FROM c
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    lag() pairs each event with its predecessor ((ts, event_id) ordering
    — deterministic under equal timestamps), one hash aggregate counts
    (prev, next) pairs, and a window over prev normalizes rows into
    transition probabilities. The per-user sequencing shuffle is the only
    fact-sized exchange; the |types|^2 count matrix is trivially small
    from there."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        roundn(F.col("n") * 1.0 / F.sum("n").over(tot), 6).alias("p"),
    )


# (name, regex) over the per-user event-type string: s=signup v=view
# c=click p=purchase e=error, anything else x. Patterns use only
# literals, classes and +/greedy quantifiers — the fragment of regex on
# which Java (Spark) and RE2 (DuckDB) agree on non-overlapping
# leftmost-match counts.
_SEQ_PATTERNS = (
    ("browse_then_click", "v+c"),
    ("click_to_purchase", "cp"),
    ("error_burst", "ee+"),
)
_SEQ_CHAR = (
    ("signup", "s"),
    ("view", "v"),
    ("click", "c"),
    ("purchase", "p"),
    ("error", "e"),
)


@query(
    "q_event_seq_pattern",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               string_agg(CASE event_type
                          {" ".join(f"WHEN '{t}' THEN '{c}'" for t, c in _SEQ_CHAR)}
                          ELSE 'x' END, '' ORDER BY ts, event_id) AS s
        FROM events
        WHERE ts IS NOT NULL AND event_id IS NOT NULL
        GROUP BY user_id
    ),
    m AS (
        {" UNION ALL ".join(
            f"SELECT '{name}' AS pattern,"
            f" CAST(len(regexp_extract_all(s, '{pat}')) AS BIGINT) AS n FROM seq"
            for name, pat in _SEQ_PATTERNS)}
    )
    SELECT pattern,
           CAST(count(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS total_matches
    FROM m GROUP BY pattern
    """,
)
def q_event_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event streams — the
    MATCH_RECOGNIZE / funnel-regex analytics Trino and Flink ship as a
    dedicated operator, expressed Spark-first: encode each user's
    time-ordered event types as a one-char-per-event string, then count
    non-overlapping regex matches (browse-sessions ending in a click,
    click-through purchases, consecutive-error bursts). The string IS
    the sequence index: every pattern evaluates against it with zero
    additional shuffles, so adding a pattern costs one codegen'd
    regexp_count column, not another pass over events.

    Plan: one fact-sized shuffle (user_id) into
    array_sort(collect_list(struct(ts, event_id, char))) — the
    deterministic ordered-reassembly idiom of q_tokenize_to_ids; the ch
    field makes even full (ts, event_id) ties order stably. All pattern
    counts project from the per-user string in one whole-stage-codegen
    pass; explode-to-(pattern, n) and the final hash aggregate run at
    |users|x|patterns| rows, nothing fact-sized. Per-user strings are
    events-per-user bytes — bounded by the same per-key skew budget as
    every per-user window here; a pathological single-user firehose
    shows up in q_skew_metrics before it hurts this plan. Rows with
    NULL ts or event_id carry no position in a sequence and are masked
    identically in both engines (NULL event_type still counts, as 'x')."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    ch = F.lit("x")
    for t, c in reversed(_SEQ_CHAR):
        ch = F.when(F.col("event_type") == t, c).otherwise(ch)
    seq = (
        ev.select("user_id", F.struct("ts", "event_id", ch.alias("ch")).alias("e"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda x: x["ch"]),
                "",
            ).alias("s")
        )
    )
    counts = seq.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("pattern"),
                        F.regexp_count(F.col("s"), F.lit(pat))
                        .cast("long")
                        .alias("n"),
                    )
                    for name, pat in _SEQ_PATTERNS
                ]
            )
        ).alias("m")
    )
    return (
        counts.select("m.pattern", "m.n")
        .groupBy("pattern")
        .agg(
            F.count(F.when(F.col("n") > 0, 1)).alias("n_users"),
            F.sum("n").alias("total_matches"),
        )
    )


_ROLLING_DAYS = 7


@query(
    "q_rolling_distinct_users",
    oracle=f"""
    WITH days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), contrib AS (
        SELECT user_id,
               unnest(generate_series(
                   day, day + INTERVAL {_ROLLING_DAYS - 1} DAYS, INTERVAL 1 DAY))
                   AS as_of
        FROM days
    ), observed AS (
        SELECT DISTINCT day AS as_of FROM days
    )
    SELECT CAST(c.as_of AS TIMESTAMP) AS as_of,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c JOIN observed o ON c.as_of = o.as_of
    GROUP BY 1
    """,
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) per observed day. COUNT
    (DISTINCT) is not a window-frame aggregate in any engine, so the
    scale pattern is contribution explosion: dedup to (user, day) — the
    only fact-sized pass — then each active day contributes the user to
    the next 7 as-of days and one hash aggregate counts distincts. The
    exploded relation is 7x the (already tiny) distinct pairs, not 7x
    the events; swap `countDistinct` for `approx_count_distinct` when
    even that multiplier matters."""
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr(f"INTERVAL {_ROLLING_DAYS - 1} DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("as_of"),
    )
    observed = days.select(F.col("day").alias("as_of")).distinct()
    return contrib.join(observed, "as_of").groupBy("as_of").agg(
        F.countDistinct("user_id").alias("wau")
    )


@query(
    "q_histogram_equiheight",
    oracle="""
    WITH b AS (
        SELECT value, ntile(10) OVER (ORDER BY value NULLS FIRST, event_id) AS bucket
        FROM events
    )
    SELECT bucket, min(value) AS lo, max(value) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
)
def q_histogram_equiheight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-HEIGHT histogram (the q_histogram twin: equal counts, varying
    widths — what optimizers and drift monitors actually want for skewed
    columns). This exact form is the small-scale GROUND TRUTH: global
    ntile is a single-partition sort, deliberately not a 100 TB plan
    (same role as q_dedup_ngram_jaccard vs its LSH scale paths). At
    scale, bucket boundaries come from q_approx_percentiles'
    percentile_approx sketch and rows bucket by range comparison — a
    map-only pass; this oracle-checked version is what that
    approximation is validated against. NULL placement pinned NULLS
    FIRST on both engines (Spark asc default vs DuckDB nulls-last —
    the same latent divergence the r8 adversarial sweep caught in
    q_window_ntile)."""
    ev = table(spark, sf_dir, "events")
    w = Window.orderBy(F.col("value").asc_nulls_first(), "event_id")
    return (
        ev.select("value", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_EQH_BUCKETS = 10
# module-level (not inline) so the tolerance mutation gate can coarsen
# the boundary sketch and prove the vs-ntile planted test goes red
_EQH_ACCURACY = 10000


@query("q_histogram_equiheight_approx")  # rows-only: sketch boundaries are engine-specific
def q_histogram_equiheight_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height histogram, 100 TB path: bucket boundaries from ONE
    percentile_approx sketch aggregate (mergeable per-partition state,
    no sort), broadcast back onto the scan as nine scalar columns, and
    each row's bucket assigned by range comparison inside whole-stage
    codegen — a map-only pass followed by a 10-key aggregate. Replaces
    q_histogram_equiheight's global-ntile single-task sort, which is the
    oracle ground truth this sketch is tolerance-tested against
    (tests/test_llm_ops.py::test_equiheight_approx_matches_ntile)."""
    ev = table(spark, sf_dir, "events")
    qs = [i / _EQH_BUCKETS for i in range(1, _EQH_BUCKETS)]
    bounds = ev.agg(
        F.percentile_approx("value", qs, _EQH_ACCURACY).alias("bs")
    ).select(
        *[F.element_at("bs", i + 1).alias(f"b{i}") for i in range(len(qs))]
    )
    bucket = F.lit(1)
    for i in range(len(qs)):
        bucket = bucket + (F.col("value") > F.col(f"b{i}")).cast("int")
    return (
        ev.join(F.broadcast(bounds))
        .select("value", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q_entropy_per_key",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ), p AS (
        SELECT user_id, n, n * 1.0 / sum(n) OVER (PARTITION BY user_id) AS p
        FROM c
    )
    SELECT user_id,
           {roundn_sql('sum(-p * ln(p))', 6)} AS entropy,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM p GROUP BY user_id
    """,
)
def q_entropy_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    diversity score corpus curation uses to find bots (near-zero
    entropy) and noise (max entropy). Counts -> window-normalized
    probabilities -> -sum(p ln p), all on one user_id partitioning: the
    count aggregate, the normalizing window, and the final sum reuse a
    single exchange."""
    c = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tw = Window.partitionBy("user_id")
    p = F.col("n") / F.sum("n").over(tw)
    return (
        c.select("user_id", (-p * F.log(p)).alias("term"), "n")
        .groupBy("user_id")
        .agg(
            roundn(F.sum("term"), 6).alias("entropy"),
            F.sum("n").cast("long").alias("n_events"),
        )
    )


_LEADLAG_MAX = 6  # hours of lead/lag scanned


@query(
    "q_leadlag_corr",
    oracle=f"""
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(range(0, {_LEADLAG_MAX + 1})) AS lag_h),
    joined AS (
        SELECT l.lag_h, a.n AS n_view, b.n AS n_purchase
        FROM lags l
        JOIN h a ON a.event_type = 'view'
        JOIN h b ON b.event_type = 'purchase'
              AND CAST(epoch(b.hr) AS BIGINT)
                  = CAST(epoch(a.hr) AS BIGINT) + l.lag_h * 3600
    )
    SELECT CAST(lag_h AS BIGINT) AS lag_h,
           {roundn_sql('corr(n_view, n_purchase)', 6)} AS lag_corr,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM joined GROUP BY lag_h
    """,
)
def q_leadlag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between two metric streams — the
    reference's domain question generalized (does hashrate follow
    price? here: do purchases follow views?): hourly volumes of the
    leading series correlated against the lagging series shifted by
    0..{_LEADLAG_MAX} hours; the argmax lag is the lead time.

    Plan: ONE hourly count aggregate over both series (the only
    full-data shuffle), then the 7 lag variants come from exploding a
    literal lag range on the tiny hourly relation — O(hours x lags)
    rows, joined on epoch-shifted hour and reduced by corr per lag.
    Shifting epochs as integer seconds keeps the join key exact and
    engine-portable (no interval arithmetic in the key)."""
    h = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = h.filter(F.col("event_type") == "view").select(
        F.unix_timestamp("hr").alias("e"), F.col("n").alias("n_view")
    )
    b = h.filter(F.col("event_type") == "purchase").select(
        F.unix_timestamp("hr").alias("e_b"), F.col("n").alias("n_purchase")
    )
    lagged = a.select(
        "e",
        "n_view",
        F.explode(F.sequence(F.lit(0), F.lit(_LEADLAG_MAX))).alias("lag_h"),
    )
    return (
        lagged.join(
            F.broadcast(b), b["e_b"] == lagged["e"] + lagged["lag_h"] * 3600
        )
        .groupBy(F.col("lag_h").cast("long").alias("lag_h"))
        .agg(
            # moment-composed correlation behind a zero-variance guard
            # (the q_corr_stats doctrine): a metronome stream — exactly
            # N events every hour — has constant counts, and F.corr's
            # internal division would raise DIVIDE_BY_ZERO under ANSI.
            # NULL is both engines' SQL answer. Counts are never NULL
            # post-join, so the pairwise-complete subtlety doesn't arise.
            roundn(
                F.when(
                    (F.stddev_samp("n_view") > 0)
                    & (F.stddev_samp("n_purchase") > 0),
                    F.covar_samp("n_view", "n_purchase")
                    / (F.stddev_samp("n_view") * F.stddev_samp("n_purchase")),
                ),
                6,
            ).alias("lag_corr"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
        )
    )


# Relative outage threshold: a gap is an outage when it exceeds this
# multiple of ITS OWN stream's median cadence. r13 (ORACLE_SF01 receipt
# finding): the previous fixed 1-hour threshold matched 46 gaps at
# sf0.01 but ZERO at sf0.1 — event density grows with scale factor, so
# any absolute threshold degenerates to a vacuous always-empty match on
# denser data. Cadence-relative detection is also the operationally
# correct form: "silent for 8x its normal beat" means the same thing on
# a 1 Hz stream and a 1/day stream. Non-vacuous at every fixture SF
# (measured: 10 / 46 / 418 flagged gaps at sf0.001/0.01/0.1).
_GAP_MEDIAN_MULT = 8


@query(
    "q_gap_detect",
    oracle=f"""
    WITH g AS (
        SELECT event_type, ts, event_id,
               lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    gg AS (
        SELECT event_type, ts, prev_ts,
               date_diff('microsecond', prev_ts, ts) AS gap_us
        FROM g WHERE prev_ts IS NOT NULL
    ),
    m AS (
        SELECT event_type, quantile_cont(gap_us, 0.5) AS med_us
        FROM gg GROUP BY event_type
    )
    SELECT gg.event_type,
           prev_ts AS gap_start,
           ts AS gap_end,
           {roundn_sql("gap_us * 1.0 / 1000000", 6)} AS gap_seconds
    FROM gg JOIN m ON m.event_type = gg.event_type
    WHERE gap_us > {_GAP_MEDIAN_MULT} * med_us
    """,
)
def q_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-outage detection: intervals where a metric stream went
    silent for more than {_GAP_MEDIAN_MULT}x its own median cadence —
    the operational question behind the reference's fetch cadence and
    retry config (main.py:19-21,75-76: a poller that swallows errors,
    extract.py:13-20, shows up ONLY as a gap in the data). One lag
    window per event_type partition (ordered by ts with event_id
    tiebreak for determinism under duplicate timestamps) on a single
    shuffle keyed by event_type; per-stream median cadence via the
    exact interpolated percentile (the q_percentiles cross-engine
    doctrine: Spark `percentile` == DuckDB `quantile_cont`) broadcast
    back onto the gap relation; gap arithmetic in exact integer
    microseconds so both engines derive the identical double. The
    threshold is RELATIVE by design — see _GAP_MEDIAN_MULT: the sf0.1
    oracle sweep caught the old absolute threshold matching on zero
    rows at 10x density. At 100 TB the partition count equals the
    stream count — parallelism matches the monitored surface, and no
    global ordering exists anywhere; the median relation is one row
    per stream (broadcast by construction)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros("prev_ts")
    gaps = (
        table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("gap_us", gap_us)
        .filter(F.col("gap_us").isNotNull())
    )
    med = gaps.groupBy("event_type").agg(
        F.percentile("gap_us", F.lit(0.5)).alias("med_us")
    )
    return (
        gaps.join(F.broadcast(med), "event_type")
        .filter(F.col("gap_us") > _GAP_MEDIAN_MULT * F.col("med_us"))
        .select(
            "event_type",
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            roundn(F.col("gap_us") * 1.0 / 1_000_000, 6).alias(
                "gap_seconds"
            ),
        )
    )


_INCR_CUT = "2024-01-25 00:00:00"


@query(
    "q_incremental_agg_merge",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total,
           {roundn_sql(f"{dsum_sql('value')} / count(value)", 6)} AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the algebraic-merge identity
    every materialized daily rollup depends on: aggregate the base
    period and the increment period SEPARATELY, then merge the partials
    (counts and decimal sums add; avg derives from merged sum/count) —
    and the result must equal the full recompute bit-for-bit, which is
    exactly what the oracle checks (its SQL aggregates the WHOLE table;
    the Spark side never does).

    Why it holds: count and the decimal-quantized sum are commutative
    monoids, so partial aggregation over any partition of the data
    merges associatively — the same property Spark's own partial aggs
    rely on within one query, here lifted across SEPARATE materialized
    runs. avg is NOT mergeable and must be derived post-merge (merging
    avgs weights wrongly); storing (sum, count) instead of avg in every
    rollup table is the design rule this query encodes. At 100 TB the
    daily increment aggregates touch one day's partitions; the merge
    touches |keys| rows — full recompute never happens."""
    e = table(spark, sf_dir, "events")
    cut = F.lit(_INCR_CUT).cast("timestamp")

    # The partials carry max(abs(value)) alongside (count, decimal sum):
    # max is a monoid too, so the dsum poison bound (exact-sum-or-NULL,
    # see functions/numeric._DSUM_BOUND) survives the merge — a rollup
    # table that stores only (sum, count) could never tell that one of
    # its increments contained an unquantizable magnitude. try_cast in
    # the partial keeps the aggregation itself from raising on that row.
    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").try_cast("decimal(18,4)")).alias("total_dec"),
            F.count("value").alias("n_nonnull"),
            F.max(F.abs("value")).alias("max_abs"),
        )

    base = partial(e.filter(F.col("ts") < cut))
    incr = partial(e.filter(F.col("ts") >= cut))
    merged = (
        base.unionByName(incr)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("total_dec").alias("total_dec"),
            F.sum("n_nonnull").alias("n_nonnull"),
            F.max("max_abs").alias("max_abs"),
        )
    )
    total = F.when(
        F.col("max_abs") >= _DSUM_BOUND, F.lit(None).cast("double")
    ).otherwise(F.col("total_dec").cast("double"))
    return merged.select(
        "event_type",
        "n",
        total.alias("total"),
        roundn(total / F.col("n_nonnull"), 6).alias("avg_value"),
    )


def _hll_inc_mask(in_base: Column) -> Column:
    """Increment-leg membership for the sketch split: NOT base, with
    NULL-ts rows routed HERE. The naive `~in_base` is NULL for a NULL
    ts (three-valued logic) and hll_sketch_agg skips NULLs, so it
    silently drops NULL-ts users from BOTH legs — base ∪ increment no
    longer covers the table and the merge-gap audit goes vacuous.
    Coverage is the law the planted gate pins (and the mutation test
    flips this mask to the naive form to prove the gate goes red)."""
    return ~F.coalesce(in_base, F.lit(False))


@query("q_hll_union_merge")  # rows-only: datasketches HLL binaries are engine-specific
def q_hll_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH half of q_incremental_agg_merge's rollup doctrine:
    COUNT(DISTINCT) is not a monoid (distinct sets don't add), so an
    incrementally-maintained distinct-users rollup must store a
    mergeable sketch instead — Apache DataSketches HLL via Spark's
    hll_sketch_agg / hll_union / hll_sketch_estimate. Base period and
    increment are sketched separately, merged with hll_union, and the
    query audits the merge against a full-pass sketch of the whole
    table. The two are NOT guaranteed bit-identical — DataSketches
    routes unions through a gadget whose sparse-to-dense/HLL-mode
    transitions can differ from single-pass state (measured: off by 1
    at 400 users) — so the audited contract is merge_rel_gap: merged
    and full estimates agree within the sketch's OWN error, which is
    what makes sketch rollups composable (estimate error doesn't
    compound with the number of increments merged). exact_users and
    rel_err report the sketch's actual error against countDistinct —
    the number a capacity plan needs before swapping exact distinct for
    sketches at 100 TB (a day's increment re-sketches one day's
    partitions; the merge touches |keys| fixed-width sketch blobs).

    Split is on the same literal-cutoff pattern as
    q_incremental_agg_merge but mask-based (when(), not filter) so BOTH
    halves come out of ONE grouped pass here, and NULL-ts rows route to
    the increment leg — base ∪ increment covers every row or the
    merge-gap audit would be vacuous. Rows-only: the estimate is
    deterministic for a given value set, but DuckDB's approx_distinct
    is a different HLL implementation; the planted test pins
    merge-losslessness and an error floor instead."""
    ev = table(spark, sf_dir, "events")
    in_base = F.col("ts") < F.lit(_INCR_CUT).cast("timestamp")
    agg = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.when(in_base, F.col("user_id"))).alias("sk_base"),
        F.hll_sketch_agg(
            F.when(_hll_inc_mask(in_base), F.col("user_id"))
        ).alias("sk_inc"),
        F.hll_sketch_agg("user_id").alias("sk_full"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    # an all-one-side group yields a NULL sketch on the other leg, and
    # hll_union(NULL, x) is NULL — route around it instead of crashing
    # or reporting a vacuous non-match
    merged = (
        F.when(F.col("sk_base").isNull(), F.col("sk_inc"))
        .when(F.col("sk_inc").isNull(), F.col("sk_base"))
        .otherwise(F.hll_union("sk_base", "sk_inc"))
    )
    est_merged = F.hll_sketch_estimate(merged)
    est_full = F.hll_sketch_estimate("sk_full")
    exact = F.col("exact_users")
    return agg.select(
        "event_type",
        est_merged.alias("est_merged"),
        est_full.alias("est_full"),
        "exact_users",
        roundn(
            F.when(est_full > 0, F.abs(est_merged - est_full) * 1.0 / est_full), 6
        ).alias("merge_rel_gap"),
        roundn(
            F.when(exact > 0, F.abs(est_full - exact) * 1.0 / exact), 6
        ).alias("rel_err"),
    )


def _finite(col):
    """Mask to finite non-NULL doubles — DataSketches KLL rejects NaN
    and a single ±Inf poisons every quantile; the same mask feeds the
    exact twin so sketch and truth summarize the SAME population."""
    return F.when(
        col.isNotNull() & ~F.isnan(col) & (F.abs(col) != F.lit(float("inf"))), col
    )


_KLL_PS = (0.5, 0.9, 0.99)


@query("q_kll_quantile_merge")  # rows-only: KLL sketch binaries are engine-specific
def q_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUANTILE member of the mergeable-sketch rollup family
    (q_incremental_agg_merge: algebraic monoids; q_hll_union_merge:
    distinct counts; here: percentiles). Exact percentiles are not
    mergeable — medians of partitions say nothing about the median —
    and the exact operator needs a full sort per key, so an
    incrementally-maintained latency/size dashboard stores KLL sketches
    (Karnin-Lang-Liberty, the DataSketches quantile sketch Spark 4
    exposes): base and increment sketched separately in ONE grouped
    pass (mask-based split, NULL-ts rows to the increment leg; an
    all-masked leg is an EMPTY sketch, which merges cleanly), merged
    with kll_sketch_merge, quantiles read from the MERGED sketch and
    audited two ways — merge_gap_p90 against a full-pass sketch (merge
    noise stays within the sketch's own error; like HLL, union state is
    not bit-identical to single-pass) and p50/p90/p99 against the exact
    percentile() twin computed in the same pass (the accuracy number
    that decides when a 100 TB pipeline can stop paying for exact
    sorts; a day's increment re-sketches one day's partitions, the
    merge touches |keys| fixed-width blobs).

    Non-finite values are masked into BOTH the sketches and the exact
    twin (_finite): KLL throws on NaN, and the audit only means
    anything if both summarize the same population."""
    ev = table(spark, sf_dir, "events")
    in_base = F.col("ts") < F.lit(_INCR_CUT).cast("timestamp")
    v = _finite(F.col("value"))
    agg = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double(F.when(F.coalesce(in_base, F.lit(False)), v)).alias(
            "sk_base"
        ),
        F.kll_sketch_agg_double(
            F.when(~F.coalesce(in_base, F.lit(False)), v)
        ).alias("sk_inc"),
        F.kll_sketch_agg_double(v).alias("sk_full"),
        *[
            F.expr(
                f"percentile(CASE WHEN value IS NOT NULL AND NOT isnan(value)"
                f" AND abs(value) != double('inf') THEN value END, {p})"
            ).alias(f"exact_p{int(p * 100)}")
            for p in _KLL_PS
        ],
    )
    # unlike hll/theta, an all-masked kll_sketch_agg leg is NOT NULL —
    # it is a non-NULL EMPTY sketch (8-byte header), which merges fine
    merged = F.kll_sketch_merge_double("sk_base", "sk_inc")

    # ...but kll_sketch_get_quantile_* RAISES on an empty buffer instead
    # of answering NULL (KLL_INVALID_INPUT_SKETCH_BUFFER) — a group whose
    # every value is masked (all-NULL/NaN, in the adversarial corpus)
    # must answer NULL quantiles, not kill the job, so gate every read on
    # the sketch's own item count
    def qtl(sk, frac):
        return F.when(
            F.kll_sketch_get_n_double(sk) > 0,
            F.kll_sketch_get_quantile_double(sk, F.lit(frac)),
        )

    cols = ["event_type"]
    for p in _KLL_PS:
        name = f"p{int(p * 100)}"
        cols.append(roundn(qtl(merged, p), 6).alias(f"{name}_sketch"))
        cols.append(roundn(F.col(f"exact_{name}"), 6).alias(f"{name}_exact"))
    cols.append(
        roundn(
            F.abs(qtl(merged, 0.9) - qtl(F.col("sk_full"), 0.9)), 6
        ).alias("merge_gap_p90")
    )
    return agg.select(*cols)


_THETA_A = "view"
_THETA_B = "purchase"


@query("q_theta_set_ops")  # rows-only: theta sketch binaries are engine-specific
def q_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user SET ALGEBRA without a join: |viewers ∪ purchasers|,
    |viewers ∩ purchasers| (converters), |viewers − purchasers| (the
    retargeting audience) via DataSketches Theta — the sketch family
    whose point over HLL is exactly that intersection and difference
    are closed operations on the sketches. At 100 TB this replaces the
    classic two-aggregate self-join ("users with A who also did B")
    with per-segment sketches that any later query composes for free;
    sketches from yesterday's rollup intersect with today's without
    touching either day's raw events again.

    One grouped-by-nothing pass builds both sketches (mask columns);
    the exact twins ride the same query as a second aggregate over a
    per-user (has_a, has_b) relation — one user_id-keyed shuffle, the
    cost the sketches exist to avoid, kept here because the audit IS
    the product (rel errors tell you what the sketch trade buys).
    Output is one row; NULL-sketch legs (a corpus with no A rows)
    degrade to zero-intersection semantics instead of crashing."""
    ev = table(spark, sf_dir, "events")
    is_a = F.col("event_type") == _THETA_A
    is_b = F.col("event_type") == _THETA_B
    sk = ev.agg(
        F.theta_sketch_agg(F.when(is_a, F.col("user_id"))).alias("sk_a"),
        F.theta_sketch_agg(F.when(is_b, F.col("user_id"))).alias("sk_b"),
    )
    per_user = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(F.when(is_a, True)).alias("has_a"),
            F.max(F.when(is_b, True)).alias("has_b"),
        )
    )
    exact = per_user.agg(
        F.count(F.when(F.col("has_a"), 1)).alias("exact_a"),
        F.count(F.when(F.col("has_b"), 1)).alias("exact_b"),
        F.count(F.when(F.col("has_a") | F.col("has_b"), 1)).alias("exact_union"),
        F.count(F.when(F.col("has_a") & F.col("has_b"), 1)).alias("exact_inter"),
        F.count(F.when(F.col("has_a") & ~F.coalesce("has_b", F.lit(False)), 1)).alias(
            "exact_diff"
        ),
    )
    a, b = F.col("sk_a"), F.col("sk_b")
    est = lambda c: F.coalesce(F.theta_sketch_estimate(c), F.lit(0)).cast("long")
    union = (
        F.when(a.isNull(), est(b))
        .when(b.isNull(), est(a))
        .otherwise(est(F.theta_union(a, b)))
    )
    inter = F.when(a.isNull() | b.isNull(), F.lit(0).cast("long")).otherwise(
        est(F.theta_intersection(a, b))
    )
    diff = (
        F.when(a.isNull(), F.lit(0).cast("long"))
        .when(b.isNull(), est(a))
        .otherwise(est(F.theta_difference(a, b)))
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        est(a).alias("est_a"),
        est(b).alias("est_b"),
        union.alias("est_union"),
        inter.alias("est_inter"),
        diff.alias("est_diff"),
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        "exact_diff",
    )
