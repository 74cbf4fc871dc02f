"""Analytic query-keys beyond the reference surface (additive; the
reference's only window function is ``rank`` and its only aggregate is
``count`` — SURVEY.md §2.5-2.6). These are the series-analytics,
statistics, and data-profiling operators an engine user expects:
lag/lead, moving frames, grouping sets, scalar string/date function
packs, approximate aggregates, histograms, and outlier detection.

Oracle discipline (module contract):
- every computed column aliased identically on both sides;
- windowed SUM/AVG and multi-pass statistical moments are rounded —
  association order is engine-specific;
- approximate aggregates (HLL, t-digest) are engine-specific by
  construction, so the oracle-checkable surface is an exactness
  INVARIANT: the Spark side emits ``*_ok`` booleans (approx within
  tolerance of the exact value) and the oracle asserts literal TRUE —
  a hash mismatch means the sketch drifted out of tolerance;
- DuckDB returns BIGINT/DOUBLE where Spark returns INT/DATE: casts
  pinned in the SQL, not papered over in the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.operators.windows import (
    analytic_lag_lead,
    moving_aggregate,
)
from machine_learning_algorithm_sparkml__spark.sources import load_table


# --- window analytics ----------------------------------------------------------

def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event value per user — lag/lead/row_number share
    one window spec (single shuffle on user_id)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return analytic_lag_lead(
        events, ["user_id"], [F.asc("ts"), F.asc("event_id")], "value"
    )


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 3-row moving average + running total of event values
    per user — explicit ROWS frames, one shuffle for both."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return moving_aggregate(
        events, ["user_id"], [F.asc("ts"), F.asc("event_id")], "value", window_rows=3
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/2nd event value per user over the full partition —
    explicit UNBOUNDED..UNBOUNDED frame (the default frame would make
    last_value just the current row). One shuffle serves all three."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    spec = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.first("value").over(spec).alias("first_value"),
        F.last("value").over(spec).alias("last_value"),
        F.nth_value("value", 2).over(spec).alias("second_value"),
    )


def q_window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour event-time RANGE frame per user: count + sum of
    values within the last 3600 epoch-seconds. Range frames are
    peer-inclusive on the ORDER BY key in every engine, so ordering by
    floor-epoch is deterministic; the double sum is rounded (frame
    association order is engine-specific)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    with_epoch = events.withColumn("epoch_s", F.col("ts").cast("long"))
    spec = (
        Window.partitionBy("user_id").orderBy(F.asc("epoch_s")).rangeBetween(-3600, 0)
    )
    return with_epoch.select(
        "event_id",
        "user_id",
        "epoch_s",
        "value",
        F.count(F.lit(1)).over(spec).alias("n_1h"),
        F.round(F.sum("value").over(spec), 4).alias("sum_1h"),
    )


def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER-clause semantics) per order
    priority: big-order count/total alongside the plain rollup — the
    one-pass alternative to self-joining filtered subqueries. All
    conditions evaluate in the same partial aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 300000
    # sum_big is summed as decimal(18,2): decimal addition is exact and
    # associative, so the result is independent of the partial-aggregation
    # tree (a raw double sum landed on different representation boundaries
    # across environments). The single trailing cast to double is
    # deterministic. The per-row double->decimal rounding is unambiguous
    # here because o_totalprice values sit within 1e-7 of exact cents.
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(big.cast("bigint")).alias("n_big"),
        F.sum(
            F.when(big, F.col("o_totalprice")).otherwise(F.lit(0.0)).cast("decimal(18,2)")
        ).cast("double").alias("sum_big"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("bigint").alias("n_finished"),
    )


def q_agg_string_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted set-collection per group, emitted as a joined string
    (driver outputs must stay atomic): distinct order statuses per
    priority. collect_set is partition-order-nondeterministic, so the
    sort happens AFTER collection — the output is engine-independent."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_statuses"),
    )


# --- statistical aggregates ----------------------------------------------------

def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group: sample stddev/variance,
    correlation, covariance. All are single-pass partial-aggregatable
    (sum/sum-of-squares/sum-of-products) — map-side combine applies at
    scale. Rounded: moment accumulation order is engine-specific."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus), ()) — the
    general form of rollup/cube (already covered by `agg_rollup` /
    `agg_cube`); one Expand + one aggregate exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HyperLogLog++ distinct count and
    quantile sketch vs their exact counterparts. At 100 TB these ARE
    the distinct-count/quantile path (exact countDistinct needs a
    global shuffle of all distinct values; the sketches merge in fixed
    memory). Oracle checks the exact columns and the within-tolerance
    invariants (booleans must be TRUE)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Independent one-row aggregates crossed at the end, not one
    # combined agg: a distinct aggregate mixed with a value-buffering
    # percentile forces Expand + sort-aggregate over N x 2 rows
    # (measured 4x slower at sf0.1); separately each is a single
    # partial-aggregatable pass and the cross of 1-row frames is free.
    exact_distinct = li.agg(F.countDistinct("l_partkey").alias("n_parts_exact"))
    # Exact median WITHOUT the single-reduce-task value merge (r17,
    # VERDICT r16 #4: `percentile()` buffers every value per map task
    # and merges ALL of them in one final task — ~2 s of the key at
    # sf0.1 and inherently serial at any scale). Distributed exact
    # order statistics instead, in three parallel passes:
    #   1. N + an approx_percentile [0.4, 0.6] BRACKET around the
    #      median (sketch rank error N/10000 << the 0.1*N margin, so
    #      the true median positions k1 = (N-1)//2 and k2 = N//2 are
    #      inside the bracket by construction);
    #   2. one partial-aggregated pass counting rows strictly below /
    #      inside the bracket;
    #   3. TakeOrderedAndProject of the two order statistics from the
    #      ~0.2*N bracket rows: per-partition top-k heaps run in
    #      parallel, but the final task still merges up to
    #      k2 - n_below + 1 (about 0.1*N) values — a bounded merge,
    #      not percentile's merge of every value.
    # The bracket-guarantee check falls back to the old single-merge
    # percentile if the sketch ever failed it (it cannot, by the rank
    # bound; belt-and-braces so a pathological input stays CORRECT,
    # merely slower). Consumers see `_p50_exact` only through the 1%
    # `approx_p50_ok` tolerance, and the two-order-stat average IS the
    # exact interpolated median, so results are unchanged.
    x = li.select(F.col("l_extendedprice").alias("x"))
    head = x.agg(
        F.count("x").alias("n"),
        F.expr("approx_percentile(x, array(0.4, 0.6), 10000)").alias("br"),
    ).first()
    n_rows = int(head["n"])
    bracket_ok = n_rows > 0 and head["br"] is not None
    if bracket_ok:
        lo, hi = head["br"][0], head["br"][1]
        k1, k2 = (n_rows - 1) // 2, n_rows // 2
        cnt = x.agg(
            F.count(F.when(F.col("x") < lo, 1)).alias("n_below"),
            F.count(F.when((F.col("x") >= lo) & (F.col("x") <= hi), 1)).alias("n_in"),
        ).first()
        n_below, n_in = int(cnt["n_below"]), int(cnt["n_in"])
        bracket_ok = n_below <= k1 and k2 < n_below + n_in
    if bracket_ok:
        two = (
            x.filter((F.col("x") >= lo) & (F.col("x") <= hi))
            .orderBy(F.asc("x"))
            .limit(k2 - n_below + 1)
            .orderBy(F.desc("x"))
            .limit(2)
            .agg(
                ((F.min("x") + F.max("x")) / F.lit(2.0)).alias("m2"),
                F.max("x").alias("m1"),
            )
            .first()
        )
        p50 = float(two["m1"] if k1 == k2 else two["m2"])
        exact_p50 = spark.range(1).select(F.lit(p50).alias("_p50_exact"))
    else:
        # unreachable by the sketch rank bound on any non-degenerate
        # input; kept so a pathological/empty input stays CORRECT
        # (the old single-merge percentile), merely slower
        exact_p50 = li.agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("_p50_exact")
        )
    approx = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("_p50_approx"),
    )
    raw = exact_distinct.crossJoin(F.broadcast(exact_p50)).crossJoin(F.broadcast(approx))
    return raw.select(
        "n_parts_exact",
        # tolerance = 5x rsd: the HLL sketch is deterministic per
        # dataset, but a new scale factor re-rolls the error; 10% at
        # rsd=0.02 leaves ~5 sigma of margin so the TRUE-pinned oracle
        # can't flip without a code change.
        (
            F.abs(F.col("_approx_parts") - F.col("n_parts_exact"))
            <= 0.10 * F.col("n_parts_exact")
        ).alias("approx_distinct_ok"),
        (
            F.abs(F.col("_p50_approx") - F.col("_p50_exact")) <= 0.01 * F.col("_p50_exact")
        ).alias("approx_p50_ok"),
    )


def q_agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the pattern `agg_approx`'s
    one-shot HLL doesn't show: build one Datasketches HLL per group
    (per returnflag here; per day/partition in a real pipeline), then
    UNION the serialized sketches and estimate the global cardinality
    WITHOUT rescanning the data. At 100 TB this is how incremental
    distinct counts work: daily jobs persist tiny sketch blobs, and
    any rollup (week, month, all-time) is a sketch union — no second
    pass over the corpus, fixed memory at every level. Oracle checks
    the exact count and pins ``sketch_merge_ok`` TRUE (estimate within
    10% — default lgConfigK=12 gives ~1.6% rsd, so the margin is ~6σ)."""
    li = load_table(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("n_parts_exact"))
    return exact.crossJoin(F.broadcast(merged)).select(
        "n_parts_exact",
        (
            F.abs(F.col("_est") - F.col("n_parts_exact"))
            <= 0.10 * F.col("n_parts_exact")
        ).alias("sketch_merge_ok"),
    )


def q_agg_distinct_setops_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch DISTINCT SET OPERATIONS — the capability HLL
    fundamentally lacks (`agg_hll_sketch_merge` can only union):
    intersection, union, and difference of distinct-customer sets
    across two order years, each estimated from mergeable sketches.
    At 100 TB this is how cross-segment distinct overlap works:
    per-partition/per-day sketches (here `theta_sketch_agg(...,
    lgNomEntries=20)`, ~1 MB ceiling each) merge associatively —
    `theta_union_agg`/`theta_intersection_agg` are the grouped forms
    — and ANY pairwise overlap question is answered from the blobs
    with no rescan and no mega-shuffle of raw keys. A theta sketch
    below its nominal-entries threshold (2^20 here) is in EXACT mode
    (it retains every hash), so at test scale the estimates are
    value-exact longs and the oracle compares exact set algebra; past
    the threshold the same plan degrades gracefully to ~0.1% rse.
    The two one-row sketch frames cross back via broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    a = orders.filter(yr == 1996).agg(
        F.expr("theta_sketch_agg(o_custkey, 20)").alias("a")
    )
    b = orders.filter(yr == 1997).agg(
        F.expr("theta_sketch_agg(o_custkey, 20)").alias("b")
    )
    return a.crossJoin(F.broadcast(b)).selectExpr(
        "theta_sketch_estimate(a) AS n_96",
        "theta_sketch_estimate(b) AS n_97",
        "theta_sketch_estimate(theta_intersection(a, b)) AS n_both",
        "theta_sketch_estimate(theta_union(a, b)) AS n_any",
        "theta_sketch_estimate(theta_difference(a, b)) AS n_96_only",
    )


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bucket = floor(x/50000).
    One hash aggregate (map-side combine) — the profiling primitive."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


def q_filter_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier detection on per-customer total spend: aggregate,
    compute global Q1/Q3 (one-row frame), broadcast the fences back
    over the aggregate, keep rows outside [Q1-1.5*IQR, Q3+1.5*IQR].

    The per-customer sum is rounded BEFORE the quantile so both
    engines rank over bit-identical inputs. The one-row fence frame
    crosses via a broadcast nested-loop join — no shuffle of the
    spend table.

    Scale shape: fences come from ``approx_percentile`` (Greenwald-
    Khanna sketch, fixed memory, mergeable map-side) rather than exact
    ``percentile`` (which buffers every per-customer value on one
    reducer — a 100x-scale hazard). With accuracy >= N the sketch
    never compresses, so the result is EXACTLY the element at rank
    ceil(p*N) — percentile_disc semantics — which the DuckDB oracle
    mirrors bit-for-bit (verified sf0.001/0.01/0.1)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    fences = spend.agg(
        F.expr("approx_percentile(total_spend, 0.25, 1000000)").alias("_q1"),
        F.expr("approx_percentile(total_spend, 0.75, 1000000)").alias("_q3"),
    )
    flagged = spend.crossJoin(F.broadcast(fences))
    iqr = F.col("_q3") - F.col("_q1")
    return flagged.filter(
        (F.col("total_spend") < F.col("_q1") - 1.5 * iqr)
        | (F.col("total_spend") > F.col("_q3") + 1.5 * iqr)
    ).select("o_custkey", "total_spend", "n_orders")


# --- scalar function packs -----------------------------------------------------

def q_scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function pack over ``part``: case mapping, substring,
    concat, padding, regex extraction, split, reverse — all JVM
    expressions inside one whole-stage-codegen'd projection."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.split("p_type", " ").getItem(0).alias("type_first"),
        F.reverse("p_name").alias("name_rev"),
        F.length("p_name").alias("name_len"),
    )


def q_scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function pack over ``orders``: field extraction,
    truncation, arithmetic, formatting. Session timezone is pinned
    UTC (session.py) so extraction matches any naive-timestamp engine."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.trunc(d, "month").alias("month_start"),
        F.date_add(d, 30).alias("plus_30d"),
        F.datediff(F.to_date(F.lit("2024-12-31")), d).alias("days_to_eoy"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


# --- rank distributions --------------------------------------------------------

def q_window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment + rank distributions per market segment:
    ntile/percent_rank/cume_dist share ONE window spec (single shuffle
    on the segment). Ordering is pinned by (acctbal, custkey) so tile
    boundaries are engine-independent; percent_rank and cume_dist are
    exact rank-over-count rationals — no rounding needed."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --- stratified sampling -------------------------------------------------------

def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum seeded Bernoulli sampling (``sampleBy``) — the
    class-targeted generalization of the reference's global
    undersampling (``A related code.txt:78``). No SQL oracle: Spark
    RNG semantics; per-stratum rate invariants in tests."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.sampleBy(
        "o_orderstatus", fractions={"F": 0.3, "O": 0.1, "P": 0.5}, seed=754
    )


# --- behavioral analytics ------------------------------------------------------

def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user
    reaches stage N only via an event STRICTLY AFTER their stage-N-1
    time. Three user-keyed aggregates + two user-keyed joins — the
    canonical distributed funnel shape (each stage's frame shrinks, and
    all shuffles share the user_id key so AQE can co-locate them); no
    per-user event-list collection anywhere. Exact integer outputs."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(views, "1_view")
        .unionAll(stage(clicks, "2_click"))
        .unionAll(stage(purchases, "3_purchase"))
    )


def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of
    their first event; n_users active at each week offset since.
    Shapes: one user-keyed aggregate (first-seen), one distinct over
    (user, week) — both map-side combinable — then a user-keyed join
    and a tiny (cohort, offset) aggregate. Offsets are exact integer
    day-differences of Monday-truncated dates divided by 7."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    cohort = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .select("user_id", F.to_date(F.date_trunc("week", F.col("t0"))).alias("cohort_week"))
    )
    active = events.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("active_week")
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_ps_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-on-Spark front-end (``pyspark.pandas``): the same
    grouped aggregation a pandas user writes
    (``df.groupby(...).agg(...)``) compiled by the SAME Catalyst
    pipeline — the plan is a pruned scan into a two-phase
    HashAggregate with NO Python nodes (pinned in tests/test_plans),
    identical to what the DataFrame API or SQL produce. Two scale
    rules the key encodes: ``compute.default_index_type =
    'distributed'`` (the default 'sequence' index materializes a
    GLOBAL row-number window over the whole table — the classic
    pandas-on-Spark footgun at 100 TB), scoped and restored; and the
    money sum is rounded through the ps Series API (which delegates
    to the JVM half-up round — the module's aggregate-ROUND rule).
    pandas groupby drops NULL keys by default; o_orderstatus is
    non-null so the SQL oracle needs no carve-out."""
    import pyspark.pandas as ps

    prev = ps.get_option("compute.default_index_type")
    ps.set_option("compute.default_index_type", "distributed")
    try:
        pdf = load_table(spark, sf_dir, "orders").pandas_api()
        out = (
            pdf.groupby("o_orderstatus")
            .agg(
                n_orders=("o_orderkey", "count"),
                max_price=("o_totalprice", "max"),
                sum_price=("o_totalprice", "sum"),
            )
            .reset_index()
        )
        out["sum_price"] = out["sum_price"].round(2)
        return out.to_spark()
    finally:
        ps.set_option("compute.default_index_type", prev)


def q_timeseries_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-bucket downsampling: per (event_type, hour) the
    open/high/low/close of ``value`` plus count and exact-decimal sum
    — the pass that turns a raw event stream into a bar series
    (telemetry/financial downsampling). ONE groupBy = one shuffle with
    map-side partial aggregation; open/close are ``min_by``/``max_by``
    over a zero-padded (epoch_us, event_id) string — fixed-width, so
    lexicographic equals numeric order, tie-free (event_id is unique)
    and replayable by any engine's arg_min/arg_max over the identical
    string (DuckDB's arg_min takes no composite ordering key, hence
    the string encoding). At 100 TB this is the canonical
    reduce-by-bucket shape: the output is |types| x |hours| rows,
    never event-sized, and the shuffle carries one partial bar per
    (task, group)."""
    ev = load_table(spark, sf_dir, "events")
    ordk = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        ).agg(
            F.min_by(F.col("value"), ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by(F.col("value"), ordk).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


def q_timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window exponentially-weighted moving average per user —
    the online-feature shape (fraud scores, rate trackers) that a plain
    moving average misses because recency must dominate. Window = the
    last 8 events (ROWS BETWEEN 7 PRECEDING AND CURRENT), decay 0.5,
    weights normalized over the PRESENT rows (short heads at each
    user's start use the partial-window normalizer, not zero-padding).

    Plan shape: ONE window (collect_list over the bounded frame) + a
    per-row fold — no self-join (the relational formulation joins each
    event to its 7 predecessors: an 8× row blowup the 100 TB plan
    can't afford; the DuckDB ORACLE uses exactly that self-join, which
    is the point — same values, different physics). Weights are powers
    of two, so each product is an EXACT double scaling; only the
    summation order differs between the fold and the oracle's SUM,
    hence the one ROUND(…, 6)."""
    # NULL discipline: collect_list silently DROPS nulls, which would
    # desync the frame against the oracle's COUNT(*)-weighted
    # self-join — so null readings are excluded from the series on
    # BOTH sides before any window math (the feature semantics: a
    # missing reading contributes neither weight nor decay).
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "ts", "value")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-7, 0)
    vals = F.collect_list("value").over(w)
    frame = ev.select("event_id", "user_id", vals.alias("vals"))
    m = F.size("vals")
    # oldest list slot gets the smallest weight: 0.5^(m-1-i)
    weighted = F.transform(
        "vals", lambda x, i: x * F.pow(F.lit(0.5), (m - 1 - i).cast("double"))
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda a, x: a + x)
    den = F.lit(2.0) - F.pow(F.lit(0.5), (m - 1).cast("double"))  # Σ 0.5^i, i<m
    return frame.select(
        "event_id",
        "user_id",
        m.alias("n_window"),
        F.round(num / den, 6).alias("ewma"),
    )


QUERIES = {
    "ps_groupby_agg": q_ps_groupby_agg,
    "timeseries_downsample_ohlc": q_timeseries_downsample_ohlc,
    "timeseries_ewma": q_timeseries_ewma,
    "window_ntile_cume": q_window_ntile_cume,
    "window_lag_lead": q_window_lag_lead,
    "window_moving_avg": q_window_moving_avg,
    "window_first_last": q_window_first_last,
    "window_range_time": q_window_range_time,
    "agg_conditional": q_agg_conditional,
    "agg_string_collect": q_agg_string_collect,
    "agg_stats": q_agg_stats,
    "agg_grouping_sets": q_agg_grouping_sets,
    "agg_approx": q_agg_approx,
    "agg_hll_sketch_merge": q_agg_hll_sketch_merge,
    "agg_distinct_setops_sketch": q_agg_distinct_setops_sketch,
    "agg_histogram": q_agg_histogram,
    "filter_outlier_iqr": q_filter_outlier_iqr,
    "scalar_string_funcs": q_scalar_string_funcs,
    "scalar_date_funcs": q_scalar_date_funcs,
    "sample_stratified": q_sample_stratified,
    "event_funnel": q_event_funnel,
    "retention_cohort": q_retention_cohort,
}

ORACLE = {
    # OHLC bars: arg_min/arg_max over the zero-padded (epoch_us, id)
    # string replay Spark's min_by/max_by over the identical string
    # EWMA replayed relationally: each event joins its ≤7 predecessors
    # (rn-windowed self-join) and SUMs pow(0.5, rn_gap)-weighted
    # values — same exact power-of-two products as the Spark fold,
    # summation order differs, hence ROUND 6 on both sides
    "timeseries_ewma": """
        WITH e AS (
            SELECT event_id, user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE value IS NOT NULL
        )
        SELECT a.event_id, a.user_id,
               CAST(COUNT(*) AS INTEGER) AS n_window,
               ROUND(SUM(b.value * POW(0.5, a.rn - b.rn))
                     / (2.0 - POW(0.5, COUNT(*) - 1)), 6) AS ewma
        FROM e a JOIN e b
          ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 7 AND a.rn
        GROUP BY a.event_id, a.user_id
    """,
    "timeseries_downsample_ohlc": """
        SELECT event_type,
               date_trunc('hour', ts) AS bucket_ts,
               arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    # the pandas front-end must produce the same answer as SQL —
    # that is the key's whole claim
    "ps_groupby_agg": """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               MAX(o_totalprice) AS max_price,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders GROUP BY o_orderstatus
    """,
    "window_ntile_cume": """
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
    "window_lag_lead": """
        SELECT event_id, user_id, ts, value,
               LAG(value, 1) OVER w AS prev_value,
               LEAD(value, 1) OVER w AS next_value,
               CAST(ROW_NUMBER() OVER w AS INTEGER) AS seq
        FROM (SELECT event_id, user_id, ts, value FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    "window_moving_avg": """
        SELECT event_id, user_id, ts, value,
               ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg_value_3,
               ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value
        FROM (SELECT event_id, user_id, ts, value FROM events)
    """,
    "window_first_last": """
        SELECT event_id, user_id, ts, value,
               first_value(value) OVER w AS first_value,
               last_value(value) OVER w AS last_value,
               nth_value(value, 2) OVER w AS second_value
        FROM (SELECT event_id, user_id, ts, value FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "window_range_time": """
        SELECT event_id, user_id, epoch_s, value,
               COUNT(*) OVER w AS n_1h,
               ROUND(SUM(value) OVER w, 4) AS sum_1h
        FROM (
            SELECT event_id, user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value
            FROM events
        )
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s ASC
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    "agg_conditional": """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(COALESCE(SUM(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_big,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_totalprice > 300000),
                             CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_big,
               CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_finished
        FROM orders GROUP BY o_orderpriority
    """,
    "agg_string_collect": """
        SELECT o_orderpriority,
               string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
               COUNT(DISTINCT o_orderstatus) AS n_statuses
        FROM orders GROUP BY o_orderpriority
    """,
    "agg_stats": """
        SELECT l_returnflag,
               ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
               ROUND(VAR_SAMP(l_discount), 6) AS var_disc,
               ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS covar_qty_disc
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "agg_approx": """
        SELECT COUNT(DISTINCT l_partkey) AS n_parts_exact,
               TRUE AS approx_distinct_ok,
               TRUE AS approx_p50_ok
        FROM lineitem
    """,
    "agg_distinct_setops_sketch": """
        WITH a AS (
            SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
        ), b AS (
            SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1997
        )
        SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_96,
               CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_97,
               CAST((SELECT COUNT(*) FROM a JOIN b USING (o_custkey)) AS BIGINT) AS n_both,
               CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b) u) AS BIGINT) AS n_any,
               CAST((SELECT COUNT(*) FROM a WHERE o_custkey NOT IN (SELECT o_custkey FROM b)) AS BIGINT) AS n_96_only
    """,
    "agg_hll_sketch_merge": """
        SELECT COUNT(DISTINCT l_partkey) AS n_parts_exact,
               TRUE AS sketch_merge_ok
        FROM lineitem
    """,
    "agg_histogram": """
        SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER) AS bucket,
               COUNT(*) AS n_orders,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders GROUP BY 1
    """,
    "filter_outlier_iqr": """
        WITH spend AS (
            SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spend,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY o_custkey
        ), fences AS (
            -- percentile_disc == Spark approx_percentile in its exact
            -- regime (accuracy >= N): the element at rank ceil(p*N)
            SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY total_spend) AS q1,
                   percentile_disc(0.75) WITHIN GROUP (ORDER BY total_spend) AS q3
            FROM spend
        )
        SELECT s.o_custkey, s.total_spend, s.n_orders
        FROM spend s, fences f
        WHERE s.total_spend < f.q1 - 1.5 * (f.q3 - f.q1)
           OR s.total_spend > f.q3 + 1.5 * (f.q3 - f.q1)
    """,
    "scalar_string_funcs": """
        SELECT p_partkey,
               UPPER(p_name) AS name_upper,
               SUBSTRING(p_name, 1, 8) AS name_prefix,
               CONCAT_WS('-', p_brand, p_type) AS brand_type,
               LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
               regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
               split_part(p_type, ' ', 1) AS type_first,
               REVERSE(p_name) AS name_rev,
               CAST(LENGTH(p_name) AS INTEGER) AS name_len
        FROM part
    """,
    "scalar_date_funcs": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mo,
               CAST(day(o_orderdate) AS INTEGER) AS dom,
               CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus_30d,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-12-31') AS INTEGER) AS days_to_eoy,
               strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders
    """,
    # sample_stratified: Spark per-stratum RNG, rows-only check.
    "event_funnel": """
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t_buy
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        UNION ALL SELECT '2_click' AS stage, COUNT(*) AS n_users FROM c
        UNION ALL SELECT '3_purchase' AS stage, COUNT(*) AS n_users FROM p
    """,
    "retention_cohort": """
        WITH t0 AS (
            SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ), aw AS (
            SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
            FROM events
        )
        SELECT t0.cohort_week,
               CAST(date_diff('day', t0.cohort_week, aw.active_week) // 7 AS INTEGER) AS week_offset,
               COUNT(*) AS n_users
        FROM aw JOIN t0 ON aw.user_id = t0.user_id
        GROUP BY t0.cohort_week, week_offset
    """,
}
