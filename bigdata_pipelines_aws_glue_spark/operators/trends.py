"""Trend-detection operators — the reference's stated purpose is to
"analyze raw e-commerce transaction data to identify sales trends"
(``README.md:7``); the reference only materializes the grouping keys
(`glue_job.py:129-134`) and delegates the analysis to the warehouse.
Here the trend query itself is first-class.

- ``sales_trend_slope``: per-nation OLS slope of monthly revenue —
  the closed-form least-squares fit computed entirely in integer
  domain (cents × month-index), so Spark and DuckDB agree bit-for-bit
  until one final double division. No UDF, no driver math: two keyed
  aggregations.
- ``rolling_7d_active_users``: trailing-7-day distinct users per day.
  Sliding count-distinct is not expressible as a window function
  (DISTINCT is not frame-able); the scalable form is a bounded
  fan-out: each event contributes to the ≤7 day-buckets whose
  trailing window contains it, then one distinct aggregation per
  bucket. Shuffle volume is 7× events — constant in the
  window/granularity ratio, independent of corpus size — and Spark
  plans count(DISTINCT) as the standard two-phase expand, so at
  100 TB the heavy reduction is map-side. (Swap in
  ``approx_count_distinct`` for a sketch-based variant at extreme
  cardinalities.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import stable_round
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


def sales_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: OLS slope (currency units / month) of
    monthly order revenue vs a month index, via the closed form

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    with y in exact cents and x a small integer, so every Σ is an
    exact BIGINT in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    monthly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(
            # cents sums stay long-domain deliberately (round-6 decimal
            # sweep): wrap needs > $9e13 PER (nation, month) group —
            # orders of magnitude past any real corpus, and the output
            # column is typed long
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)))
            .cast("long")
            .alias("rev_cents")
        )
    )
    fit = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum("rev_cents").alias("sy"),
        F.sum(F.col("x") * F.col("rev_cents")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return fit.select(
        "nation",
        "n_months",
        stable_round(num / den / F.lit(100.0), 4).alias("slope_per_month"),
        stable_round(
            F.col("sy").cast("double") / F.lit(100.0) / F.col("n_months"), 2
        ).alias("avg_monthly_revenue"),
    )


TREND_ORACLE = """
WITH monthly AS (
    SELECT n_name AS nation,
           CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS x,
           CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) AS rev_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, x
),
fit AS (
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_months,
           sum(x) AS sx, sum(rev_cents) AS sy,
           sum(x * rev_cents) AS sxy, sum(x * x) AS sxx
    FROM monthly GROUP BY nation
)
SELECT nation, n_months,
       floor((CAST(n_months * sxy - sx * sy AS DOUBLE)
              / CAST(n_months * sxx - sx * sx AS DOUBLE) / 100.0)
             * 10000.0 + 0.5) / 10000.0 AS slope_per_month,
       floor((CAST(sy AS DOUBLE) / 100.0 / n_months) * 100.0 + 0.5) / 100.0
           AS avg_monthly_revenue
FROM fit
"""


def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users and event volume, per day:
    the day-`d` row covers events in (d-6 .. d]."""
    ev = load_table(spark, sf_dir, "events")
    contrib = ev.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        F.to_date("ts").alias("event_day"),
    ).select(
        "user_id", F.date_add(F.col("event_day"), F.col("i")).alias("day")
    )
    return (
        contrib.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("active_users_7d"),
            F.count(F.lit(1)).alias("n_events_7d"),
        )
        .orderBy("day")
    )


ROLLING_USERS_ORACLE = """
WITH contrib AS (
    SELECT user_id, CAST(ts AS DATE) + CAST(i AS INTEGER) AS day
    FROM events, (SELECT unnest(generate_series(0, 6)) AS i)
)
SELECT day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_7d,
       CAST(count(*) AS BIGINT) AS n_events_7d
FROM contrib
GROUP BY day
ORDER BY day
"""


#: Holt smoothing constants — EXACT binary fractions deliberately
#: (the EWMA/CUSUM determinism note, ``streaming/stateful.py:118``):
#: every recurrence step is then the same IEEE double operation on
#: both engines, so the unrolled walk is bit-identical with zero
#: quantization.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25

_HOLT_SCHEMA = (
    "nation string, n_months int, level double, trend double, "
    "forecast_1m double, forecast_3m double"
)


def fold_holt(
    values: list[float],
    level: float | None,
    trend: float,
) -> tuple[float, float]:
    """THE Holt recurrence — the single shared fold behind all
    three forms (``holt_smooth``, ``stateful.holt_batch``,
    ``stateful.holt_stream``), so the bit-for-bit contract between
    them is enforced by construction, not by parallel copies.
    Carried-state semantics: first-ever value initialises
    (level=v, trend=0); every later value applies the
    double-exponential update in this exact op order."""
    for v in values:
        if level is None:
            level = v
            continue
        l_new = HOLT_ALPHA * v + (1.0 - HOLT_ALPHA) * (level + trend)
        trend = HOLT_BETA * (l_new - level) + (1.0 - HOLT_BETA) * trend
        level = l_new
    return float(level if level is not None else 0.0), float(trend)


def holt_forecast_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-nation Holt double-exponential smoothing of monthly
    revenue with 1- and 3-month-ahead forecasts (public method:
    Holt 1957; Hyndman & Athanasopoulos, FPP §8.2 — the additive
    linear-trend recurrence)

        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1},   ŷ_{t+h} = l_t + h·b_t

    initialised l_1 = y_1, b_1 = 0 (documented choice, replayed
    identically by the oracle). Completes the trend family's ladder:
    ``sales_trend_slope`` fits ONE line to the whole history; the
    `q6` seasonal-naive forecast repeats last year; Holt tracks a
    drifting trend and is the first member that actually weighs
    recent months more.

    Numerics: the monthly series is ``sales_trend_slope``'s exact
    integer cents (BIGINT sums, exactly representable as doubles),
    and α, β are exact binary fractions, so every double op in the
    fold is bit-identical across engines — the EWMA/CUSUM
    discipline; the DuckDB twin unrolls the recurrence as a
    WITH RECURSIVE walk over the same per-nation row numbers.
    Scale shape: one keyed aggregation to months (exactly
    ``sales_trend_slope``'s shuffle), then an Arrow-batched
    ``applyInPandas`` fold per nation — state is O(1) per series,
    work is |months| per series, series count bounds parallelism
    (at 100 TB you run this per (nation, category) to widen it)."""
    monthly = _monthly_series(spark, sf_dir)
    return holt_smooth(monthly)


def holt_smooth(monthly: DataFrame) -> DataFrame:
    """The Holt kernel over an arbitrary (nation, x, rev) series
    frame — factored (the ``capped_waterfill`` discipline) so pytest
    can drive it with constant / exactly-linear synthetic series."""
    import pandas as pd

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("x")
        ys = list(pdf["rev"])
        l, b = fold_holt(ys, None, 0.0)
        return pd.DataFrame(
            {
                "nation": [pdf["nation"].iloc[0]],
                "n_months": [len(ys)],
                "level": [l / 100.0],
                "trend": [b / 100.0],
                "forecast_1m": [(l + b) / 100.0],
                "forecast_3m": [(l + 3.0 * b) / 100.0],
            }
        )

    return monthly.groupBy("nation").applyInPandas(
        fold, schema=_HOLT_SCHEMA
    )


HOLT_ORACLE = f"""
WITH RECURSIVE monthly AS (
    SELECT n_name AS nation,
           CAST((year(o_orderdate) - 1992) * 12
                + month(o_orderdate) - 1 AS BIGINT) AS x,
           CAST(CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT)
                AS DOUBLE) AS rev
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, x
),
s AS (
    SELECT nation, rev,
           row_number() OVER (PARTITION BY nation ORDER BY x) AS rn,
           count(*)     OVER (PARTITION BY nation) AS n
    FROM monthly
),
walk AS (
    SELECT nation, rn, n, CAST(rev AS DOUBLE) AS l,
           CAST(0.0 AS DOUBLE) AS b
    FROM s WHERE rn = 1
    UNION ALL
    SELECT e.nation, e.rn, e.n,
           {HOLT_ALPHA} * e.rev + {1.0 - HOLT_ALPHA} * (w.l + w.b),
           {HOLT_BETA} * (({HOLT_ALPHA} * e.rev
                           + {1.0 - HOLT_ALPHA} * (w.l + w.b)) - w.l)
               + {1.0 - HOLT_BETA} * w.b
    FROM walk w JOIN s e ON e.nation = w.nation AND e.rn = w.rn + 1
)
SELECT nation,
       CAST(n AS INT) AS n_months,
       l / 100.0 AS level,
       b / 100.0 AS trend,
       (l + b) / 100.0 AS forecast_1m,
       (l + 3.0 * b) / 100.0 AS forecast_3m
FROM walk WHERE rn = n
"""


#: Croston smoothing constant — an exact binary fraction (the Holt
#: discipline) so the per-event recurrence is bit-identical across
#: engines with zero quantization.
CROSTON_ALPHA = 0.25


def croston_demand_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's method per part (public: Croston 1972; the
    intermittent-demand forecaster ``demand_pattern_parts`` routes
    to — TPC-H part demand is intermittent/lumpy at every SF, which
    is exactly the regime where SES/Holt over the dense series
    systematically biases low): two exponential smoothers over the
    NONZERO weekly demands only — size ``z`` over the demand
    quantities, interval ``p`` over the inter-demand gaps — with
    per-period forecast ``z / p``. Initialisation (documented,
    replayed identically by the oracle): first demand sets
    ``z = q₁, p = 1``; gaps are measured between successive demand
    weeks. ``intermittent`` flags parts whose SMOOTHED interval
    stays at or above the Syntetos-Boylan 1.32 ADI cutoff (the
    quadrant boundary ``demand_pattern_parts`` measures on the raw
    mean).

    Dense-grid-free by construction: only nonzero (part, week) rows
    exist anywhere — the classic Croston update touches state only
    when demand occurs. Numerics: exact integer weeks/quantities,
    alpha an exact binary fraction, identical double op order — the
    EWMA/CUSUM/Holt discipline; oracle is a per-part WITH RECURSIVE
    walk. Scale shape: one (part, week) aggregation + one
    Arrow-batched per-part fold, O(1) state per part."""
    from bigdata_pipelines_aws_glue_spark.operators.concentration import (
        _WEEK_EPOCH,
    )

    li = load_table(spark, sf_dir, "lineitem")
    week = F.expr(
        f"datediff(l_shipdate, date'{_WEEK_EPOCH}') DIV 7"
    ).cast("long")
    q = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    pw = li.groupBy(F.col("l_partkey"), week.alias("wk")).agg(
        F.sum(q).cast("double").alias("q")
    )
    return croston_forecast(pw)


def croston_forecast(pw: DataFrame) -> DataFrame:
    """The Croston kernel over an arbitrary (l_partkey, wk, q)
    nonzero-demand frame — factored (the ``capped_waterfill``
    discipline) so pytest can replay it against a pure-Python
    reference on synthetic series.

    Pure JVM fold, no Python worker: the per-part series is
    collected into one array (bounded by the CALENDAR — at weekly
    buckets a part has at most #weeks-in-history elements, ~360
    here, independent of corpus volume) and folded with
    ``F.aggregate`` inside codegen; the sort key rides in the
    struct so ``array_sort`` realizes week order (the FFD-packing
    trick). JVM doubles are the same IEEE-754 ops as DuckDB's walk,
    so the fold is bit-identical with zero quantization. Measured
    vs the applyInPandas form it replaces: the 20k-part sf0.1 fold
    dropped from ~12 s to ~1 s (20k one-row Arrow exchanges was
    the entire cost)."""
    a = float(CROSTON_ALPHA)
    b = 1.0 - a
    rows = pw.groupBy("l_partkey").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("wk"), F.col("q")))
        ).alias("evs")
    )
    init = F.struct(
        F.lit(None).cast("double").alias("z"),
        F.lit(0.0).cast("double").alias("p"),
        F.lit(0).cast("long").alias("prev"),
    )

    def step(acc, e):
        return F.struct(
            F.when(acc["z"].isNull(), e["q"])
            .otherwise(F.lit(a) * e["q"] + F.lit(b) * acc["z"])
            .alias("z"),
            F.when(acc["z"].isNull(), F.lit(1.0))
            .otherwise(
                F.lit(a) * (e["wk"] - acc["prev"]).cast("double")
                + F.lit(b) * acc["p"]
            )
            .alias("p"),
            e["wk"].alias("prev"),
        )

    folded = rows.select(
        "l_partkey",
        F.size("evs").cast("int").alias("n_demand_weeks"),
        F.aggregate("evs", init, step).alias("st"),
    )
    return folded.select(
        "l_partkey",
        "n_demand_weeks",
        F.col("st.z").alias("size_level"),
        F.col("st.p").alias("interval_level"),
        (F.col("st.z") / F.col("st.p")).alias("demand_rate"),
        (F.col("st.p") >= F.lit(1.32)).alias("intermittent"),
    )


def _croston_oracle() -> str:
    from bigdata_pipelines_aws_glue_spark.operators.concentration import (
        _WEEK_EPOCH,
    )

    a, b = CROSTON_ALPHA, 1.0 - CROSTON_ALPHA
    return f"""
WITH RECURSIVE pw AS MATERIALIZED (
    SELECT l_partkey,
           date_diff('day', TIMESTAMP '{_WEEK_EPOCH}', l_shipdate) // 7
               AS wk,
           CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE)
               AS q
    FROM lineitem GROUP BY 1, 2
),
ev AS MATERIALIZED (
    SELECT l_partkey, wk, q,
           row_number() OVER (PARTITION BY l_partkey ORDER BY wk) AS rn,
           count(*)     OVER (PARTITION BY l_partkey) AS n
    FROM pw
),
walk AS (
    SELECT l_partkey, rn, n, wk AS prev_wk,
           q AS z, CAST(1.0 AS DOUBLE) AS p
    FROM ev WHERE rn = 1
    UNION ALL
    SELECT e.l_partkey, e.rn, e.n, e.wk,
           {a} * e.q + {b} * w.z,
           {a} * CAST(e.wk - w.prev_wk AS DOUBLE) + {b} * w.p
    FROM walk w
    JOIN ev e ON e.l_partkey = w.l_partkey AND e.rn = w.rn + 1
)
SELECT l_partkey,
       CAST(n AS INT) AS n_demand_weeks,
       z AS size_level,
       p AS interval_level,
       z / p AS demand_rate,
       p >= 1.32 AS intermittent
FROM walk WHERE rn = n
"""


#: Holt-Winters seasonal constant (gamma) — exact binary like
#: alpha/beta; season length = 12 months.
HW_GAMMA = 0.25
HW_M = 12

_HW_SCHEMA = (
    "nation string, n_months int, level double, trend double, "
    + ", ".join(f"s{i} double" for i in range(12))
)


def fold_holt_winters(
    values: list[float],
) -> tuple[float, float, list[float]]:
    """THE Holt-Winters additive recurrence (public: Winters 1960;
    Hyndman & Athanasopoulos FPP §8.3) with the documented
    zero-seasonal initialisation: ``l_1 = y_1, b_1 = 0, s_i = 0``
    (the seasonal vector is LEARNED from the data instead of
    pre-estimated from the first season — deterministic, replayed
    identically by the oracle; after two seasons the components
    carry the pattern). Month ``t`` (1-indexed) touches seasonal
    slot ``(t-1) mod 12``, whose previous value IS ``s_{t-m}``:

        l_t = α·(y_t − s_{t−m}) + (1−α)·(l + b)
        b_t = β·(l_t − l) + (1−β)·b
        s_t = γ·(y_t − l_t) + (1−γ)·s_{t−m}

    α, β, γ are exact binary fractions — every step is the same
    IEEE double op on both engines (the EWMA/CUSUM/Holt
    discipline)."""
    level = values[0]
    trend = 0.0
    seas = [0.0] * HW_M
    for t, v in enumerate(values[1:], start=2):
        slot = (t - 1) % HW_M
        sm = seas[slot]
        l_new = HOLT_ALPHA * (v - sm) + (1.0 - HOLT_ALPHA) * (
            level + trend
        )
        trend = HOLT_BETA * (l_new - level) + (1.0 - HOLT_BETA) * trend
        seas[slot] = HW_GAMMA * (v - l_new) + (1.0 - HW_GAMMA) * sm
        level = l_new
    return float(level), float(trend), [float(x) for x in seas]


def holt_winters_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-nation Holt-Winters additive seasonal smoothing of
    monthly revenue — the top of the trend family's forecast ladder
    (slope fit -> seasonal-naive q6 -> Holt -> Holt-Winters ->
    Croston for the sparse regime): level + trend + the LEARNED
    12-slot seasonal profile, emitted as 12 scalar columns (s0 =
    the January-slot component under the 1992-01 epoch indexing).
    Same exact-cents monthly series, same Arrow fold shape, same
    bit-exactness argument as :func:`holt_forecast_revenue`; the
    oracle carries the 12 seasonal slots as explicit recursive-walk
    columns (a LIST would also work — scalars keep the driver's
    value hash on plain doubles)."""
    monthly = _monthly_series(spark, sf_dir)
    return hw_smooth(monthly)


def hw_smooth(monthly: DataFrame) -> DataFrame:
    """The Holt-Winters kernel over an arbitrary (nation, x, rev)
    frame — factored for synthetic-series pytest."""
    import pandas as pd

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("x")
        l, b, seas = fold_holt_winters(list(pdf["rev"]))
        out = {
            "nation": [pdf["nation"].iloc[0]],
            "n_months": [len(pdf)],
            "level": [l / 100.0],
            "trend": [b / 100.0],
        }
        for i in range(HW_M):
            out[f"s{i}"] = [seas[i] / 100.0]
        return pd.DataFrame(out)

    return monthly.groupBy("nation").applyInPandas(
        fold, schema=_HW_SCHEMA
    )


def _monthly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-cents per-nation monthly revenue series (the
    ``sales_trend_slope`` construction) — shared by the Holt and
    Holt-Winters forecasters."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    x = (
        (F.year("o_orderdate") - F.lit(1992)) * 12
        + F.month("o_orderdate")
        - 1
    ).cast("long")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)))
            .cast("long")
            .cast("double")
            .alias("rev")
        )
    )


def _hw_oracle() -> str:
    a, na = HOLT_ALPHA, 1.0 - HOLT_ALPHA
    bta, nb = HOLT_BETA, 1.0 - HOLT_BETA
    g, ng = HW_GAMMA, 1.0 - HW_GAMMA
    # the slot s_{t-m} read: month rn touches slot (rn-1) % 12
    sm = (
        "(CASE "
        + " ".join(
            f"WHEN (e.rn - 1) % {HW_M} = {i} THEN w.s{i}"
            for i in range(HW_M)
        )
        + " END)"
    )
    lnew = f"{a} * (e.rev - {sm}) + {na} * (w.l + w.b)"
    s_cols = ",\n           ".join(
        f"CASE WHEN (e.rn - 1) % {HW_M} = {i}"
        f" THEN {g} * (e.rev - ({lnew})) + {ng} * w.s{i}"
        f" ELSE w.s{i} END"
        for i in range(HW_M)
    )
    zeros = ",\n           ".join(
        f"CAST(0.0 AS DOUBLE) AS s{i}" for i in range(HW_M)
    )
    s_out = ", ".join(f"s{i} / 100.0 AS s{i}" for i in range(HW_M))
    return f"""
WITH RECURSIVE monthly AS MATERIALIZED (
    SELECT n_name AS nation,
           CAST((year(o_orderdate) - 1992) * 12
                + month(o_orderdate) - 1 AS BIGINT) AS x,
           CAST(CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT)
                AS DOUBLE) AS rev
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, x
),
sq AS MATERIALIZED (
    SELECT nation, rev,
           row_number() OVER (PARTITION BY nation ORDER BY x) AS rn,
           count(*)     OVER (PARTITION BY nation) AS n
    FROM monthly
),
walk AS (
    SELECT nation, rn, n, CAST(rev AS DOUBLE) AS l,
           CAST(0.0 AS DOUBLE) AS b,
           {zeros}
    FROM sq WHERE rn = 1
    UNION ALL
    SELECT e.nation, e.rn, e.n,
           {lnew},
           {bta} * (({lnew}) - w.l) + {nb} * w.b,
           {s_cols}
    FROM walk w JOIN sq e ON e.nation = w.nation AND e.rn = w.rn + 1
)
SELECT nation,
       CAST(n AS INT) AS n_months,
       l / 100.0 AS level,
       b / 100.0 AS trend,
       {s_out}
FROM walk WHERE rn = n
"""


def _register() -> None:
    registry.register("sales_trend_slope", sales_trend_slope, TREND_ORACLE)
    registry.register(
        "rolling_7d_active_users", rolling_7d_active_users, ROLLING_USERS_ORACLE
    )
    registry.register(
        "holt_forecast_revenue", holt_forecast_revenue, HOLT_ORACLE
    )
    registry.register(
        "croston_demand_forecast",
        croston_demand_forecast,
        _croston_oracle(),
    )
    registry.register(
        "holt_winters_revenue", holt_winters_revenue, _hw_oracle()
    )
