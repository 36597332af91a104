"""The 5-step FPP analytics pipeline (SURVEY.md §3.2, crunch.rs parity)
mapped onto the driver's ``events`` table per FIXTURES.md §D:

    event_type ↔ REGIONID       (freq-measure partition key)
    user_id    ↔ DUID/FPP_UNITID (unit key)
    value      ↔ MW / Hz measurements
    ts         ↔ MEASUREMENT_DATETIME

Step shapes (reference citations):
  1 frequency measure: filter quality → EWMA per region   crunch.rs:220-295
  2 reference trajectory: spine ⨯ units ⟕ prev/next 5-min
    forecast → linear interpolation                       crunch.rs:324-452
  3 unit deviations: trajectory ⋈ SCADA on [ts, unit]     crunch.rs:455-511
  4/5 performance: deviations ⟕ freq measure → p_lower/
    p_raise = when(fm<0, fm, 0)*dev / when(fm>0,...)      crunch.rs:93-176

Steps 2-5 use a deterministic forecast/freq proxy (5-min bucketed
DECIMAL-exact averages) so every step is DuckDB-oracle-checkable; the
EWMA variants (step 1 and the EWMA-driven performance) are the
reference's recursive kernel and get rows-only verification plus a
pure-python pin in tests/test_ewma.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nemscraper_spark.functions import epoch_ms, time_bucket
from nemscraper_spark.operators.ewma import ewma
from nemscraper_spark.queries.common import (
    dec_avg,
    load_table,
    oracle_dec_avg,
    register,
)

SPINE_START = "2024-01-01 00:00:00"
SPINE_END = "2024-01-01 23:59:00"

_FORECAST_SQL = f"""
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS ts_5m, user_id,
             {oracle_dec_avg("value")} AS target_value
      FROM events GROUP BY 1, 2
"""

_TRAJECTORY_SQL = f"""
    WITH fc AS ({_FORECAST_SQL}),
    spine AS (
      SELECT unnest(generate_series(TIMESTAMP '{SPINE_START}',
                                    TIMESTAMP '{SPINE_END}',
                                    INTERVAL '1 minute')) AS ts
    ),
    grid AS (
      SELECT s.ts, u.user_id, time_bucket(INTERVAL '5 minutes', s.ts) AS ts_5m
      FROM spine s CROSS JOIN (SELECT DISTINCT user_id FROM events) u
    ),
    joined AS (
      SELECT g.ts, g.user_id,
             p.target_value AS prev_target, n.target_value AS next_target,
             (epoch_ms(g.ts) - epoch_ms(g.ts_5m)) / 300000.0 AS frac
      FROM grid g
      LEFT JOIN fc p ON g.ts_5m = p.ts_5m AND g.user_id = p.user_id
      LEFT JOIN fc n ON g.ts_5m + INTERVAL '5 minutes' = n.ts_5m AND g.user_id = n.user_id
    )
    SELECT ts, user_id,
           COALESCE(prev_target, 0.0)
             + (COALESCE(next_target, COALESCE(prev_target, 0.0)) - COALESCE(prev_target, 0.0)) * frac
             AS reference_value
    FROM joined
"""


def _forecast(spark, sf_dir):
    """5-min forecast proxy: latest-forecast selection collapses to a
    deterministic per-bucket average (the reference's A6 keep-first is
    exercised separately in aggregates.dedup_keep_first)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        time_bucket("ts", 300).alias("ts_5m"), "user_id"
    ).agg(dec_avg("value").alias("target_value"))


def _spine(spark):
    """1-min spine for day 1 — crunch.rs:349-370's date_range.

    Built from spark.range (splittable!) rather than a single
    explode(sequence(...)): an exploded literal is one partition, which
    would funnel the whole spine ⨯ units grid — and every downstream
    join — through one task. range() partitions the spine across the
    cluster, so the grid inherits real parallelism.
    """
    n_ticks = 24 * 60  # minutes in the spine day
    start = F.lit(SPINE_START).cast("timestamp")
    return spark.range(n_ticks).select(
        (start + F.make_interval(mins=F.col("id").cast("int")))
        .cast("timestamp_ntz")
        .alias("ts")
    )


def reference_trajectory(spark, sf_dir):
    """Steps 2's dataflow, served from the shared trunk registry
    (r12): FOUR registered queries transitively embed this frame
    (fpp_reference_trajectory, fpp_unit_deviations via the dev join,
    fpp_performance, fpp_interval_charge via perf→res), and each was
    lazily re-running the spine ⨯ units grid + double forecast join
    per invocation.  One persisted build per (applicationId, corpus)
    serves the family — the dup_graph_edges/counted-pairs pattern, and
    exactly the "materialize the trajectory as a table once" shape the
    build docstring below already names as the production deployment.
    The persist changes nothing the oracle can see: dec_avg is
    DECIMAL-accumulated (order-free) and the interpolation arithmetic
    is row-local, so the materialized rows are the bytes the lazy plan
    produced (all four consumers re-verified hash-exact)."""
    from nemscraper_spark.queries.trunk_cache import session_key, trunk

    return trunk(
        "fpp_trajectory",
        session_key(spark, sf_dir),
        lambda: _reference_trajectory_build(spark, sf_dir),
    )


def _reference_trajectory_build(spark, sf_dir):
    """Steps 2's dataflow: spine ⨯ units, prev/next forecast join,
    linear interpolation (crunch.rs:324-452)."""
    ev = load_table(spark, sf_dir, "events")
    # crunch.rs:347 caches the forecast frame for its prev/next reuse;
    # the r11 A/B (clean-min 1.42 s vs 1.61 s at sf0.1) showed the
    # per-invocation .cache() here buys nothing — both references sit
    # in ONE plan, so Spark shares the post-aggregate exchange — while
    # every invocation leaked a CacheManager entry that was never
    # unpersisted (each entry is consulted during the PLANNING of every
    # later query in the session).  A production deployment with a
    # multi-year forecast table materializes it as a table once, not as
    # an in-session cache per query.
    fc = _forecast(spark, sf_dir)
    grid = _spine(spark).crossJoin(
        F.broadcast(ev.select("user_id").distinct())
    ).withColumn("ts_5m", time_bucket("ts", 300))
    # fc scales with buckets × units — AQE picks broadcast when small.
    # The NEXT-bucket shift lives in the JOIN CONDITION (exactly the
    # oracle's `g.ts_5m + INTERVAL '5 minutes' = n.ts_5m`), NOT in a
    # build-side projection: with identical build plans the two
    # forecast references canonicalize equal and Spark REUSES one
    # BroadcastExchange, so the forecast aggregate computes once per
    # plan — the round-11 replacement for the leaky per-invocation
    # .cache() this chain used through round 10 (the cacheless chain
    # had regressed ~3x: every consumer re-ran the forecast twice).
    prev = fc.select(
        "ts_5m", F.col("user_id").alias("uid"), F.col("target_value").alias("prev_target")
    )
    nxt = fc.select(
        F.col("ts_5m").alias("nxt_ts_5m"),
        F.col("user_id").alias("uid"),
        F.col("target_value").alias("next_target"),
    )
    joined = (
        grid.join(prev, (grid.ts_5m == prev.ts_5m) & (grid.user_id == prev.uid), "left")
        .drop(prev.ts_5m).drop("uid")
        .join(
            nxt,
            (grid.ts_5m + F.expr("INTERVAL 5 MINUTES") == nxt.nxt_ts_5m)
            & (grid.user_id == nxt.uid),
            "left",
        )
    )
    prev_t = F.coalesce(F.col("prev_target"), F.lit(0.0))
    next_t = F.coalesce(F.col("next_target"), prev_t)
    frac = (epoch_ms(F.col("ts")) - epoch_ms(grid.ts_5m)) / F.lit(300000.0)
    return joined.select(
        "ts", "user_id", (prev_t + (next_t - prev_t) * frac).alias("reference_value")
    )


@register("fpp_reference_trajectory", oracle=_TRAJECTORY_SQL, tags=("fpp", "W5", "W8", "J3", "J4"))
def fpp_reference_trajectory(spark, sf_dir):
    return reference_trajectory(spark, sf_dir)


_MEASURED_SQL = f"""
      SELECT time_bucket(INTERVAL '1 minute', ts) AS ts, user_id,
             {oracle_dec_avg("value")} AS measured_value
      FROM events GROUP BY 1, 2
"""

_DEVIATIONS_SQL = f"""
    WITH traj AS ({_TRAJECTORY_SQL}),
    scada AS ({_MEASURED_SQL})
    SELECT t.ts, t.user_id,
           s.measured_value - t.reference_value AS deviation_value
    FROM traj t INNER JOIN scada s ON t.ts = s.ts AND t.user_id = s.user_id
"""


def _measured(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        time_bucket("ts", 60).alias("ts"), "user_id"
    ).agg(dec_avg("value").alias("measured_value"))


def unit_deviations(spark, sf_dir):
    """Step 3: trajectory ⋈ measured on [ts, unit] → deviation =
    measured - reference (crunch.rs:491-498)."""
    traj = reference_trajectory(spark, sf_dir)
    scada = _measured(spark, sf_dir)
    return traj.join(scada, ["ts", "user_id"], "inner").select(
        "ts",
        "user_id",
        (F.col("measured_value") - F.col("reference_value")).alias("deviation_value"),
    )


@register("fpp_unit_deviations", oracle=_DEVIATIONS_SQL, tags=("fpp", "J2"))
def fpp_unit_deviations(spark, sf_dir):
    return unit_deviations(spark, sf_dir)


_FREQ_MEASURE_SQL = f"""
      SELECT time_bucket(INTERVAL '1 minute', ts) AS ts,
             {oracle_dec_avg("value")} - 100.0 AS fm
      FROM events GROUP BY 1
"""

_PERFORMANCE_SQL = f"""
    WITH dev AS ({_DEVIATIONS_SQL}),
    fm AS ({_FREQ_MEASURE_SQL})
    SELECT d.ts, d.user_id, d.deviation_value, f.fm,
           CASE WHEN f.fm < 0 THEN f.fm ELSE 0.0 END * d.deviation_value AS p_lower,
           CASE WHEN f.fm > 0 THEN f.fm ELSE 0.0 END * d.deviation_value AS p_raise
    FROM dev d LEFT JOIN fm f ON d.ts = f.ts
"""


def performance(spark, sf_dir):
    """Steps 4/5: deviations ⟕ freq measure on ts → p_lower/p_raise
    (crunch.rs:93-176, when/otherwise × deviation)."""
    dev = unit_deviations(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    fm = ev.groupBy(time_bucket("ts", 60).alias("ts")).agg(
        (dec_avg("value") - 100.0).alias("fm")
    )
    # no broadcast hint: fm is one row per 1-minute bucket over the
    # queried RANGE — tiny for a daily run but ~5M rows on a multi-year
    # backfill. AQE sizes the post-agg side at runtime and broadcasts
    # exactly when it fits (joins.py:118 does the same for this shape).
    joined = dev.join(fm, "ts", "left")
    return joined.select(
        "ts",
        "user_id",
        "deviation_value",
        "fm",
        (F.when(F.col("fm") < 0, F.col("fm")).otherwise(0.0) * F.col("deviation_value")).alias("p_lower"),
        (F.when(F.col("fm") > 0, F.col("fm")).otherwise(0.0) * F.col("deviation_value")).alias("p_raise"),
    )


@register("fpp_performance", oracle=_PERFORMANCE_SQL, tags=("fpp", "P7", "J1", "flagship"))
def fpp_performance(spark, sf_dir):
    return performance(spark, sf_dir)


_CHARGE_SQL = f"""
    WITH perf AS ({_PERFORMANCE_SQL}),
    res AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS ts_5m,
             user_id % 5 AS cons,
             CAST(SUM(CAST(p_raise AS DECIMAL(25,6))) AS DOUBLE) AS raise_residual,
             CAST(SUM(CAST(p_lower AS DECIMAL(25,6))) AS DOUBLE) AS lower_residual
      FROM perf GROUP BY 1, 2
    ),
    cf AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS ts_5m,
             user_id % 5 AS cons,
             {oracle_dec_avg("value")} / 100.0 AS contribution_factor
      FROM events GROUP BY 1, 2
    ),
    res_dcf AS (
      SELECT ts_5m, cons, contribution_factor / 2.0 AS residual_dcf
      FROM cf WHERE EXTRACT(minute FROM ts_5m) % 10 = 0
    )
    SELECT r.cons,
           CAST(SUM(CAST(r.raise_residual
                         * COALESCE(d.residual_dcf, 0.5 + r.cons / 10.0)
                         * (1.0 + r.cons) AS DECIMAL(25,6))) AS DOUBLE)
             AS raise_charge,
           CAST(SUM(CAST(r.lower_residual
                         * COALESCE(d.residual_dcf, 0.5 + r.cons / 10.0)
                         * (2.0 - r.cons / 10.0) AS DECIMAL(25,6))) AS DOUBLE)
             AS lower_charge,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM res r
    LEFT JOIN cf c ON r.ts_5m = c.ts_5m AND r.cons = c.cons
    LEFT JOIN res_dcf d ON r.ts_5m = d.ts_5m AND r.cons = d.cons
    GROUP BY r.cons
"""


@register("fpp_interval_charge", oracle=_CHARGE_SQL, tags=("fpp", "J6", "A1", "A2"))
def fpp_interval_charge(spark, sf_dir):
    """calcs.md steps 7-11: the money end of the FPP pipeline. 5-min
    residual summaries (step 6's shape) cascade through left joins to
    the contribution-factor dim on [interval, constraint] and a SPARSE
    residual-DCF dim whose gaps fall back to the default CF
    (`used_dcf = coalesce(residual_dcf, default_cf)` — calcs.md:187-190),
    then the CF-weighted MW convert to dollars via per-constraint
    payment/recovery rates and roll up to the charge summary
    (calcs.md:226-253). constraintid ↔ user_id % 5; the default-CF and
    both rate dims are bounded per-constraint values, entering as pure
    expressions/broadcasts — only the CF/DCF joins, keyed [ts_5m, cons],
    ever shuffle, and they pre-aggregate before joining. DECIMAL
    accumulation keeps the dollar totals bit-stable cross-engine."""
    from nemscraper_spark.queries.common import dec_sum

    perf = performance(spark, sf_dir)
    cons = (F.col("user_id") % 5).alias("cons")
    res = perf.groupBy(time_bucket("ts", 300).alias("ts_5m"), cons).agg(
        dec_sum("p_raise", 6).alias("raise_residual"),
        dec_sum("p_lower", 6).alias("lower_residual"),
    )
    ev = load_table(spark, sf_dir, "events")
    cf = ev.groupBy(time_bucket("ts", 300).alias("ts_5m"), cons).agg(
        (dec_avg("value") / 100.0).alias("contribution_factor")
    )
    # res_dcf is cf's own rows at minute%10==0 with the SAME join key,
    # and cf is unique per (ts_5m, cons) — so the sparse-DCF LEFT JOIN
    # collapses into a conditional column on the single cf join
    # (residual_dcf NULL exactly where the old join found no row).
    # One broadcast build + one cf aggregate instead of two of each.
    cfx = cf.withColumn(
        "residual_dcf",
        F.when(
            F.minute("ts_5m") % 10 == 0, F.col("contribution_factor") / 2.0
        ),
    )
    default_cf = F.lit(0.5) + F.col("cons") / 10.0
    used_dcf = F.coalesce(F.col("residual_dcf"), default_cf)
    perf_rate = F.lit(1.0) + F.col("cons")
    recovery_rate = F.lit(2.0) - F.col("cons") / 10.0
    joined = res.join(cfx, ["ts_5m", "cons"], "left")
    return joined.groupBy("cons").agg(
        dec_sum(F.col("raise_residual") * used_dcf * perf_rate, 6).alias(
            "raise_charge"
        ),
        dec_sum(F.col("lower_residual") * used_dcf * recovery_rate, 6).alias(
            "lower_charge"
        ),
        F.count("*").alias("n_intervals"),
    )


_ACTUAL_DEV_SQL = f"""
      SELECT time_bucket(INTERVAL '1 minute', ts) AS ts, user_id,
             {oracle_dec_avg("value")} - 100.0 AS deviation_value
      FROM events GROUP BY 1, 2
"""

_ACTUAL_PERFORMANCE_SQL = f"""
    WITH dev AS ({_ACTUAL_DEV_SQL}),
    fm AS ({_FREQ_MEASURE_SQL})
    SELECT d.ts, d.user_id, d.deviation_value, f.fm,
           CASE WHEN f.fm < 0 THEN f.fm ELSE 0.0 END * d.deviation_value AS p_lower,
           CASE WHEN f.fm > 0 THEN f.fm ELSE 0.0 END * d.deviation_value AS p_raise
    FROM dev d LEFT JOIN fm f ON d.ts = f.ts
"""


def actual_performance(spark, sf_dir):
    """crunch's 05_actual_performance: the SAME generic performance
    calculation as step 4 (run_performance_calculation,
    crunch.rs:93-176 — one function, two deviation sources) fed with
    the RECORDED deviations instead of the hypothetical
    measured-minus-reference ones. The reference reads DEVIATION_MW
    straight off UNIT_MW (crunch.rs:298-321); on the events proxy the
    recorded per-unit deviation is the 1-min DECIMAL-exact average of
    value minus the 100.0 setpoint."""
    ev = load_table(spark, sf_dir, "events")
    dev = ev.groupBy(time_bucket("ts", 60).alias("ts"), "user_id").agg(
        (dec_avg("value") - 100.0).alias("deviation_value")
    )
    fm = ev.groupBy(time_bucket("ts", 60).alias("ts")).agg(
        (dec_avg("value") - 100.0).alias("fm")
    )
    joined = dev.join(fm, "ts", "left")
    return joined.select(
        "ts",
        "user_id",
        "deviation_value",
        "fm",
        (F.when(F.col("fm") < 0, F.col("fm")).otherwise(0.0) * F.col("deviation_value")).alias("p_lower"),
        (F.when(F.col("fm") > 0, F.col("fm")).otherwise(0.0) * F.col("deviation_value")).alias("p_raise"),
    )


@register(
    "fpp_actual_performance",
    oracle=_ACTUAL_PERFORMANCE_SQL,
    tags=("fpp", "P7", "J1"),
)
def fpp_actual_performance(spark, sf_dir):
    return actual_performance(spark, sf_dir)


@register(
    "fpp_frequency_measure_ewma",
    # recursive-CTE twin of the EWMA kernel (see ewma_per_entity for
    # the bit-exactness argument); freq_dev = value - 100 must also
    # match the Spark projection's double subtraction exactly
    oracle="""
    WITH RECURSIVE ordered AS (
      SELECT event_id, event_type AS region, ts,
             value - CAST(100 AS DOUBLE) AS freq_dev,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
      WHERE value IS NOT NULL
    ),
    rec AS (
      SELECT event_id, region, ts, freq_dev, rn,
             (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/CAST(9 AS DOUBLE)) * CAST(0 AS DOUBLE)
               + (CAST(2 AS DOUBLE)/CAST(9 AS DOUBLE)) * (-freq_dev) AS freq_measure
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.event_id, o.region, o.ts, o.freq_dev, o.rn,
             (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/CAST(9 AS DOUBLE)) * r.freq_measure
               + (CAST(2 AS DOUBLE)/CAST(9 AS DOUBLE)) * (-o.freq_dev)
      FROM ordered o JOIN rec r ON o.region = r.region AND o.rn = r.rn + 1
    )
    SELECT event_id, region, ts, freq_dev, freq_measure FROM rec
    """,
    tags=("fpp", "W2"),
)
def fpp_frequency_measure_ewma(spark, sf_dir):
    """Step 1: quality filter → per-region recursive EWMA over the
    negated deviation (crunch.rs:220-295; alpha=2/9, seed 0, reset per
    region). event_type ↔ region; (value-100) ↔ freq deviation."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_id",
        F.col("event_type").alias("region"),
        "ts",
        (F.col("value") - 100.0).alias("freq_dev"),
    )
    return ewma(
        base,
        key_cols=["region"],
        order_cols=["ts", "event_id"],
        value_col="freq_dev",
        alpha=2.0 / 9.0,
        negate=True,
        out_col="freq_measure",
    )
