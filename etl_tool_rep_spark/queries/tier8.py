"""Tier-8 queries: data-quality drift, concurrency, temporal-state and
experiment analytics.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the declared
surface per the BASELINE.json capability mandate: distribution-drift
monitoring (PSI), sweep-line max concurrency, SCD2 point-in-time state
lookup, robust winsorized moments, and a two-proportion z-test —
the operations a production data platform runs daily next to its ETL.

Scale posture notes inline per query; every float aggregate routes
through DECIMAL so Spark's parallel and DuckDB's serial summation
agree bit-for-bit (SURVEY.md §7 watch-list item 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query


# ---------------------------------------------------------------------------
# Population Stability Index: distribution drift between time periods
# ---------------------------------------------------------------------------

@query(
    "psi_drift",
    oracle="""
    WITH binned AS (
      SELECT event_type,
             LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref'
                  ELSE 'cur' END AS period
      FROM events),
    grid AS (
      SELECT DISTINCT b.event_type, g.bin
      FROM binned b CROSS JOIN (SELECT UNNEST(range(10)) AS bin) g),
    cnts AS (
      SELECT event_type, bin,
             COUNT(*) FILTER (WHERE period = 'ref') AS ref_n,
             COUNT(*) FILTER (WHERE period = 'cur') AS cur_n
      FROM binned GROUP BY event_type, bin),
    filled AS (
      SELECT g.event_type, g.bin,
             COALESCE(c.ref_n, 0) AS ref_n, COALESCE(c.cur_n, 0) AS cur_n,
             SUM(COALESCE(c.ref_n, 0)) OVER (PARTITION BY g.event_type)
               AS ref_tot,
             SUM(COALESCE(c.cur_n, 0)) OVER (PARTITION BY g.event_type)
               AS cur_tot
      FROM grid g LEFT JOIN cnts c
        ON g.event_type = c.event_type AND g.bin = c.bin),
    contrib AS (
      SELECT event_type,
             CAST(((ref_n + 0.5) / (ref_tot + 5.0)
                   - (cur_n + 0.5) / (cur_tot + 5.0))
                  * LN(((ref_n + 0.5) / (ref_tot + 5.0))
                       / ((cur_n + 0.5) / (cur_tot + 5.0)))
                  AS DECIMAL(20,10)) AS c
      FROM filled)
    SELECT event_type, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS psi
    FROM contrib GROUP BY event_type
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the ``value`` distribution per
    event type, comparing the first half of the month (reference) to
    the second (current). PSI = sum_bins (p_ref - p_cur) *
    ln(p_ref / p_cur) over 10 fixed-width bins, with Laplace
    smoothing (+0.5 per bin) so empty bins stay finite — the standard
    production drift monitor (>0.2 conventionally flags drift).

    Per-bin contributions are computed in DOUBLE but summed as
    DECIMAL(20,10) so the 10-term reduction is order-independent.

    Scale: one grouped count per (type, bin, period) — a map-side
    combinable aggregate whose output is #types x 10 x 2 rows
    regardless of input size — then all remaining math runs on that
    tiny frame. The 100 TB cost is exactly one scan + one shuffle of
    a few dozen rows.
    """
    ev = load(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.least(F.floor(F.col("value") / 50.0).cast("bigint"),
                F.lit(9)).alias("bin"),
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
               "ref").otherwise("cur").alias("period"))
    cnts = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("period") == "ref", 1)).alias("ref_n"),
        F.count(F.when(F.col("period") == "cur", 1)).alias("cur_n"))
    # broadcast the fixed 10-row bin axis: documents the bound in the
    # plan itself (explain_audit requires cross-join sides be scalar
    # or explicitly broadcast) and avoids shuffling the type list
    grid = (binned.select("event_type").distinct()
            .crossJoin(F.broadcast(spark.range(10).select(
                F.col("id").cast("bigint").alias("bin")))))
    w = Window.partitionBy("event_type")
    filled = (grid.join(cnts, ["event_type", "bin"], "left")
              .select("event_type", "bin",
                      F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
                      F.coalesce("cur_n", F.lit(0)).alias("cur_n"))
              .withColumn("ref_tot", F.sum("ref_n").over(w))
              .withColumn("cur_tot", F.sum("cur_n").over(w)))
    p = (F.col("ref_n") + 0.5) / (F.col("ref_tot") + 5.0)
    q = (F.col("cur_n") + 0.5) / (F.col("cur_tot") + 5.0)
    contrib = ((p - q) * F.log(p / q)).cast("decimal(20,10)")
    return (filled.select("event_type", contrib.alias("c"))
            .groupBy("event_type")
            .agg(F.round(F.sum("c").cast("double"), 6).alias("psi")))


# ---------------------------------------------------------------------------
# sweep-line maximum concurrency (interval stabbing max)
# ---------------------------------------------------------------------------

@query(
    "max_concurrency",
    oracle="""
    WITH deltas AS (
      SELECT event_type, ts AS t, 1 AS d FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 FROM events),
    merged AS (
      SELECT event_type, t, SUM(d) AS d
      FROM deltas GROUP BY event_type, t),
    running AS (
      SELECT event_type,
             SUM(d) OVER (PARTITION BY event_type ORDER BY t ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS live
      FROM merged)
    SELECT event_type, CAST(MAX(live) AS BIGINT) AS max_concurrent
    FROM running GROUP BY event_type
    """,
)
def max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum number of concurrently-live 30-minute activity windows
    per event type — the classic sweep-line / interval-stabbing query
    (peak concurrent sessions, max parallel jobs, room scheduling).

    Each event opens a half-open interval [ts, ts+30m); emit +1 at
    start and -1 at end, collapse deltas at identical instants (this
    also makes the running sum deterministic — the window ordering key
    is unique after the groupBy), take a running sum in time order,
    and report the max.

    Scale: the union doubles the row count but both branches are
    narrow (type, timestamp, int). The per-type running sum is a
    single range-partitioned sort per key group; at 100 TB, first
    pre-aggregate deltas per (type, coarse bucket) per partition —
    sweep-line max composes over time-contiguous chunks as
    (carry-in running total + local max).
    """
    ev = load(spark, sf_dir, "events")
    starts = ev.select("event_type", F.col("ts").alias("t"),
                       F.lit(1).alias("d"))
    ends = ev.select("event_type",
                     (F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
                     .alias("t"),
                     F.lit(-1).alias("d"))
    merged = (starts.unionByName(ends)
              .groupBy("event_type", "t").agg(F.sum("d").alias("d")))
    w = (Window.partitionBy("event_type").orderBy(F.col("t").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (merged.select("event_type", F.sum("d").over(w).alias("live"))
            .groupBy("event_type")
            .agg(F.max("live").cast("bigint").alias("max_concurrent")))


# ---------------------------------------------------------------------------
# SCD2 point-in-time state lookup (effective-dated range join)
# ---------------------------------------------------------------------------

@query(
    "scd2_range_lookup",
    oracle="""
    WITH states AS (
      SELECT user_id, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS valid_to,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS state_k
      FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, s.state_k
    FROM purchases p JOIN states s
      ON p.user_id = s.user_id
     AND p.ts >= s.valid_from
     AND (s.valid_to IS NULL OR p.ts < s.valid_to)
    """,
)
def scd2_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against an SCD2 effective-dated dimension:
    each user's 'click' events define state versions (state_k from the
    props JSON) valid over [ts, next click ts); every 'purchase' is
    joined to the state version in effect at purchase time — the
    standard Kimball type-2 point-in-time join, and the batch analog
    of a temporal table lookup.

    The version table is derived with LEAD over (user, time) —
    half-open ranges guarantee each purchase matches at most one
    version, so the join cannot fan out.

    Scale: this is an equi-join on user_id with the range predicate
    as a residual filter — Catalyst plans a hash/sort-merge join on
    the key, never a nested loop. Version chains are per-user short,
    so the residual scan is bounded; skewed power-users fall out to
    AQE skew-split. An as-of union trick (operators/asof.py) is the
    zero-fanout alternative when version chains grow long.
    """
    ev = load(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    states = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id",
                      F.get_json_object("props", "$.k").cast("int")
                      .alias("state_k"))
              .withColumn("valid_to", F.lead("ts").over(wv))
              .select("user_id", F.col("ts").alias("valid_from"),
                      "valid_to", "state_k"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    p, s = purchases.alias("p"), states.alias("s")
    cond = ((F.col("p.user_id") == F.col("s.user_id"))
            & (F.col("p.ts") >= F.col("s.valid_from"))
            & (F.col("s.valid_to").isNull()
               | (F.col("p.ts") < F.col("s.valid_to"))))
    return (p.join(s, cond, "inner")
            .select("event_id", F.col("p.user_id").alias("user_id"),
                    "state_k"))


# ---------------------------------------------------------------------------
# winsorized moments (percentile-clipped mean / stddev)
# ---------------------------------------------------------------------------

@query(
    "winsorized_stats",
    oracle="""
    WITH pct AS (
      SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.05) AS p05,
             quantile_cont(c_acctbal, 0.95) AS p95
      FROM customer GROUP BY c_mktsegment),
    clipped AS (
      SELECT c.c_mktsegment,
             CAST(ROUND(LEAST(GREATEST(c.c_acctbal, p.p05), p.p95), 6)
                  AS DECIMAL(12,6)) AS v
      FROM customer c JOIN pct p ON c.c_mktsegment = p.c_mktsegment),
    mom AS (
      SELECT c_mktsegment, COUNT(*) AS n,
             SUM(v) AS s1, SUM(CAST(v AS DECIMAL(24,6)) * v) AS s2
      FROM clipped GROUP BY c_mktsegment)
    SELECT c_mktsegment, n,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS win_mean,
           ROUND(SQRT((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                      / (n - 1)), 6) AS win_std
    FROM mom
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean/stddev of customer balance per market segment:
    clip to the within-group [p05, p95] before computing moments —
    the robust-statistics answer to heavy-tailed balances where a few
    whales dominate a plain mean.

    Moments come from exact DECIMAL partial sums (s1, s2) so the
    distributed reduction is order-independent; mean and stddev are
    derived scalars, bit-identical to the serial oracle.

    Scale: grouped exact percentiles (one per-group sort, bounded by
    the largest segment), broadcast of the tiny per-segment bounds
    back onto the scan, then one map-side-combinable moment
    aggregation — the fact table is scanned twice but shuffled only
    as partial aggregates. At 100 TB swap exact percentiles for
    approx_percentile partials without changing the shape.
    """
    c = load(spark, sf_dir, "customer")
    pct = c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.05)).alias("p05"),
        F.percentile("c_acctbal", F.lit(0.95)).alias("p95"))
    v = (F.round(F.least(F.greatest(F.col("c_acctbal"), F.col("p05")),
                         F.col("p95")), 6)
         .cast("decimal(12,6)"))
    mom = (c.join(F.broadcast(pct), "c_mktsegment")
           .select("c_mktsegment", v.alias("v"))
           .groupBy("c_mktsegment")
           .agg(F.count("*").alias("n"), F.sum("v").alias("s1"),
                F.sum(F.col("v") * F.col("v")).alias("s2")))
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    return mom.select(
        "c_mktsegment", "n",
        F.round(s1d / F.col("n"), 6).alias("win_mean"),
        F.round(F.sqrt((s2d - s1d * s1d / F.col("n"))
                       / (F.col("n") - 1)), 6).alias("win_std"))


# ---------------------------------------------------------------------------
# two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------

@query(
    "abtest_ztest",
    oracle="""
    WITH users AS (
      SELECT user_id, user_id % 2 AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,4))
                           ELSE 0 END) > 700
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT
        COUNT(*) FILTER (WHERE variant = 0) AS n_a,
        COUNT(*) FILTER (WHERE variant = 1) AS n_b,
        SUM(converted) FILTER (WHERE variant = 0) AS conv_a,
        SUM(converted) FILTER (WHERE variant = 1) AS conv_b
      FROM users)
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
           ROUND((CAST(conv_b AS DOUBLE) / n_b
                  - CAST(conv_a AS DOUBLE) / n_a)
                 / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                           / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
    FROM arms
    """,
)
def abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion rate between experiment
    arms (deterministic assignment: user_id % 2; conversion = user's
    total purchase spend exceeds 700). Pooled-variance z statistic —
    the standard frequentist A/B readout; |z| > 1.96 is p < .05.

    Scale: one groupBy(user) to collapse events to a per-user flag
    (map-side combinable), one global conditional aggregation down to
    a single row, scalar math after. No step materializes more than
    #users rows, and the final stats are exact integers until the
    last division.
    """
    ev = load(spark, sf_dir, "events")
    users = (ev.groupBy("user_id")
             .agg(F.sum(F.when(F.col("event_type") == "purchase",
                               F.col("value").cast("decimal(18,4)"))
                        .otherwise(F.lit(0).cast("decimal(18,4)")))
                  .alias("spend"))
             .select("user_id",
                     F.when(F.col("spend") > 700, 1).otherwise(0)
                      .alias("converted"),
                     (F.col("user_id") % 2).alias("variant")))
    arms = users.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")))
         .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")))
         .alias("conv_b"))
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    na, nb = F.col("n_a"), F.col("n_b")
    pool = (ca + cb) / (na + nb)
    z = ((cb / nb - ca / na)
         / F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)))
    return arms.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(ca / na, 6).alias("rate_a"),
        F.round(cb / nb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"))
