"""Time-series composition queries: as-of join, sessionization,
pivot, range join, rollups, IVF ANN.

These fill the operator classes the guide calls out that Spark lacks
natively (as-of join) or that only matter at scale (range join), each
expressed as a composition of built-in DataFrame ops — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_data_pipeline_spark import io
from ts_data_pipeline_spark.operators import asof, rollup, similarity
from ts_data_pipeline_spark.registry import register

IVF_QUERY_IDS = list(range(10))
IVF_CENTROID_IDS = [100 + i for i in range(16)]


def _trades_quotes(spark: SparkSession, sf_dir: str):
    e = io.load(spark, sf_dir, "events")
    trades = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("sym"),
        "ts",
        F.col("value").alias("trade_px"),
        F.col("event_id").alias("trade_id"),
    )
    quotes = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("sym"), "ts", F.col("value").alias("quote_px")
    )
    return trades, quotes


def asof_trade_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: prevailing quote at each trade."""
    trades, quotes = _trades_quotes(spark, sf_dir)
    return asof.asof_join(
        trades, quotes, key="sym", ts="ts", right_value_cols=["quote_px"]
    )


def asof_pandas_trade_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 grouped-map surface as a first-class oracle row: the
    ``applyInPandas`` + ``merge_asof`` escape hatch must produce the
    exact same result as the expression-only as-of join (and the
    DuckDB native ASOF JOIN oracle)."""
    trades, quotes = _trades_quotes(spark, sf_dir)
    return asof.asof_join_pandas(
        trades, quotes, key="sym", ts="ts", right_value_cols=["quote_px"]
    )


# DuckDB has a native ASOF JOIN — the ideal oracle for ours.
ASOF_TRADE_QUOTE_SQL = """
WITH trades AS (
  SELECT user_id AS sym, ts, value AS trade_px, event_id AS trade_id
  FROM events WHERE event_type = 'purchase'
),
quotes AS (
  SELECT user_id AS sym, ts, value AS quote_px
  FROM events WHERE event_type = 'view'
)
SELECT t.sym, t.ts, t.trade_px, t.trade_id, q.quote_px
FROM trades t ASOF LEFT JOIN quotes q
  ON t.sym = q.sym AND t.ts >= q.ts
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof.sessionize(io.load(spark, sf_dir, "events"), gap_minutes=30.0)


def session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (gap-close semantics: window end
    = last event + gap). Cross-checks the hand-rolled gaps-and-islands
    sessionize — same islands, end shifted by exactly the gap."""
    e = io.load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("user_id").alias("key"),
            F.session_window("ts", "30 minutes").alias("_w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "key",
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
        )
    )


SESSION_WINDOW_BUILTIN_SQL = """
WITH flagged AS (
  SELECT user_id AS key, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                     PARTITION BY user_id ORDER BY ts)) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  SELECT key, ts,
         SUM(new_s) OVER (PARTITION BY key ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM flagged
)
SELECT key,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY key, session_no
"""


def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per user, one summed-value column per event type.

    The pivot values are pinned (catalog-known), so the plan is a
    single conditional aggregation — no distinct-values pre-pass.
    """
    e = io.load(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("user_id"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.round(F.sum("value"), 4))
    )


PIVOT_EVENT_VALUES_SQL = """
SELECT user_id,
       ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
       ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
       ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 4) AS error
FROM events
GROUP BY user_id
"""


def range_join_whale_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside +-5-minute windows around each user's top-3
    premium trades (bucketized range join, no per-key cross product)."""
    e = io.load(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"), "ts", "value", "event_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("uid").orderBy(F.col("value").desc(), F.col("event_id").asc())
    intervals = (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "uid",
            F.col("event_id").alias("anchor_id"),
            (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("start"),
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end"),
        )
    )
    hits = asof.range_join(e, intervals, key="uid")
    return hits.groupBy("uid", "anchor_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


RANGE_JOIN_WHALE_SQL = """
WITH e AS (
  SELECT user_id AS uid, ts, value, event_id FROM events
),
anchors AS (
  SELECT uid, event_id AS anchor_id,
         ts - INTERVAL 5 MINUTE AS s, ts + INTERVAL 5 MINUTE AS en
  FROM (
    SELECT *, row_number() OVER (PARTITION BY uid
                                 ORDER BY value DESC, event_id ASC) AS rk
    FROM e
  ) WHERE rk <= 3
)
SELECT e.uid, a.anchor_id,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 4) AS value_sum
FROM e JOIN anchors a ON e.uid = a.uid AND e.ts BETWEEN a.s AND a.en
GROUP BY 1, 2
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(
        io.load(spark, sf_dir, "embeddings"),
        IVF_QUERY_IDS,
        IVF_CENTROID_IDS,
        k=5,
        nprobe=2,
    )


def ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream trailing EWMA (operators/tsstats.py), gated on a
    deterministic stream sample to keep the suite row bounded."""
    from ts_data_pipeline_spark.operators import tsstats

    ev = io.load(spark, sf_dir, "events").filter("user_id % 10 = 0")
    return tsstats.ewma(ev)


def acf_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1/5/10 per event_type (operators/tsstats.py)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.autocorrelation(
        io.load(spark, sf_dir, "events"), lags=[1, 5, 10]
    )


def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: view -> purchase within 60 minutes per user
    (operators/tsstats.py CEP-lite pattern match)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.funnel_conversions(
        io.load(spark, sf_dir, "events"), "view", "purchase", 60
    )


def funnel_multistage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase chain within 4 hours per user
    (operators/tsstats.py::funnel_path — chained forward as-of
    joins, MATCH_RECOGNIZE-lite)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.funnel_path(
        io.load(spark, sf_dir, "events"), ["view", "click", "purchase"], 240
    )


def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (operators/tsstats.py)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.cohort_retention(io.load(spark, sf_dir, "events"))


def session_path_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 ordered event-type paths per session
    (operators/tsstats.py path analysis)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.session_paths(io.load(spark, sf_dir, "events"))


def value_histogram_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event_type (operators/
    tsstats.py — shared global bins, broadcast range)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.value_histogram(io.load(spark, sf_dir, "events"))


def cusum_drift_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift report per event_type (operators/
    tsstats.py — clamped recursion as two chained running frames)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.cusum_summary(io.load(spark, sf_dir, "events"))


def drawdown_risk_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown + trailing volatility on a deterministic
    stream sample (operators/tsstats.py)."""
    from ts_data_pipeline_spark.operators import tsstats

    ev = io.load(spark, sf_dir, "events").filter("user_id % 20 = 0")
    return tsstats.drawdown_features(ev)


def rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate lattice: 1m partials from raw, 10m from
    1m, 60m from 10m. The oracle aggregates every grain directly from
    raw, so the green row proves the reaggregation algebra exact
    (operators/rollup.py)."""
    return rollup.rollup_lattice(io.load(spark, sf_dir, "events"))


def rollup_refresh_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-refresh ROUND TRIP through durable storage: the
    15-minute rollup is built from the on-time 80% of events and
    committed to the versioned upsert table (streaming/
    upsert_sink.py); then the "late" 20% arrives, the fine windows
    they touch are invalidated, refresh_coarse re-aggregates ONLY the
    affected coarse groups, and the replacement rows MERGE through
    the sink as a second commit. The gate reads the final table back;
    the oracle is the same rollup computed directly from ALL raw
    events — a green row proves the invalidation-scoped incremental
    path converges to the from-scratch answer THROUGH the sink's
    bucket-scoped commit protocol, not just in memory.

    (The late split is deterministic — pmod(event_id, 5) = 0 — so
    both engines see the same final state regardless of how the data
    was staged.)
    """
    import hashlib
    import os
    import shutil
    import tempfile

    from ts_data_pipeline_spark.streaming import upsert_sink

    ev = io.load(spark, sf_dir, "events")
    is_late = F.pmod("event_id", F.lit(5)) == 0
    on_time, late = ev.filter(~is_late), ev.filter(is_late)

    def keyed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "upsert_key",
            F.concat_ws("|", F.unix_timestamp("window_start"), "key"),
        )

    # One deterministic staging table per (sf_dir, process), wiped on
    # entry: repeated invocations within a process reuse one path
    # (bounded /tmp growth) while concurrent processes — driver sim
    # and bench, or pytest workers — stay isolated from each other's
    # rmtree (a shared fixed path would let one process delete the
    # table out from under the other's lazy read).
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    table_dir = os.path.join(
        tempfile.gettempdir(), f"rollup_rt_{tag}_{os.getpid()}"
    )
    shutil.rmtree(table_dir, ignore_errors=True)
    coarse0 = rollup.reaggregate(rollup.windowed_partials(on_time, 5), 15)
    upsert_sink.upsert_batch(
        spark, table_dir, keyed(coarse0), 0,
        key_col="upsert_key", ts_col="window_start", n_buckets=4,
    )
    fine_all = rollup.windowed_partials(ev, 5)
    changed = late.select(
        F.window("ts", "5 minutes")["start"].alias("window_start"),
        F.col("event_type").alias("key"),
    ).distinct()
    refreshed = rollup.refresh_coarse(fine_all, changed, 15)
    upsert_sink.upsert_batch(
        spark, table_dir, keyed(refreshed), 1,
        key_col="upsert_key", ts_col="window_start", n_buckets=4,
    )
    final = upsert_sink.read_table(spark, table_dir)
    return final.select(
        "window_start",
        "key",
        "n",
        F.round("v_sum", 4).alias("v_sum"),
        F.round("v_min", 4).alias("v_min"),
        F.round("v_max", 4).alias("v_max"),
    )


ROLLUP_REFRESH_ROUNDTRIP_SQL = """
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       event_type AS key,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS v_sum,
       ROUND(MIN(value), 4) AS v_min,
       ROUND(MAX(value), 4) AS v_max
FROM events
GROUP BY 1, 2
"""


register("asof_trade_quote", asof_trade_quote, ASOF_TRADE_QUOTE_SQL)
register(
    "sessionize_events",
    sessionize_events,
    asof.sessionize_sql(gap_minutes=30.0),
)
register("range_join_whale_windows", range_join_whale_windows, RANGE_JOIN_WHALE_SQL)
register("session_window_builtin", session_window_builtin, SESSION_WINDOW_BUILTIN_SQL)
# pivot_event_values -> olap_pivot_suite (queries/suites.py).
# Salted skew-resistant aggregation: flagship_salted
# (queries/flagship.py) runs operators/skew.py::salted_sum.
# ann_ivf_topk -> merged with the LSH variant as ann_lsh_ivf_topk
# (queries/llmdata.py).


def seasonal_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, hour-of-day) seasonal baseline (operators/
    tsstats.py::seasonal_hour_profile — one bounded groupBy)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.seasonal_hour_profile(io.load(spark, sf_dir, "events"))


def seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-slot anomaly scan (operators/tsstats.py::
    seasonal_anomalies — z vs the point's own hour-of-day baseline,
    broadcast profile join, no window). Gate knobs are tuned to the
    gate SF: min_n=6 so sf0.001's <=18-row slots still score (the
    operator default of 30 would make the gated relation EMPTY there
    — a vacuous pass, r7 review finding), z>=2.5 so both SFs emit a
    non-trivial alarm set (11 rows at sf0.001, 313 at sf0.01)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.seasonal_anomalies(
        io.load(spark, sf_dir, "events"), z_threshold=2.5, min_n=6
    )


def time_weighted_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted averages per event_type (operators/
    tsstats.py::time_weighted_avg — LOCF hold weighting, integer-us
    holds; the gated columns are the carried sums)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.time_weighted_avg(io.load(spark, sf_dir, "events"))


def m4_chart_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 pixel-exact chart downsampling (operators/tsstats.py::
    m4_downsample — Jugel et al. VLDB'14): per (key, pixel bucket)
    the first/last/min/max points, the query the reference's
    dashboard panels run before drawing
    (/root/reference/dashboard/src/)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.m4_downsample(io.load(spark, sf_dir, "events"))


def counter_hourly_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, hour) counter increase with reset detection
    (operators/tsstats.py::counter_increase — Prometheus increase()
    convention; boundary deltas never dropped)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.counter_increase(io.load(spark, sf_dir, "events"))


def heartbeat_gap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence intervals > 60 min per event_type (operators/
    tsstats.py::heartbeat_gaps — the absent()/dead-man's-switch
    scan; non-empty at every gate SF)."""
    from ts_data_pipeline_spark.operators import tsstats

    return tsstats.heartbeat_gaps(
        io.load(spark, sf_dir, "events"), gap_minutes=60
    )
