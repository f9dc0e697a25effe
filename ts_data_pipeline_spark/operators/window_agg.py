"""Flagship operator: keyed tumbling-window conditional-sum fan-out.

Reference: the ``option_trade_aggs`` service —
1-minute tumbling window per Kafka key with a stateful reducer that
splits every trade by (whale?, side, otype) into 12 (vol, prem)
accumulator pairs plus a count
(/root/reference/option_trade_aggs/main.py:85-188 reducer +
initializer, window wiring main.py:221-225).

Spark-first restatement: the imperative reducer becomes ONE
declarative ``groupBy(window(ts, d), key).agg(24 conditional sums +
count)``. Catalyst compiles this to partial (map-side) + final hash
aggregation — the per-key mutable state dict and its changelog
topics disappear into the shuffle, and at 100 TB the partial agg
means the shuffle carries one row per (key, window) per map task,
not one per trade.

The 24 accumulator names reproduce the reducer's key set
(main.py:143-188): {whale_,''} x {bought,sold,no_side} x {put,call}
x {vol,prem}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ts_data_pipeline_spark.operators import skew

# (prefix, side value, otype value) -> column name stem, mirroring
# option_trade_aggs/main.py:143-188 accumulator keys.
_SIDE_NAME = {"buy": "bought", "sell": "sold", "no_side": "no_side"}


def accumulator_names() -> list[tuple[str, bool, str, str]]:
    """(name_stem, whale?, side, otype) for all 12 accumulator pairs."""
    combos = []
    for whale in (True, False):
        for side in ("buy", "sell", "no_side"):
            for otype in ("put", "call"):
                stem = f"{'whale_' if whale else ''}{_SIDE_NAME[side]}_{otype}"
                combos.append((stem, whale, side, otype))
    return combos


def option_window_agg(
    trades: DataFrame,
    duration: str = "1 minute",
    *,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Tumbling-window conditional-sum aggregation (A1+A2+A11).

    Input: enriched trades with columns
    (osym, ts TIMESTAMP, premium, qty, side, otype, whale BOOLEAN).
    Output: one row per (window, osym) with window_start/window_end
    (A11 output contract, option_trade_aggs/README.md:6-70),
    trade_count, and 24 conditional sums.

    ``salt_buckets`` opts into the two-phase salted plan for skewed
    symbol distributions (a hot symbol at market open funnels into
    one reducer otherwise): phase 1 aggregates on
    (window, osym, salt) spreading each hot key over ``salt_buckets``
    tasks, phase 2 re-aggregates the tiny salted result
    (:func:`~ts_data_pipeline_spark.operators.skew.salted_sum`). Every
    accumulator is a decomposable sum/count, so the two plans are
    value-identical (rounding applied once, after the final sum).

    Works identically on a batch DataFrame and a streaming
    DataFrame (add withWatermark upstream for append-mode finals —
    see streaming/windowed.py).
    """
    win = F.window(F.col("ts"), duration)

    # Aggregates are built as SQL strings (one parse round trip per
    # expression) rather than nested Column calls: the Column-API
    # spelling cost ~300 driver round trips (~0.5 s per plan build,
    # profiled — OPTIMIZATION_r15.md §driver). Same resolved
    # expressions, same results.
    sums = {}
    for stem, whale, side, otype in accumulator_names():
        pred = (
            f"whale = {'true' if whale else 'false'} "
            f"AND side = '{side}' AND otype = '{otype}'"
        )
        sums[f"{stem}_vol"] = f"CASE WHEN {pred} THEN qty ELSE 0 END"
        sums[f"{stem}_prem"] = f"CASE WHEN {pred} THEN premium ELSE 0.0 END"

    def rounded(name: str, expr: str) -> str:
        return f"round({expr}, 4)" if name.endswith("_prem") else expr

    if salt_buckets is not None:
        grouped = skew.salted_sum(
            trades, [win, F.col("osym")], sums, salt_buckets=salt_buckets
        )
        return grouped.selectExpr(
            "window.start AS window_start",
            "window.end AS window_end",
            "osym",
            "n_rows AS trade_count",
            *[f"{rounded(c, c)} AS {c}" for c in sums],
        )
    # All 25 aggregates ride ONE named_struct expression (r16):
    # separate F.expr calls cost a py4j round trip each (~0.1 s of
    # every plan build, measured); the struct parses once and
    # Catalyst extracts the identical aggregate expressions, building
    # the struct in the result projection — partial/final split
    # unchanged (pinned by test_plan_shapes), output columns
    # re-flattened by the final select. A/B: build 0.19 -> 0.10 s,
    # end-to-end 0.58 -> 0.44 s, rows identical (99,921 compared).
    parts = ["'trade_count', count(1)"]
    parts += [f"'{c}', {rounded(c, f'sum({e})')}" for c, e in sums.items()]
    grouped = trades.groupBy(win, F.col("osym")).agg(
        F.expr("named_struct(" + ", ".join(parts) + ") AS _s")
    )
    return grouped.selectExpr(
        "window.start AS window_start",
        "window.end AS window_end",
        "osym",
        "_s.trade_count AS trade_count",
        *[f"_s.{c} AS {c}" for c in sums],
    )


def option_window_agg_sql(trades_sql: str, bucket: str = "minute",
                          whale_threshold: float = 250.0) -> str:
    """DuckDB oracle for option_window_agg over the same input.

    ``trades_sql`` must yield columns (osym, ts, premium, qty, side,
    otype, whale); bucket must equal the Spark duration.
    """
    cols = []
    for stem, whale, side, otype in accumulator_names():
        pred = (
            f"whale = {str(whale).upper()} AND side = '{side}' "
            f"AND otype = '{otype}'"
        )
        cols.append(
            f"CAST(SUM(CASE WHEN {pred} THEN qty ELSE 0 END) AS BIGINT) AS {stem}_vol"
        )
        cols.append(
            f"ROUND(SUM(CASE WHEN {pred} THEN premium ELSE 0.0 END), 4) AS {stem}_prem"
        )
    return f"""
SELECT
  date_trunc('{bucket}', ts) AS window_start,
  date_trunc('{bucket}', ts) + INTERVAL 1 {bucket} AS window_end,
  osym,
  COUNT(*) AS trade_count,
  {', '.join(cols)}
FROM ({trades_sql})
GROUP BY 1, 2, 3
"""
