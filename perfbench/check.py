"""Output checks against DuckDB references.

Frames are compared the way the engine's registry gate compares them:
columns sorted by name, timestamps at microsecond grain, rows sorted
unless the request fixed an order. Both sides round float aggregates to
4 dp, and numbers may differ by at most one unit in that 4th decimal
(:data:`ATOL`). That unit is needed because the two engines round an
exact tie differently: Spark rounds half up on the decimal form of the
double, DuckDB on the binary value. Ties are not rare in the telemetry
output: Linear interpolation works on aggregates already rounded to
4 dp, so a bucket half way between two of them lands on a 5th-decimal
5 (seen: 221.45955 -> 221.4596 in Spark, 221.4595 in DuckDB). Counts,
keys, strings and timestamps still have to match exactly.
"""

from __future__ import annotations

import functools

import pandas as pd

#: One unit in the 4th decimal, plus room for the doubles' own error.
ATOL = 1.01e-4


def normalize(df: pd.DataFrame, ordered: bool = False) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            if getattr(df[c].dt, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
    if len(df) and not ordered:
        df = df.sort_values(by=list(df.columns), na_position="last")
    return df.reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame, ordered: bool = False) -> str | None:
    """None when the frames match, else a one-line reason."""
    got, want = normalize(got, ordered), normalize(want, ordered)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=0, atol=ATOL
        )
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    return None


def spark_order(df: pd.DataFrame, orderings: list, page: list | None) -> pd.DataFrame:
    """Sort and page rows the way Spark's orderBy does: strings by code
    point (DuckDB's ORDER BY places non-ASCII text differently, so the
    reference is ordered here, not by DuckDB), NULLs first ascending and
    last descending."""
    cols = [df.columns.get_loc(c) for c, _ in orderings]
    desc = [d == "Desc" for _, d in orderings]

    def cmp(a, b) -> int:
        for i, rev in zip(cols, desc):
            x, y = a[i], b[i]
            xn, yn = pd.isna(x), pd.isna(y)
            if xn and yn:
                continue
            c = -1 if xn else 1 if yn else (x > y) - (x < y)
            if c:
                return -c if rev else c
        return 0

    rows = sorted(df.itertuples(index=False, name=None), key=functools.cmp_to_key(cmp))
    if page is not None:
        rows = rows[page[0] * page[1]:(page[0] + 1) * page[1]]
    return pd.DataFrame(rows, columns=df.columns)


# ---------------------------------------------------------------------
# DuckDB reference for event queries. The engine ships one for data
# queries (queryspec.oracle_sql); this is its twin for evaluate_events,
# written from the event-query contract: filter, bucket, aggregate per
# event channel, then the dense spine with Null/Previous/Linear fill.
# ---------------------------------------------------------------------

def _lit(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _in(col: str, vals, neg: bool = False) -> str:
    return f"{col} {'NOT ' if neg else ''}IN ({', '.join(_lit(v) for v in vals)})"


def tag_predicate_sql(tag: str, op: str, value) -> str:
    col = f"tag_{tag}"
    if op in ("Equal", "NotEqual"):
        if isinstance(value, list):
            return _in(col, value, op == "NotEqual")
        return f"{col} {'=' if op == 'Equal' else '!='} {_lit(value)}"
    return f"{col} {'NOT ' if op == 'NotLike' else ''}LIKE {_lit(value)}"


def event_oracle_sql(s: dict, ev_sql: str) -> str:
    where = [f"ts >= TIMESTAMP '{s['from']}'", f"ts < TIMESTAMP '{s['to']}'"]
    if s["streams"] is not None:
        where.append(_in("stream_id", s["streams"]))
    if s["event_ids"] is not None:
        where.append(_in("event_id", s["event_ids"]))
    if s["include"] is not None:
        where.append(_in("level", s["include"]))
    if s["exclude"] is not None:
        where.append(_in("level", s["exclude"], neg=True))
    where += [tag_predicate_sql(*t) for t in s["tags"]]
    groups = ["event_id"] + [f"tag_{t}" for t in s["group_tags"]]
    keys = (["bucket"] if s["interval"] else []) + groups
    sel = ([f"time_bucket(INTERVAL '{s['interval']}', ts) AS bucket"] if s["interval"] else []) + groups
    vals = []
    if s["agg"] == "First":
        vals.append("arg_min(value, CASE WHEN value IS NOT NULL THEN ts END) AS event_value")
    elif s["agg"] == "Last":
        vals.append("arg_max(value, CASE WHEN value IS NOT NULL THEN ts END) AS event_value")
    vals.append("CAST(COUNT(*) AS BIGINT) AS event_count")
    agg = (
        f"SELECT {', '.join(sel + vals)} FROM ev WHERE {' AND '.join(where)} "
        f"GROUP BY {', '.join(str(i + 1) for i in range(len(sel)))}"
    )
    if not s["interval"] or s["interp"] == "None":
        return f"WITH ev AS ({ev_sql}) {agg}"
    dur = s["interval"]
    spine = (
        f"SELECT * FROM (SELECT unnest(generate_series(TIMESTAMP '{s['from']}', "
        f"TIMESTAMP '{s['to']}' - INTERVAL '{dur}', INTERVAL '{dur}')) AS bucket) "
        f"CROSS JOIN (SELECT DISTINCT {', '.join(groups)} FROM agg)"
    )
    has_value = s["agg"] in ("First", "Last")
    j = (
        f"SELECT {', '.join('s.' + k for k in keys)}, "
        f"{'a.event_value, ' if has_value else ''}a.event_count "
        f"FROM spine s LEFT JOIN agg a USING ({', '.join(keys)})"
    )
    base = f"WITH ev AS ({ev_sql}), agg AS ({agg}), spine AS ({spine}), j AS ({j}) "
    part = f"PARTITION BY {', '.join(groups)} ORDER BY bucket"
    back = f"OVER ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    fwd = f"OVER ({part} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    if s["interp"] == "Linear":
        c = "CAST(event_count AS DOUBLE)"
        b = "CASE WHEN event_count IS NOT NULL THEN epoch_us(bucket) END"
        return (
            base
            + f", w AS (SELECT {', '.join(keys)}, {c} AS v, "
            f"last_value({c} IGNORE NULLS) {back} AS pv_, "
            f"first_value({c} IGNORE NULLS) {fwd} AS nv_, "
            f"last_value({b} IGNORE NULLS) {back} AS pb_, "
            f"first_value({b} IGNORE NULLS) {fwd} AS nb_ FROM j) "
            f"SELECT {', '.join(keys)}, CASE WHEN v IS NOT NULL THEN v "
            f"WHEN pv_ IS NULL OR nv_ IS NULL THEN NULL "
            f"ELSE ROUND(pv_ + (nv_ - pv_) * CAST(epoch_us(bucket) - pb_ AS DOUBLE) / "
            f"CAST(nb_ - pb_ AS DOUBLE), 4) END AS event_count FROM w"
        )
    value = ""
    if has_value:
        value = (
            f"last_value(event_value IGNORE NULLS) {back} AS event_value, "
            if s["interp"] == "Previous"
            else "event_value, "
        )
    return base + f"SELECT {', '.join(keys)}, {value}COALESCE(event_count, 0) AS event_count FROM j"
