"""Skew-resistant aggregation: two-phase salted groupBy.

A groupBy on a heavily skewed key (3-value return flags, hot option
symbols at market open) funnels the hot key's rows into one reducer.
Salting splits every key into ``salt_buckets`` sub-keys for the first
(partial) aggregation, then re-aggregates the tiny salted result —
the hot key's work spreads across ``salt_buckets`` tasks, and the
second shuffle moves only (keys x salt_buckets) rows.

AQE's skew-join handling covers joins; salting is the analogous
pattern for aggregation, kept explicit so plans can opt in where key
histograms are known-bad. Decomposable aggregates only (sum/count/
min/max; avg = sum/count assembled at the end).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def skew_report(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Key-histogram diagnostic: the top-N heavy hitters of a
    prospective shuffle key with their traffic share — the input to
    the salt-or-not decision (and to AQE skew threshold tuning).

    One partial-aggregated groupBy on the key; the global total rides
    a broadcast of the single-row aggregate. The top-N reduction is
    ``orderBy().limit()`` — TakeOrderedAndProject, a distributed
    per-partition top-N + driver merge of N×partitions rows — so the
    key histogram is never globally sorted (a skew report on a
    billion-key column must not itself collapse to one task; caught
    by plans/lint.py, which flagged the earlier rank-then-filter
    form). The residual rank window orders the already-reduced
    ``top_n``-row relation."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("_total"))
    top = counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(top_n)
    w = Window.orderBy(F.col("n").desc(), F.col("key").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
        )
        .withColumn("rank", F.row_number().over(w))
    )


def skew_report_sql(table: str, key_col: str, top_n: int = 10) -> str:
    return f"""
WITH counts AS (
  SELECT CAST({key_col} AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM {table} GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT key, n, ROUND(CAST(n AS DOUBLE) / t, 6) AS share,
       CAST(row_number() OVER (ORDER BY n DESC, key ASC) AS BIGINT) AS rank
FROM counts, tot
QUALIFY rank <= {top_n}
"""


def salted_sum(
    df: DataFrame,
    key_cols: list[str | Column],
    sums: dict[str, str],
    *,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase sum/count aggregation under a salt.

    ``sums`` maps output name -> Spark SQL text of the expression to
    sum. The salt is ``spark_partition_id() % salt_buckets`` — zero
    extra column reads, already uniform across input splits. Phase 1
    aggregates on (keys, salt), phase 2 folds the salted partials on
    the keys. Each phase's aggregates ride ONE ``named_struct``
    expression, parsed once instead of one py4j round trip per
    aggregate. Returns the key columns, one column per sum and
    ``n_rows``; sums are never rounded here, so a caller that rounds
    does it once, after the final sum.
    """
    pparts = ["'_p_cnt', count(1)"]
    pparts += [f"'_p_{name}', sum({expr})" for name, expr in sums.items()]
    partial = (
        df.withColumn("_salt", F.spark_partition_id() % salt_buckets)
        .groupBy(*key_cols, "_salt")
        .agg(F.expr("named_struct(" + ", ".join(pparts) + ") AS _p"))
    )
    keys = [c for c in partial.columns if c not in ("_salt", "_p")]
    fparts = ["'n_rows', sum(_p._p_cnt)"]
    fparts += [f"'{name}', sum(_p._p_{name})" for name in sums]
    return (
        partial.groupBy(*keys)
        .agg(F.expr("named_struct(" + ", ".join(fparts) + ") AS _s"))
        .select(*keys, *[f"_s.{name}" for name in sums], "_s.n_rows")
    )


def salted_join(
    facts: DataFrame,
    other: DataFrame,
    on: list[str],
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact side, replicate the
    other side across every salt value — the join-side analogue of
    :func:`salted_sum`, for large-large joins whose hot keys defeat a
    plain hash join and whose smaller side is still too big (or too
    dynamic) to broadcast.

    Each fact row gets ONE salt (``spark_partition_id() %
    salt_buckets`` — uniform across input splits, no column reads);
    each ``other`` row is replicated ``salt_buckets`` times via an
    exploded sequence. The join keys become ``on + [_salt]``, so a
    hot key's fact rows spread over ``salt_buckets`` reducers while
    every one of them still meets its matching ``other`` rows.
    Shuffle cost: |facts| unchanged + |other| × salt_buckets — the
    explicit trade against the hot-partition straggler. (AQE's
    skew-join split handles most cases adaptively; this form is for
    known-pathological keys and for engines/pipelines where the
    optimizer's split heuristics don't fire, e.g. pre-partitioned
    bucketed scans.)

    Result is row-identical to the plain join for ``inner`` and
    ``left`` (each fact row carries exactly one salt). ``right``/
    ``full`` would emit unmatched ``other`` rows once PER SALT —
    rejected loudly rather than silently wrong.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports inner/left, got {how!r}: unmatched "
            "replicated rows would duplicate under right/full outer"
        )
    if "_salt" in facts.columns or "_salt" in other.columns:
        raise ValueError("_salt column name is reserved by salted_join")
    facts_s = facts.withColumn(
        "_salt", F.spark_partition_id() % salt_buckets
    )
    other_s = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return facts_s.join(other_s, on + ["_salt"], how).drop("_salt")
