"""Declarative data-quality constraint suite (Deequ-style, lite).

Generalizes the reference's scattered runtime checks — required
fields (darkpool_trades/metrics.py:100-101), schema validators
(equity_quotes/main.py:78-84), zero/stale counters
(metrics.py:113-123) — into one declarative contract: a list of
constraints compiled into a SINGLE aggregation pass over the data.

Each constraint contributes one violation-count column; the suite
returns per-constraint violations plus a pass/fail verdict. At 100 TB
this is one partial/final agg scan — no per-constraint jobs, no
driver loops — and it composes with ``Observation`` to ride an
existing action instead of its own scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ts_data_pipeline_spark.sqltext import sql_str


@dataclass
class Check:
    """One constraint: name + violation predicate (SQL string or Column)."""

    name: str
    violation: str  # SQL boolean expr, true => row violates

    def col(self) -> Column:
        return F.expr(self.violation)


def not_null(col: str) -> Check:
    return Check(f"not_null_{col}", f"{col} IS NULL")


def unique_key(col: str) -> Check:
    """Uniqueness is aggregate-level; expressed as a per-row violation
    via a window-free trick: handled specially in run_checks."""
    return Check(f"unique_{col}", f"__dup__{col}")


def in_range(col: str, lo: float, hi: float) -> Check:
    return Check(f"range_{col}", f"{col} IS NOT NULL AND ({col} < {lo} OR {col} > {hi})")


def in_set(col: str, values: Sequence[str]) -> Check:
    vals = ", ".join(sql_str(v) for v in values)
    return Check(f"enum_{col}", f"{col} IS NOT NULL AND {col} NOT IN ({vals})")


def matches(col: str, regex: str) -> Check:
    return Check(f"regex_{col}", f"{col} IS NOT NULL AND NOT ({col} RLIKE {sql_str(regex)})")


def run_checks(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Evaluate all constraints in one aggregation pass.

    Returns one row per check: (check, violations, n_rows, passed).
    ``unique_key`` checks need a pre-pass groupBy on the key (the only
    constraint whose violation is not row-local).
    """
    uniques = [c for c in checks if c.violation.startswith("__dup__")]
    plain = [c for c in checks if not c.violation.startswith("__dup__")]

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in plain:
        aggs.append(
            F.sum(F.when(c.col(), 1).otherwise(0)).cast("bigint").alias(c.name)
        )
    row = df.agg(*aggs)

    results = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c.name).alias("check"),
                        F.col(c.name).alias("violations"),
                        F.col("__n").alias("n_rows"),
                    )
                    for c in plain
                ]
            )
        ).alias("r")
    ).select("r.*")

    for c in uniques:
        key = c.violation.removeprefix("__dup__")
        dup = df.groupBy(key).agg(F.count(F.lit(1)).alias("k")).filter(F.col("k") > 1)
        dup_rows = dup.agg(
            F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias("violations"),
        ).select(
            F.lit(c.name).alias("check"),
            "violations",
            F.lit(None).cast("bigint").alias("n_rows"),
        )
        n = df.agg(F.count(F.lit(1)).alias("n")).select(F.col("n"))
        dup_rows = dup_rows.crossJoin(n).select(
            "check", "violations", F.col("n").alias("n_rows")
        )
        results = results.unionByName(dup_rows)

    return results.withColumn("passed", F.col("violations") == 0)


def checks_sql(
    table: str, plain: Sequence[Check], unique_cols: Sequence[str] = ()
) -> str:
    """DuckDB oracle for run_checks over ``table``.

    Reuses each check's Spark-SQL text, so it holds only for checks
    whose strings contain no ``\\``, ``'`` or ``${`` (the two engines
    quote those differently)."""
    selects = []
    for c in plain:
        selects.append(
            f"SELECT '{c.name}' AS check, "
            f"CAST(SUM(CASE WHEN {c.violation} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS violations, COUNT(*) AS n_rows FROM {table}"
        )
    for col in unique_cols:
        selects.append(
            f"SELECT 'unique_{col}' AS check, "
            f"CAST(COALESCE((SELECT SUM(k) FROM (SELECT COUNT(*) AS k FROM {table} "
            f"GROUP BY {col} HAVING COUNT(*) > 1)), 0) AS BIGINT) AS violations, "
            f"(SELECT COUNT(*) FROM {table}) AS n_rows"
        )
    union = " UNION ALL ".join(selects)
    return f"SELECT *, violations = 0 AS passed FROM ({union})"
