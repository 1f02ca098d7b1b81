"""Data-quality assertions Q1-Q2 (SURVEY.md §2.10).

Spark-native replacement for the reference's DataQualityOperator
(plugins/operators/data_quality.py:21-38), which ran generated SQL
against Redshift. Here the same checks are DataFrame aggregations, and
the per-column null counts are computed in ONE pass (a single job with
conditional sums) instead of one COUNT(*) query per column -- at 100 TB
the reference's per-column scan loop would re-read the table N times.

A table being written needs no scan of its own: ``observe_quality``
attaches the gate's counts to the write job and ``check_observed`` raises
on them afterwards (``run_pipeline`` does this for every table it
writes). ``perfbench/run.py --workload star_etl --trace 1`` reports the
jobs the separate gates still start as ``quality.jobs``.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Identifiers in generated SQL are config-owned, but allowlist anyway
# (the reference f-strings them raw, data_quality.py:27,34 — see
# SURVEY.md §7 hazards).
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


class DataQualityError(ValueError):
    """Raised when a quality gate fails (reference raises ValueError,
    data_quality.py:29,38)."""


def null_counts(df: DataFrame, columns: Sequence[str]) -> dict[str, int]:
    """One-pass NULL count per column (Q1 core, data_quality.py:26-27)."""
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(c) for c in columns
    ]
    row = df.agg(*aggs).collect()[0]
    return {c: int(row[c] or 0) for c in columns}


def expect_no_nulls(df: DataFrame, columns: Sequence[str], table: str = "?") -> None:
    """Q1: fail if any NULL in the given columns (data_quality.py:26-31;
    the 10 configured pairs at dag_immigration.py:337-348)."""
    bad = {c: n for c, n in null_counts(df, columns).items() if n > 0}
    if bad:
        raise DataQualityError(
            f"Data quality check failed. {table} contains NULLs: {bad}"
        )


def expect_nonempty(df: DataFrame, table: str = "?") -> int:
    """Q2: fail if the table has 0 rows (data_quality.py:33-38)."""
    n = df.count()
    if n < 1:
        raise DataQualityError(f"Data quality check failed. {table} is empty")
    return n


def run_sql_quality_checks(
    spark: SparkSession, pairs: Sequence[tuple[str, str]]
) -> dict[str, int]:
    """E3-style serving-side gate: GENERATED SQL strings over catalog
    tables/views, exactly the reference's DataQualityOperator shape
    (data_quality.py:21-38 via PostgresHook -> here spark.sql). Returns
    {table: row_count}; raises DataQualityError on the first failure.

    This is the template for the whole ad-hoc serving layer: SQL that
    previously hit Redshift now hits Spark SQL over the same relations
    the DataFrame API built (the E2 dual-surface invariant).
    """
    counts: dict[str, int] = {}
    for tbl, col in pairs:
        for ident in (tbl, col):
            if not _IDENT.match(ident):
                raise ValueError(f"unsafe identifier: {ident!r}")
        nulls = spark.sql(
            f"SELECT COUNT(*) AS n FROM {tbl} WHERE {col} IS NULL"
        ).collect()[0]["n"]
        if nulls > 0:
            raise DataQualityError(
                f"Data quality check failed. {tbl}.{col} has {nulls} NULLs"
            )
        total = spark.sql(f"SELECT COUNT(*) AS n FROM {tbl}").collect()[0]["n"]
        if total < 1:
            raise DataQualityError(f"Data quality check failed. {tbl} is empty")
        counts[tbl] = int(total)
    return counts


def expect_max_length(
    df: DataFrame, limits: dict[str, int], table: str = "?"
) -> None:
    """DDL-length contract (reference create_tables.sql VARCHAR(n)
    declarations, which Redshift enforces by truncation/error and
    parquet doesn't at all): fail if any string column exceeds its
    declared max length. One pass — all columns checked in a single
    conditional-max aggregation."""
    aggs = [
        F.max(F.length(F.col(c))).alias(c) for c in limits
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {
        c: int(row[c])
        for c, lim in limits.items()
        if row[c] is not None and row[c] > lim
    }
    if bad:
        raise DataQualityError(
            f"Data quality check failed. {table} exceeds declared lengths "
            f"(observed max): {bad}"
        )


def expect_unique(df: DataFrame, columns: Sequence[str], table: str = "?") -> None:
    """Extension: fail if the given key columns are not unique. The
    reference declares PKs in Redshift DDL (create_tables.sql) but
    Redshift never enforces them; this makes the contract real."""
    dupes = (
        df.groupBy(*columns).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dupes:
        raise DataQualityError(
            f"Data quality check failed. {table} has duplicate keys on {list(columns)}"
        )


def observe_quality(
    df: DataFrame, columns: Sequence[str] = ()
) -> tuple[DataFrame, Observation]:
    """Attach the Q1/Q2 metrics to ``df``: ``rows`` and ``nulls_<col>``
    for each column. Whatever action runs the returned DataFrame (the
    table's write) computes them in the same job, so the gate costs no
    extra scan. Each call makes a fresh unnamed Observation, so two
    pipelines in one session never register the same name."""
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in columns],
    )
    return observed, obs


def check_observed(obs: Observation, table: str = "?", gate: bool = True) -> dict[str, int]:
    """Read the metrics of ``observe_quality`` once the action has run
    and return them. With ``gate``, raise DataQualityError with the
    ``expect_nonempty`` / ``expect_no_nulls`` messages if the table is
    empty or a column has NULLs; the rows are already written by then,
    so the caller owns any cleanup of the output."""
    metrics = {k: int(v or 0) for k, v in obs.get.items()}
    if not gate:
        return metrics
    if metrics["rows"] < 1:
        raise DataQualityError(f"Data quality check failed. {table} is empty")
    bad = {k.removeprefix("nulls_"): n for k, n in metrics.items() if k != "rows" and n > 0}
    if bad:
        raise DataQualityError(
            f"Data quality check failed. {table} contains NULLs: {bad}"
        )
    return metrics
