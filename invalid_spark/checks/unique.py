"""Uniqueness checks (SURVEY.md §2.3).

``$unique`` on a column (image_id, phash) or on a composite natural
key is one aggregate: ``groupBy(key).count()`` filtered to counts
above one. Spark plans it as a map-side partial aggregate, one
exchange and a final aggregate, so the shuffle carries at most one
(key, count) pair per key per map task, never rows. A hot key (the
synthetic skew fixture plants a phash shared by ~10% of rows)
collapses map-side before anything moves: partial combine IS the salt
here, as for ``$fd`` (``relations.py``). A salted two-stage aggregate
only added a second exchange (50k-row hot-phash table: 2 → 1
exchanges, 3 → 2 jobs, same rows).

Emitting per-row violations then requires locating the duplicated
rows: a join of the (small) duplicate-key set back against the table.
AQE's skew-join handles residual imbalance; for tiny dup sets
Catalyst broadcasts automatically.

Key parts are renamed by position before the aggregate, so no column
name of the table (``salt``, ``cnt``, ...) can collide with the count
or with another name in the plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invalid_spark.model import ErrorType, as_violations


def composite_duplicate_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Multi-column keys appearing more than once → ``(k0, …, cnt)``,
    key part ``i`` as ``k{i}``. NULL key parts group together (SQL
    GROUP BY semantics — a composite key with a NULL part duplicates
    another identical one)."""
    return (
        df.groupBy(*[F.col(c).alias(f"k{i}") for i, c in enumerate(cols)])
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def duplicate_keys(df: DataFrame, col: str) -> DataFrame:
    """Keys appearing more than once → ``(k, cnt)``."""
    return composite_duplicate_keys(df, [col]).withColumnRenamed("k0", "k")


def _violations(
    df: DataFrame,
    cols: list[str],
    row_key: str,
    run_id: str,
    keep_cols: list[str] | None,
    null_safe: bool,
) -> DataFrame:
    """Violation rows for every row of ``df`` whose key over ``cols``
    is in the duplicate set, joined back on every key part."""
    keep = list(keep_cols or [])
    n = len(cols)
    dups = composite_duplicate_keys(df, cols).toDF(
        *[f"__d{i}" for i in range(n)], "__cnt"
    )
    eqs = [
        F.col(f"__k{i}").eqNullSafe(F.col(f"__d{i}")) if null_safe
        else F.col(f"__k{i}") == F.col(f"__d{i}")
        for i in range(n)
    ]
    key_str = "~".join(cols)
    joined = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        *[F.col(c).alias(f"__k{i}") for i, c in enumerate(cols)],
        F.spark_partition_id().alias("partition_id"),
        *keep,
    ).join(dups, reduce(lambda a, b: a & b, eqs), "inner")
    return as_violations(
        joined, "row_key", cols[0], key_str, ErrorType.UNIQUE_MISMATCH,
        F.concat(
            F.lit(f"value of [{key_str}] must be unique, seen "),
            F.col("__cnt").cast("string"),
            F.lit(" times"),
        ),
        F.concat_ws(
            "~", *[F.coalesce(F.col(f"__k{i}").cast("string"), F.lit("∅"))
                   for i in range(n)]
        ),
        run_id, keep,
    )


def uniqueness_violations(
    df: DataFrame,
    col: str,
    row_key: str,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Violation rows (schema ``VIOLATION_SCHEMA``) for every row whose
    ``col`` value is duplicated; NULL values are never flagged (plain
    equality join back). ``keep_cols``: source columns carried onto
    every violation row (the runner's work unit)."""
    return _violations(df, [col], row_key, run_id, keep_cols, null_safe=False)


def composite_uniqueness_violations(
    df: DataFrame,
    cols: list[str],
    row_key: str,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Violation rows for every row whose COMPOSITE key (natural keys
    like (orderkey, linenumber) or (image_id, phash)) is duplicated.
    The dup-set join back uses null-safe equality on every part so
    the rows found match exactly the groups counted (struct equality
    would drop NULL-part groups). ``keep_cols`` as in
    :func:`uniqueness_violations`."""
    return _violations(df, cols, row_key, run_id, keep_cols, null_safe=True)
