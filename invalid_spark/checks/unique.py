"""Uniqueness checks with explicit skew handling (SURVEY.md §2.3).

``$unique`` on a column (image_id, phash) becomes a two-stage salted
aggregation so one hot key (the synthetic skew fixture plants a phash
shared by ~10% of rows) cannot pin a single reducer at 100 TB:

  stage 1: groupBy(key, salt)  — salt = crc32-ish mod S, spreads a hot
           key over S reducers; partial (map-side) combine applies
  stage 2: groupBy(key) sum of stage-1 counts — at most S rows per key

Emitting per-row violations then requires locating the duplicated
rows: a semi-join of the (small) duplicate-key set back against the
table. AQE's skew-join handles residual imbalance; for genuinely tiny
dup sets Catalyst broadcasts automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invalid_spark import model
from invalid_spark.model import ErrorType


def duplicate_keys(df: DataFrame, col: str, salt_buckets: int = 64) -> DataFrame:
    """Keys appearing more than once → (key, cnt). Two-stage salted."""
    stage1 = (
        df.select(F.col(col).alias("k"))
        .withColumn("salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)))
        .groupBy("k", "salt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        stage1.groupBy("k")
        .agg(F.sum("c").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def uniqueness_violations(
    df: DataFrame,
    col: str,
    row_key: str,
    run_id: str = "",
    salt_buckets: int = 64,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Violation rows (schema ``VIOLATION_SCHEMA``) for every row whose
    ``col`` value is duplicated. ``keep_cols``: source columns carried
    onto every violation row (the runner's work unit)."""
    keep = list(keep_cols or [])
    dups = duplicate_keys(df, col, salt_buckets)
    joined = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.col(col).alias("k"),
        F.spark_partition_id().alias("partition_id"),
        *keep,
    ).join(dups, "k", "inner")
    return joined.select(
        "row_key",
        F.lit(col).alias("column"),
        F.lit(col).alias("rule_id"),
        F.lit(ErrorType.UNIQUE_MISMATCH).alias("error_type"),
        F.concat(
            F.lit(f"value of [{col}] must be unique, seen "),
            F.col("cnt").cast("string"),
            F.lit(" times"),
        ).alias("message"),
        F.col("k").cast("string").alias("observed"),
        "partition_id",
        F.lit(run_id).alias("run_id"),
        *keep,
    )


def composite_duplicate_keys(
    df: DataFrame, cols: list[str], salt_buckets: int = 64
) -> DataFrame:
    """Multi-column keys appearing more than once → (*cols, cnt).
    Same two-stage salted shape as :func:`duplicate_keys`; NULL key
    parts group together (SQL GROUP BY semantics — a composite key
    with a NULL part duplicates another identical one)."""
    stage1 = (
        df.select(*cols)
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64(F.monotonically_increasing_id()),
                F.lit(salt_buckets),
            ),
        )
        .groupBy(*cols, "salt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        stage1.groupBy(*cols)
        .agg(F.sum("c").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def composite_uniqueness_violations(
    df: DataFrame,
    cols: list[str],
    row_key: str,
    run_id: str = "",
    salt_buckets: int = 64,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Violation rows for every row whose COMPOSITE key (natural keys
    like (orderkey, linenumber) or (image_id, phash)) is duplicated.
    The dup-set join back uses null-safe equality on every part so
    the rows found match exactly the groups counted (struct equality
    would drop NULL-part groups). ``keep_cols`` as in
    :func:`uniqueness_violations`."""
    keep = list(keep_cols or [])
    dups = composite_duplicate_keys(df, cols, salt_buckets)
    d = dups.select(
        *[F.col(c).alias(f"__dup_{c}") for c in cols], "cnt"
    )
    cond = None
    for c in cols:
        eq = F.col(c).eqNullSafe(F.col(f"__dup_{c}"))
        cond = eq if cond is None else (cond & eq)
    key_str = "~".join(cols)
    joined = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        *cols,
        F.spark_partition_id().alias("partition_id"),
        *keep,
    ).join(d, cond, "inner")
    return joined.select(
        "row_key",
        F.lit(cols[0]).alias("column"),
        F.lit(key_str).alias("rule_id"),
        F.lit(ErrorType.UNIQUE_MISMATCH).alias("error_type"),
        F.concat(
            F.lit(f"value of [{key_str}] must be unique, seen "),
            F.col("cnt").cast("string"),
            F.lit(" times"),
        ).alias("message"),
        F.concat_ws(
            "~", *[F.coalesce(F.col(c).cast("string"), F.lit("∅"))
                   for c in cols]
        ).alias("observed"),
        "partition_id",
        F.lit(run_id).alias("run_id"),
        *keep,
    )
