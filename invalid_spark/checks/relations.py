"""Cross-row / cross-table relational checks (SURVEY.md §2.3 extensions).

Three whole-table invariants that no per-row projection can see, each
expressed as the canonical one-shuffle Spark shape:

**Functional dependency** ``$fd`` (deequ's ``hasUniqueness`` sibling;
generalizes ``$unique``: uniqueness is the FD ``col → whole-row-id``).
``det → dep`` holds when every determinant value maps to exactly one
dependent value.  Two-stage aggregation: ``groupBy(det, dep)`` with
map-side partial combine (a hot determinant spreads over its dep
values, and a hot (det, dep) *pair* collapses map-side before the
shuffle — partial combine IS the salt here), then ``groupBy(det)``
over at-most-ndv(dep) rows per determinant.  The shuffle carries
(det, dep, count) triples, never rows.

**Sequence monotonicity** ``$monotonic`` (odometer / billing-counter /
event-time sanity): within each key, a column must be non-decreasing
(or strictly increasing) in the order of a sequence column.  One hash
partition by key + in-partition sort + ``lag`` — the canonical window
shape; state per group is O(1).

**Aggregate reconciliation** ``$reconcile`` (fact-vs-dimension total
consistency, e.g. per-order lineitem revenue vs ``o_totalprice``):
fact terms fold per key in canonical ``order``-sorted order — floats
sum in a deterministic sequence, so an oracle replays the value
bit-for-bit — then a full-outer join against the dimension classifies
every key as ok / mismatch / missing_fact / missing_dim.  The fact
aggregate's hash partitioning is on the join key, so Catalyst reuses
the exchange for the join: one shuffle total on the fact side.

Reference: the Go engine validates one document at a time and has no
cross-row surface (valid.go:40-75); these generalize its rule model to
table scale the same way $unique/$ref did.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from invalid_spark.model import ErrorType, as_violations


# ---------------------------------------------------------------------------
# functional dependency


def fd_violating_determinants(
    df: DataFrame, det: str, dep: str
) -> DataFrame:
    """Determinant values mapping to more than one dependent value →
    ``(value, ndv, n_rows)``.  NULL is a real dependent value (a
    determinant mapping to both NULL and x violates the FD) and a real
    determinant group."""
    pairs = (
        df.groupBy(
            F.col(det).cast("string").alias("value"),
            F.col(dep).cast("string").alias("__dep"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        pairs.groupBy("value")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ndv"),
            F.sum("__c").cast("long").alias("n_rows"),
        )
        .filter(F.col("ndv") > 1)
    )


def fd_violations(
    df: DataFrame,
    det: str,
    dep: str,
    row_key: str,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Violation rows (``VIOLATION_SCHEMA``) for every row whose
    determinant value breaks ``det → dep``.  Null-safe join so NULL
    determinants are not silently dropped. ``keep_cols``: source
    columns carried onto every violation row."""
    keep = list(keep_cols or [])
    bad = fd_violating_determinants(df, det, dep)
    joined = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.col(det).cast("string").alias("__det"),
        F.col(dep).cast("string").alias("__depv"),
        F.spark_partition_id().alias("partition_id"),
        *keep,
    ).join(bad, F.col("__det").eqNullSafe(F.col("value")), "inner")
    return as_violations(
        joined, "row_key", dep, f"{det}->{dep}", ErrorType.FD_MISMATCH,
        F.concat(
            F.lit(f"value of [{dep}] must be determined by [{det}]; "),
            F.lit("determinant maps to "),
            F.col("ndv").cast("string"),
            F.lit(" distinct values"),
        ),
        F.col("__depv"), run_id, keep,
    )


# ---------------------------------------------------------------------------
# sequence monotonicity


def sequence_breaks(
    df: DataFrame,
    key: str,
    order_by: str,
    col: str,
    strict: bool = False,
) -> DataFrame:
    """Rows where ``col`` decreases (``strict``: fails to increase)
    relative to the previous row of the same ``key`` in ``order_by``
    order.  Returns the input columns plus ``__prev`` (the preceding
    value).  ``order_by`` must be unique within each key (a sequence
    number / arrival id), else "previous" is ill-defined."""
    w = Window.partitionBy(key).orderBy(F.col(order_by).asc())
    prev = F.col("__prev")
    broke = (
        (F.col(col) <= prev) if strict else (F.col(col) < prev)
    )
    return (
        df.withColumn("__prev", F.lag(F.col(col)).over(w))
        .filter(prev.isNotNull() & broke)
    )


def sequence_violations(
    df: DataFrame,
    key: str,
    order_by: str,
    col: str,
    row_key: str,
    strict: bool = False,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """``VIOLATION_SCHEMA`` rows for every monotonicity break;
    ``keep_cols`` ride onto every row."""
    word = "increase" if strict else "never decrease"
    breaks = sequence_breaks(df, key, order_by, col, strict)
    return as_violations(
        breaks, F.col(row_key), col, f"{col}@{key}/{order_by}",
        ErrorType.SEQ_MISMATCH,
        f"value of [{col}] must {word} per [{key}] in [{order_by}] order",
        F.concat(
            F.col(col).cast("string"),
            F.lit(" after "),
            F.col("__prev").cast("string"),
        ),
        run_id, keep_cols, partition_id=F.spark_partition_id(),
    )


# ---------------------------------------------------------------------------
# aggregate reconciliation


def reconcile_aggregates(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    term: Column,
    order: str,
    dim_value: str,
    tol: float = 0.01,
) -> DataFrame:
    """Per-key comparison of a fact-side aggregate against a value
    stored on the dimension → ``(key, fact_value, dim_value, status)``
    with status ok / mismatch / missing_fact / missing_dim.

    Each key's terms fold in canonical ``order``-sorted sequence
    (``sort_array`` + ``F.aggregate`` strict left fold), so the float
    sum is deterministic and bit-replayable by a SQL oracle. Requires
    ``order`` unique within a key and group sizes bounded
    (lineitems-per-order ~7; the collected list lives in one
    aggregation buffer)."""
    terms = fact.select(
        F.col(fact_key).alias("key"),
        F.col(order).alias("__ord"),
        term.cast("double").alias("__term"),
    )
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__ord", "__term"))),
            lambda x: x["__term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    agg = terms.groupBy("key").agg(folded.alias("fact_value"))
    d = dim.select(
        F.col(dim_key).alias("__dkey"),
        F.col(dim_value).cast("double").alias("dim_value"),
    )
    # full outer: both "order with no lineitems" (missing_fact) and
    # "lineitems with no order" (missing_dim) are real data failures.
    # agg is hash-partitioned on key already; the join reuses it.
    j = agg.join(d, F.col("key") == F.col("__dkey"), "full_outer")
    status = (
        F.when(F.col("key").isNull(), F.lit("missing_fact"))
        .when(F.col("__dkey").isNull(), F.lit("missing_dim"))
        .when(
            F.abs(F.col("fact_value") - F.col("dim_value")) <= F.lit(tol),
            F.lit("ok"),
        )
        .otherwise(F.lit("mismatch"))
    )
    return j.select(
        F.coalesce(F.col("key"), F.col("__dkey")).alias("key"),
        "fact_value",
        "dim_value",
        status.alias("status"),
    )


def reconcile_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    term: Column,
    order: str,
    dim_value: str,
    tol: float = 0.01,
    run_id: str = "",
) -> DataFrame:
    """``VIOLATION_SCHEMA`` rows for every non-ok key (row_key = the
    reconciliation key — these are key-level, not row-level, failures)."""
    rec = reconcile_aggregates(
        fact, dim, fact_key, dim_key, term, order, dim_value, tol,
    ).filter(F.col("status") != "ok")
    return as_violations(
        rec, "key", dim_value, f"{fact_key}~{dim_value}",
        ErrorType.RECONCILE_MISMATCH,
        F.concat(
            F.lit(f"aggregate of fact terms must reconcile with "
                  f"[{dim_value}] within {tol}: "),
            F.col("status"),
        ),
        F.concat(
            F.coalesce(F.round("fact_value", 6).cast("string"), F.lit("null")),
            F.lit(" vs "),
            F.coalesce(F.round("dim_value", 6).cast("string"), F.lit("null")),
        ),
        run_id, partition_id=None,
    )
