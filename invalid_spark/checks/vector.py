"""Embedding/vector column checks: dimension, NaN/null/±Inf elements,
zero vectors — the schema invariants an embedding table breaks in
practice (truncated writes, failed encoders emitting zeros, fp
overflow producing NaN).

Runs as its OWN projection stage over the pruned (row key, vector)
scan, not inside the row-check projection: the element predicates
need higher-order functions (``exists``/``forall``), which are
CodegenFallback expressions — embedding them in the main CASE-array
would knock every other check off whole-stage codegen (PLANS.md §1).
Isolated here, the HOF cost applies only to the vector column pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invalid_spark.model import ErrorType, as_violations


def _checks_violations(
    df: DataFrame,
    row_key: str,
    checks: list,
    column: str,
    rule_id: str,
    run_id: str,
    keep: list[str],
) -> DataFrame:
    """One violation row per non-NULL ``(error_type, message,
    observed)`` struct of ``checks`` on each row of ``df``."""
    out = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.spark_partition_id().alias("partition_id"),
        F.explode(F.array(*checks)).alias("v"),
        *keep,
    ).filter(F.col("v").isNotNull())
    return as_violations(
        out, "row_key", column, rule_id, F.col("v.error_type"),
        F.col("v.message"), F.col("v.observed"), run_id, keep,
    )


def vector_violations(
    df: DataFrame,
    col: str,
    row_key: str,
    dim: int | None = None,
    no_nan: bool = True,
    no_zero: bool = True,
    norm_min: float | None = None,
    norm_max: float | None = None,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Violation rows for every vector invariant breach.

    ``norm_min``/``norm_max`` bound the L2 norm — the invariant a
    "normalized embeddings" contract actually means (an encoder that
    silently stopped normalizing passes dim/NaN checks forever). The
    norm is a Catalyst left-fold (``aggregate``), same projection
    pass as the other invariants; a vector containing NaN/±Inf folds
    to a NaN/Inf norm, which fails BOTH bounds (comparisons with NaN
    are false → flagged here only via the finiteness check, which is
    why ``no_nan`` also refuses ±Inf). ``keep_cols``: source columns
    carried onto every violation row."""
    keep = list(keep_cols or [])
    c = F.col(col)
    checks = []
    if dim is not None:
        checks.append(
            F.when(
                c.isNotNull() & (F.size(c) != dim),
                F.struct(
                    F.lit(ErrorType.VECTOR_MISMATCH).alias("error_type"),
                    F.lit(f"vector [{col}] must have dim {dim}").alias("message"),
                    F.size(c).cast("string").alias("observed"),
                ),
            )
        )
    if no_nan:
        inf = F.lit(float("inf"))
        bad = F.exists(
            c,
            lambda x: x.isNull()
            | F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == inf),
        )
        checks.append(
            F.when(
                c.isNotNull() & bad,
                F.struct(
                    F.lit(ErrorType.VECTOR_MISMATCH).alias("error_type"),
                    F.lit(
                        f"vector [{col}] must not contain NaN/null/Inf"
                    ).alias("message"),
                    F.lit(None).cast("string").alias("observed"),
                ),
            )
        )
    if norm_min is not None or norm_max is not None:
        norm = F.sqrt(
            F.aggregate(
                c,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        out_of_band = F.lit(False)
        if norm_min is not None:
            out_of_band = out_of_band | (norm < F.lit(float(norm_min)))
        if norm_max is not None:
            out_of_band = out_of_band | (norm > F.lit(float(norm_max)))
        checks.append(
            F.when(
                c.isNotNull() & F.coalesce(out_of_band, F.lit(False)),
                F.struct(
                    F.lit(ErrorType.VECTOR_MISMATCH).alias("error_type"),
                    F.lit(
                        f"vector [{col}] L2 norm must be in "
                        f"[{norm_min}, {norm_max}]"
                    ).alias("message"),
                    F.round(norm, 6).cast("string").alias("observed"),
                ),
            )
        )
    if no_zero:
        zero = F.forall(c, lambda x: x == 0)
        checks.append(
            F.when(
                c.isNotNull() & (F.size(c) > 0) & zero,
                F.struct(
                    F.lit(ErrorType.VECTOR_MISMATCH).alias("error_type"),
                    F.lit(f"vector [{col}] must not be all zeros").alias("message"),
                    F.lit(None).cast("string").alias("observed"),
                ),
            )
        )
    return _checks_violations(df, row_key, checks, col, col, run_id, keep)


def alignment_score(col_a: str, col_b: str):
    """The shared (unscorable, cosine) expression pair behind every
    alignment surface — :func:`alignment_violations` (batch/runner)
    and :func:`invalid_spark.streaming.windowed_alignment_metrics`
    use the SAME expressions, so the streaming monitor and the batch
    gate can never disagree on what "aligned" means. The cosine is
    the strict left-fold dot of the unit-normalized double vectors
    (oracle-replayable IEEE op order)."""
    from invalid_spark.pipeline.similarity import as_double, dot

    a = as_double(F.col(col_a))
    b = as_double(F.col(col_b))
    na = F.sqrt(dot(a, a))
    nb = F.sqrt(dot(b, b))
    unscorable = (
        F.col(col_a).isNull()
        | F.col(col_b).isNull()
        | (F.size(F.col(col_a)) != F.size(F.col(col_b)))
        | (na == 0)
        | (nb == 0)
    )
    cos = dot(
        F.transform(a, lambda x: x / na), F.transform(b, lambda x: x / nb)
    )
    return unscorable, cos


def alignment_violations(
    df: DataFrame,
    col_a: str,
    col_b: str,
    row_key: str,
    min_cos: float,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Paired-embedding alignment gate — the CLIP-score-style filter a
    multimodal (image, caption) pipeline runs before training (LAION's
    curation keeps pairs whose image/text embedding cosine clears a
    threshold; Schuhmann et al. 2021 used 0.28 for CLIP ViT-B/32).
    The encoders live upstream; this operator validates their OUTPUT
    contract: for every row, ``cosine(col_a, col_b) >= min_cos``.

    Two violation kinds, one codegen-free projection pass (HOF folds,
    same isolation rationale as :func:`vector_violations`):

    - ``alignment unscorable`` — either side null, dimension mismatch,
      or zero norm: the pair cannot be scored at all, which is its own
      data bug (a silently failed encoder), never a pass.
    - ``alignment below threshold`` — observed = the cosine (6dp).

    The cosine is the strict left-fold dot of the unit-normalized
    double vectors — bit-identical to the DuckDB oracle's
    ``list_reduce`` replay, so the gate's decisions are
    engine-reproducible. Scale shape: a pure row-local projection over
    the pruned (key, a, b) scan; zero shuffles, zero joins.
    ``keep_cols`` as in :func:`vector_violations`.
    """
    keep = list(keep_cols or [])
    unscorable, cos = alignment_score(col_a, col_b)
    checks = [
        F.when(
            unscorable,
            F.struct(
                F.lit(ErrorType.ALIGNMENT_MISMATCH).alias("error_type"),
                F.lit(
                    f"pair [{col_a}, {col_b}] must be scorable "
                    "(non-null, same dim, nonzero norm)"
                ).alias("message"),
                F.lit(None).cast("string").alias("observed"),
            ),
        ),
        F.when(
            ~unscorable & (cos < F.lit(float(min_cos))),
            F.struct(
                F.lit(ErrorType.ALIGNMENT_MISMATCH).alias("error_type"),
                F.lit(
                    f"cosine([{col_a}], [{col_b}]) must be >= {min_cos}"
                ).alias("message"),
                F.round(cos, 6).cast("string").alias("observed"),
            ),
        ),
    ]
    return _checks_violations(
        df, row_key, checks, col_a, f"{col_a}~{col_b}", run_id, keep
    )
