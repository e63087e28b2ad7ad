"""Distribution-drift checks across snapshots (SURVEY.md §2.3).

Numeric columns: fixed-width histograms built with one union-tagged
bucketed aggregation (partial combine applies), KS statistic computed
as an exact integer cross-product over the ≤``bins``-row histogram —
fully distributed, bit-reproducible in any SQL engine. Categorical
columns: one contingency aggregation, chi-square in exact form
(``d²/r`` terms, category-ordered fold). Only the one-row statistic
frame crosses to the driver, where p-values come from
:mod:`invalid_spark.mathutil` (no scipy) — the stage costs 1-2 scans
and one tiny shuffle regardless of table size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from invalid_spark import mathutil
from invalid_spark.model import local_frame


@dataclass
class DriftResult:
    column: str
    test: str  # ks | chi2 | psi | wasserstein
    statistic: float
    p_value: float
    drifted: bool
    threshold: float
    n_current: int
    n_prior: int


def ks_statistic_df(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    bins: int = 256,
    clip: tuple[float, float] | None = None,
) -> DataFrame:
    """Fully-distributed KS statistic: one row
    (column, statistic, n_cur, n_prior).

    Unlike :func:`ks_drift` (driver-side loop over collected
    histograms), everything stays in DataFrames: union-tagged scan →
    bucketed groupBy → cumulative window over ≤``bins`` rows → max
    abs CDF gap. CDF values are exact rationals (cumulative int
    count / total), so the statistic is bit-reproducible in any SQL
    engine. This is also the shape that scales: the window runs over
    the tiny histogram, never the data."""
    both = cur.select(F.col(col).cast("double").alias("v"), F.lit(1).alias("is_cur")).unionByName(
        prev.select(F.col(col).cast("double").alias("v"), F.lit(0).alias("is_cur"))
    ).filter(F.col("v").isNotNull())
    if clip is not None:
        # quantile-bounded range: outliers (exactly what a validation
        # run encounters) otherwise stretch the histogram until every
        # real value lands in one bucket; clamped edge buckets catch
        # the clipped tails
        qlo, qhi = clip
        mm = both.agg(
            F.percentile_approx("v", F.lit(qlo), F.lit(10000)).alias("lo"),
            F.percentile_approx("v", F.lit(qhi), F.lit(10000)).alias("hi"),
        ).collect()[0]
    else:
        mm = both.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    lo, hi = mm.lo, mm.hi
    width = (hi - lo) / bins or 1.0
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("v") - F.lit(lo)) / F.lit(width))),
    ).alias("bucket")
    hist = both.select(bucket, "is_cur").groupBy("bucket").agg(
        F.sum("is_cur").alias("c_cur"),
        F.sum(1 - F.col("is_cur")).alias("c_prev"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # Exact-rational statistic: D = max|cdf_cur - cdf_prev|
    #   = max|cum_cur*n_prior - cum_prev*n_cur| / (n_cur*n_prior).
    # The cross-products stay in int64 (exact up to ~3e9 rows per
    # side; beyond that switch the casts to decimal(38,0)), the max is
    # order-independent, and the single final division makes the value
    # bit-identical in any SQL engine — no per-bucket float division
    # whose rounding could land on either side of round(x, 6).
    cdfs = hist.select(
        "bucket",
        F.sum("c_cur").over(w).alias("cum_cur"),
        F.sum("c_prev").over(w).alias("cum_prev"),
        F.sum("c_cur").over(tot).alias("n_cur"),
        F.sum("c_prev").over(tot).alias("n_prior"),
    )
    num = F.abs(
        F.col("cum_cur") * F.col("n_prior") - F.col("cum_prev") * F.col("n_cur")
    )
    return cdfs.select(num.alias("num"), "n_cur", "n_prior").groupBy().agg(
        F.first(F.lit(col)).alias("column_name"),
        F.when(
            (F.first("n_cur") > 0) & (F.first("n_prior") > 0),
            F.max("num").cast("double")
            / (F.first("n_cur") * F.first("n_prior")).cast("double"),
        ).otherwise(F.lit(0.0)).alias("statistic"),
        F.first("n_cur").alias("n_cur"),
        F.first("n_prior").alias("n_prior"),
    )


def chi2_statistic_df(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
) -> DataFrame:
    """Fully-distributed chi-square homogeneity statistic: one row
    (column_name, statistic, dof, n_cur, n_prior). Same contract as
    :func:`ks_statistic_df` — contingency counts aggregate
    distributed (partial combine), the O(|categories|) statistic is
    a second tiny aggregation, all exact int/double math any SQL
    engine reproduces."""
    # categories compare as their STRING spellings everywhere (this
    # frame, the persisted categorical_state, and multi_state), so the
    # canonical fold order is identical for numeric category columns
    # across all three drift paths
    both = cur.select(
        F.col(col).cast("string").alias("cat"), F.lit(1).alias("is_cur")
    ).unionByName(
        prev.select(
            F.col(col).cast("string").alias("cat"), F.lit(0).alias("is_cur")
        )
    )
    tab = both.groupBy("cat").agg(
        F.sum("is_cur").alias("o1"), F.sum(1 - F.col("is_cur")).alias("o2")
    )
    from pyspark.sql import Window

    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = tab.select(
        "cat", "o1", "o2",
        F.sum("o1").over(tot).alias("n"),
        F.sum("o2").over(tot).alias("m"),
    )
    # Exact-form statistic. With d = o1*m - o2*n and r = o1 + o2 the
    # textbook (o-e)^2/e homogeneity terms collapse algebraically to
    #   term = d^2 / r,  statistic = (sum of terms) / (n*m)
    # (both expected-count branches share the same integer numerator
    # d^2). d is computed as an int64 cross-product, so each term is
    # one exact division; the sum is a strict left fold over the
    # category-sorted list (F.aggregate ≙ DuckDB list_reduce), which
    # makes float accumulation order canonical across engines. The
    # category list is histogram-sized — it never holds rows.
    d = (F.col("o1") * F.col("m") - F.col("o2") * F.col("n")).cast("double")
    r = (F.col("o1") + F.col("o2")).cast("double")
    term = F.when(r > 0, d * d / r).otherwise(F.lit(0.0))
    terms = t.select("cat", term.alias("term"), "n", "m")
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("cat", "term"))),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return terms.groupBy().agg(
        F.first(F.lit(col)).alias("column_name"),
        F.when(
            (F.first("n") > 0) & (F.first("m") > 0),
            folded
            / (F.first("n").cast("double") * F.first("m").cast("double")),
        ).otherwise(F.lit(0.0)).alias("statistic"),
        F.greatest(F.count(F.lit(1)) - 1, F.lit(1)).alias("dof"),
        F.first("n").alias("n_cur"),
        F.first("m").alias("n_prior"),
    )


STATE_SCHEMA = (
    "column_name string, test string, bucket long, cat string, cnt long, "
    "lo double, hi double, bins int, n long"
)


def numeric_state(
    df: DataFrame, col: str, bins: int = 256,
    clip: tuple[float, float] | None = None,
) -> DataFrame:
    """Persistable drift state for a numeric column: the bucketed
    histogram plus its grid (lo, hi, bins). O(bins) rows regardless
    of table size — continuous validation stores this per run instead
    of re-scanning the prior snapshot (cost per comparison drops from
    O(prior table) to O(bins))."""
    v = df.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    if clip is not None:
        qlo, qhi = clip
        mm = v.agg(
            F.percentile_approx("v", F.lit(qlo), F.lit(10000)).alias("lo"),
            F.percentile_approx("v", F.lit(qhi), F.lit(10000)).alias("hi"),
        ).collect()[0]
    else:
        mm = v.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    lo, hi = mm.lo, mm.hi
    width = ((hi - lo) / bins or 1.0) if lo is not None else 1.0
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("v") - F.lit(lo)) / F.lit(width))),
    )
    hist = v.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return hist.select(
        F.lit(col).alias("column_name"),
        F.lit("ks").alias("test"),
        F.col("bucket").cast("long").alias("bucket"),
        F.lit(None).cast("string").alias("cat"),
        F.col("cnt").cast("long").alias("cnt"),
        F.lit(float(lo) if lo is not None else None).alias("lo"),
        F.lit(float(hi) if hi is not None else None).alias("hi"),
        F.lit(bins).alias("bins"),
        F.sum("cnt").over(tot).cast("long").alias("n"),
    )


def categorical_state(df: DataFrame, col: str) -> DataFrame:
    """Persistable drift state for a categorical column: value
    counts. O(|categories|) rows."""
    tab = df.groupBy(F.col(col).cast("string").alias("cat")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return tab.select(
        F.lit(col).alias("column_name"),
        F.lit("chi2").alias("test"),
        F.lit(None).cast("long").alias("bucket"),
        "cat",
        F.col("cnt").cast("long").alias("cnt"),
        F.lit(None).cast("double").alias("lo"),
        F.lit(None).cast("double").alias("hi"),
        F.lit(None).cast("int").alias("bins"),
        F.sum("cnt").over(tot).cast("long").alias("n"),
    )


def _ks_stat_from_hists(cur: list[int], prev: list[int]) -> tuple[float, int, int]:
    """Exact-rational KS statistic from two aligned bucket-count
    lists (same integer cross-product as :func:`ks_statistic_df`,
    driver-side over O(bins) numbers)."""
    n, m = sum(cur), sum(prev)
    num, cc, cp = 0, 0, 0
    for a, b in zip(cur, prev):
        cc += a
        cp += b
        num = max(num, abs(cc * m - cp * n))
    d = (num / (n * m)) if n and m else 0.0
    return d, n, m


def _psi_from_counts(
    cur: dict, prev: dict, eps: float = 1e-4
) -> tuple[float, int, int]:
    """Population Stability Index from two category-count dicts:
    ``Σ (p_i − q_i)·ln(p_i/q_i)`` with proportions floored at ``eps``
    (the standard guard for categories absent on one side — without
    it a single new category makes the index infinite). Terms
    accumulate by a strict left fold in canonical category order
    (NULL first, then ascending), so the float sum is reproducible by
    any SQL engine. PSI conventions: < 0.1 stable, 0.1–0.25 moderate
    shift, > 0.25 drifted."""
    import math

    cats = sorted(set(prev) | set(cur), key=lambda c: (c is not None, c or ""))
    n, m = sum(cur.values()), sum(prev.values())
    psi = 0.0
    for cat in cats:
        p = max(cur.get(cat, 0) / n, eps) if n else eps
        q = max(prev.get(cat, 0) / m, eps) if m else eps
        psi += (p - q) * math.log(p / q)
    return psi, n, m


def _w1_from_hists(cur: list[int], prev: list[int]) -> tuple[float, int, int]:
    """Normalized Wasserstein-1 (earth-mover) distance from two
    aligned bucket-count lists: with unit bucket width the exact W1
    between the binned distributions is ``Σ_b |cdf_cur(b) −
    cdf_prev(b)|``; dividing by ``bins`` normalizes to the grid span
    so the statistic lands in [0, 1] and is comparable across
    columns. The sum accumulates the INTEGER cross-products
    ``|cum_cur·m − cum_prev·n|`` (Python ints — arbitrary precision,
    no overflow) with one final division by ``n·m·bins``, so the
    value is bit-reproducible in any SQL engine with exact integer
    sums (DuckDB widens to HUGEINT)."""
    n, m = sum(cur), sum(prev)
    num, cc, cp = 0, 0, 0
    for a, b in zip(cur, prev):
        cc += a
        cp += b
        num += abs(cc * m - cp * n)
    w1 = (num / (n * m * len(cur))) if n and m and cur else 0.0
    return w1, n, m


def _chi2_stat_from_counts(
    cur: dict, prev: dict
) -> tuple[float, int, int, int]:
    """Exact-form chi-square from two category-count dicts, terms
    accumulated in canonical order (NULL category first, then
    ascending — the same order :func:`chi2_statistic_df`'s
    ``sort_array`` fold uses)."""
    cats = sorted(set(prev) | set(cur), key=lambda c: (c is not None, c or ""))
    n, m = sum(cur.values()), sum(prev.values())
    stat = 0.0
    for cat in cats:
        o1, o2 = cur.get(cat, 0), prev.get(cat, 0)
        r = o1 + o2
        if r > 0:
            d = o1 * m - o2 * n
            stat += (float(d) * float(d)) / r
    stat = stat / (n * m) if n and m else 0.0
    return stat, max(len(cats) - 1, 1), n, m


def multi_grid(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    bins_default: int = 256,
) -> dict[str, tuple[float | None, float | None, int]]:
    """Histogram grids for EVERY numeric ``$drift`` column in ONE
    aggregation pass: ``{col: (lo, hi, bins)}``.

    Per-spec ``clip: [qlo, qhi]`` switches that column's range from
    min/max to approximate quantiles (outlier-proof grid — see
    :func:`ks_statistic_df`); clipped and unclipped columns share the
    same single scan because ``percentile_approx`` and ``min``/``max``
    are both plain aggregate expressions."""
    num = [
        (c, s) for c, s in specs
        if s.get("test", "ks") not in ("chi2", "psi")
    ]
    if not num:
        return {}
    aggs = []
    for i, (col, spec) in enumerate(num):
        v = F.col(col).cast("double")
        clip = spec.get("clip")
        if clip is not None:
            qlo, qhi = float(clip[0]), float(clip[1])
            aggs.append(
                F.percentile_approx(v, F.lit(qlo), F.lit(10000)).alias(f"lo_{i}")
            )
            aggs.append(
                F.percentile_approx(v, F.lit(qhi), F.lit(10000)).alias(f"hi_{i}")
            )
        else:
            aggs.append(F.min(v).alias(f"lo_{i}"))
            aggs.append(F.max(v).alias(f"hi_{i}"))
    row = df.agg(*aggs).collect()[0]
    return {
        col: (row[f"lo_{i}"], row[f"hi_{i}"], int(spec.get("bins", bins_default)))
        for i, (col, spec) in enumerate(num)
    }


def merge_grids(
    a: dict[str, tuple[float | None, float | None, int]],
    b: dict[str, tuple[float | None, float | None, int]],
) -> dict[str, tuple[float | None, float | None, int]]:
    """Shared grid covering both sides of a two-sample comparison:
    per column, min of the lows and max of the highs. For unclipped
    columns this is exactly the union min/max :func:`ks_statistic_df`
    computes; for clipped columns it is the envelope of the two
    sides' quantile ranges (documented approximation — a union
    quantile is not decomposable from per-side aggregates)."""
    out = {}
    for col in set(a) | set(b):
        la, ha, bins = a.get(col, (None, None, 256))
        lb, hb, bins_b = b.get(col, (None, None, 256))
        lo = la if lb is None else lb if la is None else min(la, lb)
        hi = ha if hb is None else hb if ha is None else max(ha, hb)
        out[col] = (lo, hi, bins if col in a else bins_b)
    return out


def multi_state(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    grids: dict[str, tuple[float | None, float | None, int]],
) -> DataFrame:
    """Drift state (:data:`STATE_SCHEMA`) for ALL ``$drift`` columns
    in ONE scan: a single projection emits one tagged struct per
    drift column per row, explodes, and one hash aggregation counts
    — so the scan/shuffle count is independent of how many ``$drift``
    rules the suite declares (the per-column
    :func:`numeric_state`/:func:`categorical_state` pair costs 2
    scans per column). Partial combine applies: the shuffle carries
    (column, bucket) group counts, never rows.

    ``grids`` supplies (lo, hi, bins) per numeric column — from
    :func:`multi_grid` (fresh grid) or from a stored state frame
    (comparison against the previous run's grid)."""
    structs = []
    for col, spec in specs:
        test = spec.get("test", "ks")
        if test in ("chi2", "psi"):
            # both categorical tests share the value-count state shape
            structs.append(
                F.struct(
                    F.lit(col).alias("column_name"),
                    F.lit(test).alias("test"),
                    F.lit(None).cast("long").alias("bucket"),
                    F.col(col).cast("string").alias("cat"),
                )
            )
        else:
            structs.append(
                F.struct(
                    F.lit(col).alias("column_name"),
                    F.lit("ks").alias("test"),
                    # the SAME bucketing expression multi_state_wide
                    # projects — bit-parity between variants by
                    # construction
                    _bucket_expr(col, grids[col]).alias("bucket"),
                    F.lit(None).cast("string").alias("cat"),
                )
            )
    tagged = (
        df.select(F.explode(F.array(*structs)).alias("t"))
        .select("t.*")
        # numeric NULLs are excluded (same as numeric_state's filter);
        # a NULL *category* is a real category and stays
        .filter(~((F.col("test") == "ks") & F.col("bucket").isNull()))
    )
    hist = tagged.groupBy("column_name", "test", "bucket", "cat").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return _decorate_state(hist, specs, grids)


def _decorate_state(
    hist: DataFrame,
    specs: list[tuple[str, dict]],
    grids: dict[str, tuple[float | None, float | None, int]],
) -> DataFrame:
    """Attach each column's grid metadata (lo/hi/bins) and total n to
    the aggregated (column, bucket/cat) counts — the tail both
    :func:`multi_state` variants share."""
    lo_expr: Column | None = None
    hi_expr: Column | None = None
    bins_expr: Column | None = None
    for col, spec in specs:
        if spec.get("test", "ks") in ("chi2", "psi"):
            continue
        lo, hi, bins = grids[col]
        cond = F.col("column_name") == col
        lo_lit = F.lit(float(lo) if lo is not None else None)
        hi_lit = F.lit(float(hi) if hi is not None else None)
        lo_expr = F.when(cond, lo_lit) if lo_expr is None else lo_expr.when(cond, lo_lit)
        hi_expr = F.when(cond, hi_lit) if hi_expr is None else hi_expr.when(cond, hi_lit)
        bins_expr = (
            F.when(cond, F.lit(bins)) if bins_expr is None
            else bins_expr.when(cond, F.lit(bins))
        )
    per_col = Window.partitionBy("column_name").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "column_name",
        "test",
        "bucket",
        "cat",
        F.col("cnt").cast("long").alias("cnt"),
        (lo_expr if lo_expr is not None else F.lit(None)).cast("double").alias("lo"),
        (hi_expr if hi_expr is not None else F.lit(None)).cast("double").alias("hi"),
        (bins_expr if bins_expr is not None else F.lit(None)).cast("int").alias("bins"),
        F.sum("cnt").over(per_col).cast("long").alias("n"),
    )


def _bucket_expr(col: str, grid: tuple) -> Column:
    """The shared KS bucketing expression (clamped floor on the
    grid) — JVM-side so every state variant bit-matches."""
    lo, hi, bins = grid
    width = (
        ((hi - lo) / bins or 1.0) if lo is not None and hi is not None
        else 1.0
    )
    v = F.col(col).cast("double")
    return F.when(
        v.isNotNull(),
        F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((v - F.lit(lo if lo is not None else 0.0))
                        / F.lit(width)),
            ),
        ),
    ).cast("long")


def multi_state_wide(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    grids: dict[str, tuple[float | None, float | None, int]],
) -> DataFrame:
    """:func:`multi_state` without the D× row amplification — the
    wide-rule-set variant. The explode path emits one tagged struct
    per ``$drift`` column per ROW before the hash aggregate's partial
    combine, so its map-stage CPU grows linearly with D; here ONE
    JVM-side projection computes every column's bucket (or category
    string — both bit-identical to the explode path by construction,
    the buckets/casts are the same Catalyst expressions), and an
    Arrow-batched ``mapInPandas`` stage counts all D columns per
    batch with numpy ``value_counts`` — zero extra rows, O(D·bins)
    partials per partition. The shuffle then carries the same
    (column, bucket) partial counts as the explode path.

    Bit-parity with :func:`multi_state` is CI-tested; the runner
    switches to this variant at ``WIDE_STATE_THRESHOLD`` drift rules
    (crossover measured on the events table — see PLANS.md)."""
    import pandas as pd

    metas = []  # (field_name, column_name, test)
    proj = []
    for i, (col, spec) in enumerate(specs):
        test = spec.get("test", "ks")
        if test in ("chi2", "psi"):
            proj.append(F.col(col).cast("string").alias(f"c_{i}"))
            metas.append((f"c_{i}", col, test))
        else:
            proj.append(_bucket_expr(col, grids[col]).alias(f"c_{i}"))
            metas.append((f"c_{i}", col, "ks"))

    def count_batches(batches):
        for pdf in batches:
            out = {"column_name": [], "test": [], "bucket": [], "cat": [],
                   "cnt": []}
            for field, col, test in metas:
                s = pdf[field]
                if test == "ks":
                    # numeric NULLs excluded (numeric_state parity);
                    # nullable longs arrive as float64 — exact ≤ 2^53
                    vc = s.dropna().value_counts()
                    for b, c in vc.items():
                        out["column_name"].append(col)
                        out["test"].append("ks")
                        out["bucket"].append(int(b))
                        out["cat"].append(None)
                        out["cnt"].append(int(c))
                else:
                    # a NULL category is a real category and stays
                    vc = s.value_counts(dropna=False)
                    for k, c in vc.items():
                        out["column_name"].append(col)
                        out["test"].append(test)
                        out["bucket"].append(None)
                        out["cat"].append(None if pd.isna(k) else str(k))
                        out["cnt"].append(int(c))
            yield pd.DataFrame(out)

    partial = df.select(*proj).mapInPandas(
        count_batches,
        "column_name string, test string, bucket long, cat string, cnt long",
    )
    hist = partial.groupBy("column_name", "test", "bucket", "cat").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return _decorate_state(hist, specs, grids)


# Measured crossover (PLANS.md §drift): on 1M events × 16 cores the
# explode path wins through D=8 rules (0.61-1.01s vs 0.91-1.14s —
# struct explode beats Arrow transfer while D is small) and the
# no-amplification wide path wins from D=16 up (0.91s vs 1.07s at 16,
# 1.26s vs 1.84s at 32, the gap widening linearly with D).
WIDE_STATE_THRESHOLD = 12


def state_frame(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    grids: dict[str, tuple[float | None, float | None, int]],
) -> DataFrame:
    """Dispatch between the bit-identical :func:`multi_state`
    variants by rule-set width (see :data:`WIDE_STATE_THRESHOLD`)."""
    if len(specs) >= WIDE_STATE_THRESHOLD:
        return multi_state_wide(df, specs, grids)
    return multi_state(df, specs, grids)


def _results_from_states(
    specs: list[tuple[str, dict]],
    cur_rows: list,
    prev_rows: list,
) -> dict[str, DriftResult]:
    """Per-column DriftResults from two collected state frames
    (O(bins·columns) rows — driver-side math only). Columns with no
    prior-state rows are omitted (nothing to compare yet)."""
    out: dict[str, DriftResult] = {}
    for col, spec in specs:
        test = spec.get("test", "ks")
        thr = float(spec.get("threshold", 0.01))
        # numeric state rows are tagged "ks" whichever numeric test
        # reads them — wasserstein shares KS's histogram state the way
        # psi shares chi2's value counts
        state_test = "ks" if test == "wasserstein" else test
        prev_c = [r for r in prev_rows if r["column_name"] == col and r["test"] == state_test]
        cur_c = [r for r in cur_rows if r["column_name"] == col and r["test"] == state_test]
        if not prev_c:
            continue
        if test == "chi2":
            cur_d = {r["cat"]: r["cnt"] for r in cur_c}
            prev_d = {r["cat"]: r["cnt"] for r in prev_c}
            stat, dof, n, m = _chi2_stat_from_counts(cur_d, prev_d)
            p = mathutil.chi2_pvalue(stat, dof) if n and m else 1.0
            out[col] = DriftResult(col, "chi2", stat, p, p < thr, thr, n, m)
        elif test == "psi":
            # PSI has no p-value: the threshold bounds the INDEX
            # itself (> 0.25 = drifted by convention, the spec's
            # threshold overrides); p_value is NaN by contract
            thr = float(spec.get("threshold", 0.25))
            cur_d = {r["cat"]: r["cnt"] for r in cur_c}
            prev_d = {r["cat"]: r["cnt"] for r in prev_c}
            stat, n, m = _psi_from_counts(
                cur_d, prev_d, eps=float(spec.get("eps", 1e-4))
            )
            out[col] = DriftResult(
                col, "psi", stat, float("nan"), stat > thr, thr, n, m
            )
        elif test == "wasserstein":
            # threshold bounds the normalized index itself (PSI-style
            # contract: no p-value)
            thr = float(spec.get("threshold", 0.1))
            bins = prev_c[0]["bins"] or 256
            prev_h = [0] * bins
            for r in prev_c:
                b = int(r["bucket"])
                if not 0 <= b < bins:
                    raise ValueError(
                        f"stored drift state for column [{col}] has "
                        f"bucket {b} outside bins={bins}; the state "
                        "directory is corrupt — delete it to rebuild"
                    )
                prev_h[b] = r["cnt"]
            cur_h = [0] * bins
            for r in cur_c:
                b = int(r["bucket"])
                if 0 <= b < bins:
                    cur_h[b] = r["cnt"]
            stat, n, m = _w1_from_hists(cur_h, prev_h)
            out[col] = DriftResult(
                col, "wasserstein", stat, float("nan"), stat > thr, thr, n, m
            )
        else:
            bins = prev_c[0]["bins"] or 256
            prev_h = [0] * bins
            for r in prev_c:
                b = int(r["bucket"])
                if not 0 <= b < bins:
                    # a stored state whose bins field disagrees with
                    # its bucket values (hand-edited / legacy state)
                    # must fail loudly, not alias via negative index
                    raise ValueError(
                        f"stored drift state for column [{col}] has "
                        f"bucket {b} outside bins={bins}; the state "
                        "directory is corrupt — delete it to rebuild"
                    )
                prev_h[b] = r["cnt"]
            cur_h = [0] * bins
            for r in cur_c:
                b = int(r["bucket"])
                if 0 <= b < bins:
                    cur_h[b] = r["cnt"]
            d, n, m = _ks_stat_from_hists(cur_h, prev_h)
            p = mathutil.ks_pvalue(d, n, m) if n and m else 1.0
            out[col] = DriftResult(col, "ks", d, p, p < thr, thr, n, m)
    return out


def multi_drift(
    cur: DataFrame,
    prev: DataFrame,
    specs: list[tuple[str, dict]],
    bins_default: int = 256,
    cur_grids: dict[str, tuple[float | None, float | None, int]] | None = None,
) -> dict[str, DriftResult]:
    """Every ``$drift`` column's two-sample test in a CONSTANT number
    of scans — 2 per side (grid aggregation + tagged histogram pass)
    regardless of how many drift rules there are. For an unclipped
    numeric column the shared grid and bucketing are identical to
    :func:`ks_drift`'s, so the statistic is bit-identical; chi2
    matches :func:`chi2_drift`'s canonical-order fold.

    ``cur_grids`` (a precomputed :func:`multi_grid` of ``cur``) lets a
    caller that also persists drift state reuse the current side's
    grid aggregation instead of scanning for it twice."""
    grids = merge_grids(
        cur_grids if cur_grids is not None
        else multi_grid(cur, specs, bins_default),
        multi_grid(prev, specs, bins_default),
    )
    cur_rows = state_frame(cur, specs, grids).collect()
    prev_rows = state_frame(prev, specs, grids).collect()
    return _results_from_states(specs, cur_rows, prev_rows)


def multi_drift_vs_state(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    stored: DataFrame,
) -> dict[str, DriftResult]:
    """Every ``$drift`` column against the STORED state frame in ONE
    scan of the current table: the current side is bucketed on each
    column's stored grid (taken from the state rows), one tagged
    histogram pass covers all columns, and the statistics are
    driver-side over O(bins·columns) numbers. Columns absent from
    the stored state (a ``$drift`` rule added since) are omitted —
    their fresh state is still written by the caller."""
    stored_rows = stored.collect()
    grids = {}
    for r in stored_rows:
        if r["test"] == "ks" and r["column_name"] not in grids:
            grids[r["column_name"]] = (r["lo"], r["hi"], r["bins"] or 256)
    covered = [
        (c, s) for c, s in specs
        if (s.get("test", "ks") in ("chi2", "psi")) or c in grids
    ]
    if not covered:
        return {}
    cur_rows = state_frame(df, covered, grids).collect()
    return _results_from_states(covered, cur_rows, stored_rows)


def ks_drift(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    bins: int = 256,
    threshold: float = 0.01,
    clip: tuple[float, float] | None = None,
) -> DriftResult:
    """Two-sample KS over binned CDFs. ``threshold`` is the p-value
    below which drift is flagged.

    Thin wrapper over the fully-distributed :func:`ks_statistic_df`
    (one union-tagged scan for the range + one for the histogram —
    never a per-side re-scan); only the one-row statistic frame
    crosses to the driver, where the p-value is computed.

    ``clip=(0.01, 0.99)`` bounds the histogram range by quantiles
    instead of min/max — see :func:`ks_statistic_df`."""
    row = ks_statistic_df(cur, prev, col, bins=bins, clip=clip).collect()[0]
    d = float(row.statistic or 0.0)
    n, m = int(row.n_cur or 0), int(row.n_prior or 0)
    p = mathutil.ks_pvalue(d, n, m) if n and m else 1.0
    return DriftResult(col, "ks", d, p, p < threshold, threshold, n, m)


def chi2_drift(
    cur: DataFrame, prev: DataFrame, col: str, threshold: float = 0.01
) -> DriftResult:
    """Chi-square homogeneity test on categorical value counts.

    Thin wrapper over the fully-distributed
    :func:`chi2_statistic_df` (one union-tagged scan, partial
    combine); the driver only computes the p-value from the one-row
    statistic frame."""
    row = chi2_statistic_df(cur, prev, col).collect()[0]
    stat, dof = float(row.statistic or 0.0), int(row.dof or 1)
    n, m = int(row.n_cur or 0), int(row.n_prior or 0)
    p = mathutil.chi2_pvalue(stat, dof) if n and m else 1.0
    return DriftResult(col, "chi2", stat, p, p < threshold, threshold, n, m)


def w1_statistic_df(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    bins: int = 256,
    clip: tuple[float, float] | None = None,
) -> DataFrame:
    """Fully-distributed normalized Wasserstein-1 statistic: one row
    (column, statistic, n_cur, n_prior).

    Same shape as :func:`ks_statistic_df` — union-tagged scan →
    bucketed groupBy → cumulative window over ≤``bins`` rows — except
    the per-bucket CDF gaps are SUMMED instead of maxed (W1 is the
    area between the CDFs; KS is their sup-gap). Buckets with no rows
    contribute the previous bucket's gap; with the clamped-floor
    bucketing every populated bucket's cumulative count persists
    through empty ones only if they appear as rows, so the histogram
    is densified against a ``sequence`` frame first — the sum must
    cover ALL ``bins`` buckets, not just the populated ones (an empty
    bucket between two populated ones still carries CDF area). The
    integer cross-products stay exact (int64 per bucket, sum widened
    to decimal for the ≤bins-term total) and one final division by
    ``n·m·bins`` yields the [0, 1]-normalized statistic — the same
    value :func:`_w1_from_hists` folds driver-side."""
    both = cur.select(F.col(col).cast("double").alias("v"), F.lit(1).alias("is_cur")).unionByName(
        prev.select(F.col(col).cast("double").alias("v"), F.lit(0).alias("is_cur"))
    ).filter(F.col("v").isNotNull())
    if clip is not None:
        qlo, qhi = clip
        mm = both.agg(
            F.percentile_approx("v", F.lit(qlo), F.lit(10000)).alias("lo"),
            F.percentile_approx("v", F.lit(qhi), F.lit(10000)).alias("hi"),
        ).collect()[0]
    else:
        mm = both.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    lo, hi = mm.lo, mm.hi
    width = ((hi - lo) / bins or 1.0) if lo is not None else 1.0
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("v") - F.lit(lo if lo is not None else 0.0)) / F.lit(width))),
    ).alias("bucket")
    hist = both.select(bucket, "is_cur").groupBy("bucket").agg(
        F.sum("is_cur").alias("c_cur"),
        F.sum(1 - F.col("is_cur")).alias("c_prev"),
    )
    # densify: every bucket 0..bins-1 must appear, because an EMPTY
    # bucket between populated ones still carries the running CDF gap
    # into the sum (KS's max doesn't care; W1's sum does)
    grid = cur.sparkSession.range(bins).select(F.col("id").cast("long").alias("bucket"))
    dense = grid.join(hist, "bucket", "left").select(
        "bucket",
        F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        F.coalesce("c_prev", F.lit(0)).alias("c_prev"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cdfs = dense.select(
        "bucket",
        F.sum("c_cur").over(w).alias("cum_cur"),
        F.sum("c_prev").over(w).alias("cum_prev"),
        F.sum("c_cur").over(tot).alias("n_cur"),
        F.sum("c_prev").over(tot).alias("n_prior"),
    )
    num = F.abs(
        F.col("cum_cur") * F.col("n_prior") - F.col("cum_prev") * F.col("n_cur")
    ).cast("decimal(38,0)")
    return cdfs.select(num.alias("num"), "n_cur", "n_prior").groupBy().agg(
        F.first(F.lit(col)).alias("column_name"),
        F.when(
            (F.first("n_cur") > 0) & (F.first("n_prior") > 0),
            F.sum("num").cast("double")
            / (F.first("n_cur") * F.first("n_prior") * F.lit(bins)).cast("double"),
        ).otherwise(F.lit(0.0)).alias("statistic"),
        F.first("n_cur").alias("n_cur"),
        F.first("n_prior").alias("n_prior"),
    )


def wasserstein_drift(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    bins: int = 256,
    threshold: float = 0.1,
    clip: tuple[float, float] | None = None,
) -> DriftResult:
    """Normalized Wasserstein-1 (earth-mover) drift on a numeric
    column — the location-sensitive complement to KS: a uniform small
    shift of the whole distribution moves W1 proportionally to the
    shift while KS saturates on the densest region, and W1 weights
    HOW FAR mass moved, not just that it moved. Like PSI the
    ``threshold`` bounds the statistic itself (normalized to [0, 1]
    by the grid span; > 0.1 ≈ a tenth of the value range's worth of
    transported mass), so there is no p-value (NaN by contract).

    Rule form: ``$drift {test: wasserstein, threshold: 0.1}`` — it
    persists/compares the SAME histogram state as KS (numeric state
    rows are tagged ``ks``), so continuous stored-state runs work
    unchanged and one stored histogram serves both tests."""
    row = w1_statistic_df(cur, prev, col, bins=bins, clip=clip).collect()[0]
    stat = float(row.statistic or 0.0)
    n, m = int(row.n_cur or 0), int(row.n_prior or 0)
    return DriftResult(
        col, "wasserstein", stat, float("nan"), stat > threshold, threshold, n, m
    )


def psi_drift(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    threshold: float = 0.25,
    eps: float = 1e-4,
) -> DriftResult:
    """Population Stability Index on categorical value counts — the
    ML-monitoring standard alongside KS/chi²; unlike them its
    ``threshold`` bounds the INDEX itself (> 0.25 = population shift
    by convention), so there is no p-value (NaN by contract).

    Same distributed shape as :func:`chi2_drift`: one value-count
    aggregation per side (partial combine, the shuffle carries
    O(|categories|) counts), the index folded driver-side in
    canonical category order (:func:`_psi_from_counts` — strict left
    fold, SQL-replayable). Rule form: ``$drift {test: psi,
    threshold: 0.25, eps: 1e-4}`` — it persists/compares the same
    value-count state as chi2, so continuous (stored-state) runs work
    unchanged."""
    cur_d = {
        r["cat"]: r["cnt"]
        for r in cur.groupBy(F.col(col).cast("string").alias("cat"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    prev_d = {
        r["cat"]: r["cnt"]
        for r in prev.groupBy(F.col(col).cast("string").alias("cat"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    stat, n, m = _psi_from_counts(cur_d, prev_d, eps=eps)
    return DriftResult(
        col, "psi", stat, float("nan"), stat > threshold, threshold, n, m
    )


def chi2_vs_expected(
    df: DataFrame,
    col: str,
    expected: dict[str, float],
    alpha: float = 0.05,
    materialize: bool = True,
) -> DataFrame:
    """Chi-square goodness-of-fit against a DECLARED expected
    distribution — the class-balance gate ("labels should be 50/25/25")
    that needs no prior snapshot, completing the drift family's third
    reference point (prev frame, persisted state, declared spec).

    ``expected`` maps category → weight (any positive numbers,
    normalized internally). Rows whose value is NOT a declared
    category (including NULL) are counted as ``n_unexpected`` and
    excluded from the statistic — a goodness-of-fit test is only
    defined over its declared support, and ANY unexpected observation
    already fails the gate (``drifted`` is true on either condition).

    Fully distributed and collect-free: one hash-aggregate of the
    corpus to category counts (map-side partial combine), then
    arithmetic on the categories-sized frame. The counts frame is
    eagerly localCheckpoint-ed (``materialize=True``) so the total and
    the statistic — which both consume it — read the materialized
    categories instead of re-scanning the corpus (same single-scan
    device as ``curate.curation_decisions``; pass ``materialize=False``
    to stay lazy in a plan-inspection context). The verdict compares the
    statistic to a chi-square critical value computed AT COMPILE TIME
    from (k-1, alpha) via the shared :func:`mathutil.chi2_critical`
    bisection, so the returned single row needs no driver round-trip
    and an external SQL engine replays the whole thing with the
    threshold embedded as a literal.

    Output (1 row): col_name, statistic, n, n_unexpected, dof,
    threshold, drifted."""
    if len(expected) < 2:
        raise ValueError("chi2_vs_expected needs >= 2 declared categories")
    for c, w in expected.items():
        if not w > 0:
            raise ValueError(f"expected weight for [{c}] must be > 0, got {w}")
    w_sum = float(sum(expected.values()))
    shares = {c: float(w) / w_sum for c, w in expected.items()}
    dof = len(expected) - 1
    crit = mathutil.chi2_critical(dof, alpha)
    tgt = local_frame(
        df.sparkSession, shares.items(), "cat string, p double"
    )
    counts = (
        df.groupBy(F.col(col).cast("string").alias("cat"))
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    if materialize:
        counts = counts.localCheckpoint(eager=True)
    j = counts.join(tgt, "cat", "full_outer").select(
        F.coalesce(F.col("obs"), F.lit(0)).cast("long").alias("obs"),
        F.col("p"),
    )
    tot = j.agg(
        F.coalesce(
            F.sum(F.when(F.col("p").isNotNull(), F.col("obs"))), F.lit(0)
        ).cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("p").isNull(), F.col("obs"))), F.lit(0)
        ).cast("long").alias("n_unexpected"),
    )
    # (obs - n·p)²/(n·p) spelled as d*d (not pow) so the SQL oracle's
    # multiplication reproduces the identical IEEE result
    d = F.col("obs") - F.col("n") * F.col("p")
    term = F.when(
        F.col("p").isNotNull() & (F.col("n") > 0),
        d * d / (F.col("n") * F.col("p")),
    )
    agg = (
        j.crossJoin(F.broadcast(tot))
        .groupBy("n", "n_unexpected")
        .agg(F.coalesce(F.sum(term), F.lit(0.0)).alias("statistic"))
    )
    return agg.select(
        F.lit(col).alias("col_name"),
        "statistic",
        "n",
        "n_unexpected",
        F.lit(dof).alias("dof"),
        F.lit(crit).alias("threshold"),
        (
            (F.col("statistic") > F.lit(crit))
            | (F.col("n_unexpected") > 0)
        ).alias("drifted"),
    )


def projection_planes(dim: int, planes: int = 4) -> list[list[float]]:
    """md5-derived hyperplanes (``dedup.neardup_planes``) — no RNG
    state, so any engine (or the DuckDB oracle) re-derives the
    identical projection basis from (plane index, component index)."""
    from invalid_spark.pipeline.dedup import neardup_planes

    return neardup_planes(dim, planes)


def project_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    planes: int = 4,
    dim: int | None = None,
    plane_matrix: list[list[float]] | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """ONE JVM-side projection adding ``proj_0..proj_{P-1}`` double
    columns: the raw (double-cast, UN-normalized — magnitude and
    offset drift must stay visible) vector dotted with each plane.

    The dot is the strict left fold (``F.aggregate`` over
    ``zip_with`` products, 0.0 seed) shared with
    ``pipeline.similarity.dot``, so a SQL engine replays every
    projection bit-for-bit via ``list_reduce``. Plane literals are
    fine here the way LSH's are (P ≤ ~20 by construction); the
    thing that must NOT be literals — a production IVF codebook —
    has its own broadcast path in ``similarity.nearest_lists_udf``.

    Pass ``dim`` (or ``plane_matrix``) to keep the build
    action-free; without either, one ``first()`` probes the width.
    NULL vectors project to NULL and fall out of the histogram
    state exactly like NULL scalars in a ``$drift`` column."""
    if plane_matrix is None:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        plane_matrix = projection_planes(dim, planes)
    cols: list = [F.col(c) for c in keep]
    for p, plane in enumerate(plane_matrix):
        cols.append(projection_expr(vec_col, plane).alias(f"proj_{p}"))
    return df.select(*cols)


def projection_expr(vec_col: str, plane: list[float]) -> Column:
    """The strict-left-fold dot of a (double-cast) array column with
    one literal hyperplane — the single Catalyst expression both
    :func:`project_embeddings` and the runner's vector ``$drift``
    expansion project."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pl = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(v, pl, lambda a, b: a * b),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def _proj_specs(planes: int, threshold: float, bins: int) -> list[tuple[str, dict]]:
    return [
        (f"proj_{p}", {"test": "ks", "threshold": threshold, "bins": bins})
        for p in range(planes)
    ]


def embedding_drift(
    cur: DataFrame,
    prev: DataFrame,
    vec_col: str = "embedding",
    planes: int = 4,
    dim: int | None = None,
    plane_matrix: list[list[float]] | None = None,
    bins: int = 256,
    threshold: float = 0.01,
) -> dict[int, DriftResult]:
    """Two-sample distribution drift of an EMBEDDING column — the
    vector sibling of ``$drift`` on a scalar: project both sides onto
    ``planes`` fixed md5-derived hyperplanes (random-projection
    sketching: any mean shift, scale change, or rotation of the
    embedding distribution moves some 1-D projection — Cramér–Wold),
    then run the exact-rational KS test per projection through
    :func:`multi_drift`, so the scan count stays CONSTANT (2 per
    side) no matter how many planes probe the space.

    Returns ``{plane: DriftResult}``; the suite-level verdict is
    conventionally ``any(r.drifted)`` with ``threshold`` pre-divided
    by ``planes`` (Bonferroni) if false positives matter. Every
    number is SQL-replayable: md5 planes + left-fold projection +
    cross-multiplied integer CDF gap."""
    if plane_matrix is None:
        if dim is None:
            dim = len(cur.select(vec_col).first()[0])
        plane_matrix = projection_planes(dim, planes)
    planes = len(plane_matrix)
    specs = _proj_specs(planes, threshold, bins)
    pc = project_embeddings(cur, vec_col, plane_matrix=plane_matrix)
    pp = project_embeddings(prev, vec_col, plane_matrix=plane_matrix)
    res = multi_drift(pc, pp, specs)
    return {int(c.rsplit("_", 1)[1]): r for c, r in res.items()}


def embedding_state(
    df: DataFrame,
    vec_col: str = "embedding",
    planes: int = 4,
    dim: int | None = None,
    plane_matrix: list[list[float]] | None = None,
    bins: int = 256,
) -> DataFrame:
    """Persistable drift state (:data:`STATE_SCHEMA`) of an embedding
    column: the per-plane projection histograms. Same contract as
    :func:`numeric_state` — O(planes·bins) rows, mergeable into the
    runner's drift-state sink, so continuous runs compare tomorrow's
    embeddings against today's WITHOUT rescanning today."""
    if plane_matrix is None:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        plane_matrix = projection_planes(dim, planes)
    specs = _proj_specs(len(plane_matrix), 0.01, bins)
    proj = project_embeddings(df, vec_col, plane_matrix=plane_matrix)
    grids = multi_grid(proj, specs, bins)
    return state_frame(proj, specs, grids)


def embedding_drift_vs_state(
    df: DataFrame,
    stored: DataFrame,
    vec_col: str = "embedding",
    planes: int = 4,
    dim: int | None = None,
    plane_matrix: list[list[float]] | None = None,
    threshold: float = 0.01,
) -> dict[int, DriftResult]:
    """Embedding drift against a STORED :func:`embedding_state` in
    ONE scan of the current table (the stored grid re-buckets the
    current projections — same contract as
    :func:`multi_drift_vs_state`). The plane matrix must match the
    one the state was built with (same ``planes``/``dim`` —
    md5-derived, so equality is by construction, not by luck)."""
    if plane_matrix is None:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        plane_matrix = projection_planes(dim, planes)
    # bins ride in from the STORED grid, not the spec
    specs = _proj_specs(len(plane_matrix), threshold, 256)
    proj = project_embeddings(df, vec_col, plane_matrix=plane_matrix)
    res = multi_drift_vs_state(proj, specs, stored)
    return {int(c.rsplit("_", 1)[1]): r for c, r in res.items()}


def ks_statistic_by_group(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    group_col: str,
    bins: int = 256,
    alpha: float | None = None,
) -> DataFrame:
    """Per-partition KS drift — the "which shard went bad" question a
    whole-table statistic averages away: one row (group, statistic,
    n_cur, n_prior[, drifted]) per value of ``group_col``.

    Fully distributed end to end, the :func:`ks_statistic_df` contract
    grouped: per-group min/max grid (one aggregation, broadcast back),
    one (group, bucket) histogram aggregation with partial combine,
    cumulative windows over the per-group O(bins) histogram — never
    over rows — and the exact-rational cross-product statistic, so
    ANY number of partitions costs three shuffles of sketch-sized
    data and every value replays bit-for-bit in SQL. With ``alpha``
    the verdict is evaluated JVM-side in λ-space against one
    Kolmogorov critical constant (no per-group driver round-trip —
    the ``streaming_ks_windows`` trick)."""
    both = cur.select(
        F.col(group_col).alias("g"),
        F.col(col).cast("double").alias("v"),
        F.lit(1).alias("is_cur"),
    ).unionByName(
        prev.select(
            F.col(group_col).alias("g"),
            F.col(col).cast("double").alias("v"),
            F.lit(0).alias("is_cur"),
        )
    ).filter(F.col("v").isNotNull() & F.col("g").isNotNull())
    grids = both.groupBy("g").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(bins)
    b = both.join(F.broadcast(grids), "g").select(
        "g", "is_cur",
        F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / F.when(width == 0, F.lit(1.0)).otherwise(width)
                ),
            ),
        ).alias("bucket"),
    )
    hist = b.groupBy("g", "bucket").agg(
        F.sum("is_cur").alias("c_cur"),
        F.sum(1 - F.col("is_cur")).alias("c_prev"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdfs = hist.select(
        "g",
        F.sum("c_cur").over(w).alias("cum_cur"),
        F.sum("c_prev").over(w).alias("cum_prev"),
        F.sum("c_cur").over(tot).alias("n_cur"),
        F.sum("c_prev").over(tot).alias("n_prior"),
    )
    num = F.abs(
        F.col("cum_cur") * F.col("n_prior") - F.col("cum_prev") * F.col("n_cur")
    )
    out = cdfs.select(num.alias("num"), "g", "n_cur", "n_prior").groupBy(
        "g"
    ).agg(
        F.when(
            (F.first("n_cur") > 0) & (F.first("n_prior") > 0),
            F.max("num").cast("double")
            / (F.first("n_cur") * F.first("n_prior")).cast("double"),
        ).otherwise(F.lit(0.0)).alias("statistic"),
        F.first("n_cur").alias("n_cur"),
        F.first("n_prior").alias("n_prior"),
    ).select(F.col("g").alias(group_col), "statistic", "n_cur", "n_prior")
    if alpha is not None:
        lam = mathutil.kolmogorov_lambda_critical(alpha)
        nm = F.col("n_cur") * F.col("n_prior")
        out = out.withColumn(
            "drifted",
            (F.col("statistic")
             * F.sqrt(nm.cast("double")
                      / (F.col("n_cur") + F.col("n_prior")).cast("double")))
            > F.lit(lam),
        )
    return out


def chi2_statistic_by_group(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    group_col: str,
) -> DataFrame:
    """Per-partition chi-square homogeneity: one row (group,
    statistic, dof, n_cur, n_prior) per ``group_col`` value — the
    categorical sibling of :func:`ks_statistic_by_group`. Contingency
    counts aggregate per (group, category) with partial combine; the
    per-group statistic folds the category-sorted exact d²/r terms
    with a strict left fold (canonical float order, SQL-replayable)."""
    both = cur.select(
        F.col(group_col).alias("g"),
        F.col(col).cast("string").alias("cat"),
        F.lit(1).alias("is_cur"),
    ).unionByName(
        prev.select(
            F.col(group_col).alias("g"),
            F.col(col).cast("string").alias("cat"),
            F.lit(0).alias("is_cur"),
        )
    ).filter(F.col("g").isNotNull())
    tab = both.groupBy("g", "cat").agg(
        F.sum("is_cur").alias("o1"), F.sum(1 - F.col("is_cur")).alias("o2")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = tab.select(
        "g", "cat", "o1", "o2",
        F.sum("o1").over(tot).alias("n"),
        F.sum("o2").over(tot).alias("m"),
    )
    d = (F.col("o1") * F.col("m") - F.col("o2") * F.col("n")).cast("double")
    r = (F.col("o1") + F.col("o2")).cast("double")
    term = F.when(r > 0, d * d / r).otherwise(F.lit(0.0))
    terms = t.select("g", "cat", term.alias("term"), "n", "m")
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("cat", "term"))),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return terms.groupBy("g").agg(
        F.when(
            (F.first("n") > 0) & (F.first("m") > 0),
            folded
            / (F.first("n").cast("double") * F.first("m").cast("double")),
        ).otherwise(F.lit(0.0)).alias("statistic"),
        F.greatest(F.count(F.lit(1)) - 1, F.lit(1)).alias("dof"),
        F.first("n").alias("n_cur"),
        F.first("m").alias("n_prior"),
    ).select(F.col("g").alias(group_col), "statistic", "dof", "n_cur", "n_prior")
