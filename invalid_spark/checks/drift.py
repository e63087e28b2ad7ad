"""Distribution-drift checks across snapshots (SURVEY.md §2.3).

Every two-sample test runs on one core:

- :func:`multi_grid` — the numeric grids (lo, hi, bins) of all columns
  in one aggregation: min/max, or approximate quantiles under ``clip``;
- :func:`_bucket_expr` — the one bucketing expression, a clamped floor
  on the grid (NULL and NaN values get no bucket, so they stay out of
  the grid, the histogram and ``n``);
- :func:`_hist` — the one histogram builder: a single explode pass
  counts every ``$drift`` column of a table (numeric buckets,
  categorical values as strings); :func:`drift_pass` collects it once
  per runner call, for both the persistable drift state
  (:data:`STATE_SCHEMA`) and the comparison with the stored state;
- :func:`_fold` — KS, W1, χ² and PSI, each written once as a Column
  aggregation over a ``(key, bucket|cat, c_cur, c_prev)`` frame; every
  statistic is an exact-rational or canonical-order fold that any SQL
  engine replays bit for bit.

The per-column, per-group, multi-column and stored-state functions
below are thin front-ends over that core. Only one row per key
crosses to the driver, where p-values come from
:mod:`invalid_spark.mathutil` (no scipy).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from invalid_spark import mathutil
from invalid_spark.checks.stats import Layer, one_pass
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


STATE_SCHEMA = (
    "column_name string, test string, bucket long, cat string, cnt long, "
    "lo double, hi double, bins int, n long"
)

# categorical tests count values; the numeric tests share the KS
# histogram (their state rows are tagged "ks")
_CATEGORICAL = ("chi2", "psi")
# ks/chi2 thresholds bound the p-value; psi/wasserstein bound the index
_THRESHOLD = {"ks": 0.01, "chi2": 0.01, "psi": 0.25, "wasserstein": 0.1}
_KEYS = ["column_name", "test", "bucket", "cat"]


def _num(c: Column) -> Column:
    """A numeric drift value as double, with NaN read as NULL."""
    return F.nanvl(c.cast("double"), F.lit(None).cast("double"))


def _bucket_expr(c: Column, lo, hi, bins: int) -> Column:
    """The clamped-floor bucket of ``c`` on the grid (lo, hi, bins).

    ``lo``/``hi`` are literals (a collected or stored grid) or Columns
    (a per-group grid joined in). Values outside the grid clamp into
    the edge buckets; a zero-width grid reads as width 1; NULL and NaN
    values get a NULL bucket."""
    lo, hi = (x if isinstance(x, Column) else F.lit(x) for x in (lo, hi))
    w = (hi - lo) / F.lit(bins)
    width = F.when(w == 0, F.lit(1.0)).otherwise(w)
    v = _num(c)
    # the guard matters: least/greatest skip NULL operands
    return F.when(
        v.isNotNull(),
        F.least(F.lit(bins - 1), F.greatest(F.lit(0), F.floor((v - lo) / width))),
    ).cast("long")


def _grid_aggs(specs: list[tuple[str, dict]]) -> list[Column]:
    """``lo_i``/``hi_i`` aggregate expressions for numeric ``specs``.
    Their min/max exclude NaN (``$assert max`` does not), so they are
    not :func:`~invalid_spark.checks.stats.metric_expr`'s."""
    aggs = []
    for i, (col, spec) in enumerate(specs):
        v = _num(F.col(col))
        clip = spec.get("clip")
        if clip is None:
            lo, hi = F.min(v), F.max(v)
        else:
            lo, hi = (
                F.percentile_approx(v, F.lit(float(q)), F.lit(10000))
                for q in clip
            )
        aggs += [lo.alias(f"lo_{i}"), hi.alias(f"hi_{i}")]
    return aggs


def grid_layer(specs: list[tuple[str, dict]], bins_default: int = 256) -> Layer:
    """The grid aggregation of :func:`multi_grid` as a layer (see
    :func:`~invalid_spark.checks.stats.one_pass`)."""
    num = [(c, s) for c, s in specs if s.get("test", "ks") not in _CATEGORICAL]

    def finish(row: Row) -> dict[str, tuple[float | None, float | None, int]]:
        return {
            col: (row[f"lo_{i}"], row[f"hi_{i}"], int(spec.get("bins", bins_default)))
            for i, (col, spec) in enumerate(num)
        }

    return _grid_aggs(num), finish


def multi_grid(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    bins_default: int = 256,
) -> dict[str, tuple[float | None, float | None, int]]:
    """Histogram grids for EVERY numeric ``$drift`` column in ONE
    aggregation pass (:func:`grid_layer`): ``{col: (lo, hi, bins)}``.

    Per-spec ``clip: [qlo, qhi]`` switches that column's range from
    min/max to approximate quantiles: outliers (exactly what a
    validation run encounters) otherwise stretch the histogram until
    every real value lands in one bucket, while the clamped edge
    buckets still catch the clipped tails. Clipped and unclipped
    columns share the single scan because ``percentile_approx`` and
    ``min``/``max`` are both plain aggregate expressions."""
    return one_pass(df, [grid_layer(specs, bins_default)])[0]


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


_SIDE = "__is_cur"  # the 0/1 side tag of a _tagged frame


def _tagged(
    specs: list[tuple[str, dict]],
    cur: DataFrame,
    prev: DataFrame | None = None,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """The ``$drift`` columns of ``cur`` (tag 1) and ``prev`` (tag 0)
    as one frame, so one scan of each side feeds one histogram
    aggregation for both."""
    cols = [*by, *dict.fromkeys(c for c, _ in specs)]
    out = cur.select(*cols, F.lit(1).alias(_SIDE))
    if prev is not None:
        out = out.unionByName(prev.select(*cols, F.lit(0).alias(_SIDE)))
    return out


def _entry(col: str, test: str, bucket: Column | None, cat: Column | None,
           grid: str | None = None) -> Column:
    """One tagged histogram entry of a row (see :func:`_hist`)."""
    return F.struct(
        F.lit(grid).cast("string").alias("grid"),
        F.lit(col).alias("column_name"),
        F.lit(test).alias("test"),
        (F.lit(None).cast("long") if bucket is None else bucket).alias("bucket"),
        (F.lit(None).cast("string") if cat is None else cat).alias("cat"),
    )


def _hist(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    grids: dict[str, tuple],
    by: tuple[str, ...] = (),
    stored: dict[str, tuple] | None = None,
) -> DataFrame:
    """``(*by, grid, column_name, test, bucket, cat, c_cur, c_prev)`` of
    a :func:`_tagged` frame for ALL ``$drift`` columns in ONE scan: a
    single projection emits tagged structs per drift column per row,
    explodes, and one hash aggregation counts — so the scan/shuffle
    count is independent of how many ``$drift`` rules the suite
    declares. Partial combine applies: the shuffle carries (column,
    bucket) group counts, never rows. Numeric NULL/NaN values are
    excluded; a NULL *category* is a real category and stays.
    Categories compare as their STRING spellings, so numeric category
    columns fold in one canonical order everywhere.

    A numeric column is bucketed on its grid in ``grids`` (``grid``
    NULL) and, when ``stored`` holds it, once more on that grid
    (``grid`` "stored"); a numeric column in neither is not counted. A
    categorical column is counted once (``grid`` NULL): its value
    counts serve either grid."""
    structs = []
    for col, spec in specs:
        test = spec.get("test", "ks")
        if test in _CATEGORICAL:
            structs.append(_entry(col, test, None, F.col(col).cast("string")))
            continue
        for grid, g in ((None, grids), ("stored", stored or {})):
            if col in g:
                structs.append(
                    _entry(col, "ks", _bucket_expr(F.col(col), *g[col]), None, grid)
                )
    return (
        df.select(*by, _SIDE, F.explode(F.array(*structs)).alias("t"))
        .select(*by, _SIDE, "t.*")
        .filter(~((F.col("test") == "ks") & F.col("bucket").isNull()))
        .groupBy(*by, "grid", *_KEYS)
        .agg(F.sum(_SIDE).alias("c_cur"), F.sum(1 - F.col(_SIDE)).alias("c_prev"))
    )


def _by_column(values: dict[str, object], default: object = None) -> Column:
    """A per-column constant on a frame keyed by ``column_name``."""
    out = F.lit(default)
    for col, val in values.items():
        out = F.when(F.col("column_name") == col, F.lit(val)).otherwise(out)
    return out


def _stored_grids(stored: list) -> dict[str, tuple]:
    """Each numeric column's (lo, hi, bins) grid from stored state rows.
    A stored bucket outside its grid (hand-edited or legacy state)
    raises ``ValueError``."""
    grids: dict[str, tuple] = {}
    for r in stored:
        if r["test"] != "ks":
            continue
        col = r["column_name"]
        bins = grids.setdefault(col, (r["lo"], r["hi"], r["bins"] or 256))[2]
        if not 0 <= r["bucket"] < bins:
            raise ValueError(
                f"stored drift state for column [{col}] has bucket "
                f"{r['bucket']} outside bins={bins}; the state directory "
                "is corrupt — delete it to rebuild"
            )
    return grids


def drift_pass(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    grids: dict[str, tuple[float | None, float | None, int]],
    stored: list | None = None,
) -> tuple[dict[str, DriftResult], list[tuple]]:
    """Every ``$drift`` column of ``df`` in ONE collected histogram pass
    (:func:`_hist`): ``(results vs the stored state, new state rows)``.

    The new state (:data:`STATE_SCHEMA` tuples) buckets each numeric
    column on its fresh grid in ``grids`` (from :func:`grid_layer`),
    decorated with the grid and the column's total ``n``. With
    ``stored`` (state rows of an earlier run, as dicts or Rows) the
    same pass buckets each numeric column on its stored grid too, and
    :func:`_fold` compares those counts, merged with the stored ones on
    the driver, as a local frame. Columns absent from the stored state
    (a ``$drift`` rule added since) are omitted from the results. The
    collected pass holds O(2·bins·columns) rows regardless of table
    size."""
    stored_grids = _stored_grids(stored or [])
    counted = [
        (c, s) for c, s in specs
        if s.get("test", "ks") in _CATEGORICAL or c in grids or c in stored_grids
    ]
    if not counted:
        return {}, []
    rows = _hist(_tagged(counted, df), counted, grids, stored=stored_grids).collect()
    fresh = [r for r in rows if r["grid"] is None]
    n: dict[str, int] = {}
    for r in fresh:
        n[r["column_name"]] = n.get(r["column_name"], 0) + r["c_cur"]
    state = [
        (*(r[k] for k in _KEYS), r["c_cur"],
         *grids.get(r["column_name"], (None,) * 3), n[r["column_name"]])
        for r in fresh
    ]
    covered = [
        (c, s) for c, s in counted
        if stored is not None
        and (s.get("test", "ks") in _CATEGORICAL or c in stored_grids)
    ]
    if not covered:
        return {}, state
    names = {c for c, _ in covered}
    pairs: dict[tuple, list[int]] = {}
    for side, cnt, part in ((0, "c_cur", rows), (1, "cnt", stored)):
        for r in part:
            # the current side's comparison counts: a stored-grid bucket
            # or a category
            if r["column_name"] in names and (side or r["grid"] or r["test"] != "ks"):
                pairs.setdefault(tuple(r[k] for k in _KEYS), [0, 0])[side] += r[cnt]
    # one partition: SinglePartition meets the fold's window and
    # aggregate clustering, so the fold of these driver-held counts
    # plans no exchange and runs as one job
    frame = local_frame(
        df.sparkSession,
        [(*k, c, p) for k, (c, p) in pairs.items()],
        "column_name string, test string, bucket long, cat string, "
        "c_cur long, c_prev long",
    ).coalesce(1)
    return _results(covered, stored_grids, frame), state


def state_frame(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    grids: dict[str, tuple[float | None, float | None, int]],
) -> DataFrame:
    """Drift state (:data:`STATE_SCHEMA`) for ALL ``$drift`` columns
    of ``df`` on ``grids`` (a :func:`multi_grid`), from one
    :func:`drift_pass`, as a local frame. O(bins·columns) rows
    regardless of table size — continuous validation stores this per
    run instead of re-scanning the prior snapshot."""
    return local_frame(df.sparkSession, drift_pass(df, specs, grids)[1], STATE_SCHEMA)


def _left_fold(term: Column) -> Column:
    """Σ ``term`` as a strict left fold in canonical category order
    (NULL first, then ascending — ``F.aggregate`` ≙ DuckDB
    ``list_reduce``), so float accumulation order is the same in any
    engine. The list is histogram-sized; it never holds rows."""
    return F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("cat", term.alias("term")))),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def _fold(
    pairs: DataFrame,
    keys: list[str],
    tests: set[str],
    bins: Column | None = None,
    eps: Column | None = None,
) -> DataFrame:
    """The two-sample statistics named in ``tests`` (ks, wasserstein,
    chi2, psi), each written once here: one row per key of
    ``(*keys, *tests, dof, n_cur, n_prior)`` from a
    ``(*keys, bucket|cat, c_cur, c_prev)`` frame (``keys=[]`` folds
    the whole frame into exactly one row). ``bins`` (the W1
    normalizer) and ``eps`` (the PSI floor) are per-key constants.

    - KS: ``D = max|cdf_cur − cdf_prev| = max_b gap_b / (n·m)`` with
      ``gap_b = |cum_cur(b)·m − cum_prev(b)·n|``. The cross-products
      stay in int64 (exact up to ~3e9 rows per side), the max is
      order-independent, and the single final division makes the value
      bit-identical in any SQL engine.
    - W1 (normalized earth-mover): the area between the binned CDFs,
      ``Σ_b gap_b·(next_b − b) / (n·m·bins)`` over the populated
      buckets — an empty bucket carries the previous bucket's gap,
      which the step to the next populated bucket counts, so no dense
      ``range(bins)`` frame is needed. The sum is exact
      (``decimal(38,0)``) before the one division; the result lands in
      [0, 1] and is comparable across columns.
    - χ² homogeneity: with ``d = o1·m − o2·n`` and ``r = o1 + o2`` the
      textbook (o−e)²/e terms collapse to ``d²/r``, statistic
      ``Σ d²/r / (n·m)``; ``dof = max(categories − 1, 1)``.
    - PSI: ``Σ (p − q)·ln(p/q)`` over proportions floored at ``eps``
      (without the floor a single new category makes the index
      infinite).

    χ² and PSI sum by :func:`_left_fold`. A side with no rows gives
    KS/W1/χ² = 0. Only the requested statistics are built: plan
    construction, not execution, dominates a fold this small."""
    part = Window.partitionBy(*keys)
    tot_cur, tot_prev = F.sum("c_cur").over(part), F.sum("c_prev").over(part)
    cols = [*keys, "cat", "c_cur", "c_prev", tot_cur.alias("n"), tot_prev.alias("m")]
    ordered = part.orderBy("bucket")
    upto = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if tests & {"ks", "wasserstein"}:
        cols.append(F.abs(F.sum("c_cur").over(upto) * tot_prev
                          - F.sum("c_prev").over(upto) * tot_cur).alias("gap"))
    if "wasserstein" in tests:
        step = F.lead("bucket").over(ordered) - F.col("bucket")
        cols += [F.coalesce(step, F.lit(0)).alias("step"), bins.alias("bins")]
    if "psi" in tests:
        cols.append(eps.alias("eps"))
    t = pairs.select(*cols)

    n, m = F.first("n"), F.first("m")

    def both_sides(stat: Column) -> Column:
        return F.when((n > 0) & (m > 0), stat).otherwise(F.lit(0.0))

    c_cur, c_prev = F.col("c_cur"), F.col("c_prev")
    stats = {}
    if "ks" in tests:
        stats["ks"] = both_sides(F.max("gap").cast("double") / (n * m).cast("double"))
    if "wasserstein" in tests:
        area = F.sum(F.col("gap").cast("decimal(38,0)") * F.col("step"))
        stats["wasserstein"] = both_sides(
            area.cast("double") / (n * m * F.first("bins")).cast("double")
        )
    if "chi2" in tests:
        d = (c_cur * F.col("m") - c_prev * F.col("n")).cast("double")
        r = (c_cur + c_prev).cast("double")
        stats["chi2"] = both_sides(
            _left_fold(F.when(r > 0, d * d / r).otherwise(F.lit(0.0)))
            / (n.cast("double") * m.cast("double"))
        )
    if "psi" in tests:
        p, q = (
            F.when(F.col(tot) > 0, F.greatest(c / F.col(tot), F.col("eps")))
            .otherwise(F.col("eps"))
            for c, tot in ((c_cur, "n"), (c_prev, "m"))
        )
        stats["psi"] = _left_fold((p - q) * F.log(p / q))
    return t.groupBy(*keys).agg(
        *[v.alias(k) for k, v in stats.items()],
        F.greatest(F.count(F.lit(1)) - 1, F.lit(1)).alias("dof"),
        n.alias("n_cur"),
        m.alias("n_prior"),
    )


def _result(col: str, test: str, threshold: float, stat, row) -> DriftResult:
    """A DriftResult from a statistic and its :func:`_fold` row (dof,
    n_cur, n_prior). KS and χ² flag on their p-value; PSI and W1 have
    no p-value (NaN by contract) and flag when the index itself
    exceeds ``threshold``."""
    stat = float(stat or 0.0)
    n, m = int(row["n_cur"] or 0), int(row["n_prior"] or 0)
    if test in ("psi", "wasserstein"):
        return DriftResult(col, test, stat, math.nan, stat > threshold, threshold, n, m)
    if not (n and m):
        p = 1.0
    elif test == "ks":
        p = mathutil.ks_pvalue(stat, n, m)
    else:
        p = mathutil.chi2_pvalue(stat, int(row["dof"]))
    return DriftResult(col, test, stat, p, p < threshold, threshold, n, m)


def _results(
    specs: list[tuple[str, dict]], grids: dict[str, tuple], pairs: DataFrame
) -> dict[str, DriftResult]:
    """Per-column DriftResults from a multi-column pair frame in ONE
    job. Columns with no prior-side rows are omitted (nothing to
    compare yet)."""
    bins = _by_column({c: g[2] for c, g in grids.items()})
    eps = _by_column({c: float(s.get("eps", 1e-4)) for c, s in specs}, 1e-4)
    tests = {s.get("test", "ks") for _, s in specs}
    rows = {
        (r["column_name"], r["test"]): r
        for r in _fold(pairs, ["column_name", "test"], tests, bins, eps).collect()
    }
    out: dict[str, DriftResult] = {}
    for col, spec in specs:
        test = spec.get("test", "ks")
        row = rows.get((col, test if test in _CATEGORICAL else "ks"))
        if row is not None and row["n_prior"]:
            thr = float(spec.get("threshold", _THRESHOLD[test]))
            out[col] = _result(col, test, thr, row[test], row)
    return out


def multi_drift(
    cur: DataFrame,
    prev: DataFrame,
    specs: list[tuple[str, dict]],
    bins_default: int = 256,
    cur_grids: dict[str, tuple[float | None, float | None, int]] | None = None,
) -> dict[str, DriftResult]:
    """Every ``$drift`` column's two-sample test in a CONSTANT number
    of jobs — one grid aggregation per side and one histogram + fold
    job — regardless of how many drift rules there are. For an
    unclipped numeric column the shared grid is the union min/max, so
    the statistic is bit-identical to :func:`ks_drift`'s; chi2 matches
    :func:`chi2_drift`'s canonical-order fold.

    ``cur_grids`` (a precomputed :func:`multi_grid` of ``cur``) lets a
    caller that also persists drift state reuse the current side's
    grid aggregation instead of scanning for it twice."""
    grids = merge_grids(
        cur_grids if cur_grids is not None
        else multi_grid(cur, specs, bins_default),
        multi_grid(prev, specs, bins_default),
    )
    return _results(specs, grids, _hist(_tagged(specs, cur, prev), specs, grids))


def multi_drift_vs_state(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    stored: DataFrame,
) -> dict[str, DriftResult]:
    """Every ``$drift`` column against the STORED state frame in ONE
    scan of the current table: the current side is bucketed on each
    column's stored grid (taken from the state rows), and
    :func:`drift_pass` folds it against the stored counts. Columns
    absent from the stored state (a ``$drift`` rule added since) are
    omitted. A stored bucket outside its grid (hand-edited or legacy
    state) raises ``ValueError``."""
    return drift_pass(df, specs, {}, stored.collect())[0]


def _column_fold(
    cur: DataFrame, prev: DataFrame, col: str, spec: dict, eps: float = 1e-4
) -> DataFrame:
    """One column's statistic ``spec["test"]`` as the one-row frame
    (column_name, statistic, dof, n_cur, n_prior). A numeric grid
    covers the union of both sides (``clip`` takes the union's
    quantiles)."""
    specs = [(col, spec)]
    both = _tagged(specs, cur, prev)
    pairs = _hist(both, specs, multi_grid(both, specs))
    test = spec["test"]
    return _fold(pairs, [], {test}, F.lit(spec.get("bins")), F.lit(eps)).select(
        F.lit(col).alias("column_name"), F.col(test).alias("statistic"),
        "dof", "n_cur", "n_prior",
    )


def _drift(
    cur: DataFrame, prev: DataFrame, col: str, spec: dict,
    threshold: float, eps: float = 1e-4,
) -> DriftResult:
    """One column's two-sample test as a DriftResult."""
    row = _column_fold(cur, prev, col, spec, eps).first()
    return _result(col, spec["test"], threshold, row["statistic"], row)


def ks_statistic_df(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    bins: int = 256,
    clip: tuple[float, float] | None = None,
) -> DataFrame:
    """Fully-distributed KS statistic: one row
    (column_name, statistic, n_cur, n_prior). ``clip=(qlo, qhi)``
    bounds the histogram range by quantiles instead of min/max."""
    return _column_fold(
        cur, prev, col, {"test": "ks", "bins": bins, "clip": clip}
    ).drop("dof")


def w1_statistic_df(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    bins: int = 256,
    clip: tuple[float, float] | None = None,
) -> DataFrame:
    """Fully-distributed normalized Wasserstein-1 statistic: one row
    (column_name, statistic, n_cur, n_prior) — the same histogram as
    :func:`ks_statistic_df`, with the CDF gaps summed instead of
    maxed."""
    return _column_fold(
        cur, prev, col, {"test": "wasserstein", "bins": bins, "clip": clip}
    ).drop("dof")


def chi2_statistic_df(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
) -> DataFrame:
    """Fully-distributed chi-square homogeneity statistic: one row
    (column_name, statistic, dof, n_cur, n_prior)."""
    return _column_fold(cur, prev, col, {"test": "chi2"})


def ks_drift(
    cur: DataFrame,
    prev: DataFrame,
    col: str,
    bins: int = 256,
    threshold: float = 0.01,
    clip: tuple[float, float] | None = None,
) -> DriftResult:
    """Two-sample KS over binned CDFs. ``threshold`` is the p-value
    below which drift is flagged; ``clip`` as in
    :func:`ks_statistic_df`."""
    return _drift(cur, prev, col, {"test": "ks", "bins": bins, "clip": clip},
                  threshold)


def chi2_drift(
    cur: DataFrame, prev: DataFrame, col: str, threshold: float = 0.01
) -> DriftResult:
    """Chi-square homogeneity test on categorical value counts."""
    return _drift(cur, prev, col, {"test": "chi2"}, threshold)


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
    return _drift(
        cur, prev, col, {"test": "wasserstein", "bins": bins, "clip": clip},
        threshold,
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
    ``threshold`` bounds the INDEX itself (< 0.1 stable, 0.1–0.25
    moderate shift, > 0.25 drifted by convention), so there is no
    p-value (NaN by contract). Rule form: ``$drift {test: psi,
    threshold: 0.25, eps: 1e-4}`` — it persists/compares the same
    value-count state as chi2, so continuous (stored-state) runs work
    unchanged."""
    return _drift(cur, prev, col, {"test": "psi"}, threshold, eps)


def chi2_vs_expected(
    df: DataFrame,
    col: str,
    expected: dict[str, float],
    alpha: float = 0.05,
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
    eagerly localCheckpoint-ed so the total and the statistic — which
    both consume it — read the materialized categories instead of
    re-scanning the corpus (same single-scan device as
    ``curate.curation_decisions``). The verdict compares the
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
        .localCheckpoint(eager=True)
    )
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
    :func:`state_frame` — O(planes·bins) rows, mergeable into the
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


def _group_fold(
    cur: DataFrame, prev: DataFrame, col: str, group_col: str, spec: dict
) -> DataFrame:
    """Statistic ``spec["test"]`` of every non-NULL ``group_col``
    value: (group_col, statistic, dof, n_cur, n_prior). A numeric
    column is bucketed on its group's own min/max grid (one
    aggregation, broadcast back)."""
    specs, test = [("v", spec)], spec["test"]
    both = _tagged(
        specs,
        *(d.select(F.col(group_col).alias("g"), F.col(col).alias("v"))
          for d in (cur, prev)),
        by=("g",),
    ).filter(F.col("g").isNotNull())
    grids: dict[str, tuple] = {}
    if test not in _CATEGORICAL:
        grid = both.groupBy("g").agg(*_grid_aggs(specs))
        both = both.join(F.broadcast(grid), "g")
        grids["v"] = (F.col("lo_0"), F.col("hi_0"), spec["bins"])
    pairs = _hist(both, specs, grids, by=("g",))
    return _fold(pairs, ["g"], {test}).select(
        F.col("g").alias(group_col), F.col(test).alias("statistic"),
        "dof", "n_cur", "n_prior",
    )


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
    and the exact-rational fold per group — never over rows — so ANY
    number of partitions costs a few shuffles of sketch-sized data
    and every value replays bit-for-bit in SQL. With ``alpha`` the
    verdict is evaluated JVM-side in λ-space against one Kolmogorov
    critical constant (no per-group driver round-trip — the
    ``streaming_ks_windows`` trick)."""
    out = _group_fold(
        cur, prev, col, group_col, {"test": "ks", "bins": bins}
    ).drop("dof")
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
    categorical sibling of :func:`ks_statistic_by_group`."""
    return _group_fold(cur, prev, col, group_col, {"test": "chi2"})
