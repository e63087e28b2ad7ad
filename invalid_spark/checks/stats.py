"""Per-column statistics stage (SURVEY.md §2.3).

Every column metric is written once, as the aggregate expression
:func:`metric_expr` returns. A table-level check is a *layer*: its
aggregate columns plus a driver-side finish over the collected row,
so the runner's ``$assert``, ``$anomaly`` and ``$drift`` grid layers
share ONE partial+final aggregation over one column-pruned scan
(:func:`one_pass`), never a pass per column or per layer.
:func:`column_profile` adds the sketches: ``approx_count_distinct``
(HyperLogLog++) and ``percentile_approx``, each with an exact option
for oracle parity at small scale.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from invalid_spark.model import as_violations, local_frame

# a layer: aggregate columns, and the finish that reads their row
Layer = tuple[list[Column], Callable[[Row], object]]

METRICS = ("row_count", "null_rate", "min", "max", "mean", "stddev", "ndv")
# metrics over the column's values as numbers: the rule compiler
# rejects them on a non-numeric column
NUMERIC_METRICS = frozenset({"min", "max", "mean", "stddev"})


def metric_expr(col: str, metric: str) -> Column:
    """The aggregate expression of one column metric, as double.

    NULL is absent; NaN is a value, and Spark orders it above every
    number. So ``null_rate`` counts NaN as present, ``ndv`` counts
    every NaN as one value, ``max`` and ``mean`` are NaN when a NaN is
    present, ``min`` skips NaN unless every value is NaN, and
    ``stddev`` (sample) is NaN when a NaN is among two or more values.
    On no rows, or only NULLs, every metric but ``row_count`` and
    ``ndv`` is NULL (``null_rate`` is 1.0 on all-NULL rows)."""
    if metric == "row_count":
        return F.count(F.lit(1)).cast("double")
    c = F.col(col)
    if metric == "null_rate":
        return (
            F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        )
    if metric == "min":
        return F.min(c).cast("double")
    if metric == "max":
        return F.max(c).cast("double")
    if metric == "mean":
        return F.sum(c.cast("double")) / F.count(c).cast("double")
    if metric == "stddev":
        return F.stddev_samp(c.cast("double"))
    if metric == "ndv":
        # exact: any SQL engine replays it, and a metric history of it
        # does not jitter run over run as a sketch would
        return F.count_distinct(c).cast("double")
    raise ValueError(f"unknown metric [{metric}] (choose from {METRICS})")


def one_pass(df: DataFrame, layers: list[Layer]) -> list:
    """Every layer's aggregate columns in ONE ``agg().collect()`` over
    ``df``; returns each layer's finish of the collected row, in
    order. Layers with no columns add no job."""
    aggs = [a for cols, _ in layers for a in cols]
    row = df.agg(*aggs).collect()[0] if aggs else None
    return [finish(row) for _, finish in layers]


def column_profile(
    df: DataFrame,
    specs: list[tuple[str, list[str]]],
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    exact: bool = False,
    run_id: str = "",
) -> DataFrame:
    """One row per (column, stat): ``(column, stat, value, n_rows,
    run_id)``.

    ``specs`` is [(column, [stat, ...])] with stats drawn from
    {null_rate, min, max, ndv, quantiles}. Single-pass, single agg.
    """
    keys, aggs = [], [metric_expr("*", "row_count").alias("__n")]
    for col, stats in specs:
        c = F.col(col)
        exprs = [(s, metric_expr(col, s)) for s in ("null_rate", "min", "max")
                 if s in stats]
        if "ndv" in stats:
            exprs.append(("ndv", metric_expr(col, "ndv") if exact
                          else F.approx_count_distinct(c, 0.02).cast("double")))
        if "quantiles" in stats:
            for q in quantiles:
                expr = (
                    F.percentile(c, F.lit(q))
                    if exact
                    else F.percentile_approx(c, F.lit(q), F.lit(10000))
                )
                exprs.append((f"q{q}", expr.cast("double")))
        for stat, expr in exprs:
            aggs.append(expr.alias(f"p_{len(keys)}"))
            keys.append((col, stat))
    row = df.agg(*aggs).collect()[0]
    return local_frame(
        df.sparkSession,
        [(c, s, row[f"p_{i}"], int(row["__n"]), run_id)
         for i, (c, s) in enumerate(keys)],
        "column string, stat string, value double, n_rows long, run_id string",
    )


ASSERT_STATS = ("null_rate", "min", "max", "mean", "ndv")

ASSERTION_SCHEMA = (
    "col_name string, stat string, value double, bound_min double, "
    "bound_max double, passed boolean, run_id string"
)


def within(v: float | None, lo, hi) -> bool:
    """The ``$assert`` and ``$anomaly`` bound verdict: ``v`` is not
    NULL and inside the bounds ``lo``/``hi`` (each optional)."""
    return v is not None and (lo is None or v >= float(lo)) and (
        hi is None or v <= float(hi)
    )


def assertion_layer(specs: list[dict], run_id: str = "") -> Layer:
    """The ``$assert`` layer: one :func:`metric_expr` column per spec,
    and a finish giving :func:`stat_assertion_rows`' rows."""
    for spec in specs:
        if spec["stat"] not in ASSERT_STATS:
            raise ValueError(
                f"unknown assertion stat [{spec['stat']}] (choose from "
                f"{ASSERT_STATS})"
            )
    aggs = [
        metric_expr(spec["col"], spec["stat"]).alias(f"a_{i}")
        for i, spec in enumerate(specs)
    ]

    def finish(row: Row) -> list[tuple]:
        out = []
        for i, spec in enumerate(specs):
            v, lo, hi = row[f"a_{i}"], spec.get("min"), spec.get("max")
            out.append((
                spec["col"], spec["stat"], v,
                float(lo) if lo is not None else None,
                float(hi) if hi is not None else None,
                within(v, lo, hi), run_id,
            ))
        return out

    return aggs, finish


def stat_assertion_rows(
    df: DataFrame,
    specs: list[dict],
    run_id: str = "",
) -> list[tuple]:
    """Deequ-style table-level constraint verification: each spec is
    ``{"col": c, "stat": s, "min": lo?, "max": hi?}`` with ``stat`` in
    {null_rate, min, max, mean, ndv}; one driver-side row per
    assertion, in :data:`ASSERTION_SCHEMA` order — (col_name, stat,
    value, bound_min, bound_max, passed, run_id) — so a suite can gate
    a snapshot on corpus-level properties ("null rate under 1%", "mean
    in range") the way per-row rules gate individual records.

    ALL assertions evaluate in ONE partial+final aggregation over a
    single column-pruned scan (:func:`assertion_layer` through
    :func:`one_pass`); ndv is exact (count distinct) so any SQL
    engine reproduces the values bit-for-bit."""
    return one_pass(df, [assertion_layer(specs, run_id)])[0]


def stat_assertions(
    df: DataFrame,
    specs: list[dict],
    run_id: str = "",
) -> DataFrame:
    """:func:`stat_assertion_rows` as a frame over
    :data:`ASSERTION_SCHEMA`."""
    return local_frame(
        df.sparkSession, stat_assertion_rows(df, specs, run_id),
        ASSERTION_SCHEMA,
    )


# ---------------------------------------------------------------------------
# information-theoretic profile stats (deequ's Entropy / MutualInformation /
# Correlation analyzers, re-expressed as single-scan Spark aggregations)


def column_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (nats) of each column's value distribution —
    ALL requested columns in ONE scan: a tagged (column, category)
    explode feeds one hash aggregation (partial combine applies; the
    shuffle carries O(Σ ndv) counts, never rows), then each column's
    ``−Σ p·ln p`` folds over its category-sorted count list
    (``F.aggregate`` strict left fold, so float accumulation order is
    canonical and any SQL engine replays the value bit-for-bit).
    NULL is a real category, consistent with the categorical drift
    state. One row per column: (column_name, entropy, ndv, n_rows)."""
    from pyspark.sql import Window

    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(c).cast("string").alias("cat"),
        )
        for c in cols
    ]
    counts = (
        df.select(F.explode(F.array(*structs)).alias("t"))
        .select("t.*")
        .groupBy("column_name", "cat")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_col = Window.partitionBy("column_name").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # p·ln p per category: one exact int64/int64 division to double,
    # then ln — both deterministic; the fold below fixes the sum order
    t = counts.select(
        "column_name", "cat", "cnt",
        F.sum("cnt").over(per_col).alias("n"),
    )
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    terms = t.select(
        "column_name", "cat", (p * F.log(p)).alias("term"), "n"
    )
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("cat", "term"))),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return terms.groupBy("column_name").agg(
        (-folded).alias("entropy"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
        F.first("n").cast("long").alias("n_rows"),
    )


def pearson_corr(
    df: DataFrame, pairs: list[tuple[str, str]]
) -> DataFrame:
    """Pearson correlation for every requested column pair in ONE
    aggregation pass (deequ's Correlation analyzer): the five moment
    sums per pair (Σx, Σy, Σxy, Σx², Σy² over rows where BOTH sides
    are non-null) are plain aggregate expressions sharing a single
    column-pruned scan, and the closed-form

        r = (n·Σxy − Σx·Σy) / √(n·Σx² − (Σx)²) / √(n·Σy² − (Σy)²)

    is computed from the one collected moment row — the same formula
    an oracle replays from its own sums. Degenerate pairs (either
    side constant, or < 2 complete rows) yield NULL."""
    aggs = []
    for i, (cx, cy) in enumerate(pairs):
        x = F.col(cx).cast("double")
        y = F.col(cy).cast("double")
        both = x.isNotNull() & y.isNotNull()
        xb = F.when(both, x)
        yb = F.when(both, y)
        aggs += [
            F.count(xb).alias(f"n_{i}"),
            F.sum(xb).alias(f"sx_{i}"),
            F.sum(yb).alias(f"sy_{i}"),
            F.sum(xb * yb).alias(f"sxy_{i}"),
            F.sum(xb * xb).alias(f"sxx_{i}"),
            F.sum(yb * yb).alias(f"syy_{i}"),
        ]
    row = df.agg(*aggs).collect()[0]
    out = []
    for i, (cx, cy) in enumerate(pairs):
        n = int(row[f"n_{i}"] or 0)
        corr = None
        if n >= 2:
            sx, sy = float(row[f"sx_{i}"]), float(row[f"sy_{i}"])
            sxy = float(row[f"sxy_{i}"])
            sxx, syy = float(row[f"sxx_{i}"]), float(row[f"syy_{i}"])
            vx = n * sxx - sx * sx
            vy = n * syy - sy * sy
            if vx > 0 and vy > 0:
                corr = (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))
        out.append((cx, cy, corr, n))
    return local_frame(
        df.sparkSession, out, "col_x string, col_y string, corr double, n long"
    )


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns
    (deequ's MutualInformation analyzer): ONE scan builds the joint
    contingency counts (partial combine; the shuffle carries
    O(ndv_a·ndv_b) cells), marginals come from window sums OVER the
    cell frame (no second scan), and

        MI = Σ_ab p(a,b) · ln( n·c_ab / (c_a·c_b) )

    folds over the (a, b)-sorted cell list so float accumulation is
    canonical. The log's argument is a ratio of exact int64 products,
    so any SQL engine reproduces the value bit-for-bit. NULL is a
    real category on both sides."""
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(col_a).cast("string").alias("a"),
        F.col(col_b).cast("string").alias("b"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wa = Window.partitionBy("a").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wb = Window.partitionBy("b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = cells.select(
        "a", "b", "cnt",
        F.sum("cnt").over(tot).alias("n"),
        F.sum("cnt").over(wa).alias("ca"),
        F.sum("cnt").over(wb).alias("cb"),
    )
    p_ab = F.col("cnt").cast("double") / F.col("n").cast("double")
    ratio = (F.col("cnt") * F.col("n")).cast("double") / (
        F.col("ca") * F.col("cb")
    ).cast("double")
    terms = t.select(
        "a", "b", (p_ab * F.log(ratio)).alias("term"), "n"
    )
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("a", "b", "term"))),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return terms.groupBy().agg(
        F.first(F.lit(col_a)).alias("col_a"),
        F.first(F.lit(col_b)).alias("col_b"),
        folded.alias("mi"),
        F.first("n").cast("long").alias("n_rows"),
    )


def hot_keys(df: DataFrame, col: str, k: int = 20) -> DataFrame:
    """Heavy-hitter profile of a key column: the top-``k`` values by
    frequency with their corpus share — the diagnostic that tells a
    pipeline WHICH keys need salting before a join on ``col`` skews
    (a count aggregate's map-side partial combine already absorbs a
    hot key, a join does not; this makes the skew visible and
    auditable). The top-k itself is
    ``orderBy(...).limit(k)`` — Spark compiles that to
    TakeOrderedAndProject, a distributed partial top-k per partition
    of the aggregated counts, never a global sort and never a
    single-partition rank window over the full ndv-sized count frame;
    the total for the share column is a scalar aggregate broadcast
    onto the ≤k survivors. Ordering is deterministic (count DESC,
    value ASC) so the top-k set is stable across runs. Output:
    (value, cnt, share, rank)."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(col).cast("string").alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = counts.orderBy(F.col("cnt").desc(), F.asc_nulls_first("value")).limit(k)
    total = counts.agg(F.sum("cnt").alias("total"))
    rank_w = Window.orderBy(F.col("cnt").desc(), F.asc_nulls_first("value"))
    # the rank window runs over the ≤k-row survivor frame only
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "value", "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double")
             ).alias("share"),
        )
        .withColumn("rank", F.row_number().over(rank_w))
    )


def outlier_bounds(
    df: DataFrame,
    col: str,
    method: str = "iqr",
    k: float = 1.5,
) -> tuple[float, float]:
    """Outlier fences for one numeric column, from ONE aggregation.

    ``iqr``: Tukey fences q1 - k·IQR .. q3 + k·IQR with EXACT
    quantiles (``F.percentile`` — the linear-interpolation definition
    DuckDB's ``quantile_cont`` shares, so the SQL oracle reproduces
    the bounds bit-for-bit). ``zscore``: mean ± k·stddev (sample
    stddev both engines). Exact percentiles hold the whole column in
    the aggregation buffer per group — fine for a single global group
    even at scale, but prefer iqr with ``percentile_approx`` feeding
    custom fences when the cluster is memory-tight."""
    c = F.col(col).cast("double")
    if method == "iqr":
        row = df.agg(
            F.percentile(c, F.lit(0.25)).alias("q1"),
            F.percentile(c, F.lit(0.75)).alias("q3"),
        ).collect()[0]
        iqr = row["q3"] - row["q1"]
        return row["q1"] - k * iqr, row["q3"] + k * iqr
    if method == "zscore":
        row = df.agg(
            F.avg(c).alias("mu"), F.stddev(c).alias("sd")
        ).collect()[0]
        sd = row["sd"] or 0.0
        return row["mu"] - k * sd, row["mu"] + k * sd
    raise ValueError(f"unknown outlier method [{method}]")


def outlier_violations(
    df: DataFrame,
    col: str,
    row_key: str,
    method: str = "iqr",
    k: float = 1.5,
    run_id: str = "",
) -> DataFrame:
    """Row-level outlier flags (error_type ``outlier``) in the
    engine's violation schema: bounds from :func:`outlier_bounds`
    (one aggregation), then one pruned filter scan — the fences ride
    as literals, so the filter pushes into the parquet scan. NULLs
    are not outliers (completeness is ``$required``'s job)."""
    lo, hi = outlier_bounds(df, col, method, k)
    c = F.col(col).cast("double")
    return as_violations(
        df.filter(c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi)))),
        F.col(row_key), col, col, "outlier",
        f"value of {col} outside {method} fences [{lo!r}, {hi!r}] (k={k})",
        c, run_id, partition_id=F.spark_partition_id(),
    )


# Benford expected first-digit proportions log10(1 + 1/d), d = 1..9
BENFORD_P = [0.0] + [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford_test(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit (Benford's law) goodness-of-fit — the
    classic fabricated-data screen for naturally-occurring numeric
    columns (amounts, populations, file sizes). One row: (column_name,
    statistic, dof, n) where statistic is the chi² GoF against
    log10(1 + 1/d).

    One aggregation pass (digit histogram, partial combine), the
    9-term statistic folded JVM-side in digit order — exact int
    counts, canonical float order, SQL-replayable. The digit comes
    from the DECIMAL STRING of the value truncated toward zero
    (``cast(long)``), never from log10/pow — floating log10 puts
    boundary values (1000, 10⁶) in the wrong decade on some engines.
    Values truncating to 0 carry no leading digit and are excluded."""
    d1 = F.substring(
        F.abs(F.col(col).cast("long")).cast("string"), 1, 1
    ).cast("int")
    hist = (
        df.select(d1.alias("d"))
        .filter(F.col("d").isNotNull() & (F.col("d") > 0))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = hist.select(
        "d", "cnt", F.sum("cnt").over(tot).cast("long").alias("n")
    )
    # chi² = Σ (cnt - n·p_d)² / (n·p_d), folded in digit order; the
    # expected counts use the double literals BENFORD_P so any SQL
    # engine replays the same IEEE values
    exp = F.col("n").cast("double") * F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_P]), F.col("d") + 1
    )
    term = (F.col("cnt").cast("double") - exp) * (
        F.col("cnt").cast("double") - exp
    ) / exp
    terms = t.select("d", term.alias("term"), "n")
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "term"))),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return terms.groupBy().agg(
        F.first(F.lit(col)).alias("column_name"),
        folded.alias("statistic"),
        F.lit(8).alias("dof"),
        F.first("n").alias("n"),
    )


def null_rates_by_group(
    df: DataFrame, cols: list[str], group_col: str
) -> DataFrame:
    """Per-partition completeness: (group, column_name, n, n_null,
    null_rate) — the "which shard is missing data" view, one
    aggregation for ALL columns (conditional counts, partial
    combine), exploded to long form after the aggregate so the
    shuffle carries one row per group, not per column."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}")
        )
    wide = df.groupBy(F.col(group_col).alias("g")).agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"__null_{c}").alias("n_null"),
        )
        for c in cols
    ])
    return wide.select(
        F.col("g").alias(group_col), F.col("__n").alias("n"),
        F.explode(pairs).alias("p"),
    ).select(
        group_col, "p.column_name", "n", "p.n_null",
        (F.col("p.n_null").cast("double") / F.col("n").cast("double"))
        .alias("null_rate"),
    )


def freshness(
    df: DataFrame,
    ts_col: str,
    max_age_seconds: float,
    now,
) -> DataFrame:
    """Deequ-style freshness gate: is the newest ``ts_col`` value
    within ``max_age_seconds`` of ``now``? One row (column_name,
    max_ts, age_seconds, fresh) from ONE max aggregation.

    ``now`` is an explicit anchor (datetime) — never wall clock — so
    runs are reproducible and the SQL oracle replays the verdict.
    Arithmetic is exact integer MICROseconds (``unix_micros`` ≡
    DuckDB ``epoch_us``); second-granularity epochs truncate
    fractional seconds differently across engines."""
    import datetime as _dt

    now_us = int(now.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000) \
        if now.tzinfo is None else int(now.timestamp() * 1_000_000)
    # parquet TIMESTAMP_NTZ → session-UTC timestamp (the engine pins
    # spark.sql.session.timeZone=UTC) so unix_micros ≡ DuckDB epoch_us
    max_us = F.unix_micros(F.max(F.col(ts_col)).cast("timestamp"))
    return df.agg(
        F.lit(ts_col).alias("column_name"),
        F.date_format(
            F.max(F.col(ts_col)), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("max_ts"),
        ((F.lit(now_us) - max_us).cast("double") / F.lit(1e6))
        .alias("age_seconds"),
        ((F.lit(now_us) - max_us)
         <= F.lit(int(max_age_seconds * 1_000_000))).alias("fresh"),
    )


def freshness_by_group(
    df: DataFrame,
    ts_col: str,
    max_age_seconds: float,
    now,
    group_col: str,
) -> DataFrame:
    """Per-group freshness — WHICH source/shard/partition stopped
    shipping, where the global :func:`freshness` gate only says that
    SOMETHING did (a healthy firehose hides one dead source's max_ts
    behind every other source's fresh rows; this is the batch sibling
    of the streaming flatline alert in
    :func:`invalid_spark.streaming.windowed_watch_counts`). One row
    per group (group, max_ts, age_seconds, fresh) from ONE grouped
    max aggregation — groups are sources/shards, bounded, so the
    output frame is report-sized at any corpus scale. Same exact
    integer-microsecond arithmetic and explicit ``now`` anchor as the
    global gate; NULL group is its own group."""
    import datetime as _dt

    now_us = int(now.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000) \
        if now.tzinfo is None else int(now.timestamp() * 1_000_000)
    max_us = F.unix_micros(F.max(F.col(ts_col)).cast("timestamp"))
    return df.groupBy(F.col(group_col).alias("group")).agg(
        F.lit(ts_col).alias("column_name"),
        F.date_format(
            F.max(F.col(ts_col)), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("max_ts"),
        ((F.lit(now_us) - max_us).cast("double") / F.lit(1e6))
        .alias("age_seconds"),
        ((F.lit(now_us) - max_us)
         <= F.lit(int(max_age_seconds * 1_000_000))).alias("fresh"),
    )


def histogram(
    df: DataFrame,
    col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column: one row per bin —
    ``(bin, lo_edge, hi_edge, n)`` — EMPTY BINS INCLUDED (a drift UI
    or declared-shape comparison needs the zeros; returning only
    occupied bins silently re-indexes the grid between snapshots).

    With explicit ``lo``/``hi`` the histogram is ONE partial-combine
    aggregation over the scan (the shuffle carries at most ``bins``
    rows per partition); omitted bounds cost one extra min/max pass
    first — at repeated-snapshot scale pass the bounds (or quantile
    clips) so the grid is also STABLE across runs, which is what
    makes two snapshots' histograms comparable at all. Values outside
    [lo, hi] are excluded (clip upstream to keep them); ``hi`` itself
    lands in the last bin (closed upper edge, half-open elsewhere —
    numpy.histogram semantics). NULL/NaN excluded.
    """
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    c = F.col(col).cast("double")
    if lo is None or hi is None:
        row = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
        lo = float(row["lo"]) if lo is None else float(lo)
        hi = float(row["hi"]) if hi is None else float(hi)
    lo, hi = float(lo), float(hi)
    if not hi > lo:
        raise ValueError(f"histogram needs hi > lo, got [{lo}, {hi}]")
    w = (hi - lo) / bins
    b = (
        F.when(c == F.lit(hi), F.lit(bins - 1))
        .otherwise(F.floor((c - F.lit(lo)) / F.lit(w)))
        .cast("long")
    )
    counts = (
        df.filter(c.isNotNull() & ~F.isnan(c) & (c >= lo) & (c <= hi))
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = df.sparkSession.range(bins).select(F.col("id").alias("bin"))
    return (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(w)).alias("lo_edge"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("hi_edge"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


def _cms_bucket(value_s, i: int, width: int, salt: str):
    """Row i's Count-Min bucket for a (string-rendered) value: the
    first 8 hex chars of a salted md5, mod ``width``. md5-derived so
    any SQL engine replays the sketch bit-exactly (the DSIR /
    hash_sample construction)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}-{i}-"), value_s)), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_sketch(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    salt: str = "cms-v1",
) -> DataFrame:
    """Count-Min sketch of a key column (Cormode & Muthukrishnan
    2005): ``depth`` hash rows of ``width`` counters each, built in
    ONE partial+final aggregation. Output ``(i, bucket, cnt)`` —
    sparse (absent pair = 0; :func:`cms_estimate` coalesces).

    This is the bounded-state complement of :func:`hot_keys`: the
    exact profile shuffles one row per DISTINCT key (fine for enum
    columns, a full-cardinality shuffle for user/url/phash keys at
    10^12 rows), while the sketch shuffles at most ``depth*width``
    partial rows per partition NO MATTER the key cardinality, and two
    snapshots' sketches merge by adding counters (the HLL/t-digest
    story again). Point estimates overshoot by at most
    ``e/width * N`` with probability ``1 - e^-depth`` (never
    undershoot). NULL keys are excluded (profile them with
    null_rates; hashing a sentinel would silently pool them with a
    real value on collision).

    The generalizing ancestor is the reference's enum/uniqueness
    checks (rule.go:522-538) — "which values dominate this column" at
    a scale where exact counting is itself the bottleneck.
    """
    if depth <= 0 or width <= 0:
        raise ValueError(f"need depth/width > 0, got {depth}/{width}")
    v = F.col(col).cast("string")
    buckets = F.array(*[_cms_bucket(v, i, width, salt) for i in range(depth)])
    return (
        df.filter(v.isNotNull())
        .select(F.posexplode(buckets).alias("i", "bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    salt: str = "cms-v1",
) -> DataFrame:
    """Point-estimate candidate values against a :func:`cms_sketch`
    built with the SAME (depth, width, salt). Output
    ``(value, est_cnt)`` — the min over the value's ``depth``
    counters, 0 for a bucket the sketch never saw (the left join +
    coalesce is what makes the sparse sketch correct: dropping the
    missing row would take the min over present counters only and
    overestimate).

    The sketch is at most ``depth*width`` rows, so it broadcasts; the
    candidate frame is whatever the caller supplies (an explicit
    value list, :func:`hot_keys` output, or the map-side local top-k
    from :func:`heavy_hitters_cms`) — the corpus itself is never
    rescanned."""
    cand = candidates.select(F.col(col).cast("string").alias("value")).distinct()
    v = F.col("value")
    buckets = F.array(*[_cms_bucket(v, i, width, salt) for i in range(depth)])
    rows = cand.select("value", F.posexplode(buckets).alias("i", "bucket"))
    return (
        rows.join(F.broadcast(sketch), ["i", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


def heavy_hitters_cms(
    df: DataFrame,
    col: str,
    min_share: float = 0.01,
    depth: int = 4,
    width: int = 2048,
    salt: str = "cms-v1",
) -> DataFrame:
    """Heavy hitters (values with corpus share >= ``min_share``) with
    BOUNDED state everywhere — nothing in the plan grows with key
    cardinality:

    1. candidates: each partition's exact local top-``ceil(1/s)``
       values via one ``mapInPandas`` pass (a value with GLOBAL share
       >= s has local share >= s in at least one partition, and at
       most ``floor(1/s)`` values can clear s locally, so every true
       heavy hitter is a candidate — the SpaceSaving merge guarantee
       without per-row state). At most ``partitions * ceil(1/s)``
       candidate rows ever shuffle.
    2. counts: :func:`cms_estimate` against one :func:`cms_sketch` —
       no second corpus scan, no full-cardinality aggregate.
    3. verdict: ``est_share >= min_share`` over the candidate-sized
       frame; N comes from sketch row 0 (every non-null value lands
       in exactly one bucket there).

    Estimates never undershoot, so no true heavy hitter is dropped;
    a near-threshold value can be promoted by collisions (size
    ``width`` accordingly). Output
    ``(value, est_cnt, est_share, rank)`` — the :func:`hot_keys`
    schema, deterministic order (est_cnt DESC, value ASC)."""
    if not 0 < min_share <= 1:
        raise ValueError(f"need 0 < min_share <= 1, got {min_share}")
    cap = int(math.ceil(1.0 / min_share))

    def _local_top(batches: Iterable[pd.DataFrame]):
        from collections import Counter

        c: Counter = Counter()
        for pdf in batches:
            c.update(pdf["value"].dropna())
        yield pd.DataFrame({"value": [k for k, _ in c.most_common(cap)]})

    vals = df.select(F.col(col).cast("string").alias("value"))
    cand = vals.mapInPandas(_local_top, "value string").distinct()
    sketch = cms_sketch(df, col, depth, width, salt).localCheckpoint(eager=False)
    total = sketch.filter(F.col("i") == 0).agg(F.sum("cnt").alias("n"))
    est = cms_estimate(sketch, cand, "value", depth, width, salt)
    from pyspark.sql import Window

    rank_w = Window.orderBy(F.col("est_cnt").desc(), F.asc_nulls_first("value"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(
            F.col("est_cnt").cast("double")
            >= F.lit(float(min_share)) * F.col("n").cast("double")
        )
        .select(
            "value",
            "est_cnt",
            F.round(
                F.col("est_cnt").cast("double") / F.col("n").cast("double"), 6
            ).alias("est_share"),
        )
        .withColumn("rank", F.row_number().over(rank_w))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge Count-Min sketches built with the SAME (depth, width,
    salt) by adding counters — the property that makes the sketch a
    snapshot-friendly state object (the HLL/t-digest story): profile
    each ingest batch independently, merge the d·w-row frames, and
    point estimates over the union corpus come out as if built in one
    pass. Mixing sketches of different shapes silently mis-buckets —
    keep the parameters in the table's metadata alongside the drift
    state."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))
