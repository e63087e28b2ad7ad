"""Metric history + anomaly detection — the third leg of continuous
validation (deequ's ``AnomalyCheck`` analog; the reference validates
one file at a time and has no cross-run memory, so this is an engine
extension alongside drift state and the schema fingerprint).

Each run appends its rule metrics to an append-only
``metrics_history`` sink under ``out_dir`` (one tiny row per
(column, metric) — O(rules), never O(rows)); ``$anomaly`` rules then
evaluate the CURRENT run's value against that history:

- absolute bounds (``min`` / ``max``) on the current value;
- relative change vs the mean of the previous ``last_k`` runs
  (``max_rel_change``) — the "violation rate tripled since
  yesterday" alert that absolute bounds can't express;
- z-score band vs the previous ``last_k`` runs (``z_max``) — the
  deequ ``OnlineNormalStrategy`` shape: flag when the current value
  sits more than ``z_max`` sample standard deviations from the
  window mean. Needs ≥ 2 prior points (one value has no spread);
  a zero-spread window (constant history) fails on ANY departure.

Like the drift stage, evaluation is driver-side math over a few
dozen collected numbers; the only cluster work is the input metrics'
aggregate columns (:func:`metric_layer`, part of the runner's one
table-level aggregation); violation_rate reads the per-column counts
of the runner's violations tally. :func:`rel_change_over_history`
is the same fold as a window over the history DataFrame — usable at scale for thousands
of tracked metrics, and replayable by any SQL engine (AVG OVER ROWS
BETWEEN k PRECEDING AND 1 PRECEDING), which is what the driver's
oracle checks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from invalid_spark.checks import stats

ANOMALY_METRICS = (
    "violation_rate", "null_rate", "mean", "row_count",
    "stddev", "min", "max", "distinct",
)

HISTORY_SCHEMA = (
    "col_name string, metric string, value double, seq long, "
    "run_id string, snapshot_id string"
)

ANOMALY_SCHEMA = (
    "col_name string, metric string, value double, baseline double, "
    "rel_change double, z_score double, n_history int, passed boolean, "
    "run_id string, snapshot_id string"
)


@dataclass
class AnomalyResult:
    col: str
    metric: str
    value: float | None
    baseline: float | None
    rel_change: float | None
    z: float | None
    n_history: int
    passed: bool


def metric_layer(
    violations: dict[str, int], specs: list[tuple[str, dict]]
) -> stats.Layer:
    """The ``$anomaly`` input layer: a ``metric_expr`` column per spec
    (``distinct`` is ``ndv``; ``violation_rate`` reads the row count),
    and a finish returning :func:`current_metric_values`.
    ``violations`` is the violation count per column; a column it
    lacks has none."""
    metrics = [spec.get("metric", "violation_rate") for _, spec in specs]
    for (col, _), m in zip(specs, metrics):
        if m not in ANOMALY_METRICS:
            raise ValueError(
                f"unknown anomaly metric [{m}] on column [{col}] "
                f"(choose from {ANOMALY_METRICS})"
            )
    aggs = [stats.metric_expr("*", "row_count").alias("m_n")] + [
        stats.metric_expr(col, "ndv" if m == "distinct" else m).alias(f"m_{i}")
        for i, ((col, _), m) in enumerate(zip(specs, metrics))
        if m != "violation_rate"
    ]

    def finish(row: Row) -> dict[tuple[str, str], float | None]:
        n = row["m_n"]
        out = {}
        for i, ((col, _), m) in enumerate(zip(specs, metrics)):
            if m != "violation_rate":
                out[(col, m)] = row[f"m_{i}"]
            else:
                out[(col, m)] = float(violations.get(col, 0)) / n if n else None
        return out

    return aggs, finish


def current_metric_values(
    df: DataFrame,
    violations: DataFrame | None,
    specs: list[tuple[str, dict]],
) -> dict[tuple[str, str], float | None]:
    """This run's value for every ``$anomaly`` spec, in ONE
    aggregation over the input (:func:`metric_layer` through
    :func:`~invalid_spark.checks.stats.one_pass`) plus, for
    ``violation_rate``, one count per column of the violations
    frame."""
    counts: dict[str, int] = {}
    if violations is not None and any(
        s.get("metric", "violation_rate") == "violation_rate" for _, s in specs
    ):
        counts = {
            r["column"]: r["count"]
            for r in violations.groupBy("column").count().collect()
        }
    return stats.one_pass(df, [metric_layer(counts, specs)])[0]


def evaluate(
    specs: list[tuple[str, dict]],
    cur: dict[tuple[str, str], float | None],
    history_rows: list,
) -> list[AnomalyResult]:
    """Driver-side verdicts: each spec's current value against its
    last-``last_k`` history (rows as dicts/Rows with col_name, metric,
    value, seq). A spec with NO prior history passes its relative
    check (first run — nothing to compare, like the drift stage) but
    still honors absolute bounds."""
    out: list[AnomalyResult] = []
    for col, spec in specs:
        m = spec.get("metric", "violation_rate")
        k = int(spec.get("last_k", 3))
        v = cur.get((col, m))
        prior = sorted(
            (
                r
                for r in history_rows
                if r["col_name"] == col and r["metric"] == m
                and r["value"] is not None
            ),
            key=lambda r: r["seq"],
        )[-k:]
        baseline = (
            sum(r["value"] for r in prior) / len(prior) if prior else None
        )
        rel = None
        z = None
        passed = stats.within(v, spec.get("min"), spec.get("max"))
        if v is not None and baseline is not None:
            rel = (
                (v - baseline) / baseline if baseline != 0
                else (0.0 if v == 0 else float("inf"))
            )
            if passed and "max_rel_change" in spec:
                passed = abs(rel) <= float(spec["max_rel_change"])
        if v is not None and len(prior) >= 2:
            # sample stddev (n-1), matching stddev_samp in the SQL
            # replay of the windowed variant
            var = sum((r["value"] - baseline) ** 2 for r in prior) / (
                len(prior) - 1
            )
            std = var ** 0.5
            z = (
                (v - baseline) / std if std > 0
                else (0.0 if v == baseline else float("inf"))
            )
            if passed and "z_max" in spec:
                passed = abs(z) <= float(spec["z_max"])
        out.append(
            AnomalyResult(col, m, v, baseline, rel, z, len(prior), passed)
        )
    return out


def rel_change_over_history(
    history: DataFrame, last_k: int = 3
) -> DataFrame:
    """The same fold as a DataFrame window — for EVERY point in the
    history, its relative change vs the mean of the previous
    ``last_k`` values of the same (col_name, metric) series, plus the
    z-score band (``stddev``/``z``) over the same window — NULL until
    the window holds ≥ 2 points (one value has no spread). One
    window over the (tiny) history; replayable as SQL
    ``AVG/STDDEV_SAMP(value) OVER (PARTITION BY ... ORDER BY seq ROWS
    BETWEEN k PRECEDING AND 1 PRECEDING)``, which is what the
    correctness oracle checks. Rows with no prior history get NULL
    baseline / rel_change (a first run is not an anomaly)."""
    w = (
        Window.partitionBy("col_name", "metric")
        .orderBy("seq")
        .rowsBetween(-last_k, -1)
    )
    baseline = F.avg("value").over(w)
    std = F.stddev_samp("value").over(w)
    rel = F.when(
        baseline.isNotNull() & (baseline != 0),
        (F.col("value") - baseline) / baseline,
    )
    z = F.when(
        std.isNotNull() & (std > 0), (F.col("value") - baseline) / std
    )
    return history.select(
        "col_name",
        "metric",
        "seq",
        "value",
        baseline.alias("baseline"),
        rel.alias("rel_change"),
        std.alias("stddev"),
        z.alias("z"),
    )
