"""Verdicts and metrics over a violations DataFrame.

Generalizes the reference's per-document pass/fail (``len(results)
== 0``, reference valid_test.go:72-75) to per-partition verdicts
(SURVEY.md §2.3): a partition passes iff it contributed zero
violation rows. Schema-level violations (``partition_id`` NULL)
fail every partition.

These are library forms over any violations frame. The runner's
verdicts are per work unit (with or without a ``partition_col``) and
come from its own violations tally
(:func:`invalid_spark.runner.validate`), not from
:func:`partition_verdicts`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_verdicts(
    df: DataFrame, violations: DataFrame, run_id: str = ""
) -> DataFrame:
    """One row per input partition: (partition_id, n_rows,
    n_violations, passed). Both sides aggregate before the join, so
    the shuffle is over at most #partitions rows."""
    rows_per_part = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    schema_fail = (
        violations.filter(F.col("partition_id").isNull()).limit(1).count() > 0
    )
    v_per_part = (
        violations.filter(F.col("partition_id").isNotNull())
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    out = (
        rows_per_part.join(v_per_part, "partition_id", "left")
        .select(
            "partition_id",
            "n_rows",
            F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
        )
        .withColumn(
            "passed",
            (F.col("n_violations") == 0) & F.lit(not schema_fail),
        )
        .withColumn("run_id", F.lit(run_id))
    )
    return out


def group_verdicts(
    df: DataFrame,
    violations: DataFrame,
    group_col: str,
    row_key: str,
    run_id: str = "",
) -> DataFrame:
    """Per data-partition verdicts keyed by a *data* column (the
    production semantics: at 100 TB the audit unit is an Iceberg
    partition value — a date bucket, a source shard — not a Spark
    task partition). Violations are attributed to their group via a
    key join; both sides aggregate before joining, so the final join
    moves at most |groups| rows."""
    keyed = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.col(group_col).alias("grp"),
    )
    rows_per = keyed.groupBy("grp").agg(F.count(F.lit(1)).alias("n_rows"))
    # one mapping row per key: duplicated row keys (exactly what the
    # uniqueness check plants) must not fan out the violations join
    # and overcount n_violations — deterministic keeper (min group)
    # so both engines of the oracle gate agree
    key_map = keyed.groupBy("row_key").agg(F.min("grp").alias("grp"))
    v_per = (
        violations.select("row_key")
        .join(key_map, "row_key")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    return (
        rows_per.join(v_per, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_rows",
            F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
        )
        .withColumn("passed", F.col("n_violations") == 0)
        .withColumn("run_id", F.lit(run_id))
    )


def rule_metrics(violations: DataFrame, run_id: str = "") -> DataFrame:
    """Violation counts per (rule_id, error_type) — the metrics rows
    the north rule requires alongside verdicts."""
    return (
        violations.groupBy("rule_id", "error_type")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .withColumn("run_id", F.lit(run_id))
    )


def violation_samples(
    violations: DataFrame, k: int = 10, order_col: str = "row_key"
) -> DataFrame:
    """Top-K example violations per (rule_id, error_type) — bounded
    output for dashboards/alerting no matter how many rows failed.
    One window over the (already small relative to input) violations
    stream; deterministic order by ``order_col``."""
    from pyspark.sql import Window

    w = Window.partitionBy("rule_id", "error_type").orderBy(F.col(order_col).asc())
    return (
        violations.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def split_valid(
    df: DataFrame, violations: DataFrame, row_key: str
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split: (clean_rows, quarantined_rows).

    The standard validation-pipeline output contract: rows with any
    violation route to a quarantine sink for triage, clean rows flow
    on. One anti-join / semi-join pair against the (small, distinct)
    violating-key set — Catalyst broadcasts it when violations are
    sparse, which is the normal case."""
    bad_keys = violations.select(
        F.col("row_key").alias("__bk")
    ).filter(F.col("__bk").isNotNull()).distinct()
    keyed = F.col(row_key).cast("string")
    clean = df.join(bad_keys, keyed == F.col("__bk"), "left_anti")
    quarantined = df.join(bad_keys, keyed == F.col("__bk"), "left_semi")
    return clean, quarantined


def overall_pass(violations: DataFrame) -> bool:
    """Reference ``Validate`` contract: empty result = pass
    (rule.go:131-141)."""
    return violations.limit(1).count() == 0


# ---------------------------------------------------------------------------
# human-readable report (data-docs analog)

_REPORT_SINKS = (
    ("Rule metrics", "metrics"),
    ("Stat assertions", "assertions"),
    ("Schema changes", "schema_changes"),
    ("Anomalies", "anomalies"),
    ("Declared-distribution gates", "distribution"),
)


def _md_table(rows, cols) -> str:
    """Render collected Rows as a GitHub markdown table."""
    if not rows:
        return "_none_\n"

    def cell(v):
        if v is None:
            return ""
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v).replace("|", "\\|").replace("\n", " ")

    out = ["| " + " | ".join(cols) + " |",
           "|" + "---|" * len(cols)]
    out += ["| " + " | ".join(cell(r[c]) for c in cols) + " |" for r in rows]
    return "\n".join(out) + "\n"


def _snap_filter(df: DataFrame, snapshot: str) -> DataFrame:
    if snapshot and "snapshot_id" in df.columns:
        return df.filter(F.col("snapshot_id") == F.lit(snapshot))
    return df


def render_markdown(
    spark,
    out_dir: str,
    run_id: str = "",
    snapshot: str = "",
    max_samples: int = 3,
    max_units: int = 50,
    units_done: list[str] | None = None,
    units_skipped: list[str] | None = None,
) -> str:
    """One markdown document summarizing a validation run — the
    human-readable face of the parquet sinks (the data-docs analog of
    Great Expectations / deequ repositories). Everything collected is
    sketch-sized: verdicts are O(units), metrics O(rules), samples
    bounded by :func:`violation_samples`'s window; the violations
    sink itself is only aggregated, never collected. Sections render
    only for sinks the run actually produced.

    Snapshot scoping follows the sink semantics: the overwrite-mode
    sinks (verdicts, metrics, assertions, anomalies, distribution)
    hold only the LATEST run — render right after the run being
    reported — while the append-mode violations sink spans snapshots
    and is filtered to ``snapshot`` here (the ADVICE-r3 lesson: a
    report must never mix snapshots)."""
    import os

    def sink(name):
        p = os.path.join(out_dir, name)
        if not os.path.isdir(p):
            return None
        return _snap_filter(spark.read.parquet(p), snapshot)

    lines = ["# invalid_spark validation report", ""]
    lines.append(f"- run: `{run_id or '-'}`  snapshot: `{snapshot or '-'}`")
    lines.append(f"- output: `{out_dir}`")
    if units_done is not None or units_skipped is not None:
        lines.append(
            f"- units: {len(units_done or [])} validated, "
            f"{len(units_skipped or [])} skipped (resume)"
        )
    lines.append("")

    verdicts = sink("verdicts")
    if verdicts is not None:
        rows = verdicts.limit(max_units + 1).collect()
        n_fail = sum(1 for r in rows if not r["passed"])
        overall = "FAIL" if n_fail else "PASS"
        lines.append(f"## Verdict: {overall}")
        lines.append("")
        cols = [c for c in verdicts.columns
                if c not in ("run_id", "snapshot_id")]
        lines.append(_md_table(rows[:max_units], cols))
        if len(rows) > max_units:
            lines.append(f"_… further units truncated at {max_units}_")
        lines.append("")

    for title, name in _REPORT_SINKS:
        df = sink(name)
        if df is None:
            continue
        cols = [c for c in df.columns if c not in ("run_id", "snapshot_id")]
        lines.append(f"## {title}")
        lines.append("")
        lines.append(_md_table(df.limit(max_units).collect(), cols))
        lines.append("")

    viol = sink("violations")
    if viol is not None:
        lines.append(f"## Sample violations (top {max_samples} per rule)")
        lines.append("")
        s = violation_samples(viol, k=max_samples)
        cols = [c for c in s.columns
                if c not in ("run_id", "snapshot_id", "partition_id",
                             "sample_rank")]
        lines.append(_md_table(s.collect(), cols))
        lines.append("")
    return "\n".join(lines)


def write_markdown(spark, run, **kwargs) -> str:
    """Render ``run`` (a :class:`~invalid_spark.runner.RunResult`) to
    ``out_dir/report.md`` and return the path."""
    import os

    from invalid_spark.io import write_text

    text = render_markdown(
        spark,
        run.out_dir,
        run_id=run.run_id,
        snapshot=run.snapshot,
        units_done=run.units_done,
        units_skipped=run.units_skipped,
        **kwargs,
    )
    path = os.path.join(run.out_dir, "report.md")
    write_text(path, text)
    return path


def latest_snapshot(spark, out_dir: str) -> str:
    """Resolve the most recent snapshot under a continuous-run
    ``out_dir``: the max-``seq`` row of ``metrics_history`` when the
    run tracks history, else the single distinct ``snapshot_id`` in
    the verdicts sink. Ambiguity (several snapshots, no history)
    raises rather than silently mixing snapshots."""
    import os

    hist = os.path.join(out_dir, "metrics_history")
    if os.path.isdir(hist):
        row = (
            spark.read.parquet(hist)
            .orderBy(F.col("seq").desc())
            .select("snapshot_id")
            .first()
        )
        if row is not None:
            return row["snapshot_id"]
    viol = os.path.join(out_dir, "violations")
    if os.path.isdir(viol):
        snaps = [
            r["snapshot_id"]
            for r in spark.read.parquet(viol)
            .select("snapshot_id").distinct().collect()
        ]
        if len(snaps) == 1:
            return snaps[0]
        raise ValueError(
            f"out_dir holds {len(snaps)} snapshots and no metrics_history "
            f"to order them — pass an explicit snapshot: {sorted(snaps)}"
        )
    raise ValueError(
        f"cannot determine the snapshot under {out_dir} (no "
        "metrics_history and no violations sink) — pass it explicitly"
    )
