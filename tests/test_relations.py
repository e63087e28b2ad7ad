"""Cross-row / cross-table relational checks (checks/relations.py):
functional dependency, per-key sequence monotonicity, and fact-vs-dim
aggregate reconciliation — library semantics, plan shape, and the
runner's resumable global stages for $fd / $monotonic / $reconcile."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from invalid_spark import runner
from invalid_spark.checks import relations
from invalid_spark.dsl import load_rules
from invalid_spark.io import Manifest
from invalid_spark.model import ErrorType


# ---------------------------------------------------------------------------
# functional dependency


def _fd_df(spark):
    rows = [
        ("r1", "A", "x"),
        ("r2", "A", "x"),
        ("r3", "B", "x"),
        ("r4", "B", "y"),
        ("r5", "C", None),
        ("r6", "C", None),
        ("r7", None, "x"),
        ("r8", None, "y"),
    ]
    return spark.createDataFrame(rows, "rid string, det string, dep string")


def test_fd_violating_determinants(spark):
    df = _fd_df(spark)
    got = {
        r["value"]: (r["ndv"], r["n_rows"])
        for r in relations.fd_violating_determinants(df, "det", "dep").collect()
    }
    # A -> {x} holds; C -> {NULL} holds (NULL is ONE dependent value);
    # B -> {x, y} and NULL -> {x, y} violate
    assert got == {"B": (2, 2), None: (2, 2)}


def test_fd_violations_rows_and_null_determinant(spark):
    df = _fd_df(spark)
    v = relations.fd_violations(df, "det", "dep", "rid").collect()
    assert {r["row_key"] for r in v} == {"r3", "r4", "r7", "r8"}
    assert all(r["error_type"] == ErrorType.FD_MISMATCH for r in v)
    assert all("determinant maps to 2 distinct values" in r["message"] for r in v)
    obs = {r["row_key"]: r["observed"] for r in v}
    assert obs["r3"] == "x" and obs["r4"] == "y"


def test_fd_plan_one_shuffle_before_regroup(spark):
    # the pair aggregate partial-combines map-side: the only exchanges
    # are the (det, dep) hash distribution and the det regroup — the
    # shuffle carries counted triples, never rows
    df = _fd_df(spark)
    plan = relations.fd_violating_determinants(
        df, "det", "dep"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# sequence monotonicity


def _seq_df(spark):
    rows = [
        ("r1", "g1", 1, 1.0),
        ("r2", "g1", 2, 2.0),
        ("r3", "g1", 3, 2.0),
        ("r4", "g1", 4, 1.5),
        ("r5", "g2", 1, 5.0),
        ("r6", "g2", 2, 4.0),
        ("r7", "g2", 3, 6.0),
    ]
    return spark.createDataFrame(rows, "rid string, grp string, seq int, gauge double")


def test_sequence_breaks_non_strict(spark):
    got = {
        (r["rid"], r["__prev"])
        for r in relations.sequence_breaks(
            _seq_df(spark), "grp", "seq", "gauge"
        ).collect()
    }
    # plateaus allowed; only genuine decreases break
    assert got == {("r4", 2.0), ("r6", 5.0)}


def test_sequence_breaks_strict(spark):
    got = {
        r["rid"]
        for r in relations.sequence_breaks(
            _seq_df(spark), "grp", "seq", "gauge", strict=True
        ).collect()
    }
    # strict mode also rejects the r3 plateau (2.0 after 2.0)
    assert got == {"r3", "r4", "r6"}


def test_sequence_violations_schema(spark):
    v = relations.sequence_violations(
        _seq_df(spark), "grp", "seq", "gauge", "rid"
    ).collect()
    assert {r["row_key"] for r in v} == {"r4", "r6"}
    r4 = next(r for r in v if r["row_key"] == "r4")
    assert r4["error_type"] == ErrorType.SEQ_MISMATCH
    assert r4["observed"] == "1.5 after 2.0"
    assert "never decrease" in r4["message"]


# ---------------------------------------------------------------------------
# aggregate reconciliation


def _recon_frames(spark):
    fact = spark.createDataFrame(
        [
            (1, 1, 1.0),
            (1, 2, 2.0),
            (2, 1, 1.0),
            (3, 1, 2.0),
        ],
        "k long, seq int, amount double",
    )
    dim = spark.createDataFrame(
        [(1, 3.0), (2, 10.0), (4, 5.0)], "k long, total double"
    )
    return fact, dim


def test_reconcile_statuses(spark):
    fact, dim = _recon_frames(spark)
    got = {
        r["key"]: (r["fact_value"], r["dim_value"], r["status"])
        for r in relations.reconcile_aggregates(
            fact, dim, "k", "k", F.col("amount"), "seq", "total", tol=0.01
        ).collect()
    }
    assert got[1] == (3.0, 3.0, "ok")
    assert got[2] == (1.0, 10.0, "mismatch")
    assert got[3] == (2.0, None, "missing_dim")
    assert got[4] == (None, 5.0, "missing_fact")


def test_reconcile_tolerance_boundary(spark):
    fact, _ = _recon_frames(spark)
    # binary-exact boundary (1/128) so <= is genuinely inclusive
    dim = spark.createDataFrame([(2, 1.0078125)], "k long, total double")
    got = {
        r["key"]: r["status"]
        for r in relations.reconcile_aggregates(
            fact.filter(F.col("k") == 2), dim, "k", "k",
            F.col("amount"), "seq", "total", tol=0.0078125,
        ).collect()
    }
    assert got[2] == "ok"  # |1.0 - 1.0078125| <= tol inclusive


def test_reconcile_exact_fold_matches_sorted_python_sum(spark):
    # the canonical fold is the strict left fold over seq-sorted terms
    vals = [0.1, 0.7, 1e-9, 3.3, 2.2]
    fact = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k long, seq int, amount double"
    ).repartition(4)
    dim = spark.createDataFrame([(1, 0.0)], "k long, total double")
    row = relations.reconcile_aggregates(
        fact, dim, "k", "k", F.col("amount"), "seq", "total", tol=1e9
    ).collect()[0]
    acc = 0.0
    for v in vals:  # seq order == vals order here
        acc += v
    assert row["fact_value"] == acc  # bit-exact, not approx


# ---------------------------------------------------------------------------
# runner integration: $fd / $monotonic / $reconcile as resumable
# global stages


RELATION_RULES = load_rules(
    """
rid: {$type: $str}
det: {$type: $str, $fd: {dep: dep}}
gauge: {$type: $float, $monotonic: {per: grp, order: seq}}
okey: {$type: $int, $reconcile: {table: totals, key: k, value: total,
                                 term: "amount", order: seq, tol: 0.01}}
"""
)


def _runner_df(spark):
    # row ids deliberately numeric strings: reconcile violation keys
    # (2, 3, 4) would collide with real row keys if the quarantine
    # split ever ingested key-level violations
    rows = [
        # rid  grp  seq gauge det  dep  okey amount
        ("1", "g1", 1, 1.0, "A", "x", 1, 1.0),
        ("2", "g1", 2, 2.0, "A", "x", 1, 2.0),
        ("3", "g1", 3, 2.0, "B", "x", 2, 1.0),
        ("4", "g1", 4, 1.5, "B", "y", 3, 2.0),
        ("5", "g2", 1, 5.0, "C", "x", 1, 0.0),
        ("6", "g2", 2, 4.0, "A", "x", 1, 0.0),
        ("7", "g2", 3, 6.0, "A", "x", 1, 0.0),
    ]
    return spark.createDataFrame(
        rows,
        "rid string, grp string, seq int, gauge double, det string, "
        "dep string, okey long, amount double",
    )


def _totals_dim(spark):
    return spark.createDataFrame(
        [(1, 3.0), (2, 10.0), (4, 5.0)], "k long, total double"
    )


def test_runner_relation_stages_and_quarantine(spark, tmp_path):
    df = _runner_df(spark)
    out = str(tmp_path / "run")
    res = runner.validate(
        spark, df, RELATION_RULES, "rid", out,
        dims={"totals": _totals_dim(spark)},
        snapshot="snap-1", quarantine=True,
    )
    units = set(res.units_done)
    assert "__fd__det->dep" in units
    assert "__monotonic__gauge" in units
    assert "__reconcile__okey~total" in units
    v = res.violations(spark)
    by = {
        r["error_type"]: r["cnt"]
        for r in v.groupBy("error_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert by[ErrorType.FD_MISMATCH] == 2       # rows 3, 4 (det B)
    assert by[ErrorType.SEQ_MISMATCH] == 2      # rows 4, 6
    assert by[ErrorType.RECONCILE_MISMATCH] == 3  # keys 2, 3, 4
    # lineage present on relation-stage rows too
    r = v.filter(F.col("error_type") == ErrorType.FD_MISMATCH).limit(1).collect()[0]
    assert r["run_id"] and r["snapshot_id"] == "snap-1"
    # quarantine: row-level violations only — reconcile keys 2/3/4
    # must NOT drag rows "2"/"3"/"4" in by key collision
    q = {r["rid"] for r in spark.read.parquet(out + "/quarantine").collect()}
    assert q == {"3", "4", "6"}
    c = {r["rid"] for r in spark.read.parquet(out + "/clean").collect()}
    assert c == {"1", "2", "5", "7"}


def test_runner_relation_stages_resume_no_duplicates(spark, tmp_path):
    df = _runner_df(spark)
    out = str(tmp_path / "run")
    kw = dict(dims={"totals": _totals_dim(spark)}, snapshot="snap-1")
    first = runner.validate(spark, df, RELATION_RULES, "rid", out, **kw)
    n_first = first.violations(spark).count()
    second = runner.validate(spark, df, RELATION_RULES, "rid", out, **kw)
    skipped = set(second.units_skipped)
    assert {"__fd__det->dep", "__monotonic__gauge",
            "__reconcile__okey~total"} <= skipped
    assert not second.units_done
    assert second.violations(spark).count() == n_first


def test_runner_reconcile_requires_dim(spark, tmp_path):
    """A missing dimension raises before anything is written: no
    stage ahead of $reconcile leaves violations or done marks."""
    df = _runner_df(spark)
    out = str(tmp_path / "x")
    with pytest.raises(ValueError, match=r"\$reconcile table \[totals\]"):
        runner.validate(
            spark, df, RELATION_RULES, "rid", out, snapshot="s",
        )
    assert not os.path.exists(os.path.join(out, "violations"))
    assert Manifest(os.path.join(out, "manifest")).done_units() == set()


def test_runner_complete_only_after_last_stage(spark, tmp_path):
    """One entry per call (max_batches=1) through a ruleset with every
    whole-table stage kind: the run is complete only on the call that
    marks the last stage, and the done set is then exactly the
    partition units plus every stage name."""
    df = _runner_df(spark).withColumn(
        "txt", F.concat(F.lit("shared words in every row "), F.col("rid"))
    )
    rules = load_rules(
        """
rid: {$type: $str, $unique: true}
det: {$type: $str, $fd: {dep: dep}}
dep: {$type: $str, $unique: {with: [grp]}}
gauge: {$type: $float, $monotonic: {per: grp, order: seq}}
txt: {$type: $str, $dupspan: {n: 3}}
okey: {$type: $int, $reconcile: {table: totals, key: k, value: total,
                                 term: "amount", order: seq, tol: 0.01}}
"""
    )
    out = str(tmp_path / "stages")
    stage_names = [
        "__unique__rid", "__unique__dep~grp", "__fd__det->dep",
        "__monotonic__gauge", "__dupspan__txt", "__reconcile__okey~total",
    ]
    kw = dict(
        dims={"totals": _totals_dim(spark)}, snapshot="s",
        partition_col="grp", max_batches=1,
    )
    done_order = []
    for _ in range(1 + len(stage_names)):  # one batch covers g1 + g2
        res = runner.validate(spark, df, rules, "rid", out, **kw)
        done_order += res.units_done
        assert res.complete == (len(done_order) == 2 + len(stage_names))
    assert done_order == ["g1", "g2", *stage_names]
    manifest = Manifest(os.path.join(out, "manifest"))
    assert manifest.done_units() == {"g1", "g2", *stage_names}
    again = runner.validate(spark, df, rules, "rid", out, **kw)
    assert again.complete and not again.units_done


def test_compile_time_column_validation(spark):
    # a misconfigured rule is a RULE error at compile time, never a
    # fake data failure: absent dep / per / order columns raise
    from invalid_spark.checks.rows import compile_row_checks

    df = _runner_df(spark)
    bad_fd = load_rules("det: {$type: $str, $fd: {dep: nope}}")
    with pytest.raises(ValueError, match=r"\[nope\] absent"):
        compile_row_checks(df, bad_fd)
    bad_mono = load_rules(
        "gauge: {$type: $float, $monotonic: {per: grp, order: nope}}"
    )
    with pytest.raises(ValueError, match="absent from table schema"):
        compile_row_checks(df, bad_mono)
    bad_rec = load_rules(
        "okey: {$type: $int, $reconcile: {table: t, key: k, value: v,\n"
        "                                 term: amount, order: nope}}"
    )
    with pytest.raises(ValueError, match="absent from"):
        compile_row_checks(df, bad_rec)
