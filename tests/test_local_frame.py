"""Driver-side rows become Arrow LocalRelations (``model.local_frame``):
no Python worker, the same sink schemas as before, and one code path
for every frame the package builds from driver rows."""

from __future__ import annotations

import ast
import math
import os
import re

import pytest
from pyspark.sql import functions as F

from invalid_spark import model, runner
from invalid_spark.dsl import load_rules
from invalid_spark.io import TableLog

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "invalid_spark")


def test_create_dataframe_only_inside_local_frame():
    """Every ``.createDataFrame(`` call in the package sits inside
    ``model.local_frame``: a Python-list frame would start Python
    tasks on each action over it."""
    calls = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for n in ast.walk(fn):
                        owner.setdefault(n, []).append(fn.name)
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "createDataFrame"
                ):
                    rel = os.path.relpath(path, PKG)
                    calls.append((rel, n.lineno, owner.get(n, [])))
    assert calls, "the scan found no createDataFrame call at all"
    stray = [
        (p, line) for p, line, fns in calls
        if not (p == "model.py" and "local_frame" in fns)
    ]
    assert stray == []


def test_state_publish_and_recovery_only_in_shared_helpers():
    """Outside ``io.publish`` and ``io.recover`` no module in the
    package calls ``os.replace`` or builds a ``.tmp`` / ``.old`` path:
    every state file or directory is published and recovered one
    way."""
    helpers = {("io.py", "publish"), ("io.py", "recover")}
    found, stray = [], []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for n in ast.walk(fn):
                        owner.setdefault(n, []).append(fn.name)
            docs = {
                n.value for n in ast.walk(tree)
                if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
            }
            for n in ast.walk(tree):
                replace = (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "replace"
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id == "os"
                )
                suffix = (
                    isinstance(n, ast.Constant) and n not in docs
                    and isinstance(n.value, str)
                    and re.search(r"\.(tmp|old)\b", n.value)
                )
                if replace or suffix:
                    found.append(rel)
                    if not any((rel, fn) in helpers for fn in owner.get(n, [])):
                        stray.append((rel, n.lineno))
    assert "io.py" in found, "the scan found the shared helpers' work nowhere"
    assert stray == []


def test_local_frame_plans_as_local_relation(spark):
    df = model.local_frame(
        spark, [("a", 1.0), ("b", None)], "k string, x double"
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    text = plan.toString()
    assert "ExistingRDD" not in text and "LogicalRDD" not in text
    assert df.count() == 2


def test_local_frame_values_and_schema(spark):
    """Tuples and dicts, None and NaN, an int into a double column,
    nested arrays and an empty row list all keep the declared schema;
    a NULL in a non-nullable field raises."""
    ddl = "k string, x double, n long, xs array<double>"
    rows = model.local_frame(
        spark,
        [("a", 1, 2, [1, 2.5]), ("b", None, None, None),
         {"k": "c", "x": float("nan"), "n": 3, "xs": []}],
        ddl,
    )
    assert rows.schema.simpleString() == (
        "struct<k:string,x:double,n:bigint,xs:array<double>>"
    )
    got = {r["k"]: r for r in rows.collect()}
    assert got["a"]["x"] == 1.0 and isinstance(got["a"]["x"], float)
    assert got["a"]["xs"] == [1.0, 2.5]
    assert got["b"]["x"] is None and got["b"]["n"] is None
    assert math.isnan(got["c"]["x"]) and got["c"]["xs"] == []

    empty = model.local_frame(spark, [], model.VIOLATION_SCHEMA)
    assert empty.schema == model.VIOLATION_SCHEMA
    assert empty.count() == 0

    assert not model.VIOLATION_SCHEMA["error_type"].nullable
    v = model.local_frame(
        spark, [{"column": "c", "error_type": "keyMissing"}],
        model.VIOLATION_SCHEMA,
    )
    assert not v.schema["error_type"].nullable
    assert v.collect()[0]["row_key"] is None
    with pytest.raises(ValueError, match="error_type"):
        model.local_frame(spark, [{"column": "c"}], model.VIOLATION_SCHEMA)


# the sinks' schemas as the createDataFrame(<python list>) code wrote them
SINK_SCHEMAS = {
    "drift": "struct<column:string,test:string,statistic:double,"
    "p_value:double,drifted:boolean,run_id:string,snapshot_id:string>",
    "anomalies": "struct<col_name:string,metric:string,value:double,"
    "baseline:double,rel_change:double,z_score:double,n_history:int,"
    "passed:boolean,run_id:string,snapshot_id:string>",
    "metrics_history": "struct<col_name:string,metric:string,value:double,"
    "seq:bigint,run_id:string,snapshot_id:string>",
    "assertions": "struct<col_name:string,stat:string,value:double,"
    "bound_min:double,bound_max:double,passed:boolean,run_id:string,"
    "snapshot_id:string>",
    "schema_changes": "struct<col_name:string,change:string,before:string,"
    "after:string,run_id:string,snapshot_id:string>",
    "violations": "struct<row_key:string,column:string,rule_id:string,"
    "error_type:string,message:string,observed:string,partition_id:int,"
    "unit:string,run_id:string,snapshot_id:string>",
}


def test_sink_schemas_unchanged(spark, tmp_path):
    """Two appended snapshots through $drift, $anomaly, $assert and a
    retyped column: every driver-built sink keeps its column names,
    types and order, and NaN / NULL values land as they did."""
    t = str(tmp_path / "tbl")
    rules = load_rules(
        "v: {$type: $float, $drift: {test: ks, threshold: 0.01}, "
        "$anomaly: {metric: mean, max_rel_change: 0.5}, "
        "$assert: {stat: mean, min: 0, max: 1000}}\n"
        "lang: {$type: $str, $of: [en, fr], "
        "$drift: {test: chi2, threshold: 0.01}, "
        "$anomaly: {metric: violation_rate, max_rel_change: 0.5}}\n"
        "tag: {$type: $str}\n"
    )
    log = TableLog(str(tmp_path / "log"))
    out = str(tmp_path / "audit")
    spark.createDataFrame(
        [(i, float(i), "en" if i % 3 else "fr", "t") for i in range(40)],
        "doc_id long, v double, lang string, tag string",
    ).coalesce(1).write.parquet(os.path.join(t, "f0"))
    r1 = runner.validate_appended(spark, t, log, rules, "doc_id", out)
    # first snapshot: no baseline yet (NULL baseline / rel_change)
    a1 = {r["col_name"]: r for r in r1.anomalies(spark).collect()}
    assert a1["v"]["baseline"] is None and a1["v"]["n_history"] == 0
    # second snapshot: a NaN and a NULL in v, 4 enum misses, and tag
    # retyped string -> int (schema-level typeMismatch + a change row)
    spark.createDataFrame(
        [(100 + i, math.nan if i == 0 else None if i == 1 else i * 3.0,
          "xx" if 2 <= i < 6 else "en", i) for i in range(40)],
        "doc_id long, v double, lang string, tag int",
    ).coalesce(1).write.parquet(os.path.join(t, "f1"))
    r2 = runner.validate_appended(spark, t, log, rules, "doc_id", out)

    sinks = {s: spark.read.parquet(os.path.join(out, s)) for s in SINK_SCHEMAS}
    for name, want in SINK_SCHEMAS.items():
        assert sinks[name].schema.simpleString() == want, name

    snap = F.col("snapshot_id") == r2.snapshot
    a2 = {r["col_name"]: r for r in sinks["anomalies"].collect()}
    assert math.isnan(a2["v"]["value"]) and a2["v"]["baseline"] == 19.5
    assert a2["v"]["z_score"] is None and not a2["v"]["passed"]
    assert a2["lang"]["value"] == pytest.approx(4 / 40)
    hist = sinks["metrics_history"]
    assert hist.count() == 4 and hist.filter(snap).count() == 2
    (asrt,) = sinks["assertions"].collect()
    assert math.isnan(asrt["value"]) and not asrt["passed"]
    assert (asrt["bound_min"], asrt["bound_max"]) == (0.0, 1000.0)
    assert {r["column"] for r in sinks["drift"].filter(snap).collect()} == {
        "lang", "v"
    }
    (chg,) = sinks["schema_changes"].collect()
    assert (chg["col_name"], chg["change"], chg["before"], chg["after"]) == (
        "tag", "type_changed", "string", "int"
    )
    (sv,) = sinks["violations"].filter(F.col("unit") == "__schema__").collect()
    assert (sv["row_key"], sv["column"], sv["error_type"]) == (
        None, "tag", "typeMismatch"
    )
    assert sv["snapshot_id"] == r2.snapshot and sv["partition_id"] is None


def _parquet_files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def test_write_rows_overwrite_and_append(spark, tmp_path):
    """Overwrite swaps in a new sink and leaves no temp directory
    beside it; append adds exactly one part file."""
    out = tmp_path / "audit"
    sink = str(out / "sink")
    ddl = "k string, n long"
    model.write_rows(sink, [("a", 1), ("b", 2)], ddl)
    model.write_rows(sink, [("c", 3)], ddl)
    assert os.listdir(out) == ["sink"]
    assert len(_parquet_files(sink)) == 1
    assert [tuple(r) for r in spark.read.parquet(sink).collect()] == [("c", 3)]

    before = _parquet_files(sink)
    model.write_rows(sink, [{"k": "d", "n": 4}], ddl, mode="append")
    after = _parquet_files(sink)
    assert len(after) == 2 and set(before) < set(after)
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [
        "c", "d"
    ]
    assert os.listdir(out) == ["sink"]
    assert [f for f in os.listdir(sink) if f.startswith(".")] == []
    with pytest.raises(ValueError, match="mode"):
        model.write_rows(sink, [], ddl, mode="ignore")


def test_write_rows_empty_and_null_nan(spark, tmp_path):
    """An empty row list still writes a sink with the declared schema;
    NaN and NULL come back as written; a NULL in a non-nullable field
    raises before anything is written."""
    ddl = "k string, x double, n long, ok boolean, i int"
    empty = str(tmp_path / "empty")
    model.write_rows(empty, [], ddl)
    got = spark.read.parquet(empty)
    assert got.schema.simpleString() == (
        "struct<k:string,x:double,n:bigint,ok:boolean,i:int>"
    )
    assert got.count() == 0

    vals = str(tmp_path / "vals")
    model.write_rows(
        vals, [("nan", math.nan, 1, True, 2), ("null", None, None, None, None)],
        ddl,
    )
    rows = {r["k"]: r for r in spark.read.parquet(vals).collect()}
    assert math.isnan(rows["nan"]["x"]) and rows["nan"]["i"] == 2
    assert all(rows["null"][c] is None for c in ("x", "n", "ok", "i"))

    bad = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="error_type"):
        model.write_rows(bad, [{"column": "c"}], model.VIOLATION_SCHEMA)
    assert not os.path.exists(bad)


def test_runner_writes_no_local_frame():
    """A sink of driver-side rows is written by the driver
    (``model.write_rows``): no ``local_frame(...)`` chain in
    ``runner.py`` ends in ``.write``, which would spend a Spark job
    moving rows the driver already holds."""
    path = os.path.join(PKG, "runner.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)

    def chain_calls(node):
        # the calls along a method chain: a(...).b(...).write -> a, b
        while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
            if isinstance(node, ast.Call):
                f = node.func
                yield f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None)
                node = f
            else:
                node = node.value

    writes = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "write"
    ]
    assert writes, "the scan found no .write at all"
    stray = [n.lineno for n in writes if "local_frame" in chain_calls(n.value)]
    assert stray == []
