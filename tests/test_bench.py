"""``bench.py`` output contract: the per-query detail, then a short
summary line that a reader of only the output's tail can parse."""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_output_ends_in_short_summary_line(monkeypatch, capsys):
    bench = _bench()
    # a full-size record: over a hundred timed queries, as a real run has
    names = [f"query_name_{i:03d}" for i in range(120)]
    timings = {q: 12.345 for q in names}
    monkeypatch.setattr(bench, "run_once", lambda cores, sf_dir: (
        1_234_567, 9.87, timings, {q: 123 for q in names}, names[:10], None))
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.1")
    monkeypatch.setattr("sys.argv", ["bench.py"])
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines[-1].encode()) <= 200
    tail = json.loads(lines[-1])
    assert list(tail) == ["metric", "value", "sf", "n", "steal_jiffies", "cores"]
    assert tail["metric"] == "validated_rows_per_sec"
    assert tail["value"] == round(1_234_567 / 9.87, 1)
    assert tail["sf"] == 0.1 and tail["n"] == 3
    assert isinstance(tail["steal_jiffies"], int)
    assert tail["cores"] == bench.CPUS
    detail = json.loads(lines[-2])
    assert detail["queries"] == timings and detail["value"] == tail["value"]


def test_timed_plans_read_their_columns(spark, monkeypatch):
    """Every query ``bench.py`` times runs through the noop sink, and
    none of the timed plans reads an empty schema: a ``.count()`` lets
    Catalyst prune every computed column and the scan with it, which
    shows as ``ReadSchema: struct<>``. Plans are recorded, not run."""
    from test_entry_oracle import SF_DIR

    bench = _bench()
    plans = []
    monkeypatch.setattr(bench, "noop_write", lambda df: plans.append(
        df._jdf.queryExecution().executedPlan().toString()))
    monkeypatch.setattr(bench, "CPUS", 4)
    monkeypatch.setattr(bench, "N_IMAGES", 64)
    monkeypatch.setattr(bench, "TRIALS", 1)
    _, timings, _, headline = bench._validated_rows(spark, SF_DIR)
    assert len(timings) > 50 and set(headline) <= set(timings)
    assert len(plans) == len(timings)
    empty = [p for p in plans if "ReadSchema: struct<>" in p]
    assert empty == [], empty[0]
