"""The layers the traced run times in isolation must do their work.

A ``.count()`` lets Catalyst prune every computed column and then the
scan itself (``ReadSchema: struct<>``), so a layer timed that way
measures parquet row counting. Every probe must read real columns and
be materialized through a ``noop`` write.

    python3 -m pytest perfbench/test_plans.py -q
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


class SmallImages(workloads.ImagesFull):
    n_rows = 300
    probe_rows = n_rows


class SmallLineitem(workloads.LineitemAppend):
    base_rows = step_rows = probe_rows = 2000
    n_appends = 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    scratch = str(tmp_path_factory.mktemp("perfbench"))
    run.prepare_env(scratch)
    s = run.start_spark(scratch, event_log=False)
    yield s, scratch
    s.stop()


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _empty_scan(plan: str) -> bool:
    return "ReadSchema: struct<>" in plan


@pytest.fixture(scope="module", params=[SmallImages, SmallLineitem],
                ids=lambda w: w.name)
def probes(request, spark):
    s, scratch = spark
    wl = request.param(os.path.join(scratch, "stage"), scratch, seed=3)
    os.makedirs(wl.cache, exist_ok=True)
    wl.stage()
    wl.open(s)
    wl.warmup(s)
    return s, wl.probes(s)


def test_a_count_plan_is_caught(spark):
    """The check below does flag the pitfall it guards against."""
    s, scratch = spark
    path = os.path.join(scratch, "t.parquet")
    s.range(10).selectExpr("id", "id * 2 AS v").write.mode("overwrite").parquet(path)
    counted = s.read.parquet(path).selectExpr("v + 1 AS w").groupBy().count()
    assert _empty_scan(_plan(counted))


def test_probe_plans_read_columns(probes):
    _, ps = probes
    for p in ps:
        df = p.build()
        if df is not None:
            assert not _empty_scan(_plan(df)), p.metric


def test_probes_are_timed_through_noop_writes(probes, monkeypatch):
    import inspect

    from pyspark.sql import DataFrame, DataFrameWriter

    s, ps = probes
    built, formats = [], []
    orig_format, orig_count = DataFrameWriter.format, DataFrame.count

    def record_format(self, source):
        formats.append(source)
        return orig_format(self, source)

    def count_outside_timing(self):
        # the package may count internally; the timing code may not
        caller = inspect.stack()[1].filename
        assert caller != spans.__file__, "a probe was timed through .count()"
        return orig_count(self)

    def recorded(build):
        def wrapper():
            df = build()
            built.append(df is not None)
            return df
        return wrapper

    monkeypatch.setattr(DataFrameWriter, "format", record_format)
    monkeypatch.setattr(DataFrame, "count", count_outside_timing)
    spans.time_probes(s, [workloads.Probe(p.metric, recorded(p.build)) for p in ps])
    assert formats.count("noop") == sum(built)
