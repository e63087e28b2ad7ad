"""The traced run: spans around the layer calls, Spark's event log, and
layers timed in isolation.

Spans are recorded from the benchmark's side only: the package's
module functions and classes the runner calls into, and the Spark
calls that run jobs, are wrapped for the traced window and restored
after it. Nothing inside the package changes.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Tracer:
    """In-memory spans: name, start, end, parent span and call id."""

    def __init__(self):
        self.spans: list[dict] = []
        self.call_id: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "call": self.call_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if self.call_id is None:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        for name, owner, attr in _targets():
            self.wrap(owner, attr, name)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def _targets() -> list[tuple]:
    """(span name, owner, attribute) for every call the runner makes
    into a layer. Span names are the package's module names; Spark's
    own job-running calls are ``spark.write`` / ``spark.read``."""
    from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter

    from invalid_spark import io, report
    from invalid_spark.checks import anomaly, drift, image, refint, stats, unique
    from invalid_spark.checks import rows

    return [
        ("dsl.compile", rows, "compile_row_checks"),
        ("checks.rows", rows, "run_row_checks"),
        ("checks.image", image, "pixel_violations"),
        ("checks.unique", unique, "uniqueness_violations"),
        ("checks.unique", unique, "composite_uniqueness_violations"),
        ("checks.refint", refint, "ref_violations"),
        ("checks.refint", refint, "bloom_build"),
        ("checks.refint", refint, "bloom_ref_violations"),
        ("checks.drift", drift, "multi_grid"),
        ("checks.drift", drift, "multi_drift"),
        ("checks.drift", drift, "multi_drift_vs_state"),
        ("checks.drift", drift, "state_frame"),
        ("checks.stats", stats, "stat_assertions"),
        ("checks.anomaly", anomaly, "current_metric_values"),
        ("checks.anomaly", anomaly, "evaluate"),
        ("report", report, "partition_verdicts"),
        ("report", report, "group_verdicts"),
        ("report", report, "rule_metrics"),
        *[("io.manifest", io.Manifest, m)
          for m in ("mark_done", "is_done", "done_units", "read_meta")],
        *[("io.tablelog", io.TableLog, m)
          for m in ("preview", "pending_id", "commit")],
        ("spark.write", DataFrameWriter, "parquet"),
        ("spark.read", DataFrameReader, "parquet"),
        ("spark.read", DataFrame, "collect"),
        ("spark.checkpoint", DataFrame, "localCheckpoint"),
    ]


def noop_write(df) -> None:
    """Materialize every output column: a ``.count()`` lets Catalyst
    prune computed columns, and the scan with them."""
    df.write.format("noop").mode("overwrite").save()


def time_probes(spark, probes) -> tuple[dict, dict]:
    """Run each probe under its own job group; returns (seconds by
    metric, summed when a metric has several probes; job group by
    metric). Row counts run after the timing, under no group."""
    sc = spark.sparkContext
    secs: dict[str, float] = {}
    groups: dict[str, list[str]] = {}
    counts: dict[str, int] = {}
    for i, p in enumerate(probes):
        group = f"probe-{i}"
        sc.setJobGroup(group, p.metric)
        t0 = time.perf_counter()
        df = p.build()
        if df is not None:
            noop_write(df)
        secs[p.metric] = secs.get(p.metric, 0.0) + time.perf_counter() - t0
        groups.setdefault(p.metric, []).append(group)
        sc.setLocalProperty("spark.jobGroup.id", None)
        if p.count:
            counts[p.count] = df.count()
    return {**secs, **counts}, groups


class TracedWorkload:
    """Wraps a workload's calls in a span and a job group per call."""

    def __init__(self, wl, tracer: Tracer, spark):
        self.wl, self.tracer, self.spark = wl, tracer, spark
        self.calls: dict[int, dict] = {}

    def call(self, spark, k: int):
        thunk, check = self.wl.call(spark, k)

        def traced():
            self.spark.sparkContext.setJobGroup(f"call-{k}", f"call {k}")
            self.tracer.call_id = k
            try:
                with self.tracer.span("runner.call") as rec:
                    res = thunk()
            finally:
                self.tracer.call_id = None
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.calls[k] = {"span": rec["id"]}
            return res

        def checked(res):
            out = check(res)
            self.calls[k].update(rows=out.rows, input_bytes=out.input_bytes,
                                 sink_files=out.sink_files, sink_bytes=out.sink_bytes)
            return out

        return traced, checked


def traced_run(spark, wl, seconds: float, measure) -> SimpleNamespace:
    """An untraced window, a traced window, then the isolated layers."""
    r = SimpleNamespace()
    r.untraced = measure(spark, wl, seconds, 1)
    r.tracer = Tracer()
    tw = TracedWorkload(wl, r.tracer, spark)
    r.tracer.install()
    try:
        r.traced = measure(spark, tw, seconds, 1000)
    finally:
        r.tracer.uninstall()
    r.calls = tw.calls
    r.probe_values, r.probe_groups = time_probes(spark, wl.probes(spark))
    return r


# ---- Spark event log ------------------------------------------------------

def read_event_log(log_dir: str, app_id: str) -> dict[int, dict]:
    """Jobs of one application: submit/end (epoch s), job group, and
    task totals (task count and ms, executor CPU, GC, shuffle, spill,
    input bytes, stages that ran tasks)."""
    files = []
    for name in os.listdir(log_dir):
        if app_id not in name:
            continue
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):  # rolling event log directory
            files += sorted(
                (os.path.join(path, f) for f in os.listdir(path)
                 if f.startswith("events_")),
                key=lambda f: int(os.path.basename(f).split("_")[1]),
            )
        else:
            files.append(path)
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = {}
    tasks: list[tuple[int, dict]] = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "group": props.get("spark.jobGroup.id"),
                    }
                    for s in ev["Stage IDs"]:
                        stage_jobs.setdefault(s, []).append(ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev))
    for j in jobs.values():
        j.update(tasks=0, task_ms=[], cpu_s=0.0, gc_s=0.0, shuffle_write=0,
                 shuffle_read=0, spill=0, input_bytes=0, stages=set())
    for stage_id, ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        launch = info["Launch Time"] / 1000.0
        # a stage listed by several jobs ran in the latest one
        # submitted before its task started (later ones skip it)
        owners = [jid for jid in stage_jobs.get(stage_id, [])
                  if jobs[jid]["submit"] <= launch + 1e-3]
        if not owners:
            continue
        j = jobs[max(owners, key=lambda jid: jobs[jid]["submit"])]
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        j["tasks"] += 1
        j["task_ms"].append(info["Finish Time"] - info["Launch Time"])
        j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        j["stages"].add(stage_id)
    return jobs


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def _job_totals(jobs: list[dict]) -> dict:
    task_ms = [t for j in jobs for t in j["task_ms"]]
    return {
        "jobs": len(jobs),
        "stages": sum(len(j["stages"]) for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "cpu_s": sum(j["cpu_s"] for j in jobs),
        "gc_s": sum(j["gc_s"] for j in jobs),
        "shuffle_write": sum(j["shuffle_write"] for j in jobs),
        "shuffle_read": sum(j["shuffle_read"] for j in jobs),
        "spill": sum(j["spill"] for j in jobs),
        "input_bytes": sum(j["input_bytes"] for j in jobs),
        "max_task_ms": max(task_ms, default=0),
        "median_task_ms": statistics.median(task_ms) if task_ms else 0,
    }


def per_call(report: SimpleNamespace, jobs: dict[int, dict]) -> list[dict]:
    """Layer numbers of each traced call, from its spans and the jobs
    of its job group (each job attributed to the innermost span open
    at its submission, by time overlap)."""
    spans = report.tracer.spans
    out = []
    for k, call in sorted(report.calls.items()):
        root = spans[call["span"]]
        mine = [s for s in spans if s["call"] == k and s["id"] != root["id"]]
        cjobs = [j for j in jobs.values()
                 if j["group"] == f"call-{k}" and j["end"] is not None]
        for j in cjobs:
            holders = [s for s in mine if s["start"] <= j["submit"] <= s["end"]]
            j["span"] = max(holders, key=lambda s: s["start"])["name"] if holders else "runner"
        dur = root["end"] - root["start"]

        def total(name):
            return sum(s["end"] - s["start"] for s in mine if s["name"] == name)

        children = [(s["start"], s["end"]) for s in mine if s["parent"] == root["id"]]
        t = _job_totals(cjobs)
        out.append({
            "call": k, "wall_s": dur,
            "dsl.compile_s": total("dsl.compile"),
            "io.manifest_ops": sum(1 for s in mine if s["name"] == "io.manifest"),
            "io.manifest_s": total("io.manifest"),
            "io.tablelog_s": total("io.tablelog"),
            "io.sink_files": call["sink_files"],
            "io.sink_bytes_per_row": call["sink_bytes"] / call["rows"],
            "runner.jobs": t["jobs"],
            "runner.stages": t["stages"],
            "runner.write_s": total("spark.write"),
            "runner.read_s": total("spark.read"),
            "runner.driver_only_s": dur - _union_s(
                [(j["submit"], j["end"]) for j in cjobs], root["start"], root["end"]),
            "runner.input_bytes_read_ratio": t["input_bytes"] / call["input_bytes"],
            "runner.self_s": dur - _union_s(children, root["start"], root["end"]),
            "spark.executor_cpu_s": t["cpu_s"],
            "spark.gc_s": t["gc_s"],
            "spark.shuffle_write_bytes": t["shuffle_write"],
            "spark.shuffle_read_bytes": t["shuffle_read"],
            "spark.spill_bytes": t["spill"],
            "spark.task_count": t["tasks"],
            "jobs_by_span": Counter(j["span"] for j in cjobs),
        })
    return out


def per_layer_names() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def finish(report: SimpleNamespace, log_dir: str, app_id: str, wl, args) -> dict:
    """Per-layer metrics of a traced run (a layer the workload bypasses
    reads 0), with the spans written beside the benchmark."""
    jobs = read_event_log(log_dir, app_id)
    calls = per_call(report, jobs)
    values = {name: statistics.median(c[name] for c in calls)
              for name in calls[0] if name not in ("call", "jobs_by_span")}
    values.update(report.probe_values)
    for metric, groups in report.probe_groups.items():
        if not metric.endswith(("busy_s", "lsh_s")):
            continue
        layer = metric.rsplit(".", 1)[0]
        t = _job_totals([j for j in jobs.values() if j["group"] in groups])
        values[f"{layer}.shuffle_write_bytes"] = t["shuffle_write"]
        values[f"{layer}.max_task_ms"] = t["max_task_ms"]
        values[f"{layer}.median_task_ms"] = t["median_task_ms"]
    rows_in = wl.probe_rows
    values["checks.rows.rows_in"] = rows_in
    if values.get("checks.image.busy_s"):
        values["checks.image.decode_rows_per_s"] = rows_in / values["checks.image.busy_s"]
    if values.get("pipeline.dedup.candidate_pairs"):
        values["pipeline.dedup.verified_ratio"] = (
            values["pipeline.dedup.verified_pairs"]
            / values["pipeline.dedup.candidate_pairs"])
    # wall time of the untraced window, which the end-to-end metrics
    # report as CPU time
    untraced = report.untraced
    values["runner.call_s_p50"] = statistics.median(untraced.times)
    values["runner.rows_per_s"] = untraced.rows / sum(untraced.times)
    values["trace.call_s_p50"] = statistics.median(report.traced.times)
    values["trace.overhead_s"] = values["trace.call_s_p50"] - values["runner.call_s_p50"]

    out_dir = os.path.join(HERE, "_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}")
    with open(stem + ".spans.jsonl", "w", encoding="utf-8") as f:
        for s in report.tracer.spans:
            f.write(json.dumps(s) + "\n")
    with open(stem + ".layers.json", "w", encoding="utf-8") as f:
        json.dump({"calls": calls, "values": values}, f, indent=1)
    return {name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in per_layer_names().items()}
