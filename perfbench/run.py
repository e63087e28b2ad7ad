"""End-to-end benchmark of the validation engine on this host.

    python3 perfbench/run.py --workload images_full --seed 1 --seconds 10 --trace 0

One driver process on ``local[<nproc>]`` runs a closed loop with one
entry-point call in flight for ``--seconds``, checks every call's
output, and prints one JSON line last on stdout. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs an untraced window, a
traced window and isolated layer timings, and reports the per-layer
metrics (see README.md in this directory).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# the JVM heap, sized for a 15 GB host shared with other jobs
DRIVER_MEM = "1g"
# C1 only, with room for all its code: the default C2 tier keeps
# compiling for tens of seconds after the warm-up call, and per-call
# CPU fell 30% over the first four timed calls with it
JIT_OPTS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m "
            "-XX:-UseCodeCacheFlushing")


def host_state() -> dict:
    """nproc, summed steal jiffies and 1-min loadavg, to tell a noisy
    capture from a slow program."""
    steal = 0
    with open("/proc/stat", encoding="ascii") as f:
        for line in f:
            if line.startswith("cpu "):
                steal = int(line.split()[8])
                break
    with open("/proc/loadavg", encoding="ascii") as f:
        load1 = float(f.read().split()[0])
    return {"nproc": len(os.sched_getaffinity(0)), "steal_jiffies": steal,
            "loadavg1": load1}


def prepare_env(scratch: str) -> None:
    """Python workers must import the package from the checkout, and
    every temporary file stays under the benchmark's own directory."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + ([old] if old else []))
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(scratch: str, event_log: bool):
    from invalid_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # a fully committed heap, so peak RSS does not depend on when
        # the collector chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            + JIT_OPTS,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if event_log:
        logs = os.path.join(scratch, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=len(os.sched_getaffinity(0)),
                     extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit,
    so its peak RSS is counted in RUSAGE_CHILDREN."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


_TICK = os.sysconf("SC_CLK_TCK")


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by this process, by the
    process ``root`` and by every live descendant of ``root``, with the
    children each has reaped (Spark's Python workers are forked by a
    daemon under the JVM)."""
    stat = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields[1] is the ppid; [11:15] utime, stime, cutime, cstime
        stat[int(name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    own = os.times()
    return own.user + own.system + ticks / _TICK


def peak_rss_mb() -> float:
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + jvm) / 1024.0


@dataclass
class Window:
    """One closed-loop window: wall and CPU seconds of each call, rows
    validated, failed calls and their notes."""

    times: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)
    rows: int = 0
    fails: int = 0
    notes: list[str] = field(default_factory=list)


def measure(spark, wl, seconds: float, first_call: int) -> Window:
    """Closed loop for ``seconds``. A call that starts before the
    deadline runs to completion."""
    w = Window()
    k = first_call
    jvm = jvm_pid()
    deadline = time.perf_counter() + seconds
    while not w.times or time.perf_counter() < deadline:
        thunk, check = wl.call(spark, k)
        c0 = cpu_s(jvm)
        t0 = time.perf_counter()
        note = None
        try:
            res = thunk()
        except Exception:  # a failed call is counted, not fatal
            res, note = None, traceback.format_exc(limit=3)
        w.times.append(time.perf_counter() - t0)
        w.cpus.append(cpu_s(jvm) - c0)
        if res is not None:
            try:
                out = check(res)
                w.rows += out.rows
                if not out.ok:
                    note = f"call {k}: wrong output {out.detail}"
            except Exception:
                note = traceback.format_exc(limit=3)
        if note is not None:
            w.fails += 1
            w.notes.append(note)
        k += 1
    return w


def tail(times: list[float]) -> tuple[int, float] | None:
    """The highest percentile with at least ten calls beyond it, when
    a run has twenty or more calls."""
    n = len(times)
    if n < 20:
        return None
    pct = int(100 * (n - 10) / n)
    return pct, sorted(times)[n - 10 - 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    cache = os.path.join(WORK, "stage")
    os.makedirs(cache, exist_ok=True)
    prepare_env(scratch)
    try:
        import invalid_spark  # noqa: F401
    except ImportError as e:
        shutil.rmtree(scratch, ignore_errors=True)
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        return 2

    host0 = host_state()
    wl = WORKLOADS[args.workload](cache, scratch, args.seed)
    spark = None
    try:
        t0 = time.time()
        wl.stage()
        staging_s = time.time() - t0
        spark = start_spark(scratch, event_log=args.trace == 1)
        wl.open(spark)
        t1 = time.time()
        wl.warmup(spark)
        warmup_s = time.time() - t1
        # process start until ready for the first timed call, staging
        # excluded
        setup_s = time.time() - T_PROCESS - staging_s

        if args.trace:
            import spans as tr

            report = tr.traced_run(spark, wl, args.seconds, measure)
            app_id = spark.sparkContext.applicationId
            stop_jvm(spark)
            metrics = tr.finish(report, os.path.join(scratch, "eventlog"),
                                app_id, wl, args)
            windows = [report.untraced, report.traced]
        else:
            w = measure(spark, wl, args.seconds, 1)
            stop_jvm(spark)
            windows = [w]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "call_cpu_s_p50": {"value": statistics.median(w.cpus), "unit": "s"},
                "rows_per_cpu_s": {"value": w.rows / sum(w.cpus), "unit": "rows/cpu-s"},
                "peak_rss_mb": {"value": peak_rss_mb(), "unit": "MB"},
            }
    finally:
        if spark is not None:  # a failed run still stops its JVM
            stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    times = [t for w in windows for t in w.times]
    cpus = [c for w in windows for c in w.cpus]
    rows = sum(w.rows for w in windows)
    fails = sum(w.fails for w in windows)
    for w in windows:
        for note in w.notes:
            print(note, file=sys.stderr)
    detail = {
        "workload": args.workload, "seed": args.seed, "calls": len(times),
        "call_s": times, "call_cpu_s": cpus,
        "call_s_p50": statistics.median(times), "rows_per_s": rows / sum(times),
        "setup_s": setup_s, "warmup_s": warmup_s, "staging_s": staging_s,
        "fail_rate": fails / len(times), "tail": tail(times),
        "host_before": host0, "host_after": host_state(),
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": fails == 0, "attempted": len(times), "failed": fails,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
