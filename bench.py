#!/usr/bin/env python
"""Per-round benchmark harness.

Runs the headline operators at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints two
JSON lines: the full record with the per-query detail, then a summary
of at most 200 bytes that a reader of the output's tail can parse::

  {"metric": "validated_rows_per_sec", "value": N, "sf": 0.1, "n": 3,
   "steal_jiffies": S, "cores": C}

The headline metric is constraint-eval throughput (BASELINE.md): rows
validated per second by the compiled row-check projection over the
largest table (lineitem) plus the synthetic image+caption validation
(decode/PSNR/phash UDF stage included) — the north-rule workload.

Scaling mode (the north rule's two-cluster-size criterion, proxied
per driver instructions by two parallelism levels on one host)::

  python bench.py --scaling     # local[8] vs local[32], same input

prints the same two lines with throughput at both levels and the
scaling efficiency, and is recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from perfbench.spans import noop_write  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

LINEITEM_RULES = """
l_orderkey: {$type: $int}
l_quantity: {$type: $float, $range: {$min: 1, $max: 50}}
l_extendedprice: {$type: $float, $range: {$min: 0, $max: 2000000}}
l_discount: {$type: $float, $range: {$min: 0, $max: 0.11}}
l_tax: {$type: $float, $range: {$min: 0, $max: 0.09}}
l_returnflag: {$type: $str, $of: [A, N, R]}
l_linestatus: {$type: $str, $of: [O, F]}
"""

IMG_RULES = """
image_id: {$type: $str, $reg: '^img-[0-9]{12}$'}
w: {$type: $int, $range: {$min: 1, $max: 100000}}
h: {$type: $int, $range: {$min: 1, $max: 100000}}
fmt: {$type: $str, $of: [png, jpeg, webp]}
caption: {$type: $str, $length: {$min: 1, $max: 10000}}
"""

N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "16000"))
# trials per timed query; the record keeps the fastest
TRIALS = 3


def _validated_rows(spark, sf_dir: str) -> tuple[int, dict[str, float]]:
    """Run the headline jobs; return (rows validated, per-query secs)."""
    import __spark_entry__ as entry
    from invalid_spark.checks import image as image_checks
    from invalid_spark.checks import rows as rowchecks
    from invalid_spark.checks import unique
    from invalid_spark.dsl import load_rules
    from invalid_spark import synth
    from pyspark.sql import functions as F

    timings: dict[str, float] = {}
    steals: dict[str, int] = {}
    headline: list[str] = []
    validated = 0

    def timed(name, build, rows=0, in_headline=True):
        # best-of-3: this host shows intermittent 2-4x slowdowns
        # (co-tenant CPU steal); min over three trials reports the
        # engine's cost, not the neighbor's (n=2 still let one noisy
        # capture burn a round of signal — VERDICT r2 item 7)
        #
        # per-query steal attribution (VERDICT r4 item 2): the steal
        # delta of the WINNING trial rides along, so a single noisy
        # query self-identifies in the JSON instead of requiring a
        # full rerun to explain one outlier.
        #
        # in_headline=False queries are timed for regression coverage
        # only: the headline rows/s stays computed over the SAME
        # 10-query set as rounds 1-3, so it remains comparable
        # (adding fast queries to the accumulator would inflate it).
        #
        # ``build`` returns the query's DataFrame and the timer writes
        # it to the noop sink, materializing every output column: a
        # .count() would let Catalyst prune computed columns, and the
        # scan with them (text_quality plans as ReadSchema: struct<>).
        # ``rows`` is the input row count the query validates.
        nonlocal validated
        best, best_steal = None, 0
        for _ in range(TRIALS):
            s0 = _steal_jiffies()
            t0 = time.perf_counter()
            noop_write(build())
            el = time.perf_counter() - t0
            sd = _steal_jiffies() - s0
            if best is None or el < best:
                best, best_steal = el, sd
        timings[name] = round(best, 3)
        steals[name] = best_steal
        if in_headline:
            headline.append(name)
            validated += rows

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li_rules = load_rules(LINEITEM_RULES)
    n_li = li.count()
    timed(
        "rowcheck_lineitem",
        lambda: rowchecks.run_row_checks(li, li_rules, "l_orderkey"), n_li,
    )

    timed(
        "stats_profile_lineitem",
        lambda: entry.q_stats_profile_lineitem(spark, sf_dir), n_li,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    n_part = part.count()
    timed(
        "unique_part_name",
        lambda: unique.uniqueness_violations(part, "p_name", "p_partkey"), n_part,
    )

    timed(
        "ref_lineitem_suppkey",
        lambda: entry.q_ref_lineitem_suppkey(spark, sf_dir), n_li,
    )

    timed(
        "ref_bloom",
        lambda: entry.q_ref_bloom_lineitem(spark, sf_dir), n_li,
        in_headline=False,
    )

    timed(
        "pack_sequences",
        lambda: entry.q_pack_documents(spark, sf_dir),
        in_headline=False,
    )

    timed(
        "dsir_sample",
        lambda: entry.q_dsir_sample_documents(spark, sf_dir),
        in_headline=False,
    )

    timed(
        "dedup_minhash_incremental",
        lambda: entry.q_dedup_minhash_incremental_documents(
            spark, sf_dir),
        in_headline=False,
    )

    timed(
        "chunk_documents",
        lambda: entry.q_chunk_documents(spark, sf_dir),
        in_headline=False,
    )

    timed(
        "phash_incremental",
        lambda: entry.q_phash_incremental(spark, sf_dir),
        in_headline=False,
    )

    timed(
        "minhash_screen",
        lambda: entry.q_streaming_minhash_screen_documents(
            spark, sf_dir),
        in_headline=False,
    )

    timed(
        "bucket_skew",
        lambda: entry.q_bucket_skew_documents(spark, sf_dir),
        in_headline=False,
    )

    timed(
        "ann_recall",
        lambda: entry.q_ann_recall_embeddings(spark, sf_dir),
        in_headline=False,
    )

    def _semantic_dedup_scaled():
        # the library path at production codebook sizing (n_lists ~
        # sqrt(N)); the entry query pins n_lists=8 as the oracle
        # anchor, which makes per-cluster work quadratically heavier
        # than the sizing rule the docstring prescribes
        from invalid_spark.pipeline import dedup as _dd
        from pyspark.sql import functions as _F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        spiked = emb.unionByName(
            emb.filter(_F.col("vec_id") % 20 == 0).withColumn(
                "vec_id", _F.col("vec_id") + 100000
            )
        )
        n = spiked.count()
        return _dd.semantic_dedup(
            spiked, threshold=0.9, n_lists=max(8, int(n ** 0.5))
        )

    timed("semantic_dedup", _semantic_dedup_scaled, in_headline=False)

    timed(
        "semantic_incremental",
        lambda: entry.q_semantic_incremental_embeddings(
            spark, sf_dir),
        in_headline=False,
    )

    timed(
        "alignment_gate",
        lambda: entry.q_alignment_embeddings(spark, sf_dir),
        in_headline=False,
    )

    timed(
        "top_fraction",
        lambda: entry.q_top_fraction_documents(spark, sf_dir),
        in_headline=False,
    )

    timed(
        "semantic_contamination",
        lambda: entry.q_semantic_contamination_embeddings(
            spark, sf_dir),
        in_headline=False,
    )

    timed(
        "alignment_windows",
        lambda: entry.q_streaming_alignment_windows(
            spark, sf_dir),
        in_headline=False,
    )

    # skew handling: uniqueness (partial-combine aggregate) with a hot
    # key on 10% of rows
    skew_n = 50_000
    skew_df = synth.images_df(spark, skew_n, partitions=CPUS * 2, skew=True)
    timed(
        "unique_phash_skewed",
        lambda: unique.duplicate_keys(skew_df, "phash"), skew_n,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    timed(
        "dedup_minhash_lsh",
        lambda: entry.q_dedup_minhash_lsh_documents(spark, sf_dir), n_docs,
    )
    timed(
        "text_quality",
        lambda: entry.q_text_quality_documents(spark, sf_dir), n_docs,
    )

    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    timed(
        "ann_brute_topk",
        lambda: entry.q_ann_brute_topk_embeddings(spark, sf_dir), n_emb,
    )

    timed(
        "drift_ks_events",
        lambda: entry.q_drift_ks_events(spark, sf_dir), n_events,
    )

    # image validation: synthetic north-rule table, includes the
    # Arrow-UDF decode/PSNR/phash stage (the expensive per-row work)
    img = synth.images_df(spark, N_IMAGES, partitions=CPUS * 2)
    img_rules = load_rules(IMG_RULES)

    def image_job():
        v = rowchecks.run_row_checks(img, img_rules, "image_id")
        v2 = image_checks.pixel_violations(img)
        return v.unionByName(v2.select(*v.columns))

    timed("image_validate", image_job, N_IMAGES)

    # ---- regression coverage (not in the headline accumulator) ------
    for name, q in (
        ("text_contamination", entry.q_text_contamination_documents),
        ("dup_spans", entry.q_dup_spans_documents),
        ("text_unigram_lm", entry.q_text_unigram_lm_documents),
        ("text_vocab", entry.q_text_vocab_documents),
        ("streaming_profile", entry.q_streaming_profile_events),
        ("text_pii", entry.q_text_pii_documents),
        ("text_linefilter", entry.q_text_linefilter_documents),
        ("hash_sample", entry.q_sample_documents),
        ("curate", entry.q_curate_documents),
        ("anomaly_history", entry.q_anomaly_history_events),
        ("streaming_dedup_metrics", entry.q_streaming_dedup_metrics_events),
        ("ann_ivf", entry.q_ann_ivf_embeddings),
        ("drift_psi", entry.q_drift_psi_events),
        ("drift_w1", entry.q_drift_w1_events),
        ("rowcheck_expr", entry.q_rowcheck_expr_lineitem),
        ("percentiles_exact", entry.q_percentiles_exact_lineitem),
        ("stats_entropy", entry.q_stats_entropy_events),
        ("stats_corr", entry.q_stats_corr_lineitem),
        ("stats_mi", entry.q_stats_mi_events),
        ("hot_keys", entry.q_hot_keys_events),
        ("cms_heavy_hitters", entry.q_cms_heavy_hitters_events),
        ("top_fraction_by_lang", entry.q_top_fraction_by_lang_documents),
        ("weighted_sample", entry.q_weighted_sample_documents),
        ("weighted_sample_by_lang", entry.q_weighted_sample_by_lang_documents),
        ("streaming_watch_counts", entry.q_streaming_watch_counts_events),
        ("freshness_by_group", entry.q_freshness_by_group_events),
        ("fd", entry.q_fd_lineitem),
        ("monotonic", entry.q_monotonic_events),
        ("reconcile", entry.q_reconcile_orders),
        ("magic_header", entry.q_magic_header_docs),
        ("emb_drift", entry.q_emb_drift_embeddings),
        ("rowcheck_when", entry.q_rowcheck_when_documents),
        ("drift_partitioned", entry.q_drift_partitioned_events),
        ("snapshot_diff", entry.q_snapshot_diff_documents),
        ("mix_sample", entry.q_mix_sample_documents),
        ("dedup_incremental", entry.q_dedup_incremental_documents),
        ("chi2_expected", entry.q_chi2_expected_events),
    ):
        timed(name, lambda q=q: q(spark, sf_dir), in_headline=False)

    return validated, timings, steals, headline


def run_once(cores: int, sf_dir: str):
    from invalid_spark.session import get_spark

    spark = get_spark(f"bench_{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    # warm JVM codegen + Python worker pool before timing
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    from invalid_spark import synth as _synth

    _synth.images_df(spark, 8 * cores, partitions=cores).count()
    # JIT/codegen warmup for the heavier pipelines at toy scale
    from invalid_spark.pipeline import dedup as _dedup

    _docs_tiny = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64).cache()
    _docs_tiny.count()
    _dedup.minhash_lsh_dedup(_docs_tiny, 0.8).count()
    _docs_tiny.unpersist()
    validated, timings, steals, headline = _validated_rows(spark, sf_dir)
    total = sum(timings[k] for k in headline)
    return validated, total, timings, steals, headline, spark


# ---------------------------------------------------------------------------
# scaling mode

def _steal_jiffies() -> int:
    """Accumulated hypervisor steal time (jiffies) from /proc/stat —
    the delta around a run is the honest marker for 'a co-tenant VM
    ate this capture' (loadavg can read 0 while the hypervisor
    throttles every core; observed on this host as 4→16 efficiency
    swinging 0.52-0.88 with identical code)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0


SCALE_N = int(os.environ.get("SPARK_GRAFT_SCALING_IMAGES", "256000"))
# N and 4N parallelism levels. On this 32-core host we use 4 -> 16 so
# that JVM task threads + Python UDF workers (2 threads/processes per
# task slot for a Python-stage) never oversubscribe the machine at the
# 4N level -- at local[32] the job would compete with its own executor
# threads and measure contention, not scaling. Override via env.
SCALE_N_CORES = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))


def _scaling_worker(cores: int) -> None:
    """One timed run of the constraint-eval pipeline at `cores` task
    slots; prints a JSON line.

    Methodology (each point is load-bearing for an honest number):

    - **Fresh process per level** — a restarted in-process
      SparkContext shows degraded scheduling.
    - **CPU affinity** — the process (and every JVM/Python child) is
      PINNED to `cores` CPUs. Without pinning, a local[N] run on an
      idle machine leaks beyond its N task slots (each Python-stage
      task overlaps ~1 core of JVM Arrow pipelining with ~1 core of
      Python decode), inflating the small-N baseline. Affinity makes
      N cores mean N cores, the way N executors mean N machines.
    - **Map-only measured job** — per-partition synthetic generation
      → compiled row-check projection + Arrow-UDF decode/PSNR/phash,
      no parquet scan, no shuffle. On a cluster, scans and shuffles
      spread across every node's disks and NICs; on one laptop they
      serialize on a single disk, so including them would measure
      that disk, not the engine. The map pipeline is exactly the
      per-executor work whose scaling the north rule cares about
      (shuffle-stage operators are benchmarked separately in the
      throughput mode).
    """
    os.sched_setaffinity(0, set(range(cores)))
    from invalid_spark.checks import image as image_checks
    from invalid_spark.checks import rows as rowchecks
    from invalid_spark.dsl import load_rules
    from invalid_spark.session import get_spark
    from invalid_spark import synth

    spark = get_spark(f"scale_{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    synth.images_df(spark, 8 * cores, partitions=cores).count()  # warm workers
    rules = load_rules(IMG_RULES)
    img = synth.images_df(spark, SCALE_N, partitions=cores * 3)
    # best-of-2 per level: intermittent co-tenant slowdowns on this
    # host swing a single-shot efficiency number by +-0.15; min wall
    # per level measures the engine, not the neighbor
    runs, n_viol = [], 0
    steal0 = _steal_jiffies()
    for _ in range(2):
        t0 = time.perf_counter()
        v = rowchecks.run_row_checks(img, rules, "image_id")
        vp = image_checks.pixel_violations(img)
        viol = v.unionByName(vp.select(*v.columns))
        # every output column is materialized; a count would let
        # Catalyst prune the computed ones
        noop_write(viol)
        runs.append(time.perf_counter() - t0)
        n_viol = viol.count()
    best = min(runs)
    print(json.dumps({
        "cores": cores,
        "wall_sec": round(best, 2),
        "runs": [round(r, 2) for r in runs],
        "rows_per_sec": round(SCALE_N / best, 1),
        "violations": n_viol,
        "steal_jiffies": _steal_jiffies() - steal0,
    }))


def _scaling_main(lo: int | None = None, hi: int | None = None) -> None:
    """North-rule scaling criterion, proxied by two parallelism levels
    on one host (per driver instructions): run the SAME constraint-eval
    job at both core counts in fresh pinned processes and report
    throughput at both plus efficiency (normalized by the core ratio,
    so any pair works — default N → 4N, ``--scaling-pair 16 32`` for
    the direct adjacent-width capture)."""
    import subprocess

    if lo is None:
        lo, hi = SCALE_N_CORES, SCALE_N_CORES * 4
    results = {}
    for cores in (lo, hi):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-worker", str(cores)],
            capture_output=True, text=True, check=True,
        )
        results[cores] = json.loads(out.stdout.strip().splitlines()[-1])
    ratio = hi / lo
    eff = results[hi]["rows_per_sec"] / (ratio * results[lo]["rows_per_sec"])
    _emit({
        "metric": f"scaling_efficiency_{lo}_to_{hi}_cores",
        "value": round(eff, 3),
        "unit": "ratio",
        "queries": {f"local[{c}]": results[c] for c in results},
        "sf": None,
        "n_images": SCALE_N,
        # each level reports its best of two runs
        "n": 2,
        "steal_jiffies": sum(r["steal_jiffies"] for r in results.values()),
        "cores": hi,
    })


TAIL_KEYS = ("metric", "value", "sf", "n", "steal_jiffies", "cores")


def _emit(record: dict) -> None:
    """Print ``record`` in full, then the summary line of
    :data:`TAIL_KEYS` that ends the output."""
    print(json.dumps(record))
    print(json.dumps({k: record.get(k) for k in TAIL_KEYS}))


def main() -> None:
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    if "--scaling-worker" in sys.argv:
        _scaling_worker(int(sys.argv[sys.argv.index("--scaling-worker") + 1]))
        return

    if "--scaling-pair" in sys.argv:
        i = sys.argv.index("--scaling-pair")
        _scaling_main(int(sys.argv[i + 1]), int(sys.argv[i + 2]))
        return

    if "--scaling" in sys.argv:
        _scaling_main()
        return

    load_before = os.getloadavg()
    steal0 = _steal_jiffies()
    validated, total, timings, steals, headline, _ = run_once(CPUS, SF_DIR)
    steal_delta = _steal_jiffies() - steal0
    load_after = os.getloadavg()
    _emit({
        "metric": "validated_rows_per_sec",
        "value": round(validated / total, 1),
        "unit": "rows/sec",
        "queries": timings,
        # steal jiffies accumulated during each query's WINNING trial
        # (min wall time): a query whose best trial still carried
        # heavy steal self-identifies as noisy without a full rerun
        "query_steal_jiffies": steals,
        # the headline value is computed over exactly these queries
        # (the rounds-1-3 set); everything else in "queries" is timed
        # for regression coverage only
        "headline_queries": headline,
        "sf": sf_val,
        # every per-query time is min-of-3 trials (the timed() loop);
        # the load markers make a co-tenant-noisy capture
        # self-identifying: 1-min loadavg far above this job's own
        # core budget means the numbers measured the neighbor
        "n": 3,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "steal_jiffies": steal_delta,
        "cores": CPUS,
    })


if __name__ == "__main__":
    main()
