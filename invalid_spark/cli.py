"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Usage (cluster):

    zip -r invalid_spark.zip invalid_spark
    spark-submit --py-files invalid_spark.zip invalid_spark/cli.py \\
        validate --table s3://…/images --rules rules.yaml \\
        --out /mnt/shared/audit/run1 --partition-col date_bucket \\
        --dim licenses=s3://…/dims/licenses

``--table``/``--dim`` may be object-store URIs (they only feed Spark
readers), but ``--out`` must be a LOCAL POSIX path visible to the
driver: the checkpoint manifest and the drift-state swap use atomic
local renames (``invalid_spark.io.Manifest``'s constraint — the
runner rejects URI out paths up front). On a cluster, point it at
shared/fuse-mounted storage.

Local (this sandbox):

    python -m invalid_spark.cli validate --table /root/testdata/... \\
        --rules rules.yaml --out /tmp/audit

Subcommands: ``validate`` (full resumable suite), ``validate-suite``
(several tables from one YAML config, resumable per table), ``profile``
(column stats for every ``$stats`` directive), ``suggest`` (rule
bootstrap), ``curate`` (curation pipeline, optional DSIR selection),
``pack`` (sequence packing under a token budget), ``report``
(markdown data-docs over an existing out_dir). The SparkSession is
taken from ``getOrCreate`` so spark-submit's ``--master``/conf apply;
local runs fall back to the tuned local profile in
:mod:`invalid_spark.session`.
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_session(args):
    from pyspark.sql import SparkSession

    if args.local_cores:
        from invalid_spark.session import get_spark

        return get_spark("invalid_spark_cli", cores=args.local_cores)
    return SparkSession.builder.appName("invalid_spark_cli").getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="invalid_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    pv = sub.add_parser("validate", help="run the full validation suite")
    pv.add_argument("--table", required=True, help="input parquet path")
    pv.add_argument("--rules", required=True, help="rule YAML file")
    pv.add_argument("--out", required=True, help="output/checkpoint dir")
    pv.add_argument("--row-key", default="image_id")
    pv.add_argument("--partition-col", default=None,
                    help="data column defining resumable work units")
    pv.add_argument("--unit-batch", type=int, default=16)
    pv.add_argument("--dim", action="append", default=[],
                    metavar="NAME=PATH", help="dimension table (repeatable)")
    pv.add_argument("--prev-table", default=None,
                    help="prior snapshot for $drift checks")
    pv.add_argument("--run-id", default=None)
    pv.add_argument("--quarantine", action="store_true",
                    help="also write clean/ and quarantine/ row splits "
                    "(only once every unit is validated)")
    pv.add_argument("--report", action="store_true",
                    help="also render out_dir/report.md (markdown "
                    "data-docs for this run)")
    pv.add_argument("--append-log", default=None, metavar="DIR",
                    help="file-level snapshot log dir (io.TableLog): "
                    "commit the table's state and validate ONLY the "
                    "files added since the last commit — zero-scan "
                    "append detection; refuses rewrites/compactions")
    pv.add_argument("--local-cores", type=int, default=None)

    pp = sub.add_parser("profile", help="column statistics ($stats rules)")
    pp.add_argument("--table", required=True)
    pp.add_argument("--rules", required=True)
    pp.add_argument("--out", default=None, help="optional parquet output")
    pp.add_argument("--local-cores", type=int, default=None)

    ps = sub.add_parser(
        "suggest",
        help="profile a table and print a suggested rule YAML the "
        "table satisfies (deequ-style suggestion on-ramp)",
    )
    ps.add_argument("--table", required=True)
    ps.add_argument("--row-key", default=None)
    ps.add_argument("--ndv-enum-max", type=int, default=16)
    ps.add_argument("--local-cores", type=int, default=None)

    pc = sub.add_parser(
        "curate",
        help="run the curation pipeline (quality → lang → exact dedup "
        "→ LSH near-dup keeper) and write decisions/ + curated/ + "
        "rejected/ sinks, with optional deterministic sampling and "
        "train/val/test split labels",
    )
    pc.add_argument("--table", required=True, help="input parquet path")
    pc.add_argument("--out", required=True, help="output dir")
    pc.add_argument("--row-key", default="doc_id")
    pc.add_argument("--text-col", default="text")
    pc.add_argument("--langs", default="en,de,fr,es,zh",
                    help="comma-separated allowed languages")
    pc.add_argument("--threshold", type=float, default=0.8,
                    help="near-dup Jaccard threshold")
    pc.add_argument("--sample-rate", type=float, default=None,
                    help="deterministic hash-sample of the kept rows")
    pc.add_argument("--split", default=None, metavar="TR,VA,TE",
                    help="append a train/val/test split column, e.g. "
                    "0.9,0.05,0.05")
    pc.add_argument("--dsir-target-sql", default=None, metavar="PREDICATE",
                    help="boolean SQL over the input selecting the DSIR "
                    "target domain (e.g. \"lang = 'en'\"); with --dsir-k, "
                    "kept rows are reduced to the Gumbel top-k by "
                    "importance weight")
    pc.add_argument("--dsir-k", type=int, default=None,
                    help="number of documents DSIR selection keeps")
    pc.add_argument("--local-cores", type=int, default=None)

    pk = sub.add_parser(
        "pack",
        help="greedy sequence packing: assign every document a "
        "(bucket, seq_id, seq_offset) under a token budget and write "
        "the assignment parquet plus a fill-efficiency summary",
    )
    pk.add_argument("--table", required=True, help="input parquet path")
    pk.add_argument("--out", required=True, help="output dir")
    pk.add_argument("--row-key", default="doc_id")
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--max-tokens", type=int, required=True)
    pk.add_argument("--buckets", type=int, default=64)
    pk.add_argument("--bpe", action="store_true",
                    help="count tokens with the BPE-regex estimator "
                    "instead of whitespace tokens")
    pk.add_argument("--local-cores", type=int, default=None)

    pd_ = sub.add_parser(
        "semdedup",
        help="semantic dedup over an embedding table (SemDeDup: "
        "cluster-then-compare): write decisions/ parquet plus a JSON "
        "summary with the cluster-skew pre-flight and the "
        "before/after diversity report",
    )
    pd_.add_argument("--table", required=True, help="embeddings parquet")
    pd_.add_argument("--out", required=True, help="output dir")
    pd_.add_argument("--row-key", default="vec_id")
    pd_.add_argument("--vec-col", default="embedding")
    pd_.add_argument("--threshold", type=float, default=0.95)
    pd_.add_argument("--n-lists", type=int, default=16)
    pd_.add_argument("--local-cores", type=int, default=None)

    pct = sub.add_parser(
        "contamination",
        help="embedding-space train/eval contamination screen: flag "
        "train rows within cosine threshold of any eval row, write "
        "flags/ parquet plus a JSON summary",
    )
    pct.add_argument("--table", required=True, help="train embeddings")
    pct.add_argument("--eval-table", required=True, help="eval embeddings")
    pct.add_argument("--out", required=True, help="output dir")
    pct.add_argument("--row-key", default="vec_id")
    pct.add_argument("--vec-col", default="embedding")
    pct.add_argument("--threshold", type=float, default=0.95)
    pct.add_argument("--n-lists", type=int, default=16)
    pct.add_argument("--nprobe", type=int, default=2)
    pct.add_argument("--local-cores", type=int, default=None)

    pvs = sub.add_parser(
        "validate-suite",
        help="validate several tables under one audit root from a "
        "YAML config (tables: {name: {path, rules, row_key, ...}}); "
        "resumable per table, one JSON summary",
    )
    pvs.add_argument("--config", required=True, help="suite YAML file")
    pvs.add_argument("--out", required=True, help="audit root dir")
    pvs.add_argument("--unit-batch", type=int, default=16)
    pvs.add_argument("--local-cores", type=int, default=None)

    pr = sub.add_parser(
        "report",
        help="render a validation out_dir as a human-readable "
        "markdown report (data-docs analog)",
    )
    pr.add_argument("--out", required=True, help="validation out_dir")
    pr.add_argument("--snapshot", default=None,
                    help="snapshot to report on (default: latest)")
    pr.add_argument("--max-samples", type=int, default=3)
    pr.add_argument("--write", action="store_true",
                    help="also write out_dir/report.md")
    pr.add_argument("--local-cores", type=int, default=None)

    args = ap.parse_args(argv)
    spark = _get_session(args)

    from invalid_spark import runner
    from invalid_spark.dsl import load_rules_file
    from invalid_spark.io import snapshot_id, write_text

    if args.cmd == "report":
        import os

        from invalid_spark import report as report_mod

        snap = args.snapshot or report_mod.latest_snapshot(spark, args.out)
        text = report_mod.render_markdown(
            spark, args.out, snapshot=snap, max_samples=args.max_samples
        )
        if args.write:
            write_text(os.path.join(args.out, "report.md"), text)
        sys.stdout.write(text)
        return 0

    if args.cmd == "validate-suite":
        import yaml

        with open(args.config) as f:
            suite = yaml.safe_load(f)
        results = runner.validate_suite(
            spark, suite, args.out, unit_batch=args.unit_batch
        )
        print(json.dumps(
            runner.suite_summary(spark, results), sort_keys=True,
            default=str,
        ))
        return 0

    if args.cmd == "validate" and args.append_log:
        # file-level append mode reads ONLY the added files itself
        # (a plain read of a dir of subdirectory-appends would also
        # need recursiveFileLookup) — skip the up-front table read
        df = None
    else:
        df = spark.read.parquet(args.table)

    if args.cmd == "suggest":
        from invalid_spark import suggest

        sys.stdout.write(
            suggest.suggest_rules(
                df, row_key=args.row_key, ndv_enum_max=args.ndv_enum_max
            )
        )
        return 0

    if args.cmd == "pack":
        import os

        from invalid_spark.pipeline import pack as pack_mod

        packed = pack_mod.pack_sequences(
            df,
            max_tokens=args.max_tokens,
            text_col=args.text_col,
            key_col=args.row_key,
            n_buckets=args.buckets,
            bpe=args.bpe,
        )
        packed.write.mode("overwrite").parquet(
            os.path.join(args.out, "assignments")
        )
        packed = spark.read.parquet(os.path.join(args.out, "assignments"))
        s = pack_mod.pack_summary(packed, args.max_tokens).collect()[0]
        print(json.dumps(s.asDict(), sort_keys=True))
        return 0

    if args.cmd == "semdedup":
        import os

        from invalid_spark.pipeline import curate as curate_mod
        from invalid_spark.pipeline import dedup as dedup_mod
        from invalid_spark.pipeline import similarity as sim_mod

        cents = sim_mod.semantic_codebook(
            df, None, args.n_lists, args.vec_col, args.row_key
        )
        dec = dedup_mod.semantic_dedup(
            df, threshold=args.threshold, centroids=cents,
            vec_col=args.vec_col, key_col=args.row_key,
        )
        dec.write.mode("overwrite").parquet(
            os.path.join(args.out, "decisions")
        )
        dec = spark.read.parquet(os.path.join(args.out, "decisions"))
        skew = dedup_mod.semantic_cluster_skew(
            df, centroids=cents,
            vec_col=args.vec_col, key_col=args.row_key,
        ).collect()
        before = curate_mod.semantic_diversity(
            df, centroids=cents,
            vec_col=args.vec_col, key_col=args.row_key,
        ).collect()[0]
        from pyspark.sql import functions as F

        drop_keys = dec.filter(~F.col("keep")).select(
            F.col("id").alias(args.row_key)
        )
        kept_df = df.join(drop_keys, args.row_key, "left_anti")
        after = curate_mod.semantic_diversity(
            kept_df, centroids=cents,
            vec_col=args.vec_col, key_col=args.row_key,
        ).collect()[0]
        print(json.dumps({
            "n_input": df.count(),
            "n_dropped": dec.filter("NOT keep").count(),
            "top_clusters": [r.asDict() for r in skew],
            "diversity_before": before.asDict(),
            "diversity_after": after.asDict(),
        }, sort_keys=True))
        return 0

    if args.cmd == "contamination":
        import os

        from invalid_spark.pipeline import dedup as dedup_mod
        from invalid_spark.pipeline import similarity as sim_mod

        ev = spark.read.parquet(args.eval_table)
        cents = sim_mod.semantic_codebook(
            ev, None, args.n_lists, args.vec_col, args.row_key
        )
        flags = dedup_mod.semantic_contamination(
            df, ev, cents, threshold=args.threshold, nprobe=args.nprobe,
            vec_col=args.vec_col, key_col=args.row_key,
        )
        flags.write.mode("overwrite").parquet(
            os.path.join(args.out, "flags")
        )
        flags = spark.read.parquet(os.path.join(args.out, "flags"))
        n = flags.count()
        n_bad = flags.filter("contaminated").count()
        print(json.dumps({
            "n_train": n,
            "n_contaminated": n_bad,
            "rate": round(n_bad / n, 6) if n else None,
        }, sort_keys=True))
        return 0

    if args.cmd == "curate":
        import os

        from pyspark.sql import functions as F

        from invalid_spark.pipeline import curate as curate_mod

        dec = curate_mod.curation_decisions(
            df,
            langs=tuple(x for x in args.langs.split(",") if x),
            threshold=args.threshold,
            text_col=args.text_col,
            key_col=args.row_key,
        )
        dec.write.mode("overwrite").parquet(
            os.path.join(args.out, "decisions")
        )
        dec = spark.read.parquet(os.path.join(args.out, "decisions"))
        keep_keys = dec.filter("keep").select(
            F.col("id").alias(args.row_key)
        )
        kept = df.join(keep_keys, args.row_key, "left_semi")
        rejected = df.join(keep_keys, args.row_key, "left_anti")
        n_input, n_keep = df.count(), kept.count()
        n_sampled = None
        if args.sample_rate is not None:
            kept = curate_mod.hash_sample(
                kept, args.sample_rate, key_col=args.row_key
            )
            n_sampled = kept.count()
        n_dsir = None
        if args.dsir_k is not None:
            if not args.dsir_target_sql:
                raise SystemExit("--dsir-k requires --dsir-target-sql")
            tgt = df.filter(args.dsir_target_sql)
            sel = curate_mod.dsir_sample(
                kept, tgt, args.dsir_k,
                text_col=args.text_col, key_col=args.row_key,
            ).select(F.col("id").alias(args.row_key))
            kept = kept.join(sel, args.row_key, "left_semi")
            n_dsir = kept.count()
        if args.split:
            w = [float(x) for x in args.split.split(",")]
            if len(w) != 3:
                raise SystemExit("--split needs exactly 3 weights")
            kept = curate_mod.deterministic_split(
                kept, key_col=args.row_key,
                weights={"train": w[0], "val": w[1], "test": w[2]},
            )
        kept.write.mode("overwrite").parquet(
            os.path.join(args.out, "curated")
        )
        rejected.write.mode("overwrite").parquet(
            os.path.join(args.out, "rejected")
        )
        summary = {
            "n_input": n_input,
            "n_kept": n_keep,
            "n_rejected": n_input - n_keep,
            "reasons": {
                r["reason"]: r["cnt"]
                for r in dec.groupBy("reason")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            },
        }
        if n_sampled is not None:
            summary["n_sampled"] = n_sampled
        if n_dsir is not None:
            summary["n_dsir_selected"] = n_dsir
        if args.split:
            summary["splits"] = {
                r["split"]: r["cnt"]
                for r in spark.read.parquet(os.path.join(args.out, "curated"))
                .groupBy("split").agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
        print(json.dumps(summary, sort_keys=True))
        return 0

    rules = load_rules_file(args.rules)

    if args.cmd == "profile":
        prof = runner.profile(df, rules)
        if prof is None:
            print(json.dumps({"error": "no $stats directives in rules"}))
            return 1
        if args.out:
            prof.write.mode("overwrite").parquet(args.out)
        for r in prof.collect():
            print(json.dumps(r.asDict()))
        return 0

    dims = {}
    for d in args.dim:
        name, path = d.split("=", 1)
        dims[name] = spark.read.parquet(path)
    prev_df = spark.read.parquet(args.prev_table) if args.prev_table else None

    if args.append_log:
        from invalid_spark.io import TableLog

        res = runner.validate_appended(
            spark, args.table, TableLog(args.append_log), rules,
            args.row_key, args.out,
            dims=dims,
            run_id=args.run_id,
            partition_col=args.partition_col,
            unit_batch=args.unit_batch,
            prev_df=prev_df,
            quarantine=args.quarantine,
        )
    else:
        res = runner.validate(
            spark, df, rules, args.row_key, args.out,
            dims=dims,
            snapshot=snapshot_id(args.table),
            run_id=args.run_id,
            partition_col=args.partition_col,
            unit_batch=args.unit_batch,
            prev_df=prev_df,
            quarantine=args.quarantine,
        )
    if args.report:
        from invalid_spark import report as report_mod

        report_mod.write_markdown(spark, res)
    import os as _os

    from pyspark.sql import functions as F

    have_sinks = _os.path.exists(_os.path.join(res.out_dir, "violations"))
    if not have_sinks:
        # first-ever append-log run over an empty table: nothing was
        # validated and no sinks exist — report the no-op, don't crash
        print(json.dumps({
            "run_id": res.run_id,
            "snapshot_id": res.snapshot,
            "units_done": res.units_done,
            "units_skipped": res.units_skipped,
            "violations": 0,
            "verdicts": [],
            "passed": True,
        }, default=str))
        return 0
    all_v = res.violations(spark)
    # append-log mode accumulates snapshots in one sink: the run's
    # verdict is about THIS snapshot's delta, with the historical
    # total reported separately
    n_snap = all_v.filter(F.col("snapshot_id") == res.snapshot).count()
    n_total = all_v.count()
    verd = [r.asDict() for r in res.verdicts(spark).collect()]
    summary = {
        "run_id": res.run_id,
        "snapshot_id": res.snapshot,
        "units_done": res.units_done,
        "units_skipped": res.units_skipped,
        "violations": n_snap,
        "verdicts": verd,
        "passed": all(v["passed"] for v in verd) and n_snap == 0,
    }
    if args.append_log:
        summary["violations_total"] = n_total
    print(json.dumps(summary, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
