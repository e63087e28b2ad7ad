"""The benchmark's workloads: staged inputs, one entry-point call, and
the correctness check every call must pass.

Each workload is a closed loop of calls into the package's public
entry points (``runner.validate`` / ``runner.validate_appended``);
the driver process keeps one call in flight.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import stage

IMAGE_RULES = """
image_id: {$type: $str, $reg: '^img-[0-9]{12}$', $unique: true}
w: {$type: $int, $range: {$min: 1, $max: 100000}}
fmt: {$type: $str, $of: [png, jpeg, webp]}
caption: {$type: $str, $length: {$min: 1, $max: 10000}}
license_id: {$type: $str, $ref: {table: licenses, key: license_id}}
bytes: {$type: $bin, $pixel: {psnr_min: 40.0}}
"""

# Table-level layers the north rule leaves out, timed on the image
# table in the traced run only (never part of a timed call).
IMAGE_TABLE_RULES = """
w: {$type: $int, $drift: {test: ks}, $assert: {stat: mean, min: 1, max: 100000}}
fmt: {$type: $str, $drift: {test: chi2}}
caption: {$type: $str, $anomaly: {metric: violation_rate, max_rel_change: 0.5}}
"""

LINEITEM_RULES = """
l_rowid: {$type: $int}
l_orderkey: {$type: $int, $unique: {with: [l_linenumber]}, $ref: {table: orders, key: o_orderkey}}
l_suppkey: {$type: $int, $ref: {table: supplier, key: s_suppkey}}
l_partkey: {$type: $int, $ref: {table: part, key: p_partkey, mode: bloom, bits: 4194304, hashes: 3}}
l_linenumber: {$type: $int, $range: {$min: 1, $max: 7}}
l_quantity: {$type: $float, $range: {$min: 1, $max: 50}, $assert: {stat: mean, min: 20, max: 30}}
l_extendedprice: {$type: $float, $range: {$min: 0}, $drift: {test: ks}}
l_discount: {$type: $float, $range: {$min: 0, $max: 0.1}, $anomaly: {metric: violation_rate, max_rel_change: 0.5}}
l_tax: {$type: $float, $range: {$min: 0, $max: 0.08}}
l_returnflag: {$type: $str, $of: [A, N, R], $drift: {test: chi2}}
l_linestatus: {$type: $str, $of: [O, F]}
"""

# DuckDB oracle for LINEITEM_RULES: violation rows per error_type in
# one lineitem file, against the full dimension tables.
LINEITEM_ORACLE = """
WITH f AS (SELECT * FROM read_parquet('{file}'))
SELECT
  (SELECT count(*) FROM f WHERE l_linenumber < 1 OR l_linenumber > 7)
  + (SELECT count(*) FROM f WHERE l_quantity < 1 OR l_quantity > 50)
  + (SELECT count(*) FROM f WHERE l_extendedprice < 0)
  + (SELECT count(*) FROM f WHERE l_discount < 0 OR l_discount > 0.1)
  + (SELECT count(*) FROM f WHERE l_tax < 0 OR l_tax > 0.08),
  (SELECT count(*) FROM f WHERE l_returnflag NOT IN ('A', 'N', 'R'))
  + (SELECT count(*) FROM f WHERE l_linestatus NOT IN ('O', 'F')),
  (SELECT coalesce(sum(c), 0) FROM (
     SELECT count(*) AS c FROM f GROUP BY l_orderkey, l_linenumber
     HAVING count(*) > 1)),
  (SELECT count(*) FROM f WHERE l_orderkey NOT IN
     (SELECT o_orderkey FROM read_parquet('{dims}/orders.parquet')))
  + (SELECT count(*) FROM f WHERE l_suppkey NOT IN
     (SELECT s_suppkey FROM read_parquet('{dims}/supplier.parquet')))
  + (SELECT count(*) FROM f WHERE l_partkey NOT IN
     (SELECT p_partkey FROM read_parquet('{dims}/part.parquet')))
"""
LINEITEM_ORACLE_TYPES = (
    "rangeMismatch", "ofMismatch", "uniqueMismatch", "refMismatch",
)


def planted_image_counts(n: int) -> Counter:
    """Violation rows by error_type that the image rules must report
    over ``synth.images_df(n)``, derived from the plant pattern as
    ``tests/test_runner.py`` derives them: a duplicate id flags both
    rows, and corrupt bytes mask the pixel-level plants (a row that
    fails to decode reports decodeError only)."""
    from invalid_spark import synth

    def idx(kind):
        return set(synth.violation_indices(n, kind))

    corrupt = idx("corrupt")
    return +Counter({
        "rangeMismatch": len(idx("range_w")),
        "ofMismatch": len(idx("enum_fmt")),
        "strLengthMismatch": len(idx("len_caption")),
        "refMismatch": len(idx("ref_license")),
        "decodeError": len(corrupt),
        "uniqueMismatch": 2 * len(idx("dup_id")),
        # stored w disagrees with the decoded image on range plants
        "typeMismatch": len(idx("range_w") - corrupt),
        "pixelMismatch": len(idx("phash_bit") - corrupt),
    })


def violation_counts(violations, snapshot: str | None = None) -> Counter:
    from pyspark.sql import functions as F

    if snapshot is not None:
        violations = violations.filter(F.col("snapshot_id") == snapshot)
    rows = violations.groupBy("error_type").count().collect()
    return Counter({r["error_type"]: r["count"] for r in rows})


@dataclass
class Outcome:
    """What one call did: rows validated, bytes of the input it
    validates, whether it passed its check, and the sink files and
    bytes it wrote."""

    rows: int
    ok: bool
    detail: str
    input_bytes: int
    sink_files: int
    sink_bytes: int


@dataclass
class Probe:
    """One layer's public function on the workload's input, timed in
    isolation: ``build`` returns the DataFrame to materialize (or None
    when the function is itself eager); ``count`` names a metric set to
    the row count of that DataFrame, counted outside the timing."""

    metric: str
    build: Callable
    count: str | None = None


class ImagesFull:
    """The north rule over a staged ``synth.images_df`` table with a
    16-value ``shard`` work-unit column, ``unit_batch=4``."""

    name = "images_full"
    row_key = "image_id"
    n_rows = 4000
    probe_rows = n_rows

    def __init__(self, cache: str, scratch: str, seed: int):
        self.cache, self.scratch, self.seed = cache, scratch, seed
        self.expected = planted_image_counts(self.n_rows)

    def stage(self) -> None:
        self.path = stage.images(self.cache, self.n_rows, self.seed)
        self.table_bytes = _dir_bytes(self.path)

    def open(self, spark) -> None:
        from invalid_spark import synth
        from invalid_spark.dsl import load_rules

        self.rules = load_rules(IMAGE_RULES)
        self.df = spark.read.parquet(self.path)
        self.dims = {"licenses": synth.licenses_df(spark)}

    def _validate(self, spark, df, out: str):
        from invalid_spark import runner

        shutil.rmtree(out, ignore_errors=True)
        return runner.validate(
            spark, df, self.rules, self.row_key, out, dims=self.dims,
            partition_col="shard", unit_batch=4,
        )

    def warmup(self, spark) -> None:
        # the whole table: a call costs about the same at any size here,
        # and a slice would leave the first timed call to start the
        # Python workers of the tasks the slice did not have
        res = self._validate(spark, self.df, os.path.join(self.scratch, "warm"))
        if not res.complete:
            raise RuntimeError("warm-up call did not complete")

    def call(self, spark, k: int):
        """Returns (thunk, check): the timed entry-point call and the
        untimed correctness check of its result."""
        out = os.path.join(self.scratch, f"call{k}")

        def check(res) -> Outcome:
            got = violation_counts(res.violations(spark))
            sink = _sink_files(out)
            shutil.rmtree(out, ignore_errors=True)
            ok = res.complete and got == self.expected
            return Outcome(self.n_rows, ok, "" if ok else f"{dict(got)}",
                           self.table_bytes, *sink)

        return (lambda: self._validate(spark, self.df, out)), check

    def probes(self, spark) -> list[Probe]:
        from pyspark.sql import functions as F

        from invalid_spark.checks import image, refint, unique
        from invalid_spark.checks import rows as rowchecks
        from invalid_spark.dsl import load_rules
        from invalid_spark.pipeline import curate, dedup

        df, key = self.df, self.row_key
        plan = rowchecks.compile_row_checks(df, load_rules(IMAGE_TABLE_RULES))
        viol = rowchecks.run_row_checks(df, self.rules, key).localCheckpoint()
        licenses = self.dims["licenses"]
        bloom = refint.bloom_build(licenses, "license_id")
        pruned = df.select(key, "bytes", "fmt", "w", "h", "phash",
                           F.spark_partition_id().alias("pid"))
        texts = df.select(key, "caption")
        lsh = dict(text_col="caption", key_col=key)
        return [
            Probe("checks.rows.busy_s",
                  lambda: rowchecks.run_row_checks(df, self.rules, key),
                  "checks.rows.violations_out"),
            Probe("checks.image.busy_s",
                  lambda: image.pixel_violations(df, row_key=key),
                  "checks.image.violations_out"),
            # the JVM<->Python Arrow round trip alone, same pruned columns
            Probe("checks.image.arrow_identity_s",
                  lambda: pruned.mapInArrow(lambda it: it, pruned.schema)),
            Probe("checks.unique.busy_s",
                  lambda: unique.uniqueness_violations(df, key, key),
                  "checks.unique.violations_out"),
            Probe("checks.refint.busy_s",
                  lambda: refint.ref_violations(
                      df, "license_id", licenses, "license_id", key)),
            Probe("checks.refint.bloom_build_s", lambda: bloom),
            Probe("pipeline.dedup.lsh_s",
                  lambda: dedup.minhash_lsh_dedup(texts, **lsh),
                  "pipeline.dedup.verified_pairs"),
            Probe("pipeline.dedup.candidates_s",
                  lambda: dedup.lsh_candidates(texts, **lsh),
                  "pipeline.dedup.candidate_pairs"),
            Probe("pipeline.curate.base_s",
                  lambda: curate.curation_decisions(df, **lsh)),
        ] + _table_probes(df, plan, viol, "shard", key)


class LineitemAppend:
    """Continuous validation of a TPC-H-shaped ``lineitem``: a base file,
    then one appended file per call through ``validate_appended`` into
    one ``out_dir`` (TableLog, per-snapshot manifests, drift state and
    metric history carry over between calls)."""

    name = "lineitem_append"
    row_key = "l_rowid"
    base_rows = 10000
    step_rows = 10000
    probe_rows = step_rows
    n_appends = 16

    def __init__(self, cache: str, scratch: str, seed: int):
        self.cache, self.scratch, self.seed = cache, scratch, seed

    def stage(self) -> None:
        import duckdb

        self.dims_dir, self.files = stage.lineitem_appends(
            self.cache, self.base_rows, self.step_rows, self.n_appends,
            self.seed,
        )
        con = duckdb.connect()
        self.expected = []
        for f in self.files:
            row = con.execute(
                LINEITEM_ORACLE.format(file=f, dims=self.dims_dir)
            ).fetchone()
            self.expected.append(+Counter(dict(zip(LINEITEM_ORACLE_TYPES, row))))
        con.close()

    def open(self, spark) -> None:
        from invalid_spark.dsl import load_rules
        from invalid_spark.io import TableLog

        self.rules = load_rules(LINEITEM_RULES)
        self.dims = {
            t: spark.read.parquet(os.path.join(self.dims_dir, f"{t}.parquet"))
            for t in ("orders", "supplier", "part")
        }
        # a fresh table, log and out_dir per set-up: the base file and
        # one append are the warm-up, every timed call appends one more
        self.root = os.path.join(self.scratch, "table")
        shutil.rmtree(self.root, ignore_errors=True)
        self.table = os.path.join(self.root, "lineitem")
        self.out = os.path.join(self.root, "out")
        os.makedirs(self.table)
        self.log = TableLog(os.path.join(self.root, "log"))
        self.next_file = 0
        self.sink_seen = (0, 0)

    def _append_and_validate(self, spark):
        from invalid_spark import runner

        if self.next_file >= len(self.files):
            raise RuntimeError("ran out of staged append files")
        src = self.files[self.next_file]
        shutil.copy(src, os.path.join(self.table, os.path.basename(src)))
        self.next_file += 1
        return runner.validate_appended(
            spark, self.table, self.log, self.rules, self.row_key, self.out,
            dims=self.dims, partition_col="l_returnflag",
        )

    def _outcome(self, spark, res, i: int) -> Outcome:
        got = violation_counts(res.violations(spark), res.snapshot)
        ok = res.complete and got == self.expected[i]
        files, size = _sink_files(self.out)
        added = (files - self.sink_seen[0], size - self.sink_seen[1])
        self.sink_seen = (files, size)
        return Outcome(
            self.step_rows if i else self.base_rows, ok,
            "" if ok else f"{dict(got)} != {dict(self.expected[i])}",
            os.path.getsize(self.files[i]), *added,
        )

    def warmup(self, spark) -> None:
        # the base file, then one append: the base call has no drift
        # state or metric history to compare with, so only an append
        # runs the code paths every timed call runs (the first timed
        # call after a base-only warm-up used 7% more CPU than the next)
        for i in range(2):
            res = self._append_and_validate(spark)
            out = self._outcome(spark, res, i)
            if not out.ok:
                raise RuntimeError(f"warm-up call failed its check: {out.detail}")

    def call(self, spark, k: int):
        i = self.next_file
        return (
            lambda: self._append_and_validate(spark),
            lambda res: self._outcome(spark, res, i),
        )

    def probes(self, spark) -> list[Probe]:
        from invalid_spark.checks import refint, unique
        from invalid_spark.checks import rows as rowchecks

        # one appended file: the input each timed call validates
        li, key, dims = spark.read.parquet(self.files[1]), self.row_key, self.dims
        plan = rowchecks.compile_row_checks(li, self.rules)
        viol = rowchecks.run_row_checks(li, self.rules, key).localCheckpoint()
        (_, bloom_spec), = [(c, s) for c, s in plan.ref_specs if s.get("mode") == "bloom"]
        bits, hashes = int(bloom_spec["bits"]), int(bloom_spec["hashes"])
        bloom = refint.bloom_build(dims["part"], "p_partkey", bits, hashes)

        def refs():
            exact = [
                refint.ref_violations(li, "l_orderkey", dims["orders"], "o_orderkey", key),
                refint.ref_violations(li, "l_suppkey", dims["supplier"], "s_suppkey", key),
            ]
            screened = refint.bloom_ref_violations(
                li, "l_partkey", bloom, "p_partkey", key, bits, hashes)
            return exact[0].unionByName(exact[1]).unionByName(screened)

        return [
            Probe("checks.rows.busy_s",
                  lambda: rowchecks.run_row_checks(li, self.rules, key),
                  "checks.rows.violations_out"),
            Probe("checks.unique.busy_s",
                  lambda: unique.composite_uniqueness_violations(
                      li, ["l_orderkey", "l_linenumber"], key),
                  "checks.unique.violations_out"),
            Probe("checks.refint.bloom_build_s", lambda: bloom),
            Probe("checks.refint.busy_s", refs),
        ] + _table_probes(li, plan, viol, "l_returnflag", key)


def _table_probes(df, plan, viol, group_col: str, key: str) -> list[Probe]:
    """Probes for the table-level layers: drift state, stat assertions,
    anomaly metrics and the verdict/metric report, from a compiled plan
    and the row-check violations of ``df``."""
    from invalid_spark import report
    from invalid_spark.checks import anomaly, drift, stats

    def drift_state():
        grids = drift.multi_grid(df, plan.drift_specs)
        return drift.state_frame(df, plan.drift_specs, grids)

    def anomaly_values():
        anomaly.current_metric_values(df, viol, plan.anomaly_specs)

    asserts = [{"col": c, "stat": s["stat"], "min": s["min"], "max": s["max"]}
               for c, s in plan.assert_specs]
    return [
        Probe("checks.drift.busy_s", drift_state, "checks.drift.state_rows"),
        Probe("checks.stats.assert_s", lambda: stats.stat_assertions(df, asserts)),
        Probe("checks.anomaly.busy_s", anomaly_values),
        Probe("report.busy_s", lambda: report.group_verdicts(df, viol, group_col, key)),
        Probe("report.busy_s", lambda: report.rule_metrics(viol)),
    ]


def _sink_files(out: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under a runner ``out_dir``."""
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(out) for f in names if f.endswith(".parquet")
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


WORKLOADS = {w.name: w for w in (ImagesFull, LineitemAppend)}
