"""Stage orchestration: one rule file → all check stages → violation /
verdict / metrics sinks, resumable from a checkpoint manifest.

Lifecycle (the Spark re-expression of the reference's
``NewRule``/``Validate`` pair, SURVEY.md §3):

1. rules load + compile on the driver (:mod:`invalid_spark.dsl` →
   :func:`invalid_spark.checks.rows.compile_row_checks`); DSL errors
   surface here, never on executors (reference ``NewRule`` parity),
   and so does a dimension table a rule names but the caller did not
   pass;
2. the row-check plan also yields the table-scale directives
   (``$unique`` / ``$ref`` / ``$stats`` / ``$drift`` / ``$pixel`` /
   ``$caption-eq`` / ``$fd`` / ...) which become the aggregate / join /
   UDF stages;
3. :func:`validate` builds ONE stage table: an entry per pending
   partition batch (:func:`stage_violations` over the slice: row
   checks, ``$ref``, ``$pixel``, ``$vector``, ``$align``,
   ``$caption-eq``), then an entry per whole-table stage in a fixed
   order (``$unique``, composite ``$unique``, ``$fd``, ``$monotonic``,
   ``$dupspan``, ``$reconcile``). One loop runs every entry through
   the same lifecycle: skip if its units are done → bound by
   ``max_batches`` → build → append to the violations sink → mark.
   The work unit rides every row: the input gains a ``__unit`` column
   once, every violation builder keeps it (``keep_cols``), and the
   write renames it to ``unit`` — no entry re-derives a row's unit by
   joining on its key (which would misplace a key that repeats across
   units or is NULL). ``$reconcile`` rows are key-level, not table
   rows, and take the stage's own unit name. Each entry writes with
   at most ``defaultParallelism`` tasks (a ``coalesce``, no shuffle):
   a batch's union of branches would otherwise open one parquet
   writer per branch partition for a few dozen rows. The trade-off:
   a failed write task recomputes 1/``defaultParallelism`` of its
   entry, not one branch partition. The ``$pixel`` UDF is the
   exception to per-batch building: it runs ONCE per call
   (:func:`pixel_stage`) over every unit of the batches the call will
   run, is localCheckpointed before the loop, and each batch takes
   the rows of its own units by the unit they carry. The cost: a kill
   before the first batch write loses the whole call's pixel pass,
   not one batch's share; ``max_batches`` still bounds that loss;
4. each unit is marked in the :class:`~invalid_spark.io.Manifest`
   AFTER its outputs are written — a kill mid-run loses at most the
   in-flight entry, and the re-run recomputes exactly that;
5. the stage table's unit names are the completeness set:
   :attr:`RunResult.complete` is true once every one is marked, and it
   gates the quarantine publish and ``validate_appended``'s commit.
   ONE grouping-sets count over this snapshot's written violations
   (read with their known schema) is collected: the violations tally,
   per unit, per (rule_id, error_type) and per column. Verdicts are
   the per-unit row counts the unit-list query collected, joined to
   the tally's unit counts, one row per completed unit (``__all__``
   too); metrics are its rule counts, and ``$anomaly``'s violation_rate
   reads its column counts. Its size is gated against
   ``spark.driver.maxResultSize`` before the stage loop writes
   anything;
6. the table-level stages follow (schema changes, ``$assert``,
   ``$dist``, ``$anomaly``, ``$drift``). ``$assert``, the ``$anomaly``
   input metrics and the ``$drift`` grid share ONE aggregation over
   the input (:func:`~invalid_spark.checks.stats.one_pass`; the grid
   only when this run writes drift state), so the table is scanned
   once for all three. ONE collected histogram pass
   (:func:`~invalid_spark.checks.drift.drift_pass`) then buckets each
   ``$drift`` column on the fresh grid (the new drift state) and on
   the stored grid (the comparison with the stored state, folded as a
   local frame). These sinks hold a few rows the driver already has,
   so the driver writes them (:func:`~invalid_spark.model.write_rows`:
   no Spark job). The state carried between snapshots is read back
   by one recovering read each: ``drift_state`` and
   ``metrics_history`` by :func:`~invalid_spark.model.read_rows`,
   ``schema_state.json`` by :func:`~invalid_spark.io.read_json`
   (absent state reads as none; a crash mid-swap is recovered first),
   and every state file or directory is published atomically
   (:func:`~invalid_spark.io.publish`). Spark writes only what it
   computes at table scale: violations, distribution verdicts and the
   quarantine split.

Bloom ``$ref`` screens are kept across calls while their dimension
files are unchanged (:func:`_prep_blooms`).

**Work units**: the values of ``partition_col`` (a data column — at
production scale the Iceberg partition key, e.g. a date bucket or
shard id), processed in batches of ``unit_batch`` values per Spark
job. Batching keeps cluster parallelism high (one job covers many
units — each unit is NOT a separate tiny job) while bounding how much
work a crash can lose. With no ``partition_col`` the whole table is
one unit, ``__all__``, even when it is empty (still resumable at the
run level); the verdicts sink then names its unit column ``unit``.

Every output row carries lineage: ``run_id``, ``snapshot_id`` of the
input (Iceberg snapshot in production; a content fingerprint here),
and the unit value.
"""

from __future__ import annotations

import json
import os
import urllib.parse
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from invalid_spark import report
from invalid_spark.checks import anomaly as anomaly_checks
from invalid_spark.checks import drift as drift_checks
from invalid_spark.checks import image as image_checks
from invalid_spark.checks import refint, relations, stats, unique
from invalid_spark.checks import rows as rowchecks
from invalid_spark.checks import vector as vector_checks
from invalid_spark.dsl import RuleSet
from invalid_spark.io import (
    Manifest,
    entries_id,
    file_entries,
    read_json,
    snapshot_id,
    write_text,
)
from invalid_spark.model import (
    METRIC_SCHEMA,
    VIOLATION_SCHEMA,
    ErrorType,
    read_rows,
    write_rows,
)
from invalid_spark.pipeline import dedup

# Work-unit name for rows whose partition_col is NULL. A bare
# cast-to-string + isin() silently drops NULL rows (NULL.isin → NULL)
# — in a validation engine the dirty rows are the point, so NULLs get
# their own explicit unit on both the distinct() and slice-filter
# sides. (A partition column whose STRING value is literally
# "__null__" would merge with the NULL unit — both slices are still
# validated, they just share one unit/verdict row.)
NULL_UNIT = "__null__"


def _unit_expr(col: str | None) -> tuple[Column, list[str]]:
    """The work unit of a row, and the units a run has even when the
    table is empty. A row's unit is its ``col`` value as a string
    (``NULL_UNIT`` for NULL), and an empty table has no unit; without
    a ``col`` every row is in ``__all__``, which an empty table has
    too."""
    if col is None:
        return F.lit("__all__"), ["__all__"]
    return F.coalesce(F.col(col).cast("string"), F.lit(NULL_UNIT)), []


# The violations sink's columns as a parquet read infers them (every
# field nullable): the violation columns, then the unit and lineage.
VIOLATIONS_SINK_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True)
        for f in VIOLATION_SCHEMA.fields
        if f.name != "run_id"
    ]
    + [
        T.StructField(c, T.StringType(), True)
        for c in ("unit", "run_id", "snapshot_id")
    ]
)


def read_violations(spark: SparkSession, path: str) -> DataFrame:
    """The violations sink at ``path``, read with its known schema:
    no footer-reading job to infer it."""
    return spark.read.schema(VIOLATIONS_SINK_SCHEMA).parquet(path)


@dataclass
class RunResult:
    run_id: str
    snapshot: str
    out_dir: str
    units_done: list[str] = field(default_factory=list)
    units_skipped: list[str] = field(default_factory=list)
    # True when the run aborted on a schema-level keyMissing (reference
    # context-cancel): only the schema violation was written, no
    # verdicts — consumers must not infer this from sink emptiness (a
    # legitimately empty table also yields zero verdict rows)
    fail_fast: bool = False
    # True when every unit of the run's stage table (partition units +
    # the whole-table stages) is marked done — the signal
    # validate_appended gates its TableLog commit on (a max_batches-
    # bounded partial run must leave the snapshot pending)
    complete: bool = False
    # "" for a normal run; "row_diff_fallback" when validate_appended
    # degraded from file-level to row-level delta after a rewrite
    mode: str = ""

    def violations(self, spark: SparkSession) -> DataFrame:
        return read_violations(spark, os.path.join(self.out_dir, "violations"))

    def verdicts(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "verdicts"))

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "metrics"))

    def assertions(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "assertions"))

    def schema_changes(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.out_dir, "schema_changes")
        )

    def anomalies(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "anomalies"))

    def distributions(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.out_dir, "distribution")
        )

    def metrics_history(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.out_dir, "metrics_history")
        )

    def clean(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "clean"))

    def quarantined(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "quarantine"))


def _bloom_key(col: str, spec: dict) -> tuple:
    return (
        spec.get("table"),
        spec.get("key", col),
        int(spec.get("bits", 1 << 20)),
        int(spec.get("hashes", 3)),
    )


# The Bloom screens of the latest call that prepared any, kept across
# calls: (session, dimension frame, fingerprint, (key, bits, hashes),
# screen) per screen. Each call replaces the whole list, so it never
# holds more than one call's screens.
_BLOOM_CACHE: list[tuple] = []


def _dim_fingerprint(dim: DataFrame) -> str | None:
    """The :func:`~invalid_spark.io.entries_id` of ``dim``'s input
    files, stat-ed now (the file listing is the frame's own, so no
    job). None when the frame reads no file (a local or checkpointed
    frame) or a file not on the local filesystem: its contents cannot
    be fingerprinted, so its screen is never kept."""
    urls = [urllib.parse.urlparse(f) for f in dim.inputFiles()]
    if not urls or any(u.scheme not in ("", "file") for u in urls):
        return None
    try:
        return entries_id(file_entries(
            os.sep, [urllib.parse.unquote(u.path) for u in urls]
        ))
    except OSError:
        return None


def _prep_blooms(
    plan: rowchecks.RowCheckPlan, dims: dict[str, DataFrame]
) -> dict[tuple, DataFrame]:
    """Materialize each distinct Bloom screen ONCE per run (eager
    localCheckpoint): without this, every unit batch AND each of the
    k broadcast joins would re-execute the dimension fold (on a
    stream, on every micro-batch). The checkpoint blocks are ≤ m/32
    rows.

    Screens are kept across calls: a continuous loop passes the same
    unchanged dimension call after call. A kept screen is reused when
    the dimension frame is of the same SparkSession, has the same
    fingerprint (:func:`_dim_fingerprint`: its input files' paths,
    sizes and mtimes, stat-ed at this call), ``sameSemantics`` with
    the kept frame, and the screen has the same key column, bits and
    hashes. The cache is bounded by construction: it holds only the
    screens of the latest call, so the blocks of a screen no call uses
    any more are reclaimed by the ContextCleaner. A frame that reads
    no local file is never kept."""
    blooms: dict[tuple, DataFrame] = {}
    kept: list[tuple] = []
    for col, spec in plan.ref_specs:
        if spec.get("mode") != "bloom" or spec.get("table") not in dims:
            continue
        key = _bloom_key(col, spec)
        if key in blooms:
            continue
        dim = dims[key[0]]
        fp = _dim_fingerprint(dim)
        screen = next(
            (
                kept_screen
                for session, frame, kept_fp, kept_key, kept_screen in _BLOOM_CACHE
                if fp is not None and session is dim.sparkSession
                and kept_fp == fp and kept_key == key[1:]
                and dim.sameSemantics(frame)
            ),
            None,
        )
        if screen is None:
            screen = refint.bloom_build(
                dim, key[1], m_bits=key[2], k=key[3]
            ).localCheckpoint(eager=True)
        blooms[key] = screen
        if fp is not None:
            kept.append((dim.sparkSession, dim, fp, key[1:], screen))
    _BLOOM_CACHE[:] = kept
    return blooms


def _max_result_bytes(spark: SparkSession) -> int:
    """``spark.driver.maxResultSize`` in bytes (0: no limit)."""
    return spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )


def _gate_tally(
    spark: SparkSession, rules: RuleSet, units: list[str]
) -> None:
    """Raise ``ValueError`` when the violations tally (see
    :func:`_violation_tally`) could exceed ``spark.driver.maxResultSize``.

    Its rows are at most the units, plus (rule_id × error_type) pairs,
    plus columns. Every rule_id and column label a check writes is
    spelled from a rule path (``path``, ``path~other``,
    ``det->dep`` ...), at most 4 per path, and every label pairs with at
    most every error type. A row holds 4 strings of at most the longest
    unit or path (4 bytes a character) and a few counters."""
    paths = [p for p, _ in rules.root.path_iter()]
    labels = 4 * len(paths)
    n_types = sum(1 for k in vars(ErrorType) if not k.startswith("_"))
    rows = len(units) + labels * n_types + labels
    width = max(map(len, [*units, *paths]), default=0)
    size = rows * (64 + 16 * width)
    limit = _max_result_bytes(spark)
    if 0 < limit < size:
        raise ValueError(
            f"the violations tally of {len(units)} units and {len(paths)} "
            f"rules may reach {size} bytes, over spark.driver.maxResultSize "
            f"({limit} bytes); raise the limit or choose a partition_col "
            "with fewer values"
        )


def _violation_tally(
    v: DataFrame,
) -> tuple[dict[str, int], dict[tuple[str, str], int], dict[str, int]]:
    """Violation counts of ``v`` per unit, per (rule_id, error_type) and
    per column, from ONE grouping-sets count, collected.
    ``grouping_id()`` tells the sets apart (rule_id and column can be
    NULL): its bits mark the columns a set does not group by, in the
    order unit, rule_id, error_type, column."""
    rows = (
        v.groupingSets(
            [["unit"], ["rule_id", "error_type"], ["column"]],
            "unit", "rule_id", "error_type", "column",
        )
        .agg(F.grouping_id().alias("g"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_unit = {r["unit"]: r["n"] for r in rows if r["g"] == 0b0111}
    per_rule = {
        (r["rule_id"], r["error_type"]): r["n"] for r in rows if r["g"] == 0b1001
    }
    per_col = {r["column"]: r["n"] for r in rows if r["g"] == 0b1110}
    return per_unit, per_rule, per_col


def _dim(dims: dict[str, DataFrame], directive: str, spec: dict) -> DataFrame:
    name = spec.get("table")
    if name not in dims:
        raise ValueError(f"{directive} table [{name}] not provided")
    return dims[name]


def pixel_stage(
    df: DataFrame,
    plan: rowchecks.RowCheckPlan,
    row_key: str,
    run_id: str,
    keep_cols: list[str] | None = None,
) -> DataFrame | None:
    """The ``$pixel`` violations of ``df``: one
    :func:`~invalid_spark.checks.image.pixel_violations` per ``$pixel``
    column, unioned; None when the plan has no ``$pixel`` rule.
    ``keep_cols`` ride onto every row (the runner's work unit)."""
    parts = [
        image_checks.pixel_violations(
            df,
            row_key=row_key,
            bytes_col=col,
            psnr_min=float(spec.get("psnr_min", 40.0)),
            run_id=run_id,
            keep_cols=keep_cols,
        )
        for col, spec in plan.pixel_specs
    ]
    return reduce(DataFrame.unionByName, parts) if parts else None


def stage_violations(
    df: DataFrame,
    rules: RuleSet,
    row_key: str,
    plan: rowchecks.RowCheckPlan,
    dims: dict[str, DataFrame],
    run_id: str,
    blooms: dict[tuple, DataFrame] | None = None,
    keep_cols: list[str] | None = None,
    pixel: DataFrame | None = None,
) -> DataFrame:
    """Union of every per-row check stage's violations for one input
    slice, batch or streaming. ``blooms`` defaults to materializing
    the plan's Bloom screens now (:func:`_prep_blooms`). ``keep_cols``
    threads source columns onto every violation row of every stage
    (the batch runner's work unit, a stream's event time).
    ``pixel`` is the slice's ``$pixel`` violations, built by the caller
    with :func:`pixel_stage` and the same ``keep_cols`` (the batch
    runner builds them once per call and splits them by unit)."""
    v = rowchecks.run_row_checks(
        df, rules, row_key, run_id, plan=plan, keep_cols=keep_cols
    )
    if plan.fail_fast:
        # schema-level keyMissing aborts everything else
        # (reference rule.go:159-165 context cancel)
        return v
    if blooms is None:
        blooms = _prep_blooms(plan, dims)
    parts: list[DataFrame] = []
    for col, spec in plan.ref_specs:
        dim = _dim(dims, "$ref", spec)
        dim_key = spec.get("key", col)
        if spec.get("mode") == "bloom":
            # Bloom screen: the middle regime — dim too big to
            # broadcast as rows, fact side too big to shuffle.
            # Reported violations are exact; misses bounded by the
            # Bloom fpp at the configured sizing (PLANS.md §26). On a
            # stream it is k stateless broadcast joins against a
            # static ≤ m/32-row frame, no stream-static anti-join.
            key = _bloom_key(col, spec)
            parts.append(refint.bloom_ref_violations(
                df, col, blooms[key], dim_key, row_key,
                m_bits=key[2], k=key[3], run_id=run_id, keep_cols=keep_cols,
            ))
        else:
            parts.append(refint.ref_violations(
                df, col, dim, dim_key, row_key, run_id, keep_cols=keep_cols
            ))
    if pixel is not None:
        parts.append(pixel)
    # $vector / $align are stateless row-local projections (HOF folds,
    # zero joins, zero state): streaming-legal as-is
    for col, spec in plan.vector_specs:
        norm = spec.get("norm") or {}
        parts.append(vector_checks.vector_violations(
            df, col, row_key,
            dim=spec.get("dim"),
            no_nan=bool(spec.get("no_nan", True)),
            no_zero=bool(spec.get("no_zero", True)),
            norm_min=norm.get("min"),
            norm_max=norm.get("max"),
            run_id=run_id,
            keep_cols=keep_cols,
        ))
    for col, spec in plan.align_specs:
        parts.append(vector_checks.alignment_violations(
            df, col, spec["with"], row_key,
            min_cos=float(spec["min_cos"]),
            run_id=run_id,
            keep_cols=keep_cols,
        ))
    for col, spec in plan.caption_specs:
        parts.append(image_checks.caption_violations(
            df, _dim(dims, "$caption-eq", spec),
            key=spec.get("key", row_key), col=col, run_id=run_id,
            keep_cols=keep_cols,
        ))
    return reduce(DataFrame.unionByName, parts, v)


def validate(
    spark: SparkSession,
    df: DataFrame,
    rules: RuleSet,
    row_key: str,
    out_dir: str,
    dims: dict[str, DataFrame] | None = None,
    snapshot: str | None = None,
    run_id: str | None = None,
    partition_col: str | None = None,
    unit_batch: int = 16,
    prev_df: DataFrame | None = None,
    max_batches: int | None = None,
    manifest_dir: str | None = None,
    quarantine: bool = False,
) -> RunResult:
    """Run the full validation suite, resumably.

    ``max_batches`` bounds how many stage-table entries (unit batches
    and whole-table stages) this call runs (for tests and incremental
    operation); a later call with the same ``out_dir`` resumes where
    it stopped.

    A resume refuses to proceed when the manifest was written against
    a different ``snapshot``: done-unit marks from another table
    state would silently skip new data while keeping stale pass
    verdicts. For CONTINUOUS validation keep ONE ``out_dir`` across
    snapshots and pass a per-snapshot ``manifest_dir`` — that is what
    lets the drift state and schema fingerprint persist between runs.
    (A fresh ``out_dir`` per snapshot also works for one-shot runs,
    but forfeits drift and schema-change continuity: each run would
    be a first run.)

    ``quarantine=True`` additionally writes the clean / quarantined
    row split (:func:`invalid_spark.report.split_valid`) under
    ``out_dir/clean`` and ``out_dir/quarantine`` — but only once
    EVERY unit (including the global uniqueness ones) is done, so a
    partial resume can never publish a "clean" table that unvalidated
    units would have dirtied.
    """
    import re

    for label, p in (("out_dir", out_dir), ("manifest_dir", manifest_dir)):
        if p and re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", p):
            # the checkpoint manifest and the drift-state swap are
            # local-POSIX filesystem operations (os.replace etc.);
            # an object-store URI would silently disable resume and
            # drift state, then fail at the final swap
            raise ValueError(
                f"{label}={p!r} is a URI; the runner's checkpoint "
                "manifest and drift-state swap require a local POSIX "
                "path (same constraint as invalid_spark.io.Manifest). "
                "Mount or fuse the object store, or point "
                f"{label} at local scratch storage."
            )
    dims = dims or {}
    run_id = run_id or uuid.uuid4().hex[:12]
    snapshot = snapshot or ""
    plan = rowchecks.compile_row_checks(df, rules)
    if not plan.fail_fast:
        # a missing dimension is a caller error: raise it before any
        # unit is written or marked, not after the stages ahead of it
        for directive, specs in (
            ("$ref", plan.ref_specs),
            ("$caption-eq", plan.caption_specs),
            ("$reconcile", plan.reconcile_specs),
        ):
            for _, spec in specs:
                _dim(dims, directive, spec)
    manifest = Manifest(manifest_dir or os.path.join(out_dir, "manifest"))
    meta = manifest.read_meta()
    stored_snaps = {m.get("snapshot_id", "") for m in meta}
    if stored_snaps and stored_snaps != {snapshot}:
        raise ValueError(
            f"manifest at {manifest.root} was written for snapshot(s) "
            f"{sorted(stored_snaps)} but this run validates snapshot "
            f"{snapshot!r}; resuming would skip units of a different "
            "table state — use a fresh out_dir/manifest_dir per snapshot"
        )
    rules_fp = rules.fingerprint()
    stored_fps = {m["rules_fp"] for m in meta if "rules_fp" in m}
    if stored_fps and stored_fps != {rules_fp}:
        # same reasoning as the snapshot pin: done-unit marks written
        # under other rules would skip units this ruleset never
        # validated, and the audit trail would mix rule semantics
        raise ValueError(
            f"manifest at {manifest.root} was written under a "
            "different ruleset (rules fingerprint "
            f"{sorted(stored_fps)} vs {rules_fp}); resuming would mix "
            "units validated under different rules — use a fresh "
            "out_dir/manifest_dir when the rules change"
        )
    unit_meta = {
        "run_id": run_id, "snapshot_id": snapshot, "rules_fp": rules_fp,
    }
    v_dir = os.path.join(out_dir, "violations")
    result = RunResult(run_id=run_id, snapshot=snapshot, out_dir=out_dir)
    lineage = [
        F.lit(run_id).alias("run_id"),
        F.lit(snapshot).alias("snapshot_id"),
    ]
    done = manifest.done_units()

    # ---- schema-level violations: once per run, their own unit ---------
    # (per-batch emission would duplicate them across resumes)
    if plan.schema_violations and "__schema__" not in done:
        write_rows(
            v_dir,
            [
                {**sv, "unit": "__schema__", "run_id": run_id,
                 "snapshot_id": snapshot}
                for sv in plan.schema_violations
            ],
            VIOLATIONS_SINK_SCHEMA,
            mode="append",
        )
        manifest.mark_done("__schema__", unit_meta)
        done.add("__schema__")
        result.units_done.append("__schema__")
    if plan.fail_fast:
        # a missing REQUIRED column aborts the whole run (reference
        # keyMissing context-cancel, rule.go:159-165): no batch marked
        # done, so a rerun against a fixed schema starts clean
        result.fail_fast = True
        return result
    # batches emit row-level checks only (the plan is this call's copy:
    # compile_row_checks keeps its cached plan intact)
    plan.schema_violations = []

    # ---- the stage table -----------------------------------------------
    # One entry (units it marks, build, fixed unit name or None) per
    # pending partition batch, then one per whole-table stage. The work unit
    # rides every row: ``__unit`` is added to the input once and every
    # violation builder keeps it, so a row lands in the unit it came
    # from even when its row key repeats across units or is NULL.
    # Whole-table stages exist because their invariant spans units: a
    # key duplicated across two units, a dependency broken across them
    # or a span shared between them is invisible per batch.
    unit, always = _unit_expr(partition_col)
    src = df.select("*", unit.alias("__unit"))
    keep = ["__unit"]
    # rows per unit: the unit list here, n_rows in the verdicts.
    # Python's str order (code points) is Spark's (UTF-8 bytes)
    n_rows = dict.fromkeys(always, 0)
    n_rows.update(src.groupBy("__unit").count().collect())
    vals = sorted(n_rows)
    # the tally after the stage loop is collected: gate its size before
    # anything is written
    _gate_tally(spark, rules, [
        *vals, "__schema__",
        *(f"__reconcile__{c}~{s['value']}" for c, s in plan.reconcile_specs),
    ])
    result.units_skipped = [u for u in vals if u in done]
    pending = [u for u in vals if u not in done]
    blooms = _prep_blooms(plan, dims) if pending else {}
    # ONE pixel pass over the units of the batches this call runs
    # (batch entries lead the stage table, so max_batches bounds them
    # first); each batch takes its rows by the unit they carry
    run_units = (
        pending if max_batches is None
        else pending[: max(max_batches, 0) * unit_batch]
    )
    pixel = None
    if plan.pixel_specs and run_units:
        pixel = pixel_stage(
            src.filter(F.col("__unit").isin(run_units)), plan, row_key,
            run_id, keep_cols=keep,
        ).localCheckpoint(eager=True)
    stages: list[tuple[list[str], Callable[[], DataFrame], str | None]] = []
    for i in range(0, len(pending), unit_batch):
        in_batch = F.col("__unit").isin(pending[i : i + unit_batch])
        stages.append((
            pending[i : i + unit_batch],
            lambda in_batch=in_batch: stage_violations(
                src.filter(in_batch), rules, row_key, plan, dims, run_id,
                blooms=blooms, keep_cols=keep,
                pixel=None if pixel is None else pixel.filter(in_batch),
            ),
            None,
        ))

    def add(
        name: str, build: Callable[[], DataFrame], unit: str | None = None
    ) -> None:
        stages.append(([name], build, unit))

    # uniqueness is one partial-combine aggregate: the shuffle carries
    # (key, count) pairs, never rows
    for c in plan.unique_cols:
        add(f"__unique__{c}", lambda c=c: unique.uniqueness_violations(
            src, c, row_key, run_id, keep_cols=keep
        ))
    for c, extra in plan.unique_composite:
        cols = [c, *extra]
        add(
            "__unique__" + "~".join(cols),
            lambda cols=cols: unique.composite_uniqueness_violations(
                src, cols, row_key, run_id, keep_cols=keep
            ),
        )
    for c, s in plan.fd_specs:
        add(f"__fd__{c}->{s.get('dep')}", lambda c=c, s=s: (
            relations.fd_violations(
                src, c, s["dep"], row_key, run_id, keep_cols=keep
            )
        ))
    for c, s in plan.monotonic_specs:
        add(f"__monotonic__{c}", lambda c=c, s=s: (
            relations.sequence_violations(
                src, s["per"], s["order"], c, row_key,
                strict=bool(s.get("strict", False)), run_id=run_id,
                keep_cols=keep,
            )
        ))
    for c, s in plan.dupspan_specs:
        add(f"__dupspan__{c}", lambda c=c, s=s: dedup.dup_span_violations(
            src, c, row_key, run_id,
            n=int(s.get("n", 3)),
            max_coverage=float(s.get("max_coverage", 0.5)),
            min_df=int(s.get("min_df", 2)),
            keep_cols=keep,
        ))
    for c, s in plan.reconcile_specs:
        # key-level failures: row_key is the reconciliation key, not a
        # df row, so the stage is its own unit (like __schema__)
        # rather than polluting real units' verdicts
        name = f"__reconcile__{c}~{s['value']}"
        add(name, lambda c=c, s=s: relations.reconcile_violations(
            df, dims[s["table"]], c, s["key"],
            F.expr(s["term"]), s["order"], s["value"],
            tol=float(s.get("tol", 0.01)), run_id=run_id,
        ), unit=name)

    # ---- one lifecycle: skip → bound → build → write → mark -----------
    # Each unit is marked AFTER its violations are written, so a kill
    # loses at most the in-flight entry. An entry writes with at most
    # defaultParallelism tasks (a coalesce: no shuffle).
    n_run = 0
    write_tasks = spark.sparkContext.defaultParallelism
    for units, build, unit in stages:
        if set(units) <= done:
            result.units_skipped.extend(units)
            continue
        if max_batches is not None and n_run >= max_batches:
            continue
        n_run += 1
        v = build()
        v = (
            v.withColumnRenamed("__unit", "unit") if unit is None
            else v.select("*", F.lit(unit).alias("unit"))
        )
        v = v.drop("run_id").select("*", *lineage).coalesce(write_tasks)
        v.write.mode("append").parquet(v_dir)
        for u in units:
            manifest.mark_done(u, unit_meta)
            done.add(u)
            result.units_done.append(u)
    # the stage table is the completeness set: complete drives the
    # quarantine publish and validate_appended's TableLog commit
    result.complete = all(set(units) <= done for units, _, _ in stages)

    # ---- one violations tally: verdicts, metrics, $anomaly counts ----
    # verdicts cover COMPLETED units only: a pending unit has no
    # violation rows yet and must not read as a pass.
    # The violations sink is APPEND-mode across snapshots (the
    # continuous workflow keeps one out_dir), so verdict / metric /
    # quarantine stages must see only THIS snapshot's rows: a row
    # fixed since the previous snapshot would otherwise stay
    # quarantined forever and metric counts would duplicate per run.
    # A resume of the same snapshot shares its snapshot_id, so the
    # filter keeps resumability intact. (Violation history across
    # snapshots remains queryable from the sink itself.)
    # ONE grouping-sets count over them, collected, feeds the verdicts
    # (per unit), the metrics (per rule and error type) and $anomaly's
    # violation_rate (per column); its sinks are driver-sized, so the
    # driver writes them.
    all_v = read_violations(spark, v_dir) if os.path.exists(v_dir) else None
    col_counts: dict[str, int] = {}
    if all_v is not None:
        all_v = all_v.filter(F.col("snapshot_id") == F.lit(snapshot))
        per_unit, per_rule, col_counts = _violation_tally(all_v)
        # the row counts collected above, joined to the tally's
        # per-unit counts; the __schema__ and $reconcile units match
        # no data unit
        write_rows(
            os.path.join(out_dir, "verdicts"),
            [
                (u, n_rows[u], per_unit.get(u, 0),
                 per_unit.get(u, 0) == 0, run_id)
                for u in vals if u in done
            ],
            T.StructType([
                T.StructField(partition_col or "unit", T.StringType()),
                T.StructField("n_rows", T.LongType()),
                T.StructField("n_violations", T.LongType()),
                T.StructField("passed", T.BooleanType()),
                T.StructField("run_id", T.StringType()),
            ]),
        )
        write_rows(
            os.path.join(out_dir, "metrics"),
            [(r, e, n, run_id) for (r, e), n in per_rule.items()],
            METRIC_SCHEMA,
        )

    # ---- quarantine split (opt-in), only under FULL coverage -----------
    if quarantine and all_v is not None:
        if result.complete:
            # $reconcile violations are KEY-level (row_key is the
            # reconciliation key, not a table row key): a numeric
            # collision with a real row key would silently quarantine
            # an innocent row, so they never feed the split
            row_level = all_v.filter(
                F.col("error_type") != ErrorType.RECONCILE_MISMATCH
            )
            clean, quarantined = report.split_valid(df, row_level, row_key)
            clean.write.mode("overwrite").parquet(
                os.path.join(out_dir, "clean")
            )
            quarantined.write.mode("overwrite").parquet(
                os.path.join(out_dir, "quarantine")
            )

    # ---- schema-change detection (zero scans: driver metadata) ---------
    # The previous snapshot's schema fingerprint lives under OUT_DIR
    # (like the drift state): the continuous workflow is one out_dir
    # across snapshots with a per-snapshot manifest_dir. A fresh
    # out_dir per snapshot forfeits schema (and drift) continuity —
    # there is nothing to compare against.
    from invalid_spark.checks import schema as schema_checks

    schema_path = os.path.join(out_dir, "schema_state.json")
    fp = schema_checks.schema_fingerprint(df)
    stored_schema = read_json(schema_path)
    schema_stale = (
        stored_schema is None or stored_schema.get("snapshot") != snapshot
    )
    if stored_schema is not None and schema_stale:
        changes = schema_checks.schema_changes(fp, stored_schema["schema"])
        write_rows(
            os.path.join(out_dir, "schema_changes"),
            [(c, ch, b, a, run_id, snapshot) for c, ch, b, a in changes],
            "col_name string, change string, before string, after string, "
            "run_id string, snapshot_id string",
        )
    if schema_stale:
        write_text(
            schema_path, json.dumps({"snapshot": snapshot, "schema": fp})
        )

    # ---- one table-level pass: $assert, $anomaly inputs, $drift grid --
    # Each layer is aggregate columns plus a driver-side finish; ONE
    # aggregation over the input (plus any vector-drift projections)
    # feeds them all. A $drift rule on an ARRAY column expands into
    # per-plane scalar specs over md5-hyperplane projections (columns
    # named "<col>#p<i>" — stable across runs because the planes are
    # md5-derived, never RNG); everything downstream — grids, tagged
    # histogram state, verdict rows, stored-state comparison — then
    # treats an embedding like `planes` ordinary numeric columns.
    d_specs, d_df, d_prev = _expand_vector_drift(df, plan.drift_specs, prev_df)
    state_dir = os.path.join(out_dir, "drift_state")
    # The stored drift state is O(bins) rows: the driver reads it and
    # hands it over as a LocalRelation. It is tagged with the snapshot
    # it was built from: a resume/re-run of the SAME snapshot must not
    # compare the table against its own state (statistic 0 would
    # overwrite the real drift verdict) nor re-write identical state,
    # so it needs no grid either. The read recovers a crash mid-swap
    # of the last write, so the stored-state comparison still happens.
    stored = stored_snap = None
    if plan.drift_specs and prev_df is None:
        state_rows = read_rows(state_dir)
        stored_snap = state_rows[0]["snapshot_id"] if state_rows else None
        if stored_snap != snapshot:
            stored = state_rows
    write_state = bool(plan.drift_specs) and stored_snap != snapshot
    layers = {}
    if plan.assert_specs:
        layers["assert"] = stats.assertion_layer(
            [{"col": c, "stat": "null_rate", **s} for c, s in plan.assert_specs],
            run_id,
        )
    if plan.anomaly_specs:
        layers["anomaly"] = anomaly_checks.metric_layer(
            col_counts, plan.anomaly_specs
        )
    if write_state:
        layers["grid"] = drift_checks.grid_layer(d_specs)
    table = dict(zip(layers, stats.one_pass(d_df, list(layers.values()))))

    # ---- table-level stat assertions ($assert) --------------------------
    if plan.assert_specs:
        write_rows(
            os.path.join(out_dir, "assertions"),
            [(*r, snapshot) for r in table["assert"]],
            stats.ASSERTION_SCHEMA + ", snapshot_id string",
        )

    # ---- declared-distribution gates ($dist) ----------------------------
    # One corpus aggregate per $dist rule (rare rules; a multi-column
    # single-pass variant would follow multi_grid's tagged pattern if
    # wide $dist rule sets ever show up). Verdict rows are tiny and
    # snapshot-stamped; the sink is overwrite-mode like assertions.
    if plan.dist_specs:
        d_out = None
        for col, spec in plan.dist_specs:
            one = drift_checks.chi2_vs_expected(
                df, col, spec["expected"], float(spec.get("alpha", 0.05))
            )
            d_out = one if d_out is None else d_out.unionByName(one)
        d_out.withColumn("run_id", F.lit(run_id)).withColumn(
            "snapshot_id", F.lit(snapshot)
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, "distribution")
        )

    # ---- metric history + $anomaly (continuous leg 3) -------------------
    # Each run appends O(rules) metric rows to out_dir/metrics_history;
    # $anomaly rules judge the CURRENT value against the prior runs'
    # history (absolute bounds + relative change vs the last-k mean).
    # Like drift state and the schema fingerprint this requires ONE
    # out_dir across snapshots; evaluation is driver-side over the
    # tiny history, read and appended by the driver; the current values
    # come from the table-level pass above.
    if plan.anomaly_specs:
        hist_dir = os.path.join(out_dir, "metrics_history")
        hist_rows = read_rows(hist_dir)
        max_seq = max((r["seq"] for r in hist_rows), default=0)
        seen_snap = any(r["snapshot_id"] == snapshot for r in hist_rows)
        # an idempotent re-run of the SAME snapshot must not compare
        # the run against its own appended metrics
        prior = [r for r in hist_rows if r["snapshot_id"] != snapshot]
        cur_vals = table["anomaly"]
        results = anomaly_checks.evaluate(
            plan.anomaly_specs, cur_vals, prior
        )
        write_rows(
            os.path.join(out_dir, "anomalies"),
            [
                (r.col, r.metric, r.value, r.baseline, r.rel_change,
                 r.z, r.n_history, r.passed, run_id, snapshot)
                for r in results
            ],
            anomaly_checks.ANOMALY_SCHEMA,
        )
        if not seen_snap:
            write_rows(
                hist_dir,
                [
                    (col, m, v, max_seq + 1, run_id, snapshot)
                    for (col, m), v in sorted(cur_vals.items())
                ],
                anomaly_checks.HISTORY_SCHEMA,
                mode="append",
            )

    # ---- drift stage (snapshot-vs-snapshot, outside unit loop) ---------
    # Comparison source, in priority order: an explicit prev_df
    # (rescan path), else the PREVIOUS run's persisted O(bins) drift
    # state under out_dir/drift_state (read before the table-level
    # pass) — continuous validation never re-reads the prior snapshot.
    # Either way this run's state is written for the next run.
    #
    # Scan budget is CONSTANT in the number of $drift rules: the grid
    # (all numeric min/max or clip quantiles together) rides the one
    # table-level pass, and ONE collected histogram pass
    # (drift.drift_pass) buckets every numeric column on that fresh
    # grid (the new state) and on its stored grid (the comparison,
    # folded on the driver's counts); a categorical column is counted
    # once for both. A per-spec `clip: [qlo, qhi]` bounds that column's
    # grid by quantiles on both the comparison and the persisted
    # state, so the stored histogram is outlier-proof too. A same-
    # snapshot re-run writes no state and compares nothing.
    if write_state:
        results, state = drift_checks.drift_pass(
            d_df, d_specs, table["grid"], stored
        )
        if prev_df is not None:
            results = drift_checks.multi_drift(
                d_df, d_prev, d_specs, cur_grids=table["grid"]
            )
        # columns with no stored state rows (a $drift rule added since
        # the stored run) are omitted — nothing to compare yet; a first
        # run compares nothing
        rows = [
            (r.column, r.test, float(r.statistic), float(r.p_value),
             bool(r.drifted), run_id, snapshot)
            for _, r in sorted(results.items())
        ]
        if rows:
            write_rows(
                os.path.join(out_dir, "drift"),
                rows,
                "column string, test string, statistic double, p_value double, "
                "drifted boolean, run_id string, snapshot_id string",
            )
        write_rows(
            state_dir,
            [(*r, snapshot) for r in state],
            drift_checks.STATE_SCHEMA + ", snapshot_id string",
        )

    return result


def _expand_vector_drift(
    df: DataFrame,
    specs: list[tuple[str, dict]],
    prev_df: DataFrame | None,
) -> tuple[list[tuple[str, dict]], DataFrame, DataFrame | None]:
    """Rewrite ``$drift`` specs on ARRAY columns into per-plane scalar
    specs over md5-hyperplane projections (Cramér–Wold sketch — see
    ``drift.embedding_drift``), returning (expanded specs, augmented
    current frame, augmented prev frame).

    Spec keys on a vector column: ``planes`` (default 4) and ``dim``
    (pass it to keep the stage action-free; without it one ``first()``
    probes the width). The projection columns are named
    ``<col>#p<i>`` — deterministic across runs, so stored-state
    comparison just works; changing ``planes`` between runs makes the
    extra planes "new columns" (omitted from comparison once, fresh
    state written). Scalar specs and frames pass through untouched."""
    from pyspark.sql.types import ArrayType

    out: list[tuple[str, dict]] = []
    proj: list[tuple[str, list[float]]] = []  # (out_name, plane)
    for col, spec in specs:
        try:
            is_vec = isinstance(df.schema[col].dataType, ArrayType)
        except KeyError:
            is_vec = False
        if not is_vec:
            out.append((col, spec))
            continue
        planes = int(spec.get("planes", 4))
        dim = spec.get("dim")
        if dim is None:
            row = df.select(col).filter(F.col(col).isNotNull()).first()
            dim = len(row[0]) if row else 0
        scalar = {
            k: v for k, v in spec.items() if k not in ("planes", "dim")
        }
        scalar.setdefault("test", "ks")
        for p, plane in enumerate(
            drift_checks.projection_planes(int(dim), planes)
        ):
            name = f"{col}#p{p}"
            proj.append((name, col, plane))
            out.append((name, dict(scalar)))
    if not proj:
        return specs, df, prev_df

    def aug(d: DataFrame | None) -> DataFrame | None:
        if d is None:
            return None
        return d.select(
            "*",
            *[
                drift_checks.projection_expr(c, pl).alias(n)
                for n, c, pl in proj
            ],
        )

    return out, aug(df), aug(prev_df)


def incremental_rows(
    cur: DataFrame, prev: DataFrame, row_key: str
) -> DataFrame:
    """Rows present in ``cur`` but not in ``prev`` — the delta a
    snapshot-incremental validation run processes. In production this
    is Iceberg's incremental read between snapshot ids (changelog
    scan); the portable fallback is a LEFT ANTI join on the row key,
    which Catalyst executes as a broadcast or shuffle join depending
    on the old-key-set size. Validating only the delta is what makes
    continuous validation affordable on a 10^12-row table: cost
    scales with the append, not the table."""
    prev_keys = prev.select(F.col(row_key).alias("__pk")).distinct()
    return cur.join(prev_keys, F.col(row_key) == F.col("__pk"), "left_anti")


def snapshot_diff(
    cur: DataFrame,
    prev: DataFrame,
    row_key: str,
    cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots: (row_key, change) with
    change ∈ added | removed | changed — the "what actually changed"
    question a validation report raises next. Unchanged rows are
    omitted, so the result is delta-sized.

    One full-outer join on the row key (both sides shuffle on the
    key — unavoidable for a diff; AQE sizes the join) comparing a
    single md5 row fingerprint per side, so the join payload is
    (key, 32-byte hash), never the row. ``cols`` defaults to every
    shared non-key column IN CUR'S COLUMN ORDER. Row keys must be
    unique per side (it's a diff, not a multiset reconcile — that's
    ``$reconcile``); float columns compare by their string rendering,
    which differs across engines — list explicit ``cols`` without
    floats when an external oracle must replay the fingerprint."""
    if cols is None:
        prev_cols = set(prev.columns)
        cols = [
            c for c in cur.columns if c != row_key and c in prev_cols
        ]
    if not cols:
        raise ValueError("snapshot_diff: no shared non-key columns")

    def fingerprint(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(row_key).cast("string").alias("rk"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("∅"))
                        for c in cols
                    ],
                )
            ).alias("h"),
        )

    a = fingerprint(cur).alias("a")
    b = fingerprint(prev).alias("b")
    j = a.join(b, F.col("a.rk") == F.col("b.rk"), "full_outer")
    change = (
        F.when(F.col("b.rk").isNull(), F.lit("added"))
        .when(F.col("a.rk").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
    )
    return j.select(
        F.coalesce(F.col("a.rk"), F.col("b.rk")).alias("row_key"),
        change.alias("change"),
    ).filter(F.col("change").isNotNull())


def validate_incremental(
    spark: SparkSession,
    cur: DataFrame,
    prev: DataFrame,
    rules: RuleSet,
    row_key: str,
    out_dir: str,
    **kwargs,
) -> RunResult:
    """Validate only the rows added since ``prev``; outputs append to
    the same sinks (each run distinguished by run_id + snapshot).

    Requires a ``snapshot`` id: the checkpoint manifest is namespaced
    per snapshot (``manifest-{snapshot}``), so each delta resumes
    independently. A shared manifest would mark ``__all__`` done on
    the first delta and silently skip every later one — stale pass
    verdicts over unvalidated data."""
    snapshot = kwargs.get("snapshot")
    if not snapshot:
        raise ValueError(
            "validate_incremental requires snapshot=<id of the current "
            "table state> (e.g. invalid_spark.io.snapshot_id(path)); the "
            "per-snapshot manifest namespace is what lets successive "
            "deltas against the same out_dir each be validated"
        )
    kwargs.setdefault(
        "manifest_dir", os.path.join(out_dir, f"manifest-{snapshot}")
    )
    delta = incremental_rows(cur, prev, row_key)
    return validate(spark, delta, rules, row_key, out_dir, **kwargs)


def validate_appended(
    spark: SparkSession,
    table_path: str,
    log,
    rules: RuleSet,
    row_key: str,
    out_dir: str,
    prev_snapshot_df: DataFrame | None = None,
    **kwargs,
) -> RunResult:
    """FILE-level incremental validation against a
    :class:`~invalid_spark.io.TableLog`: read ONLY the files the
    table added since the latest logged snapshot, validate those, and
    commit the new state to the log AFTER validation completes —
    append detection costs zero data scans (the Iceberg-manifest
    contract), unlike :func:`validate_incremental`'s row-level
    anti-join, which must scan both snapshots. Use this when the
    table grows by appending files (the normal ingest shape).

    Kill-safety ordering: the snapshot id is content-addressed from
    the previewed file list (:meth:`TableLog.pending_id`), so the
    checkpoint manifest can be namespaced ``manifest-{snapshot}``
    up front while the commit waits until :func:`validate` returns.
    A run killed mid-delta therefore leaves the log untouched; the
    retry previews the SAME pending state, resumes the delta through
    its manifest, and only then commits. (Committing first — the
    pre-round-5 behavior — made the retry's preview diff against the
    already-committed state and no-op, silently never validating the
    appended files.) A fail-fasted run (missing required column) also
    leaves the log uncommitted, so the delta stays pending until the
    schema or rules are fixed.

    Removed or in-place-rewritten files mean file identity no longer
    implies row identity, so the file-level contract is unsound. With
    ``prev_snapshot_df`` (the previous snapshot's rows — in
    production an Iceberg time-travel read of the parent snapshot;
    in the parquet stand-in a caller-retained copy, e.g. the clean
    sink) the run degrades to a ROW-level diff fallback: it validates
    exactly the added+changed row set from :func:`snapshot_diff`,
    stamps ``RunResult.mode = "row_diff_fallback"``, records the mode
    next to the manifest, and re-baselines the log on success.
    Without it, the refusal raises — and keeps raising on retry,
    because nothing was committed.

    Resumable per snapshot: the manifest namespace is
    ``manifest-{snapshot}`` (the :func:`validate_incremental`
    convention), so re-running after a kill resumes the delta, and
    re-running with no new files skips the already-done delta via its
    manifest (no recompute)."""
    pv = log.preview(table_path)
    snap = log.pending_id(pv["entries"])
    run_id = kwargs.pop("run_id", None) or uuid.uuid4().hex[:12]

    if pv["removed"] or pv["changed"]:
        if prev_snapshot_df is None:
            # refuse WITHOUT committing: a recorded unsound snapshot
            # would become the next run's baseline and the refusal
            # would fire exactly once — an automated retry would then
            # silently skip the rewritten data forever
            raise ValueError(
                f"table at {table_path} removed files {pv['removed'][:3]} "
                f"/ rewrote files {pv['changed'][:3]} since snapshot "
                f"{pv['parent']}: file-level append validation is unsound "
                "after a rewrite or compaction — pass prev_snapshot_df= "
                "(the previous snapshot's rows) for the row-level diff "
                "fallback, or run a full validate() / "
                "validate_incremental(), then re-baseline with a fresh "
                "TableLog"
            )
        # row-level fallback: validate exactly the rows the rewrite
        # added or changed (snapshot_diff's delta-sized full-outer
        # hash join), then re-baseline the log
        cur = spark.read.parquet(table_path)
        delta_keys = (
            snapshot_diff(cur, prev_snapshot_df, row_key)
            .filter(F.col("change").isin("added", "changed"))
            .select("row_key")
        )
        df = cur.join(
            delta_keys,
            F.col(row_key).cast("string") == delta_keys["row_key"],
            "left_semi",
        )
        mode = "row_diff_fallback"
    elif pv["added"]:
        # basePath keeps directory-partitioned layouts (date=.../part-*)
        # yielding their partition columns even though only leaf files
        # are read
        df = spark.read.option("basePath", table_path).parquet(
            *[os.path.join(table_path, p) for p in pv["added"]]
        )
        mode = ""
    else:
        result = RunResult(run_id=run_id, snapshot=snap, out_dir=out_dir)
        result.units_skipped = ["__no_new_files__"]
        return result
    kwargs.setdefault("manifest_dir", os.path.join(out_dir, f"manifest-{snap}"))
    kwargs["snapshot"] = snap
    res = validate(
        spark, df, rules, row_key, out_dir, run_id=run_id, **kwargs
    )
    res.mode = mode
    # commit ONLY a fully validated snapshot: a fail-fast or a
    # max_batches-bounded partial run leaves the log untouched, so the
    # retry previews the same pending state and resumes via its
    # manifest instead of no-opping on an already-committed baseline
    if res.complete and not res.fail_fast:
        if mode:
            _record_mode(kwargs["manifest_dir"], mode, run_id, snap)
        log.commit(table_path, entries=pv["entries"])
    return res


def _record_mode(manifest_dir: str, mode: str, run_id: str, snap: str) -> None:
    """Persist a degraded-mode marker next to the checkpoint manifest
    so the audit trail shows WHICH contract validated this snapshot
    (file-level runs write nothing — normal mode is the default)."""
    os.makedirs(manifest_dir, exist_ok=True)
    write_text(
        os.path.join(manifest_dir, "mode.json"),
        json.dumps({"mode": mode, "run_id": run_id, "snapshot_id": snap}),
    )


def validate_suite(
    spark: SparkSession,
    suite: dict,
    out_dir: str,
    **common,
) -> dict[str, RunResult]:
    """Validate SEVERAL tables under one audit root — the
    multi-table checkpoint (deequ ``VerificationSuite`` / Great
    Expectations checkpoint analog). ``suite`` is the parsed config:

    .. code-block:: yaml

        tables:
          documents:
            path: /data/documents        # parquet path
            rules: rules_documents.yaml  # or a loaded RuleSet
            row_key: doc_id
            partition_col: source        # optional
            dims: {licenses: /data/licenses}   # optional
            quarantine: true             # optional

    Each table validates into ``out_dir/<name>`` with its OWN
    manifest, so a killed suite resumes exactly where it stopped:
    completed tables skip wholesale (their units are done), the
    in-flight table resumes at its unit batch. Tables run in config
    order; a table whose rules fail-fast (missing required column)
    still yields a result — :func:`suite_summary` reports it
    ``passed: false, fail_fast: true`` — while execution errors
    (unreadable path, bad rules file) raise. ``common`` kwargs (e.g.
    ``unit_batch``) apply to every table; per-table keys win."""
    from invalid_spark.dsl import load_rules_file

    results: dict[str, RunResult] = {}
    for name, cfg in suite["tables"].items():
        df = spark.read.parquet(cfg["path"])
        rules = cfg["rules"]
        if isinstance(rules, str):
            rules = load_rules_file(rules)
        dims = {
            dn: spark.read.parquet(dp)
            for dn, dp in (cfg.get("dims") or {}).items()
        }
        kwargs = dict(common)
        for k in ("partition_col", "unit_batch", "quarantine", "prev_table"):
            if k in cfg:
                kwargs[k] = cfg[k]
        prev_path = kwargs.pop("prev_table", None)
        if prev_path:
            kwargs["prev_df"] = spark.read.parquet(prev_path)
        results[name] = validate(
            spark,
            df,
            rules,
            cfg.get("row_key", "id"),
            os.path.join(out_dir, name),
            dims=dims,
            snapshot=snapshot_id(cfg["path"]),
            **kwargs,
        )
    return results


def suite_summary(
    spark: SparkSession, results: dict[str, RunResult]
) -> dict:
    """One JSON-able roll-up per suite run: per-table violation
    counts, verdict pass/fail, and units done/skipped. A table whose
    run FAIL-FASTED (missing required column: ``validate`` returns
    after writing only the schema violation, before any verdicts
    sink exists) is reported ``passed: false`` with
    ``fail_fast: true`` rather than crashing the roll-up on the
    absent verdicts parquet."""
    out: dict = {"tables": {}, "passed": True}
    for name, res in results.items():
        # a fail-fasted run returns before most sinks exist; a
        # completed run over an empty table can also leave zero
        # verdict rows — so fail-fast is the run's EXPLICIT flag, and
        # every sink read is existence-guarded rather than inferred
        if os.path.exists(os.path.join(res.out_dir, "violations")):
            v = res.violations(spark)
            n = v.filter(F.col("snapshot_id") == res.snapshot).count()
        else:
            n = 0
        if os.path.exists(os.path.join(res.out_dir, "verdicts")):
            verd = [
                r.asDict()
                for r in res.verdicts(spark)
                .filter(F.col("run_id") == res.run_id)
                .collect()
            ]
        else:
            verd = []
        fail_fast = res.fail_fast
        passed = all(r["passed"] for r in verd) and n == 0 and not fail_fast
        out["tables"][name] = {
            "run_id": res.run_id,
            "snapshot_id": res.snapshot,
            "violations": n,
            "units_done": res.units_done,
            "units_skipped": res.units_skipped,
            "passed": passed,
        }
        if fail_fast:
            out["tables"][name]["fail_fast"] = True
        out["passed"] = out["passed"] and passed
    return out


def profile(
    df: DataFrame, rules: RuleSet, run_id: str = ""
) -> DataFrame | None:
    """Column statistics for every ``$stats`` directive (one pass)."""
    plan = rowchecks.compile_row_checks(df, rules)
    if not plan.stats_specs:
        return None
    return stats.column_profile(df, plan.stats_specs, run_id=run_id)
