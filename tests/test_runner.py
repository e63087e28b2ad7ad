"""Runner orchestration: full-suite run, checkpoint manifest, resume
with no duplicate violations, lineage columns (north-rule
resumability requirements)."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invalid_spark import synth
from invalid_spark.dsl import load_rules
from invalid_spark.io import Manifest, snapshot_id
from invalid_spark import runner

RULES = load_rules(
    """
image_id: {$type: $str, $reg: '^img-[0-9]{12}$', $unique: true}
w: {$type: $int, $range: {$min: 1, $max: 100000}}
fmt: {$type: $str, $of: [png, jpeg, webp]}
caption: {$type: $str, $length: {$min: 1, $max: 10000}}
license_id: {$type: $str, $ref: {table: licenses, key: license_id}}
bytes: {$type: $bin, $pixel: {psnr_min: 40.0}}
"""
)

N = 220


@pytest.fixture(scope="module")
def img_table(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("imgs") / "tbl")
    # stable shard key independent of planted violations
    df = synth.images_df(spark, N, partitions=4).withColumn(
        "shard",
        F.concat(F.lit("s"), F.pmod(F.xxhash64("image_id"), F.lit(4)).cast("string")),
    )
    df.write.mode("overwrite").parquet(p)
    return p


def _expected_counts():
    return {
        "range_w": len(synth.violation_indices(N, "range_w")),
        "enum_fmt": len(synth.violation_indices(N, "enum_fmt")),
        "len_caption": len(synth.violation_indices(N, "len_caption")),
        "ref_license": len(synth.violation_indices(N, "ref_license")),
        "corrupt": len(synth.violation_indices(N, "corrupt")),
        "dup_id": 2 * len(synth.violation_indices(N, "dup_id")),
    }


def test_ref_bloom_mode_matches_exact(spark, img_table, tmp_path):
    """$ref: {mode: bloom} reproduces the exact LEFT ANTI counts at
    generous sizing, and a bad mode fails at plan-compile time."""
    df = spark.read.parquet(img_table)
    rules = load_rules(
        "image_id: {$type: $str}\n"
        "license_id: {$type: $str, $ref: {table: licenses, "
        "key: license_id, mode: bloom, bits: 65536, hashes: 3}}\n"
    )
    res = runner.validate(
        spark, df, rules, "image_id", str(tmp_path / "bloom"),
        dims={"licenses": synth.licenses_df(spark)},
    )
    v = res.violations(spark)
    n = v.filter(F.col("error_type") == "refMismatch").count()
    assert n == len(synth.violation_indices(N, "ref_license"))

    bad = load_rules(
        "license_id: {$type: $str, $ref: {table: licenses, "
        "key: license_id, mode: sketchy}}\n"
    )
    from invalid_spark.checks.rows import run_row_checks

    with pytest.raises(ValueError, match="exact.*bloom|bloom.*exact"):
        run_row_checks(df, bad, "image_id")


def test_full_run_and_goldens(spark, img_table, tmp_path):
    df = spark.read.parquet(img_table)
    out = str(tmp_path / "run1")
    res = runner.validate(
        spark, df, RULES, "image_id", out,
        dims={"licenses": synth.licenses_df(spark)},
        snapshot=snapshot_id(img_table),
        partition_col="shard",
        unit_batch=2,
    )
    assert len(res.units_done) == 5 and not res.units_skipped  # 4 shards + global unique
    v = res.violations(spark)
    exp = _expected_counts()
    by = {r["error_type"]: r["cnt"] for r in
          v.groupBy("error_type").agg(F.count("*").alias("cnt")).collect()}
    assert by["rangeMismatch"] == exp["range_w"]
    assert by["ofMismatch"] == exp["enum_fmt"]
    assert by["strLengthMismatch"] == exp["len_caption"]
    assert by["refMismatch"] == exp["ref_license"]
    assert by["decodeError"] == exp["corrupt"]
    assert by["uniqueMismatch"] == exp["dup_id"]
    # phash planted violations minus those also corrupt
    phash_idx = set(synth.violation_indices(N, "phash_bit"))
    corrupt_idx = set(synth.violation_indices(N, "corrupt"))
    assert by["pixelMismatch"] == len(phash_idx - corrupt_idx)
    # lineage columns present and populated
    row = v.limit(1).collect()[0]
    assert row["run_id"] == res.run_id
    assert row["snapshot_id"] == res.snapshot
    assert "unit" in v.columns
    # verdicts cover all 4 shards; all fail (violations everywhere)
    verd = res.verdicts(spark)
    assert verd.count() == 4
    assert verd.filter("passed").count() == 0
    assert res.metrics(spark).count() > 0


def test_resume_no_duplicates(spark, img_table, tmp_path):
    df = spark.read.parquet(img_table)
    out = str(tmp_path / "run2")
    dims = {"licenses": synth.licenses_df(spark)}
    snap = snapshot_id(img_table)
    # first call: only 1 batch of 2 units → simulated kill
    r1 = runner.validate(
        spark, df, RULES, "image_id", out, dims=dims, snapshot=snap,
        partition_col="shard", unit_batch=2, max_batches=1,
    )
    assert len(r1.units_done) == 2
    m = Manifest(os.path.join(out, "manifest"))
    assert m.done_units() == set(r1.units_done)
    v_partial = spark.read.parquet(os.path.join(out, "violations"))
    partial_units = {r[0] for r in v_partial.select("unit").distinct().collect()}
    assert partial_units <= set(r1.units_done) | {"__schema__"}
    # verdicts only for completed units
    verd1 = r1.verdicts(spark)
    shard_units = {u for u in r1.units_done if not u.startswith("__")}
    assert {r["shard"] for r in verd1.collect()} == shard_units

    # resume: remaining 2 units
    r2 = runner.validate(
        spark, df, RULES, "image_id", out, dims=dims, snapshot=snap,
        partition_col="shard", unit_batch=2,
    )
    assert set(r2.units_skipped) == set(r1.units_done)
    assert len(r2.units_done) == 3  # 2 shards + global unique

    # combined output identical to a clean full run: no dups, no gaps
    out_full = str(tmp_path / "run_full")
    rf = runner.validate(
        spark, df, RULES, "image_id", out_full, dims=dims, snapshot=snap,
        partition_col="shard", unit_batch=4,
    )
    a = spark.read.parquet(os.path.join(out, "violations"))
    b = spark.read.parquet(os.path.join(out_full, "violations"))
    cols = ["row_key", "column", "rule_id", "error_type", "message", "unit"]
    key = lambda t: tuple("" if x is None else str(x) for x in t)
    assert sorted(map(tuple, a.select(*cols).collect()), key=key) == sorted(
        map(tuple, b.select(*cols).collect()), key=key
    )
    # third call: everything already done → no-op
    r3 = runner.validate(
        spark, df, RULES, "image_id", out, dims=dims, snapshot=snap,
        partition_col="shard", unit_batch=2,
    )
    assert not r3.units_done and len(r3.units_skipped) == 5


def test_whole_table_unit_resume(spark, img_table, tmp_path):
    df = spark.read.parquet(img_table)
    out = str(tmp_path / "run3")
    dims = {"licenses": synth.licenses_df(spark)}
    r1 = runner.validate(spark, df, RULES, "image_id", out, dims=dims)
    assert r1.units_done == ["__all__", "__unique__image_id"]
    r2 = runner.validate(spark, df, RULES, "image_id", out, dims=dims)
    assert set(r2.units_skipped) == {"__all__", "__unique__image_id"} and not r2.units_done


PIXEL_RULES = load_rules(
    """
image_id: {$type: $str, $unique: true}
bytes: {$type: $bin, $pixel: {psnr_min: 40.0}}
bytes2: {$type: $bin, $pixel: {psnr_min: 40.0}}
"""
)
PIXEL_TYPES = ["pixelMismatch", "decodeError", "typeMismatch"]


@pytest.fixture(scope="module")
def mod4_table(tmp_path_factory):
    """synth rows with ``shard = row index mod 4``: every planted
    duplicate id sits in another shard than its twin. The duplicate
    rows also get truncated bytes, so only one of the two rows that
    share a key has a decodeError. ``bytes2`` copies ``bytes`` (a
    second ``$pixel`` column)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for i in range(N):
        r = synth.make_row(i)
        if i in synth.violation_indices(N, "dup_id"):
            r["bytes"] = r["bytes"][:8]
        r["bytes2"] = r["bytes"]
        r["shard"] = f"m{i % 4}"
        rows.append(r)
    p = str(tmp_path_factory.mktemp("mod4") / "tbl.parquet")
    pq.write_table(pa.Table.from_pylist(rows), p)
    return p


def test_pixel_pass_once_per_call_split_by_unit(
    spark, mod4_table, tmp_path, monkeypatch
):
    """One pixel_violations call per $pixel column per validate call,
    and its rows reach exactly the unit whose slice they came from:
    a planted duplicate id's decodeError belongs to one shard, not to
    the twin's shard too."""
    from invalid_spark.checks import image as image_checks

    df = spark.read.parquet(mod4_table)
    units = [f"m{i}" for i in range(4)]
    cols = ["row_key", "column", "rule_id", "error_type", "message",
            "observed", "partition_id"]
    key = lambda t: tuple("" if x is None else str(x) for x in t)

    def rows_of(frame, *extra):
        return sorted(map(tuple, frame.select(*cols, *extra).collect()), key=key)

    expected = {
        u: rows_of(reduce(DataFrame.unionByName, [
            image_checks.pixel_violations(
                df.filter(F.col("shard") == u), bytes_col=c)
            for c in ("bytes", "bytes2")
        ]))
        for u in units
    }
    dup_keys = {f"img-{i - 1:012d}" for i in synth.violation_indices(N, "dup_id")}
    decode_units = {
        (r[0], u) for u in units for r in expected[u] if r[3] == "decodeError"
    }
    # the setup the split must survive: each duplicate key fails to
    # decode in exactly one shard (its twin row lives in another)
    assert dup_keys and all(
        sum(k == rk for rk, _ in decode_units) == 1 for k in dup_keys
    )

    calls = []
    orig = image_checks.pixel_violations

    def counting(*args, **kwargs):
        calls.append(kwargs.get("bytes_col"))
        return orig(*args, **kwargs)

    monkeypatch.setattr(image_checks, "pixel_violations", counting)

    def run(out, **kw):
        n0 = len(calls)
        res = runner.validate(spark, df, PIXEL_RULES, "image_id", out,
                              partition_col="shard", unit_batch=1, **kw)
        assert sorted(calls[n0:]) == ["bytes", "bytes2"]
        return res

    full = run(str(tmp_path / "full"))
    assert full.complete
    v = full.violations(spark).filter(F.col("error_type").isin(PIXEL_TYPES))
    for u in units:
        assert rows_of(v.filter(F.col("unit") == u)) == expected[u], u

    out = str(tmp_path / "resumed")
    r1 = run(out, max_batches=1)
    assert r1.units_done == ["m0"]
    r2 = run(out)
    assert r2.complete and r2.units_skipped == ["m0"]
    assert rows_of(r2.violations(spark), "unit") == rows_of(
        full.violations(spark), "unit")


def test_profile(spark, img_table):
    df = spark.read.parquet(img_table)
    rules = load_rules(
        "w: {$type: $int, $stats: [null_rate, min, max, ndv]}\n"
        "caption: {$type: $str}\n"
    )
    prof = runner.profile(df, rules)
    stats_seen = {(r["column"], r["stat"]) for r in prof.collect()}
    assert ("w", "null_rate") in stats_seen and ("w", "ndv") in stats_seen


def test_runner_drift_stage(spark, img_table, tmp_path):
    # drop the planted w-outlier rows (0 / 100001): fixed-range
    # histograms lose all resolution when outliers stretch [lo, hi]
    df = spark.read.parquet(img_table).filter("w BETWEEN 1 AND 1000")
    prev = synth.images_prev_df(spark, N, drifted=True).filter(
        "w BETWEEN 1 AND 1000"
    )
    rules = load_rules(
        """
w: {$type: $int, $drift: {test: ks, threshold: 0.01}}
fmt: {$type: $str, $drift: {test: chi2, threshold: 0.01}}
"""
    )
    out = str(tmp_path / "run_drift")
    runner.validate(spark, df, rules, "image_id", out, prev_df=prev)
    drift = spark.read.parquet(os.path.join(out, "drift"))
    rows = {r["column"]: r for r in drift.collect()}
    # images_prev shifts w by +4 and perturbs the fmt mix — both must flag
    assert rows["w"]["test"] == "ks" and rows["w"]["drifted"]
    assert rows["fmt"]["test"] == "chi2" and rows["fmt"]["drifted"]
    # identical snapshot must NOT flag
    out2 = str(tmp_path / "run_nodrift")
    runner.validate(
        spark, df, rules, "image_id", out2,
        prev_df=synth.images_prev_df(spark, N, drifted=False).filter(
            "w BETWEEN 1 AND 1000"
        ),
    )
    d2 = spark.read.parquet(os.path.join(out2, "drift"))
    assert all(not r["drifted"] for r in d2.collect())


def test_incremental_validation(spark, tmp_path):
    prev = synth.images_df(spark, 150, partitions=4)
    cur = synth.images_df(spark, 220, partitions=4)  # 70 appended rows
    delta = runner.incremental_rows(cur, prev, "image_id")
    # appended ids are 150..219 (minus the dup-id row which reuses an
    # old id only if its source index < 150 — here 201 dups 200, both new)
    got = {r["image_id"] for r in delta.select("image_id").collect()}
    exp = {f"img-{i:012d}" for i in range(150, 220)}
    exp -= {f"img-{i:012d}" for i in [201]}  # dup row carries id 200
    assert got == exp

    out = str(tmp_path / "inc")
    res = runner.validate_incremental(
        spark, cur, prev, RULES, "image_id", out,
        dims={"licenses": synth.licenses_df(spark)}, snapshot="snap-2",
    )
    v = res.violations(spark)
    # every violation's row key is a delta row
    keys = {r["row_key"] for r in v.select("row_key").collect()}
    assert keys <= exp
    # planted violations in the delta range are found
    rw = [i for i in synth.violation_indices(220, "range_w") if i >= 150]
    assert v.filter("error_type = 'rangeMismatch'").count() == len(rw)


def test_null_partition_units_are_validated(spark, tmp_path):
    """Rows whose partition_col is NULL must still be validated: they
    get the explicit __null__ unit (a bare isin() would drop them and
    mark nothing wrong)."""
    df = spark.createDataFrame(
        [("k1", 5, "a"), ("k2", -5, "a"), ("k3", -7, None), ("k4", 3, None)],
        "id string, v long, shard string",
    )
    rules = load_rules("v: {$type: $int, $range: {$min: 0, $max: 100}}")
    out = str(tmp_path / "nullunit")
    res = runner.validate(
        spark, df, rules, "id", out, partition_col="shard"
    )
    assert runner.NULL_UNIT in res.units_done
    v = res.violations(spark)
    keys = {r["row_key"] for r in v.collect()}
    assert "k3" in keys, "violation in a NULL-partition row was dropped"
    units = {r["unit"] for r in v.select("unit").collect()}
    assert runner.NULL_UNIT in units


def test_unit_rides_every_violation_row(spark, tmp_path):
    """Each violation row keeps the unit of the row it came from: a key
    that repeats across units is flagged in both, a NULL key stays in
    its own unit, and the verdicts count exactly those rows."""
    df = spark.createDataFrame(
        [("a", "s1"), ("a", "s2"), ("b", "s2"), (None, "s3"), ("c", "s3")],
        "k string, shard string",
    )
    rules = load_rules("k: {$type: $str, $unique: true}\n")
    res = runner.validate(spark, df, rules, "k", str(tmp_path / "attr"),
                          partition_col="shard", unit_batch=1)
    assert res.complete
    v = res.violations(spark)
    got = sorted(
        (r["error_type"], r["row_key"] or "", r["unit"])
        for r in v.select("error_type", "row_key", "unit").collect()
    )
    assert got == [
        ("keyMissing", "", "s3"),
        ("uniqueMismatch", "a", "s1"),
        ("uniqueMismatch", "a", "s2"),
    ]
    verd = {r["shard"]: r for r in res.verdicts(spark).collect()}
    assert sorted(verd) == ["s1", "s2", "s3"]
    for u, r in verd.items():
        assert (r["n_rows"], r["n_violations"], r["passed"]) == (
            1 + (u != "s1"), 1, False
        ), u


def test_violations_sink_schema_matches_inferred(spark, img_table, tmp_path):
    """The runner reads its violations sink with a declared schema
    (no inference job); on a fresh sink that schema is exactly what
    inference yields."""
    df = spark.read.parquet(img_table)
    res = runner.validate(
        spark, df, RULES, "image_id", str(tmp_path / "schema"),
        dims={"licenses": synth.licenses_df(spark)}, partition_col="shard",
    )
    inferred = spark.read.parquet(os.path.join(res.out_dir, "violations"))
    assert inferred.schema == runner.VIOLATIONS_SINK_SCHEMA
    assert res.violations(spark).schema == inferred.schema


# Spark jobs of one warm validate call on the 4-shard table: 12 when
# each violation row carries its unit, one collected tally feeds the
# verdicts and metrics the driver writes and `$unique` is one
# partial-combine aggregate; a salted two-stage `$unique` took 13,
# Spark-written verdicts and metrics 16, and re-deriving the unit by
# key joins (attribution per entry, verdicts over the whole input) 30
JOB_BUDGET = 12


# The same call without a partition_col: 10 when the one unit __all__
# takes its verdict from the same tally as any unit; 14 when Spark
# grouped the input by task partition for it
ALL_UNIT_JOB_BUDGET = 10


@pytest.mark.parametrize("partition_col,n_writes,budget", [
    ("shard", 3, JOB_BUDGET),  # two unit batches + the global unique
    (None, 2, ALL_UNIT_JOB_BUDGET),  # __all__ + the global unique
], ids=["shard", "None"])
def test_validate_job_budget_and_no_row_key_join(
    spark, img_table, tmp_path, monkeypatch, partition_col, n_writes, budget
):
    """One validate call on a fixed 4-unit table (or, without a
    ``partition_col``, one unit) runs at most ``budget`` Spark jobs,
    and no stage entry's write plan joins on the violation row key
    (the unit is carried, never re-derived)."""
    from pyspark.sql import DataFrameWriter

    df = spark.read.parquet(img_table)
    dims = {"licenses": synth.licenses_df(spark)}

    def run(out):
        return runner.validate(
            spark, df, RULES, "image_id", str(tmp_path / out), dims=dims,
            partition_col=partition_col, unit_batch=2,
        )

    run("warm")  # Python workers and codegen warm, as in a served call
    plans = []
    orig = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        if os.path.basename(path) == "violations":
            plans.append(
                self._df._jdf.queryExecution().optimizedPlan().toString()
            )
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    sc = spark.sparkContext
    # one group name per case: the tracker keeps a group's earlier jobs
    group = f"job_budget_{partition_col}"
    sc.setJobGroup(group, "one validate call")
    try:
        res = run("timed")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.complete
    assert len(plans) == n_writes
    for plan in plans:
        joins = [ln for ln in plan.splitlines() if "Join" in ln]
        assert not [ln for ln in joins if "row_key#" in ln], plan
    assert len(jobs) <= budget, len(jobs)


def test_resume_refuses_snapshot_mismatch(spark, tmp_path):
    df = synth.images_df(spark, 40, partitions=2)
    out = str(tmp_path / "snapmix")
    dims = {"licenses": synth.licenses_df(spark)}
    runner.validate(spark, df, RULES, "image_id", out, dims=dims,
                    snapshot="snap-a")
    with pytest.raises(ValueError, match="snapshot"):
        runner.validate(spark, df, RULES, "image_id", out, dims=dims,
                        snapshot="snap-b")
    # same snapshot resumes fine (everything already done)
    res = runner.validate(spark, df, RULES, "image_id", out, dims=dims,
                          snapshot="snap-a")
    assert res.units_done == []


def test_validate_appended_file_level(spark, tmp_path):
    """TableLog + validate_appended: only the files a snapshot added
    are read and validated; unchanged tables no-op; a rewrite is
    refused as unsound for file-level reasoning."""
    from invalid_spark.io import TableLog

    t = str(tmp_path / "tbl")
    os.makedirs(t)
    rules = load_rules("lang: {$type: $str, $of: [en]}\n")
    log = TableLog(str(tmp_path / "log"))
    out = str(tmp_path / "audit")

    def write_file(name, rows):
        spark.createDataFrame(rows, "doc_id long, lang string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(t, name))

    write_file("f0", [(i, "en") for i in range(10)])
    r1 = runner.validate_appended(spark, t, log, rules, "doc_id", out)
    assert r1.violations(spark).count() == 0

    # append a file with 3 planted violations; only IT is validated
    write_file("f1", [(100 + i, "xx" if i < 3 else "en") for i in range(10)])
    r2 = runner.validate_appended(spark, t, log, rules, "doc_id", out)
    v2 = r2.violations(spark).filter(F.col("snapshot_id") == r2.snapshot)
    assert v2.count() == 3
    assert {r.row_key for r in v2.collect()} == {"100", "101", "102"}

    # nothing new: preview sees an unchanged table → pure no-op
    # (zero Spark jobs; a KILLED delta re-run instead resumes via its
    # per-snapshot manifest)
    r3 = runner.validate_appended(spark, t, log, rules, "doc_id", out)
    assert r3.units_done == [] and r3.units_skipped == ["__no_new_files__"]
    assert r3.snapshot == r2.snapshot

    # rewrite f0 in place (different content, same dir) → refused,
    # and the refusal happens BEFORE commit: the log's latest is
    # still the good snapshot, so a retry refuses AGAIN instead of
    # baselining on the unsound state and skipping it forever
    snaps_before = log.snapshots()
    write_file("f0", [(i, "en") for i in range(5)])
    for _ in range(2):
        with pytest.raises(ValueError, match="rewrote|removed"):
            runner.validate_appended(spark, t, log, rules, "doc_id", out)
    assert log.snapshots() == snaps_before


def test_validate_appended_partitioned_layout(spark, tmp_path):
    """Hive-style date=... appends keep their partition column (the
    basePath read) and can drive partition_col work units."""
    from invalid_spark.io import TableLog

    t = str(tmp_path / "ptbl")
    rules = load_rules("lang: {$type: $str, $of: [en]}\n")
    log = TableLog(str(tmp_path / "plog"))
    out = str(tmp_path / "paudit")
    d1 = spark.createDataFrame(
        [(i, "en") for i in range(8)], "doc_id long, lang string"
    )
    d1.coalesce(1).write.parquet(os.path.join(t, "day=2024-01-01"))
    r1 = runner.validate_appended(
        spark, t, log, rules, "doc_id", out, partition_col="day"
    )
    assert r1.units_done and r1.violations(spark).count() == 0
    d2 = spark.createDataFrame(
        [(100 + i, "xx" if i < 2 else "en") for i in range(8)],
        "doc_id long, lang string",
    )
    d2.coalesce(1).write.parquet(os.path.join(t, "day=2024-01-02"))
    r2 = runner.validate_appended(
        spark, t, log, rules, "doc_id", out, partition_col="day"
    )
    v = r2.violations(spark).filter(F.col("snapshot_id") == r2.snapshot)
    assert v.count() == 2
    # the partition column survived the leaf-file read: the unit is
    # the day value, not __all__
    assert {r.unit for r in v.collect()} == {"2024-01-02"}


def test_validate_appended_kill_resume_commits_late(spark, tmp_path):
    """The commit-ordering contract: a delta run killed (here: bounded
    by max_batches) before completing leaves the TableLog UNCOMMITTED,
    so the retry previews the same pending state and RESUMES the delta
    through its per-snapshot manifest — instead of no-opping on an
    already-committed baseline and silently never validating the
    appended files (the pre-round-5 bug)."""
    from invalid_spark.io import TableLog

    t = str(tmp_path / "tbl")
    rules = load_rules("lang: {$type: $str, $of: [en]}\n")
    log = TableLog(str(tmp_path / "log"))
    out = str(tmp_path / "audit")

    def write_day(day, rows):
        spark.createDataFrame(
            rows, "doc_id long, lang string"
        ).coalesce(1).write.parquet(os.path.join(t, f"day={day}"))

    write_day("d1", [(i, "en") for i in range(6)])
    r1 = runner.validate_appended(
        spark, t, log, rules, "doc_id", out, partition_col="day"
    )
    assert r1.complete and log.snapshots()  # baseline committed
    snaps_after_r1 = log.snapshots()

    # append TWO partitions, then run a delta bounded to ONE batch
    # (unit_batch=1, max_batches=1) — the "killed mid-delta" shape
    write_day("d2", [(100 + i, "xx" if i < 2 else "en") for i in range(6)])
    write_day("d3", [(200 + i, "xx" if i < 1 else "en") for i in range(6)])
    r2 = runner.validate_appended(
        spark, t, log, rules, "doc_id", out,
        partition_col="day", unit_batch=1, max_batches=1,
    )
    assert not r2.complete
    # the log did NOT advance: the delta is still pending
    assert log.snapshots() == snaps_after_r1

    # retry sees the same pending snapshot, resumes (done unit skips),
    # finishes, and only now commits
    r3 = runner.validate_appended(
        spark, t, log, rules, "doc_id", out,
        partition_col="day", unit_batch=1,
    )
    assert r3.snapshot == r2.snapshot and r3.complete
    assert r3.units_skipped  # the batch r2 finished was not redone
    assert len(log.snapshots()) == len(snaps_after_r1) + 1
    v = r3.violations(spark).filter(F.col("snapshot_id") == r3.snapshot)
    assert {r.row_key for r in v.collect()} == {"100", "101", "200"}

    # and the table is now fully baselined: nothing new → pure no-op
    r4 = runner.validate_appended(
        spark, t, log, rules, "doc_id", out, partition_col="day"
    )
    assert r4.units_skipped == ["__no_new_files__"]


def test_tablelog_detects_size_preserving_rewrite(tmp_path):
    """A rewrite that keeps the byte count identical must still be
    flagged as changed (mtime witness) — size-only comparison waved
    exactly this unsound state through."""
    from invalid_spark.io import TableLog

    t = tmp_path / "tbl"
    t.mkdir()
    f = t / "part-0.bin"
    f.write_bytes(b"aaaa")
    os.utime(f, ns=(1_000_000_000, 1_000_000_000))
    log = TableLog(str(tmp_path / "log"))
    s1 = log.commit(str(t))
    f.write_bytes(b"bbbb")  # same 4 bytes, different content
    os.utime(f, ns=(2_000_000_000, 2_000_000_000))
    pv = log.preview(str(t))
    assert pv["changed"] == ["part-0.bin"] and not pv["added"]
    s2 = log.commit(str(t), entries=pv["entries"])
    assert s2 != s1
    assert log.changed_files(s1, s2) == ["part-0.bin"]


def test_tablelog_legacy_size_only_entries(tmp_path):
    """A log written by the size-only format (bare int values) keeps
    working: no spurious 'changed' from the missing mtime, and an
    unchanged table stays a no-op."""
    import json as _json

    from invalid_spark.io import TableLog

    t = tmp_path / "tbl"
    t.mkdir()
    (t / "f0").write_bytes(b"xxxx")
    log = TableLog(str(tmp_path / "log"))
    # hand-write a legacy snapshot record (files: {path: size})
    rec = {"id": "legacy0", "seq": 0, "parent": None,
           "table": str(t), "files": {"f0": 4}}
    with open(os.path.join(log.root, "snap-000000-legacy0.json"), "w") as fh:
        _json.dump(rec, fh)
    pv = log.preview(str(t))
    assert pv["added"] == [] and pv["changed"] == [] and pv["removed"] == []
    assert log.pending_id(pv["entries"]) == "legacy0"
    assert log.commit(str(t), entries=pv["entries"]) == "legacy0"
    # a real append on top of the legacy baseline is detected
    (t / "f1").write_bytes(b"yy")
    assert log.preview(str(t))["added"] == ["f1"]


def test_tablelog_prunes_hidden_metadata_dirs(tmp_path):
    """Files under _spark_metadata/ / _delta_log/ etc. are never
    recorded as table files (they would crash or mis-baseline
    validate_appended's parquet read of 'added' files)."""
    from invalid_spark.io import TableLog

    t = tmp_path / "tbl"
    (t / "_spark_metadata").mkdir(parents=True)
    (t / "_spark_metadata" / "0").write_text("{}")
    (t / ".hidden").mkdir()
    (t / ".hidden" / "junk").write_text("x")
    (t / "part-0.parquet").write_bytes(b"pq")
    log = TableLog(str(tmp_path / "log"))
    assert set(log._entries(str(t))) == {"part-0.parquet"}
    assert snapshot_id(str(t)) == snapshot_id(str(t))


def test_validate_appended_row_diff_fallback(spark, tmp_path):
    """After a compaction/rewrite the file-level contract refuses —
    but with prev_snapshot_df the run degrades to the row-level diff:
    exactly the added+changed rows are validated, the degraded mode is
    recorded, and the log re-baselines so the NEXT append is file-level
    again."""
    from invalid_spark.io import TableLog

    t = str(tmp_path / "tbl")
    rules = load_rules("lang: {$type: $str, $of: [en]}\n")
    log = TableLog(str(tmp_path / "log"))
    out = str(tmp_path / "audit")
    d1 = spark.createDataFrame(
        [(i, "en") for i in range(10)], "doc_id long, lang string"
    )
    d1.coalesce(1).write.mode("overwrite").parquet(t)
    r1 = runner.validate_appended(spark, t, log, rules, "doc_id", out)
    assert r1.complete and r1.mode == ""
    prev_rows = spark.createDataFrame(d1.collect(), d1.schema)

    # compact: rewrite the whole dir (2 files), keeping rows 0-9,
    # CHANGING row 3's lang, and adding rows 100-101 (one violating)
    d2 = spark.createDataFrame(
        [(i, "en") for i in range(10) if i != 3]
        + [(3, "zz"), (100, "xx"), (101, "en")],
        "doc_id long, lang string",
    )
    d2.repartition(2).write.mode("overwrite").parquet(t)

    # without prev rows: refused (and keeps refusing — nothing committed)
    with pytest.raises(ValueError, match="rewrote|removed"):
        runner.validate_appended(spark, t, log, rules, "doc_id", out)

    r2 = runner.validate_appended(
        spark, t, log, rules, "doc_id", out, prev_snapshot_df=prev_rows
    )
    assert r2.mode == "row_diff_fallback" and r2.complete
    v = r2.violations(spark).filter(F.col("snapshot_id") == r2.snapshot)
    # only the DELTA was validated: row 3 (changed → zz) and row 100
    # (added → xx) flag; the unchanged en rows were not re-read
    assert {r.row_key for r in v.collect()} == {"3", "100"}
    # degraded mode recorded next to the manifest
    mode_path = os.path.join(out, f"manifest-{r2.snapshot}", "mode.json")
    assert os.path.exists(mode_path)
    # the log re-baselined: a fresh append validates file-level again
    d3 = spark.createDataFrame([(200, "xx")], "doc_id long, lang string")
    d3.coalesce(1).write.mode("append").parquet(t)
    r3 = runner.validate_appended(spark, t, log, rules, "doc_id", out)
    assert r3.mode == "" and r3.complete
    v3 = r3.violations(spark).filter(F.col("snapshot_id") == r3.snapshot)
    assert {r.row_key for r in v3.collect()} == {"200"}


def test_suite_summary_empty_table_not_fail_fast(spark, tmp_path):
    """A completed run over an EMPTY table produces zero verdict rows;
    the summary must report it passed (explicit fail_fast flag), not
    misinfer fail-fast from sink emptiness (pre-round-5 bug)."""
    empty = spark.createDataFrame([], "doc_id long, lang string, day string")
    p = str(tmp_path / "t")
    empty.write.parquet(p)
    r_ok = str(tmp_path / "ok.yaml")
    with open(r_ok, "w") as f:
        f.write("lang: {$type: $str}\n")
    suite = {
        "tables": {
            "empty": {
                "path": p, "rules": r_ok, "row_key": "doc_id",
                "partition_col": "day",
            }
        }
    }
    res = runner.validate_suite(spark, suite, str(tmp_path / "audit"))
    summary = runner.suite_summary(spark, res)
    tbl = summary["tables"]["empty"]
    assert tbl["passed"] is True and "fail_fast" not in tbl
    assert summary["passed"] is True


def test_validate_suite_multi_table_and_resume(spark, tmp_path):
    """Multi-table suite: each table validates into its own subdir
    with its own manifest; a second run skips everything; the summary
    rolls up per-table verdicts."""
    imgs = synth.images_df(spark, 60, partitions=2).drop("bytes")
    p_imgs = str(tmp_path / "imgs")
    imgs.write.parquet(p_imgs)
    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "xx") for i in range(30)],
        "doc_id long, lang string",
    )
    p_docs = str(tmp_path / "docs")
    docs.write.parquet(p_docs)
    r_imgs = str(tmp_path / "r_imgs.yaml")
    with open(r_imgs, "w") as f:
        f.write("fmt: {$type: $str, $of: [png, jpeg, webp]}\n")
    r_docs = str(tmp_path / "r_docs.yaml")
    with open(r_docs, "w") as f:
        f.write("lang: {$type: $str, $of: [en]}\n")
    suite = {
        "tables": {
            "images": {"path": p_imgs, "rules": r_imgs,
                       "row_key": "image_id"},
            "documents": {"path": p_docs, "rules": r_docs,
                          "row_key": "doc_id"},
        }
    }
    out = str(tmp_path / "audit")
    res = runner.validate_suite(spark, suite, out)
    summary = runner.suite_summary(spark, res)
    assert set(summary["tables"]) == {"images", "documents"}
    # planted: every doc_id % 3 == 0 has lang 'xx'
    assert summary["tables"]["documents"]["violations"] == 10
    assert summary["tables"]["documents"]["passed"] is False
    assert summary["passed"] is False
    # per-table sinks under out/<name>
    assert res["documents"].violations(spark).count() == 10
    # second run: everything resumes as done
    res2 = runner.validate_suite(spark, suite, out)
    for r in res2.values():
        assert r.units_done == [] and r.units_skipped


def test_validate_suite_refuses_resume_after_same_size_rewrite(
    spark, tmp_path
):
    """A table file rewritten in place with the same size and one
    changed value is a new snapshot: the re-run into the same out_dir
    refuses to resume the old manifest instead of skipping every unit
    and keeping the stale pass verdict."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "docs"
    t.mkdir()
    f = t / "part-0.parquet"

    def write(lang):
        pq.write_table(
            pa.table({"doc_id": [1, 2, 3], "lang": ["en", "en", lang]}),
            f, compression="none", use_dictionary=False,
        )

    rules = tmp_path / "rules.yaml"
    rules.write_text("lang: {$type: $str, $of: [en]}\n")
    suite = {"tables": {"docs": {"path": str(t), "rules": str(rules),
                                 "row_key": "doc_id"}}}
    out = str(tmp_path / "audit")
    write("en")
    res = runner.validate_suite(spark, suite, out)
    assert runner.suite_summary(spark, res)["passed"] is True
    st = f.stat()
    write("xx")
    os.utime(f, ns=(st.st_mtime_ns + 10**9,) * 2)
    assert f.stat().st_size == st.st_size
    with pytest.raises(ValueError, match="written for snapshot"):
        runner.validate_suite(spark, suite, out)


def test_validate_suite_fail_fast_table_reported_not_crash(spark, tmp_path):
    """A suite table whose rules fail-fast (missing required column)
    is reported passed=false / fail_fast=true in the summary instead
    of crashing the roll-up on the absent verdicts sink."""
    docs = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    p = str(tmp_path / "t")
    docs.write.parquet(p)
    r_ok = str(tmp_path / "ok.yaml")
    with open(r_ok, "w") as f:
        f.write("lang: {$type: $str}\n")
    r_bad = str(tmp_path / "bad.yaml")
    with open(r_bad, "w") as f:
        f.write("nonexistent_col: {$type: $str}\n")
    suite = {
        "tables": {
            "good": {"path": p, "rules": r_ok, "row_key": "doc_id"},
            "broken": {"path": p, "rules": r_bad, "row_key": "doc_id"},
        }
    }
    res = runner.validate_suite(spark, suite, str(tmp_path / "audit"))
    summary = runner.suite_summary(spark, res)
    assert summary["tables"]["good"]["passed"] is True
    b = summary["tables"]["broken"]
    assert b["passed"] is False and b["fail_fast"] is True
    assert b["violations"] == 1  # the keyMissing schema violation
    assert summary["passed"] is False


def test_resume_refuses_ruleset_mismatch(spark, tmp_path):
    """A resume under DIFFERENT rules must be refused: done-unit marks
    written under other rules would skip units this ruleset never
    validated."""
    df = synth.images_df(spark, 40, partitions=2).drop("bytes")
    out = str(tmp_path / "rulemix")
    rules_a = load_rules("w: {$type: $int, $range: {$min: 1, $max: 100000}}")
    rules_b = load_rules("w: {$type: $int, $range: {$min: 5, $max: 100000}}")
    assert rules_a.fingerprint() != rules_b.fingerprint()
    runner.validate(spark, df, rules_a, "image_id", out, snapshot="s")
    with pytest.raises(ValueError, match="ruleset"):
        runner.validate(spark, df, rules_b, "image_id", out, snapshot="s")
    # identical rules loaded from a fresh parse resume fine
    rules_a2 = load_rules(
        "w: {$type: $int, $range: {$min: 1, $max: 100000}}"
    )
    assert rules_a2.fingerprint() == rules_a.fingerprint()
    res = runner.validate(spark, df, rules_a2, "image_id", out, snapshot="s")
    assert res.units_done == []


def test_incremental_successive_deltas_not_skipped(spark, tmp_path):
    """Two successive deltas against the same out_dir: the second
    must be validated, not skipped by the first delta's manifest."""
    t1 = synth.images_df(spark, 100, partitions=2)
    t2 = synth.images_df(spark, 150, partitions=2)
    t3 = synth.images_df(spark, 220, partitions=2)
    out = str(tmp_path / "inc2")
    dims = {"licenses": synth.licenses_df(spark)}
    runner.validate_incremental(
        spark, t2, t1, RULES, "image_id", out, dims=dims, snapshot="s2"
    )
    res3 = runner.validate_incremental(
        spark, t3, t2, RULES, "image_id", out, dims=dims, snapshot="s3"
    )
    assert res3.units_done, "second delta was silently skipped"
    v = res3.violations(spark)
    # a planted range violation in the second delta's id range exists
    rw = [i for i in synth.violation_indices(220, "range_w") if i >= 150]
    got = v.filter("error_type = 'rangeMismatch' and snapshot_id = 's3'")
    assert got.count() == len(rw)
    # snapshot is mandatory for incremental runs
    with pytest.raises(ValueError, match="snapshot"):
        runner.validate_incremental(
            spark, t3, t2, RULES, "image_id", out, dims=dims
        )


def test_drift_state_continuous_runs(spark, tmp_path):
    """Continuous validation without re-scanning the prior snapshot:
    run 1 persists O(bins) drift state; run 2 (shifted distribution,
    no prev_df) flags drift against the stored state; run 3 (same
    distribution as 2) does not."""
    out = str(tmp_path / "cont")
    rules = load_rules(
        "w: {$type: $int, $drift: {test: ks, threshold: 0.01}}\n"
        "fmt: {$type: $str, $drift: {test: chi2, threshold: 0.01}}\n"
    )
    base = synth.images_prev_df(spark, N, drifted=True).filter(
        "w BETWEEN 1 AND 1000"
    )
    cur = synth.images_df(spark, N).filter("w BETWEEN 1 AND 1000")
    runner.validate(spark, base, rules, "image_id", out, snapshot="s1",
                    manifest_dir=os.path.join(out, "m1"))
    assert os.path.exists(os.path.join(out, "drift_state"))
    assert not os.path.exists(os.path.join(out, "drift"))  # nothing to compare yet
    runner.validate(spark, cur, rules, "image_id", out, snapshot="s2",
                    manifest_dir=os.path.join(out, "m2"))
    d2 = {r["column"]: r for r in
          spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert d2["w"]["drifted"] and d2["fmt"]["drifted"]
    # idempotent re-run of the SAME snapshot must not self-compare
    # (statistic 0) and overwrite the real verdict
    runner.validate(spark, cur, rules, "image_id", out, snapshot="s2",
                    manifest_dir=os.path.join(out, "m2"))
    d2b = {r["column"]: r for r in
           spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert d2b["w"]["drifted"] and d2b["fmt"]["drifted"]
    # run 3: identical distribution to run 2 → no drift
    runner.validate(spark, cur, rules, "image_id", out, snapshot="s3",
                    manifest_dir=os.path.join(out, "m3"))
    d3 = {r["column"]: r for r in
          spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert not d3["w"]["drifted"] and not d3["fmt"]["drifted"]
    assert d3["w"]["statistic"] == 0.0


def test_out_dir_uri_rejected(spark, tmp_path):
    """Object-store out_dir would silently disable resume + drift
    state (local-POSIX manifest constraint) — rejected up front."""
    df = synth.images_df(spark, 10)
    rules = load_rules("w: {$type: $int}\n")
    with pytest.raises(ValueError, match="POSIX"):
        runner.validate(spark, df, rules, "image_id", "s3://bucket/audit")
    with pytest.raises(ValueError, match="POSIX"):
        runner.validate(
            spark, df, rules, "image_id", str(tmp_path / "ok"),
            manifest_dir="hdfs://nn/audit/m",
        )


def test_drift_state_swap_crash_recovery(spark, tmp_path):
    """A crash between the set-aside and promote steps of the state
    swap leaves only drift_state.old; the next run recovers it and
    still compares (NOT treated as a first run)."""
    out = str(tmp_path / "swapcrash")
    rules = load_rules(
        "w: {$type: $int, $drift: {test: ks, threshold: 0.01}}\n"
    )
    base = synth.images_prev_df(spark, N, drifted=True).filter(
        "w BETWEEN 1 AND 1000"
    )
    cur = synth.images_df(spark, N).filter("w BETWEEN 1 AND 1000")
    runner.validate(spark, base, rules, "image_id", out, snapshot="s1",
                    manifest_dir=os.path.join(out, "m1"))
    state_dir = os.path.join(out, "drift_state")
    os.replace(state_dir, state_dir + ".old")  # simulate mid-swap crash
    runner.validate(spark, cur, rules, "image_id", out, snapshot="s2",
                    manifest_dir=os.path.join(out, "m2"))
    d = {r["column"]: r for r in
         spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert d["w"]["drifted"]  # compared against the recovered state
    assert os.path.exists(state_dir)
    assert not os.path.exists(state_dir + ".old")


@pytest.mark.parametrize("partition_col", ["g", None])
def test_partition_verdicts_and_metrics_equal_groupby(
    spark, tmp_path, partition_col
):
    """The verdicts and metrics sinks equal a Spark ``groupBy`` over
    this snapshot's rows of the violations sink: same schema, same
    rows. The data holds a NULL unit (with a ``partition_col``), a
    schema-level violation (its own ``__schema__`` unit, no verdict
    row) and a whole-table ``$unique`` stage. Without a
    ``partition_col`` the one unit is ``__all__`` and the verdicts'
    unit column is ``unit``."""
    rules = load_rules(
        "k: {$type: $int, $unique: true}\n"
        "v: {$type: $float, $range: {$min: 0, $max: 10}}\n"
        "tag: {$type: $int}\n"
    )
    df = spark.range(60).select(
        (F.col("id") % 50).alias("k"),
        (F.col("id") % 13 - 1).cast("double").alias("v"),
        F.col("id").cast("string").alias("tag"),
        F.when(F.col("id") % 7 != 0, (F.col("id") % 4).cast("string")).alias("g"),
    )
    out = str(tmp_path / "verd")
    runner.validate(spark, df, rules, "k", out, snapshot="s0",
                    manifest_dir=os.path.join(out, "m0"),
                    partition_col=partition_col)
    res = runner.validate(spark, df.filter("k < 40"), rules, "k", out,
                          snapshot="s1", run_id="r1",
                          manifest_dir=os.path.join(out, "m1"),
                          partition_col=partition_col, unit_batch=2)
    viol = res.violations(spark).filter(F.col("snapshot_id") == "s1")
    unit_col = partition_col or "unit"
    unit = (
        F.coalesce("g", F.lit(runner.NULL_UNIT)) if partition_col
        else F.lit("__all__")
    )
    units = df.filter("k < 40").groupBy(unit.alias(unit_col)).agg(
        F.count(F.lit(1)).alias("n_rows"))
    per_unit = viol.groupBy(F.col("unit").alias(unit_col)).agg(
        F.count(F.lit(1)).alias("n_violations"))
    want_verd = (
        units.join(per_unit, unit_col, "left")
        .select(unit_col, "n_rows",
                F.coalesce("n_violations", F.lit(0)).alias("n_violations"))
        .withColumn("passed", F.col("n_violations") == 0)
        .withColumn("run_id", F.lit("r1"))
    )
    want_met = viol.groupBy("rule_id", "error_type").agg(
        F.count(F.lit(1)).alias("n_violations")
    ).withColumn("run_id", F.lit("r1"))
    assert viol.filter(F.col("unit") == "__schema__").count() == 1
    n_null = viol.filter(F.col("unit") == runner.NULL_UNIT).count()
    assert (n_null > 0) == (partition_col is not None)
    for got, want in ((res.verdicts(spark), want_verd),
                      (res.metrics(spark), want_met)):
        assert got.schema.simpleString() == want.schema.simpleString()
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr)
    assert res.verdicts(spark).schema.simpleString() == (
        f"struct<{unit_col}:string,n_rows:bigint,n_violations:bigint,"
        "passed:boolean,run_id:string>")
    assert res.metrics(spark).schema.simpleString() == (
        "struct<rule_id:string,error_type:string,n_violations:bigint,"
        "run_id:string>")


def test_pending_all_unit_writes_no_pass(spark, tmp_path):
    """A ``max_batches=0`` call on a continuous ``out_dir`` runs no
    entry: ``__all__`` stays pending, so the verdicts sink holds no
    row for it, least of all a pass. An empty table is still the one
    unit ``__all__``, with 0 rows."""
    rules = load_rules("v: {$type: $int, $range: {$min: 0, $max: 10}}\n")
    df = spark.range(20).select(F.col("id").alias("k"), F.col("id").alias("v"))
    out = str(tmp_path / "pend")
    runner.validate(spark, df, rules, "k", out, snapshot="s0",
                    manifest_dir=os.path.join(out, "m0"))
    res = runner.validate(spark, df, rules, "k", out, snapshot="s1",
                          manifest_dir=os.path.join(out, "m1"), max_batches=0)
    assert not res.complete and res.units_done == []
    assert res.verdicts(spark).count() == 0
    res = runner.validate(spark, df.limit(0), rules, "k", out, snapshot="s2",
                          run_id="r2", manifest_dir=os.path.join(out, "m2"))
    assert res.complete and res.units_done == ["__all__"]
    assert [tuple(r) for r in res.verdicts(spark).collect()] == [
        ("__all__", 0, 0, True, "r2")]


def test_continuous_drift_sinks_equal_standalone_functions(spark, tmp_path):
    """On a continuous call (stored state, no ``prev_df``) the ``drift``
    rows equal ``multi_drift_vs_state`` over the same input and stored
    state, and the new ``drift_state`` rows equal ``state_frame`` on
    the input's fresh grid: ks (clipped), wasserstein, chi2 and psi."""
    import shutil

    from invalid_spark.checks import drift

    rules = load_rules(
        "w: {$type: $int, $drift: {test: ks, threshold: 0.01, clip: [0.02, 0.98]}}\n"
        "h: {$type: $int, $drift: {test: wasserstein, bins: 64}}\n"
        "fmt: {$type: $str, $drift: {test: chi2}}\n"
        "caption: {$type: $str, $drift: {test: psi}}\n"
    )
    base = synth.images_prev_df(spark, N, drifted=True)
    cur = synth.images_df(spark, N).localCheckpoint()
    out = str(tmp_path / "cont_eq")
    runner.validate(spark, base, rules, "image_id", out, snapshot="s1",
                    manifest_dir=os.path.join(out, "m1"))
    kept = str(tmp_path / "state_s1")
    shutil.copytree(os.path.join(out, "drift_state"), kept)
    runner.validate(spark, cur, rules, "image_id", out, snapshot="s2",
                    run_id="r2", manifest_dir=os.path.join(out, "m2"))
    from invalid_spark.checks import rows as rowchecks

    specs = rowchecks.compile_row_checks(cur, rules).drift_specs
    want = drift.multi_drift_vs_state(cur, specs, spark.read.parquet(kept))
    got = spark.read.parquet(os.path.join(out, "drift")).collect()
    assert repr(sorted(tuple(r) for r in got)) == repr(sorted(
        (r.column, r.test, float(r.statistic), float(r.p_value),
         bool(r.drifted), "r2", "s2")
        for r in want.values()))
    assert {r["column"] for r in got} == {"w", "h", "fmt", "caption"}
    state = spark.read.parquet(os.path.join(out, "drift_state"))
    assert {r["snapshot_id"] for r in state.collect()} == {"s2"}
    fresh = drift.state_frame(cur, specs, drift.multi_grid(cur, specs))
    assert state.drop("snapshot_id").schema.simpleString() == (
        fresh.schema.simpleString())
    assert sorted(map(tuple, state.drop("snapshot_id").collect()), key=repr) == (
        sorted(map(tuple, fresh.collect()), key=repr))


def test_drift_clip_threaded_to_state(spark, tmp_path):
    """`clip` in the $drift spec bounds the persisted histogram grid
    by quantiles, so one outlier can't blind later comparisons."""
    out = str(tmp_path / "clipstate")
    rules = load_rules(
        "w: {$type: $int, $drift: {test: ks, threshold: 0.01, "
        "clip: [0.05, 0.95]}}\n"
    )
    df = synth.images_df(spark, N)  # plants w outliers 0 / 100001
    runner.validate(spark, df, rules, "image_id", out, snapshot="s1",
                    manifest_dir=os.path.join(out, "m1"))
    state = spark.read.parquet(os.path.join(out, "drift_state"))
    row = state.limit(1).collect()[0]
    assert row["hi"] < 100001 and row["lo"] > 0


def test_assert_directive_runs_in_suite(spark, tmp_path):
    """$assert rules become one-aggregation table-level verdicts in
    the assertions sink alongside the per-row outputs."""
    out = str(tmp_path / "asserts")
    rules = load_rules(
        "w: {$type: $int, $assert: {stat: null_rate, max: 0.0}}\n"
        "h: {$type: $int, $assert: {stat: mean, min: 100000, max: 200000}}\n"
    )
    df = synth.images_df(spark, 50)
    res = runner.validate(spark, df, rules, "image_id", out, snapshot="s1")
    got = {(r["col_name"], r["stat"]): r for r in res.assertions(spark).collect()}
    assert got[("w", "null_rate")]["passed"]          # no NULL w
    assert not got[("h", "mean")]["passed"]           # mean h ~ hundreds
    assert all(r["snapshot_id"] == "s1"
               for r in res.assertions(spark).collect())
    # a $assert on an optional column ABSENT from the table is
    # skipped (like its row checks), not an unresolved-column crash
    out2 = str(tmp_path / "asserts2")
    rules2 = load_rules(
        "w: {$type: $int, $assert: {stat: null_rate, max: 0.0}}\n"
        "ghost: {$type: $int, $optional: true, "
        "$assert: {stat: mean, min: 0}}\n"
    )
    res2 = runner.validate(spark, df, rules2, "image_id", out2,
                           snapshot="s1")
    cols = {r["col_name"] for r in res2.assertions(spark).collect()}
    assert cols == {"w"}


def test_assert_non_numeric_stat_rejected(spark):
    """$assert with a numeric stat (min/max/mean) on a non-numeric
    column is a RULE-configuration error and surfaces at compile time
    — not as a NULL-valued passed=False row in the assertions sink."""
    from invalid_spark.checks import rows as rowchecks

    df = synth.images_df(spark, 10)
    bad = load_rules("caption: {$type: $str, $assert: {stat: mean, min: 0}}\n")
    with pytest.raises(ValueError, match="numeric"):
        rowchecks.compile_row_checks(df, bad)
    # null_rate / ndv stay legal on any type
    ok = load_rules(
        "caption: {$type: $str, $assert: {stat: null_rate, max: 0.5}}\n"
    )
    plan = rowchecks.compile_row_checks(df, ok)
    assert plan.assert_specs


def test_assert_unknown_stat_rejected_before_any_write(spark, tmp_path):
    """An unknown ``$assert`` stat is a rule error raised at compile
    time: the run writes no violation and marks no unit (the row
    checks alone would have written some)."""
    from invalid_spark.checks import rows as rowchecks

    df = synth.images_df(spark, 20)
    rules = load_rules(
        "w: {$type: $int, $range: {$min: 1, $max: 5}, "
        "$assert: {stat: stddev, max: 1}}\n"
    )
    with pytest.raises(ValueError, match=r"unknown \$assert stat \[stddev\]"):
        rowchecks.compile_row_checks(df, rules)
    out = str(tmp_path / "bad_stat")
    with pytest.raises(ValueError, match=r"unknown \$assert stat"):
        runner.validate(spark, df, rules, "image_id", out, snapshot="s1")
    assert not os.path.exists(os.path.join(out, "violations"))
    assert Manifest(os.path.join(out, "manifest")).done_units() == set()


def test_violation_tally_size_gated_before_any_write(spark, tmp_path, monkeypatch):
    """The violations tally is collected to the driver, so a run whose
    tally could exceed ``spark.driver.maxResultSize`` raises before the
    stage loop writes or marks anything."""
    df = synth.images_df(spark, 200).withColumn("u", F.col("image_id"))
    rules = load_rules("w: {$type: $int, $range: {$min: 1, $max: 5}}\n")
    monkeypatch.setattr(runner, "_max_result_bytes", lambda spark: 100_000)
    out = str(tmp_path / "gated")
    with pytest.raises(ValueError, match="maxResultSize"):
        runner.validate(spark, df, rules, "image_id", out, partition_col="u")
    assert not os.path.exists(os.path.join(out, "violations"))
    assert Manifest(os.path.join(out, "manifest")).done_units() == set()
    # a few units fit under the same limit
    res = runner.validate(spark, df.withColumn("u", F.col("w") % 2), rules,
                          "image_id", str(tmp_path / "fits"), partition_col="u")
    assert res.complete


BLOOM_RULES = load_rules(
    "k: {$type: $int, $ref: {table: dim, key: dk, mode: bloom, "
    "bits: 4096, hashes: 3}}\n"
)


def test_bloom_screen_kept_across_calls(spark, tmp_path, monkeypatch):
    """A Bloom ``$ref`` screen is kept across calls: a second call with
    an unchanged dimension builds none; rewriting the dimension file
    in place rebuilds it and the violations follow the new contents; a
    new SparkSession rebuilds it; a local-frame dimension is never
    kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from invalid_spark import model
    from invalid_spark.checks import refint

    builds = []
    build = refint.bloom_build
    monkeypatch.setattr(
        refint, "bloom_build", lambda *a, **kw: builds.append(a) or build(*a, **kw)
    )
    dim_dir = tmp_path / "dim"
    dim_dir.mkdir()

    def write_dim(hi):
        pq.write_table(pa.table({"dk": list(range(1, hi + 1))}),
                       str(dim_dir / "part-0.parquet"))

    facts = spark.range(40).select(F.col("id").alias("k"))

    def run(name, dim, session=spark, df=facts):
        res = runner.validate(session, df, BLOOM_RULES, "k",
                              str(tmp_path / name), dims={"dim": dim})
        return sorted(int(r["observed"]) for r in res.violations(spark).collect())

    write_dim(30)
    assert run("a", spark.read.parquet(str(dim_dir))) == [0, *range(31, 40)]
    assert len(builds) == 1
    assert run("b", spark.read.parquet(str(dim_dir))) == [0, *range(31, 40)]
    assert len(builds) == 1  # unchanged files: the kept screen
    write_dim(35)  # same path, new contents
    assert run("c", spark.read.parquet(str(dim_dir))) == [0, *range(36, 40)]
    assert len(builds) == 2
    other = spark.newSession()
    assert run("d", other.read.parquet(str(dim_dir)), other,
               other.range(40).select(F.col("id").alias("k"))) == [0, *range(36, 40)]
    assert len(builds) == 3
    local = model.local_frame(spark, [(i,) for i in range(1, 31)], "dk long")
    for name in ("e", "f"):
        assert run(name, local) == [0, *range(31, 40)]
    assert len(builds) == 5
    assert runner._BLOOM_CACHE == []


def test_schema_change_detection(spark, tmp_path):
    """A new snapshot with an added / retyped / removed column yields
    schema_changes rows; the same snapshot re-run does not
    self-compare; zero scans (metadata only)."""
    out = str(tmp_path / "schemachg")
    rules = load_rules("w: {$type: $int}\n")
    df = synth.images_df(spark, 20)
    runner.validate(spark, df, rules, "image_id", out, snapshot="s1",
                    manifest_dir=os.path.join(out, "m1"))
    assert os.path.exists(os.path.join(out, "schema_state.json"))
    assert not os.path.exists(os.path.join(out, "schema_changes"))
    # evolve: drop caption, retype w, add extra
    df2 = (
        df.drop("caption")
        .withColumn("w", F.col("w").cast("double"))
        .withColumn("extra", F.lit(1))
    )
    res = runner.validate(spark, df2, rules, "image_id", out, snapshot="s2",
                          manifest_dir=os.path.join(out, "m2"))
    got = {(r["col_name"], r["change"]): (r["before"], r["after"])
           for r in res.schema_changes(spark).collect()}
    assert got[("caption", "removed")][0] == "string"
    assert got[("w", "type_changed")] == ("int", "double")
    assert got[("extra", "added")][1] == "int"
    # re-run of the SAME snapshot keeps the s1→s2 diff (no self-diff)
    runner.validate(spark, df2, rules, "image_id", out, snapshot="s2",
                    manifest_dir=os.path.join(out, "m2"))
    again = {(r["col_name"], r["change"])
             for r in res.schema_changes(spark).collect()}
    assert ("caption", "removed") in again


def test_quarantine_split_full_coverage_only(spark, tmp_path):
    """quarantine=True publishes clean/quarantine sinks only once
    every unit is done — a partial (killed) run must not emit a
    'clean' table that unvalidated units would have dirtied."""
    n = 330  # > plant periods, so range_w violations actually exist
    df = synth.images_df(spark, n).withColumn(
        "shard", F.pmod(F.xxhash64("image_id"), F.lit(4)).cast("string")
    )
    rules = load_rules("w: {$type: $int, $range: {$min: 1, $max: 100000}}\n")
    exp_bad = len(synth.violation_indices(n, "range_w"))
    assert exp_bad > 0  # guard against a vacuous test
    out = str(tmp_path / "quar")
    r1 = runner.validate(
        spark, df, rules, "image_id", out, partition_col="shard",
        unit_batch=2, max_batches=1, quarantine=True,
    )
    assert not os.path.exists(os.path.join(out, "clean"))  # partial: held back
    res = runner.validate(
        spark, df, rules, "image_id", out, partition_col="shard",
        unit_batch=2, quarantine=True,
    )
    clean, quar = res.clean(spark), res.quarantined(spark)
    n_bad = quar.count()
    assert clean.count() + n_bad == n
    # quarantine is key-based: every ROW whose image_id ever violated
    # routes there (a duplicated id quarantines both copies)
    bad = {r["row_key"] for r in res.violations(spark).collect()}
    assert len(bad) >= exp_bad > 0
    assert n_bad == df.filter(F.col("image_id").isin(list(bad))).count()
    # no violating key survives in clean
    assert not {r["image_id"] for r in clean.collect()} & bad


def test_anomaly_detection_three_snapshots(spark, tmp_path):
    """$anomaly(metric=violation_rate, max_rel_change): three runs
    into one out_dir — steady rate passes twice (first run has no
    history; second's change is ~0), then a planted rate jump on the
    third run alone is flagged. Re-running the third snapshot is
    idempotent (no duplicate history, same verdict)."""
    n = 330
    df = synth.images_df(spark, n)
    rules = load_rules(
        "w: {$type: $int, $range: {$min: 1, $max: 100000}, "
        "$anomaly: {metric: violation_rate, max_rel_change: 0.5, "
        "last_k: 3}}\n"
    )
    out = str(tmp_path / "anom")
    r1 = runner.validate(spark, df, rules, "image_id", out, snapshot="s1",
                         manifest_dir=os.path.join(out, "m1"))
    a1 = r1.anomalies(spark).collect()[0]
    assert a1["passed"] and a1["n_history"] == 0
    assert a1["baseline"] is None and a1["rel_change"] is None
    r2 = runner.validate(spark, df, rules, "image_id", out, snapshot="s2",
                         manifest_dir=os.path.join(out, "m2"))
    a2 = r2.anomalies(spark).collect()[0]
    assert a2["passed"] and a2["n_history"] == 1
    assert abs(a2["rel_change"]) < 1e-12  # identical data, identical rate
    # snapshot 3: ~30% of rows corrupted → violation rate jumps
    jumped = df.withColumn(
        "w",
        F.when(F.pmod(F.xxhash64("image_id"), F.lit(10)) < 3, F.lit(-5))
        .otherwise(F.col("w")),
    )
    r3 = runner.validate(spark, jumped, rules, "image_id", out,
                         snapshot="s3", manifest_dir=os.path.join(out, "m3"))
    a3 = r3.anomalies(spark).collect()[0]
    assert not a3["passed"] and a3["rel_change"] > 0.5
    assert a3["n_history"] == 2
    hist = r3.metrics_history(spark)
    assert hist.count() == 3
    assert [r["snapshot_id"] for r in hist.orderBy("seq").collect()] == [
        "s1", "s2", "s3"
    ]
    # idempotent re-run of s3: history not duplicated, verdict stable,
    # and the run did NOT compare against its own appended metrics
    r3b = runner.validate(spark, jumped, rules, "image_id", out,
                          snapshot="s3", manifest_dir=os.path.join(out, "m3"))
    assert r3b.metrics_history(spark).count() == 3
    a3b = r3b.anomalies(spark).collect()[0]
    assert not a3b["passed"] and a3b["n_history"] == 2


def test_anomaly_z_band_flags_sigma_jump(spark, tmp_path):
    """$anomaly z_max (mean/stddev band over the last-k window, the
    deequ OnlineNormalStrategy shape): a history whose mean values
    wiggle mildly builds a small stddev; a value far outside the band
    is flagged even though its RELATIVE change is modest — the case
    max_rel_change alone cannot express."""
    rules = load_rules(
        "v: {$type: $float, "
        "$anomaly: {metric: mean, z_max: 3.0, last_k: 4}}\n"
    )
    out = str(tmp_path / "zanom")

    def run(vals, snap):
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)],
            "doc_id long, v double",
        )
        return runner.validate(
            spark, df, rules, "doc_id", out, snapshot=snap,
            manifest_dir=os.path.join(out, f"m{snap}"),
        )

    # four runs with means 10.0, 10.2, 9.8, 10.0 (window std ≈ 0.163)
    for i, mean in enumerate((10.0, 10.2, 9.8, 10.0)):
        r = run([mean - 0.5, mean + 0.5], f"s{i}")
        a = r.anomalies(spark).collect()[0]
        assert a["passed"]
    # fifth run: mean 11.0 — only +10% relative, but z ≈ 6.1σ
    r5 = run([10.5, 11.5], "s4")
    a5 = r5.anomalies(spark).collect()[0]
    assert not a5["passed"]
    assert a5["z_score"] > 3.0 and abs(a5["rel_change"]) < 0.5
    # compile-time validation of the new key
    with pytest.raises(ValueError, match="z_max"):
        rules_bad = load_rules(
            "v: {$type: $float, $anomaly: {metric: mean, z_max: -1}}\n"
        )
        runner.validate(
            spark,
            spark.createDataFrame([(0, 1.0)], "doc_id long, v double"),
            rules_bad, "doc_id", str(tmp_path / "bad"),
        )


def test_anomaly_metric_extensions(spark, tmp_path):
    """$anomaly metrics stddev / min / max / distinct: one shared
    aggregation computes them all; absolute bounds verdict on the
    current run (no history needed); non-numeric column + stddev is
    a compile-time rule error."""
    rules = load_rules(
        "v: {$type: $float, $anomaly: {metric: stddev, max: 10.0}}\n"
        "k: {$type: $str, $anomaly: {metric: distinct, min: 3}}\n"
    )
    df = spark.createDataFrame(
        [(i, float(i % 5), f"k{i % 4}") for i in range(20)],
        "doc_id long, v double, k string",
    )
    out = str(tmp_path / "anom_ext")
    r = runner.validate(spark, df, rules, "doc_id", out)
    a = {(x["col_name"], x["metric"]): x for x in r.anomalies(spark).collect()}
    assert a[("v", "stddev")]["passed"]
    assert abs(a[("v", "stddev")]["value"] - 1.4509525002200232) < 1e-9
    assert a[("k", "distinct")]["passed"]
    assert a[("k", "distinct")]["value"] == 4.0
    # bound breach: distinct min above the true cardinality
    rules2 = load_rules(
        "k: {$type: $str, $anomaly: {metric: distinct, min: 9}}\n"
    )
    r2 = runner.validate(
        spark, df, rules2, "doc_id", str(tmp_path / "anom_ext2")
    )
    assert not r2.anomalies(spark).collect()[0]["passed"]
    with pytest.raises(ValueError, match="requires a numeric column"):
        runner.validate(
            spark, df,
            load_rules("k: {$type: $str, $anomaly: {metric: stddev}}\n"),
            "doc_id", str(tmp_path / "anom_bad"),
        )


def test_continuous_snapshots_verdicts_current_only(spark, tmp_path):
    """The violations sink is append-mode across snapshots (ONE
    out_dir is the continuous workflow), but verdicts / metrics /
    quarantine must reflect only the CURRENT snapshot: a row fixed
    since the previous snapshot must read clean again, and metric
    counts must not duplicate per run."""
    n = 330
    df = synth.images_df(spark, n)
    rules = load_rules("w: {$type: $int, $range: {$min: 1, $max: 100000}}\n")
    exp_bad = len(synth.violation_indices(n, "range_w"))
    assert exp_bad > 0
    out = str(tmp_path / "cont_verd")
    r1 = runner.validate(
        spark, df, rules, "image_id", out, snapshot="s1",
        manifest_dir=os.path.join(out, "m1"), quarantine=True,
    )
    assert r1.quarantined(spark).count() > 0
    assert r1.verdicts(spark).filter("NOT passed").count() > 0
    m1 = {r["error_type"]: r["n_violations"]
          for r in r1.metrics(spark).collect()}
    assert m1["rangeMismatch"] == exp_bad
    # snapshot 2: every planted w violation fixed
    fixed = df.withColumn(
        "w",
        F.when((F.col("w") < 1) | (F.col("w") > 100000), F.lit(500))
        .otherwise(F.col("w")),
    )
    r2 = runner.validate(
        spark, fixed, rules, "image_id", out, snapshot="s2",
        manifest_dir=os.path.join(out, "m2"), quarantine=True,
    )
    # history retained in the sink itself...
    hist = r2.violations(spark)
    assert hist.filter("snapshot_id = 's1'").count() == exp_bad
    # ...but the current snapshot's verdict/metrics/quarantine are clean
    assert r2.quarantined(spark).count() == 0
    assert r2.clean(spark).count() == n
    verd = r2.verdicts(spark)
    assert verd.count() > 0 and verd.filter("NOT passed").count() == 0
    m2 = {r["error_type"]: r["n_violations"]
          for r in r2.metrics(spark).collect()}
    assert m2.get("rangeMismatch", 0) == 0


def _vec_frame(spark, n, dim=8, shift=0.0, offset=0):
    """Deterministic synthetic embedding frame (modular pseudo-uniform
    components in [-0.5, 0.5) + shift) — same generator, same
    distribution for any id range."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (((F.col("id") + offset) * 13 + i * 7) % 101)
            .cast("double") / 101.0 - 0.5 + float(shift),
        ).alias("emb"),
    )


def test_vector_drift_through_runner(spark, tmp_path):
    """$drift on an ARRAY column: the runner expands it into per-plane
    projection specs (emb#p0..) — state persists, continuous runs
    compare against it, and the verdict rows flag a planted component
    shift while two same-distribution snapshots stay quiet."""
    rules = load_rules(
        "emb: {$type: $arr, $constraint: $float, "
        "$drift: {test: ks, planes: 3, dim: 8, threshold: 0.01}}\n"
    )
    prev = _vec_frame(spark, 400, offset=400)
    cur = _vec_frame(spark, 400)
    shifted = _vec_frame(spark, 400, shift=0.6)

    # continuous path: s1 persists per-plane state, s2 (shifted) flags
    out = str(tmp_path / "vec_cont")
    runner.validate(spark, prev, rules, "vec_id", out, snapshot="s1",
                    manifest_dir=os.path.join(out, "m1"))
    st = spark.read.parquet(os.path.join(out, "drift_state"))
    assert {r["column_name"] for r in st.collect()} == {
        "emb#p0", "emb#p1", "emb#p2"
    }
    runner.validate(spark, shifted, rules, "vec_id", out, snapshot="s2",
                    manifest_dir=os.path.join(out, "m2"))
    d2 = {r["column"]: r for r in
          spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert set(d2) == {"emb#p0", "emb#p1", "emb#p2"}
    assert any(r["drifted"] for r in d2.values()), d2

    # quiet path: same generator, disjoint id ranges → no drift
    out2 = str(tmp_path / "vec_quiet")
    runner.validate(spark, prev, rules, "vec_id", out2, snapshot="s1",
                    manifest_dir=os.path.join(out2, "m1"))
    runner.validate(spark, cur, rules, "vec_id", out2, snapshot="s2",
                    manifest_dir=os.path.join(out2, "m2"))
    dq = spark.read.parquet(os.path.join(out2, "drift")).collect()
    assert len(dq) == 3 and not any(r["drifted"] for r in dq), dq

    # two-sample (prev_df rescan) path through the same expansion
    out3 = str(tmp_path / "vec_two")
    runner.validate(spark, shifted, rules, "vec_id", out3, prev_df=prev)
    d3 = spark.read.parquet(os.path.join(out3, "drift")).collect()
    assert any(r["drifted"] for r in d3)


def test_composite_unique_through_runner(spark, tmp_path):
    """$unique: {with: [...]}: composite natural key gets its own
    resumable global unit; NULL key parts group together (null-safe
    join back) so both copies flag."""
    df = spark.createDataFrame(
        [("r1", 1, "a"), ("r2", 1, "a"), ("r3", 1, "b"),
         ("r4", None, "c"), ("r5", None, "c")],
        "rid string, k1 int, k2 string",
    )
    rules = load_rules(
        "k1: {$type: $int, $optional: true, $unique: {with: [k2]}}\n"
    )
    out = str(tmp_path / "comp_unique")
    res = runner.validate(spark, df, rules, "rid", out)
    assert "__unique__k1~k2" in res.units_done
    v = spark.read.parquet(os.path.join(out, "violations"))
    rows = {(r["row_key"], r["observed"]) for r in v.collect()}
    assert rows == {
        ("r1", "1~a"), ("r2", "1~a"), ("r4", "∅~c"), ("r5", "∅~c")
    }, rows
    # resume skips the composite unit
    res2 = runner.validate(spark, df, rules, "rid", out)
    assert "__unique__k1~k2" in res2.units_skipped


def test_composite_unique_dsl_errors(spark):
    from invalid_spark.dsl import DSLError

    with pytest.raises(DSLError, match="with"):
        load_rules("k1: {$type: $int, $unique: {cols: [k2]}}")
    df = spark.createDataFrame([("r1", 1)], "rid string, k1 int")
    from invalid_spark.checks.rows import compile_row_checks as crc
    with pytest.raises(ValueError, match="absent from table schema"):
        crc(df, load_rules("k1: {$type: $int, $unique: {with: [nope]}}"))


def test_snapshot_diff(spark):
    prev = spark.createDataFrame(
        [("r1", "a", 1), ("r2", "b", 2), ("r3", None, 3)],
        "rid string, s string, v int",
    )
    cur = spark.createDataFrame(
        [("r1", "a", 1), ("r2", "B", 2), ("r4", "d", 4)],
        "rid string, s string, v int",
    )
    out = {r["row_key"]: r["change"] for r in
           runner.snapshot_diff(cur, prev, "rid").collect()}
    # r1 unchanged (omitted); r2 changed; r3 removed; r4 added
    assert out == {"r2": "changed", "r3": "removed", "r4": "added"}
    # NULL vs value counts as changed (sentinel fingerprint)
    cur2 = spark.createDataFrame([("r3", "x", 3)], "rid string, s string, v int")
    prev2 = spark.createDataFrame([("r3", None, 3)], "rid string, s string, v int")
    assert runner.snapshot_diff(cur2, prev2, "rid").collect()[0]["change"] == "changed"
    with pytest.raises(ValueError, match="no shared non-key columns"):
        runner.snapshot_diff(
            spark.createDataFrame([("r1",)], "rid string"),
            spark.createDataFrame([("r1",)], "rid string"),
            "rid",
        )


def test_dist_rule(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "a" if i < 60 else ("b" if i < 90 else "zz"), "s")
         for i in range(100)],
        "rid long, lab string, s string",
    )
    rules = load_rules("""
rid: {$type: $int}
lab: {$type: $str, $dist: {expected: {a: 1, b: 1}, alpha: 0.05}}
""")
    out = str(tmp_path / "dist_audit")
    res = runner.validate(spark, df, rules, "rid", out)
    rows = res.distributions(spark).collect()
    assert len(rows) == 1
    r = rows[0]
    # declared n=90 (60 a / 30 b vs 45/45), 10 unexpected 'zz'
    assert r["col_name"] == "lab" and r["n"] == 90
    assert r["n_unexpected"] == 10 and r["drifted"]
    assert abs(r["statistic"] - (15**2 / 45 + 15**2 / 45)) < 1e-9
    assert r["snapshot_id"] is not None
    # compile-time rule-config errors
    from invalid_spark.checks.rows import compile_row_checks as crc
    with pytest.raises(ValueError, match="expected"):
        crc(df, load_rules("lab: {$type: $str, $dist: {alpha: 0.1}}"))
    with pytest.raises(ValueError, match="> 0"):
        crc(df, load_rules(
            "lab: {$type: $str, $dist: {expected: {a: 1, b: 0}}}"))
    with pytest.raises(ValueError, match="alpha"):
        crc(df, load_rules(
            "lab: {$type: $str, $dist: {expected: {a: 1, b: 1}, alpha: 2}}"))
    # $dist on an absent column is skipped (keyMissing covers it)
    from invalid_spark.dsl import load_rules as lr
    plan = crc(df, lr("nope: {$type: $str, $optional: true, "
                      "$dist: {expected: {a: 1, b: 1}}}"))
    assert plan.dist_specs == []


def test_markdown_report(spark, tmp_path):
    """report.render_markdown / latest_snapshot / cli report: a
    human-readable summary over the run's sinks, scoped to ONE
    snapshot; everything collected is sketch-sized."""
    from invalid_spark import cli, report

    n = 330
    df = synth.images_df(spark, n)
    rules = load_rules(
        "w: {$type: $int, $range: {$min: 1, $max: 100000},\n"
        "    $anomaly: {metric: violation_rate, max: 0.9}}\n"
    )
    exp_bad = len(synth.violation_indices(n, "range_w"))
    out = str(tmp_path / "rep")
    r1 = runner.validate(
        spark, df, rules, "image_id", out, snapshot="s1",
        manifest_dir=os.path.join(out, "m1"),
    )
    assert report.latest_snapshot(spark, out) == "s1"
    # reports render right after the run they describe (the overwrite
    # sinks hold only the latest run)
    md1 = report.render_markdown(spark, out, snapshot="s1", run_id=r1.run_id)
    assert "## Verdict: FAIL" in md1
    assert "rangeMismatch" in md1 and str(exp_bad) in md1
    assert "## Sample violations" in md1
    assert "## Anomalies" in md1

    # write_markdown round-trip via the RunResult
    p = report.write_markdown(spark, r1)
    assert open(p).read() == report.render_markdown(
        spark, out, snapshot="s1", run_id=r1.run_id,
        units_done=r1.units_done, units_skipped=r1.units_skipped,
    )

    fixed = df.withColumn(
        "w",
        F.when((F.col("w") < 1) | (F.col("w") > 100000), F.lit(500))
        .otherwise(F.col("w")),
    )
    runner.validate(
        spark, fixed, rules, "image_id", out, snapshot="s2",
        manifest_dir=os.path.join(out, "m2"),
    )
    # two snapshots: metrics_history's max seq picks the latest
    assert report.latest_snapshot(spark, out) == "s2"
    # s2 is clean — and s1's appended violations must NOT leak in
    md2 = report.render_markdown(spark, out, snapshot="s2")
    assert "## Verdict: PASS" in md2
    assert "rangeMismatch" not in md2

    # CLI: defaults to the latest snapshot, --write persists report.md
    rc = cli.main(["report", "--out", out, "--write"])
    assert rc == 0
    assert "## Verdict: PASS" in open(os.path.join(out, "report.md")).read()

    # validate --report renders in the same run
    tbl = str(tmp_path / "rep_tbl")
    df.write.mode("overwrite").parquet(tbl)
    ry = str(tmp_path / "rules.yaml")
    with open(ry, "w") as f:
        f.write("w: {$type: $int, $range: {$min: 1, $max: 100000}}\n")
    out2 = str(tmp_path / "rep2")
    rc = cli.main(["validate", "--table", tbl, "--rules", ry,
                   "--out", out2, "--row-key", "image_id", "--report"])
    assert rc == 0
    md = open(os.path.join(out2, "report.md")).read()
    assert "## Verdict: FAIL" in md and "rangeMismatch" in md


def test_dupspan_rule_through_runner(spark, tmp_path):
    """$dupspan: documents whose cross-doc duplicated 3-gram spans
    cover >= max_coverage of their tokens produce dupSpanMismatch
    violations; the stage is a resumable global unit like $unique."""
    dup = "the quick brown fox jumps over the lazy dog tonight"
    rows = [(0, dup), (1, dup),
            (2, "completely different words appear in this sentence"),
            (3, "spark partitions shuffle data between executor cores")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rules = load_rules(
        "text: {$type: $str, $dupspan: {n: 3, max_coverage: 0.5}}\n"
    )
    out = str(tmp_path / "dupspan_audit")
    res = runner.validate(spark, df, rules, "doc_id", out, snapshot="s1")
    assert "__dupspan__text" in res.units_done
    v = res.violations(spark).filter("error_type = 'dupSpanMismatch'")
    got = {r["row_key"]: r for r in v.collect()}
    assert set(got) == {"0", "1"}
    assert got["0"]["observed"] == "1.0"  # full coverage, exact dup
    assert "must cover < 0.5" in got["0"]["message"]
    # resume skips the done global unit and appends nothing
    res2 = runner.validate(spark, df, rules, "doc_id", out, snapshot="s1")
    assert "__dupspan__text" in res2.units_skipped
    assert res2.violations(spark).filter(
        "error_type = 'dupSpanMismatch'").count() == 2

    # compile-time rule-config errors
    from invalid_spark.checks.rows import compile_row_checks as crc
    with pytest.raises(ValueError, match="string column"):
        crc(df, load_rules("doc_id: {$type: $int, $dupspan: {n: 3}}"))
    with pytest.raises(ValueError, match=">= 2"):
        crc(df, load_rules("text: {$type: $str, $dupspan: {n: 1}}"))
    with pytest.raises(ValueError, match="max_coverage"):
        crc(df, load_rules(
            "text: {$type: $str, $dupspan: {max_coverage: 0}}"))
    # absent column: skipped (keyMissing covers it), like $dist
    plan = crc(df, load_rules(
        "nope: {$type: $str, $optional: true, $dupspan: {n: 3}}"))
    assert plan.dupspan_specs == []


def test_dupspan_key_repeated_across_units(spark, tmp_path, monkeypatch):
    """A ``$dupspan`` row key that repeats across units yields one
    violation row per row, each in its own unit: the unit rides
    through the span statistics, and the write plan joins nothing on
    the row key (a join back on it fanned ``k`` rows out to ``k²``)."""
    from pyspark.sql import DataFrameWriter

    dup = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [("d1", dup, "a"), ("d1", dup, "b"), ("d3", dup, "b"),
         ("d2", "completely different words appear in this sentence", "a")],
        "doc_id string, text string, shard string",
    )
    rules = load_rules("text: {$type: $str, $dupspan: {n: 3}}\n")
    plans = []
    orig = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        if os.path.basename(path) == "violations":
            plans.append(
                self._df._jdf.queryExecution().optimizedPlan().toString()
            )
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    res = runner.validate(spark, df, rules, "doc_id", str(tmp_path / "ds"),
                          partition_col="shard")
    v = res.violations(spark).filter("error_type = 'dupSpanMismatch'")
    assert sorted((r["row_key"], r["unit"]) for r in v.collect()) == [
        ("d1", "a"), ("d1", "b"), ("d3", "b")]
    (plan,) = [p for p in plans if "dupSpanMismatch" in p]
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert not [ln for ln in joins if "row_key#" in ln], plan


def test_align_rule_through_runner(spark, tmp_path):
    """$align: {with, min_cos}: the paired-embedding cosine gate runs
    as a vector-stage projection inside validate(); below-threshold
    and unscorable pairs emit alignmentMismatch violations; compile
    errors for a missing partner column / non-numeric min_cos."""
    rows = [
        (1, [1.0, 0.0], [1.0, 0.0]),    # aligned -> pass
        (2, [1.0, 0.0], [0.0, 1.0]),    # cos 0 -> below 0.5
        (3, [1.0, 0.0], None),          # unscorable
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, img_emb array<double>, cap_emb array<double>"
    )
    rules = load_rules(
        "img_emb: {$type: $arr, $constraint: $float, "
        "$align: {with: cap_emb, min_cos: 0.5}}\n"
        "cap_emb: {$type: $arr, $optional: true, $constraint: $float}\n"
    )
    out = str(tmp_path / "align_audit")
    res = runner.validate(spark, df, rules, "pair_id", out, snapshot="s1")
    v = res.violations(spark).filter("error_type = 'alignmentMismatch'")
    got = {r["row_key"]: r for r in v.collect()}
    assert set(got) == {"2", "3"}
    assert got["2"]["observed"] == "0.0"
    assert got["3"]["observed"] is None
    assert got["2"]["rule_id"] == "img_emb~cap_emb"

    from invalid_spark.checks.rows import compile_row_checks as crc
    with pytest.raises(ValueError, match="absent from table schema"):
        crc(df, load_rules(
            "img_emb: {$type: $arr, $constraint: $float, "
            "$align: {with: nope, min_cos: 0.5}}"))
    with pytest.raises(ValueError, match="numeric min_cos"):
        crc(df, load_rules(
            "img_emb: {$type: $arr, $constraint: $float, "
            "$align: {with: cap_emb}}"))


APPEND_RULES = load_rules(
    """
l_rowid: {$type: $int}
l_orderkey: {$type: $int, $unique: {with: [l_linenumber]}, $ref: {table: orders, key: o_orderkey}}
l_partkey: {$type: $int, $ref: {table: part, key: p_partkey, mode: bloom, bits: 65536, hashes: 3}}
l_linenumber: {$type: $int, $range: {$min: 1, $max: 7}}
l_quantity: {$type: $float, $range: {$min: 1, $max: 50}, $assert: {stat: mean, min: 20, max: 30}, $drift: {test: ks}}
l_discount: {$type: $float, $range: {$min: 0, $max: 0.1}, $anomaly: {metric: violation_rate, max_rel_change: 0.5}}
l_returnflag: {$type: $str, $of: [A, N, R], $drift: {test: chi2}}
"""
)


def test_warm_append_call_compiles_few_classes(spark, tmp_path):
    """A warm lineitem-shaped ``validate_appended`` call (ranges and
    enums, composite ``$unique``, exact and Bloom ``$ref``, ks and chi2
    ``$drift``, ``$assert``, ``$anomaly``, a ``partition_col``) reuses
    the generated classes of the calls before it and keeps its job
    count: with a codegen cache smaller than one call's classes, every
    call recompiles about a hundred of them. It also keeps its py4j
    round trips: PySpark's per-call call-site capture costs about 10
    round trips for every DataFrame, Column and functions call, and a
    recompiled row-check plan costs hundreds more."""
    import shutil
    import threading

    from invalid_spark.io import TableLog

    stage = tmp_path / "stage"
    dims = {}
    for name, key, n in (("orders", "o_orderkey", 90), ("part", "p_partkey", 50)):
        spark.range(1, n + 1).select(F.col("id").alias(key)).write.parquet(
            str(stage / name))
        dims[name] = spark.read.parquet(str(stage / name))
    for i in range(3):
        spark.range(200).select(
            (F.col("id") + 1000 * i).alias("l_rowid"),
            (F.col("id") % 97 + 1).alias("l_orderkey"),
            (F.col("id") * 7 % 60 + 1).alias("l_partkey"),
            (F.col("id") % 8).alias("l_linenumber"),
            (F.col("id") % 50 + 1 + i).cast("double").alias("l_quantity"),
            ((F.col("id") % 11) / 100.0).alias("l_discount"),
            F.element_at(F.array(*map(F.lit, "ANRX")), (F.col("id") % 4 + 1).cast(
                "int")).alias("l_returnflag"),
        ).coalesce(1).write.parquet(str(stage / f"f{i}"))
    table = tmp_path / "lineitem"
    table.mkdir()
    log = TableLog(str(tmp_path / "log"))

    def append_and_validate(i):
        shutil.move(str(stage / f"f{i}"), str(table / f"f{i}"))
        return runner.validate_appended(
            spark, str(table), log, APPEND_RULES, "l_rowid",
            str(tmp_path / "out"), dims=dims, partition_col="l_returnflag",
        )

    for i in range(2):  # the base file, then one append: both warm-ups
        assert append_and_validate(i).complete
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    sc = spark.sparkContext
    # round trips of this thread only: py4j's finalizer thread sends the
    # object deletes whenever Python's garbage collector runs
    client = sc._gateway._gateway_client
    caller = threading.get_ident()
    send = client.send_command
    trips = []

    def counted(*args, **kwargs):
        if threading.get_ident() == caller:
            trips.append(1)
        return send(*args, **kwargs)

    sc.setJobGroup("warm_append", "one warm validate_appended call")
    client.send_command = counted
    try:
        res = append_and_validate(2)
    finally:
        del client.send_command
        jobs = sc.statusTracker().getJobIdsForGroup("warm_append")
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_compiled = compiles.METRIC_COMPILATION_TIME().getCount() - before
    assert res.complete
    drift = spark.read.parquet(str(tmp_path / "out" / "drift"))
    assert {r["column"] for r in drift.collect()} == {
        "l_quantity", "l_returnflag"}
    assert n_compiled <= 10, n_compiled
    # 16: one violations tally, one drift pass and its fold in one job
    # (a fold over a multi-partition local frame plans an exchange: 17),
    # a kept Bloom screen and a one-exchange composite `$unique` (18
    # with a salted two-stage `$unique`; 27 when Spark wrote the
    # verdicts, metrics and drift state and rebuilt the screen on every
    # call)
    assert len(jobs) <= 16, len(jobs)
    # 1,820 measured: 4,570 with the call-site capture on, 2,350 with
    # the row-check plan recompiled, 6,470 with both
    assert len(trips) <= 2200, len(trips)


def test_row_check_plan_is_reused_per_rules_and_schema(spark, monkeypatch):
    """``compile_row_checks`` keeps the latest plan: the same rules
    against the same schema walk the rules once, and each call gets its
    own copy. A changed column type, an added column or other rules
    recompile, and a ``$expr`` that is BOOLEAN against the first schema
    still raises against a schema where it is not."""
    from invalid_spark.checks import rows
    from invalid_spark.checks.rows import compile_row_checks

    calls = []  # one per rule-tree walk: the top-level call has no prefix
    walk = rows._Compiler.walk

    def counted(self, rule, prefix=""):
        if not prefix:
            calls.append(1)
        return walk(self, rule, prefix)

    monkeypatch.setattr(rows._Compiler, "walk", counted)
    rules = load_rules(
        "w: {$type: $int, $range: {$min: 0, $max: 9}, $expr: {sql: 'flag'}}\n"
        "tag: {$type: $str, $of: [a, b]}\n"
    )
    df = spark.range(3).select(
        F.col("id").alias("w"), (F.col("id") > 0).alias("flag"),
        F.lit("a").alias("tag"),
    )
    first = compile_row_checks(df, rules)
    n_walks = len(calls)
    assert n_walks >= 1
    again = compile_row_checks(df.filter("w > 0"), rules)  # same schema
    assert len(calls) == n_walks
    assert again is not first and again.checks is not first.checks
    assert len(again.checks) == len(first.checks)
    again.checks.clear()
    assert len(compile_row_checks(df, rules).checks) == len(first.checks)
    # another type of the same column
    compile_row_checks(df.withColumn("tag", F.lit(1)), rules)
    assert len(calls) == n_walks + 1
    # an added column
    compile_row_checks(df.withColumn("extra", F.lit(0)), rules)
    assert len(calls) == n_walks + 2
    # other rules, same schema
    other = load_rules("w: {$type: $int}\n")
    assert len(compile_row_checks(df, other).checks) < len(first.checks)
    assert len(calls) == n_walks + 3
    # `flag` is BOOLEAN above and BIGINT here: the type check reruns
    compile_row_checks(df, rules)
    with pytest.raises(ValueError, match="must be a BOOLEAN expression"):
        compile_row_checks(df.withColumn("flag", F.col("w")), rules)


def test_cached_plan_keeps_schema_violations_across_calls(spark, tmp_path):
    """``runner.validate`` empties its plan's schema-level violations
    after writing them: two calls on the same rules and schema, each
    into a fresh ``out_dir``, both write their ``__schema__`` row (a
    shared cached plan would leave the second call none)."""
    rules = load_rules(
        "k: {$type: $int}\n"
        "tag: {$type: $int}\n"            # a string column: schema-level
        "gone: {$type: $str, $optional: true}\n"
    )
    df = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("tag"))
    for i in range(2):
        res = runner.validate(spark, df, rules, "k", str(tmp_path / f"o{i}"))
        (row,) = res.violations(spark).filter(
            F.col("unit") == "__schema__").collect()
        assert (row["column"], row["row_key"]) == ("tag", None)


def test_table_level_pass_matches_standalone_functions(spark, tmp_path, monkeypatch):
    """``$assert``, the ``$anomaly`` input metrics and the ``$drift``
    grid share one aggregation (exact distinct counts next to the
    clipped grid's ``percentile_approx``), and their sinks equal what
    the standalone public functions give on the same input. A
    same-snapshot re-run writes no drift state, so its pass holds no
    grid."""
    import pyarrow.parquet as pq

    from invalid_spark.checks import anomaly, drift, stats

    rules = load_rules(
        "id: {$type: $int, $anomaly: {metric: row_count}}\n"
        "cat: {$type: $str, $assert: {stat: ndv, min: 2}, "
        "$anomaly: {metric: distinct}}\n"
        "v: {$type: $float, $assert: {stat: null_rate, max: 0.5}, "
        "$anomaly: {metric: stddev}, $drift: {test: ks, clip: [0.05, 0.95]}}\n"
        "w: {$type: $float, $anomaly: {metric: null_rate}}\n"
        "emb: {$type: $arr, $constraint: $float, "
        "$drift: {test: ks, planes: 2, dim: 4}}\n"
    )
    df = spark.range(60).select(
        F.col("id"),
        F.when(F.col("id") % 9 != 0, (F.col("id") % 4).cast("string")).alias("cat"),
        F.when(F.col("id") == 7, F.lit(float("nan")))
        .when(F.col("id") % 5 != 0, F.col("id") * 1.5).alias("v"),
        F.when(F.col("id") % 3 != 0, F.col("id") / 7.0).alias("w"),
        F.array(*[(F.col("id") * (j + 1) % 11).cast("float") for j in range(4)])
        .alias("emb"),
    )
    calls = []
    one_pass = stats.one_pass

    def counting(frame, layers):
        calls.append(len(layers))
        return one_pass(frame, layers)

    monkeypatch.setattr(stats, "one_pass", counting)
    out = str(tmp_path / "pass")
    res = runner.validate(spark, df, rules, "id", out, snapshot="s1", run_id="r1")
    assert calls == [3]
    monkeypatch.setattr(stats, "one_pass", one_pass)

    def sink(name):
        return pq.read_table(os.path.join(out, name)).to_pylist()

    from invalid_spark.checks import rows as rowchecks

    plan = rowchecks.compile_row_checks(df, rules)
    a_specs = [{"col": c, "stat": s["stat"], **{k: s[k] for k in ("min", "max") if k in s}}
               for c, s in plan.assert_specs]
    assert sorted(tuple(r.values()) for r in sink("assertions")) == sorted(
        (*r, "s1") for r in stats.stat_assertion_rows(df, a_specs, "r1"))
    assert len(a_specs) == 2
    viol = res.violations(spark).filter(F.col("snapshot_id") == "s1")
    cur = anomaly.current_metric_values(df, viol, plan.anomaly_specs)
    for name in ("anomalies", "metrics_history"):  # repr: v's stddev is NaN
        assert repr(sorted((r["col_name"], r["metric"], r["value"])
                           for r in sink(name))) == repr(
            sorted((c, m, v) for (c, m), v in cur.items()))
    d_specs, d_df, _ = runner._expand_vector_drift(df, plan.drift_specs, None)
    want = drift.state_frame(d_df, d_specs, drift.multi_grid(d_df, d_specs))
    got = spark.read.parquet(os.path.join(out, "drift_state"))
    assert {r["column_name"] for r in got.collect()} == {"v", "emb#p0", "emb#p1"}
    assert sorted(map(tuple, got.drop("snapshot_id").collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr)
    # a same-snapshot re-run keeps its state and adds no grid
    monkeypatch.setattr(stats, "one_pass", counting)
    runner.validate(spark, df, rules, "id", out, snapshot="s1", run_id="r2")
    assert calls == [3, 2]
    with pytest.raises(ValueError, match="anomaly metric"):
        anomaly.current_metric_values(None, None, [("v", {"metric": "median"})])
