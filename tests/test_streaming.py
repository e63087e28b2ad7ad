"""Streaming validation: micro-batch violations match the batch run,
checkpoint resume processes only new files, windowed metrics respect
the watermark contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from invalid_spark import runner, streaming, synth
from invalid_spark.checks import rows as rowchecks
from invalid_spark.dsl import load_rules

RULES = load_rules(
    """
image_id: {$type: $str, $reg: '^img-[0-9]{12}$'}
w: {$type: $int, $range: {$min: 1, $max: 100000}}
fmt: {$type: $str, $of: [png, jpeg, webp]}
license_id: {$type: $str, $ref: {table: licenses, key: license_id}}
"""
)


@pytest.fixture()
def landing(spark, tmp_path):
    """A landing-zone dir receiving files over time; returns
    (dir, schema, write_batch(indices) fn)."""
    d = str(tmp_path / "landing")
    os.makedirs(d)
    full = synth.images_df(spark, 200, partitions=2).drop("bytes")
    schema = full.schema

    def write_batch(lo: int, hi: int, name: str) -> None:
        full.filter(
            F.substring("image_id", 5, 12).cast("long").between(lo, hi - 1)
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, name))

    return d, schema, write_batch


def _read_stream(spark, d, schema):
    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )


def test_stream_matches_batch(spark, landing, tmp_path):
    d, schema, write_batch = landing
    write_batch(0, 100, "b0")
    write_batch(100, 200, "b1")

    dims = {"licenses": synth.licenses_df(spark)}
    sdf = _read_stream(spark, d, schema)
    v = streaming.validate_stream(sdf, RULES, "image_id", dims=dims)
    out = str(tmp_path / "viol")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.write_stream(v, out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch_df = spark.read.option("recursiveFileLookup", "true").parquet(d)
    bv = rowchecks.run_row_checks(batch_df, RULES, "image_id")
    from invalid_spark.checks import refint

    bv = bv.unionByName(
        refint.ref_violations(
            batch_df, "license_id", dims["licenses"], "license_id", "image_id"
        ).select(*bv.columns)
    )
    cols = ["row_key", "rule_id", "error_type", "message"]
    key = lambda t: tuple(map(str, t))
    assert sorted(map(tuple, got.select(*cols).collect()), key=key) == sorted(
        map(tuple, bv.select(*cols).collect()), key=key
    )
    assert got.count() > 0


def test_stream_pixel_rows_match_batch(spark, tmp_path):
    """A ``$pixel`` rule runs on a stream as in a batch: the stream
    emits exactly the rows ``runner.pixel_stage`` finds over the same
    rows (a clean row, then w out of range, fmt bmp, corrupt bytes and
    a flipped phash bit)."""
    rules = load_rules("bytes: {$type: $bin, $pixel: {psnr_min: 40.0}}\n")
    d = str(tmp_path / "landing")
    synth.images_df(spark, 140, partitions=1).filter(
        F.col("image_id").isin(
            [f"img-{i:012d}" for i in (3, 102, 106, 112, 130)]
        )
    ).coalesce(1).write.parquet(d)
    batch = spark.read.parquet(d)
    want = runner.pixel_stage(
        batch, rowchecks.compile_row_checks(batch, rules), "image_id", ""
    )
    v = streaming.validate_stream(
        spark.readStream.schema(batch.schema).parquet(d), rules, "image_id"
    )
    out = str(tmp_path / "viol")
    streaming.write_stream(v, out, str(tmp_path / "ckpt")).awaitTermination(120)
    cols = ["row_key", "column", "rule_id", "error_type", "message", "observed"]
    key = lambda t: tuple(map(str, t))
    rows = lambda frame: sorted(map(tuple, frame.select(*cols).collect()), key=key)
    expected = rows(want)
    assert {r[3] for r in expected} >= {"decodeError", "pixelMismatch"}
    assert rows(spark.read.parquet(out)) == expected


def test_stream_resume_processes_only_new(spark, landing, tmp_path):
    d, schema, write_batch = landing
    dims = {"licenses": synth.licenses_df(spark)}
    out = str(tmp_path / "viol")
    ckpt = str(tmp_path / "ckpt")

    write_batch(0, 100, "b0")
    v = streaming.validate_stream(
        _read_stream(spark, d, schema), RULES, "image_id", dims=dims
    )
    streaming.write_stream(v, out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    # new file lands; restart from the same checkpoint
    write_batch(100, 200, "b1")
    v2 = streaming.validate_stream(
        _read_stream(spark, d, schema), RULES, "image_id", dims=dims
    )
    streaming.write_stream(v2, out, ckpt).awaitTermination(120)
    got = spark.read.parquet(out)
    # no duplicates from batch 0: per-row_key counts all 1 for rule rows
    dup = (
        got.groupBy("row_key", "rule_id", "error_type")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0
    assert got.count() > n1


def test_windowed_metrics_watermark(spark, tmp_path):
    events = spark.createDataFrame(
        [
            ("r1", "late", "x", "2024-01-01 00:00:30"),
            ("r2", "ok", "x", "2024-01-01 00:05:00"),
            ("r3", "ok", "x", "2024-01-01 00:05:30"),
        ],
        "row_key string, rule_id string, error_type string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    m = streaming.windowed_metrics(events, window="1 minute", watermark="2 minutes")
    rows = {(str(r["window_start"]), r["rule_id"]): r["n_violations"] for r in m.collect()}
    assert rows[("2024-01-01 00:00:00", "late")] == 1
    assert rows[("2024-01-01 00:05:00", "ok")] == 2
    # schema contract
    assert set(m.columns) == {
        "window_start", "window_end", "rule_id", "error_type", "n_violations"
    }


def test_stream_ref_bloom_mode(spark, landing, tmp_path):
    """$ref mode: bloom on a stream: k stateless broadcast joins vs
    the static bloom frame; at generous sizing the flagged rows equal
    the exact left-anti path's."""
    d, schema, write_batch = landing
    write_batch(0, 100, "b0")
    write_batch(100, 200, "b1")
    rules = load_rules(
        "license_id: {$type: $str, $ref: {table: licenses, "
        "key: license_id, mode: bloom, bits: 65536, hashes: 3}}\n"
    )
    dims = {"licenses": synth.licenses_df(spark)}
    sdf = _read_stream(spark, d, schema)
    v = streaming.validate_stream(sdf, rules, "image_id", dims=dims)
    out = str(tmp_path / "bl_out")
    streaming.write_stream(v, out, str(tmp_path / "bl_ck")).awaitTermination(
        120
    )
    got = {r["row_key"] for r in spark.read.parquet(out).collect()}
    batch_df = spark.read.option("recursiveFileLookup", "true").parquet(d)
    from invalid_spark.checks import refint

    exact = {
        r["row_key"]
        for r in refint.ref_violations(
            batch_df, "license_id", dims["licenses"], "license_id",
            "image_id",
        ).collect()
    }
    assert got == exact and got


def test_fail_fast_on_missing_stream_column(spark, tmp_path, landing):
    d, schema, write_batch = landing
    write_batch(0, 50, "b0")
    bad_rules = load_rules("nonexistent: {$type: $str}\n")
    with pytest.raises(ValueError, match="nonexistent"):
        streaming.validate_stream(_read_stream(spark, d, schema), bad_rules, "image_id")


def test_running_rule_totals_stateful(spark, landing, tmp_path):
    d, schema, write_batch = landing
    dims = {"licenses": synth.licenses_df(spark)}
    out = str(tmp_path / "totals")
    ckpt = str(tmp_path / "ckpt_totals")

    def run_once():
        v = streaming.validate_stream(
            _read_stream(spark, d, schema), RULES, "image_id", dims=dims
        )
        totals = streaming.running_rule_totals(v)
        q = streaming.write_stream(totals, out, ckpt, output_mode="append")
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        # latest total per key = max (stateful cumulative counter)
        return {
            (r["rule_id"], r["error_type"]): r["mx"]
            for r in got.groupBy("rule_id", "error_type")
            .agg(F.max("total").alias("mx"))
            .collect()
        }

    write_batch(0, 100, "b0")
    t1 = run_once()
    write_batch(100, 200, "b1")
    t2 = run_once()
    # state persisted: totals after batch 2 are cumulative over both
    assert set(t1) <= set(t2)
    assert all(t2[k] >= t1[k] for k in t1)
    assert sum(t2.values()) > sum(t1.values())
    # cross-check against the batch pipeline over all files
    batch_df = spark.read.option("recursiveFileLookup", "true").parquet(d)
    bv = rowchecks.run_row_checks(batch_df, RULES, "image_id")
    from invalid_spark.checks import refint

    bv = bv.unionByName(
        refint.ref_violations(
            batch_df, "license_id", dims["licenses"], "license_id", "image_id"
        ).select(*bv.columns)
    )
    exp = {
        (r["rule_id"], r["error_type"]): r["c"]
        for r in bv.groupBy("rule_id", "error_type").agg(F.count("*").alias("c")).collect()
    }
    assert t2 == exp


def test_keep_cols_threads_event_time(spark, tmp_path):
    """keep_cols rides the event-time column through the streaming
    check projection (the stream-safe replacement for a post-hoc
    stream-stream join, which with_event_time now refuses)."""
    src = spark.createDataFrame(
        [(1, "bad", "2024-01-01 00:00:30"), (2, "ok", "2024-01-01 00:01:30")],
        "event_id long, status string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    d = str(tmp_path / "ev")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    rules = load_rules("status: {$type: $str, $of: [ok]}\n")
    sdf = spark.readStream.schema(src.schema).parquet(d)
    v = streaming.validate_stream(sdf, rules, "event_id", keep_cols=["ts"])
    assert "ts" in v.columns
    out = str(tmp_path / "v_out")
    q = v.writeStream.format("parquet").option(
        "checkpointLocation", str(tmp_path / "ck")
    ).option("path", out).trigger(availableNow=True).start()
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["row_key"] == "1"
    assert str(rows[0]["ts"]) == "2024-01-01 00:00:30"
    # the old re-join path refuses streaming inputs with guidance
    with pytest.raises(ValueError, match="keep_cols"):
        streaming.with_event_time(v, sdf, "event_id", "ts")


def test_keep_cols_ride_ref_violations(spark, tmp_path):
    """A kept column rides every stage, not just the row checks: the
    $ref violation of a stream carries its event time, not NULL."""
    src = spark.createDataFrame(
        [(1, "x", "2024-01-01 00:00:30"), (2, "zz", "2024-01-01 00:01:30")],
        "event_id long, code string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    d = str(tmp_path / "ev")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    rules = load_rules(
        "code: {$type: $str, $ref: {table: codes, key: code}}\n"
    )
    codes = spark.createDataFrame([("x",)], "code string")
    sdf = spark.readStream.schema(src.schema).parquet(d)
    v = streaming.validate_stream(
        sdf, rules, "event_id", dims={"codes": codes}, keep_cols=["ts"]
    )
    out = str(tmp_path / "v_out")
    q = v.writeStream.format("parquet").option(
        "checkpointLocation", str(tmp_path / "ck")
    ).option("path", out).trigger(availableNow=True).start()
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert [(r["row_key"], r["error_type"]) for r in rows] == [
        ("2", "refMismatch")
    ]
    assert str(rows[0]["ts"]) == "2024-01-01 00:01:30"


def test_windowed_chi2_drift_batch_and_stream(spark, tmp_path):
    """Windowed goodness-of-fit drift: a window matching the
    reference mix passes, a skewed window and an unknown category
    flag; the same query runs as Structured Streaming (one
    watermarked aggregation chain, no stream-stream join)."""
    ref = {"click": 0.5, "view": 0.5}
    rows = []
    # window A: 50/50 → no drift
    rows += [("click", "2024-01-01 00:00:%02d" % i) for i in range(25)]
    rows += [("view", "2024-01-01 00:00:%02d" % (i + 30)) for i in range(25)]
    # window B: all clicks → drift
    rows += [("click", "2024-01-01 00:05:%02d" % (i % 60)) for i in range(50)]
    # window C: unknown category → drift
    rows += [("scroll", "2024-01-01 00:10:%02d" % (i % 60)) for i in range(50)]
    src = spark.createDataFrame(rows, "cat string, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    ).drop("ts_s")
    out = {str(r["window_start"]): r for r in
           streaming.windowed_chi2_drift(src, "cat", ref).collect()}
    assert not out["2024-01-01 00:00:00"]["drifted"]
    assert out["2024-01-01 00:05:00"]["drifted"]
    assert out["2024-01-01 00:10:00"]["drifted"]
    # unknown-category mass is reported explicitly: windows A/B have
    # none (their statistics are true chi-square values), window C is
    # 100% unknown (its statistic is the documented sentinel loading)
    assert out["2024-01-01 00:00:00"]["n_unknown"] == 0
    assert out["2024-01-01 00:05:00"]["unknown_frac"] == 0.0
    assert out["2024-01-01 00:10:00"]["n_unknown"] == 50
    assert out["2024-01-01 00:10:00"]["unknown_frac"] == 1.0
    # streaming execution of the same query
    d = str(tmp_path / "ev")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(src.schema).parquet(d)
    q = streaming.windowed_chi2_drift(sdf, "cat", ref)
    sink = str(tmp_path / "sink")
    h = q.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    # append mode emits only watermark-closed windows; with a bounded
    # file source the final windows may stay open — schema contract +
    # subset equality are the streaming assertions
    got = spark.read.parquet(sink).collect()
    assert set(spark.read.parquet(sink).columns) == {
        "window_start", "window_end", "n", "n_unknown", "unknown_frac",
        "statistic", "drifted",
    }
    for r in got:
        b = out[str(r["window_start"])]
        assert abs(r["statistic"] - b["statistic"]) < 1e-9


def test_streaming_dedup_batch_and_stream(spark, tmp_path):
    """Dedup-on-arrival: bounded-state streaming dedup keeps exactly
    one copy per key (within the watermark), matching batch
    dropDuplicates; the windowed duplication metrics are identical
    between batch and streaming execution."""
    rows = []
    # window A: k1 ×3, k2 ×1 → 2 kept, 2 dup rows
    rows += [("k1", "2024-01-01 00:00:%02d" % i) for i in (0, 10, 20)]
    rows += [("k2", "2024-01-01 00:00:30")]
    # window B: k1 again (dup across windows, within watermark),
    # k3 ×2 → kept k3 once
    rows += [("k1", "2024-01-01 00:05:00")]
    rows += [("k3", "2024-01-01 00:05:%02d" % i) for i in (10, 20)]
    # window C far ahead: closes A and B past the 5-minute watermark
    rows += [("k4", "2024-01-01 01:00:00")]
    src = spark.createDataFrame(rows, "fp string, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    ).drop("ts_s")

    # batch semantics: plain dropDuplicates
    batch_kept = streaming.dedup_on_arrival(src, "fp")
    assert batch_kept.count() == 4
    batch_m = {str(r["window_start"]): r for r in
               streaming.windowed_dedup_metrics(
                   src, "fp", window="5 minutes", watermark="5 minutes"
               ).collect()}
    a = batch_m["2024-01-01 00:00:00"]
    assert (a["n_rows"], a["n_keys"], a["n_dup_rows"]) == (4, 2, 2)
    b = batch_m["2024-01-01 00:05:00"]
    assert (b["n_rows"], b["n_keys"], b["n_dup_rows"]) == (3, 2, 1)

    # streaming execution
    d = str(tmp_path / "dd_ev")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(src.schema).parquet(d)
    kept = streaming.dedup_on_arrival(sdf, "fp", watermark="30 minutes")
    sink = str(tmp_path / "dd_sink")
    h = kept.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "dd_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = spark.read.parquet(sink)
    # one row per key; k1's window-B copy (within the watermark of its
    # first arrival) was dropped
    assert got.count() == 4
    assert {r["fp"] for r in got.collect()} == {"k1", "k2", "k3", "k4"}
    # first arrival is the kept copy
    k1 = got.filter("fp = 'k1'").collect()[0]
    assert str(k1["ts"]) == "2024-01-01 00:00:00"

    # windowed metrics: streaming rows equal batch rows per closed window
    mq = streaming.windowed_dedup_metrics(
        sdf, "fp", window="5 minutes", watermark="5 minutes"
    )
    msink = str(tmp_path / "dm_sink")
    h2 = mq.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "dm_ck")
    ).option("path", msink).trigger(availableNow=True).start()
    h2.awaitTermination(120)
    mgot = spark.read.parquet(msink).collect()
    closed = {str(r["window_start"]) for r in mgot}
    assert {"2024-01-01 00:00:00", "2024-01-01 00:05:00"} <= closed, closed
    for r in mgot:
        bb = batch_m[str(r["window_start"])]
        assert (r["n_rows"], r["n_keys"], r["n_dup_rows"]) == (
            bb["n_rows"], bb["n_keys"], bb["n_dup_rows"]
        )


def test_minhash_screen_batch_and_stream(spark, tmp_path):
    """Streaming near-dup screen: arriving docs flagged against the
    persisted minhash state; batch and streaming execution emit the
    same flagged rows for closed windows."""
    from invalid_spark.pipeline import dedup

    base = "the quick brown fox jumps over the lazy dog by the river " * 3
    other = "catalyst plans shuffles and broadcast joins at scale " * 3
    state = dedup.minhash_state(
        spark.createDataFrame(
            [(0, base), (2, other)], "doc_id long, text string"
        )
    )
    arrivals = spark.createDataFrame(
        [
            (11, base + "plus a tail", "2024-01-01 00:10:00"),
            (13, "entirely novel content with fresh words " * 4,
             "2024-01-01 00:20:00"),
            (15, other + "slightly longer", "2024-01-01 00:40:00"),
            # sentinel far ahead: closes the earlier windows
            (99, "sentinel " + "unique terminal words " * 4,
             "2024-01-02 12:00:00"),
        ],
        "doc_id long, text string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")

    batch_rows = {
        (str(r["window_start"]), r["id"], r["est_corpus"])
        for r in streaming.minhash_screen_stream(
            arrivals, state, threshold=0.7, window="30 minutes",
            watermark="30 minutes",
        ).collect()
    }
    flagged_ids = {r[1] for r in batch_rows}
    assert 11 in flagged_ids and 15 in flagged_ids
    assert 13 not in flagged_ids and 99 not in flagged_ids

    d = str(tmp_path / "mh_arr")
    arrivals.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(arrivals.schema).parquet(d)
    q = streaming.minhash_screen_stream(
        sdf, state, threshold=0.7, window="30 minutes",
        watermark="30 minutes",
    )
    sink = str(tmp_path / "mh_sink")
    h = q.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "mh_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["id"], r["est_corpus"])
        for r in spark.read.parquet(sink).collect()
    }
    # every closed-window streaming row matches batch, and the two
    # planted near-dups' windows (closed by the sentinel) are present
    assert got <= batch_rows
    assert {r[1] for r in got} == {11, 15}


def test_phash_screen_batch_and_stream(spark, tmp_path):
    """Streaming image near-dup screen: flags arrivals within the
    Hamming radius of the persisted phash state, batch ≡ stream."""
    state = spark.createDataFrame(
        [(0, 0xF0F0F0F0), (1, 0x0F0F0F0F)], "id long, sig long"
    )
    arrivals = spark.createDataFrame(
        [
            (10, 0xF0F0F0F1, "2024-01-01 00:10:00"),  # hamming 1 of 0
            (11, 0xAAAA5555, "2024-01-01 00:20:00"),  # far
            (12, 0x0F0F0F0B, "2024-01-01 00:40:00"),  # hamming 1 of 1
            (99, 0x12345678, "2024-01-02 12:00:00"),  # sentinel, far
        ],
        "image_id long, phash long, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")

    kwargs = dict(max_hamming=2, bits=32, window="30 minutes",
                  watermark="30 minutes")
    batch_rows = {
        (str(r["window_start"]), r["id"], r["best_hamming"])
        for r in streaming.phash_screen_stream(
            arrivals, state, **kwargs).collect()
    }
    assert {(rk[1], rk[2]) for rk in batch_rows} == {(10, 1), (12, 1)}

    d = str(tmp_path / "ph_arr")
    arrivals.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(arrivals.schema).parquet(d)
    q = streaming.phash_screen_stream(sdf, state, **kwargs)
    sink = str(tmp_path / "ph_sink")
    h = q.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "ph_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["id"], r["best_hamming"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got <= batch_rows and {r[1] for r in got} == {10, 12}


def test_windowed_ks_drift_batch_and_stream(spark, tmp_path):
    """One-sample windowed KS: a window matching the uniform
    reference passes, a concentrated window flags, NaN values are not
    counted; the same query runs as Structured Streaming with
    identical statistics."""
    ref = [0.25, 0.25, 0.25, 0.25]  # uniform on [0, 100), 4 buckets
    rows = []
    # window A: spread across all buckets evenly → no drift
    for i in range(48):
        rows.append((float((i % 4) * 25 + 5), "2024-01-01 00:00:%02d" % (i % 60)))
    # window B: everything in bucket 0 → strong drift; its NaNs are
    # excluded like NULLs, from the buckets and from n
    rows += [(3.0, "2024-01-01 00:05:%02d" % (i % 60)) for i in range(48)]
    rows += [(float("nan"), "2024-01-01 00:05:%02d" % i) for i in range(4)]
    # window C: far enough ahead that the 5-minute watermark passes
    # windows A and B — without it append mode would close NO window
    # and the streaming half of this test would assert nothing
    rows += [(50.0, "2024-01-01 00:20:%02d" % (i % 60)) for i in range(8)]
    src = spark.createDataFrame(rows, "value double, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    ).drop("ts_s")
    out = {str(r["window_start"]): r for r in
           streaming.windowed_ks_drift(src, "value", ref, 0.0, 100.0).collect()}
    assert not out["2024-01-01 00:00:00"]["drifted"]
    assert out["2024-01-01 00:05:00"]["drifted"]
    assert out["2024-01-01 00:05:00"]["statistic"] == pytest.approx(0.75)
    assert out["2024-01-01 00:05:00"]["n"] == 48
    # streaming execution emits identical rows for closed windows
    d = str(tmp_path / "ks_ev")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(src.schema).parquet(d)
    q = streaming.windowed_ks_drift(sdf, "value", ref, 0.0, 100.0)
    sink = str(tmp_path / "ks_sink")
    h = q.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "ks_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    closed = {str(r["window_start"]) for r in got}
    # both interesting windows actually closed and were compared
    assert {"2024-01-01 00:00:00", "2024-01-01 00:05:00"} <= closed, closed
    for r in got:
        b = out[str(r["window_start"])]
        assert abs(r["statistic"] - b["statistic"]) < 1e-12
        assert r["drifted"] == b["drifted"]
    with pytest.raises(ValueError, match="buckets"):
        streaming.windowed_ks_drift(src, "value", [1.0], 0.0, 100.0)
    with pytest.raises(ValueError, match="grid"):
        streaming.windowed_ks_drift(src, "value", ref, 100.0, 0.0)
    with pytest.raises(ValueError, match="negative"):
        streaming.windowed_ks_drift(src, "value", [0.5, -0.1, 0.6], 0.0, 1.0)


def test_windowed_profile_batch_and_stream(spark, tmp_path):
    """Windowed numeric profile: per-window count/null/min/max/mean
    agree between batch execution (the oracle-checked path) and
    Structured Streaming for closed windows; NULL values count into
    n_null, not the stats."""
    rows = []
    for i in range(40):  # window A: values 0..39
        rows.append((float(i), "2024-01-01 00:00:%02d" % (i % 60)))
    rows += [(None, "2024-01-01 00:01:30")] * 4  # 4 NULLs in window B
    rows += [(100.0, "2024-01-01 00:01:31"), (50.0, "2024-01-01 00:01:32")]
    # window C far ahead so the 1-minute watermark closes A and B
    rows += [(1.0, "2024-01-01 00:30:%02d" % i) for i in range(5)]
    src = spark.createDataFrame(rows, "value double, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    ).drop("ts_s")
    out = {str(r["window_start"]): r for r in streaming.windowed_profile(
        src, "value", window="1 minute", watermark="1 minute").collect()}
    a = out["2024-01-01 00:00:00"]
    assert (a["n_rows"], a["n_null"], a["vmin"], a["vmax"]) == (40, 0, 0.0, 39.0)
    assert a["mean"] == pytest.approx(19.5)
    b = out["2024-01-01 00:01:00"]
    assert (b["n_rows"], b["n_null"]) == (6, 4)
    assert (b["vmin"], b["vmax"], b["mean"]) == (50.0, 100.0, 75.0)
    # streaming execution emits identical rows for closed windows
    d = str(tmp_path / "prof_ev")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(src.schema).parquet(d)
    q = streaming.windowed_profile(sdf, "value", window="1 minute",
                                   watermark="1 minute")
    sink = str(tmp_path / "prof_sink")
    h = q.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "prof_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    closed = {str(r["window_start"]) for r in got}
    assert {"2024-01-01 00:00:00", "2024-01-01 00:01:00"} <= closed, closed
    for r in got:
        bb = out[str(r["window_start"])]
        for c in ("n_rows", "n_null", "vmin", "vmax", "mean"):
            assert r[c] == bb[c], (c, r, bb)


def test_windowed_alignment_metrics_batch_and_stream(spark, tmp_path):
    """Alignment monitor: per-window counts classify aligned /
    below-threshold / unscorable pairs exactly, and streaming
    execution emits the same rows as the batch path for closed
    windows."""
    import math

    def vec(*xs):
        return [float(x) for x in xs]

    rows = [
        # window A: aligned, below, unscorable(null), unscorable(zero)
        (1, vec(1, 0), vec(1, 0), "2024-01-01 00:00:05"),
        (2, vec(1, 0), vec(0, 1), "2024-01-01 00:01:00"),
        (3, vec(1, 0), None, "2024-01-01 00:02:00"),
        (4, vec(1, 0), vec(0, 0), "2024-01-01 00:03:00"),
        # window B: one aligned, one dim-mismatch
        (5, vec(0, 1), vec(0, 1), "2024-01-01 00:05:10"),
        (6, vec(0, 1), vec(0, 1, 0), "2024-01-01 00:06:00"),
        # sentinel far ahead: closes A and B past the watermark
        (7, vec(1, 1), vec(1, 1), "2024-01-01 02:00:00"),
    ]
    src = spark.createDataFrame(
        rows, "pid long, a array<double>, b array<double>, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")

    batch = {
        str(r["window_start"]): r
        for r in streaming.windowed_alignment_metrics(
            src, "a", "b", 0.5, window="5 minutes", watermark="5 minutes"
        ).collect()
    }
    a = batch["2024-01-01 00:00:00"]
    assert (a["n_pairs"], a["n_unscorable"], a["n_below"]) == (4, 2, 1)
    assert a["aligned_frac"] == pytest.approx(0.25)
    b = batch["2024-01-01 00:05:00"]
    assert (b["n_pairs"], b["n_unscorable"], b["n_below"]) == (2, 1, 0)
    assert b["aligned_frac"] == pytest.approx(0.5)

    d = str(tmp_path / "al_src")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(src.schema).parquet(d)
    mq = streaming.windowed_alignment_metrics(
        sdf, "a", "b", 0.5, window="5 minutes", watermark="5 minutes"
    )
    sink = str(tmp_path / "al_sink")
    h = mq.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "al_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    closed = {str(r["window_start"]) for r in got}
    assert {"2024-01-01 00:00:00", "2024-01-01 00:05:00"} <= closed, closed
    for r in got:
        bb = batch[str(r["window_start"])]
        assert (
            r["n_pairs"], r["n_unscorable"], r["n_below"], r["aligned_frac"]
        ) == (
            bb["n_pairs"], bb["n_unscorable"], bb["n_below"],
            bb["aligned_frac"],
        )


def test_validate_stream_vector_and_align(spark, tmp_path):
    """$vector and $align rules ride the streaming validator as
    stateless projections: planted dim/zero/misaligned rows flag in
    streaming execution exactly as in batch."""
    from invalid_spark.dsl import load_rules

    rows = [
        (1, [1.0, 0.0], [1.0, 0.0]),          # clean, aligned
        (2, [0.0, 0.0], [1.0, 0.0]),          # zero vector (+unscorable)
        (3, [1.0, 0.0, 0.0], [1.0, 0.0]),     # dim mismatch (+unscorable)
        (4, [0.0, 1.0], [1.0, 0.0]),          # orthogonal: below min_cos
    ]
    src = spark.createDataFrame(
        rows, "pid long, img array<double>, cap array<double>"
    )
    rules = load_rules(
        "img: {$type: $arr, $constraint: $float, "
        " $vector: {dim: 2, no_zero: true}, "
        " $align: {with: cap, min_cos: 0.5}}\n"
        "cap: {$type: $arr, $constraint: $float}\n"
    )
    batch = streaming.validate_stream(src, rules, "pid")
    batch_set = {
        (r["row_key"], r["error_type"]) for r in batch.collect()
    }
    assert ("2", "vectorMismatch") in batch_set       # zero vector
    assert ("3", "vectorMismatch") in batch_set       # dim
    assert ("2", "alignmentMismatch") in batch_set    # unscorable
    assert ("3", "alignmentMismatch") in batch_set    # unscorable
    assert ("4", "alignmentMismatch") in batch_set    # below threshold
    assert not any(k == "1" for k, _ in batch_set)

    d = str(tmp_path / "va_src")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(src.schema).parquet(d)
    vq = streaming.validate_stream(sdf, rules, "pid")
    sink = str(tmp_path / "va_sink")
    h = vq.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "va_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = {
        (r["row_key"], r["error_type"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == batch_set


def test_windowed_watch_counts_batch_and_stream(spark, tmp_path):
    """Watch-key monitor: per-window counts/shares of the watchlist
    with zero-fill for absent watched values (flatline alerting),
    unwatched values folded into the window total only; streaming
    execution emits the same rows for closed windows."""
    rows = [
        ("bot", "2024-01-01 00:00:05"),
        ("bot", "2024-01-01 00:01:00"),
        ("spam", "2024-01-01 00:02:00"),
        ("ok1", "2024-01-01 00:03:00"),
        ("ok2", "2024-01-01 00:03:30"),
        # window B: only unwatched traffic -> zero rows for both keys
        ("ok1", "2024-01-01 00:05:10"),
        # sentinel far ahead closes A and B
        ("ok1", "2024-01-01 02:00:00"),
    ]
    src = spark.createDataFrame(rows, "k string, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    ).drop("ts_s")

    batch = {
        (str(r["window_start"]), r["value"]): r
        for r in streaming.windowed_watch_counts(
            src, "k", ["bot", "spam"], window="5 minutes",
            watermark="5 minutes",
        ).collect()
    }
    a_bot = batch[("2024-01-01 00:00:00", "bot")]
    assert (a_bot["n"], a_bot["n_window"]) == (2, 5)
    assert a_bot["share"] == pytest.approx(0.4)
    a_spam = batch[("2024-01-01 00:00:00", "spam")]
    assert (a_spam["n"], a_spam["share"]) == (1, pytest.approx(0.2))
    b_bot = batch[("2024-01-01 00:05:00", "bot")]
    assert (b_bot["n"], b_bot["n_window"], b_bot["share"]) == (0, 1, 0.0)

    d = str(tmp_path / "wc_src")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(src.schema).parquet(d)
    mq = streaming.windowed_watch_counts(
        sdf, "k", ["bot", "spam"], window="5 minutes", watermark="5 minutes"
    )
    sink = str(tmp_path / "wc_sink")
    h = mq.writeStream.format("parquet").outputMode("append").option(
        "checkpointLocation", str(tmp_path / "wc_ck")
    ).option("path", sink).trigger(availableNow=True).start()
    h.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    closed = {(str(r["window_start"]), r["value"]) for r in got}
    assert {("2024-01-01 00:00:00", "bot"),
            ("2024-01-01 00:00:00", "spam"),
            ("2024-01-01 00:05:00", "bot")} <= closed, closed
    for r in got:
        bb = batch[(str(r["window_start"]), r["value"])]
        assert (r["n"], r["n_window"], r["share"]) == (
            bb["n"], bb["n_window"], bb["share"]
        )


def test_windowed_watch_counts_rejects_fold_tag(spark):
    """A watched '__other__' would collide with the tag unwatched
    values fold into, so the watchlist refuses it."""
    src = spark.range(1).select(
        F.lit("x").alias("k"), F.current_timestamp().alias("ts")
    )
    with pytest.raises(ValueError, match="__other__"):
        streaming.windowed_watch_counts(src, "k", ["bot", "__other__"])


def test_validate_stream_caption_eq(spark, tmp_path):
    """$caption-eq runs on a stream as a stream-static inner join
    against the reference table: the one planted caption mismatch
    yields one captionMismatch row."""
    src = spark.createDataFrame(
        [("a", "a cat"), ("b", "a dog"), ("c", "a bird")],
        "image_id string, caption string",
    )
    ref = spark.createDataFrame(
        [("a", "a cat"), ("b", "a wolf"), ("c", "a bird")],
        "image_id string, caption string",
    )
    d = str(tmp_path / "cap_src")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    rules = load_rules(
        "caption: {$type: $str, $caption-eq: {table: refs, key: image_id}}\n"
    )
    sdf = spark.readStream.schema(src.schema).parquet(d)
    v = streaming.validate_stream(sdf, rules, "image_id", dims={"refs": ref})
    out = str(tmp_path / "cap_out")
    streaming.write_stream(v, out, str(tmp_path / "cap_ck")).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert [(r.row_key, r.error_type) for r in rows] == [("b", "captionMismatch")]
