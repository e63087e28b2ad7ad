"""Streaming validation (Structured Streaming).

The engine's compiled plan is declarative, so the SAME row-check
projection, referential anti-join, and Arrow-UDF image checks apply
to a streaming DataFrame unchanged — this module only adds the
streaming-specific wiring:

- :func:`validate_stream` — violations as an unbounded stream, built
  by the batch runner's per-slice builder
  (:func:`invalid_spark.runner.stage_violations`): row checks,
  stream-static ``$ref`` and ``$caption-eq`` joins, ``$vector`` /
  ``$align`` projections and ``$pixel`` checks, as in a batch. Stream-static
  joins are Spark-native: the dimension is a batch DataFrame re-read
  per micro-batch.
- :func:`windowed_metrics` — violations per (event-time window,
  rule_id, error_type) with a watermark, so late rows are counted
  until the watermark passes and state is bounded — the streaming
  analog of the batch per-partition verdict.
- :func:`write_stream` — parquet sink + checkpointLocation:
  exactly-once micro-batch commits, the streaming counterpart of the
  batch runner's manifest resume.

At 100 TB-rate ingest the natural deployment is validate-on-arrival:
readStream from the landing zone (or Kafka), violations to an audit
table, windowed metrics driving alerting; the batch runner then
backfills/re-audits snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from invalid_spark import runner
from invalid_spark.checks import rows as rowchecks
from invalid_spark.checks.drift import _bucket_expr
from invalid_spark.dsl import RuleSet


def validate_stream(
    stream_df: DataFrame,
    rules: RuleSet,
    row_key: str,
    dims: dict[str, DataFrame] | None = None,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Violations stream for a streaming input DataFrame.

    The row-check projection compiles once on the driver and runs
    per micro-batch inside whole-stage codegen — identical physical
    shape to the batch path (scan → project → explode), so there is
    no separate streaming semantics to test for the checks
    themselves: the stages are the batch runner's
    :func:`invalid_spark.runner.stage_violations`. ``$ref`` rules
    become stream-static left-anti joins (or Bloom screens,
    materialized once when the query is built) and ``$caption-eq``
    rules stream-static inner joins.

    ``keep_cols`` threads source columns (typically the event-time
    column for :func:`windowed_metrics`) onto every violation row of
    every stage — row checks, ``$ref``, ``$caption-eq``, ``$vector``,
    ``$align`` and pixel rows alike. It is the streaming-safe
    alternative to re-joining violations back to the source (a
    stream-stream join Spark rejects without watermarks).
    """
    plan = rowchecks.compile_row_checks(stream_df, rules)
    if plan.fail_fast:
        raise ValueError(
            "required column missing from stream schema: "
            + "; ".join(sv["message"] for sv in plan.schema_violations)
        )
    return runner.stage_violations(
        stream_df, rules, row_key, plan, dims or {}, run_id,
        keep_cols=keep_cols,
        pixel=runner.pixel_stage(
            stream_df, plan, row_key, run_id, keep_cols=keep_cols
        ),
    )


def with_event_time(
    violations: DataFrame, source: DataFrame, row_key: str, ts_col: str
) -> DataFrame:
    """Attach the source's event-time column to violation rows (the
    violation schema carries only the row key). Batch-only: for a
    streaming source this would be a stream-stream left-outer join,
    which Spark rejects without watermarks + a time-range condition —
    use ``validate_stream(..., keep_cols=[ts_col])`` to thread the
    event time through the check projection instead."""
    if violations.isStreaming or source.isStreaming:
        raise ValueError(
            "with_event_time is batch-only: pass keep_cols=[ts_col] to "
            "validate_stream so the event-time column rides the check "
            "projection (a streaming re-join would need watermarks on "
            "both sides and a join-time range)"
        )
    ts = source.select(
        F.col(row_key).cast("string").alias("row_key"), F.col(ts_col).alias("ts")
    )
    return violations.join(ts, "row_key", "left")


def windowed_metrics(
    violations_with_ts: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Violation counts per (event-time window, rule_id, error_type).

    The watermark bounds state: a window closes (and its counts
    finalize) once event time passes window end + watermark; later
    rows are dropped — the documented late-data contract."""
    return (
        violations_with_ts.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "rule_id", "error_type")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rule_id",
            "error_type",
            "n_violations",
        )
    )


def windowed_chi2_drift(
    events: DataFrame,
    cat_col: str,
    ref_probs: dict[str, float],
    window: str = "1 minute",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
    threshold: float = 0.01,
) -> DataFrame:
    """Per-event-time-window goodness-of-fit drift: chi-square of the
    window's categorical mix against a fixed reference distribution
    (the prior snapshot's category probabilities — exactly the
    categorical rows :func:`invalid_spark.checks.drift.state_frame`
    stores, normalized).

    Streaming-legal shape: ONE watermarked windowed aggregation per
    (window, category), then the O(|categories|) statistic folds into
    the same grouped aggregation via collected counts — no
    stream-stream join, no second stateful stage. Emits
    (window_start, window_end, n, n_unknown, unknown_frac, statistic,
    drifted) per closed window; the threshold is on the statistic
    against the chi-square critical value computed driver-side once
    (no per-row Python).

    Out-of-reference categories have expected count 0; they load the
    statistic through a pseudo-expectation of 0.5 (to stay finite),
    which makes the value a sentinel rather than a true chi-square
    whenever they appear — ``n_unknown``/``unknown_frac`` report that
    mass explicitly so consumers can tell genuine distribution drift
    (unknown_frac = 0) from new-category arrival.

    Works identically on a batch frame (tested both ways)."""
    from invalid_spark import mathutil

    cats = sorted(ref_probs)
    # driver-side critical value: statistic > crit ⇔ p < threshold
    # (shared bisection — the oracle embeds the same literal)
    crit = mathutil.chi2_critical(max(len(cats) - 1, 1), threshold)

    counts = (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("w"),
            F.col(cat_col).alias("cat"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # second aggregation keyed by the SAME window: Spark chains
    # windowed aggregations on the grouping window legally
    per_w = counts.groupBy("w").agg(
        F.sum("c").alias("n"),
        F.map_from_entries(F.collect_list(F.struct("cat", "c"))).alias("m"),
    )
    # chi2 = Σ (o_i − n·p_i)² / (n·p_i) over the reference categories
    # + observed categories outside the reference (expected 0 → they
    # load the statistic via a pseudo-expectation of 0.5 to stay
    # finite, flagged implicitly by a huge statistic)
    stat = None
    for cat in cats:
        o = F.coalesce(F.element_at("m", F.lit(cat)), F.lit(0)).cast("double")
        e = F.col("n").cast("double") * F.lit(float(ref_probs[cat]))
        term = F.when(e > 0, (o - e) * (o - e) / e).otherwise(F.lit(0.0))
        stat = term if stat is None else stat + term
    known_total = F.aggregate(
        F.filter(
            F.map_entries("m"), lambda kv: kv["key"].isin(cats)
        ),
        F.lit(0).cast("long"),
        lambda acc, kv: acc + kv["value"],
    )
    unknown = (F.col("n") - known_total).cast("double")
    stat = stat + F.when(unknown > 0, unknown * unknown / F.lit(0.5)).otherwise(
        F.lit(0.0)
    )
    return per_w.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n").alias("n"),
        unknown.cast("long").alias("n_unknown"),
        F.when(
            F.col("n") > 0, unknown / F.col("n").cast("double")
        ).otherwise(F.lit(0.0)).alias("unknown_frac"),
        stat.alias("statistic"),
        (stat > F.lit(crit)).alias("drifted"),
    )


def windowed_ks_drift(
    events: DataFrame,
    num_col: str,
    ref_probs: list[float],
    lo: float,
    hi: float,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
    threshold: float = 0.01,
) -> DataFrame:
    """Per-event-time-window ONE-sample KS drift of a numeric column
    against a fixed reference histogram (``ref_probs`` = per-bucket
    probabilities on the grid [lo, hi) with ``len(ref_probs)``
    buckets — exactly a column's normalized numeric rows in
    :func:`invalid_spark.checks.drift.state_frame`). The numeric
    sibling of :func:`windowed_chi2_drift`.

    Streaming-legal shape: one watermarked (window, bucket)
    aggregation, then a per-window fold over the ≤bins bucket counts
    — no stream-stream join, no second stateful stage. The drifted
    flag compares λ = (√n + 0.12 + 0.11/√n)·D against
    :func:`invalid_spark.mathutil.kolmogorov_lambda_critical`'s ONE
    constant, so the per-window sample size needs no driver
    round-trip. Emits (window_start, window_end, n, statistic,
    drifted); identical on a batch frame (tested both ways).

    Values outside [lo, hi) clamp into the edge buckets and NULL/NaN
    values are excluded from the window's counts and ``n`` (the same
    bucketing as the batch histogram)."""
    from invalid_spark import mathutil

    bins = len(ref_probs)
    if bins < 2:
        raise ValueError("ref_probs needs at least 2 buckets")
    if any(p < 0 for p in ref_probs):
        raise ValueError("ref_probs must not contain negative mass")
    total = sum(ref_probs)
    if total <= 0:
        raise ValueError("ref_probs must sum to a positive mass")
    if not hi > lo:
        raise ValueError(f"degenerate grid: need hi > lo, got [{lo}, {hi})")
    ref_cdf = []
    acc = 0.0
    for p in ref_probs:
        acc += p / total
        ref_cdf.append(acc)
    lam_crit = mathutil.kolmogorov_lambda_critical(threshold)

    # the batch drift bucketing: NULL and NaN values get no bucket
    bucket = _bucket_expr(F.col(num_col), lo, hi, bins).cast("int")
    counts = (
        events.filter(bucket.isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_w = counts.groupBy("w").agg(
        F.sum("c").alias("n"),
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m"),
    )
    # D = max_b |cum_obs(b)/n − ref_cdf(b)|: the cumulative chain is a
    # fixed bins-length expression (bucket counts, not rows)
    nn = F.col("n").cast("double")
    cum = None
    gaps = []
    for b in range(bins):
        c_b = F.coalesce(F.element_at("m", F.lit(b)), F.lit(0)).cast("double")
        cum = c_b if cum is None else cum + c_b
        gaps.append(F.abs(cum / nn - F.lit(ref_cdf[b])))
    stat = F.greatest(*gaps)
    lam = (
        F.sqrt(nn) + F.lit(0.12) + F.lit(0.11) / F.sqrt(nn)
    ) * stat
    return per_w.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n").alias("n"),
        stat.alias("statistic"),
        (lam > F.lit(lam_crit)).alias("drifted"),
    )


def dedup_on_arrival(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the validate-on-arrival sibling of
    :func:`invalid_spark.pipeline.dedup.exact_dedup_vs_state`: keep the first
    arrival per key (e.g. the shared ``text.fingerprint``), drop
    later copies.

    State is BOUNDED: ``dropDuplicatesWithinWatermark`` retains a
    key's state only until the watermark passes its first arrival, so
    memory is O(keys-per-watermark-window), not O(stream lifetime) —
    the documented contract is "duplicates arriving within
    ``watermark`` of the first copy are dropped; a copy arriving
    later than that may be re-emitted" (re-dedup downstream in the
    batch layer if total uniqueness matters). A bare
    ``dropDuplicates`` on the key would grow state forever at 100
    TB-rate ingest.

    On a BATCH frame this is plain ``dropDuplicates`` over the same
    keys (all data is "within the watermark" of itself) — the
    batch ≡ stream test relies on that equivalence.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def windowed_dedup_metrics(
    df: DataFrame,
    key_cols: list[str] | str,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Duplication metrics per event-time window: (window_start,
    window_end, n_rows, n_keys, n_dup_rows) — how much of each
    window's arrival volume was duplicate copies, the alerting
    companion to :func:`dedup_on_arrival` (parquet sinks can't carry
    a "rows I dropped" side channel, so the metric is its own
    stream).

    Streaming-legal shape (the :func:`windowed_chi2_drift` pattern):
    one watermarked (window, key) aggregation, then a second
    aggregation keyed by the same window folds the per-key counts —
    ``count_distinct`` isn't streaming-legal directly, and no
    stream-stream join. Works identically on a batch frame (the
    oracle-checked entry query runs this exact code on the batch
    path; pytest proves the streaming execution emits the same
    rows)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = (
        df.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("w"),
            *[F.col(k) for k in keys],
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_w = counts.groupBy("w").agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("c") - F.lit(1)).alias("n_dup_rows"),
    )
    return per_w.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_dup_rows").cast("long").alias("n_dup_rows"),
    )


def windowed_watch_counts(
    df: DataFrame,
    col: str,
    watch: list,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-window counts and shares of a WATCHLIST of key values —
    the streaming hot-key monitor (which spam domain / bot UA /
    quarantined source spiked THIS window), the alerting sibling of
    the batch profilers (:func:`invalid_spark.checks.stats.hot_keys`
    exact, ``heavy_hitters_cms`` bounded-state). One row per
    (window, watched value) with the window total and the value's
    share — INCLUDING zero rows for watched values that never
    arrived, so a flatlined key (a source that silently stopped
    shipping) alerts exactly like a spiking one. Zero-fill covers
    windows with at least one arriving row; a window with none emits
    nothing. ``"__other__"`` is the fold tag and cannot be watched.

    Streaming-legal shape (the :func:`windowed_chi2_drift` pattern):
    values collapse row-locally to ``value | __other__`` (state per
    window is bounded by the watchlist size + 1, NO dependence on the
    column's true cardinality), one watermarked (window, value)
    aggregation, one same-window fold into a count map, then a
    stateless zero-filled explode of the watchlist. Works identically
    on a batch frame (the oracle-checked entry query runs this exact
    code on the batch path; pytest proves streaming execution emits
    the same rows)."""
    vals = sorted({str(v) for v in watch})
    if not vals:
        raise ValueError("windowed_watch_counts needs a non-empty watchlist")
    if "__other__" in vals:
        # the fold tag: a watched "__other__" would absorb every
        # unwatched row's count
        raise ValueError(
            "windowed_watch_counts: '__other__' is reserved for unwatched "
            "values and cannot be on the watchlist"
        )
    c = F.col(col).cast("string")
    tag = F.when(c.isin(vals), c).otherwise(F.lit("__other__"))
    counts = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), tag.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_w = counts.groupBy("w").agg(
        F.sum("c").alias("n_window"),
        F.map_from_entries(F.collect_list(F.struct("v", "c"))).alias("m"),
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(v).alias("value"),
                F.coalesce(F.col("m")[v], F.lit(0)).cast("long").alias("n"),
            )
            for v in vals
        ]
    )
    e = per_w.select("w", "n_window", F.explode(entries).alias("x"))
    return e.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("x.value").alias("value"),
        F.col("x.n").alias("n"),
        F.col("n_window").cast("long").alias("n_window"),
        F.round(
            F.col("x.n").cast("double") / F.col("n_window").cast("double"), 6
        ).alias("share"),
    )


def minhash_screen_stream(
    df: DataFrame,
    state: DataFrame,
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-dup screen: flag arriving documents whose
    estimated Jaccard vs the persisted minhash signature state
    (:func:`invalid_spark.pipeline.dedup.minhash_state`) reaches
    ``threshold`` — validate-on-arrival's answer to "is this document
    already in the training corpus, approximately?". Exact arrivals
    are :func:`dedup_on_arrival`'s job; batch-internal near-dups are
    the batch layer's (:func:`~invalid_spark.pipeline.dedup.
    minhash_dedup_vs_state`).

    Streaming-legal shape: the signature is computed ROW-LOCALLY
    (:func:`~invalid_spark.pipeline.dedup.with_minhash_signature` —
    no explode-aggregate, bit-identical to the batch signature), band
    rows explode per arrival (stateless generate), candidates come
    from ONE stream-static equi-join against the state's band
    projection (the state's signature columns ride the join, so
    verification is row-local too), and the only stateful operator is
    the watermarked (window, key) max-estimate aggregate. No
    stream-stream join, state bounded by the watermark. Emits one row
    per flagged arrival: (window_start, window_end, id, est_corpus).

    Works identically on a batch frame — the oracle-checked entry
    query runs this code on the batch path; pytest proves streaming
    execution emits the same rows."""
    from invalid_spark.pipeline import dedup as _dedup
    from invalid_spark.pipeline import text as _text

    if df.isStreaming:
        # watermark BEFORE the join: non-matching arrivals (most of
        # the stream) must still advance event time, or windows whose
        # matches stopped arriving would never close
        df = df.withWatermark(ts_col, watermark)
    k = bands * rows
    # drop too-short docs with a CHEAP precondition (one token pass)
    # BEFORE the signature projection — filtering on the produced
    # column's nullness instead would push the predicate down and
    # inline the ENTIRE tokens→grams→md5→fold chain into it,
    # re-evaluating the signature ~6× (measured 38 s vs 6 s at sf0.1)
    short = F.size(_text.tokens(_text.normalize(F.col(text_col)))) >= n
    d = _dedup.with_minhash_signature(df.filter(short), k, n, text_col)
    e = _dedup._bands(
        d.select(F.col(key_col).alias("id"), "__sig", F.col(ts_col)),
        [F.element_at("__sig", j + 1) for j in range(k)], bands, rows,
    )
    stb = _dedup._bands(state, _dedup._sig_cols(k), bands, rows)
    est = sum(
        F.when(
            F.element_at("__sig_a", j + 1) == F.col(f"s{j}_b"), 1
        ).otherwise(0)
        for j in range(k)
    ) / F.lit(float(k))
    pairs = _dedup.bucket_pairs(
        e, ["band", "band_hash"], stb,
        ["__sig", ts_col, *[f"s{j}" for j in range(k)]],
    )
    agg = pairs.groupBy(
        F.window(f"{ts_col}_a", window).alias("w"), F.col("a").alias("id")
    ).agg(F.max(est).alias("est_corpus"))
    return agg.filter(F.col("est_corpus") >= threshold).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "id",
        F.round("est_corpus", 6).alias("est_corpus"),
    )


def phash_screen_stream(
    df: DataFrame,
    state: DataFrame,
    max_hamming: int = 4,
    bits: int = 64,
    hash_col: str = "phash",
    key_col: str = "image_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming IMAGE near-dup screen: flag arriving images whose
    phash is within ``max_hamming`` of the persisted (id, sig) state
    — the image sibling of :func:`minhash_screen_stream`, and simpler:
    the signature already IS a column, so there is no per-row
    signature computation at all. Pigeonhole blocks explode per
    arrival (stateless), ONE stream-static block equi-join carries
    the state signature into the row, and the watermarked
    (window, id) MIN-distance aggregate is the only stateful
    operator. Within the radius the pigeonhole guarantee makes the
    minimum exact, so flags are exact, not estimates. Emits
    (window_start, window_end, id, best_hamming) per flagged arrival;
    works identically on a batch frame."""
    from invalid_spark.pipeline import dedup as _dedup

    if df.isStreaming:
        # watermark BEFORE the join (see minhash_screen_stream: non-
        # matching arrivals must still advance event time)
        df = df.withWatermark(ts_col, watermark)
    b = df.select(
        F.col(key_col).alias("id"),
        F.col(hash_col).cast("long").alias("sig"),
        F.col(ts_col),
    )
    pairs = _dedup.bucket_pairs(
        _dedup._hamming_blocks(b, max_hamming, bits), ["blk", "val"],
        _dedup._hamming_blocks(state, max_hamming, bits), ["sig", ts_col],
    )
    agg = pairs.groupBy(
        F.window(f"{ts_col}_a", window).alias("w"), F.col("a").alias("id")
    ).agg(F.min(_dedup._hamming()).alias("best_hamming"))
    return agg.filter(F.col("best_hamming") <= max_hamming).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "id",
        F.col("best_hamming").cast("long").alias("best_hamming"),
    )


def running_rule_totals(
    violations: DataFrame,
) -> DataFrame:
    """Cumulative violation totals per (rule_id, error_type) across
    the lifetime of the stream — a custom stateful operator via
    ``applyInPandasWithState``.

    Windowed aggregation forgets closed windows; alerting wants
    "how many rows has rule X rejected since the stream started",
    which needs explicit keyed state. State per key is one long —
    bounded by |rules| x |error types|, not by data — and survives
    restarts through the sink checkpoint."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "rule_id string, error_type string, total long"
    state_schema = "total long"

    def update(key, pdfs, state: GroupState):
        new = 0
        for pdf in pdfs:
            new += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + new
        state.update((total,))
        yield pd.DataFrame(
            {"rule_id": [key[0]], "error_type": [key[1]], "total": [total]}
        )

    # "append" mode: each micro-batch appends the key's new running
    # total as a log entry (parquet sinks only support append); the
    # latest entry per key is the current counter
    return (
        violations.groupBy("rule_id", "error_type")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def write_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Start a parquet sink with exactly-once checkpointing.

    ``available_now=True`` processes everything currently available
    and stops — the deterministic mode used by tests and backfills;
    pass False for a continuously running query."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_profile(
    df: DataFrame,
    value_col: str,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-event-time-window numeric profile: (window_start,
    window_end, n_rows, n_null, vmin, vmax, mean) — the streaming
    sibling of the batch column profile, and the raw series the
    ``$anomaly`` history consumes in a continuous deployment. One
    watermarked aggregation of streaming-legal functions (count /
    min / max / avg), no stream-stream join, no arbitrary state;
    identical code runs on a batch frame, which is what the
    oracle-checked entry query does (pytest proves the streaming
    execution emits the same rows)."""
    v = F.col(value_col)
    per_w = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(v).alias("n_values"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
            F.avg(v).alias("mean"),
        )
    )
    return per_w.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.col("n_values")).cast("long").alias("n_null"),
        "vmin",
        "vmax",
        F.round("mean", 6).alias("mean"),
    )


def windowed_alignment_metrics(
    df: DataFrame,
    col_a: str,
    col_b: str,
    min_cos: float,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Paired-embedding alignment health per event-time window:
    ``(window_start, window_end, n_pairs, n_unscorable, n_below,
    aligned_frac)`` — the streaming monitor for the
    :func:`invalid_spark.checks.vector.alignment_violations` gate. An
    upstream encoder that silently degrades (starts emitting zeros,
    wrong dims, drifting alignment) shows up as a falling
    ``aligned_frac`` within one window instead of at the next batch
    audit.

    Shares the gate's exact score expressions
    (:func:`invalid_spark.checks.vector.alignment_score`), so monitor
    and gate can never disagree. Streaming-legal shape: a stateless
    row-local projection (HOF folds, zero joins) followed by ONE
    watermarked windowed aggregation — per-window state is the five
    counters, regardless of arrival volume. Works identically on a
    batch frame (the oracle-checked entry query runs this exact code
    on the batch path)."""
    from invalid_spark.checks.vector import alignment_score

    unscorable, cos = alignment_score(col_a, col_b)
    scored = df.select(
        F.col(ts_col),
        unscorable.alias("__uns"),
        F.when(~unscorable, cos).alias("__cos"),
    )
    agg = (
        scored.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("__uns").cast("long")).cast("long").alias(
                "n_unscorable"
            ),
            F.sum(
                (F.col("__cos") < F.lit(float(min_cos)))
                .cast("long")
            ).cast("long").alias("n_below"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_pairs",
        F.coalesce("n_unscorable", F.lit(0).cast("long")).alias(
            "n_unscorable"
        ),
        F.coalesce("n_below", F.lit(0).cast("long")).alias("n_below"),
        F.round(
            (
                F.col("n_pairs")
                - F.coalesce("n_unscorable", F.lit(0).cast("long"))
                - F.coalesce("n_below", F.lit(0).cast("long"))
            )
            / F.col("n_pairs"),
            6,
        ).alias("aligned_frac"),
    )
