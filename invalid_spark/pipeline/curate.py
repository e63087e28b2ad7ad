"""End-to-end training-data curation: the composite pipeline a
100 TB corpus actually runs before training — quality gate → language
filter → exact dedup → near-dup (MinHash-LSH) keeper selection — as
ONE DataFrame program emitting a per-document decision.

Decision priority (first failing stage wins, mirroring the order a
real pipeline applies them — cheap row-local gates before shuffling
dedup stages):

  1. ``low_quality`` — Gopher/C4-style gate (:func:`text.quality_features`)
  2. ``wrong_lang``  — language ID not in the allow-list
  3. ``exact_dup``   — md5-fingerprint group, keeper = min id
  4. ``near_dup``    — MinHash-LSH cluster, keeper = min id in component
  5. ``keep``

Scale shape: stage 1+2 are one codegen projection over the corpus (no
shuffle, no Python); exact dedup is one hash-aggregate of (16-byte
fingerprint, id); near-dup runs ONLY on rows surviving 1-3 (semi-join
pruned) through the bucketed LSH path — each stage shrinks the data
the next stage shuffles, which is what makes the composite affordable
at corpus scale.

Every stage is SQL-replayable (md5 hashing, exact-rational ratios,
recursive min-label reachability), so the whole composite is
oracle-checked end-to-end in the driver gate (``curate_documents``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from invalid_spark.model import local_frame
from invalid_spark.pipeline import dedup
from invalid_spark.pipeline import text as T


def deterministic_split(
    df: DataFrame,
    key_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Assign every row a stable train/val/test split label from a
    hash of its key — the reproducible alternative to
    ``randomSplit`` (whose assignment changes with partitioning and
    re-runs, silently leaking val/test rows into training across
    pipeline versions).

    ``bucket = md5(salt || key) mod 10000``; cumulative weight
    boundaries carve the bucket space, so the same (key, salt) maps
    to the same split on any engine, any cluster size, any run — and
    changing ``salt`` derives a fresh independent split. Pure
    projection appending a ``split`` column to the input rows: no
    shuffle, no RNG state, SQL-replayable.

    NULL keys hash as the sentinel spelling ``__null__`` (they all
    share one deterministic assignment rather than silently falling
    into the last split); duplicated keys likewise share one
    assignment — by design, so near-identical records keyed alike
    cannot straddle the train/eval boundary."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    key_s = F.coalesce(F.col(key_col).cast("string"), F.lit("__null__"))
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit("-"), key_s)), 1, 8
            ),
            16, 10,
        ).cast("long"),
        F.lit(10000),
    )
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        bound = int(round(acc * 10000))
        e = F.when(bucket < bound, F.lit(name)) if expr is None else expr.when(
            bucket < bound, F.lit(name)
        )
        expr = e
    expr = (
        expr.otherwise(F.lit(items[-1][0]))
        if expr is not None
        else F.lit(items[-1][0])
    )
    return df.withColumn("split", expr)


def curation_decisions(
    df: DataFrame,
    langs: tuple[str, ...] = ("en", "de", "fr", "es", "zh"),
    threshold: float = 0.8,
    text_col: str = "text",
    key_col: str = "doc_id",
    parallelism: int | None = None,
    cache: bool = True,
) -> DataFrame:
    """(id, keep, reason) for every input document.

    ``cache=True`` (default) materializes the base projection — id,
    text, and every row-local signal — as an eager local checkpoint,
    so the corpus is SCANNED ONCE and the quality/lang/fingerprint
    expressions evaluated once; the exact-dup, near-dup, and final
    decision stages all feed from the checkpoint (storage is
    reclaimed by Spark once the result is unreferenced). The trade:
    a local checkpoint truncates lineage, so losing an executor's
    blocks mid-pipeline (spot preemption) fails the job instead of
    recomputing. With ``cache=False`` the plan stays fully lazy —
    fault-tolerant and memory-light at the cost of re-scanning the
    corpus for the near-dup stage and the final join — prefer it on
    preemptible clusters or when the corpus is too large to spill
    its decoded form to executor disks."""
    t = F.col(text_col)
    # one projection computes every row-local signal (codegen, no
    # shuffle): quality, language, exact-dup fingerprint — the
    # expressions are the SHARED definitions from pipeline.text, so
    # curation can never diverge from the standalone operators
    base = df.select(
        F.col(key_col).alias("id"),
        t.alias("__txt"),
        T.quality_ok_col(t).alias("qok"),
        T.lang_guess_col(t).isin(list(langs)).alias("lok"),
        T.fingerprint(t).alias("fp"),
    )
    if cache:
        base = base.localCheckpoint(eager=True)

    surv1 = base.filter("qok").filter("lok").select("id", "fp")
    keep_exact = surv1.groupBy("fp").agg(F.min("id").alias("keep_id"))
    s1k = surv1.join(keep_exact, "fp").select("id", "keep_id")
    exact_drop = s1k.filter(F.col("id") != F.col("keep_id")).select("id")
    surv2_ids = s1k.filter(F.col("id") == F.col("keep_id")).select("id")

    # near-dup only over rows that survived the cheap gates: the LSH
    # shuffle sees the pruned corpus (fed from the cached base, not a
    # re-scan of the raw input), not the raw one
    surv2 = base.join(surv2_ids, "id", "left_semi").select(
        F.col("id").alias(key_col), F.col("__txt").alias(text_col)
    )
    pairs = dedup.minhash_lsh_dedup(
        surv2, threshold=threshold, text_col=text_col, key_col=key_col,
        parallelism=parallelism,
    )
    near = dedup.dedup_decisions(pairs)
    near_drop = near.filter(~F.col("keep")).select("id")

    ed = exact_drop.withColumn("__ed", F.lit(True))
    nd = near_drop.withColumn("__nd", F.lit(True))
    out = (
        base.join(ed, "id", "left")
        .join(nd, "id", "left")
        .select(
            "id",
            F.when(~F.col("qok"), F.lit("low_quality"))
            .when(~F.col("lok"), F.lit("wrong_lang"))
            .when(F.col("__ed"), F.lit("exact_dup"))
            .when(F.col("__nd"), F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("reason"),
        )
        .withColumn("keep", F.col("reason") == "keep")
        .select("id", "keep", "reason")
    )
    return out


def hash_sample(
    df: DataFrame,
    rate: float | None = None,
    key_col: str = "doc_id",
    salt: str = "sample-v1",
    strata_col: str | None = None,
    rates: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic (down)sampling by key hash — the reproducible
    alternative to ``df.sample`` for corpus curation: the same
    (key, salt) is kept or dropped on every engine, partitioning, and
    re-run, so a 10% pilot corpus is a stable SUBSET of the 100%
    corpus (``md5`` buckets nest: rate 0.1 keeps a subset of rate
    0.5's rows). Pure projection + filter, no shuffle, no RNG state.

    Stratified mode: pass ``strata_col`` and per-stratum ``rates``
    (e.g. ``{"en": 0.1, "de": 1.0}``) — strata absent from the dict
    fall back to ``rate`` (or 0.0 when no default is given), which is
    how a curation pipeline up-samples rare languages while
    down-sampling the head. NULL keys share the ``__null__`` sentinel
    bucket (kept or dropped atomically, same as deterministic_split)."""
    if rate is None and not rates:
        raise ValueError("hash_sample needs rate= and/or rates=")
    if rates and strata_col is None:
        raise ValueError("per-stratum rates need strata_col=")
    key_s = F.coalesce(F.col(key_col).cast("string"), F.lit("__null__"))
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit("-"), key_s)), 1, 8
            ),
            16, 10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    def bound(r: float) -> int:
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"sample rate must be in [0, 1], got {r}")
        return int(round(r * 1_000_000))
    if rates:
        expr = None
        s = F.col(strata_col).cast("string")
        for name, r in rates.items():
            cond = s == name
            lim = F.lit(bound(r))
            expr = F.when(cond, lim) if expr is None else expr.when(cond, lim)
        expr = expr.otherwise(F.lit(bound(rate if rate is not None else 0.0)))
    else:
        expr = F.lit(bound(rate))
    return df.filter(bucket < expr)


def normalize_mix(target: dict[str, float]) -> dict[str, float]:
    """Normalize target-mix weights to shares summing to 1. Shared by
    :func:`mix_report` (Spark side) and any external oracle replay so
    both embed the SAME IEEE-754 literals — the downstream divisions
    are then bit-identical across engines."""
    if not target:
        raise ValueError("target mix must name at least one domain")
    for d, w in target.items():
        if not w > 0:
            raise ValueError(f"target weight for [{d}] must be > 0, got {w}")
    w_sum = float(sum(target.values()))
    return {d: float(w) / w_sum for d, w in target.items()}


def mix_report(
    df: DataFrame,
    domain_col: str,
    target: dict[str, float],
    weight_col: str | None = None,
) -> DataFrame:
    """Domain-mix report for downsample-only data mixing: given target
    weights per domain (any positive numbers, normalized internally),
    compute the per-domain deterministic sampling rate that reshapes
    the corpus to the target mix — the "mix to 60% web / 20% code /
    20% books" step of training-data curation.

    Downsampling only (no row is duplicated): the achievable corpus
    size is capped by the scarcest declared domain,
    ``T = min_d(count_d / share_d)``, and each declared domain keeps
    ``share_d * T`` rows (rate 1.0 for the binding domain). A declared
    domain with ZERO rows therefore makes the mix infeasible — every
    rate reads 0.0, which is the honest answer, not an approximation.
    Domains present in the data but absent from ``target`` get
    ``target_share`` NULL and rate 0.0 (a mix is a whitelist).

    One hash-aggregate over the corpus (domains-sized output), then
    arithmetic on the tiny frame — the corpus itself is scanned once
    and never shuffled beyond the count. The domains-sized counts are
    eagerly localCheckpointed so the feasible-size cap and the outer
    report — which both consume them — don't each re-aggregate the
    corpus (the ``curation_decisions`` single-scan device). Every
    expression is plain
    IEEE double arithmetic, so an external SQL engine fed the same
    normalized shares reproduces rates bit-for-bit.

    Output: (domain, n, share, target_share, sampling_rate, n_keep).

    ``weight_col`` switches the mix measure from document COUNT to a
    per-row non-negative weight SUM (token or char counts — "20% of
    the TOKENS from code", which is what a training mix actually
    declares). ``n`` is then the domain's total weight as a double,
    and the per-document hash sampling approximates the weight share
    (whole documents are kept or dropped; the approximation error is
    one document's weight per domain, negligible at corpus scale).
    """
    shares = normalize_mix(target)
    tgt = local_frame(
        df.sparkSession, shares.items(), "domain string, t double"
    )
    measure = (
        F.sum(F.col(weight_col)).cast("double")
        if weight_col
        else F.count(F.lit(1))
    )
    counts = (
        df.groupBy(F.col(domain_col).cast("string").alias("domain"))
        .agg(measure.alias("n"))
        .localCheckpoint(eager=True)
    )
    n_type = "double" if weight_col else "long"
    j = counts.join(F.broadcast(tgt), "domain", "full_outer").select(
        "domain",
        F.coalesce(F.col("n"), F.lit(0)).cast(n_type).alias("n"),
        F.col("t"),
    )
    # feasible corpus size + total, one row — broadcast back onto the
    # domains-sized frame (never a windowed global sort)
    cap = j.agg(
        F.min(
            F.when(F.col("t").isNotNull(), F.col("n") / F.col("t"))
        ).alias("cap"),
        F.sum("n").alias("total"),
    )
    rate = F.when(
        F.col("t").isNull() | (F.col("n") == 0), F.lit(0.0)
    ).otherwise(
        F.least(F.lit(1.0), F.col("t") * F.col("cap") / F.col("n"))
    )
    return j.crossJoin(F.broadcast(cap)).select(
        "domain",
        "n",
        (F.col("n") / F.col("total")).alias("share"),
        F.col("t").alias("target_share"),
        rate.alias("sampling_rate"),
        F.floor(rate * F.col("n")).cast("long").alias("n_keep"),
    )


def mix_sample(
    df: DataFrame,
    domain_col: str,
    target: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "mix-v1",
    weight_col: str | None = None,
) -> DataFrame:
    """Apply :func:`mix_report`'s rates: keep each row iff its
    deterministic md5 bucket (same construction as
    :func:`hash_sample`, so mixes NEST under pilot samples) clears its
    domain's rate. Undeclared domains are dropped entirely.

    Plan shape: the domains-sized rates frame broadcast-joins onto the
    corpus scan — the corpus is never shuffled, and re-running with
    the same salt reproduces the identical subset on any engine or
    partitioning."""
    # reserved-name projection so an input column named "domain" /
    # "sampling_rate" can't collide with the rates frame
    rates = mix_report(df, domain_col, target, weight_col=weight_col).select(
        F.col("domain").alias("__mix_dom"),
        F.col("sampling_rate").alias("__mix_rate"),
    )
    key_s = F.coalesce(F.col(key_col).cast("string"), F.lit("__null__"))
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit("-"), key_s)), 1, 8
            ),
            16, 10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    return (
        df.join(
            F.broadcast(rates),
            F.col(domain_col).cast("string") == F.col("__mix_dom"),
            "inner",
        )
        .filter(bucket < F.col("__mix_rate") * F.lit(1_000_000.0))
        .drop("__mix_dom", "__mix_rate")
    )


def _dsir_bucket(tok: Column, n_buckets: int, salt: str) -> Column:
    """The ONE hashed-feature bucket expression (md5 of salted token
    mod n_buckets) — shared by model building and per-doc scoring so
    the two can never disagree on the bucketing."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "-"), tok)), 1, 8),
            16, 10,
        ).cast("bigint"),
        F.lit(n_buckets),
    )


def _dsir_bucket_counts(
    d: DataFrame, text_col: str, n_buckets: int, salt: str
) -> DataFrame:
    """Hashed bag-of-words counts: md5-bucket every normalized token
    into ``n_buckets`` features. The hashing trick from DSIR (Xie et
    al. 2023, public): the model is a FIXED-size count vector no
    matter the vocabulary, so it broadcasts at any corpus scale."""
    occ = d.select(
        F.explode(T.tokens(T.normalize(F.col(text_col)))).alias("w")
    )
    b = _dsir_bucket(F.col("w"), n_buckets, salt)
    return occ.select(b.alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every raw document by how
    much more likely it is under a hashed bag-of-words model of the
    TARGET domain than under the raw corpus's own model.

    ``log_ratio = Σ_tokens [log p_t(b(w)) − log p_r(b(w))]`` with
    Laplace-``alpha`` smoothed bucket probabilities. Positive means
    target-like. Returns ``(id, n_tokens, log_ratio)``; empty
    documents get ``log_ratio = 0``.

    Scale shape: two bucket-count aggregates (each a linear token
    explode collapsing to ≤ ``n_buckets`` rows map-side), one
    broadcast join of the merged model onto the corpus's token
    stream, one per-doc aggregate. The model is ``n_buckets`` rows
    regardless of corpus size — the hashing trick is what makes DSIR
    work at 100 TB, and it is exactly what makes this SQL-replayable
    (md5 buckets, no JVM-private hashing).
    """
    raw_m = _dsir_bucket_counts(df, text_col, n_buckets, salt)
    tgt_m = _dsir_bucket_counts(target, text_col, n_buckets, salt)
    model = (
        raw_m.withColumnRenamed("c", "cr")
        .join(tgt_m.withColumnRenamed("c", "ct"), "b", "full_outer")
        .select(
            "b",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    totals = model.agg(
        F.sum("cr").cast("double").alias("tr"),
        F.sum("ct").cast("double").alias("tt"),
    )
    scored_model = model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            (F.log(F.col("ct") + alpha) - F.log(F.col("tt") + alpha * n_buckets))
            - (F.log(F.col("cr") + alpha) - F.log(F.col("tr") + alpha * n_buckets))
        ).alias("lr"),
    )
    occ = df.select(
        F.col(key_col).alias("id"),
        F.explode(T.tokens(T.normalize(F.col(text_col)))).alias("w"),
    )
    b = _dsir_bucket(F.col("w"), n_buckets, salt)
    per_doc = (
        occ.select("id", b.alias("b"))
        .join(F.broadcast(scored_model), "b")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("lr"), 6).alias("log_ratio"),
        )
    )
    ids = df.select(F.col(key_col).alias("id"))
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("log_ratio", F.lit(0.0)).alias("log_ratio"),
    )


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
) -> DataFrame:
    """DSIR selection: Gumbel top-``k`` over the importance weights —
    sampling WITHOUT replacement proportional to ``exp(log_ratio)``,
    deterministically. The Gumbel noise comes from 52 md5 bits of the
    document key (exactly representable in a double), so the draw is
    reproducible anywhere, including the SQL oracle. The top-k is an
    ``orderBy().limit()`` — TakeOrdered partial top-k per partition,
    never a global sort."""
    w = dsir_weights(df, target, text_col, key_col, n_buckets, alpha, salt)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "-g-"), F.col("id").cast("string"))),
                1, 13,
            ),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    gumbel = -F.log(-F.log(u))
    keyed = w.select(
        "id", "n_tokens", "log_ratio",
        F.round(F.col("log_ratio") + gumbel, 6).alias("gumbel_key"),
    )
    return keyed.orderBy(F.col("gumbel_key").desc(), F.col("id").asc()).limit(k)


def top_fraction(
    df: DataFrame,
    score_col: str,
    frac: float,
    key_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Quality pruning by global score rank — keep (approximately) the
    top ``frac`` of the corpus by ``score_col`` (the DCLM /
    FineWeb-Edu "keep the top p% by classifier score" selection) —
    WITHOUT a global sort: one aggregation computes the (1 - frac)
    quantile threshold, one broadcast of that single row applies it.
    Returns (key, score, keep).

    ``exact=True`` uses Spark's exact ``percentile`` (one
    memory-unbounded agg — the oracle-replayable mode, same
    interpolation as DuckDB's ``quantile_cont``; fine to corpus sizes
    whose score column fits one executor's agg buffer).
    ``exact=False`` is the 100 TB path: ``percentile_approx``
    (Greenwald-Khanna sketch, bounded memory, partial-combine) with a
    documented rank error — the selection boundary moves by at most
    the sketch accuracy, interior decisions are identical.

    Ties AT the threshold are all kept (``>=``), so the realized
    fraction can exceed ``frac`` on heavily tied scores — determinism
    over exactness-of-count, the same trade
    :func:`deterministic_split` makes. A NaN score is never kept and
    does not move the threshold, as in :func:`top_fraction_by_group`."""
    s = F.col(score_col).cast("double")
    q = 1.0 - float(frac)
    thr_expr = (
        F.expr(f"percentile(CAST({score_col} AS DOUBLE), {q!r})")
        if exact
        else F.percentile_approx(s, F.lit(q), F.lit(10000))
    )
    # NaN sorts above every number in Spark: it would lift the
    # threshold and always pass ``>=``, so it neither sets nor passes
    thr = df.filter(~F.isnan(s)).agg(thr_expr.alias("__thr"))
    return (
        df.crossJoin(F.broadcast(thr))
        .select(
            F.col(key_col),
            s.alias("score"),
            ((s >= F.col("__thr")) & ~F.isnan(s)).alias("keep"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "wrs-v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — draw
    ``k`` rows with inclusion probability proportional to
    ``weight_col`` (token-weighted document subsampling: a 10k-token
    doc should be 10x likelier in a token-budgeted subsample than a
    1k-token one; :func:`hash_sample` is the uniform special case,
    :func:`dsir_sample` the importance-scored one).

    Algorithm A-ES (Efraimidis & Spirakis 2006): each row draws
    ``u in (0, 1]`` and ranks by ``ln(u) / w`` — the top ``k`` ranks
    are EXACTLY a weighted sample without replacement. Two properties
    make it the right 100 TB shape:

    - the rank key is row-local (one projection), and top-k compiles
      to TakeOrderedAndProject — per-partition partial top-k, never a
      global sort, never more than ``k`` rows past the shuffle;
    - ``u`` is md5-derived from the salted key, so the draw is
      reproducible across runs/engines (the :func:`hash_sample`
      construction) and the ENTIRE sample replays in SQL — no RNG
      state anywhere.

    Rows with NULL, NaN or non-positive weight are excluded (a
    zero-weight row has zero inclusion probability by definition;
    negative weights are a caller bug surfaced by exclusion, not by a
    skewed exponent; Spark orders NaN above every number, so a NaN
    weight would otherwise rank first). Ties (md5 collisions at 8 hex
    chars) break by key ASC.
    Returns ``(key, weight, wkey)`` ordered by rank — join back on
    ``key_col`` for the full rows."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    w, wkey = _aes_wkey(key_col, weight_col, salt)
    return (
        df.filter(w.isNotNull() & ~F.isnan(w) & (w > 0))
        .select(F.col(key_col), w.alias("weight"), wkey.alias("wkey"))
        .orderBy(F.col("wkey").desc(), F.col(key_col).asc())
        .limit(k)
    )


def _aes_wkey(key_col: str, weight_col: str, salt: str):
    """The A-ES rank-key pair (weight expr, ln(u)/w expr) shared by
    the global and per-group samplers — one definition so the two
    draws agree on every row."""
    key_s = F.col(key_col).cast("string")
    w = F.col(weight_col).cast("double")
    # u in (0, 1]: first 8 md5 hex chars + 1, over 2^32
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "-"), key_s)), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    return w, F.log(u) / w  # ln(u)/w, monotone in u^(1/w); larger = keep


def weighted_sample_by_group(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str,
    key_col: str = "doc_id",
    salt: str = "wrs-v1",
) -> DataFrame:
    """Per-group A-ES weighted sampling without replacement — ``k``
    rows PER GROUP with inclusion probability proportional to
    ``weight_col`` within the group (per-language token-weighted
    subsampling; :func:`weighted_sample` is the ungrouped form and
    shares the exact same md5 draw, so the per-group winners of a
    group are a superset property of the global draw restricted to
    it).

    Grouped top-k has no TakeOrderedAndProject, but Spark plans the
    ``row_number() <= k`` filter as a ``WindowGroupLimit``: a
    ``Partial`` one below the exchange keeps each (partition, group)'s
    local top-``k`` by rank key — top-k is a monotone selector, so
    every global per-group winner survives its own partition's cut —
    and only those candidates (at most partitions x groups x k rows
    of a 4-column projection) are shuffled to the rank window, with
    no Python worker (for ``k`` up to
    ``spark.sql.optimizer.windowGroupLimitThreshold``, 1000 by
    default; above it every row is ranked). The result is EXACT and
    partitioning-independent (the oracle replays it as a plain
    per-group rank over the full table). Returns ``(key, group,
    weight, wkey, rank)``, rank 1..k per group; NULL group is its own
    group."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    w, wkey = _aes_wkey(key_col, weight_col, salt)
    proj = (
        df.filter(w.isNotNull() & ~F.isnan(w) & (w > 0))
        .select(
            F.col(key_col),
            F.col(group_col),
            w.alias("weight"),
            wkey.alias("wkey"),
        )
    )
    rank_w = Window.partitionBy(group_col).orderBy(
        F.col("wkey").desc(), F.col(key_col).asc()
    )
    return (
        proj.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
    )


def top_fraction_by_group(
    df: DataFrame,
    score_col: str,
    frac: float,
    group_col: str,
    key_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Per-group quality pruning — keep (approximately) the top
    ``frac`` of EACH group by ``score_col`` (top p% per language /
    source / domain). The global :func:`top_fraction` applied to a
    multilingual corpus keeps almost nothing from a language whose
    classifier scores run systematically lower (quality classifiers
    are notoriously English-centric); per-group thresholds preserve
    every group's share while still pruning within it.

    Same two-step shape as the global variant, still no sort of any
    kind: ONE grouped quantile aggregation produces a thresholds
    frame with one row per group (groups are languages/sources —
    bounded, so it broadcasts at any corpus scale), then one
    broadcast join applies it. ``exact=True`` is the
    oracle-replayable mode (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` per group); ``exact=False`` swaps in
    ``percentile_approx`` (bounded-memory GK sketch with
    partial-combine — the 100 TB path; grouped partials shuffle one
    sketch per group per partition). The join is null-safe so a NULL
    group is pruned against its own threshold, not silently dropped.
    Ties at a group's threshold are all kept (``>=``), as in
    :func:`top_fraction`; a NaN score is never kept and does not move
    its group's threshold. Returns (key, group, score, keep)."""
    s = F.col(score_col).cast("double")
    q = 1.0 - float(frac)
    thr_expr = (
        F.expr(f"percentile(CAST({score_col} AS DOUBLE), {q!r})")
        if exact
        else F.percentile_approx(s, F.lit(q), F.lit(10000))
    )
    # NaN sorts above every number in Spark: it would lift the
    # threshold and always pass ``>=``, so it neither sets nor passes
    thr = (
        df.filter(~F.isnan(s))
        .groupBy(F.col(group_col).alias("__g"))
        .agg(thr_expr.alias("__thr"))
    )
    return (
        df.join(
            F.broadcast(thr),
            F.col(group_col).eqNullSafe(F.col("__g")),
            "left",
        )
        .select(
            F.col(key_col),
            F.col(group_col),
            s.alias("score"),
            ((s >= F.col("__thr")) & ~F.isnan(s)).alias("keep"),
        )
    )


def semantic_diversity(
    df: DataFrame,
    n_lists: int = 16,
    centroids=None,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Corpus diversity over the semantic codebook — the metric the
    SemDeDup line of work tracks through a curation pipeline (does
    dedup/filtering collapse the corpus onto few semantic regions?).
    One summary row: ``(n_docs, n_clusters, entropy,
    normalized_entropy, effective_clusters, top_share)`` where
    entropy is the Shannon entropy (nats) of the cluster-occupancy
    distribution, ``normalized_entropy`` divides by ``ln(n_lists)``
    (capacity), ``effective_clusters = exp(entropy)`` (perplexity —
    "the corpus behaves as if spread over this many regions"), and
    ``top_share`` is the hottest cluster's mass.

    Run it before and after a curation stage and diff: a dedup pass
    that REDUCES normalized entropy collapsed diversity, the
    opposite of what diversity-preserving keeper selection promises.

    Scale shape: one Arrow assignment pass (broadcast codebook), one
    count aggregation to ≤ ``n_lists`` rows, and a driver-free fold
    over the cluster-sorted count list — the
    :func:`invalid_spark.checks.stats.column_entropy` canonical-order
    trick, so any SQL engine replays the float bit-for-bit."""
    from invalid_spark.pipeline import similarity
    from invalid_spark.pipeline.dedup import _semantic_assigned

    centroids = similarity.semantic_codebook(
        df, centroids, n_lists, vec_col, key_col
    )
    n_cap = len(centroids)
    a = _semantic_assigned(df, centroids, vec_col, key_col)
    counts = a.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    t = counts.select(
        "cluster", "cnt",
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    terms = t.select("cluster", (p * F.log(p)).alias("term"), "cnt", "n")
    folded = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("cluster", "term"))),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return terms.groupBy().agg(
        F.first("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.round(-folded, 6).alias("entropy"),
        F.round(-folded / F.lit(math.log(n_cap)), 6).alias(
            "normalized_entropy"
        ),
        F.round(F.exp(-folded), 6).alias("effective_clusters"),
        F.round(
            F.max("cnt").cast("double") / F.first("n").cast("double"), 6
        ).alias("top_share"),
    )
