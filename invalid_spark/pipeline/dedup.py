"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash/phash Hamming, embedding-cosine and semantic (SemDeDup)
near-dup, each also incremental (``*_vs_state``).

Scale design (the point of each operator at 100 TB):

- **exact**: hash-groupBy on the md5 fingerprint — one shuffle of
  (16-byte key, id); partial combine collapses per-partition dups.
- **one candidate join**: every near-dup family is "explode each row
  to bucket keys → :func:`bucket_pairs` → verify". The bucket join is
  an equi-join (self-join with ``a < b``, or batch vs state / stream
  vs static / corpus vs queries), so its repartition cost is reasoned
  about in one place and no family is ever all-pairs. A family is
  its key builder plus its similarity expression:

  - n-gram Jaccard: key = the shingle ``g``; :func:`shingle_pairs`
    drops stop-shingles whose df exceeds ``max_df`` (every pair they
    connect is noise) and counts common shingles per pair.
  - MinHash + LSH: key = ``(band, band_hash)`` from :func:`_bands`,
    the one band builder (b bands × r rows of a k-element signature,
    min of a Carter-Wegman hash of md5(shingle) per row); candidates
    are verified with the exact Jaccard or the signature estimate.
  - SimHash / phash: key = ``(blk, val)`` from :func:`_hamming_blocks`,
    the one pigeonhole builder; verified by popcount distance.
  - embedding LSH: key = the hyperplane sign ``code``, multi-probed;
    SemDeDup: key = the coarse ``cluster``; both verified by cosine.

  Incremental variants end in :func:`_vs_state`, the one
  ``dup_of_corpus | dup_in_batch | new`` decision.

Hash choice: md5 (not xxhash64) so every signature is reproducible
in the DuckDB oracle — at production scale swap HASH_FN for
xxhash64 (same plan shape, ~3x cheaper).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from invalid_spark.model import local_frame
from invalid_spark.pipeline import similarity
from invalid_spark.pipeline import text as T


# ---------------------------------------------------------------------------
# exact dedup

def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """Fingerprint groups with >1 member: (fingerprint, n_dups,
    keep_id) — keeper is the min key, the rest are droppable."""
    fp = T.fingerprint(F.col(text_col))
    return (
        df.select(fp.alias("fingerprint"), F.col(key_col).alias("k"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("k").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dup_rows(df: DataFrame, text_col: str = "text",
                   key_col: str = "doc_id") -> DataFrame:
    """Rows to drop: every member of a dup group except the keeper."""
    groups = exact_dup_groups(df, text_col, key_col)
    fp = T.fingerprint(F.col(text_col))
    return (
        df.select(F.col(key_col), fp.alias("fingerprint"))
        .join(groups, "fingerprint", "inner")
        .filter(F.col(key_col) != F.col("keep_id"))
        .select(key_col, "fingerprint", "keep_id")
    )


def fingerprint_state(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The persistable exact-dedup corpus state: one row per DISTINCT
    content fingerprint (16-byte md5 of the normalized text). At
    100 TB this is the only artifact incremental dedup ever rereads —
    ~2% of the corpus bytes, and it grows by appending each batch's
    :func:`fingerprint_state` output (dedup of the state itself is a
    union+distinct of fingerprint-only frames)."""
    return df.select(
        T.fingerprint(F.col(text_col)).alias("fingerprint")
    ).distinct()


def exact_dedup_vs_state(
    cur: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: classify each NEW row against the
    persisted corpus fingerprint state — the continuous sibling of
    :func:`exact_dup_rows`, so validate-on-arrival never refingerprints
    yesterday's corpus. Per cur row: (key, fingerprint, decision)

    - ``dup_of_corpus`` — fingerprint already in ``state``
    - ``dup_in_batch``  — new to the corpus, but another row of THIS
      batch with the same fingerprint has a smaller key (first-kept,
      same keeper rule as :func:`exact_dup_groups`)
    - ``new``           — first sighting anywhere

    Plan: one hash-aggregate of cur's (fingerprint, min key) plus one
    left-semi-style join of cur's fingerprints against the state —
    both shuffle 16-byte keys only; the state never joins against row
    payloads. Rows whose decision is ``new`` are exactly what gets
    appended to the state for the next batch."""
    fp = T.fingerprint(F.col(text_col))
    keyed = cur.select(F.col(key_col), fp.alias("fingerprint"))
    keepers = keyed.groupBy("fingerprint").agg(
        F.min(key_col).alias("__keep")
    )
    in_state = state.select(
        F.col("fingerprint").alias("__sfp"), F.lit(True).alias("__seen")
    ).distinct()
    return (
        keyed.join(keepers, "fingerprint", "inner")
        .join(
            in_state, F.col("fingerprint") == F.col("__sfp"), "left_outer"
        )
        .select(
            key_col,
            "fingerprint",
            F.when(F.col("__seen"), F.lit("dup_of_corpus"))
            .when(F.col(key_col) != F.col("__keep"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# the one candidate join

def _side(df: DataFrame, s: str, keys=(), carry=()) -> DataFrame:
    """One pair side: ``id`` renamed ``s``, the bucket keys as they
    are, and each ``carry`` column this side has suffixed ``_s``."""
    return df.select(
        F.col("id").alias(s), *keys,
        *[F.col(c).alias(f"{c}_{s}") for c in carry if c in df.columns],
    )


def bucket_pairs(
    left: DataFrame, keys, right: DataFrame | None = None, carry=()
) -> DataFrame:
    """The candidate join behind every near-dup family, incremental
    decision, streaming screen and ANN probe: ``(a, b, <carry>_a,
    <carry>_b)``, one row per bucket the two ids share.

    ``left`` and ``right`` are ``(id, *keys, *carry)`` frames; a carry
    column only one side has is carried from that side alone. With
    ``right=None`` it is a self-join that keeps ``a < b``; otherwise it
    is a cross join (batch vs state, stream vs static, corpus vs
    queries) and the caller may pass ``F.broadcast(right)``.

    Repeats are NOT removed: a pair sharing several buckets (bands,
    blocks, probes) appears once per bucket, so pair outputs take
    ``.distinct()`` and best-per-row aggregates absorb the repeats in
    their ``min``/``max``. The join is an equi-join on bucket keys, so
    the shuffle is uniform unless one bucket holds a near-identical
    cluster (AQE skew-join splits it; :func:`band_bucket_skew` and
    :func:`semantic_cluster_skew` pre-flight it) — never all-pairs."""
    keys = list(keys)
    a = _side(left, "a", keys, carry)
    b = _side(left if right is None else right, "b", keys, carry)
    pairs = a.join(b, keys)
    if right is None:
        pairs = pairs.filter(F.col("a") < F.col("b"))
    return pairs.select(
        "a", "b", *a.columns[len(keys) + 1:], *b.columns[len(keys) + 1:]
    )


def _join_back(
    pairs: DataFrame, cols, left: DataFrame, right: DataFrame | None = None
) -> DataFrame:
    """Attach payload columns to deduplicated pairs: ``<col>_a`` from
    ``left`` by ``a``, ``<col>_b`` from ``right`` (default ``left``) by
    ``b`` — for payloads too wide to ride the bucket join once per
    shared bucket."""
    other = left if right is None else right
    return pairs.join(_side(left, "a", carry=cols), "a").join(
        _side(other, "b", carry=cols), "b"
    )


def _vs_state(
    ids: DataFrame, best_corpus: DataFrame, best_batch: DataFrame, is_dup
) -> DataFrame:
    """The one incremental decision: ``(id, decision, <best_corpus>,
    <best_batch>)`` for every batch ``id`` in ``ids``.

    ``best_corpus`` and ``best_batch`` are ``(id, best)`` frames: the
    best candidate score of a batch row against the persisted state,
    and against a SMALLER-keyed row of the same batch (the first-kept
    rule of :func:`exact_dedup_vs_state`). A row with no candidate gets
    NULL. ``is_dup`` maps a best-score Column to "is a duplicate".

    - ``dup_of_corpus`` — the corpus best is a duplicate
    - ``dup_in_batch``  — otherwise, the batch best is a duplicate
    - ``new``           — first sighting; exactly the rows appended to
      the state"""
    c, b = best_corpus.columns[1], best_batch.columns[1]
    return (
        ids.join(best_corpus, "id", "left")
        .join(best_batch, "id", "left")
        .select(
            "id",
            F.when(is_dup(F.col(c)), F.lit("dup_of_corpus"))
            .when(is_dup(F.col(b)), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("decision"),
            c,
            b,
        )
    )


# ---------------------------------------------------------------------------
# shingles + n-gram Jaccard

def _grams(toks: Column, n: int) -> Column:
    """Word n-grams (shared constructor: :func:`text.word_ngrams`)."""
    return T.word_ngrams(toks, n)


def shingle_col(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text, as an
    array column. Per-row ``array_distinct`` is O(m²) — use only on
    small/candidate sets; the corpus-scale path is
    :func:`shingle_terms` (distributed dedup)."""
    toks = T.tokens(T.normalize(text_col))
    return F.when(F.size(toks) >= n, F.array_distinct(_grams(toks, n))).otherwise(
        F.array().cast("array<string>")
    )


def shingle_terms(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """(id, g) shingle occurrences — the corpus-scale form.

    ``distinct=True`` dedups in a distributed hash-aggregate
    (map-side partial combine), not per row, so shingle construction
    stays O(tokens) per document. Pass ``distinct=False`` when the
    consumer is dup-insensitive (MinHash: min over a multiset equals
    min over its set) — that skips the dedup shuffle entirely."""
    toks = T.tokens(T.normalize(F.col(text_col)))
    ex = (
        df.select(F.col(key_col).alias("id"), toks.alias("t"))
        .filter(F.size("t") >= n)
        .select("id", F.explode(_grams(F.col("t"), n)).alias("g"))
    )
    return ex.distinct() if distinct else ex


def shingle_pairs(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """All candidate pairs with common-shingle counts:
    (a, b, common, na, nb). ``max_df`` drops stop-shingles before
    the self-join (essential at scale; None = keep all)."""
    ex = shingle_terms(df, n, text_col, key_col)
    counts = ex.groupBy("id").agg(F.count(F.lit(1)).alias("ns"))
    if max_df is not None:
        hot = ex.groupBy("g").count().filter(F.col("count") > max_df).select("g")
        ex = ex.join(F.broadcast(hot), "g", "left_anti")
    pairs = bucket_pairs(ex, ["g"]).groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common")
    )
    ca = counts.select(F.col("id").alias("a"), F.col("ns").alias("na"))
    cb = counts.select(F.col("id").alias("b"), F.col("ns").alias("nb"))
    return pairs.join(ca, "a").join(cb, "b")


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard ≥ threshold:
    (a, b, jaccard). Jaccard is an exact rational (int/int) —
    bit-identical across engines."""
    p = shingle_pairs(df, n, text_col, key_col, max_df)
    j = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    ).cast("double")
    return p.select("a", "b", j.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# MinHash + LSH

# Carter-Wegman universal hashing: one md5 per shingle yields two
# 32-bit values (h1, h2); the j-th min-wise permutation is
# (h1 + j*h2) mod MINHASH_P. One hash computation per shingle
# occurrence regardless of k, and plain integer math any SQL engine
# reproduces exactly.
MINHASH_P = 4294967311  # smallest prime > 2^32


def minhash_signatures(
    df: DataFrame,
    k: int = 16,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(id, s0..s{k-1}): MinHash signature columns.

    Plan shape (the scale path): materialize-shingles projection →
    explode → ONE hash-aggregate with k ``min`` columns. Partial
    (map-side) combine reduces each partition to one row per doc
    before the shuffle; no nested lambda re-evaluation."""
    ex = shingle_terms(df, n, text_col, key_col, distinct=False)
    # md5 materialized in its own projection: CollapseProject won't
    # inline a non-cheap expression into both substring uses, so the
    # digest is computed once per shingle, not twice
    hx = ex.select("id", F.md5("g").alias("hx"))
    h = hx.select(
        "id",
        F.conv(F.substring("hx", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("hx", 9, 8), 16, 10).cast("long").alias("h2"),
    )
    aggs = [
        F.min((F.col("h1") + j * F.col("h2")) % MINHASH_P).alias(f"s{j}")
        for j in range(k)
    ]
    return h.groupBy("id").agg(*aggs)


def _bands(frame: DataFrame, sig: list[Column], bands: int, rows: int) -> DataFrame:
    """Band rows: ``frame``'s columns plus ``(band, band_hash)``, one
    row per band — the one band builder of every MinHash path (batch,
    vs-state, streaming screen), so they cannot drift apart.
    ``band_hash`` is ``md5`` of the band's ``rows`` signature elements
    joined by ``','``. ``sig`` is the k signature element Columns:
    ``F.col(f"s{j}")`` over a signature frame, or
    ``F.element_at(arr, j + 1)`` over the row-local array form
    (:func:`with_minhash_signature`). A pure projection, so state
    bands never need storing."""
    return frame.select(
        "*",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[e.cast("string")
                                  for e in sig[b * rows:(b + 1) * rows]],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ),
    )


def _sig_cols(k: int) -> list[Column]:
    return [F.col(f"s{j}") for j in range(k)]


def with_minhash_signature(
    df: DataFrame,
    k: int = 16,
    n: int = 3,
    text_col: str = "text",
    out_col: str = "__sig",
) -> DataFrame:
    """ROW-LOCAL minhash signature as an ``array<long>`` column —
    no explode, no aggregate, so it works on STREAMING frames (the
    batch :func:`minhash_signatures` is an explode + hash-aggregate,
    which a stream cannot run per-row). The md5 digest is computed
    once per shingle in its own projection (CollapseProject keeps a
    non-cheap expression referenced k times from inlining), then the
    k min-hash folds are cheap integer ``transform``/``array_min``
    passes. ``out_col`` is NULL for documents too short to shingle —
    identical membership to the aggregate path."""
    # tokens are materialized as their OWN column before the gram
    # transform: word_ngrams' lambda reads the token array n times per
    # element via F.get, and lambda-containing expressions skip
    # subexpression elimination — an inline tokens(normalize(text))
    # there re-runs the whole regex pipeline PER GET (measured ~9 ms/
    # doc at sf0.1, ~100× the intended cost). An attribute reference
    # is also exactly what the batch path (shingle_terms) reads.
    d0 = df.withColumn("__mh_toks", T.tokens(T.normalize(F.col(text_col))))
    # no array_distinct: min over a multiset equals min over its set
    # (the shingle_terms(distinct=False) reasoning), and per-row
    # distinct is O(m²)
    grams = F.when(
        F.size("__mh_toks") >= n, _grams(F.col("__mh_toks"), n)
    ).otherwise(F.array().cast("array<string>"))
    d0 = d0.withColumn("__mh_grams", grams).drop("__mh_toks")
    # md5 once per shingle in its OWN transform: a single lambda
    # computing both h1 and h2 from md5(g) would evaluate the digest
    # twice (subexpression elimination skips expressions referencing
    # lambda variables); slicing a precomputed digest is cheap
    digests = F.transform(F.col("__mh_grams"), lambda g: F.md5(g))
    hs = F.transform(
        digests,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    d = d0.withColumn("__mh_hs", hs).drop("__mh_grams")
    # ALL k minimums in ONE aggregate fold that references the digest
    # array exactly once. The k-separate-transforms alternative
    # (array_min per hash) reads __mh_hs k times, and CollapseProject
    # inlines the whole tokens→grams→md5 chain into EVERY reference —
    # measured 16× recompute (21 s for 2.5k docs at sf0.1; this shape
    # runs in ~2 s). The fold keeps a length-k running-minimum array:
    # one md5 chain evaluation per shingle, k cheap `least` ops each.
    init = F.array(*[F.lit(MINHASH_P).cast("long") for _ in range(k)])

    def _step(acc: Column, s: Column) -> Column:
        return F.array(
            *[
                F.least(
                    F.element_at(acc, j + 1),
                    (s["h1"] + F.lit(j) * s["h2"]) % MINHASH_P,
                )
                for j in range(k)
            ]
        )

    sig = F.aggregate(F.col("__mh_hs"), init, _step)
    return d.withColumn(
        out_col,
        F.when(F.size("__mh_hs") > 0, sig),
    ).drop("__mh_hs")


def minhash_bands(
    df: DataFrame,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """One row per (doc, band): (id, band, band_hash). k = bands*rows."""
    sig = minhash_signatures(df, bands * rows, n, text_col, key_col)
    return _bands(sig, _sig_cols(bands * rows), bands, rows).select(
        "id", "band", "band_hash"
    )


def lsh_candidates(
    df: DataFrame,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Distinct candidate pairs (a, b) sharing ≥1 LSH band bucket.
    The bucket join is on (band, band_hash) — a pre-hashed key, so
    the shuffle is uniform unless many docs are near-identical; AQE
    skew-join splits those buckets."""
    # persist the banded signatures: both sides of the self-join read
    # them, and without materialization the whole shingle→md5→minhash
    # aggregation pipeline runs twice (alias-renamed subtrees defeat
    # ReuseExchange). Candidates are materialized eagerly as a LOCAL
    # CHECKPOINT so the (corpus × bands)-sized cache can be RELEASED
    # here — and unlike an explicit persist(), checkpoint blocks are
    # reclaimed by Spark's ContextCleaner once the returned frame is
    # unreferenced, so repeated calls in a long-lived session (e.g.
    # curation over many corpora) don't accumulate executor storage.
    b = minhash_bands(df, bands, rows, n, text_col, key_col).persist()
    out = (
        bucket_pairs(b, ["band", "band_hash"])
        .distinct()
        .localCheckpoint(eager=True)
    )
    b.unpersist()
    return out


def minhash_state(
    df: DataFrame,
    k: int = 16,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """The persistable NEAR-dup corpus state: one (id, s0..s{k-1})
    MinHash signature row per document — the near-dup sibling of
    :func:`fingerprint_state`. k·8 bytes per doc, independent of
    document size, and band rows are a pure projection of it
    (:func:`_bands`), so the state is the only artifact
    incremental near-dup ever rereads. It grows by appending each
    batch's ``new`` decisions' signatures."""
    return minhash_signatures(df, k, n, text_col, key_col)


def minhash_dedup_vs_state(
    cur: DataFrame,
    state: DataFrame,
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup dedup: classify each batch document
    against the persisted signature state WITHOUT touching yesterday's
    corpus text — the continuous sibling of :func:`minhash_lsh_dedup`
    for validate-on-arrival pipelines. Per batch row:
    ``(id, decision, est_corpus, est_batch)``

    - ``dup_of_corpus`` — estimated Jaccard (matching-signature-
      component fraction, resolution 1/k) ≥ ``threshold`` vs some
      state doc
    - ``dup_in_batch``  — not a corpus dup, but ≥ threshold vs a
      SMALLER-keyed batch doc (first-kept rule, matching
      :func:`exact_dedup_vs_state`)
    - ``new``           — first sighting anywhere; exactly the rows
      whose signatures get appended to the state

    ``est_corpus`` / ``est_batch`` are the best estimates over the
    LSH candidates on each side (NULL when no candidate shared a
    band). Verification is signature-estimated on BOTH sides by
    design: the state carries no text, so the corpus side cannot be
    exact-verified, and using one metric keeps the two decisions
    comparable. Candidate generation is the usual banded equi-join —
    batch bands vs state bands (shuffle on pre-hashed keys; AQE
    splits hot buckets), batch-internal self-join — never all-pairs.
    Short documents (< n tokens, no shingles) have no signature and
    are always ``new``.
    """
    k = bands * rows
    names = [f"s{j}" for j in range(k)]
    bsig = minhash_signatures(cur, k, n, text_col, key_col).persist()
    bb = _bands(bsig, _sig_cols(k), bands, rows)
    est = sum(
        F.when(F.col(f"{s}_a") == F.col(f"{s}_b"), 1).otherwise(0)
        for s in names
    ) / F.lit(float(k))

    def best(pairs: DataFrame, right: DataFrame, side: str, name: str):
        return (
            _join_back(pairs.distinct(), names, bsig, right)
            .groupBy(F.col(side).alias("id"))
            .agg(F.max(est).alias(name))
        )

    stb = _bands(state, _sig_cols(k), bands, rows)
    out = (
        _vs_state(
            cur.select(F.col(key_col).alias("id")),
            best(bucket_pairs(bb, ["band", "band_hash"], stb), state, "a",
                 "est_corpus"),
            best(bucket_pairs(bb, ["band", "band_hash"]), bsig, "b",
                 "est_batch"),
            lambda e: e >= threshold,
        )
        .select(
            "id",
            "decision",
            F.round("est_corpus", 6).alias("est_corpus"),
            F.round("est_batch", 6).alias("est_batch"),
        )
        .localCheckpoint(eager=True)
    )
    bsig.unpersist()
    return out


def band_bucket_skew(
    df: DataFrame,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    top: int = 10,
) -> DataFrame:
    """The LSH pre-flight: the ``top`` largest band buckets, with the
    candidate-pair count each one alone would contribute
    (``n·(n−1)/2``). The bucket join's cost driver is exactly these
    buckets — a corpus of near-identical boilerplate puts thousands
    of docs in one bucket and the "never all-pairs" guarantee
    degrades to all-pairs WITHIN it. Run this before a large dedup:
    a top bucket of 10⁵ docs says "exact-dedup the boilerplate
    first" (or raise `rows` per band) before paying 10¹⁰ candidate
    verifications. One aggregate + TakeOrdered (never a global
    sort); deterministic (count desc, band, band_hash) order."""
    b = minhash_bands(df, bands, rows, n, text_col, key_col)
    return _bucket_skew(b, ["band", "band_hash"], top)


def _bucket_skew(keyed: DataFrame, keys: list[str], top: int) -> DataFrame:
    """The ``top`` most-occupied buckets of a keyed frame with the
    candidate pairs each alone adds to :func:`bucket_pairs`
    (``n·(n−1)/2``): ``(*keys, n_docs, est_pairs)`` in (n_docs desc,
    keys asc) order. One aggregate + TakeOrderedAndProject, never a
    global sort."""
    counts = keyed.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        counts.orderBy(F.col("n_docs").desc(), *[F.col(k).asc() for k in keys])
        .limit(top)
        .select(
            *keys,
            "n_docs",
            (F.col("n_docs") * (F.col("n_docs") - 1) / 2)
            .cast("long")
            .alias("est_pairs"),
        )
    )


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold:
    (a, b, jaccard). The verification join touches only candidate
    docs (semi-join pushdown), never the full corpus.

    ``parallelism``: repartition the corpus before shingling. Scan
    parallelism is bounded by parquet row-group layout; on few-row-
    group sources the shingle+md5 projection (the CPU-heavy stage)
    would run on a handful of tasks. At production scale (row groups
    ≫ cores) leave it None."""
    if parallelism:
        df = df.repartition(parallelism)
    # candidate pairs are tiny (near-dup rate << corpus) and arrive
    # already persisted + materialized from lsh_candidates, so the
    # LSH banding pipeline runs once, not once per downstream use
    cand = lsh_candidates(df, bands, rows, n, text_col, key_col)
    # restrict shingle-array construction to candidate docs BEFORE
    # computing the arrays: a semi-join prunes the corpus, so the
    # O(m²) array_distinct runs on candidates only.
    ids = (
        cand.select(F.col("a").alias("cid"))
        .unionByName(cand.select(F.col("b").alias("cid")))
        .distinct()
    )
    # the checkpointed candidates report an unknown size, so the
    # planner never broadcasts them by itself, and AQE only does so
    # after planning a sort-merge join that shuffles the corpus text.
    # Broadcast when at most 2·|cand| ids fit under Spark's own
    # threshold (counting the materialized candidates is one cheap job)
    if _fits_broadcast(ids, 2 * cand.count()):
        ids = F.broadcast(ids)
    sh = (
        df.join(ids, F.col(key_col) == F.col("cid"), "left_semi")
        .select(F.col(key_col).alias("id"), shingle_col(F.col(text_col), n).alias("sh"))
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    j = common.cast("double") / union.cast("double")
    return _join_back(cand, ["sh"], sh).select(
        "a", "b", j.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _fits_broadcast(df: DataFrame, n_rows: int) -> bool:
    """Whether ``n_rows`` rows of the one-column ``df`` fit under
    ``spark.sql.autoBroadcastJoinThreshold`` (-1 disables), sized the
    way the planner sizes them: rows × the column type's
    ``defaultSize``."""
    limit = (
        df.sparkSession._jsparkSession.sessionState()
        .conf().autoBroadcastJoinThreshold()
    )
    width = df._jdf.schema().apply(0).dataType().defaultSize()
    return 0 <= n_rows * width <= limit


# ---------------------------------------------------------------------------
# SimHash

def simhash(
    df: DataFrame,
    bits: int = 32,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-doc SimHash over distinct normalized tokens: bit i of the
    signature is the majority vote of bit i of md5(token). One
    explode + one groupBy (partial combine applies); ``bits ≤ 32``
    reads the first 8 hex chars of the md5.

    Returns (id, simhash) with the signature as a non-negative long.
    """
    if not 1 <= bits <= 32:
        # 8 hex chars hold 32 bits: higher bits would silently read 0
        raise ValueError(f"simhash needs 1 <= bits <= 32, got {bits}")
    toks = F.array_distinct(T.tokens(T.normalize(F.col(text_col))))
    ex = df.select(F.col(key_col).alias("id"), F.explode(toks).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    ex = ex.select("id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy("id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return agg.select("id", sig.alias("simhash"))


def _hamming_blocks(sig: DataFrame, max_hamming: int, bits: int) -> DataFrame:
    """Pigeonhole block rows: ``sig``'s columns (``id``, ``sig``, …)
    plus ``(blk, val)``, one row per block — the one block builder of
    every Hamming path (pairs, vs-state, streaming screen).

    The signature splits into ``max_hamming + 1`` blocks of
    ``bits // (max_hamming + 1)`` bits. Any pair within the Hamming
    radius agrees exactly on ≥1 block (pigeonhole), so candidates come
    from an equi-join on ``(blk, val)`` and the popcount distance
    verifies them. When ``bits`` is not divisible by h+1 the top
    ``bits mod (h+1)`` bits are left out of every block key — recall is
    unaffected (an uncovered differing bit never breaks a block
    agreement; ≤h covered diffs still leave ≥1 clean block) but
    buckets are slightly coarser. A NULL signature gets NULL blocks
    and so never a candidate. ``max_hamming`` ≥ ``bits`` would make
    width 0 and degrade the join to all-pairs, so it is rejected."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    nblocks = max_hamming + 1
    width = bits // nblocks
    if width < 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs {nblocks} blocks over "
            f"{bits} signature bits — width 0 would put every row in "
            "one bucket (an all-pairs join); lower max_hamming or use "
            "a wider signature"
        )
    return sig.select(
        "*",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sig"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for i in range(nblocks)
                ]
            )
        ),
    )


def _hamming() -> Column:
    """Popcount distance of a pair's ``sig_a`` and ``sig_b``."""
    return F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))


def hamming_block_pairs(
    sig: DataFrame, max_hamming: int, bits: int
) -> DataFrame:
    """Pairs with Hamming distance ≤ ``max_hamming`` over a signature
    frame (id, sig) — the shared engine behind SimHash text dedup and
    phash image dedup: :func:`_hamming_blocks` keys, one
    :func:`bucket_pairs` self-join (explode ×(h+1), never all-pairs),
    then the exact popcount distance."""
    e = _hamming_blocks(sig, max_hamming, bits)
    return (
        bucket_pairs(e, ["blk", "val"], carry=["sig"])
        .distinct()
        .select("a", "b", _hamming().alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming
    (:func:`hamming_block_pairs` over :func:`simhash` signatures)."""
    s = simhash(df, bits, text_col, key_col).withColumnRenamed(
        "simhash", "sig"
    )
    return hamming_block_pairs(s, max_hamming, bits)


def phash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 4,
    bits: int = 64,
    hash_col: str = "phash",
    key_col: str = "image_id",
) -> DataFrame:
    """IMAGE near-dup pairs by perceptual-hash Hamming distance —
    the phash twin of SimHash text dedup (north-star uniqueness /
    near-dup on phash at 10^12-image scale). The hash is a
    precomputed column (the engine's own phash recompute lives in
    checks/image.py); candidates come from the pigeonhole block join,
    never all-pairs."""
    s = df.select(
        F.col(key_col).alias("id"), F.col(hash_col).cast("long").alias("sig")
    )
    return hamming_block_pairs(s, max_hamming, bits)


def hamming_neardup_vs_state(
    batch_sig: DataFrame,
    state_sig: DataFrame,
    max_hamming: int,
    bits: int,
) -> DataFrame:
    """Incremental Hamming near-dup: classify each batch signature
    row (id, sig) against the persisted state's (id, sig) rows —
    the pigeonhole sibling of :func:`minhash_dedup_vs_state`, shared
    by phash image dedup and SimHash text dedup. Per batch row:
    ``(id, decision, best_corpus, best_batch)`` where the bests are
    the minimum Hamming distance over candidates on each side (NULL
    when no candidate shared a block).

    - ``dup_of_corpus`` — some state signature within ``max_hamming``
    - ``dup_in_batch``  — not a corpus dup, but within range of a
      SMALLER-keyed batch row (first-kept rule)
    - ``new``           — first sighting; exactly the rows appended
      to the state (the state is just (id, sig) — 16 bytes/image)

    Candidates come from block equi-joins on both sides — never
    all-pairs; the pigeonhole guarantee (≥1 agreeing block within the
    radius) makes the minimum over candidates the TRUE minimum
    whenever it is ≤ ``max_hamming``, so decisions are exact."""
    bb = _hamming_blocks(batch_sig, max_hamming, bits)
    sb = _hamming_blocks(state_sig, max_hamming, bits)

    def best(pairs: DataFrame, side: str, name: str) -> DataFrame:
        return pairs.groupBy(F.col(side).alias("id")).agg(
            F.min(_hamming()).cast("long").alias(name)
        )

    return _vs_state(
        batch_sig.select("id"),
        best(bucket_pairs(bb, ["blk", "val"], sb, ["sig"]), "a", "best_corpus"),
        best(bucket_pairs(bb, ["blk", "val"], carry=["sig"]), "b", "best_batch"),
        lambda h: h <= max_hamming,
    )


def phash_neardup_vs_state(
    df: DataFrame,
    state: DataFrame,
    max_hamming: int = 4,
    bits: int = 64,
    hash_col: str = "phash",
    key_col: str = "image_id",
) -> DataFrame:
    """Incremental IMAGE near-dup: arriving images classified against
    the persisted (id, phash) state — validate-on-arrival for the
    10¹²-image corpus, where re-pairing yesterday's corpus per batch
    (the :func:`phash_neardup_pairs` shape) would rescan everything.
    The state is the phash column itself: 16 bytes/image, no decode
    ever re-runs."""
    b = df.select(
        F.col(key_col).alias("id"), F.col(hash_col).cast("long").alias("sig")
    )
    return hamming_neardup_vs_state(b, state, max_hamming, bits)


# ---------------------------------------------------------------------------
# clusters: pairs → connected components → keeper per component

def dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs (a, b) →
    (id, cluster_id) with ``cluster_id`` = min id in the component.

    Min-label propagation with pointer jumping: each round every node
    adopts the smallest label among (itself, its neighbors, its
    label's label). The pointer-jump step halves remaining path
    lengths, so convergence is O(log diameter) — a pathological
    10^6-node chain component finishes in ~20 rounds instead of 10^6.
    The edge set is the LSH output — orders of magnitude smaller than
    the corpus — so each round is a small self-join, not a
    corpus-scale shuffle.

    Every round's labels are ``localCheckpoint``-ed (eager): the
    logical plan is truncated to the materialized RDD, so plan depth
    stays O(1) instead of nesting ``max_iters`` joins and blowing up
    the optimizer on big components. Convergence is probed with a
    single aggregate count on the label diff.
    """
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("x").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neigh_min = (
            edges.join(labels, edges.y == labels.id)
            .groupBy("x")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        stepped = labels.join(
            neigh_min, labels.id == neigh_min.x, "left"
        ).select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce("nmin", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer jump: label ← label(label) — every cluster_id is a
        # node id in the same component, so the lookup is a self-join
        hop = stepped.select(
            F.col("id").alias("pid"), F.col("cluster_id").alias("plabel")
        )
        jumped = stepped.join(
            hop, stepped.cluster_id == hop.pid, "left"
        ).select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce("plabel", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_decisions(pairs: DataFrame) -> DataFrame:
    """(id, cluster_id, keep): keeper = min id per component, every
    other member marked for drop — the final output a dedup pipeline
    feeds to the filter stage."""
    labels = dup_clusters(pairs)
    return labels.select(
        "id", "cluster_id", (F.col("id") == F.col("cluster_id")).alias("keep")
    )


def dedup_decisions_by_score(
    pairs: DataFrame,
    scores: DataFrame,
    key_col: str = "doc_id",
    score_col: str = "score",
    descending: bool = True,
) -> DataFrame:
    """Keeper by QUALITY instead of by id: within each duplicate
    component keep the member with the best ``score_col`` (longest
    text, highest quality-classifier score, newest crawl — whatever
    the pipeline ranks by), ties and NULL scores falling back to the
    smaller id. :func:`dedup_decisions`' min-id keeper is arbitrary —
    when copies DIFFER (truncated mirror vs full article), arbitrary
    keeps the truncated one half the time; this variant feeds the
    filter stage the best copy. Returns ``(id, cluster_id, score,
    keep)`` for clustered documents only (singletons implicitly
    keep).

    Scale shape: components via the same O(log diameter)
    pointer-jumping labels; ``scores`` joins the LABELS frame
    (duplicate members only, pairs-sized) on an id equi-join — the
    corpus-sized score frame is filtered by the join, never
    shuffled whole; keeper rank is a per-component window over
    component-sized groups."""
    from pyspark.sql import Window

    labels = dup_clusters(pairs)
    s = scores.select(
        F.col(key_col).alias("id"),
        F.col(score_col).cast("double").alias("score"),
    )
    j = labels.join(s, "id", "left")
    order = (
        F.col("score").desc_nulls_last()
        if descending
        else F.col("score").asc_nulls_last()
    )
    w = Window.partitionBy("cluster_id").orderBy(order, F.col("id").asc())
    return j.select(
        "id",
        "cluster_id",
        "score",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def cluster_weights(pairs: DataFrame) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates, weight every
    member of a duplicate cluster by ``1 / cluster_size`` so the
    cluster contributes one document's worth of training mass in
    total — the standard alternative when hard dropping loses
    legitimate variation (boilerplate templates with distinct
    payloads, translations). Returns ``(id, cluster_id, cluster_size,
    weight)`` for clustered documents only; unclustered documents are
    implicitly weight 1.0 (left-join this frame and coalesce).

    Same scale shape as :func:`dedup_decisions`: pointer-jump
    components over the sketch-sized pairs frame, one cluster-size
    aggregate, one join back — everything downstream of the pairs is
    cluster-count-sized."""
    labels = dup_clusters(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "cluster_id").select(
        "id",
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )


# ---------------------------------------------------------------------------
# embedding near-dup

def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """All pairs with cosine ≥ threshold: (a, b, cosine). Exact
    all-pairs — correct but quadratic; the LSH path in
    :mod:`similarity` is the 100 TB route. Norms are precomputed so
    the cross join multiplies normalized vectors only."""
    v = similarity.with_norm(df, vec_col, key_col)
    a = v.select(F.col("id").alias("a"), F.col("nv").alias("va"))
    b = v.select(F.col("id").alias("b"), F.col("nv").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    cos = similarity.dot(F.col("va"), F.col("vb"))
    return pairs.select("a", "b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def neardup_planes(dim: int, planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from md5 — no
    RNG state, so any engine (or the DuckDB oracle) can re-derive the
    identical index. Component (p, i) is md5("hp-p-i")'s first 32
    bits mapped to [-1, 1)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp-{p}-{i}".encode()).hexdigest()[:8], 16)
            / 2147483648.0
            - 1.0
            for i in range(dim)
        ]
        for p in range(planes)
    ]


def embedding_neardup_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Scale-shaped embedding near-dup: (a, b, cosine) with cosine ≥
    threshold, found via random-hyperplane LSH buckets instead of the
    quadratic all-pairs join. Pass ``dim`` (the vector width) to keep
    the builder action-free; otherwise one ``first()`` probes it.

    Plan shape (the 100 TB route): one projection computes each
    vector's sign-pattern bucket code; candidates are an EQUI-join on
    the code (side A exploded to its own code plus every code within
    Hamming distance ``probe_hamming`` — multi-probe recall boost);
    only candidate pairs get the exact cosine verification, via two
    key-joins against the normalized vectors. No cartesian product
    anywhere — tests assert the plan. Recall < 1 by construction
    (pairs whose codes differ in > probe_hamming bits are missed);
    :func:`embedding_neardup` is the exact small-corpus oracle.

    Hyperplanes come from :func:`neardup_planes` (md5-derived), so
    the whole pipeline — bucketing included — is reproducible in the
    DuckDB oracle; the sign tests and the cosine use the same strict
    left-fold dot product as :mod:`similarity`.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    v = similarity.with_norm(df, vec_col, key_col)
    coded = v.select(
        "id", similarity.lsh_bucket(F.col("nv"), neardup_planes(dim, planes))
        .alias("code")
    )
    probed = coded.select(
        "id",
        F.explode(
            similarity._probe_codes(F.col("code"), planes, probe_hamming)
        ).alias("code"),
    )
    cand = (
        bucket_pairs(probed, ["code"], coded)
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    cos = similarity.dot(F.col("nv_a"), F.col("nv_b"))
    return _join_back(cand, ["nv"], v).select(
        "a", "b", cos.alias("cosine")
    ).filter(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# span-level duplication (substring-dedup signal)


def dup_span_stats(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_df: int = 2,
    coverage_threshold: float = 0.5,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Span-level (substring) duplication profile per document — the
    gram-granular approximation of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022): a token position is *duplicated* when the word
    ``n``-gram starting there also occurs in at least ``min_df - 1``
    OTHER documents, and a document is ``flagged`` when the merged
    token span covered by duplicated grams reaches
    ``coverage_threshold`` of its tokens. Within-doc repetition does
    NOT count (that is :func:`~invalid_spark.pipeline.text.
    repetition_features`); doc frequency is over distinct documents.

    Returns one row per input row: (id, n_tokens, n_positions,
    n_dup_positions, covered_tokens, coverage_frac, flagged), then
    ``keep_cols`` (source columns carried onto each row).

    Scale shape: one positional explode (linear in corpus tokens), a
    distinct + hash-aggregate keyed by gram for doc frequency (the
    same key distribution the Jaccard/minhash shuffles already
    handle), an inner shuffle join of positions against the
    duplicated-gram set, and the interval-union per doc via one
    window over positions (sorted within a doc, no self-join). No
    all-pairs stage anywhere; the window partitions by doc id, so
    skew is bounded by the longest single document.

    A document is the pair (``key_col``, text): rows that share a key
    but not their text stay separate documents, so no row's covered
    span exceeds its own tokens. Frames carry the md5 of the text
    (``h``) in its place.
    """
    from pyspark.sql import Window

    toks = T.tokens(T.normalize(F.col(text_col)))
    keep = list(keep_cols or [])
    doc = ["id", "h"]
    base = df.select(
        F.col(key_col).alias("id"),
        F.md5(F.col(text_col).cast("string")).alias("h"),
        toks.alias("t"),
        *keep,
    )
    pos = (
        base.filter(F.size("t") >= n)
        .select(*doc, F.posexplode(_grams(F.col("t"), n)).alias("i", "g"))
    )
    dupg = (
        pos.select(*doc, "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("g")
    )
    dp = pos.join(dupg, "g").select(*doc, "i")
    w = (
        Window.partitionBy(*doc)
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("i") + n).over(w)
    contrib = F.greatest(
        F.lit(0),
        (F.col("i") + n)
        - F.greatest(F.col("i"), F.coalesce(prev_end, F.col("i"))),
    )
    agg = (
        dp.select(*doc, "i", contrib.alias("c"))
        .groupBy(*doc)
        .agg(
            F.countDistinct("i").cast("long").alias("n_dup_positions"),
            F.sum("c").cast("long").alias("covered_tokens"),
        )
    )
    tot = base.select(
        *doc,
        F.size("t").cast("long").alias("n_tokens"),
        F.greatest(F.lit(0), F.size("t") - n + 1)
        .cast("long")
        .alias("n_positions"),
        *keep,
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        F.col("covered_tokens").cast("double") / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    return (
        tot.join(agg, doc, "left")
        .withColumn(
            "n_dup_positions",
            F.coalesce("n_dup_positions", F.lit(0)).cast("long"),
        )
        .withColumn(
            "covered_tokens",
            F.coalesce("covered_tokens", F.lit(0)).cast("long"),
        )
        .select(
            "id",
            "n_tokens",
            "n_positions",
            "n_dup_positions",
            "covered_tokens",
            F.round(frac, 6).alias("coverage_frac"),
            (frac >= coverage_threshold).alias("flagged"),
            *keep,
        )
    )


def dup_span_violations(
    df: DataFrame,
    col: str,
    row_key: str,
    run_id: str = "",
    n: int = 3,
    max_coverage: float = 0.5,
    min_df: int = 2,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """``$dupspan`` rule evaluation: VIOLATION_SCHEMA rows for every
    document whose duplicated-span coverage (:func:`dup_span_stats`)
    reaches ``max_coverage``. Whole-table semantics like ``$unique``
    — a span duplicated across two work units is invisible per-batch
    — so the runner gives it its own resumable global unit.
    ``keep_cols``: source columns carried onto every violation row."""
    from invalid_spark.model import ErrorType, as_violations

    keep = list(keep_cols or [])
    flagged = dup_span_stats(
        df.select(
            row_key, col, F.spark_partition_id().alias("partition_id"), *keep
        ),
        n=n, text_col=col, key_col=row_key, min_df=min_df,
        coverage_threshold=max_coverage, keep_cols=["partition_id", *keep],
    ).filter(F.col("flagged"))
    return as_violations(
        flagged, "id", col, col, ErrorType.DUPSPAN_MISMATCH,
        f"duplicated {n}-gram spans in [{col}] must cover "
        f"< {max_coverage} of tokens",
        F.col("coverage_frac"), run_id, keep,
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)


def _semantic_assigned(
    df: DataFrame,
    centroids,
    vec_col: str,
    key_col: str,
) -> DataFrame:
    """(id, nv, cluster): every vector unit-normalized and assigned to
    its nearest coarse centroid — ONE Arrow-batched matmul pass
    against the ``sc.broadcast`` numpy codebook
    (:func:`similarity.nearest_lists_udf` with nprobe=1), lazily
    localCheckpoint-ed so the self-join downstream reuses the
    materialized assignment instead of running the UDF once per join
    side."""
    spark = df.sparkSession
    nearest = similarity.nearest_lists_udf(spark, centroids, 1)
    v = similarity.with_norm(df, vec_col, key_col)
    return v.select(
        "id", "nv", nearest(F.col("nv")).getItem(0).alias("cluster")
    ).localCheckpoint(eager=False)


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    centroids=None,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    semantic duplicates are pairs whose EMBEDDING cosine clears
    ``threshold``, found by clustering the embedding space first and
    comparing only within clusters — the published recipe for
    semantic dedup at LAION/web scale, and the semantic sibling of
    the lexical MinHash path.

    Plan shape (the 100 TB route): one Arrow-batched assignment pass
    against a broadcast codebook (exactly the IVF coarse quantizer),
    then an EQUI-join on the cluster id with ``a < b`` and the exact
    cosine verify — never an all-pairs cartesian. Per-cluster cost is
    quadratic in the cluster size, so size ``n_lists`` ~ sqrt(corpus)
    like IVF (expected cluster ~ sqrt(N)); a boilerplate-heavy hot
    cluster is the same failure mode :func:`band_bucket_skew`
    pre-flights for LSH — one ``groupBy(cluster).count()`` over the
    assignment frame predicts it before any pairs are generated, and
    AQE skew-join splits what remains.

    With the default md5-derived codebook
    (:func:`similarity.ivf_md5_centroids`) the whole pipeline —
    codebook, assignment ties, cosine — is bit-replayable in the
    DuckDB oracle via the same strict-left-fold dot products; pass a
    k-means codebook (:func:`similarity.ivf_centroids`) for recall.
    Recall < 1 by construction: a duplicate pair split across two
    clusters is missed (the paper accepts the same miss).
    """
    centroids = similarity.semantic_codebook(
        df, centroids, n_lists, vec_col, key_col
    )
    return _semantic_pairs(
        _semantic_assigned(df, centroids, vec_col, key_col), threshold
    )


def _semantic_pairs(assigned: DataFrame, threshold: float) -> DataFrame:
    """(a, b, cluster, cosine): same-cluster pairs of an assignment
    frame with cosine ≥ ``threshold``."""
    cos = similarity.dot(F.col("nv_a"), F.col("nv_b"))
    return (
        bucket_pairs(assigned, ["cluster"], carry=["nv", "cluster"])
        .select("a", "b", F.col("cluster_a").alias("cluster"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    centroids=None,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup decisions: (id, cluster_id, centroid_sim, keep) for
    every member of a semantic-duplicate component (singletons are
    implicitly kept, the :func:`dedup_decisions` convention).

    Keeper choice follows the paper: within each duplicate component
    KEEP the member with the LOWEST cosine to its cluster centroid —
    the example farthest from the cluster's center of mass preserves
    the most diversity — ties broken toward the smaller id. Contrast
    :func:`dedup_decisions`' min-id keeper (lexical dedup, where
    members are near-identical and the choice is arbitrary).

    Everything after the pairs join is edge-frame-sized: components
    via the O(log diameter) pointer-jumping labels, centroid
    similarities via ONE broadcast join against the n_lists-row
    codebook frame (a Catalyst left-fold dot, the same IEEE op order
    as the assignment UDF, so the oracle replays it bit-exactly), and
    the keeper rank is a per-component window over component-sized
    groups."""
    from pyspark.sql import Window

    spark = df.sparkSession
    centroids = similarity.semantic_codebook(
        df, centroids, n_lists, vec_col, key_col
    )
    assigned = _semantic_assigned(df, centroids, vec_col, key_col)
    comp = dup_clusters(_semantic_pairs(assigned, threshold).select("a", "b"))
    cent_df = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, cvec array<double>",
    )
    sims = assigned.join(F.broadcast(cent_df), "cluster").select(
        "id",
        similarity.dot(F.col("nv"), F.col("cvec")).alias("centroid_sim"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("centroid_sim").asc(), F.col("id").asc()
    )
    return (
        comp.join(sims, "id")
        .select(
            "id",
            "cluster_id",
            "centroid_sim",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


def semantic_state(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """The persistable SEMANTIC-dedup corpus state: one (id, cluster,
    nv) row per document — cluster assignment plus the unit-normalized
    vector, dim·8+4 bytes/doc regardless of the source payload (for an
    image+caption corpus the state never rereads image bytes). The
    codebook is part of the state contract: persist ``centroids``
    alongside it and pass the SAME array to every
    :func:`semantic_dedup_vs_state` batch — re-deriving it from a
    batch would silently re-cluster the space and orphan the state.
    Zero-norm vectors are excluded (unscorable; ``$vector no_zero``
    flags them upstream)."""
    return _semantic_assigned(df, centroids, vec_col, key_col).select(
        "id", "cluster", "nv"
    )


def semantic_dedup_vs_state(
    cur: DataFrame,
    state: DataFrame,
    centroids,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Incremental SemDeDup: classify each batch document against the
    persisted semantic state without touching the prior corpus — the
    continuous sibling of :func:`semantic_dedup`, completing the
    incremental family (:func:`exact_dedup_vs_state` /
    :func:`minhash_dedup_vs_state` / :func:`phash_neardup_vs_state`).
    Per batch row: ``(id, decision, cos_corpus, cos_batch)``

    - ``dup_of_corpus`` — cosine ≥ ``threshold`` vs some state doc in
      the same cluster (EXACT, not estimated: the state carries the
      normalized vectors, unlike MinHash signatures)
    - ``dup_in_batch``  — not a corpus dup, but ≥ threshold vs a
      SMALLER-keyed batch doc in the same cluster (first-kept rule)
    - ``new``           — first sighting; exactly the rows whose
      :func:`semantic_state` rows get appended to the state

    ``cos_corpus`` / ``cos_batch`` are the max cosine over each side's
    candidates (NULL when none cleared the threshold). Both candidate
    joins are cluster-id equi-joins — batch assignment (one Arrow pass
    against the broadcast codebook) vs corpus state, and the batch
    self-join — so per-batch cost is |batch|·(cluster occupancy), never
    corpus-quadratic. Recall bound: a duplicate assigned to a different
    cluster than its twin is missed (the SemDeDup trade, same as the
    batch variant)."""
    b = _semantic_assigned(cur, centroids, vec_col, key_col)
    cos = similarity.dot(F.col("nv_a"), F.col("nv_b"))

    def best(pairs: DataFrame, side: str, name: str) -> DataFrame:
        return (
            pairs.select(F.col(side).alias("id"), cos.alias("c"))
            .filter(F.col("c") >= threshold)
            .groupBy("id")
            .agg(F.max("c").alias(name))
        )

    return _vs_state(
        b.select("id"),
        best(bucket_pairs(b, ["cluster"], state, ["nv"]), "a", "cos_corpus"),
        best(bucket_pairs(b, ["cluster"], carry=["nv"]), "b", "cos_batch"),
        lambda c: c.isNotNull(),
    )


def semantic_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    centroids,
    threshold: float = 0.95,
    nprobe: int = 2,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space train/eval contamination: flag every TRAIN
    document whose embedding cosine vs ANY eval-set embedding clears
    ``threshold`` — the semantic sibling of
    :func:`invalid_spark.pipeline.text.contamination_flags` (n-gram
    overlap misses paraphrased eval leakage; Yang et al. 2023,
    arXiv:2311.04850, found paraphrased benchmark contamination
    survives string dedup). Returns one row per train doc:
    ``(id, contaminated, max_cos_eval, n_eval_hits)``.

    Scale shape (the asymmetry is the design): the TRAIN side —
    the 10¹²-row side — is assigned to exactly ONE cluster per doc
    (one Arrow pass vs the broadcast codebook, never replicated);
    the EVAL side — benchmarks, thousands of rows — is probed into
    ``nprobe`` clusters (explode) and BROADCAST into the join, so
    recall improves by replicating the small side only and the train
    corpus never shuffles at all. Misses require the train doc's
    single assignment to fall outside all ``nprobe`` eval probes —
    raise ``nprobe`` for recall, cost grows only in the eval frame.
    ``centroids`` is required (not derived): contamination screens
    run per-batch against a FIXED eval set, and the codebook must be
    the one the eval probes were built with (the
    :func:`semantic_state` contract)."""
    spark = train.sparkSession
    t = _semantic_assigned(train, centroids, vec_col, key_col)
    nearest = similarity.nearest_lists_udf(spark, centroids, nprobe)
    ev = similarity.with_norm(eval_df, vec_col, key_col)
    ep = ev.select("id", "nv", F.explode(nearest(F.col("nv"))).alias("cluster"))
    hits = (
        bucket_pairs(t, ["cluster"], F.broadcast(ep), ["nv"])
        .select(
            F.col("a").alias("id"),
            similarity.dot(F.col("nv_a"), F.col("nv_b")).alias("c"),
        )
        .filter(F.col("c") >= threshold)
        .groupBy("id")
        .agg(
            F.max("c").alias("max_cos_eval"),
            F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
        )
    )
    return (
        t.select("id")
        .join(hits, "id", "left")
        .select(
            "id",
            F.col("max_cos_eval").isNotNull().alias("contaminated"),
            "max_cos_eval",
            F.coalesce("n_eval_hits", F.lit(0).cast("long")).alias(
                "n_eval_hits"
            ),
        )
    )


def semantic_cluster_skew(
    df: DataFrame,
    n_lists: int = 16,
    centroids=None,
    top: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """The SemDeDup pre-flight, mirroring :func:`band_bucket_skew`
    for the semantic path: the ``top`` most-occupied clusters with
    the in-cluster candidate-pair count each would contribute
    (``n·(n−1)/2``). :func:`semantic_dedup`'s cost driver is exactly
    these — per-cluster cost is quadratic, so one cluster holding
    10⁵ of 10⁸ docs costs 5·10⁹ cosine verifications on its own; the
    report says "raise ``n_lists``" (or k-means the codebook) BEFORE
    paying that. One aggregate + TakeOrderedAndProject (never a
    global sort); deterministic (n_docs desc, cluster asc) order."""
    centroids = similarity.semantic_codebook(
        df, centroids, n_lists, vec_col, key_col
    )
    a = _semantic_assigned(df, centroids, vec_col, key_col)
    return _bucket_skew(a, ["cluster"], top)
