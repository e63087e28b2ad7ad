"""Similarity search over an embedding column (array<float>).

- :func:`brute_topk` — exact cosine top-k: broadcast the (small)
  query set against the corpus, one windowed rank. The correctness
  baseline and the right plan whenever |queries| is broadcastable.
- :func:`lsh_ann` — random-hyperplane LSH: bucket the corpus by the
  sign pattern of ``planes`` fixed hyperplanes, search only the
  query's bucket. Linear build, per-query cost = bucket size. The
  100 TB path: buckets are the shuffle key, uniformly distributed
  by construction; recall tuned by ``planes`` (fewer planes = bigger
  buckets = higher recall) and multi-probe (``probe_hamming``).

All arithmetic is double-precision with a strict left-fold sum
(``F.aggregate``) so scores are deterministic for a given element
order. Hyperplanes are seeded (numpy default_rng) — the whole index
is reproducible.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Strict sequential dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def with_norm(df: DataFrame, vec_col: str, key_col: str) -> DataFrame:
    """(id, nv): unit-normalized double vector; zero vectors dropped."""
    v = as_double(F.col(vec_col))
    n = F.sqrt(dot(v, v))
    return (
        df.select(F.col(key_col).alias("id"), v.alias("v"), n.alias("n"))
        .filter(F.col("n") > 0)
        .select("id", F.transform("v", lambda x: x / F.col("n")).alias("nv"))
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, rank,
    cosine), scored with the strict left-fold (deterministic,
    oracle-reproducible). Ties broken by neighbor id; self-match
    excluded."""
    c = with_norm(corpus, vec_col, key_col)
    q = with_norm(queries, vec_col, key_col)
    pairs = c.crossJoin(
        F.broadcast(q.select(F.col("id").alias("qid"), F.col("nv").alias("qv")))
    ).filter(F.col("id") != F.col("qid"))
    return _topk(
        pairs.select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            dot(F.col("nv"), F.col("qv")).alias("cosine"),
        ),
        k,
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The k best ``(query_id, neighbor_id, cosine)`` rows per query,
    ties to the smaller neighbor id: (query_id, neighbor_id, rank,
    cosine)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _probe_topk(corpus: DataFrame, probes: DataFrame, key: str, k: int) -> DataFrame:
    """Top-k over a probe join: corpus rows ``(id, nv, key)`` against
    the BROADCAST query probe rows ``(id, nv, key)``, one
    :func:`~invalid_spark.pipeline.dedup.bucket_pairs` equi-join on the
    bucket ``key``, self-match excluded, exact cosine per distinct
    (query, neighbor) — a neighbor reached by several probes counts
    once."""
    from invalid_spark.pipeline.dedup import bucket_pairs

    cand = bucket_pairs(corpus, [key], F.broadcast(probes), ["nv"]).filter(
        F.col("a") != F.col("b")
    )
    scored = cand.select(
        F.col("b").alias("query_id"),
        F.col("a").alias("neighbor_id"),
        dot(F.col("nv_a"), F.col("nv_b")).alias("cosine"),
    ).distinct()
    return _topk(scored, k)


def hyperplanes(dim: int, planes: int, seed: int = 7) -> list[list[float]]:
    """Seeded Gaussian hyperplanes — the reproducible LSH index key."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim)).tolist()


def lsh_bucket(nv: Column, planes_arr: list[list[float]]) -> Column:
    """Sign-pattern bucket id of a normalized vector."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes_arr):
        pl = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(dot(nv, pl) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _probe_codes(code: Column, planes: int, hamming: int) -> Column:
    """Multi-probe: the array of ``code`` and every bucket code within
    Hamming distance ``hamming`` of it (C(planes, 0..h) probes — 9 at
    h=1 over 8 planes, 37 at h=2)."""
    probes = [code]
    for h in range(1, hamming + 1):
        for bits in itertools.combinations(range(planes), h):
            probes.append(code.bitwiseXOR(F.lit(sum(1 << p for p in bits))))
    return F.array(*probes)


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 4,
    probe_hamming: int = 1,
    seed: int = 7,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    plane_matrix: list[list[float]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: join queries to corpus buckets within
    Hamming distance ``probe_hamming`` of the query's bucket
    (multi-probe), rank by exact cosine inside the probed buckets.

    Plan shape: corpus bucketing is one projection; the probe join
    is an equi-join on bucket id (queries exploded ×(1+planes) for
    Hamming-1); ranking is a window over per-bucket candidates.

    ``plane_matrix`` overrides the seeded-numpy hyperplanes — pass
    :func:`invalid_spark.pipeline.dedup.neardup_planes` for an index
    any SQL engine can re-derive (the oracle-checked path).

    Pass ``dim`` (the embedding width) to keep the index build
    action-free; without it a one-row ``.first()`` probe derives it.
    """
    if dim is None and plane_matrix is None:
        dim = len(corpus.select(vec_col).first()[0])
    pl = plane_matrix if plane_matrix is not None else hyperplanes(
        dim, planes, seed
    )
    planes = len(pl)
    c = with_norm(corpus, vec_col, key_col).withColumn(
        "bucket", lsh_bucket(F.col("nv"), pl)
    )
    q = with_norm(queries, vec_col, key_col).withColumn(
        "bucket", lsh_bucket(F.col("nv"), pl)
    )
    # the query's own bucket + every bucket within probe_hamming
    q = q.select(
        "id", "nv",
        F.explode(_probe_codes(F.col("bucket"), planes, probe_hamming))
        .alias("bucket"),
    )
    return _probe_topk(c, q, "bucket", k)


def ivf_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    iters: int = 5,
    sample: int = 2048,
    seed: int = 7,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> np.ndarray:
    """IVF coarse quantizer: k-means centroids trained driver-side on
    a seeded sample (classic IVF builds its codebook on a sample —
    the corpus-scale work is only the assignment pass).

    The sample is collected to the driver, so ``sample`` × the vector
    width × 8 bytes must fit under ``spark.driver.maxResultSize`` (0
    means no limit); a larger sample raises ``ValueError`` before the
    collect. A one-row probe reads the vector width."""
    row = corpus.select(vec_col).first()
    dim = len(row[0]) if row and row[0] is not None else 0
    limit = corpus.sparkSession.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    if 0 < limit < sample * dim * 8:
        raise ValueError(
            f"ivf_centroids: sample={sample} vectors of width {dim} "
            f"({sample * dim * 8} bytes) exceed spark.driver.maxResultSize "
            f"({limit} bytes); lower sample"
        )
    rows = (
        with_norm(corpus, vec_col, key_col)
        .orderBy("id")
        .limit(sample)
        .collect()
    )
    x = np.array([r["nv"] for r in rows])
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_lists, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return cent


def ivf_md5_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> np.ndarray:
    """Codebook any SQL engine can re-derive (the oracle-checked IVF
    path, mirroring ``dedup.neardup_planes`` for LSH): the ``n_lists``
    corpus vectors with the smallest (md5-derived key, id), unit
    normalized, in that order — centroid index = rank. No RNG, no
    iteration: a deterministic sample codebook. Recall is below a
    k-means codebook's (``ivf_centroids`` remains the quality path);
    value-exactness of assignment/probe/ranking is what this buys."""
    nv = with_norm(corpus, vec_col, key_col)
    h = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    rows = (
        nv.select("id", "nv", h.alias("h"))
        .orderBy("h", "id")
        .limit(n_lists)
        .collect()
    )
    return np.array([r["nv"] for r in rows])


def semantic_codebook(
    corpus: DataFrame,
    centroids: "np.ndarray | None" = None,
    n_lists: int = 16,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> np.ndarray:
    """The SemDeDup codebook: ``centroids`` when the caller passes one,
    else the md5 default (:func:`ivf_md5_centroids`) of ``corpus``."""
    if centroids is not None:
        return centroids
    return ivf_md5_centroids(
        corpus, n_lists=n_lists, vec_col=vec_col, key_col=key_col
    )


def _nearest_lists_expr(nv: Column, cent: "np.ndarray", nprobe: int) -> Column:
    """Array of the nprobe centroid ids closest to the vector, as a
    pure Catalyst expression (one strict-left-fold dot per centroid
    embedded as literals). O(n_lists·dim) expression terms — fine for
    a handful of centroids, but at production IVF sizing (n_lists ~
    √N, thousands of lists) the expression tree and codegen blow up.
    Retained as the bit-parity reference for
    :func:`nearest_lists_udf`; :func:`ivf_ann` always uses the UDF."""
    sims = F.array(
        *[dot(nv, F.array(*[F.lit(float(v)) for v in c])) for c in cent]
    )
    idx = F.sequence(F.lit(0), F.lit(len(cent) - 1))
    pairs = F.arrays_zip(sims.alias("s"), idx.alias("i"))
    ordered = F.reverse(F.array_sort(pairs))
    return F.slice(F.transform(ordered, lambda p: p["i"]), 1, nprobe)


def nearest_lists_udf(spark, cent: "np.ndarray", nprobe: int):
    """Arrow-batched nearest-centroid assignment against a BROADCAST
    numpy codebook — the 100 TB shape: the codebook ships once per
    executor (``sc.broadcast``, not n_lists×dim literal expressions),
    and each Arrow batch scores against it with O(dim) vectorized
    numpy ops, so production IVF sizing (n_lists in the thousands)
    neither blows up the Catalyst expression tree nor pays
    O(n_lists·dim) scalar ops per row.

    Bit-parity contract (what keeps the ``ann_ivf_embeddings`` oracle
    green): similarities accumulate as a strict LEFT FOLD over
    dimensions — ``acc = (...(0 + x₀c₀) + x₁c₁...)`` — the exact IEEE
    op order of the :func:`dot` fold and the DuckDB oracle's
    ``list_reduce``; ties rank (sim DESC, cid DESC), matching
    ``F.reverse(F.array_sort(struct(s, i)))``. numpy's pairwise-sum
    ``@`` would be faster but last-ulp different; IVF assignment is
    a different plan, not different math.
    """
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(cent, dtype=np.float64)
    n_lists, dim = C.shape
    nprobe = min(nprobe, n_lists)
    bc = spark.sparkContext.broadcast(C)

    @pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        cb = bc.value
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.array(v.tolist(), dtype=np.float64)
        acc = np.zeros((x.shape[0], cb.shape[0]))
        for d in range(cb.shape[1]):  # strict left fold over dims
            acc = acc + x[:, d : d + 1] * cb[:, d]
        # (sim DESC, cid DESC): stable argsort of -sims over REVERSED
        # cid positions breaks float ties toward the larger cid
        rev = acc[:, ::-1]
        order = np.argsort(-rev, axis=1, kind="stable")[:, :nprobe]
        cids = (cb.shape[0] - 1) - order
        return pd.Series(list(cids.astype("int32")))

    return nearest


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: assign every corpus
    vector to its nearest coarse centroid (one Arrow-batched pass
    against the BROADCAST numpy codebook — see
    :func:`nearest_lists_udf`; never n_lists×dim literal
    expressions), then each query probes only its ``nprobe`` nearest
    lists. Recall/cost trade via nprobe; the assignment shuffle key
    is the list id, roughly uniform by k-means construction. The
    scale shape: build once, probe per query batch; production
    n_lists ~ √N (thousands of lists) only grows the broadcast, not
    the plan.

    ``centroids`` overrides the seeded k-means codebook — pass
    :func:`ivf_md5_centroids` for an index a SQL oracle can
    re-derive."""
    cent = centroids if centroids is not None else ivf_centroids(
        corpus, n_lists, seed=seed, vec_col=vec_col, key_col=key_col
    )
    # ONE udf (one codebook broadcast) serves both sides: the probe
    # list is ordered nearest-first, so element 0 is the assignment
    probe = nearest_lists_udf(corpus.sparkSession, cent, nprobe)
    c = with_norm(corpus, vec_col, key_col).withColumn(
        "list_id", probe(F.col("nv")).getItem(0)
    )
    q = with_norm(queries, vec_col, key_col).select(
        "id", "nv", F.explode(probe(F.col("nv"))).alias("list_id")
    )
    return _probe_topk(c, q, "list_id", k)


def ann_recall(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate ANN result against exact ground
    truth: per query, the fraction of the true top-k the approximate
    method returned. The standard acceptance gate for an LSH/IVF
    index before it replaces the brute-force path.

    Both inputs are ``(query_id, neighbor_id, ...)`` top-k frames —
    k·n_queries rows, sketch-sized by construction — so the semi-join
    and per-query aggregate are trivial at any corpus scale; the cost
    lives in producing the inputs. Queries the approximate method
    returned nothing for still appear (recall 0). The denominator is
    ``min(k, |truth rows for the query|)``: when the corpus holds
    fewer than k true neighbors (small corpus, truncated truth), a
    perfect index must read recall 1.0, not n/k.
    """
    t = truth.select("query_id", "neighbor_id")
    base = t.groupBy("query_id").agg(
        F.least(F.count(F.lit(1)), F.lit(k)).cast("long").alias("n_truth")
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(t, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0))
            / F.col("n_truth").cast("double"),
            6,
        ).alias("recall"),
    )


def ivf_tuning_report(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    seed: int = 7,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """The IVF acceptance curve: macro recall@k vs ``nprobe`` against
    brute-force ground truth — the sweep that picks the operating
    point before an index goes live. One row per probed width:
    ``(nprobe, macro_recall, n_queries)``.

    Cost shape: the expensive, nprobe-INDEPENDENT work happens once —
    corpus assignment is computed with a single Arrow pass and
    localCheckpointed; the probe lists are computed once at
    ``max(nprobes)`` and each narrower setting takes a PREFIX (the
    UDF returns lists nearest-first, so the prefix is exactly what
    ``ivf_ann`` at that nprobe would probe). Only the sketch-sized
    candidate joins and recall folds repeat per setting.
    """
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, n_lists, seed=seed, vec_col=vec_col,
                           key_col=key_col)
    )
    if max(nprobes) > len(cent):
        # the probe list clamps at the list count, so an oversized
        # setting would be silently MEASURED at fewer probes than its
        # label — a mislabeled acceptance curve is worse than an error
        raise ValueError(
            f"nprobe {max(nprobes)} exceeds the index's {len(cent)} "
            "lists; drop the oversized settings (their recall equals "
            f"nprobe={len(cent)})"
        )
    probe = nearest_lists_udf(corpus.sparkSession, cent, max(nprobes))
    c = (
        with_norm(corpus, vec_col, key_col)
        .withColumn("list_id", probe(F.col("nv")).getItem(0))
        .localCheckpoint(eager=True)
    )
    truth = brute_topk(corpus, queries, k).localCheckpoint(eager=True)
    qn = with_norm(queries, vec_col, key_col).select(
        "id", "nv", probe(F.col("nv")).alias("__probes"),
    ).localCheckpoint(eager=True)
    out = None
    for np_ in sorted(nprobes):
        q = qn.select(
            "id", "nv", F.explode(F.slice("__probes", 1, np_)).alias("list_id")
        )
        approx = _probe_topk(c, q, "list_id", k)
        rec = ann_recall(truth, approx, k).agg(
            F.round(F.avg("recall"), 6).alias("macro_recall"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
        ).select(
            F.lit(np_).cast("long").alias("nprobe"),
            "macro_recall",
            "n_queries",
        )
        out = rec if out is None else out.unionByName(rec)
    return out
