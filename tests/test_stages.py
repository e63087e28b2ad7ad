"""Aggregate/join/UDF check stages against planted synth violations."""

import math
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from invalid_spark import synth
from invalid_spark.checks import (
    drift, image, refint, relations, stats, unique, vector,
)
from invalid_spark.checks.rows import run_row_checks
from invalid_spark.dsl import load_rules
from invalid_spark.model import VIOLATION_SCHEMA
from invalid_spark.pipeline import dedup

N = 400


@pytest.fixture(scope="module")
def images(spark):
    df = synth.images_df(spark, N, partitions=4)
    df.cache().count()
    yield df
    df.unpersist()


def test_uniqueness_violations(spark, images):
    v = unique.uniqueness_violations(images, "image_id", "image_id")
    rows = v.collect()
    # each planted dup contributes 2 violating rows (both copies)
    planted = synth.violation_indices(N, "dup_id")
    assert len(rows) == 2 * len(planted)
    assert all(r.error_type == "uniqueMismatch" for r in rows)
    dup_ids = {f"img-{i-1:012d}" for i in planted}
    assert {r.observed for r in rows} == dup_ids


# every violation builder over the images fixture plus a unit column
# ``u`` and two float embeddings; ``keep`` goes to the builders that
# carry source columns
BUILDERS = {
    "rows": lambda d, keep: run_row_checks(
        d, load_rules("w: {$type: $int, $range: {$min: 1, $max: 100000}}\n"),
        "image_id", "r", keep_cols=keep),
    "unique": lambda d, keep: unique.uniqueness_violations(
        d, "phash", "image_id", "r", keep_cols=keep),
    "unique_composite": lambda d, keep: unique.composite_uniqueness_violations(
        d, ["fmt", "w"], "image_id", "r", keep_cols=keep),
    "ref": lambda d, keep: refint.ref_violations(
        d, "license_id", synth.licenses_df(d.sparkSession), "license_id",
        "image_id", "r", keep_cols=keep),
    "bloom_ref": lambda d, keep: refint.bloom_ref_violations(
        d, "license_id",
        refint.bloom_build(synth.licenses_df(d.sparkSession), "license_id"),
        "license_id", "image_id", run_id="r", keep_cols=keep),
    "fd": lambda d, keep: relations.fd_violations(
        d, "fmt", "w", "image_id", "r", keep_cols=keep),
    "sequence": lambda d, keep: relations.sequence_violations(
        d, "fmt", "image_id", "w", "image_id", run_id="r", keep_cols=keep),
    "reconcile": lambda d, keep: relations.reconcile_violations(
        d, d, "fmt", "fmt", F.col("w"), "image_id", "h", run_id="r"),
    "vector": lambda d, keep: vector.vector_violations(
        d, "emb", "image_id", dim=4, run_id="r", keep_cols=keep),
    "alignment": lambda d, keep: vector.alignment_violations(
        d, "emb", "emb2", "image_id", 0.5, run_id="r", keep_cols=keep),
    "caption": lambda d, keep: image.caption_violations(
        d, d.select("image_id", "caption"), run_id="r", keep_cols=keep),
    "header": lambda d, keep: image.header_violations(d, run_id="r"),
    "header_magic_only": lambda d, keep: image.header_violations(
        d, w_col=None, h_col=None, run_id="r"),
    "pixel": lambda d, keep: image.pixel_violations(
        d, run_id="r", keep_cols=keep),
    "dup_span": lambda d, keep: dedup.dup_span_violations(
        d, "caption", "image_id", "r", keep_cols=keep),
    "outlier": lambda d, keep: stats.outlier_violations(
        d, "w", "image_id", run_id="r"),
}


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_violation_builders_share_one_schema(spark, images, name):
    """Every violation builder returns exactly the
    ``VIOLATION_SCHEMA`` column names and types, then its
    ``keep_cols``, so any two builders' rows union by name."""
    d = images.select(
        "*",
        F.col("fmt").alias("u"),
        F.array(*[(F.col("w") % (j + 3)).cast("float") for j in range(4)])
        .alias("emb"),
        F.array(*[(F.col("h") % (j + 2)).cast("float") for j in range(4)])
        .alias("emb2"),
    )
    takes_keep = name not in ("reconcile", "header", "header_magic_only",
                              "outlier")
    out = BUILDERS[name](d, ["u"])
    want = [(f.name, f.dataType) for f in VIOLATION_SCHEMA.fields]
    if takes_keep:
        want.append(("u", d.schema["u"].dataType))
    assert [(f.name, f.dataType) for f in out.schema.fields] == want


def test_uniqueness_skewed_hot_key(spark):
    df = synth.images_df(spark, 300, skew=True)
    dups = unique.duplicate_keys(df, "phash").collect()
    hot = [r for r in dups if r.k == synth.HOT_PHASH]
    assert len(hot) == 1 and hot[0].cnt == 30


def test_duplicate_keys_plan_one_exchange(spark):
    """Single and composite duplicate-key sets are one aggregate: a
    map-side partial count, ONE exchange, the final count, and no
    nondeterministic expression (a salted two-stage aggregate plans
    two exchanges over a random salt)."""
    df = synth.images_df(spark, 300, skew=True)
    for d in (unique.duplicate_keys(df, "phash"),
              unique.composite_duplicate_keys(df, ["phash", "fmt"])):
        qe = d._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert qe.optimizedPlan().deterministic(), plan


@pytest.mark.parametrize("extra", [
    "salt bigint", "salt string", "cnt bigint", "k0 string",
])
def test_composite_unique_any_user_column_name(spark, extra):
    """A composite key part may carry any name, including the names
    the aggregate uses internally: every planted duplicate is flagged."""
    name, typ = extra.split()
    v = "7" if typ == "bigint" else "'x'"
    df = spark.sql(
        f"SELECT concat('r', id) AS rid, if(id = 6, 99, id % 3) AS a, "
        f"CAST({v} AS {typ}) AS `{name}` FROM range(7)"
    )
    rows = unique.composite_uniqueness_violations(
        df, ["a", name], "rid"
    ).collect()
    assert sorted(r.row_key for r in rows) == [f"r{i}" for i in range(6)]
    assert {r.message for r in rows} == {
        f"value of [a~{name}] must be unique, seen 2 times"
    }


def test_ref_violations(spark, images):
    dim = synth.licenses_df(spark)
    v = refint.ref_violations(images, "license_id", dim, "license_id", "image_id")
    rows = v.collect()
    assert len(rows) == len(synth.violation_indices(N, "ref_license"))
    assert all(r.observed == "unknown-license" for r in rows)
    assert all(r.error_type == "refMismatch" for r in rows)


def test_ref_violations_broadcast_is_size_gated(spark, images):
    """The anti-join carries no broadcast hint: at the default
    threshold the KB-sized licenses and MB-sized orders dimensions
    plan a broadcast LeftAnti join; with the threshold below the
    orders keys' size no BroadcastExchange is planned and the rows
    are unchanged."""
    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
        F.col("l_linenumber") == 1
    ).withColumn("l_orderkey", F.col("l_orderkey") + 7)
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lic = synth.licenses_df(spark)

    def run(df, col, dim, key, row_key):
        v = refint.ref_violations(df, col, dim, key, row_key)
        rows = sorted(r.row_key for r in v.collect())
        return rows, v._jdf.queryExecution().executedPlan().toString()

    def bhj_anti(plan):
        return any("BroadcastHashJoin" in ln and "LeftAnti" in ln
                   for ln in plan.splitlines())

    lic_rows, lic_plan = run(images, "license_id", lic, "license_id",
                             "image_id")
    assert lic_rows and bhj_anti(lic_plan), lic_plan
    rows, plan = run(li, "l_orderkey", orders, "o_orderkey", "l_orderkey")
    assert rows and bhj_anti(plan), plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "1k")
        off_rows, off_plan = run(
            li, "l_orderkey", orders, "o_orderkey", "l_orderkey"
        )
    finally:
        spark.conf.unset(key) if saved is None else spark.conf.set(key, saved)
    assert off_rows == rows
    assert "BroadcastExchange" not in off_plan, off_plan


def test_bloom_ref_exact_at_generous_sizing(spark):
    # dim = {0..49}; facts reference {0..59}. At m=2^16 bits for 50
    # keys the false-positive rate is ~0, so the screen reproduces
    # the exact LEFT ANTI answer.
    dim = spark.range(50).select(F.col("id").alias("k"))
    facts = spark.range(60).select(
        F.col("id").alias("rk"), F.col("id").alias("fk")
    )
    bloom = refint.bloom_build(dim, "k", m_bits=1 << 16, k=3)
    v = refint.bloom_ref_violations(
        facts, "fk", bloom, "k", "rk", m_bits=1 << 16, k=3
    )
    assert sorted(r.observed for r in v.collect()) == sorted(
        str(i) for i in range(50, 60)
    )
    assert all(
        r.error_type == "refMismatch" for r in v.collect()
    )


def test_bloom_ref_subset_and_null_semantics(spark):
    # Tiny bloom (256 bits, 2 hashes) for 200 keys: false positives
    # are certain, but every REPORTED violation must still be a true
    # one (no false negatives for present keys), and NULL foreign
    # keys are always flagged — same as the LEFT ANTI path.
    dim = spark.range(200).select(F.col("id").alias("k"))
    facts = spark.range(260).select(
        F.col("id").alias("rk"),
        F.when(F.col("id") == 255, F.lit(None)).otherwise(
            F.col("id")
        ).alias("fk"),
    )
    bloom = refint.bloom_build(dim, "k", m_bits=256, k=2)
    v = refint.bloom_ref_violations(
        facts, "fk", bloom, "k", "rk", m_bits=256, k=2
    )
    flagged = {r.row_key for r in v.collect()}
    true_missing = {str(i) for i in range(200, 260)}
    assert flagged <= true_missing | {"255"}
    assert "255" in flagged  # NULL fk flagged


def test_bloom_ref_plan_fact_side_never_shuffles(spark):
    dim = spark.range(1000).select(F.col("id").alias("k"))
    facts = spark.range(5000).select(
        F.col("id").alias("rk"), F.col("id").alias("fk")
    )
    bloom = refint.bloom_build(dim, "k", m_bits=1 << 14, k=3)
    v = refint.bloom_ref_violations(
        facts, "fk", bloom, "k", "rk", m_bits=1 << 14, k=3
    )
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        v.explain()
    plan = buf.getvalue()
    # check side: k broadcast joins, never a sort-merge/shuffled join
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Cartesian" not in plan


def test_pack_sequences_invariants(spark):
    from invalid_spark.pipeline import pack

    # doc i has i+1 tokens; id 37 is oversize (200 > cap=64)
    docs = spark.range(40).selectExpr(
        "id AS doc_id",
        "CASE WHEN id = 37 THEN repeat('w ', 200)"
        "     ELSE repeat('w ', CAST(id + 1 AS INT)) END AS text",
    )
    p = pack.pack_sequences(docs, max_tokens=64, n_buckets=4)
    rows = p.collect()
    assert len(rows) == 40
    by_seq: dict = {}
    for r in rows:
        by_seq.setdefault((r.bucket, r.seq_id), []).append(r)
    for (_, _), members in by_seq.items():
        fill = sum(m.n_tokens for m in members)
        if fill > 64:  # only a lone oversize doc may overflow
            assert len(members) == 1 and members[0].n_tokens > 64
        # offsets are the prefix sums of the members in key order
        members.sort(key=lambda m: m.doc_id)
        acc = 0
        for m in members:
            assert m.seq_offset == acc
            acc += m.n_tokens
    # the oversize doc sits alone in its sequence
    over = [r for r in rows if r.doc_id == 37][0]
    assert len(by_seq[(over.bucket, over.seq_id)]) == 1


def test_pack_sequences_partitioning_invariant(spark):
    from invalid_spark.pipeline import pack

    docs = spark.range(200).selectExpr(
        "id AS doc_id", "repeat('tok ', CAST(id % 30 + 1 AS INT)) AS text"
    )
    a = pack.pack_sequences(docs, 128, n_buckets=8)
    b = pack.pack_sequences(docs.repartition(13), 128, n_buckets=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_sequences_supplied_counts_identity(spark):
    """n_tokens_col= with a column equal to the estimator yields the
    IDENTICAL assignment; with different counts it drives the budget
    (the estimator is ignored)."""
    from invalid_spark.pipeline import pack, text as T
    from pyspark.sql import functions as F

    docs = spark.range(120).selectExpr(
        "id AS doc_id", "repeat('tok ', CAST(id % 30 + 1 AS INT)) AS text"
    )
    pre = docs.withColumn("n_tok", T.token_count(F.col("text")).cast("long"))
    a = pack.pack_sequences(pre, 128, n_buckets=4)
    b = pack.pack_sequences(pre, 128, n_buckets=4, n_tokens_col="n_tok")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # different supplied counts: every doc costs 128 → one doc/sequence
    solo = pre.withColumn("n_tok", F.lit(128).cast("long"))
    c = pack.pack_sequences(solo, 128, n_buckets=4, n_tokens_col="n_tok")
    per_seq = {}
    for r in c.collect():
        per_seq.setdefault((r.bucket, r.seq_id), 0)
        per_seq[(r.bucket, r.seq_id)] += 1
        assert r.n_tokens == 128
    assert all(v == 1 for v in per_seq.values())


def test_pack_materialize_replays_assignment(spark):
    """materialize's per-sequence composition equals pack_sequences'
    assignment exactly (same deterministic greedy rule), text
    concatenation preserves pack order, and the plan carries exactly
    ONE Exchange (the bucket shuffle — no join back to the corpus)."""
    import contextlib
    import io as _io

    from invalid_spark.pipeline import pack

    docs = spark.range(150).selectExpr(
        "id AS doc_id", "repeat('w ', CAST(id % 20 + 1 AS INT)) AS text"
    )
    assigned = pack.pack_sequences(docs, 64, n_buckets=4)
    mat = pack.materialize(docs, 64, n_buckets=4)
    want: dict = {}
    for r in assigned.collect():
        want.setdefault((r.bucket, r.seq_id), []).append(
            (r.doc_id, r.seq_offset, r.n_tokens)
        )
    got = {(r.bucket, r.seq_id): r for r in mat.collect()}
    assert set(got) == set(want)
    for key, members in want.items():
        members.sort()
        m = got[key]
        assert list(m.doc_keys) == [x[0] for x in members]
        assert list(m.offsets) == [x[1] for x in members]
        assert m.total_tokens == sum(x[2] for x in members)
        assert m.n_docs == len(members)
        # sep=" " keeps whitespace token count = sum of parts
        assert len(m.text.split()) == m.total_tokens
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        # a fresh (un-executed) frame: an AQE-finalized plan prints
        # final + initial sections, double-counting the Exchange
        pack.materialize(docs, 64, n_buckets=4).explain()
    assert buf.getvalue().count("Exchange") == 1


def test_chunk_documents_tokens_col(spark):
    """Pre-tokenized array input (string or int ids) drives the same
    windowing arithmetic as the whitespace path."""
    from invalid_spark.pipeline import text as T
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    base = T.chunk_documents(docs, 4, 1).collect()
    pre = docs.withColumn("toks", F.split(F.trim("text"), r"\s+"))
    via_col = T.chunk_documents(pre, 4, 1, tokens_col="toks").collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, via_col))
    ids = spark.createDataFrame(
        [(7, list(range(10)))], "doc_id long, toks array<int>"
    )
    out = {r.chunk_idx: r.chunk
           for r in T.chunk_documents(ids, 4, 1, tokens_col="toks").collect()}
    assert out == {0: "0 1 2 3", 1: "3 4 5 6", 2: "6 7 8 9"}


def test_pack_sequences_order_col_curriculum(spark):
    from invalid_spark.pipeline import pack

    # one bucket; score reverses the key order, so curriculum packing
    # must yield the reverse assignment of key-ordered packing
    docs = spark.range(10).selectExpr(
        "id AS doc_id",
        "repeat('w ', 4) AS text",
        "CAST(-id AS double) AS score",
    )
    by_key = {r.doc_id: r.seq_id
              for r in pack.pack_sequences(docs, 8, n_buckets=1).collect()}
    by_score = {r.doc_id: r.seq_id
                for r in pack.pack_sequences(
                    docs, 8, n_buckets=1, order_col="score").collect()}
    # 4-token docs, 8-token cap → pairs; key order pairs (0,1)(2,3)…
    assert by_key[0] == by_key[1] and by_key[0] != by_key[2]
    # score order is reversed: pairs (9,8)(7,6)…
    assert by_score[9] == by_score[8] and by_score[9] != by_score[7]


def test_pack_summary(spark):
    from invalid_spark.pipeline import pack

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "repeat('t ', 10) AS text"
    )
    s = pack.pack_summary(pack.pack_sequences(docs, 50, n_buckets=1), 50)
    row = s.collect()[0]
    # 100 docs x 10 tokens into 50-token budget = 5 docs/seq, 20 seqs
    assert row.n_sequences == 20 and row.n_documents == 100
    assert row.total_tokens == 1000 and row.mean_fill_ratio == 1.0
    assert row.n_oversize == 0


def test_cluster_weights_soft_dedup(spark):
    from invalid_spark.pipeline import dedup

    # two clusters: {1,2,3} (chain) and {7,8}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a long, b long"
    )
    w = {r.id: (r.cluster_id, r.cluster_size, r.weight)
         for r in dedup.cluster_weights(pairs).collect()}
    assert w[1] == (1, 3, round(1 / 3, 6))
    assert w[2] == (1, 3, round(1 / 3, 6))
    assert w[3] == (1, 3, round(1 / 3, 6))
    assert w[7] == (7, 2, 0.5) and w[8] == (7, 2, 0.5)
    # total training mass = one doc per cluster
    assert abs(sum(x[2] for x in w.values()) - 2.0) < 1e-5


def test_band_bucket_skew_flags_boilerplate(spark):
    import contextlib
    import io as _io

    from invalid_spark.pipeline import dedup

    boiler = "all rights reserved copy one two three four five " * 3
    rows = [(i, boiler) for i in range(40)] + [
        (100 + i, f"unique doc number {i} with words " + "x " * i)
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = dedup.band_bucket_skew(docs, top=5).collect()
    # the 40 identical docs dominate every band: top buckets are 40-doc
    assert top[0].n_docs == 40
    assert top[0].est_pairs == 40 * 39 // 2
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup.band_bucket_skew(docs, top=5).explain()
    assert "TakeOrderedAndProject" in buf.getvalue()  # never a global sort


def test_chunk_documents_semantics(spark):
    from invalid_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (1, "a b c"),                                # 3 < chunk
            (2, ""),                                     # no chunks
            (3, None),                                   # no chunks
        ],
        "doc_id long, text string",
    )
    out = T.chunk_documents(docs, chunk_tokens=4, overlap_tokens=1)
    rows = sorted(
        ((r.id, r.chunk_idx, r.n_tokens, r.chunk) for r in out.collect())
    )
    # doc 0 (n=10): starts 0,3,6 — bound n-o-1=8 excludes 9, step 3
    assert [r for r in rows if r[0] == 0] == [
        (0, 0, 4, "t0 t1 t2 t3"),
        (0, 1, 4, "t3 t4 t5 t6"),
        (0, 2, 4, "t6 t7 t8 t9"),
    ]
    assert [r for r in rows if r[0] == 1] == [(1, 0, 3, "a b c")]
    assert not [r for r in rows if r[0] in (2, 3)]
    # every token index is covered; consecutive chunks share `overlap`
    with pytest.raises(ValueError):
        T.chunk_documents(docs, chunk_tokens=4, overlap_tokens=4)


def test_chunk_documents_no_shuffle(spark):
    import contextlib
    import io as _io

    from invalid_spark.pipeline import text as T

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        T.chunk_documents(docs, 32, 8).explain()
    plan = buf.getvalue()
    assert "Exchange" not in plan  # row-local: scan → project → generate


def test_phash_neardup_vs_state_planted(spark):
    from invalid_spark.pipeline import dedup

    state = spark.createDataFrame(
        [(0, 0b1111000011110000), (1, 0b0000111100001111)],
        "id long, sig long",
    )
    batch = spark.createDataFrame(
        [
            (10, 0b1111000011110001),  # hamming 1 from state 0
            (11, 0b1010101010101010),  # far from everything
            (12, 0b1010101010101011),  # hamming 1 from 11 → in-batch dup
            (13, 0b0101010101010101),  # far from all (complement of 11)
        ],
        "id long, sig long",
    )
    out = {r.id: (r.decision, r.best_corpus, r.best_batch)
           for r in dedup.hamming_neardup_vs_state(
               batch, state, max_hamming=2, bits=16).collect()}
    assert out[10][0] == "dup_of_corpus" and out[10][1] == 1
    assert out[11][0] == "new"
    assert out[12] == ("dup_in_batch", None, 1) or (
        out[12][0] == "dup_in_batch" and out[12][2] == 1
    )
    assert out[13][0] == "new"
    assert len(out) == 4


def test_row_local_signature_equals_aggregate_path(spark):
    """with_minhash_signature (row-local, streaming-legal) is
    bit-identical to minhash_signatures (explode + hash-aggregate),
    including membership (short docs absent on both paths)."""
    from invalid_spark.pipeline import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    agg = {r.id: tuple(r[f"s{j}"] for j in range(16))
           for r in dedup.minhash_signatures(docs).collect()}
    row = {r["doc_id"]: tuple(r["__sig"])
           for r in dedup.with_minhash_signature(docs)
           .filter("__sig is not null").select("doc_id", "__sig").collect()}
    assert agg == row and len(agg) > 0


def test_minhash_dedup_vs_state_planted(spark):
    from invalid_spark.pipeline import dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank "
    other = "completely different content about spark planning and shuffles "
    state_docs = spark.createDataFrame(
        [(0, base * 4), (2, other * 4)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (11, base * 4 + "extra"),   # near-dup of state doc 0
            (13, other[:20] + "fresh unseen words entirely " * 6),  # new-ish
            (15, "unique snowflake paragraph with rare tokens " * 5),
            (17, "unique snowflake paragraph with rare tokens " * 5 + "tail"),
            (19, "tiny"),               # < n tokens: no signature
        ],
        "doc_id long, text string",
    )
    st = dedup.minhash_state(state_docs)
    out = {r.id: r.decision
           for r in dedup.minhash_dedup_vs_state(batch, st, 0.7).collect()}
    assert out[11] == "dup_of_corpus"
    assert out[15] == "new"            # smaller key = keeper
    assert out[17] == "dup_in_batch"   # larger-keyed near-dup of 15
    assert out[19] == "new"            # no shingles → always new
    assert len(out) == 5


def test_minhash_state_roundtrip_grows_by_new(spark):
    """Appending a batch's `new` signatures to the state makes a
    re-run of the SAME batch classify every doc as dup_of_corpus."""
    from invalid_spark.pipeline import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    st = dedup.minhash_state(docs.filter("doc_id % 2 = 0"))
    batch = docs.filter("doc_id % 2 = 1")
    first = dedup.minhash_dedup_vs_state(batch, st, 0.7)
    new_ids = [r.id for r in first.filter("decision = 'new'").collect()]
    st2 = st.unionByName(
        dedup.minhash_state(
            batch.join(
                spark.createDataFrame([(i,) for i in new_ids], "doc_id long"),
                "doc_id", "left_semi",
            )
        )
    )
    again = dedup.minhash_dedup_vs_state(batch, st2, 0.7)
    # docs too short to shingle (no signature) can never match
    from invalid_spark.pipeline import text as _T
    from pyspark.sql import functions as _F

    sigless = {
        r.doc_id
        for r in batch.filter(
            _F.size(
                _T.word_ngrams(_T.tokens(_T.normalize(_F.col("text"))), 3)
            ) == 0
        ).collect()
    }
    # every signatured doc now matches its own appended state signature
    for r in again.collect():
        if r.id in new_ids and r.id not in sigless:
            assert r.decision == "dup_of_corpus", r
        elif r.id in sigless:
            assert r.decision == "new", r


def test_dsir_separates_domains(spark):
    from invalid_spark.pipeline import curate

    rows = []
    for i in range(100):
        if i % 2 == 0:
            rows.append((i, "medical patient dose trial symptom " * 5))
        else:
            rows.append((i, "football match goal striker league " * 5))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = docs.filter("doc_id % 10 = 0")  # a medical-only subset
    w = curate.dsir_weights(docs, tgt, n_buckets=512)
    d = {r.id: r.log_ratio for r in w.collect()}
    assert len(d) == 100
    med = [d[i] for i in range(0, 100, 2)]
    spo = [d[i] for i in range(1, 100, 2)]
    # every target-domain doc outranks every off-domain doc
    assert min(med) > max(spo)
    # Gumbel top-k concentrates the sample on the target domain
    s = curate.dsir_sample(docs, tgt, 20, n_buckets=512)
    ids = [r.id for r in s.collect()]
    assert len(ids) == 20
    assert sum(1 for i in ids if i % 2 == 0) >= 18


def test_dsir_empty_and_null_docs(spark):
    from invalid_spark.pipeline import curate

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, ""), (2, None), (3, "alpha beta")],
        "doc_id long, text string",
    )
    w = curate.dsir_weights(docs, docs.filter("doc_id = 0"), n_buckets=64)
    d = {r.id: (r.n_tokens, r.log_ratio) for r in w.collect()}
    assert d[1] == (0, 0.0) and d[2] == (0, 0.0)
    assert d[0][0] == 3 and d[3][0] == 2


def test_dsir_plan_model_broadcasts(spark):
    import contextlib
    import io as _io

    from invalid_spark.pipeline import curate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    tgt = docs.filter("source = 'src0'")
    w = curate.dsir_weights(docs, tgt, n_buckets=256)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        w.explain()
    plan = buf.getvalue()
    # the scored model joins the token stream via broadcast; the only
    # nested loop is the 1-row totals frame
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_column_profile_single_pass(spark, images):
    prof = stats.column_profile(
        images,
        [("w", ["null_rate", "min", "max", "ndv"]),
         ("caption", ["null_rate"])],
        exact=True,
    )
    d = {(r.column, r.stat): r.value for r in prof.collect()}
    assert d[("w", "null_rate")] == 0.0
    assert d[("w", "min")] == 0.0  # planted w=0
    assert d[("w", "max")] == 100001.0  # planted w=100001
    assert d[("caption", "null_rate")] == 0.0
    assert d[("w", "ndv")] >= 9  # 8..16 sides + 2 planted extremes


def test_ks_drift_flags_shift(spark):
    cur = synth.images_df(spark, 300)
    prev_drifted = synth.images_prev_df(spark, 300, drifted=True)
    prev_same = synth.images_prev_df(spark, 300, drifted=False)
    r1 = drift.ks_drift(cur, prev_drifted, "h")
    assert r1.drifted, (r1.statistic, r1.p_value)
    r2 = drift.ks_drift(cur, prev_same, "h")
    assert not r2.drifted, (r2.statistic, r2.p_value)


def test_chi2_drift_flags_fmt_mix(spark):
    cur = synth.images_df(spark, 300)
    prev_drifted = synth.images_prev_df(spark, 300, drifted=True)
    prev_same = synth.images_prev_df(spark, 300, drifted=False)
    assert drift.chi2_drift(cur, prev_drifted, "fmt").drifted
    assert not drift.chi2_drift(cur, prev_same, "fmt").drifted


def test_pixel_violations(spark, images):
    v = image.pixel_violations(images, run_id="t")
    rows = v.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.error_type, set()).add(r.row_key)

    corrupt = synth.violation_indices(N, "corrupt")
    decode_fail = by_type.get("decodeError", set())
    # every planted-corrupt row fails decode (ids may be dup-renamed)
    assert len(decode_fail) == len(corrupt)

    # phash-bit rows flagged, except those that are ALSO corrupt
    phash_rows = {
        i for i in synth.violation_indices(N, "phash_bit")
    } - set(corrupt)
    phash_viol = {
        r.row_key for r in rows if r.column == "phash"
    }
    assert len(phash_viol) == len(phash_rows)

    # w-range rows flagged as dims mismatches
    wrows = set(synth.violation_indices(N, "range_w")) - set(corrupt)
    dim_viol = {r.row_key for r in rows if r.column == "w"}
    assert len(dim_viol) == len(wrows)

    # nothing else: no pixelMismatch on clean rows (lossless exact,
    # lossy PSNR ~48 dB > 40)
    assert not any(
        r.error_type == "pixelMismatch" and r.column == "bytes" for r in rows
    )


def test_caption_violations(spark, images):
    # exclude planted duplicate ids: with a duplicated join key the
    # 2x2 cross-match flags their divergent captions (by design — a
    # real data-quality signal, but noise for this golden)
    dup_ids = {f"img-{i-1:012d}" for i in synth.violation_indices(N, "dup_id")}
    base = images.filter(~F.col("image_id").isin(list(dup_ids)))
    ref = base.select("image_id", "caption").withColumn(
        "caption",
        F.when(F.col("image_id") == "img-000000000005",
               F.concat(F.col("caption"), F.lit("!"))).otherwise(F.col("caption")),
    )
    v = image.caption_violations(base, ref, "image_id", "caption")
    rows = v.collect()
    assert {r.row_key for r in rows} == {"img-000000000005"}
    assert all(r.error_type == "captionMismatch" for r in rows)


def test_psi_drift(spark, tmp_path):
    """Population Stability Index: a shifted categorical mix flags
    (> 0.25), the same mix doesn't; the multi-column path emits the
    identical index (shared state shape with chi2); the runner's
    stored-state continuous path compares PSI without rescanning the
    prior snapshot."""
    import math

    cur = synth.images_df(spark, 300)
    prev_drifted = synth.images_prev_df(spark, 300, drifted=True)
    prev_same = synth.images_prev_df(spark, 300, drifted=False)
    r1 = drift.psi_drift(cur, prev_drifted, "fmt")
    assert r1.drifted and r1.statistic > 0.25
    assert math.isnan(r1.p_value)  # PSI has no p-value by contract
    r2 = drift.psi_drift(cur, prev_same, "fmt")
    assert not r2.drifted and r2.statistic < 0.1
    # multi-column path: bit-identical index
    m = drift.multi_drift(cur, prev_drifted, [("fmt", {"test": "psi"})])
    assert m["fmt"].statistic == r1.statistic and m["fmt"].drifted
    # eps floor: a category absent on one side stays finite
    a = spark.createDataFrame([("x",)] * 10 + [("y",)] * 10, "c string")
    b = spark.createDataFrame([("x",)] * 20, "c string")
    r3 = drift.psi_drift(a, b, "c")
    assert math.isfinite(r3.statistic) and r3.drifted
    # runner continuous path: stored value-count state serves PSI
    import os

    from invalid_spark import runner
    from invalid_spark.dsl import load_rules

    rules = load_rules("fmt: {$type: $str, $drift: {test: psi}}\n")
    out = str(tmp_path / "psi")
    runner.validate(spark, prev_drifted, rules, "image_id", out,
                    snapshot="s1", manifest_dir=os.path.join(out, "m1"))
    runner.validate(spark, cur, rules, "image_id", out,
                    snapshot="s2", manifest_dir=os.path.join(out, "m2"))
    d = {r["column"]: r for r in
         spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert d["fmt"]["test"] == "psi" and d["fmt"]["drifted"]
    assert abs(d["fmt"]["statistic"] - r1.statistic) < 1e-12


def test_wasserstein_drift(spark, tmp_path):
    """Normalized W1 (earth-mover): a shifted numeric distribution
    flags, the same distribution reads ~0; the multi-column
    stored-state path emits the identical statistic (it shares the
    KS histogram state); the runner continuous path compares W1 from
    one stored histogram without rescanning the prior snapshot."""
    import math
    import os

    cur = synth.images_df(spark, 300)
    prev_drifted = synth.images_prev_df(spark, 300, drifted=True)
    prev_same = synth.images_prev_df(spark, 300, drifted=False)
    r1 = drift.wasserstein_drift(cur, prev_drifted, "h", threshold=0.05)
    assert r1.drifted and r1.statistic > 0.05
    assert math.isnan(r1.p_value)  # index-thresholded, no p-value
    r2 = drift.wasserstein_drift(cur, prev_same, "h", threshold=0.05)
    assert not r2.drifted and r2.statistic < 0.02
    # multi-column stored-state path: bit-identical statistic
    m = drift.multi_drift(cur, prev_drifted,
                          [("h", {"test": "wasserstein", "threshold": 0.05})])
    assert m["h"].statistic == r1.statistic and m["h"].drifted
    # identical sides -> exactly 0
    assert drift.wasserstein_drift(cur, cur, "h").statistic == 0.0
    # exact hand value: all mass one bucket apart over a 2-bin grid
    # -> W1 = 1 bucket-gap / 2 bins = 0.5
    one = drift.w1_statistic_df(
        spark.createDataFrame([(0.0,)], "h double"),
        spark.createDataFrame([(1.0,)], "h double"), "h", bins=2,
    ).collect()[0]
    assert (one["statistic"], one["n_cur"], one["n_prior"]) == (0.5, 1, 1)
    # runner continuous path: ONE stored histogram serves both ks and
    # wasserstein rules on the same column
    from invalid_spark import runner
    from invalid_spark.dsl import load_rules

    rules = load_rules(
        "h: {$type: $int, $drift: {test: wasserstein, threshold: 0.05}}\n")
    out = str(tmp_path / "w1")
    runner.validate(spark, prev_drifted, rules, "image_id", out,
                    snapshot="s1", manifest_dir=os.path.join(out, "m1"))
    runner.validate(spark, cur, rules, "image_id", out,
                    snapshot="s2", manifest_dir=os.path.join(out, "m2"))
    d = {r["column"]: r for r in
         spark.read.parquet(os.path.join(out, "drift")).collect()}
    assert d["h"]["test"] == "wasserstein" and d["h"]["drifted"]
    # the stored-grid statistic differs from the two-sample merge-grid
    # one only through the grid (prev's min/max vs union min/max) —
    # both flag and land in the same ballpark
    assert abs(d["h"]["statistic"] - r1.statistic) < 0.05


def test_ivf_ann_recall(spark):
    from invalid_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 20")
    exact = similarity.brute_topk(emb, q, k=5).collect()
    approx = similarity.ivf_ann(emb, q, k=5, n_lists=16, nprobe=6).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every query answered with k results
    from collections import Counter

    per_q = Counter(r["query_id"] for r in approx)
    assert all(v == 5 for v in per_q.values())


def test_ivf_sample_collect_is_size_gated(spark):
    """A k-means sample that cannot fit under spark.driver.maxResultSize
    raises before anything is collected to the driver."""
    from invalid_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g")
    too_many = limit // (dim * 8) + 1
    with pytest.raises(ValueError, match=f"sample={too_many}.*width {dim}"):
        similarity.ivf_centroids(emb, sample=too_many)
    # a sample that fits still trains the codebook
    assert similarity.ivf_centroids(emb, n_lists=4, sample=64).shape == (4, dim)


def test_ann_recall_operator_semantics(spark):
    from invalid_spark.pipeline import similarity

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: both right; q2: one right one wrong; q3: absent entirely
        [(1, 10), (1, 11), (2, 20), (2, 99)],
        "query_id long, neighbor_id long",
    )
    r = {x.query_id: (x.n_hits, x.recall)
         for x in similarity.ann_recall(truth, approx, 2).collect()}
    assert r == {1: (2, 1.0), 2: (1, 0.5), 3: (0, 0.0)}


def test_ann_recall_truncated_truth_denominator(spark):
    """When ground truth holds fewer than k neighbors for a query
    (corpus smaller than k+1, truncated truth), a perfect index must
    read recall 1.0 — the denominator is min(k, |truth|), not k."""
    from invalid_spark.pipeline import similarity

    truth = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 21)],  # q1 has only ONE true neighbor
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 98), (2, 20), (2, 21), (2, 97)],
        "query_id long, neighbor_id long",
    )
    r = {x.query_id: x.recall
         for x in similarity.ann_recall(truth, approx, 3).collect()}
    assert r == {1: 1.0, 2: 1.0}


def test_ivf_tuning_monotone_recall(spark):
    from invalid_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    rep = {r.nprobe: r.macro_recall
           for r in similarity.ivf_tuning_report(
               emb, q, k=5, n_lists=16, nprobes=(1, 2, 4)).collect()}
    assert set(rep) == {1, 2, 4}
    # probing more lists can only add candidates: recall is monotone
    assert rep[1] <= rep[2] <= rep[4]
    assert rep[4] >= 0.5  # sane operating point at nprobe=4


def test_lsh_ann_recall(spark):
    from invalid_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 20")
    exact = similarity.brute_topk(emb, q, k=5).collect()
    approx = similarity.lsh_ann(emb, q, k=5, planes=4, probe_hamming=1).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_ivf_assignment_udf_matches_expression(spark):
    """Bit parity of the Arrow-batched broadcast-codebook assignment
    (the scale path ivf_ann uses) with the literal-expression strict
    left fold (the oracle-replayable reference): same centroids, same
    order, including float TIES broken (sim DESC, cid DESC)."""
    from invalid_spark.pipeline import similarity

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(300)
    cent = similarity.ivf_md5_centroids(emb, n_lists=8)
    nv = similarity.with_norm(emb, "embedding", "vec_id")
    udf = similarity.nearest_lists_udf(spark, cent, 3)
    rows = nv.select(
        "id",
        udf(F.col("nv")).alias("u"),
        similarity._nearest_lists_expr(F.col("nv"), cent, 3).alias("e"),
    ).collect()
    assert rows
    for r in rows:
        assert list(r["u"]) == list(r["e"]), r["id"]
    # constructed exact tie: vector equidistant from both centroids
    # → the larger centroid id must rank first on BOTH paths
    import numpy as np

    tie_cent = np.array([[1.0, 0.0], [0.0, 1.0]])
    s = float(np.sqrt(0.5))
    tdf = spark.createDataFrame(
        [("t", [s, s])], "id string, embedding array<double>"
    )
    tnv = similarity.with_norm(tdf, "embedding", "id")
    tudf = similarity.nearest_lists_udf(spark, tie_cent, 2)
    trow = tnv.select(
        tudf(F.col("nv")).alias("u"),
        similarity._nearest_lists_expr(F.col("nv"), tie_cent, 2).alias("e"),
    ).collect()[0]
    assert list(trow["u"]) == [1, 0] == list(trow["e"])


def test_ivf_large_codebook(spark):
    """Production IVF sizing (n_lists ≥ 512): the broadcast-codebook
    assignment neither blows the Catalyst expression tree nor embeds
    per-centroid literals — the plan carries ONE ArrowEvalPython node
    whatever n_lists is (the round-3 literal-expression shape failed
    exactly here)."""
    from invalid_spark.pipeline import similarity

    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # the sf0.001 corpus is smaller than 512, so the codebook comes
    # from seeded numpy — plan shape is what's under test, not recall
    rng = np.random.default_rng(11)
    cent = rng.standard_normal((512, 64))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    assert cent.shape[0] == 512
    q = emb.filter("vec_id < 5")
    out = similarity.ivf_ann(emb, q, k=3, nprobe=8, centroids=cent)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    # no thousand-term literal projection: the codebook must not
    # appear value-by-value in the plan text
    assert len(plan) < 200_000
    rows = out.collect()
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rows)
    assert len(per_q) == 5 and all(v == 3 for v in per_q.values())


def test_lsh_ann_dim_param_action_free(spark):
    """lsh_ann(dim=...) builds the whole index without ANY Spark job
    (no .first() probe); omitting dim still works via the probe."""
    from invalid_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 3")
    sc = spark.sparkContext
    sc.setJobGroup("lsh_build_probe", "dim probe check")
    try:
        df = similarity.lsh_ann(emb, q, k=3, planes=4, dim=64)
        assert sc.statusTracker().getJobIdsForGroup("lsh_build_probe") == []
        # vacuity guard: WITHOUT dim the probe job does run
        similarity.lsh_ann(emb, q, k=3, planes=4)
        assert sc.statusTracker().getJobIdsForGroup("lsh_build_probe") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.count() > 0


def test_vector_violations_planted(spark):
    from invalid_spark.checks import vector as vc
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # plant: truncate %17==0, NaN %19==0, zero %23==0
    idx = F.col("vec_id")
    v = F.col("embedding")
    corrupted = emb.withColumn(
        "embedding",
        F.when(idx % 17 == 0, F.slice(v, 1, 32))
        .when(idx % 19 == 0, F.concat(F.array(F.lit(float("nan"))), F.slice(v, 2, 63)))
        .when(idx % 23 == 0, F.transform(v, lambda x: x * 0))
        .otherwise(v),
    )
    out = vc.vector_violations(corrupted, "embedding", "vec_id", dim=64)
    by = {r["message"]: r["cnt"] for r in out.groupBy("message").agg(
        F.count("*").alias("cnt")).collect()}
    n = emb.count()
    exp_dim = len([i for i in range(n) if i % 17 == 0])
    exp_nan = len([i for i in range(n) if i % 19 == 0 and i % 17 != 0])
    exp_zero = len([i for i in range(n) if i % 23 == 0 and i % 17 != 0 and i % 19 != 0])
    assert by["vector [embedding] must have dim 64"] == exp_dim
    assert by["vector [embedding] must not contain NaN/null/Inf"] == exp_nan
    assert by["vector [embedding] must not be all zeros"] == exp_zero


def test_vector_norm_band_and_inf(spark):
    """$vector norm band: unit vectors pass [0.5, 2.0]; ×3 / ×0.1
    scales breach it; a +Inf element fails the finiteness check AND
    the band (Inf norm > max); exact planted counts."""
    from invalid_spark.checks import vector as vc
    from pyspark.sql import functions as F

    rows = [
        (0, [3.0, 0.0, 0.0, 4.0]),     # norm 5 → scaled below to unit
        (1, [1.0, 0.0, 0.0, 0.0]),     # unit
        (2, [0.06, 0.0, 0.08, 0.0]),   # norm 0.1 → below min
        (3, [3.0, 0.0, 0.0, 0.0]),     # norm 3 → above max
        (4, [float("inf"), 0.0, 0.0, 0.0]),  # Inf: finiteness + band
        (5, [0.6, 0.8, 0.0, 0.0]),     # unit
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = df.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 0,
            F.transform(F.col("embedding"), lambda x: x / 5.0),
        ).otherwise(F.col("embedding")),
    )
    out = vc.vector_violations(
        df, "embedding", "vec_id", dim=4, norm_min=0.5, norm_max=2.0
    )
    got = {(r["row_key"], r["message"]) for r in out.collect()}
    band = "vector [embedding] L2 norm must be in [0.5, 2.0]"
    finite = "vector [embedding] must not contain NaN/null/Inf"
    assert got == {("2", band), ("3", band), ("4", band), ("4", finite)}
    # runner wiring: the $vector rule's norm spec reaches the stage
    from invalid_spark.checks.rows import compile_row_checks
    from invalid_spark.dsl import load_rules

    plan = compile_row_checks(
        df,
        load_rules(
            "embedding: {$type: $arr, $constraint: $float, "
            "$vector: {dim: 4, norm: {min: 0.5, max: 2.0}}}\n"
        ),
    )
    assert plan.vector_specs[0][1]["norm"] == {"min": 0.5, "max": 2.0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min > max"):
        compile_row_checks(
            df,
            load_rules(
                "embedding: {$type: $arr, $constraint: $float, "
                "$vector: {norm: {min: 3, max: 1}}}\n"
            ),
        )


def test_histogram_empty_bins_and_edges(spark):
    """stats.histogram: empty bins included with n=0, hi lands in the
    last bin (closed upper edge), NULL/out-of-range excluded, and the
    counts-side plan is ONE aggregate over the scan."""
    from invalid_spark.checks import stats as st
    from pyspark.sql import functions as F  # noqa: F401

    df = spark.createDataFrame(
        [(float(x),) for x in (0.0, 0.5, 1.0, 9.0, 10.0, 10.0)]
        + [(None,), (-5.0,), (25.0,)],
        "x double",
    )
    h = {r["bin"]: r for r in st.histogram(
        df, "x", bins=5, lo=0.0, hi=10.0).collect()}
    assert len(h) == 5
    # width 2: {0.0, 0.5, 1.0} → bin 0; 9.0 → bin 4; both 10.0 (== hi)
    # → bin 4 via the closed-upper-edge rule
    assert [h[i]["n"] for i in range(5)] == [3, 0, 0, 0, 3]
    assert h[0]["lo_edge"] == 0.0 and h[4]["hi_edge"] == 10.0
    # hi itself (10.0 twice) in the last bin; -5/25/NULL excluded
    total = sum(h[i]["n"] for i in range(5))
    assert total == 6
    with __import__("pytest").raises(ValueError, match="hi > lo"):
        st.histogram(df, "x", bins=5, lo=1.0, hi=1.0)


def test_split_valid_quarantine(spark):
    from invalid_spark import report
    from invalid_spark.checks.rows import run_row_checks
    from invalid_spark.dsl import load_rules

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rules = load_rules("lang: {$type: $str, $of: [en, fr, de]}\n")
    v = run_row_checks(docs, rules, "doc_id")
    clean, quarantined = report.split_valid(docs, v, "doc_id")
    assert quarantined.count() == 148  # known-good signal
    assert clean.count() + quarantined.count() == docs.count()
    # no violating key survives in clean
    assert clean.filter(~clean.lang.isin("en", "fr", "de")).count() == 0


def test_ks_drift_clip_survives_outliers(spark):
    from invalid_spark.checks import drift
    from invalid_spark import synth

    # tables WITH the planted w outliers (0 / 100001): min/max-range
    # histograms go blind, quantile-clipped ones still flag the shift
    cur = synth.images_df(spark, 300)
    prev = synth.images_prev_df(spark, 300, drifted=True)
    blind = drift.ks_drift(cur, prev, "w")
    robust = drift.ks_drift(cur, prev, "w", clip=(0.05, 0.95))
    assert not blind.drifted          # outliers hide the +4 shift
    assert robust.drifted             # clipped histogram sees it


def test_image_features_and_resize(spark):
    from invalid_spark.pipeline import image_ops
    from invalid_spark import synth, codecs
    import numpy as np

    df = synth.images_df(spark, 150, partitions=4)
    feats = image_ops.image_features(df)
    collected = feats.collect()
    assert len(collected) == 150  # dup image_id rows both present
    rows = {r["image_id"]: r for r in collected}
    corrupt = {f"img-{i:012d}" for i in synth.violation_indices(150, "corrupt")}
    for k, r in rows.items():
        if k in corrupt and r["decode_ok"] is False:
            continue
        assert r["decode_ok"], k
        assert 0.0 <= r["brightness"] <= 1.0
        assert not r["near_constant"]  # random pixels are never flat
    # resize: output round-trips through the codec at the target side
    small = image_ops.resize_images(df, side=4, fmt="png")
    got = small.limit(5).collect()
    for r in got:
        px = codecs.decode_image(bytes(r["bytes"]))
        assert px.shape == (4, 4, 3)
    assert small.count() == 150 - len(
        [i for i in synth.violation_indices(150, "corrupt")]
    )


def test_dup_clusters_connected_components(spark):
    from invalid_spark.pipeline import dedup

    # two components: {1,2,3,4} (chain) and {10,11}; singleton 99 absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    dec = {r["id"]: r["keep"] for r in dedup.dedup_decisions(pairs).collect()}
    assert dec == {1: True, 2: False, 3: False, 4: False, 10: True, 11: False}


def test_dup_clusters_chain_converges_with_bounded_plan(spark):
    """Worst-case diameter: a 100-node chain is one component. Plain
    min-label propagation would need ~100 rounds; pointer jumping
    must converge within the default max_iters=20, and per-round
    localCheckpoint must keep the result's plan truncated (no
    20-joins-deep lineage)."""
    from invalid_spark.pipeline import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "a long, b long"
    )
    labels = dedup.dup_clusters(pairs)  # default max_iters
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(101)}
    # lineage bounded: the returned frame's plan is the checkpointed
    # RDD scan, not the nested iteration history
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan


def test_emb_neardup_lsh_no_cartesian_and_recall(spark):
    """The LSH near-dup path must (a) never produce a cartesian
    product (the all-pairs scale-killer it replaces), (b) return a
    subset of the exact all-pairs result (precision 1.0 — candidates
    are verified with the same cosine), and (c) recover most
    high-cosine planted near-dups."""
    from invalid_spark.pipeline import dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # plant near-identical twins: tiny deterministic perturbation
    twins = emb.filter("vec_id < 40").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + (F.lit(1) / (F.lit(2000) + F.col("vec_id")))
        ).alias("embedding"),
    )
    df = emb.unionByName(twins)
    approx = dedup.embedding_neardup_lsh(df, threshold=0.9, planes=8)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    exact = dedup.embedding_neardup(df, threshold=0.9)
    a = {(r["a"], r["b"]) for r in approx.collect()}
    e = {(r["a"], r["b"]) for r in exact.collect()}
    assert a <= e, "LSH returned a pair the exact check rejects"
    planted = {(v, v + 100000) for v in range(40)} & e
    assert planted, "fixture produced no verifiable planted pairs"
    recall = len(a & planted) / len(planted)
    assert recall >= 0.6, f"planted-near-dup recall too low: {recall}"


def test_lsh_candidate_broadcast_is_size_gated(spark):
    """minhash_lsh_dedup broadcasts the candidate ids only when they fit
    under spark.sql.autoBroadcastJoinThreshold: with broadcasting off
    the pairs are unchanged and no BroadcastExchange is planned; at the
    defaults the corpus semi-join stays a broadcast hash join."""
    from invalid_spark.pipeline import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run():
        out = dedup.minhash_lsh_dedup(docs, 0.8)
        pairs = sorted(tuple(r) for r in out.collect())
        return pairs, out._jdf.queryExecution().executedPlan().toString()

    pairs, plan = run()
    assert pairs
    assert any("BroadcastHashJoin" in line and "LeftSemi" in line
               for line in plan.splitlines()), plan
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        off_pairs, off_plan = run()
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert off_pairs == pairs
    assert "BroadcastExchange" not in off_plan, off_plan


def test_hamming_inputs_rejected_with_value_error(spark):
    """Out-of-range widths raise ValueError (an assert vanishes under
    -O): simhash reads 32 bits of md5, so bits > 32 would silently be 0,
    and a negative max_hamming would divide by zero in the block
    builder."""
    from invalid_spark.pipeline import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = spark.createDataFrame([(1, 5), (2, 7)], "id long, sig long")
    state = spark.createDataFrame([(3, 5)], "id long, sig long")
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash(docs, bits=40)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_block_pairs(sig, -1, 16)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_neardup_vs_state(sig, state, -1, 16)


@pytest.fixture(scope="module")
def pair_inputs(spark):
    from invalid_spark.pipeline import dedup, similarity

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding")
    sig = dedup.simhash(docs).withColumnRenamed("simhash", "sig")
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts")
    return SimpleNamespace(
        docs=docs, odd_docs=docs.filter("doc_id % 2 = 1"),
        mh_state=dedup.minhash_state(docs.filter("doc_id % 2 = 0")),
        emb=emb, q=emb.filter("vec_id < 8"),
        odd_emb=emb.filter("vec_id % 2 = 1"),
        even_emb=emb.filter("vec_id % 2 = 0"),
        sig=sig, odd_sig=sig.filter("id % 2 = 1"),
        even_sig=sig.filter("id % 2 = 0"), ts=ts,
        images=sig.select(F.col("id").alias("image_id"),
                          F.col("sig").alias("phash"), ts),
        cent=similarity.ivf_md5_centroids(emb, n_lists=8),
    )


def _candidate_cases():
    from invalid_spark import streaming
    from invalid_spark.pipeline import dedup, similarity

    return {
        "shingle_pairs": lambda x: dedup.shingle_pairs(x.docs, max_df=50),
        "lsh_candidates": lambda x: dedup.lsh_candidates(x.docs),
        "minhash_lsh_dedup": lambda x: dedup.minhash_lsh_dedup(x.docs, 0.8),
        "hamming_block_pairs": lambda x: dedup.hamming_block_pairs(
            x.sig, 3, 32),
        "phash_neardup_pairs": lambda x: dedup.phash_neardup_pairs(
            x.images, 3, 32),
        "embedding_neardup_lsh": lambda x: dedup.embedding_neardup_lsh(
            x.emb, 0.9, dim=64),
        "semantic_dedup_pairs": lambda x: dedup.semantic_dedup_pairs(
            x.emb, 0.9, centroids=x.cent),
        "semantic_dedup": lambda x: dedup.semantic_dedup(
            x.emb, 0.9, centroids=x.cent),
        "minhash_dedup_vs_state": lambda x: dedup.minhash_dedup_vs_state(
            x.odd_docs, x.mh_state),
        "hamming_neardup_vs_state": lambda x: dedup.hamming_neardup_vs_state(
            x.odd_sig, x.even_sig, 3, 32),
        "semantic_dedup_vs_state": lambda x: dedup.semantic_dedup_vs_state(
            x.odd_emb, dedup.semantic_state(x.even_emb, x.cent), x.cent, 0.9),
        "semantic_contamination": lambda x: dedup.semantic_contamination(
            x.odd_emb, x.even_emb, x.cent, 0.9),
        "minhash_screen_stream": lambda x: streaming.minhash_screen_stream(
            x.odd_docs.select("doc_id", "text", x.ts), x.mh_state),
        "phash_screen_stream": lambda x: streaming.phash_screen_stream(
            x.images, x.even_sig, 3, 32),
        "lsh_ann": lambda x: similarity.lsh_ann(x.emb, x.q, dim=64),
        "ivf_ann": lambda x: similarity.ivf_ann(x.emb, x.q, centroids=x.cent),
        "ivf_tuning_report": lambda x: similarity.ivf_tuning_report(
            x.emb, x.q, nprobes=(1, 2), centroids=x.cent),
    }


@pytest.mark.parametrize("name", list(_candidate_cases()))
def test_candidate_joins_never_all_pairs(spark, monkeypatch, pair_inputs, name):
    """Every candidate-producing function plans its pairs as an
    equi-join: no CartesianProduct or BroadcastNestedLoopJoin in the
    returned plan or in any plan it checkpoints on the way. The exact
    all-pairs references (embedding_neardup, brute_topk) are the only
    nested-loop plans, so brute_topk's ground truth inside
    ivf_tuning_report is skipped."""
    from invalid_spark.pipeline import similarity

    frame_cls = type(spark.range(1))
    plans, exact = [], set()
    checkpoint, brute = frame_cls.localCheckpoint, similarity.brute_topk

    def spy(df, *a, **kw):
        if id(df) not in exact:
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return checkpoint(df, *a, **kw)

    def tagged_brute(*a, **kw):
        df = brute(*a, **kw)
        exact.add(id(df))
        return df

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    monkeypatch.setattr(similarity, "brute_topk", tagged_brute)
    out = _candidate_cases()[name](pair_inputs)
    plans.append(out._jdf.queryExecution().executedPlan().toString())
    assert "Join" in "".join(plans), "no join planned: guard is vacuous"
    for plan in plans:
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dup_clusters_on_real_lsh_pairs(spark):
    from invalid_spark.pipeline import dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = dedup.minhash_lsh_dedup(docs, 0.8)
    dec = dedup.dedup_decisions(pairs)
    n_pairs = pairs.count()
    members = dec.count()
    keepers = dec.filter("keep").count()
    # every clustered doc appears once; drops = members - components
    assert members >= keepers > 0
    assert dec.groupBy("id").count().filter("count > 1").count() == 0
    # each component keeps exactly one
    per = dec.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("k")
    )
    assert per.filter("k <> 1").count() == 0


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketing co-locates the caption-eq reference join: both sides
    bucketed+sorted on the key → SortMergeJoin with ZERO Exchange
    (vs 2 exchanges over plain parquet)."""
    import contextlib
    import io

    from invalid_spark import synth

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        img = synth.images_df(spark, 500, partitions=4).drop("bytes")
        ref = img.select("image_id", "caption")
        img.write.mode("overwrite").bucketBy(4, "image_id").sortBy(
            "image_id"
        ).saveAsTable("t_img_b")
        ref.write.mode("overwrite").bucketBy(4, "image_id").sortBy(
            "image_id"
        ).saveAsTable("t_ref_b")
        j = spark.table("t_img_b").join(
            spark.table("t_ref_b").withColumnRenamed("caption", "rc"), "image_id"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        txt = buf.getvalue()
        assert "SortMergeJoin" in txt and "Exchange" not in txt
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_img_b")
        spark.sql("DROP TABLE IF EXISTS t_ref_b")


def test_curation_decisions_composite(spark):
    """Composite curation: every doc gets exactly one decision; the
    stage priority holds (planted exact dups of clean docs drop as
    exact_dup, not near_dup; near-dup clusters keep exactly one)."""
    from invalid_spark.pipeline import curate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    extra = docs.filter("doc_id % 10 = 0").withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    src = docs.unionByName(extra)
    n_src = src.count()
    dec = curate.curation_decisions(src).cache()
    assert dec.count() == n_src
    assert dec.groupBy("id").count().filter("count > 1").count() == 0
    by = {r["reason"]: r["n"] for r in
          dec.groupBy("reason").agg(F.count("*").alias("n")).collect()}
    # planted copies of surviving originals must drop as exact_dup
    assert by.get("exact_dup", 0) > 0
    # near-dup pairs exist in the corpus (25 LSH pairs at sf0.01)
    assert by.get("near_dup", 0) > 0
    assert by.get("keep", 0) > 0
    # keep implies not dropped by any stage; drops have a reason
    assert dec.filter("keep AND reason <> 'keep'").count() == 0
    dec.unpersist()


def test_drift_empty_side_returns_zero_not_crash(spark):
    """An all-NULL (or empty) side must yield statistic 0 / p 1, not
    a DIVIDE_BY_ZERO under ANSI mode — dirty priors are exactly what
    a validation run encounters."""
    cur = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    prev_null = spark.createDataFrame([(None,), (None,)], "v double")
    r = drift.ks_drift(cur, prev_null, "v")
    assert r.statistic == 0.0 and not r.drifted
    empty = spark.createDataFrame([], "v string")
    r2 = drift.chi2_drift(cur.selectExpr("CAST(v AS STRING) v"), empty, "v")
    assert r2.statistic == 0.0 and not r2.drifted


def test_drift_nan_excluded_like_null(spark, tmp_path):
    """One NaN must not blind numeric drift: max() over a column with
    a NaN is NaN, and a (lo, NaN) grid puts every value in one bucket.
    NaN is excluded like NULL — from the grid, the histogram and n —
    in the two-sample tests and in the runner's persisted state, so
    the next stored-state comparison still sees a +500 shift."""
    import os

    from invalid_spark import runner
    from invalid_spark.dsl import load_rules

    prev = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    cur = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") + 500).cast("double").alias("v"))
    nan = spark.range(1000, 1001).select(
        F.col("id").alias("k"), F.lit(float("nan")).alias("v"))
    for c, p in ((cur.unionByName(nan), prev), (cur, prev.unionByName(nan))):
        r = drift.ks_drift(c, p, "v")
        assert r.drifted and r.statistic == 0.5, r
        assert (r.n_current, r.n_prior) == (1000, 1000)
        m = drift.multi_drift(c, p, [("v", {"test": "ks"})])["v"]
        assert (m.statistic, m.drifted) == (r.statistic, r.drifted)
        w = drift.wasserstein_drift(c, p, "v")
        assert w.drifted and w.statistic > 0.3
    # stored state written from the NaN-carrying snapshot keeps a
    # finite grid, and the next snapshot's comparison flags the shift
    rules = load_rules("v: {$type: $float, $drift: {test: ks}}\n")
    out = str(tmp_path / "nan")
    runner.validate(spark, prev.unionByName(nan), rules, "k", out,
                    snapshot="s1", manifest_dir=os.path.join(out, "m1"))
    st = spark.read.parquet(os.path.join(out, "drift_state")).collect()
    assert {(r["lo"], r["hi"], r["n"]) for r in st} == {(0.0, 999.0, 1000)}
    runner.validate(spark, cur, rules, "k", out,
                    snapshot="s2", manifest_dir=os.path.join(out, "m2"))
    d = spark.read.parquet(os.path.join(out, "drift")).collect()
    assert len(d) == 1 and d[0]["drifted"] and d[0]["statistic"] == 0.5


def test_phash_neardup_planted_twins(spark, images):
    """Image near-dup over real synthetic phashes: twins planted 2
    bits away are all recovered; clean images produce no pairs; the
    plan never builds a cartesian product."""
    from invalid_spark.pipeline import dedup

    base = images.select("image_id", "phash")
    twins = base.filter(F.substring("image_id", 5, 12).cast("long") % 7 == 0).select(
        F.concat(F.lit("twin-"), "image_id").alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit((1 << 5) | (1 << 44))).alias("phash"),
    )
    df = base.unionByName(twins)
    p = dedup.phash_neardup_pairs(df, max_hamming=3, bits=64)
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    rows = p.collect()
    # dup_id-planted rows share an image_id, so their twins collapse
    # to one id: compare against DISTINCT twin ids
    n_twins = twins.select("image_id").distinct().count()
    planted = {(r["a"], r["b"]) for r in rows if r["hamming"] == 2}
    assert len(planted) >= n_twins
    assert all(r["hamming"] <= 3 for r in rows)


def test_deterministic_split_stable_and_proportional(spark):
    from invalid_spark.pipeline import curate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pick = lambda rows: sorted((r["doc_id"], r["split"]) for r in rows)
    s1 = pick(curate.deterministic_split(docs, "doc_id").collect())
    s2 = pick(curate.deterministic_split(docs.repartition(7), "doc_id").collect())
    # stable under repartition/re-run; input columns preserved
    assert s1 == s2
    assert "text" in curate.deterministic_split(docs, "doc_id").columns
    from collections import Counter

    by = Counter(sp for _, sp in s1)
    n = len(s1)
    assert abs(by["train"] / n - 0.9) < 0.05
    assert by["train"] + by["val"] + by["test"] == n
    # a different salt derives an independent split
    s3 = pick(curate.deterministic_split(docs, "doc_id", salt="v2").collect())
    assert sum(1 for a, b in zip(s1, s3) if a[1] != b[1]) > 0
    # weights must sum to 1; NULL keys get a deterministic assignment
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        curate.deterministic_split(docs, "doc_id", weights={"a": 0.5, "b": 0.4})


def test_repetition_features_planted(spark):
    """Repetition signals: 3 identical lines → dup_line_frac 2/3; a
    looped phrase → dominant bigram share; clean prose → low both."""
    from invalid_spark.pipeline import text as T

    df = spark.createDataFrame(
        [
            (1, "hello world\nhello world\nhello world"),
            (2, " ".join(["buy now"] * 20)),
            (3, "a perfectly ordinary sentence with varied words here"),
        ],
        "doc_id long, text string",
    )
    r = {x["id"]: x for x in T.repetition_features(df).collect()}
    assert r[1]["n_lines"] == 3 and abs(r[1]["dup_line_frac"] - 2 / 3) < 1e-9
    # "buy now buy now ..." → "now buy"×19 + "buy now"×20 of 39 bigrams
    assert r[2]["top_gram_frac"] > 0.5
    assert r[3]["dup_line_frac"] == 0.0 and r[3]["top_gram_frac"] < 0.2


def _scan_count(df_):
    """Number of file-scan nodes in the simple physical plan."""
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df_.explain()
    return buf.getvalue().count("FileScan")


def test_multi_drift_matches_per_column(spark):
    """One-pass multi-column drift is bit-identical to the per-column
    wrappers (shared union grid for unclipped ks, canonical chi2 fold)."""
    cur = synth.images_df(spark, 300).filter("w BETWEEN 1 AND 1000")
    prev = synth.images_prev_df(spark, 300, drifted=True).filter(
        "w BETWEEN 1 AND 1000"
    )
    specs = [
        ("h", {"test": "ks"}),
        ("w", {"test": "ks"}),
        ("fmt", {"test": "chi2"}),
    ]
    got = drift.multi_drift(cur, prev, specs)
    for col, spec in specs:
        ref = (
            drift.chi2_drift(cur, prev, col)
            if spec["test"] == "chi2"
            else drift.ks_drift(cur, prev, col)
        )
        assert got[col].statistic == ref.statistic, col
        assert got[col].p_value == ref.p_value, col
        assert got[col].drifted == ref.drifted, col
        assert got[col].n_current == ref.n_current
        assert got[col].n_prior == ref.n_prior
    # NUMERIC category column (chi2 on ints): categories canonicalize
    # to string spellings in every path, so the fold order — and the
    # statistic — still matches the per-column wrapper bit-for-bit
    num_cat = [("h", {"test": "chi2"})]
    g = drift.multi_drift(cur, prev, num_cat)["h"]
    r = drift.chi2_drift(cur, prev, "h")
    assert (g.statistic, g.p_value, g.drifted) == (
        r.statistic, r.p_value, r.drifted
    )


_PYTHON_NODES = ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython")


def _per_column_counts(df, col, spec, grid):
    """One column's drift-state counts the plain way: its own
    ``groupBy(...).count()`` — numeric values bucketed on ``grid``
    (NULL and NaN dropped), categories as strings (NULL kept)."""
    if spec.get("test", "ks") in ("chi2", "psi"):
        return {
            (col, spec["test"], None, r["cat"]): r["count"]
            for r in df.groupBy(F.col(col).cast("string").alias("cat"))
            .count().collect()
        }
    lo, hi, bins = grid
    width = (hi - lo) / bins or 1.0
    v = F.col(col).cast("double")
    b = F.least(F.lit(bins - 1), F.greatest(
        F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width))))
    return {
        (col, "ks", r["b"], None): r["count"]
        for r in df.filter(v.isNotNull() & ~F.isnan(v))
        .groupBy(b.alias("b")).count().collect()
    }


def test_multi_state_scan_count_independent_of_rules(spark, tmp_path, monkeypatch):
    """The tagged histogram pass reads the table ONCE however many
    $drift rules there are (the per-column path costs 2 scans each),
    and neither it nor the stored-state comparison starts a Python
    worker: no MapInPandas / Python UDF node at any width. The
    comparison's fold reads no table at all: it runs over the counts
    the pass collected."""
    import os as _os

    passes = []
    hist = drift._hist
    monkeypatch.setattr(
        drift, "_hist", lambda *a, **kw: passes.append(hist(*a, **kw)) or passes[-1]
    )
    sf = _os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    df = spark.read.parquet(_os.path.join(sf, "lineitem.parquet"))
    one = [("l_quantity", {})]
    four = [
        ("l_quantity", {}),
        ("l_extendedprice", {}),
        ("l_discount", {}),
        ("l_returnflag", {"test": "chi2"}),
    ]
    def scans(frame):
        # the plan before adaptive execution: the pass has run
        return frame._jdf.queryExecution().sparkPlan().toString().count("FileScan")

    drift.state_frame(df, one, drift.multi_grid(df, one))
    grids4 = drift.multi_grid(df, four)
    s4 = drift.state_frame(df, four, grids4)
    assert [scans(p) for p in passes] == [1, 1]
    # and per-column counts agree with the one-pass state
    rows4 = {
        (r["column_name"], r["test"], r["bucket"], r["cat"]): r["cnt"]
        for r in s4.collect()
    }
    for col, spec in (four[0], four[3]):
        for k, v in _per_column_counts(df, col, spec, grids4.get(col)).items():
            assert rows4[k] == v, k
    # D=16: still one scan, still JVM-only
    wide = df.select(
        "l_returnflag", "l_linestatus",
        *[(F.col("l_quantity") * (i + 1)).alias(f"q{i}") for i in range(8)],
        *[(F.col("l_orderkey") % (i + 2)).alias(f"k{i}") for i in range(6)],
    )
    specs = (
        [(f"q{i}", {"test": "ks"}) for i in range(8)]
        + [("l_returnflag", {"test": "chi2"}), ("l_linestatus", {"test": "psi"})]
        + [(f"k{i}", {"test": "chi2"}) for i in range(6)]
    )
    assert len(specs) == 16
    state = drift.state_frame(wide, specs, drift.multi_grid(wide, specs))
    plan = passes[-1]._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in _PYTHON_NODES if n in plan], plan
    assert scans(passes[-1]) == 1
    # the stored-state comparison: one pass over the current table
    # (read once) and one fold job over the collected counts
    stored_dir = str(tmp_path / "state")
    state.write.parquet(stored_dir)
    folds = []
    fold = drift._fold
    monkeypatch.setattr(
        drift, "_fold", lambda *a: folds.append(fold(*a)) or folds[-1]
    )
    res = drift.multi_drift_vs_state(wide, specs, spark.read.parquet(stored_dir))
    assert len(res) == 16 and not any(r.drifted for r in res.values())
    assert len(folds) == 1 and len(passes) == 4
    # the physical plans before adaptive execution re-plans them
    plan = passes[-1]._jdf.queryExecution().sparkPlan().toString()
    assert not [n for n in _PYTHON_NODES if n in plan], plan
    assert plan.count("lineitem.parquet") == 1, plan
    plan = folds[0]._jdf.queryExecution().sparkPlan().toString()
    assert not [n for n in _PYTHON_NODES if n in plan], plan
    assert "FileScan" not in plan, plan


def test_drift_pass_folds_stored_state_in_one_job(spark, monkeypatch):
    """``drift_pass`` folds its driver-held pair frame (ks and chi2
    columns against stored state) in ONE Spark job: the frame is one
    partition, so the fold's window and aggregate need no exchange. The
    fold's rows equal the same fold over the frame as several
    partitions."""
    from invalid_spark.model import local_frame

    df = spark.range(600).select(
        F.col("id"),
        (F.col("id") % 97 * 1.5).alias("x"),
        (F.col("id") % 7).cast("string").alias("c"),
    )
    specs = [("x", {"test": "ks"}), ("c", {"test": "chi2"})]
    prev, cur = df.filter("id % 2 = 0"), df.filter("id % 2 = 1")
    stored = drift.state_frame(prev, specs, drift.multi_grid(prev, specs)).collect()
    frames = []
    results = drift._results
    monkeypatch.setattr(
        drift, "_results", lambda sp, g, pairs: frames.append(pairs) or results(sp, g, pairs)
    )
    want = drift.drift_pass(cur, specs, {}, stored)[0]
    (pairs,) = frames
    assert set(want) == {"x", "c"}

    sc = spark.sparkContext
    sc.setJobGroup("drift_fold", "the stored-state fold")
    try:
        got = results(specs, drift._stored_grids(stored), pairs)
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("drift_fold")
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs
    assert got == want

    spread = local_frame(spark, pairs.collect(), pairs.schema).repartition(3)
    keys, tests = ["column_name", "test"], {"ks", "chi2"}
    assert sorted(drift._fold(pairs, keys, tests).collect()) == sorted(
        drift._fold(spread, keys, tests).collect())


def test_multi_grid_clip_bounds_outliers(spark):
    """clip in the spec switches that column's grid to quantile
    bounds; unclipped columns in the same single-pass agg keep
    min/max."""
    df = synth.images_df(spark, 300)  # plants w outliers 0 / 100001
    grids = drift.multi_grid(
        df, [("w", {"clip": [0.05, 0.95]}), ("h", {})]
    )
    lo_w, hi_w, _ = grids["w"]
    assert hi_w < 100001 and lo_w > 0  # outliers excluded from grid
    lo_h, hi_h, _ = grids["h"]
    exact = df.selectExpr("min(h) lo", "max(h) hi").collect()[0]
    assert (lo_h, hi_h) == (float(exact["lo"]), float(exact["hi"]))


def test_curation_single_corpus_scan(spark):
    """With cache=True (default) the corpus parquet is scanned once —
    into the eager base checkpoint — and every later stage (exact
    dedup, near-dup, final decision join) feeds from the checkpoint:
    the decisions plan contains ZERO file scans. cache=False must
    produce identical decisions."""
    from invalid_spark.pipeline import curate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    dec = curate.curation_decisions(docs)
    assert _scan_count(dec) == 0  # all stages feed from the checkpoint
    cold = curate.curation_decisions(docs, cache=False)
    got = sorted(tuple(r) for r in dec.collect())
    want = sorted(tuple(r) for r in cold.collect())
    assert got == want


def test_contamination_flags_planted(spark):
    """Eval-overlap decontamination: a train doc quoting a 3-gram
    from the eval set flags; clean and too-short docs do not."""
    from invalid_spark.pipeline import text as T

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "he saw the quick brown fox jumps away yesterday"),
            (2, "completely unrelated sentence about databases and planes"),
            (3, "two words"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in T.contamination_flags(tr, ev, n=3).collect()}
    assert out[1]["contaminated"] and out[1]["n_matched"] >= 2
    assert not out[2]["contaminated"] and out[2]["n_matched"] == 0
    assert out[3]["n_shingles"] == 0 and not out[3]["contaminated"]
    # every train doc gets exactly one row
    assert len(out) == 3


def test_pii_features_and_redaction(spark):
    from invalid_spark.pipeline import text as T

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@ex-ample.co.uk or x@y.io thanks"),
            (2, "server 192.168.0.1 and 10.0.0.255 are up"),
            (3, "ssn 123-45-6789, call 555-867-5309 or +1 nope"),
            (4, "no pii here at all"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in T.pii_features(df).collect()}
    assert out[1]["n_email"] == 2 and out[1]["has_pii"]
    assert out[2]["n_ipv4"] == 2 and out[2]["n_email"] == 0
    assert out[3]["n_ssn"] == 1 and out[3]["n_phone"] == 1
    assert out[4]["n_pii"] == 0 and not out[4]["has_pii"]
    assert out[5]["n_pii"] == 0  # NULL text → zero counts, not NULL
    red = {r["doc_id"]: r["text"] for r in T.redact_pii(df).collect()}
    assert red[1] == "mail me at [EMAIL] or [EMAIL] thanks"
    assert red[2] == "server [IPV4] and [IPV4] are up"
    assert red[3] == "ssn [SSN], call [PHONE] or +1 nope"
    assert red[4] == "no pii here at all"
    # redacted text has no remaining PII
    assert all(
        r["n_pii"] == 0
        for r in T.pii_features(T.redact_pii(df)).collect()
    )


def test_hash_sample_deterministic_and_nested(spark):
    from invalid_spark.pipeline import curate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s10a = {r["doc_id"] for r in
            curate.hash_sample(docs, 0.1).select("doc_id").collect()}
    s10b = {r["doc_id"] for r in
            curate.hash_sample(docs, 0.1).select("doc_id").collect()}
    s50 = {r["doc_id"] for r in
           curate.hash_sample(docs, 0.5).select("doc_id").collect()}
    assert s10a == s10b                      # re-run stable
    assert s10a <= s50                       # buckets nest
    n = docs.count()
    assert abs(len(s50) / n - 0.5) < 0.08    # rate ≈ honored
    # a different salt draws an independent sample
    s10c = {r["doc_id"] for r in
            curate.hash_sample(docs, 0.1, salt="v2").select("doc_id").collect()}
    assert s10c != s10a
    # stratified: en kept fully, others at the default rate
    strat = curate.hash_sample(
        docs, rate=0.1, strata_col="lang", rates={"en": 1.0}
    )
    n_en = docs.filter("lang = 'en'").count()
    assert strat.filter("lang = 'en'").count() == n_en
    assert strat.filter("lang <> 'en'").count() < 0.25 * n
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rate"):
        curate.hash_sample(docs, 1.5)
    with _pytest.raises(ValueError, match="strata_col"):
        curate.hash_sample(docs, rates={"en": 0.5})


def test_line_filter_boilerplate(spark):
    from invalid_spark.pipeline import text as T

    df = spark.createDataFrame(
        [
            (1, "Enable JavaScript to continue\nA real sentence with "
                "several words here\nAll Rights Reserved"),
            (2, "Menu\nLogin\nthe actual article body text goes here"),
            (3, "one two\nshort"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in T.line_filter(df).collect()}
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 1
    assert out[1]["text"] == "A real sentence with several words here"
    assert out[2]["n_kept"] == 1
    assert out[2]["text"] == "the actual article body text goes here"
    assert out[3]["n_kept"] == 0 and out[3]["text"] == ""  # all too short
    assert out[4]["n_kept"] == 0  # NULL text → empty, not crash
    # accepts a custom pattern set
    custom = T.line_filter(df, drop_patterns=(), min_words=1)
    assert {r["id"]: r["n_kept"] for r in custom.collect()}[1] == 3


def test_stat_assertions_single_pass(spark):
    """Table-level constraint verification: every assertion evaluates
    in one aggregation over one scan; verdicts honor min/max bounds;
    an all-NULL column yields passed=False (value NULL fails)."""
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "a"), (4, 30.0, None)],
        "id long, v double, c string",
    )
    specs = [
        {"col": "v", "stat": "null_rate", "max": 0.3},
        {"col": "v", "stat": "mean", "min": 19.0, "max": 21.0},
        {"col": "v", "stat": "min", "min": 15.0},           # fails (10)
        {"col": "c", "stat": "ndv", "min": 2.0, "max": 2.0},
        {"col": "id", "stat": "max", "max": 4.0},
    ]
    out = {(r["col_name"], r["stat"]): r
           for r in stats.stat_assertions(df, specs).collect()}
    assert out[("v", "null_rate")]["passed"]  # 1/4 = 0.25 <= 0.3
    assert out[("v", "null_rate")]["value"] == 0.25
    assert out[("v", "mean")]["passed"] and out[("v", "mean")]["value"] == 20.0
    assert not out[("v", "min")]["passed"]
    assert out[("c", "ndv")]["value"] == 2.0 and out[("c", "ndv")]["passed"]
    assert out[("id", "max")]["passed"]
    with pytest.raises(ValueError, match="stat"):
        stats.stat_assertions(df, [{"col": "v", "stat": "median"}])
    # all-NULL column: value NULL -> failed, not crash
    nn = spark.createDataFrame([(None,), (None,)], "x double")
    r = stats.stat_assertions(nn, [{"col": "x", "stat": "mean", "min": 0}])
    row = r.collect()[0]
    assert row["value"] is None and not row["passed"]


def test_drift_state_out_of_range_bucket_rejected(spark):
    """A stored drift state whose bucket values disagree with its bins
    field (legacy / hand-edited state) fails loudly instead of
    aliasing into another bucket."""
    cur = spark.createDataFrame([(1.0,), (2.0,)], "w double")
    for bucket in (9, -1):
        stored = spark.createDataFrame(
            [("w", "ks", bucket, None, 3, 0.0, 4.0, 4, 3)], drift.STATE_SCHEMA
        )
        with pytest.raises(ValueError, match="corrupt"):
            drift.multi_drift_vs_state(cur, [("w", {"test": "ks"})], stored)


def test_multi_state_wide_bit_parity(spark):
    """The one histogram builder at D=16 drift rules equals each
    column's own groupBy count on the same grid, including NULL
    numeric exclusion, NULL categories kept, numeric chi2 categories
    and clipped grids."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    # 16 derived drift columns: 8 numeric (one clipped, one with
    # NULLs), 8 categorical (one numeric-valued, one with NULLs)
    df = ev.select(
        "value", "event_type", "user_id",
        *[(F.col("value") * (i + 2)).alias(f"num_{i}") for i in range(6)],
        F.when(F.col("user_id") % 7 != 0, F.col("value")).alias("num_null"),
        F.when(F.col("user_id") % 5 != 0, F.col("event_type"))
        .alias("cat_null"),
        (F.col("user_id") % 3).alias("cat_num"),
        *[
            F.concat(F.lit(f"g{i}_"), (F.col("user_id") % (i + 2))
                     .cast("string")).alias(f"cat_{i}")
            for i in range(5)
        ],
    )
    specs = (
        [("value", {"test": "ks", "clip": [0.05, 0.95]})]
        + [(f"num_{i}", {"test": "ks", "bins": 64}) for i in range(6)]
        + [("num_null", {"test": "ks"})]
        + [("event_type", {"test": "chi2"}), ("cat_null", {"test": "chi2"}),
           ("cat_num", {"test": "chi2"})]
        + [(f"cat_{i}", {"test": "chi2"}) for i in range(5)]
    )
    assert len(specs) == 16
    grids = drift.multi_grid(df, specs)
    got = {
        (r["column_name"], r["test"], r["bucket"], r["cat"]): r["cnt"]
        for r in drift.state_frame(df, specs, grids).collect()
    }
    want = {}
    for col, spec in specs:
        want.update(_per_column_counts(df, col, spec, grids.get(col)))
    assert got == want and len(got) > 0
    # the clipped grid really clips: the clamped edge buckets are hit
    assert got[("value", "ks", 0, None)] > 0
    assert got[("value", "ks", 255, None)] > 0


def test_anomaly_evaluate_semantics():
    """Driver-side $anomaly math: absolute bounds, relative change vs
    the last-k mean, first-run pass, zero-baseline handling."""
    from invalid_spark.checks import anomaly

    specs = [("w", {"metric": "violation_rate", "max_rel_change": 0.5,
                    "last_k": 2})]
    hist = [
        {"col_name": "w", "metric": "violation_rate", "value": 0.10, "seq": 1},
        {"col_name": "w", "metric": "violation_rate", "value": 0.10, "seq": 2},
        {"col_name": "w", "metric": "violation_rate", "value": 0.02, "seq": 3},
    ]
    # last_k=2 → baseline = mean(0.10, 0.02) = 0.06; 0.12 doubles it
    r = anomaly.evaluate(specs, {("w", "violation_rate"): 0.12}, hist)[0]
    assert not r.passed and abs(r.baseline - 0.06) < 1e-12
    assert abs(r.rel_change - 1.0) < 1e-12 and r.n_history == 2
    # within tolerance passes
    ok = anomaly.evaluate(specs, {("w", "violation_rate"): 0.08}, hist)[0]
    assert ok.passed
    # no history: relative check passes, absolute bounds still apply
    first = anomaly.evaluate(specs, {("w", "violation_rate"): 0.9}, [])[0]
    assert first.passed and first.baseline is None
    bounded = [("w", {"metric": "violation_rate", "max": 0.5})]
    r2 = anomaly.evaluate(bounded, {("w", "violation_rate"): 0.9}, [])[0]
    assert not r2.passed
    # zero baseline, nonzero current → infinite rel change → flagged
    zhist = [{"col_name": "w", "metric": "violation_rate", "value": 0.0,
              "seq": 1}]
    rz = anomaly.evaluate(specs, {("w", "violation_rate"): 0.1}, zhist)[0]
    assert not rz.passed and rz.rel_change == float("inf")
    # unknown metric rejected
    with pytest.raises(ValueError, match="anomaly metric"):
        anomaly.current_metric_values(
            None, None, [("w", {"metric": "median"})]
        )


def test_anomaly_rel_change_window_matches_evaluate(spark):
    """The windowed DataFrame fold (rel_change_over_history) computes
    the same baselines/changes as the driver-side evaluate path."""
    from invalid_spark.checks import anomaly

    rows = [("w", "violation_rate", v, i + 1, "r", f"s{i+1}")
            for i, v in enumerate([0.10, 0.10, 0.02, 0.12])]
    hist = spark.createDataFrame(rows, anomaly.HISTORY_SCHEMA)
    got = {r["seq"]: r for r in
           anomaly.rel_change_over_history(hist, last_k=2).collect()}
    assert got[1]["baseline"] is None
    assert abs(got[2]["baseline"] - 0.10) < 1e-12
    assert abs(got[3]["baseline"] - 0.10) < 1e-12
    assert abs(got[4]["baseline"] - 0.06) < 1e-12
    assert abs(got[4]["rel_change"] - 1.0) < 1e-12
    # parity with evaluate at the last point
    specs = [("w", {"metric": "violation_rate", "max_rel_change": 0.5,
                    "last_k": 2})]
    ev = anomaly.evaluate(
        specs, {("w", "violation_rate"): 0.12},
        [{"col_name": "w", "metric": "violation_rate", "value": v,
          "seq": i + 1} for i, v in enumerate([0.10, 0.10, 0.02])],
    )[0]
    assert abs(ev.baseline - got[4]["baseline"]) < 1e-12
    assert abs(ev.rel_change - got[4]["rel_change"]) < 1e-12


def test_suggest_rules_round_trip(spark):
    """Constraint suggestion: the suggested YAML loads, and the
    profiled table passes its own suggested rules with ZERO
    violations; data violating the suggested bounds is flagged."""
    from invalid_spark import suggest
    from invalid_spark.checks.rows import run_row_checks
    from invalid_spark.dsl import load_rules

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    yml = suggest.suggest_rules(docs, row_key="doc_id")
    rules = load_rules(yml)
    assert run_row_checks(docs, rules, "doc_id").count() == 0
    # the suggested rules are real constraints: a row outside the
    # observed ranges / enums violates them
    bad = docs.limit(1).withColumn("lang", F.lit("zz-unseen"))
    v = run_row_checks(bad, rules, "doc_id").collect()
    assert any(r["error_type"] == "ofMismatch" for r in v) or any(
        r["error_type"] == "strLengthMismatch" for r in v
    )
    # numeric range rule fires too
    import yaml as _y

    parsed = _y.safe_load(yml)
    num_cols = [k for k, r in parsed.items() if "$range" in r]
    assert num_cols, yml


def test_suggest_rules_proposes_format(spark):
    """A string column whose every non-null value matches a named
    whole-value pattern is suggested as $format (not $length); mixed
    columns are not; the round-trip still passes."""
    from invalid_spark import suggest
    from invalid_spark.checks.rows import run_row_checks
    from invalid_spark.dsl import load_rules
    import yaml as _y

    df = spark.createDataFrame(
        [
            (1, "a@example.com", "550e8400-e29b-41d4-a716-446655440000",
             "some free text one"),
            (2, "b.c@sub.example.org", "123e4567-e89b-12d3-a456-426614174000",
             "totally different words"),
            (3, None, "00000000-0000-0000-0000-000000000000",
             "a@looks-like-mail.com maybe"),
        ],
        "id long, em string, uid string, txt string",
    )
    yml = suggest.suggest_rules(df, row_key="id", ndv_enum_max=1)
    parsed = _y.safe_load(yml)
    assert parsed["em"]["$format"] == "email"
    assert parsed["em"]["$optional"] is True  # NULL seen
    assert parsed["uid"]["$format"] == "uuid"
    assert "$format" not in parsed["txt"] and "$length" in parsed["txt"]
    rules = load_rules(yml)
    assert run_row_checks(df, rules, "id").count() == 0
    # and the suggested format is a real constraint
    bad = df.limit(1).withColumn("em", F.lit("not-an-email"))
    v = run_row_checks(bad, rules, "id").collect()
    assert any(r["error_type"] == "formatMismatch" for r in v)


def test_round3_operator_plan_shapes(spark):
    """Plan assertions for the round-3 operators: contamination's
    candidate join is a broadcast equi-join (never cartesian),
    hash_sample and pii_features stay shuffle-free projections."""
    import contextlib
    import io as _io

    from invalid_spark.pipeline import curate
    from invalid_spark.pipeline import text as T

    def plan_of(df_):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df_.explain()
        return buf.getvalue()

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    ev = docs.filter("doc_id % 29 = 0")
    tr = docs.filter("doc_id % 29 <> 0")
    p = plan_of(T.contamination_flags(tr, ev, n=3))
    assert "BroadcastHashJoin" in p and "Cartesian" not in p
    assert plan_of(curate.hash_sample(docs, 0.1)).count("Exchange") == 0
    assert plan_of(T.pii_features(docs)).count("Exchange") == 0
    assert plan_of(T.redact_pii(docs)).count("Exchange") == 0


def test_column_entropy(spark):
    """Entropy semantics: uniform → ln(ndv), constant → 0, NULL is a
    real category; both requested columns come out of ONE scan (one
    Generate + one final aggregate in the plan)."""
    import math

    df = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"), ("d", "x")] * 5
        + [(None, "x")] * 0,
        "u string, k string",
    )
    out = stats.column_entropy(df, ["u", "k"])
    got = {r.column_name: r for r in out.collect()}
    assert abs(got["u"].entropy - math.log(4)) < 1e-12
    assert got["u"].ndv == 4 and got["u"].n_rows == 20
    assert got["k"].entropy == 0.0 and got["k"].ndv == 1
    # NULL category counts
    df2 = spark.createDataFrame([("a",), (None,)], "u string")
    r = stats.column_entropy(df2, ["u"]).collect()[0]
    assert abs(r.entropy - math.log(2)) < 1e-12 and r.ndv == 2
    # single scan: one Generate (the tagged explode), no second
    # FileScan-equivalent pass per column. After execution AQE prints
    # Final + Initial plans; count inside the final segment only.
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate") == 1


def test_pearson_corr(spark):
    """Correlation semantics: exact ±1 on linear columns, NULL on a
    constant side, pair-complete-row semantics (a NULL on either side
    drops the row for that pair only); both pairs share one agg."""
    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0, 5.0), (2.0, 4.0, -2.0, 5.0),
         (3.0, 6.0, -3.0, 5.0), (None, 9.0, -4.0, 5.0)],
        "x double, y double, z double, c double",
    )
    out = {(r.col_x, r.col_y): r for r in stats.pearson_corr(
        df, [("x", "y"), ("x", "z"), ("y", "c")]).collect()}
    assert abs(out[("x", "y")].corr - 1.0) < 1e-12
    assert out[("x", "y")].n == 3  # NULL x row dropped for this pair
    assert abs(out[("x", "z")].corr + 1.0) < 1e-12
    assert out[("y", "c")].corr is None  # constant side → undefined


def test_mutual_information(spark):
    """MI semantics: independent columns → 0 exactly (counts
    factorize), identical columns → their entropy, asymmetric NULLs
    count as categories."""
    import math

    # independent: every (a, b) cell count = product of marginals / n
    rows = [(a, b) for a in "xy" for b in "pq" for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = stats.mutual_information(df, "a", "b").collect()[0]
    assert abs(r.mi) < 1e-12 and r.n_rows == 20
    # identical columns: MI == H(col)
    df2 = spark.createDataFrame(
        [("a", "a")] * 2 + [("b", "b")] * 2, "a string, b string")
    r2 = stats.mutual_information(df2, "a", "b").collect()[0]
    assert abs(r2.mi - math.log(2)) < 1e-12


def test_hot_keys(spark):
    """Skew profiler: planted hot key is rank 1 with the right share;
    ties break by value ascending; the plan uses TakeOrderedAndProject
    (distributed partial top-k), never a global sort of the counts."""
    df = spark.createDataFrame(
        [("hot",)] * 60 + [("w1",)] * 20 + [("w2",)] * 20,
        "k string",
    )
    out = stats.hot_keys(df, "k", k=2)
    rows = {r.rank: r for r in out.collect()}
    assert rows[1].value == "hot" and rows[1].cnt == 60
    assert abs(rows[1].share - 0.6) < 1e-12
    assert rows[2].value == "w1"  # tie with w2 → value ASC
    assert len(rows) == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def _emb_frame(spark, n, dim=8, shift=0.0, offset=0):
    """Deterministic synthetic embeddings: component (row, i) is a
    modular pseudo-uniform in [-0.5, 0.5) (+ optional shift) — same
    generator both sides, so two id ranges share one distribution."""
    comp = (
        ((F.col("id") + offset) * 13 + F.col("i") * 7) % 101
    ).cast("double") / F.lit(101.0) - F.lit(0.5) + F.lit(float(shift))
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)).alias("i"),
            lambda i: (((F.col("id") + offset) * 13 + i * 7) % 101)
            .cast("double") / 101.0 - 0.5 + float(shift),
        ).alias("embedding"),
    )


def test_embedding_drift_flags_shift_not_null(spark):
    """Vector-column drift: the hyperplane-projection KS flags a
    planted component shift and stays quiet on two id ranges drawn
    from the same generator."""
    prev = _emb_frame(spark, 400, offset=400)
    same = _emb_frame(spark, 400)
    shifted = _emb_frame(spark, 400, shift=0.6)
    quiet = drift.embedding_drift(same, prev, dim=8, planes=4, threshold=0.01)
    assert len(quiet) == 4
    assert not any(r.drifted for r in quiet.values()), {
        p: (r.statistic, r.p_value) for p, r in quiet.items()
    }
    loud = drift.embedding_drift(shifted, prev, dim=8, planes=4, threshold=0.01)
    assert any(r.drifted for r in loud.values()), {
        p: (r.statistic, r.p_value) for p, r in loud.items()
    }
    assert all(r.n_current == 400 and r.n_prior == 400 for r in loud.values())


def test_embedding_drift_matches_scalar_ks(spark):
    """Bit-parity: each plane's statistic equals ks_statistic_df run
    on the projected scalars (the multi_drift ≡ per-column contract,
    extended through the projection)."""
    prev = _emb_frame(spark, 300, offset=300)
    cur = _emb_frame(spark, 300, shift=0.3)
    pl = drift.projection_planes(8, 2)
    res = drift.embedding_drift(cur, prev, plane_matrix=pl)
    pc = drift.project_embeddings(cur, plane_matrix=pl)
    pp = drift.project_embeddings(prev, plane_matrix=pl)
    for p in range(2):
        row = drift.ks_statistic_df(pc, pp, f"proj_{p}").collect()[0]
        assert res[p].statistic == row["statistic"], (p, res[p], row)
        assert (res[p].n_current, res[p].n_prior) == (row["n_cur"], row["n_prior"])


def test_embedding_state_roundtrip(spark):
    """Continuous story: persistable embedding_state re-buckets
    tomorrow's projections in one scan; shift still flagged, same
    data stays quiet; plane count preserved through the state."""
    prev = _emb_frame(spark, 400, offset=400)
    st = drift.embedding_state(prev, dim=8, planes=3)
    # state frame is the standard STATE_SCHEMA → runner-sink compatible
    assert set(st.columns) == {
        "column_name", "test", "bucket", "cat", "cnt", "lo", "hi", "bins", "n"
    }
    shifted = _emb_frame(spark, 400, shift=0.6)
    loud = drift.embedding_drift_vs_state(shifted, st, dim=8, planes=3)
    assert len(loud) == 3 and any(r.drifted for r in loud.values())
    quiet = drift.embedding_drift_vs_state(prev, st, dim=8, planes=3)
    assert not any(r.drifted for r in quiet.values()), {
        p: (r.statistic, r.p_value) for p, r in quiet.items()
    }


def test_embedding_projection_plan_is_jvm_side(spark):
    """The projection is pure Catalyst (left-fold dot over literal
    planes) — no Python eval node; NULL vectors drop out of the
    histogram like NULL scalars."""
    df = _emb_frame(spark, 50).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 10 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    proj = drift.project_embeddings(df, dim=8, planes=2, keep=("vec_id",))
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    st = drift.embedding_state(df, dim=8, planes=2)
    ns = {r["column_name"]: r["n"] for r in st.collect()}
    assert ns == {"proj_0": 45, "proj_1": 45}


def test_ks_by_group_matches_per_group_scalar(spark):
    """Per-partition KS == ks_statistic_df run on each group's
    filtered frames (same per-group min/max grid by construction);
    the planted per-group shift flags ONLY that group."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    prev = ev.filter("event_id % 2 = 0")
    cur = ev.filter("event_id % 2 = 1").withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.col("value") + 30.0)
        .otherwise(F.col("value")),
    )
    out = {
        r["event_type"]: r
        for r in drift.ks_statistic_by_group(
            cur, prev, "value", "event_type", alpha=0.01
        ).collect()
    }
    assert out["click"]["drifted"]
    quiet = [g for g in out if g != "click"]
    assert quiet and not any(out[g]["drifted"] for g in quiet), out
    for g in ("click", "view", "error"):
        row = drift.ks_statistic_df(
            cur.filter(F.col("event_type") == g),
            prev.filter(F.col("event_type") == g),
            "value",
        ).collect()[0]
        assert out[g]["statistic"] == row["statistic"], (g, out[g], row)
        assert (out[g]["n_cur"], out[g]["n_prior"]) == (
            row["n_cur"], row["n_prior"])


def test_chi2_by_group_matches_per_group_scalar(spark):
    """Per-partition chi² == chi2_statistic_df per filtered group
    (canonical category fold per group)."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    ev = ev.withColumn("g", (F.col("user_id") % 3).cast("string"))
    prev = ev.filter("event_id % 2 = 0")
    cur = ev.filter("event_id % 2 = 1")
    out = {
        r["g"]: r
        for r in drift.chi2_statistic_by_group(
            cur, prev, "event_type", "g"
        ).collect()
    }
    assert set(out) == {"0", "1", "2"}
    for g in out:
        row = drift.chi2_statistic_df(
            cur.filter(F.col("g") == g), prev.filter(F.col("g") == g),
            "event_type",
        ).collect()[0]
        assert out[g]["statistic"] == row["statistic"], (g, out[g], row)
        assert out[g]["dof"] == row["dof"]


def test_outlier_violations_iqr_and_zscore(spark):
    df = spark.createDataFrame(
        [(i, float(i % 10)) for i in range(100)] + [(100, 1e6), (101, None)],
        "rid bigint, v double",
    )
    v = stats.outlier_violations(df, "v", "rid").collect()
    # the planted spike only; NULL is not an outlier
    assert [(r.row_key, r.error_type) for r in v] == [("100", "outlier")]
    lo, hi = stats.outlier_bounds(df, "v", method="zscore", k=3.0)
    assert lo < 0 < hi
    with pytest.raises(ValueError, match="unknown outlier method"):
        stats.outlier_bounds(df, "v", method="mad")


def test_benford_planted_distribution(spark):
    """A column drawn exactly from Benford proportions scores ~0; a
    constant-leading-digit column scores enormous; zeros and NULLs
    are excluded from n."""
    import math as _m

    rows = []
    for d in range(1, 10):
        rows += [(float(d) * 10,)] * round(1000 * _m.log10(1 + 1 / d))
    benford = spark.createDataFrame(rows, "v double")
    r = stats.benford_test(benford, "v").collect()[0]
    assert r["n"] == len(rows) and r["statistic"] < 1.0, r
    flat = spark.createDataFrame(
        [(9000.0,)] * 500 + [(0.4,), (None,)], "v double"
    )
    r2 = stats.benford_test(flat, "v").collect()[0]
    # 0.4 truncates to 0 (no leading digit) and NULL drops → n = 500
    assert r2["n"] == 500 and r2["statistic"] > 1000


def test_null_rates_by_group(spark):
    df = spark.createDataFrame(
        [("a", None, 1.0), ("a", "x", None), ("a", "y", 2.0),
         ("b", None, None)],
        "g string, s string, v double",
    )
    out = {(r["g"], r["column_name"]): r
           for r in stats.null_rates_by_group(df, ["s", "v"], "g").collect()}
    assert out[("a", "s")]["n_null"] == 1 and out[("a", "s")]["n"] == 3
    assert out[("a", "v")]["null_rate"] == pytest.approx(1 / 3)
    assert out[("b", "s")]["null_rate"] == 1.0
    assert out[("b", "v")]["null_rate"] == 1.0


def test_freshness(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 30, 12, 0, 0),),
         (dt.datetime(2024, 1, 31, 11, 30, 0),)],
        "ts timestamp",
    )
    now = dt.datetime(2024, 1, 31, 12, 0, 0, tzinfo=dt.timezone.utc)
    r = stats.freshness(df, "ts", 3600, now).collect()[0]
    assert r["fresh"] and r["age_seconds"] == 1800.0
    r2 = stats.freshness(df, "ts", 900, now).collect()[0]
    assert not r2["fresh"]
    # naive `now` is interpreted as UTC (documented contract)
    r3 = stats.freshness(
        df, "ts", 3600, dt.datetime(2024, 1, 31, 12, 0, 0)
    ).collect()[0]
    assert r3["age_seconds"] == 1800.0


def test_mix_report_and_sample(spark):
    from invalid_spark.pipeline import curate

    df = spark.createDataFrame(
        [(i, "web" if i % 10 < 8 else ("code" if i % 10 == 8 else "books"))
         for i in range(1000)],
        "doc_id long, domain string",
    )
    # 800 web / 100 code / 100 books; target 50/25/25 → binding domain
    # is code/books: T = 100/0.25 = 400 → web rate 0.25, others 1.0
    rep = {r["domain"]: r for r in
           curate.mix_report(df, "domain", {"web": 2, "code": 1, "books": 1})
           .collect()}
    assert rep["web"]["n"] == 800 and rep["web"]["sampling_rate"] == 0.25
    assert rep["code"]["sampling_rate"] == 1.0
    assert rep["books"]["n_keep"] == 100
    assert rep["web"]["n_keep"] == 200
    assert abs(rep["web"]["share"] - 0.8) < 1e-12
    # undeclared domain: whitelist semantics
    rep2 = {r["domain"]: r for r in
            curate.mix_report(df, "domain", {"web": 1, "code": 1}).collect()}
    assert rep2["books"]["target_share"] is None
    assert rep2["books"]["sampling_rate"] == 0.0
    # declared-but-absent domain → infeasible → all rates 0
    rep3 = {r["domain"]: r for r in
            curate.mix_report(df, "domain", {"web": 1, "nope": 1}).collect()}
    assert all(r["sampling_rate"] == 0.0 for r in rep3.values())
    assert rep3["nope"]["n"] == 0
    # sampling: deterministic, approximately hits the mix, drops undeclared
    out = curate.mix_sample(df, "domain", {"web": 2, "code": 1, "books": 1})
    assert out.columns == df.columns
    got = {r["domain"]: r["n"] for r in
           out.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert got["code"] == 100 and got["books"] == 100  # rate-1.0 exact
    assert abs(got["web"] - 200) < 40                  # hash-bucket ≈
    out2 = curate.mix_sample(df, "domain", {"web": 2, "code": 1, "books": 1})
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in out2.collect())    # re-run stable
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be > 0"):
        curate.mix_report(df, "domain", {"web": 0.0})
    with _pytest.raises(ValueError, match="at least one"):
        curate.mix_report(df, "domain", {})


def test_exact_dedup_vs_state(spark):
    from invalid_spark.pipeline import dedup

    prior = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")],
        "doc_id long, text string",
    )
    state = dedup.fingerprint_state(prior)
    assert state.columns == ["fingerprint"] and state.count() == 2
    cur = spark.createDataFrame(
        [
            (10, "Hello,   WORLD"),        # normalizes to a corpus dup
            (11, "something genuinely new"),
            (12, "something genuinely new"),  # in-batch dup of 11
            (13, "another fresh doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["decision"] for r in
           dedup.exact_dedup_vs_state(cur, state).collect()}
    assert out == {10: "dup_of_corpus", 11: "new",
                   12: "dup_in_batch", 13: "new"}
    # appending the new rows' fingerprints closes the loop: re-running
    # the same batch against the grown state flags everything as seen
    new_fps = dedup.fingerprint_state(
        cur.join(
            dedup.exact_dedup_vs_state(cur, state)
            .filter("decision = 'new'").select("doc_id"),
            "doc_id",
        )
    )
    grown = state.unionByName(new_fps).distinct()
    out2 = {r["doc_id"]: r["decision"] for r in
            dedup.exact_dedup_vs_state(cur, grown).collect()}
    assert set(out2.values()) == {"dup_of_corpus"}


def test_chi2_vs_expected(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 60 else "b") for i in range(100)],
        "id long, lab string",
    )
    # 60/40 vs declared 50/50: stat = 2*(10^2/50) = 4.0 > crit(1,.05)=3.84
    r = drift.chi2_vs_expected(df, "lab", {"a": 1, "b": 1}).collect()[0]
    assert abs(r["statistic"] - 4.0) < 1e-9
    assert r["n"] == 100 and r["n_unexpected"] == 0 and r["dof"] == 1
    assert r["drifted"]
    # 50/50 data passes
    df2 = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)],
        "id long, lab string",
    )
    r2 = drift.chi2_vs_expected(df2, "lab", {"a": 1, "b": 1}).collect()[0]
    assert r2["statistic"] == 0.0 and not r2["drifted"]
    # any unexpected category (incl. NULL) fails the gate even when the
    # declared support matches perfectly
    df3 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "zz"), (4, None)],
        "id long, lab string",
    )
    r3 = drift.chi2_vs_expected(df3, "lab", {"a": 1, "b": 1}).collect()[0]
    assert r3["n"] == 2 and r3["n_unexpected"] == 2 and r3["drifted"]
    # declared category absent from the data still contributes n*p
    df4 = spark.createDataFrame([(1, "a"), (2, "a")], "id long, lab string")
    r4 = drift.chi2_vs_expected(df4, "lab", {"a": 1, "b": 1}).collect()[0]
    assert abs(r4["statistic"] - 2.0) < 1e-9  # (2-1)^2/1 + (0-1)^2/1
    # empty frame: vacuous statistic, no unexpected, not drifted
    r5 = drift.chi2_vs_expected(
        df4.filter("id < 0"), "lab", {"a": 1, "b": 1}
    ).collect()[0]
    assert r5["statistic"] == 0.0 and r5["n"] == 0 and not r5["drifted"]
    with pytest.raises(ValueError, match=">= 2"):
        drift.chi2_vs_expected(df, "lab", {"a": 1})
    with pytest.raises(ValueError, match="> 0"):
        drift.chi2_vs_expected(df, "lab", {"a": 1, "b": 0})


def test_mix_report_weighted(spark):
    from invalid_spark.pipeline import curate

    df = spark.createDataFrame(
        # web: 2 docs / 100 tokens total; code: 4 docs / 300 tokens
        [(1, "web", 40), (2, "web", 60), (3, "code", 100),
         (4, "code", 100), (5, "code", 50), (6, "code", 50)],
        "doc_id long, domain string, n_tok long",
    )
    rep = {r["domain"]: r for r in
           curate.mix_report(df, "domain", {"web": 1, "code": 1},
                             weight_col="n_tok").collect()}
    # T = min(100/.5, 300/.5) = 200 → web rate 1.0, code 100/300
    assert rep["web"]["n"] == 100.0 and rep["web"]["sampling_rate"] == 1.0
    assert abs(rep["code"]["sampling_rate"] - 1 / 3) < 1e-12
    assert rep["code"]["n_keep"] == 100  # floor(rate * token total)
    assert abs(rep["web"]["share"] - 0.25) < 1e-12  # 100 of 400 tokens
    # sampling keeps whole docs; rate-1.0 domain keeps all
    out = curate.mix_sample(df, "domain", {"web": 1, "code": 1},
                            weight_col="n_tok")
    assert out.filter("domain = 'web'").count() == 2
    assert out.filter("domain = 'code'").count() <= 4


def test_round4_late_op_plan_shapes(spark):
    """Scale-shape assertions for the late round-4 operators: the
    claims in PLANS.md §22-24 are CI-enforced, not prose."""
    from invalid_spark import runner as R
    from invalid_spark.pipeline import curate, dedup
    import pyspark.sql.functions as _F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    # snapshot_diff: exactly one (full-outer) join, never a cartesian
    d = R.snapshot_diff(
        docs.select("doc_id", "lang"),
        docs.filter("doc_id % 2 = 0").select("doc_id", "lang"),
        "doc_id",
    )
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1

    # mix_sample: the corpus payload joins the rates by BROADCAST hash
    # join (the only nested-loop is the benign 1-row cap cross join)
    s = curate.mix_sample(docs, "source", {"src1": 1, "src2": 1})
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    # chi2_vs_expected(materialize=True): the returned frame reads the
    # checkpointed category counts — the corpus parquet appears ZERO
    # times downstream (it was aggregated once, eagerly)
    from invalid_spark.checks import drift as _drift
    g = _drift.chi2_vs_expected(docs, "lang", {"en": 1, "fr": 1})
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan

    # incremental dedup: equi-joins only, 16-byte-key payloads
    st = dedup.fingerprint_state(docs.filter("doc_id % 2 = 0"))
    inc = dedup.exact_dedup_vs_state(docs.filter("doc_id % 2 = 1"), st)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_dup_span_stats_planted(spark):
    """Span-level duplication: cross-doc shared 3-gram spans merge
    into covered-token intervals; within-doc repetition and unique
    docs stay at zero coverage."""
    from invalid_spark.pipeline import dedup as D

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "xx alpha beta gamma delta yy"),
            (3, "one two three four five"),
            (4, "repeat me repeat me repeat me now"),
            (5, "hi"),
            (6, "one two three four five"),
            (7, "totally unique words nobody else wrote here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in D.dup_span_stats(df, n=3, coverage_threshold=0.5).collect()
    }
    assert len(out) == 7
    # docs 1/2 share grams "alpha beta gamma" + "beta gamma delta":
    # two overlapping [i, i+3) intervals merge to 4 covered tokens
    for i in (1, 2):
        assert out[i]["n_dup_positions"] == 2
        assert out[i]["covered_tokens"] == 4
        assert out[i]["coverage_frac"] == pytest.approx(4 / 6, abs=1e-6)
        assert out[i]["flagged"]
    # exact duplicate pair 3/6: every position duplicated, full cover
    for i in (3, 6):
        assert out[i]["n_dup_positions"] == out[i]["n_positions"] == 3
        assert out[i]["covered_tokens"] == 5
        assert out[i]["coverage_frac"] == 1.0 and out[i]["flagged"]
    # within-doc repetition does NOT count (df is over distinct docs)
    assert out[4]["n_dup_positions"] == 0 and out[4]["covered_tokens"] == 0
    assert not out[4]["flagged"]
    # too short for any gram
    assert out[5]["n_positions"] == 0 and out[5]["coverage_frac"] == 0.0
    # unique doc
    assert out[7]["covered_tokens"] == 0 and not out[7]["flagged"]


def test_dup_span_documents_are_key_and_text(spark):
    """Rows that share a key but not their text are separate documents:
    a short unique row whose key a duplicated row also carries is not
    flagged, and no row covers more tokens than it has."""
    from invalid_spark.pipeline import dedup as D

    long = "the quick brown fox jumps over the lazy dog every day"
    df = spark.createDataFrame(
        [("d1", "short unique words", "a"), ("d1", long, "b"), ("d3", long, "b")],
        "doc_id string, text string, u string",
    )
    out = {
        (r["id"], r["u"]): r
        for r in D.dup_span_stats(df, n=3, keep_cols=["u"]).collect()
    }
    assert len(out) == 3
    short = out[("d1", "a")]
    assert (short["n_tokens"], short["covered_tokens"]) == (3, 0)
    assert short["coverage_frac"] == 0.0 and not short["flagged"]
    for k in (("d1", "b"), ("d3", "b")):
        assert out[k]["n_tokens"] == out[k]["covered_tokens"] == 11
        assert out[k]["coverage_frac"] == 1.0 and out[k]["flagged"]


def test_dup_span_repeated_row_counts_each_position_once(spark):
    """Rows that repeat both key and text are one document: each of its
    duplicated positions counts once, not once per row, so
    ``n_dup_positions`` never exceeds ``n_positions``."""
    from invalid_spark.pipeline import dedup as D

    df = spark.createDataFrame(
        [("k1", "a b c d"), ("k1", "a b c d"), ("k2", "a b c d e")],
        "doc_id string, text string",
    )
    got = sorted(
        (r["id"], r["n_positions"], r["n_dup_positions"], r["covered_tokens"])
        for r in D.dup_span_stats(df, n=3).collect()
    )
    assert got == [("k1", 2, 2, 4), ("k1", 2, 2, 4), ("k2", 3, 2, 4)]


def test_unigram_logprob_planted(spark):
    """Unigram LM bits/token: hand-computed cross-entropy against
    the corpus's own token distribution; empty doc → NULL score."""
    import math

    from invalid_spark.pipeline import text as T

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "B c!"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in T.unigram_logprob(df).collect()}
    # counts: a=2, b=2, c=1, total 5 (normalize lowercases + strips !)
    exp1 = -math.log2(2 / 5)  # doc 1 = a a b, every token has count 2
    exp2 = (-math.log2(2 / 5) + -math.log2(1 / 5)) / 2
    assert out[1]["n_tokens"] == 3
    assert out[1]["bits_per_token"] == pytest.approx(exp1, abs=1e-6)
    assert out[2]["n_tokens"] == 2
    assert out[2]["bits_per_token"] == pytest.approx(exp2, abs=1e-6)
    assert out[3]["n_tokens"] == 0 and out[3]["bits_per_token"] is None


def test_new_text_op_plan_shapes(spark):
    """Scale-shape assertions for dup_span_stats / unigram_logprob:
    equi-joins only (gram- and token-keyed), one window partitioned
    by doc id, and the single benign 1-row broadcast for the corpus
    total — never a cartesian over data."""
    from invalid_spark.pipeline import dedup as D
    from invalid_spark.pipeline import text as T

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    out = D.dup_span_stats(docs, n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Window") >= 1  # interval union, no self-join

    lm = T.unigram_logprob(docs)
    plan = lm._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the only nested-loop input is the broadcast single-row total
    import re

    for m in re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert "BuildRight" in m or "BuildLeft" in m
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_vocab_stats_planted(spark):
    """Corpus vocabulary profile: hand-computed Zipf head/tail stats
    with a deterministic (count desc, token asc) top-k tie-break."""
    from invalid_spark.pipeline import text as T

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "B c!")], "doc_id long, text string"
    )
    r = T.vocab_stats(df, top_k=2).collect()[0]
    # tokens: a a b b c → 5 tokens, 3 types, hapax {c}
    assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (5, 3, 1)
    assert r["type_token_ratio"] == pytest.approx(0.6)
    assert r["hapax_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # top-2 by (c desc, w asc) = a(2), b(2) → 4/5
    assert r["topk_share"] == pytest.approx(0.8)


# ---------------------------------------------------------------------------
# round 5: SemDeDup, alignment gate, top-fraction selection


def test_semantic_dedup_planted_twins(spark):
    """SemDeDup over the real embeddings table: exact twins planted
    under new ids land in the same cluster (identical vector -> same
    assignment) and every planted pair is recovered; keeper = LOWEST
    centroid cosine per component (ties -> smaller id, so an exact
    twin keeps the original); the in-cluster join is an equi-join,
    never a cartesian."""
    from invalid_spark.pipeline import dedup

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    spiked = emb.unionByName(
        emb.filter(F.col("vec_id") % 20 == 0).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
    )
    pairs = dedup.semantic_dedup_pairs(spiked, threshold=0.9, n_lists=8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    planted = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in emb.filter(F.col("vec_id") % 20 == 0).collect()
    }
    assert planted <= got

    decisions = dedup.semantic_dedup(spiked, threshold=0.9, n_lists=8)
    rows = decisions.collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster, "planted twins must produce components"
    for members in by_cluster.values():
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1
        lo = min((m["centroid_sim"], m["id"]) for m in members)
        assert (keepers[0]["centroid_sim"], keepers[0]["id"]) == lo
    # an exact twin ties on centroid_sim -> the smaller (original) id keeps
    twin_clusters = [
        m for m in by_cluster.values()
        if len(m) == 2 and {x["id"] % 100000 for x in m} == {m[0]["id"] % 100000}
    ]
    for members in twin_clusters:
        assert min(members, key=lambda m: m["id"])["keep"]


def test_alignment_violations_planted(spark):
    """The CLIP-score-style gate: aligned pair passes, anti-aligned
    pair flags with the cosine observed, null / zero-norm / dim
    mismatch flag as unscorable; one row-local projection (no
    exchange in the plan)."""
    from invalid_spark.checks import vector as vector_checks

    rows = [
        (1, [1.0, 0.0, 0.0], [2.0, 0.0, 0.0]),   # cos 1.0 -> pass
        (2, [1.0, 0.0, 0.0], [-1.0, 0.0, 0.0]),  # cos -1 -> low
        (3, [1.0, 0.0, 0.0], None),               # unscorable
        (4, [1.0, 0.0, 0.0], [0.0, 0.0, 0.0]),    # zero norm -> unscorable
        (5, [1.0, 0.0, 0.0], [1.0, 0.0]),         # dim mismatch -> unscorable
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, img array<double>, cap array<double>"
    )
    v = vector_checks.alignment_violations(df, "img", "cap", "pair_id", 0.5)
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r["row_key"]: r for r in v.collect()}
    assert set(got) == {"2", "3", "4", "5"}
    assert got["2"]["observed"] == "-1.0"
    assert "must be >= 0.5" in got["2"]["message"]
    for k in ("3", "4", "5"):
        assert got[k]["observed"] is None
        assert "scorable" in got[k]["message"]


def test_top_fraction_threshold_selection(spark):
    """Top-fraction selection: exact mode keeps precisely the top
    frac on a tie-free score (0..99, frac 0.1 -> scores >= 90.1
    kept = 10 rows... threshold = 90.1, so 91..99 plus interpolation
    boundary); approx mode agrees away from the boundary; no global
    sort in the plan; a NaN score neither sets nor passes the
    threshold."""
    from invalid_spark.pipeline import curate

    df = spark.range(101).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 100, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("s"),
    )
    out = curate.top_fraction(df, "s", 0.1, key_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Sort " not in plan and "rangepartitioning" not in plan.lower()
    kept = {r["doc_id"] for r in out.collect() if r["keep"]}
    # exact percentile(0.9) over 0..99 = 89.1 -> keep 90..99; the NaN
    # row (doc 100) is not kept and does not lift the cut to 90.0
    assert kept == set(range(90, 100))
    approx = curate.top_fraction(df, "s", 0.1, key_col="doc_id", exact=False)
    kept_a = {r["doc_id"] for r in approx.collect() if r["keep"]}
    assert 100 not in kept_a
    assert abs(len(kept_a) - 10) <= 1


def test_semantic_incremental_decisions(spark):
    """Incremental SemDeDup: an exact copy of a state vector decides
    dup_of_corpus (cosine ~1.0, EXACT not estimated); a batch-internal
    copy pair decides (new, dup_in_batch) by the first-kept rule; an
    unrelated vector is new; cluster equi-joins only."""
    from invalid_spark.pipeline import dedup, similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    cent = similarity.ivf_md5_centroids(corpus, n_lists=8)
    state = dedup.semantic_state(corpus, cent)
    # batch: copy of corpus vec 0 under 9001; vec 1 (odd, new) and its
    # copy under 9003; vec 3 alone
    batch = (
        emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(9001))
        .unionByName(emb.filter(F.col("vec_id") == 1))
        .unionByName(
            emb.filter(F.col("vec_id") == 1).withColumn("vec_id", F.lit(9003))
        )
        .unionByName(emb.filter(F.col("vec_id") == 3))
    )
    out = dedup.semantic_dedup_vs_state(batch, state, cent, threshold=0.99)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {r["id"]: r for r in out.collect()}
    assert got[9001]["decision"] == "dup_of_corpus"
    assert got[9001]["cos_corpus"] > 0.99
    assert got[1]["decision"] == "new"
    assert got[9003]["decision"] == "dup_in_batch"
    assert got[9003]["cos_batch"] > 0.99
    assert got[3]["decision"] == "new"


def test_semantic_contamination_planted(spark):
    """Embedding-space contamination: train docs that are exact
    copies of eval vectors flag at cosine 1.0; genuinely disjoint
    random vectors never clear 0.9. The train side joins via its
    SINGLE cluster assignment; the eval side probes nprobe clusters
    and broadcasts (plan has a BroadcastHashJoin, no cartesian)."""
    from invalid_spark.pipeline import dedup, similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ev = emb.filter(F.col("vec_id") % 2 == 0)
    train = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        ev.filter(F.col("vec_id") % 10 == 0).withColumn(
            "vec_id", F.col("vec_id") + 400000
        )
    )
    cents = similarity.ivf_md5_centroids(ev, n_lists=8)
    out = dedup.semantic_contamination(
        train, ev, cents, threshold=0.9, nprobe=2
    ).cache()
    planted = {r["id"] for r in out.filter("id >= 400000").collect()}
    flagged = {r["id"] for r in out.filter("contaminated").collect()}
    # every planted leak is an exact eval copy: same cluster, cos 1.0
    assert planted <= flagged
    for r in out.filter("id >= 400000").collect():
        assert r["max_cos_eval"] == pytest.approx(1.0, abs=1e-9)
        assert r["n_eval_hits"] >= 1
    # random disjoint 64-dim vectors never reach 0.9 cosine
    assert out.filter("contaminated AND id < 400000").count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    out.unpersist()


def test_semantic_cluster_skew_hot_cluster(spark):
    """The SemDeDup pre-flight: 100 copies of one vector all land in
    one cluster, which must lead the occupancy report with the
    quadratic pair estimate; the plan uses TakeOrderedAndProject,
    never a global Sort."""
    from invalid_spark.pipeline import dedup

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).select("vec_id", "embedding")
    hot = (
        emb.filter(F.col("vec_id") < 100)
        .select((F.col("vec_id") + 500000).alias("vec_id"))
        .crossJoin(
            F.broadcast(emb.filter(F.col("vec_id") == 0).select("embedding"))
        )
    )
    rep = dedup.semantic_cluster_skew(
        emb.unionByName(hot), n_lists=8, top=5
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = rep.collect()
    assert len(rows) == 5
    top = rows[0]
    # ~500/8 ≈ 62 base occupancy; the hot cluster adds 100
    assert top["n_docs"] >= 100
    assert top["est_pairs"] == top["n_docs"] * (top["n_docs"] - 1) // 2
    assert rows[0]["n_docs"] >= rows[1]["n_docs"] + 80


def test_suggest_rules_vector_profile(spark, tmp_path):
    """Embedding columns get a $vector suggestion: constant dim, an
    outward-rounded L2-norm band, and explicit no_nan/no_zero=false
    ONLY when the snapshot itself contains such vectors — the
    suggested ruleset must pass its own snapshot through the full
    runner."""
    from invalid_spark import runner, suggest
    from invalid_spark.dsl import load_rules
    import yaml as _y

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    yml = suggest.suggest_rules(emb, row_key="vec_id")
    parsed = _y.safe_load(yml)
    vec = parsed["embedding"]["$vector"]
    assert vec["dim"] == 64
    assert 0 < vec["norm"]["min"] <= vec["norm"]["max"]
    assert "no_nan" not in vec and "no_zero" not in vec  # table is clean
    rules = load_rules(yml)
    res = runner.validate(
        spark, emb, rules, "vec_id", str(tmp_path / "sv_audit")
    )
    assert res.violations(spark).count() == 0

    # a snapshot CONTAINING zero/NaN vectors suggests the permissive
    # flags so the round-trip still holds
    dirty = emb.unionByName(
        emb.limit(2).select(
            (F.col("vec_id") + 900000).alias("vec_id"),
            F.when(
                F.col("vec_id") % 2 == 0,
                F.array_repeat(F.lit(0.0).cast("float"), 64),
            )
            .otherwise(
                F.array_repeat(F.lit(float("nan")).cast("float"), 64)
            )
            .alias("embedding"),
            F.col("label"),
        )
    )
    yml2 = suggest.suggest_rules(dirty, row_key="vec_id")
    p2 = _y.safe_load(yml2)
    v2 = p2["embedding"]["$vector"]
    assert v2["no_nan"] is False and v2["no_zero"] is False
    from invalid_spark.checks.rows import run_row_checks
    from invalid_spark.checks.vector import vector_violations

    norm2 = v2.get("norm") or {}
    assert (
        vector_violations(
            dirty, "embedding", "vec_id",
            dim=v2.get("dim"), no_nan=False, no_zero=False,
            norm_min=norm2.get("min"), norm_max=norm2.get("max"),
        ).count()
        == 0
    )
    assert run_row_checks(dirty, load_rules(yml2), "vec_id").count() == 0


def test_semantic_diversity_drop_on_skew(spark):
    """Diversity report: a near-uniform random corpus reads
    normalized entropy ~1; planting 200 copies of one vector (same
    codebook) drops entropy, effective clusters, and raises
    top_share — the before/after diff a curation pipeline watches."""
    from invalid_spark.pipeline import curate, similarity

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).select("vec_id", "embedding")
    cents = similarity.ivf_md5_centroids(emb, n_lists=8)
    base = curate.semantic_diversity(emb, centroids=cents).collect()[0]
    assert base["n_docs"] == 500 and base["n_clusters"] == 8
    assert base["normalized_entropy"] > 0.98
    assert base["effective_clusters"] == pytest.approx(8.0, abs=0.5)

    hot = emb.filter(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 500000).alias("vec_id")
    ).crossJoin(
        F.broadcast(emb.filter(F.col("vec_id") == 0).select("embedding"))
    )
    skew = curate.semantic_diversity(
        emb.unionByName(hot), centroids=cents
    ).collect()[0]
    assert skew["normalized_entropy"] < base["normalized_entropy"] - 0.05
    assert skew["effective_clusters"] < base["effective_clusters"] - 1
    assert skew["top_share"] > base["top_share"] + 0.2


def test_dedup_keeper_by_score(spark):
    """Quality keeper: within a duplicate component the member with
    the best score survives (ties/NULLs -> smaller id), exactly one
    keeper per component."""
    from invalid_spark.pipeline import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    scores = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, None), (11, 1.0)],
        "doc_id long, score double",
    )
    out = {r["id"]: r for r in dedup.dedup_decisions_by_score(
        pairs, scores
    ).collect()}
    # component {1,2,3}: 2 and 3 tie at 9.0 -> smaller id 2 keeps
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    # component {10,11}: NULL ranks last -> 11 keeps
    assert out[11]["keep"] and not out[10]["keep"]
    # ascending mode: keep the SMALLEST score (e.g. perplexity)
    out2 = {r["id"]: r for r in dedup.dedup_decisions_by_score(
        pairs, scores, descending=False
    ).collect()}
    assert out2[1]["keep"] and out2[11]["keep"]


def test_cms_sketch_estimates_exact_when_wide(spark):
    """CMS point estimates: never undershoot, and with width >> ndv
    (no collisions expected at 3 keys x 4 rows x 4096 buckets) they
    equal the exact counts. Sketch is sparse: a value the corpus
    never saw estimates 0 via the left-join coalesce."""
    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20 + [(None,)],
        "k string",
    )
    sk = stats.cms_sketch(df, "k", depth=4, width=4096)
    cand = spark.createDataFrame([("a",), ("b",), ("c",), ("zzz",)], "k string")
    est = {
        r.value: r.est_cnt
        for r in stats.cms_estimate(sk, cand, "k", depth=4, width=4096).collect()
    }
    assert est == {"a": 50, "b": 30, "c": 20, "zzz": 0}
    # depth*width bound: sketch never exceeds the counter grid, and
    # each hash row's counters sum to N (every non-null value lands
    # in exactly one bucket per row)
    rows = sk.collect()
    assert len(rows) <= 4 * 4096
    by_i = {}
    for r in rows:
        by_i[r.i] = by_i.get(r.i, 0) + r.cnt
    assert by_i == {0: 100, 1: 100, 2: 100, 3: 100}


def test_cms_heavy_hitters_planted_skew(spark):
    """Planted 40%-share hot key across many partitions is found with
    the right (never-undershooting) estimate; the light tail stays
    out. The candidate pass is map-side (mapInPandas local top-k), so
    nothing in the plan aggregates per distinct key."""
    rows = [("hot",)] * 400 + [(f"u{i}",) for i in range(600)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    out = stats.heavy_hitters_cms(df, "k", min_share=0.1, depth=4, width=2048)
    got = out.collect()
    assert got and got[0].value == "hot" and got[0].rank == 1
    assert got[0].est_cnt >= 400  # CMS never undershoots
    assert abs(got[0].est_share - got[0].est_cnt / 1000.0) < 1e-9
    # no light key (share 1/1000) can clear the 10% gate unless 100+
    # collisions pile on one bucket in EVERY hash row — not at this
    # width; assert the tail stayed out
    assert all(r.value == "hot" for r in got)


def test_top_fraction_by_group_per_group_thresholds(spark):
    """Per-group pruning: each group keeps its own top 50% even when
    one group's scores are uniformly below the other's (the global
    threshold would keep NOTHING from the low group); NULL group rows
    prune against their own threshold via the null-safe join; no sort
    in the plan; a NaN score neither sets nor passes the threshold."""
    from invalid_spark.pipeline import curate

    rows = (
        [(i, "hi", float(100 + i)) for i in range(10)]
        + [(100 + i, "lo", float(i)) for i in range(10)]
        + [(200 + i, None, float(50 + i)) for i in range(4)]
        + [(300, "hi", float("nan"))]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, s double")
    out = curate.top_fraction_by_group(
        df, "s", 0.5, group_col="lang", key_col="doc_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Sort " not in plan and "rangepartitioning" not in plan.lower()
    kept = {r.doc_id for r in out.collect() if r.keep}
    # exact percentile(0.5) over 0..9 (+offset) = x.5 -> top 5 kept per group
    assert kept & set(range(100, 110)) == {105, 106, 107, 108, 109}
    assert kept & set(range(0, 10)) == {5, 6, 7, 8, 9}
    assert kept & {200, 201, 202, 203} == {202, 203}
    # a NaN score is never kept and does not lift its group's cut
    assert 300 not in kept
    # global cut at the same overall fraction would empty the lo group
    glob = curate.top_fraction(df, "s", 0.5, key_col="doc_id")
    gk = {r["doc_id"] for r in glob.collect() if r["keep"]}
    assert not gk & set(range(100, 110))


def test_weighted_sample_aes_exact_replay(spark):
    """A-ES weighted sampling: the md5-derived draw is replicated
    independently in Python (hashlib) and the engine's top-k must
    equal it EXACTLY — no RNG state, the sample is a pure function of
    (salt, key, weight). Zero/negative/NULL/NaN weights are excluded; the
    plan is TakeOrderedAndProject (partial top-k), never a global
    sort of the corpus."""
    import hashlib
    import math as m

    from invalid_spark.pipeline import curate

    rows = [(i, float(1 + (i * 7) % 50)) for i in range(200)]
    rows += [(900, 0.0), (901, -3.0), (902, None), (903, float("nan"))]
    df = spark.createDataFrame(rows, "doc_id long, w double").repartition(8)
    out = curate.weighted_sample(df, "w", 20, key_col="doc_id")
    got = [(r.doc_id, r.weight) for r in out.collect()]

    def wkey(i, w):
        h = hashlib.md5(f"wrs-v1-{i}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 1) / 4294967296.0
        return m.log(u) / w

    exp = sorted(
        ((i, w) for i, w in rows[:200]),
        key=lambda t: (-wkey(t[0], t[1]), t[0]),
    )[:20]
    assert got == exp
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # heavier rows dominate: mean weight of winners >> corpus mean
    assert sum(w for _, w in got) / 20 > sum(w for _, w in rows[:200]) / 200


def test_cms_merge_equals_single_pass(spark):
    """Merged per-batch CMS sketches are bit-identical to the sketch
    of the concatenated corpus — counters add (the snapshot-state
    property)."""
    a = spark.createDataFrame([("x",)] * 30 + [("y",)] * 5, "k string")
    b = spark.createDataFrame([("x",)] * 10 + [("z",)] * 20, "k string")
    kw = dict(depth=3, width=256)
    merged = stats.cms_merge(
        stats.cms_sketch(a, "k", **kw), stats.cms_sketch(b, "k", **kw)
    )
    whole = stats.cms_sketch(a.unionByName(b), "k", **kw)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    cand = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
    est = {r.value: r.est_cnt
           for r in stats.cms_estimate(merged, cand, "k", **kw).collect()}
    assert est == {"x": 40, "y": 5, "z": 20}


def test_weighted_sample_by_group_prune_is_exact(spark):
    """Per-group A-ES: the map-side (partition, group)-local top-k
    prune is EXACT — across any repartitioning the result equals the
    naive full rank window replayed in pandas; each group yields
    exactly k winners; NULL group samples as its own group."""
    import hashlib
    import math as m

    from invalid_spark.pipeline import curate

    rows = [(i, ["a", "b", None][i % 3], float(1 + (i * 13) % 40))
            for i in range(120)]
    rows += [(120, "a", float("nan"))]  # excluded, never a winner
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    def _key(t):
        return (t[0] is None, t[0] or "", t[1], t[2])

    out = curate.weighted_sample_by_group(
        df.repartition(7), "w", 5, group_col="g", key_col="doc_id"
    )
    got = sorted(((r.g, r.rank, r.doc_id) for r in out.collect()), key=_key)

    def wkey(i, w):
        h = hashlib.md5(f"wrs-v1-{i}".encode()).hexdigest()[:8]
        return m.log((int(h, 16) + 1) / 4294967296.0) / w

    exp = []
    for g in ("a", "b", None):
        grp = [(i, w) for i, gg, w in rows if gg == g and not m.isnan(w)]
        win = sorted(grp, key=lambda t: (-wkey(t[0], t[1]), t[0]))[:5]
        exp += [(g, r + 1, i) for r, (i, _) in enumerate(win)]
    assert got == sorted(exp, key=_key)
    # partitioning-independence: same winners at a different layout
    out2 = curate.weighted_sample_by_group(
        df.repartition(2), "w", 5, group_col="g", key_col="doc_id"
    )
    assert sorted(
        ((r.g, r.rank, r.doc_id) for r in out2.collect()), key=_key
    ) == got


def test_weighted_sample_by_group_prunes_in_the_jvm(spark):
    """The per-group sampler's map-side prune is Spark's own grouped
    top-k: a ``Partial`` ``WindowGroupLimit`` below the shuffle, and no
    Python stage."""
    import contextlib
    import io

    from invalid_spark.pipeline import curate

    df = spark.range(200).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS STRING) AS g", "1.0 + id % 7 AS w"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        curate.weighted_sample_by_group(
            df, "w", 5, group_col="g", key_col="doc_id"
        ).explain()
    plan = buf.getvalue()
    assert "MapInPandas" not in plan and "PythonUDF" not in plan
    below = plan[plan.index("Exchange"):]
    assert "WindowGroupLimit" in below and "Partial" in below, plan


def test_freshness_by_group_names_the_stale_group(spark):
    """Per-group freshness: the group whose newest row is beyond the
    budget flags alone; NULL group is its own group; ages are exact
    integer-microsecond arithmetic vs the explicit anchor."""
    import datetime as dt

    rows = [
        ("a", "2024-01-31 11:00:00"),
        ("a", "2024-01-01 00:00:00"),
        ("b", "2024-01-10 00:00:00"),
        (None, "2024-01-31 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "g string, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    )
    now = dt.datetime(2024, 1, 31, 12, 0, 0, tzinfo=dt.timezone.utc)
    out = {r.group: r for r in
           stats.freshness_by_group(df, "ts", 86400.0, now, "g").collect()}
    assert out["a"].fresh and out["a"].age_seconds == 3600.0
    assert not out["b"].fresh
    assert out[None].fresh and out[None].age_seconds == 43200.0
