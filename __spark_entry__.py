"""Driver contract: entry / queries / oracle_sql.

Each ``queries()`` entry is one operator of the engine (SURVEY.md §2
inventory + the training-data pipeline ops) run against the driver's
parquet tables; ``oracle_sql()`` replays the same computation in
DuckDB SQL. Column names are aligned on both sides; Spark-only
lineage columns (partition_id, run_id) are dropped before compare.

Oracle-parity rules used throughout (see pipeline module docstrings):

- hashes are md5 (portable), not xxhash64;
- ratios are int/int double divisions (bit-exact across engines);
- floating aggregates are strict left folds on both sides, rounded
  to 6 decimals where interpolation/accumulation order could differ;
- queries with no ANSI-SQL equivalent (LSH-ANN with seeded numpy
  hyperplanes, t-digest sketches, image decode UDFs) have no oracle
  entry → driver records the weaker rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from invalid_spark.checks import drift, refint, relations, rows, stats, unique
from invalid_spark.dsl import load_rules
from invalid_spark.pipeline import dedup, similarity, text
from invalid_spark import report

# ---------------------------------------------------------------------------
# helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _viol(df: DataFrame) -> DataFrame:
    """Project violation rows to the engine-portable columns."""
    return df.select(
        "row_key",
        F.col("column").alias("col_name"),
        "rule_id",
        "error_type",
        "message",
        "observed",
    )


ORDERS_RULES = """
o_orderkey: {$type: $int}
o_orderstatus: {$type: $str, $of: [O, F]}
o_totalprice: {$type: $float, $range: {$min: 1500, $max: 450000}}
o_orderpriority: {$type: $str, $reg: '^[1-3]-'}
"""

DOCS_RULES = """
doc_id: {$type: $int}
text: {$type: $str, $length: {$min: 60, $max: 540}}
lang: {$type: $str, $of: [en, de, fr, es, zh]}
"""


# ---------------------------------------------------------------------------
# queries

def q_rowcheck_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "orders")
    return _viol(rows.run_row_checks(df, load_rules(ORDERS_RULES), "o_orderkey"))


def q_rowcheck_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return _viol(rows.run_row_checks(df, load_rules(DOCS_RULES), "doc_id"))


_EXPR_SQL = "l_extendedprice > l_quantity * 1000"


def q_rowcheck_expr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$expr cross-column row predicate (deequ `satisfies` analog):
    rows violating a SQL expression over MULTIPLE columns, evaluated
    inside the same codegen projection as every other row check. The
    oracle replays the predicate directly (FALSE or NULL fails)."""
    df = _t(spark, sf_dir, "lineitem")
    rules = load_rules(
        "l_quantity: {$type: $float, $range: {$min: 1, $max: 50}, "
        f"$expr: {{sql: '{_EXPR_SQL}'}}}}\n"
    )
    return _viol(rows.run_row_checks(df, rules, "l_orderkey")).filter(
        "error_type = 'exprMismatch'"
    )


def _sql_rowcheck_expr_lineitem() -> str:
    return f"""
SELECT CAST(l_orderkey AS VARCHAR) AS row_key,
       'l_quantity' AS col_name,
       'l_quantity' AS rule_id,
       'exprMismatch' AS error_type,
       'row at [l_quantity] must satisfy [{_EXPR_SQL}]' AS message,
       CAST(l_quantity AS VARCHAR) AS observed
FROM lineitem
WHERE NOT coalesce({_EXPR_SQL}, FALSE)
"""


def q_verdicts_documents_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    v = rows.run_row_checks(df, load_rules(DOCS_RULES), "doc_id")
    return report.group_verdicts(df, v, "source", "doc_id").drop("run_id")


def q_stats_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem")
    specs = [
        ("l_quantity", ["null_rate", "min", "max", "ndv"]),
        ("l_extendedprice", ["null_rate", "min", "max"]),
        ("l_discount", ["min", "max", "quantiles"]),
    ]
    prof = stats.column_profile(df, specs, exact=True)
    return prof.select(
        F.col("column").alias("col_name"),
        "stat",
        F.round("value", 6).alias("value"),
        "n_rows",
    )


def q_unique_part_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "part")
    return _viol(unique.uniqueness_violations(df, "p_name", "p_partkey"))


def q_ref_lineitem_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0)
    v = refint.ref_violations(
        li.withColumn("li_key", F.concat_ws("-", "l_orderkey", "l_linenumber")),
        "l_suppkey",
        dim,
        "s_suppkey",
        "li_key",
    )
    return _viol(v)


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (pack.pack_sequences): documents
    binned into 8 md5 buckets, packed first-fit-in-order into
    256-token sequences. Only the (key, bucket, n_tokens) projection
    shuffles; the per-bucket loop is O(n_seqs log n) searchsorted.
    The DuckDB oracle replays the greedy rule with a recursive CTE."""
    from invalid_spark.pipeline import pack

    d = _t(spark, sf_dir, "documents")
    return pack.pack_sequences(d, max_tokens=256, n_buckets=8)


def q_pack_summary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency summary over the same assignment: sequence
    count, mean fill ratio, oversize count."""
    from invalid_spark.pipeline import pack

    d = _t(spark, sf_dir, "documents")
    return pack.pack_summary(pack.pack_sequences(d, 256, n_buckets=8), 256)


def _with_exact_counts(d: DataFrame) -> DataFrame:
    """Deterministic stand-in for upstream exact-tokenizer counts
    (mirrors _SQL_PACK_T_SUPPLIED)."""
    return d.withColumn(
        "n_tok_exact", ((F.col("doc_id") % 97) + 1).cast("long")
    )


def q_pack_supplied_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplied-counts packing (pack.pack_sequences n_tokens_col=):
    a precomputed exact token-count column drives the budget instead
    of the whitespace estimator — the real-pipeline shape, where the
    tokenizer's counts are materialized upstream and an estimate
    would make every sequence length systematically off."""
    from invalid_spark.pipeline import pack

    d = _with_exact_counts(_t(spark, sf_dir, "documents"))
    return pack.pack_sequences(
        d, max_tokens=256, n_buckets=8, n_tokens_col="n_tok_exact"
    )


def q_pack_materialize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training artifact (pack.materialize): ONE row per
    packed sequence — ordered doc keys, offsets, token total, and the
    space-concatenated text — produced by replaying the deterministic
    greedy assignment inside one applyInPandas group per bucket, so
    the only shuffle is (key, text) keyed by the md5 bucket (no join
    back to the corpus). Supplied-counts variant; arrays render as
    csv so the DuckDB oracle (string_agg ... ORDER BY) can replay the
    whole sequence composition."""
    from invalid_spark.pipeline import pack

    d = _with_exact_counts(_t(spark, sf_dir, "documents"))
    m = pack.materialize(
        d, 256, n_buckets=8, n_tokens_col="n_tok_exact", include_text=True
    )
    as_csv = lambda c: F.array_join(  # noqa: E731
        F.transform(c, lambda x: x.cast("string")), ","
    )
    return m.select(
        "bucket",
        "seq_id",
        "n_docs",
        "total_tokens",
        as_csv("doc_keys").alias("doc_keys_csv"),
        as_csv("offsets").alias("offsets_csv"),
        "text",
    )


_SQL_PACK_T_ESTIMATOR = """CAST(coalesce(len(list_filter(
              regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')), 0)
              AS BIGINT)"""
# the supplied-counts variant: a deterministic stand-in for the exact
# tokenizer counts a real pipeline materializes upstream
_SQL_PACK_T_SUPPLIED = "CAST((doc_id % 97) + 1 AS BIGINT)"


def _sql_pack_cte(t_expr: str) -> str:
    return f"""
WITH RECURSIVE meta AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('pack-v1-' || CAST(doc_id AS VARCHAR)),
              1, 8) AS BIGINT) % 8 AS bucket,
         {t_expr} AS t
  FROM documents
),"""


_SQL_PACK_TAIL = """
ordered AS (
  SELECT doc_id, bucket, t,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM meta
),
pk AS (
  SELECT bucket, rn, doc_id, t,
         0::BIGINT AS seq_id, 0::BIGINT AS seq_offset, t AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.t,
         CASE WHEN p.fill > 0 AND p.fill + o.t > 256
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill > 0 AND p.fill + o.t > 256
              THEN 0 ELSE p.fill END,
         CASE WHEN p.fill > 0 AND p.fill + o.t > 256
              THEN o.t ELSE p.fill + o.t END
  FROM pk p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
"""

_SQL_PACK_CTE = _sql_pack_cte(_SQL_PACK_T_ESTIMATOR) + _SQL_PACK_TAIL
_SQL_PACK_CTE_SUPPLIED = _sql_pack_cte(_SQL_PACK_T_SUPPLIED) + _SQL_PACK_TAIL


def _sql_pack_documents() -> str:
    return (
        _SQL_PACK_CTE
        + "SELECT doc_id, bucket, t AS n_tokens, seq_id, seq_offset FROM pk"
    )


def _sql_pack_supplied_documents() -> str:
    return (
        _SQL_PACK_CTE_SUPPLIED
        + "SELECT doc_id, bucket, t AS n_tokens, seq_id, seq_offset FROM pk"
    )


def _sql_pack_materialize_documents() -> str:
    return (
        _SQL_PACK_CTE_SUPPLIED
        + """
SELECT pk.bucket,
       pk.seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pk.t) AS BIGINT) AS total_tokens,
       string_agg(CAST(pk.doc_id AS VARCHAR), ',' ORDER BY pk.doc_id)
         AS doc_keys_csv,
       string_agg(CAST(pk.seq_offset AS VARCHAR), ',' ORDER BY pk.doc_id)
         AS offsets_csv,
       string_agg(coalesce(d.text, ''), ' ' ORDER BY pk.doc_id) AS text
FROM pk JOIN documents d ON d.doc_id = pk.doc_id
GROUP BY 1, 2
"""
    )


def _sql_pack_summary_documents() -> str:
    return (
        _SQL_PACK_CTE
        + """,
per_seq AS (
  SELECT bucket, seq_id, sum(t) AS fill, count(*) AS n_docs FROM pk
  GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_sequences,
       CAST(sum(n_docs) AS BIGINT) AS n_documents,
       CAST(sum(fill) AS BIGINT) AS total_tokens,
       round(avg(least(fill, 256) / 256.0), 6) AS mean_fill_ratio,
       CAST(sum(CASE WHEN fill > 256 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oversize
FROM per_seq
"""
    )


def q_dsir_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (curate.dsir_weights; Xie et al.
    2023): hashed bag-of-words log-likelihood ratio of a target
    domain (en docs from src0/src1) vs the raw corpus. The model is
    a fixed n_buckets-row count vector — broadcastable at any scale
    and md5-hashed, so DuckDB replays it exactly."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    tgt = d.filter(
        (F.col("lang") == "en") & F.col("source").isin("src0", "src1")
    )
    return curate.dsir_weights(d, tgt, n_buckets=1024)


def q_dsir_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: deterministic Gumbel top-50 over the
    importance weights (sampling without replacement proportional to
    exp(log_ratio)); Gumbel noise from 52 md5 bits of the doc key."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    tgt = d.filter(
        (F.col("lang") == "en") & F.col("source").isin("src0", "src1")
    )
    return curate.dsir_sample(d, tgt, 50, n_buckets=1024)


_SQL_DSIR_TOK = (
    "list_filter(regexp_split_to_array(trim(regexp_replace("
    "regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), "
    "'\\s+', ' ', 'g')), '\\s+'), x -> x <> '')"
)


def _sql_dsir_weights_documents() -> str:
    b, a = 1024, 1.0
    return f"""
WITH raw_occ AS (
  SELECT doc_id, unnest({_SQL_DSIR_TOK}) AS w FROM documents
),
tgt_occ AS (
  SELECT unnest({_SQL_DSIR_TOK}) AS w FROM documents
  WHERE lang = 'en' AND source IN ('src0', 'src1')
),
rb AS (SELECT CAST('0x'||substr(md5('dsir-v1-'||w),1,8) AS BIGINT) % {b} AS b,
              CAST(count(*) AS BIGINT) AS cr FROM raw_occ GROUP BY 1),
tb AS (SELECT CAST('0x'||substr(md5('dsir-v1-'||w),1,8) AS BIGINT) % {b} AS b,
              CAST(count(*) AS BIGINT) AS ct FROM tgt_occ GROUP BY 1),
model AS (SELECT COALESCE(rb.b, tb.b) AS b, COALESCE(cr, 0) AS cr,
                 COALESCE(ct, 0) AS ct
          FROM rb FULL OUTER JOIN tb ON rb.b = tb.b),
tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr,
               CAST(sum(ct) AS DOUBLE) AS tt FROM model),
sm AS (SELECT b, (ln(ct + {a}) - ln(tt + {a}*{b}))
               - (ln(cr + {a}) - ln(tr + {a}*{b})) AS lr
       FROM model, tot),
per AS (
  SELECT o.doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(sm.lr), 6) AS log_ratio
  FROM (SELECT doc_id,
               CAST('0x'||substr(md5('dsir-v1-'||w),1,8) AS BIGINT) % {b} AS b
        FROM raw_occ) o
  JOIN sm USING (b) GROUP BY 1
)
SELECT d.doc_id AS id, CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       COALESCE(per.log_ratio, 0.0) AS log_ratio
FROM documents d LEFT JOIN per ON d.doc_id = per.id
"""


def _sql_dsir_sample_documents() -> str:
    return f"""
WITH w AS ({_sql_dsir_weights_documents()}),
keyed AS (
  SELECT id, n_tokens, log_ratio,
         round(log_ratio + (-ln(-ln(
           (CAST('0x'||substr(md5('dsir-v1-g-'||CAST(id AS VARCHAR)),1,13)
            AS BIGINT) + 0.5) / {float(1 << 52)}))), 6) AS gumbel_key
  FROM w
)
SELECT * FROM keyed ORDER BY gumbel_key DESC, id ASC LIMIT 50
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (text.chunk_documents): 32-token chunks
    with 8-token overlap — the pre-embedding step. Entirely row-local
    (sequence → slice → explode), no shuffle; the oracle replays the
    window arithmetic with generate_series + list slicing."""
    from invalid_spark.pipeline import text as T

    d = _t(spark, sf_dir, "documents")
    return T.chunk_documents(d, chunk_tokens=32, overlap_tokens=8)


def _sql_chunk_documents() -> str:
    return r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
d AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
e AS (
  SELECT doc_id, t,
         unnest(range(0, greatest(n - 8 - 1, 0) + 1, 24)) AS start
  FROM d
)
SELECT doc_id AS id,
       CAST(start / 24 AS BIGINT) AS chunk_idx,
       CAST(len(t[start + 1 : start + 32]) AS BIGINT) AS n_tokens,
       array_to_string(t[start + 1 : start + 32], ' ') AS chunk
FROM e
"""


def q_ref_bloom_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter referential screen (refint.bloom_build /
    bloom_ref_violations) — the middle-regime scale path when the
    dimension is too big to broadcast as rows and the fact side is
    too big to shuffle. The dimension folds once into a ``(word,
    bits)`` bit-array frame; the fact table is checked with k
    broadcast equi-joins and NEVER shuffles. md5-derived positions
    make the screen — including its false positives — replayable
    bit-for-bit in the DuckDB oracle. ~10% of suppliers are dropped
    from the dimension to plant genuine violations."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 10 != 0)
    m_bits, k = 1 << 16, 3
    bloom = refint.bloom_build(dim, "s_suppkey", m_bits=m_bits, k=k)
    v = refint.bloom_ref_violations(
        li.withColumn("li_key", F.concat_ws("-", "l_orderkey", "l_linenumber")),
        "l_suppkey",
        bloom,
        "s_suppkey",
        "li_key",
        m_bits=m_bits,
        k=k,
    )
    return _viol(v)


def q_drift_ks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cur = ev.filter(F.col("event_id") % 2 == 1)
    prev = ev.filter(F.col("event_id") % 2 == 0)
    out = drift.ks_statistic_df(cur, prev, "value", bins=256)
    return out.select(
        "column_name", F.round("statistic", 6).alias("statistic"), "n_cur", "n_prior"
    )


def q_drift_chi2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cur = ev.filter(F.col("event_id") % 2 == 1)
    prev = ev.filter(F.col("event_id") % 2 == 0)
    out = drift.chi2_statistic_df(cur, prev, "event_type")
    return out.select(
        "column_name", F.round("statistic", 6).alias("statistic"),
        "dof", "n_cur", "n_prior",
    )


def q_drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift (drift.psi_drift — the
    ML-monitoring standard alongside KS/chi²): event_type mix of odd
    vs even event ids. The index is a left fold in canonical
    category order over eps-floored proportions, so DuckDB replays it;
    threshold bounds the index itself (no p-value)."""
    ev = _t(spark, sf_dir, "events")
    cur = ev.filter(F.col("event_id") % 2 == 1)
    prev = ev.filter(F.col("event_id") % 2 == 0)
    r = drift.psi_drift(cur, prev, "event_type")
    return spark.createDataFrame(
        [(r.column, round(float(r.statistic), 6), bool(r.drifted),
          int(r.n_current), int(r.n_prior))],
        "column_name string, statistic double, drifted boolean, "
        "n_cur bigint, n_prior bigint",
    )


def q_drift_w1_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized Wasserstein-1 drift (drift.w1_statistic_df): the
    location-sensitive complement to KS — same bucketed histogram,
    but the CDF gaps are SUMMED (area between the CDFs, exact integer
    cross-products) instead of maxed, then normalized by the grid
    span to [0, 1]. Empty buckets still carry CDF area; DuckDB
    replays the whole fold bit-for-bit with HUGEINT sums over a
    densified grid."""
    ev = _t(spark, sf_dir, "events")
    cur = ev.filter(F.col("event_id") % 2 == 1)
    prev = ev.filter(F.col("event_id") % 2 == 0)
    out = drift.w1_statistic_df(cur, prev, "value", bins=256)
    return out.select(
        "column_name", F.round("statistic", 6).alias("statistic"), "n_cur", "n_prior"
    )


def _sql_drift_w1_events() -> str:
    return """
WITH b AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur
  FROM events WHERE value IS NOT NULL
), mm AS (
  SELECT min(v) AS lo, max(v) AS hi,
         CASE WHEN (max(v) - min(v)) / 256 = 0 THEN 1.0
              ELSE (max(v) - min(v)) / 256 END AS width
  FROM b
), hist AS (
  SELECT least(255, greatest(0, CAST(floor((v - lo) / width) AS BIGINT)))
           AS bucket,
         sum(is_cur) AS c_cur, sum(1 - is_cur) AS c_prev
  FROM b, mm GROUP BY 1
), dense AS (
  -- every bucket 0..255 appears: empty buckets between populated
  -- ones still carry the running CDF gap into the SUM (KS's max
  -- doesn't care; W1's sum does — drift._fold counts the same gaps
  -- by the step to the next populated bucket)
  SELECT g.range AS bucket,
         coalesce(h.c_cur, 0) AS c_cur, coalesce(h.c_prev, 0) AS c_prev
  FROM range(256) g LEFT JOIN hist h ON h.bucket = g.range
), cdf AS (
  SELECT abs(sum(c_cur) OVER (ORDER BY bucket) * sum(c_prev) OVER ()
             - sum(c_prev) OVER (ORDER BY bucket) * sum(c_cur) OVER ())
           AS num,
         CAST(sum(c_cur) OVER () AS BIGINT) AS n_cur,
         CAST(sum(c_prev) OVER () AS BIGINT) AS n_prior
  FROM dense
)
SELECT 'value' AS column_name,
       round(CAST(sum(num) AS DOUBLE)
             / CAST(any_value(n_cur) * any_value(n_prior) * 256 AS DOUBLE),
             6) AS statistic,
       CAST(any_value(n_cur) AS BIGINT) AS n_cur,
       CAST(any_value(n_prior) AS BIGINT) AS n_prior
FROM cdf
"""


def _sql_drift_psi_events() -> str:
    return """
WITH b AS (
  SELECT event_type AS cat,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur
  FROM events
), tab AS (
  SELECT cat, sum(is_cur) AS o1, sum(1 - is_cur) AS o2 FROM b GROUP BY cat
), t AS (
  SELECT cat, o1, o2, CAST(sum(o1) OVER () AS BIGINT) AS n,
         CAST(sum(o2) OVER () AS BIGINT) AS m FROM tab
), terms AS (
  -- eps-floored proportions, term = (p - q) * ln(p / q); summed by a
  -- strict left fold in category order (mirrors drift._fold)
  SELECT cat, n, m,
         (greatest(CAST(o1 AS DOUBLE) / CAST(n AS DOUBLE), 1e-4)
          - greatest(CAST(o2 AS DOUBLE) / CAST(m AS DOUBLE), 1e-4))
         * ln(greatest(CAST(o1 AS DOUBLE) / CAST(n AS DOUBLE), 1e-4)
              / greatest(CAST(o2 AS DOUBLE) / CAST(m AS DOUBLE), 1e-4))
           AS term
  FROM t
)
SELECT 'event_type' AS column_name,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY cat NULLS FIRST)),
                         (a, b) -> a + b), 6) AS statistic,
       list_reduce(list_prepend(0.0, list(term ORDER BY cat NULLS FIRST)),
                   (a, b) -> a + b) > 0.25 AS drifted,
       CAST(any_value(n) AS BIGINT) AS n_cur,
       CAST(any_value(m) AS BIGINT) AS n_prior
FROM terms
"""


def q_streaming_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path: readStream over the events parquet,
    the same compiled row-check projection per micro-batch, violations
    written through an exactly-once checkpointed sink and read back.
    Rows-only (streaming lifecycle is not SQL-replayable); values are
    deterministic so the driver's row-count/schema check is stable."""
    import tempfile

    from invalid_spark import streaming

    rules = load_rules(
        """
event_id: {$type: $int}
event_type: {$type: $str, $of: [click, view, purchase, signup]}
value: {$type: $float, $range: {$min: 0, $max: 1000000}}
"""
    )
    schema = _t(spark, sf_dir, "events").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")  # sf tables are single files
        .parquet(sf_dir)
    )
    v = streaming.validate_stream(sdf, rules, "event_id")
    with tempfile.TemporaryDirectory() as tmp:
        q = streaming.write_stream(v, f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination(300)
        out = spark.read.parquet(f"{tmp}/out")
        return spark.createDataFrame(
            out.select("row_key", "rule_id", "error_type", "observed").collect(),
            "row_key string, rule_id string, error_type string, observed string",
        )


def q_text_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    q = text.quality_features(df)
    return q.select(
        "doc_id", "n_chars", "n_tokens", "n_stopwords", "n_punct", "n_digit",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        "quality_ok",
    )


def q_text_langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_t(spark, sf_dir, "documents"))


def q_text_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(_t(spark, sf_dir, "documents"))


def q_text_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (duplicate-line fraction,
    top-bigram fraction) — explode + two partial-combine aggregates,
    exact int/int ratios; multi-line/repetitive docs planted by
    deterministic text surgery so both signals fire."""
    d = _t(spark, sf_dir, "documents")
    derived = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            # repeat the text as 3 identical lines → dup_line_frac 2/3
            F.concat_ws("\n", "text", "text", "text"),
        ).when(
            F.col("doc_id") % 11 == 0,
            # loop one phrase → dominant bigram
            F.concat_ws(" ", *([F.lit("buy now")] * 20)),
        ).otherwise(F.col("text")),
    )
    r = text.repetition_features(derived)
    return r.select(
        F.col("id").alias("doc_id"),
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        "n_grams",
        F.round("top_gram_frac", 6).alias("top_gram_frac"),
    )


def q_text_contamination_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/eval contamination by word 3-gram overlap
    (text.contamination_flags): docs with doc_id % 29 == 0 play the
    eval/benchmark set, the rest are the training corpus; a training
    doc sharing any distinct 3-gram with the eval set is flagged.
    The documents table contains planted near-duplicate families, so
    both contaminated and clean rows occur naturally."""
    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 29 == 0)
    tr = d.filter(F.col("doc_id") % 29 != 0)
    out = text.contamination_flags(tr, ev, n=3)
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_matched",
        "contaminated",
    )


def q_dup_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication profile (dedup.dup_span_stats): per
    document, the fraction of token positions whose word 5-gram also
    occurs in another document, and the merged token span those
    duplicated grams cover. n=5 (not the dedup default 3) because
    the synthetic corpus is template-generated — 3-grams repeat
    everywhere, while 5-gram coverage isolates exactly the planted
    near-duplicate families (47/500 flagged at sf0.01)."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.dup_span_stats(d, n=5, coverage_threshold=0.5)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_positions",
        "n_dup_positions",
        "covered_tokens",
        "coverage_frac",
        "flagged",
    )


def q_text_unigram_lm_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-trained unigram LM score (text.unigram_logprob):
    perplexity-style quality signal, bits per token under the
    corpus's own token distribution — fully SQL-replayable, unlike a
    KenLM n-gram."""
    d = _t(spark, sf_dir, "documents")
    out = text.unigram_logprob(d)
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "bits_per_token"
    )


def q_text_vocab_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile (text.vocab_stats): token/type
    counts, type-token ratio, hapax fraction, top-10 token share —
    the Zipf head/tail summary tracked across corpus snapshots."""
    d = _t(spark, sf_dir, "documents")
    return text.vocab_stats(d, top_k=10)


def q_streaming_profile_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Windowed numeric profile (streaming.windowed_profile) of
    events.value per event-time day, executed on the batch path —
    pytest proves streaming execution emits identical rows, so the
    whole computation is SQL-replayable."""
    from invalid_spark import streaming

    ev = _t(spark, sf_dir, "events").select("value", "ts").filter(
        F.col("ts").isNotNull()
    )
    out = streaming.windowed_profile(ev, "value", window="1 day",
                                     watermark="1 day")
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "n_rows",
        "n_null",
        "vmin",
        "vmax",
        "mean",
    )


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    # plant exact duplicates: re-append every 10th doc (shifted key)
    extra = df.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return dedup.exact_dup_groups(df.unionByName(extra))


def q_dedup_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    p = dedup.jaccard_pairs(df, threshold=0.8)
    return p.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash_lsh_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    par = 2 * spark.sparkContext.defaultParallelism
    p = dedup.minhash_lsh_dedup(
        df, threshold=0.8, bands=4, rows=4, parallelism=par
    )
    return p.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_decisions_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline: LSH pairs → connected components
    (distributed pointer-jumping min-label propagation) → keeper per
    cluster. Oracle: DuckDB ``WITH RECURSIVE`` min-label reachability
    over the same SQL-replayed pair set."""
    df = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(df, threshold=0.8)
    return dedup.dedup_decisions(pairs).orderBy("id")


def q_dedup_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return dedup.simhash(df, bits=32).withColumnRenamed("id", "doc_id")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates via the pigeonhole block join
    (any pair within Hamming radius h agrees exactly on ≥1 of h+1
    signature blocks) — never all-pairs; the oracle replays blocks,
    join, and popcount distance."""
    df = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(df, max_hamming=3, bits=32)


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual-hash Hamming blocks (the phash
    twin of SimHash): 60-bit hashes derived from the documents table,
    near-identical twins planted 2 bits away; the pigeonhole block
    join finds exactly the planted pairs — never all-pairs. Oracle
    replays hashing, planting, blocks, and popcount."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("image_id"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("phash"),
    )
    # twin ids are negative (-(id+1)): disjoint from real ids at ANY
    # scale factor, unlike an additive offset
    twins = base.filter(F.col("image_id") % 10 == 0).select(
        (-(F.col("image_id") + 1)).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit((1 << 3) | (1 << 37))).alias("phash"),
    )
    df = base.unionByName(twins)
    return dedup.phash_neardup_pairs(df, max_hamming=3, bits=60)


def q_rowcheck_dynamic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic (YAML core-schema) per-row typing: ``props`` carries
    stringly scalars with mixed spellings; the rule demands ``$int``
    and each row is typed by the vectorized inference CASE chain —
    the reference's tag-based typing (yaml.go:256-276) at table
    scale. The derived column plants every inference class."""
    ev = _t(spark, sf_dir, "events")
    derived = ev.withColumn(
        "val",
        F.when(F.col("event_id") % 6 == 0, F.col("event_id").cast("string"))
        .when(F.col("event_id") % 6 == 1, F.lit("1.5e3"))
        .when(F.col("event_id") % 6 == 2, F.lit("true"))
        .when(F.col("event_id") % 6 == 3, F.lit("~"))
        .when(F.col("event_id") % 6 == 4, F.lit("0x1F"))
        .otherwise(F.lit("hello")),
    )
    rules = load_rules(
        "event_id: {$type: $int}\nval: {$type: $int, $dynamic: true}\n"
    )
    return _viol(rows.run_row_checks(derived, rules, "event_id"))


def q_emb_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    p = dedup.embedding_neardup(emb, threshold=0.3)
    return p.select("a", "b", F.round("cosine", 6).alias("cosine"))


def q_ann_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with the md5-derived sample codebook
    (similarity.ivf_md5_centroids — the n_lists vectors with smallest
    md5-key, normalized, rank = centroid id), so the DuckDB oracle
    re-derives the identical codebook and replays nearest-centroid
    assignment, nprobe probing, and ranking — a full value check of
    the IVF path. The k-means codebook (ivf_centroids) remains the
    production-quality path, recall-asserted in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    cent = similarity.ivf_md5_centroids(emb, n_lists=16)
    out = similarity.ivf_ann(
        emb, q, k=5, n_lists=16, nprobe=4, centroids=cent
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_brute_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.brute_topk(emb, q, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with md5-derived planes, so the DuckDB
    oracle re-derives the identical index and replays bucketing,
    multi-probe, and ranking — a full value check of the approximate
    path (recall vs exact is asserted separately in pytest)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.lsh_ann(
        emb, q, k=5, probe_hamming=1,
        plane_matrix=dedup.neardup_planes(64, 4),
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH and IVF indexes vs brute-force ground
    truth (similarity.ann_recall) — the acceptance gate for an
    approximate index. One row per (method, query); the oracle
    replays all three ANN paths and the recall fold in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = similarity.brute_topk(emb, q, k=5)
    lsh = similarity.lsh_ann(
        emb, q, k=5, probe_hamming=1, plane_matrix=dedup.neardup_planes(64, 4)
    )
    cent = similarity.ivf_md5_centroids(emb, n_lists=16)
    ivf = similarity.ivf_ann(emb, q, k=5, n_lists=16, nprobe=4, centroids=cent)
    out = None
    for method, approx in (("lsh", lsh), ("ivf", ivf)):
        r = similarity.ann_recall(truth, approx, 5).select(
            F.lit(method).alias("method"), "query_id", "n_hits", "recall"
        )
        out = r if out is None else out.unionByName(r)
    return out


def _sql_ann_recall() -> str:
    return f"""
WITH truth AS ({_sql_ann_brute_topk()}),
lshr AS ({_sql_ann_lsh()}),
ivfr AS ({_sql_ann_ivf()}),
both_m AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lshr
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ivfr
),
hits AS (
  SELECT b.method, b.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM both_m b
  WHERE EXISTS (SELECT 1 FROM truth t
                WHERE t.query_id = b.query_id
                  AND t.neighbor_id = b.neighbor_id)
  GROUP BY 1, 2
),
base AS (
  -- denominator = min(k, |truth|): a query with < k true neighbors
  -- must read recall 1.0 from a perfect index, not n/k
  SELECT m.method, q.query_id, q.n_truth
  FROM (SELECT query_id, least(CAST(count(*) AS BIGINT), 5) AS n_truth
        FROM truth GROUP BY 1) q,
       (VALUES ('lsh'), ('ivf')) m(method)
)
SELECT base.method, base.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(COALESCE(h.n_hits, 0) / CAST(base.n_truth AS DOUBLE), 6)
         AS recall
FROM base LEFT JOIN hits h
  ON h.method = base.method AND h.query_id = base.query_id
"""


def q_ivf_tuning_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF acceptance curve (similarity.ivf_tuning_report): macro
    recall@5 vs nprobe ∈ {1, 2, 4} with the md5-derived codebook —
    assignment computed once, probe prefixes sliced from one UDF
    call; the oracle replays every nprobe's full IVF path plus the
    recall fold."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    cent = similarity.ivf_md5_centroids(emb, n_lists=16)
    return similarity.ivf_tuning_report(
        emb, q, k=5, n_lists=16, nprobes=(1, 2, 4), centroids=cent
    )


def _sql_ivf_tuning() -> str:
    blocks = ",\n".join(
        f"i{np_} AS ({_sql_ann_ivf(nprobe=np_)})" for np_ in (1, 2, 4)
    )
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT {np_} AS nprobe, query_id, neighbor_id FROM i{np_}"
        for np_ in (1, 2, 4)
    )
    return f"""
WITH t AS ({_sql_ann_brute_topk()}),
{blocks},
all_m AS (
  {unions}
),
hits AS (
  SELECT m.nprobe, m.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM all_m m
  WHERE EXISTS (SELECT 1 FROM t
                WHERE t.query_id = m.query_id
                  AND t.neighbor_id = m.neighbor_id)
  GROUP BY 1, 2
),
base AS (
  -- denominator = min(k, |truth|), matching ann_recall
  SELECT p.nprobe, q.query_id, q.n_truth
  FROM (SELECT query_id, least(CAST(count(*) AS BIGINT), 5) AS n_truth
        FROM t GROUP BY 1) q,
       (VALUES (1), (2), (4)) p(nprobe)
),
rec AS (
  SELECT base.nprobe, base.query_id,
         round(COALESCE(h.n_hits, 0) / CAST(base.n_truth AS DOUBLE), 6)
           AS recall
  FROM base LEFT JOIN hits h
    ON h.nprobe = base.nprobe AND h.query_id = base.query_id
)
SELECT CAST(nprobe AS BIGINT) AS nprobe,
       round(avg(recall), 6) AS macro_recall,
       CAST(count(*) AS BIGINT) AS n_queries
FROM rec GROUP BY nprobe
"""


_PCT_QS = (0.25, 0.5, 0.75, 0.95, 0.99)


def q_percentiles_exact_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantiles of l_extendedprice (Spark's percentile
    aggregate ≡ DuckDB quantile_cont, verified bit-identical) — the
    oracle-checked truth the t-digest sketch is tolerance-tested
    against in pytest, putting the quantile surface under the oracle
    gate even though merging digests themselves aren't
    SQL-replayable."""
    df = _t(spark, sf_dir, "lineitem")
    row = df.agg(
        F.percentile("l_extendedprice", list(_PCT_QS)).alias("p")
    ).collect()[0]["p"]
    return spark.createDataFrame(
        [(q, round(v, 6)) for q, v in zip(_PCT_QS, row)],
        "quantile double, value double",
    )


def _sql_percentiles_exact_lineitem() -> str:
    qs = ", ".join(repr(q) for q in _PCT_QS)
    sel = "\nUNION ALL\n".join(
        f"SELECT {q!r} AS quantile, round(p[{i + 1}], 6) AS value FROM t"
        for i, q in enumerate(_PCT_QS)
    )
    return f"""
WITH t AS (
  SELECT quantile_cont(l_extendedprice, [{qs}]) AS p FROM lineitem
)
{sel}
"""


def q_image_validate_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full image+caption validation on the deterministic synthetic
    table (north-rule input_hint schema) — rules, uniqueness, ref,
    pixel/phash UDF checks — reported as per-rule metrics. No SQL
    oracle: the image stage is Arrow-UDF Python; pytest goldens
    (tests/) assert exact planted counts instead."""
    from invalid_spark import synth
    from invalid_spark.checks import image as image_checks

    df = synth.images_df(spark, 400, partitions=8).cache()
    rules = load_rules(
        """
image_id: {$type: $str, $reg: '^img-[0-9]{12}$', $unique: true}
w: {$type: $int, $range: {$min: 1, $max: 100000}}
h: {$type: $int, $range: {$min: 1, $max: 100000}}
fmt: {$type: $str, $of: [png, jpeg, webp]}
caption: {$type: $str, $length: {$min: 1, $max: 10000}}
license_id: {$type: $str, $ref: {table: licenses, key: license_id}}
"""
    )
    v_rows = rows.run_row_checks(df, rules, "image_id")
    v_uni = unique.uniqueness_violations(df, "image_id", "image_id")
    v_ref = refint.ref_violations(
        df, "license_id", synth.licenses_df(spark), "license_id", "image_id"
    )
    v_img = image_checks.pixel_violations(df)
    all_v = v_rows.unionByName(v_uni).unionByName(v_ref).unionByName(v_img)
    return report.rule_metrics(all_v).drop("run_id").orderBy("rule_id", "error_type")


def q_rowcheck_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ingestion + nested $obj recursion: ``props`` (a JSON
    string column) parses via ``from_json`` into a struct and a
    nested rule validates ``props.k`` — the JSON source the
    reference planned but never built (json_field.go stub), free in
    Spark."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "props", F.from_json("props", "k int")
    )
    rules = load_rules(
        """
event_id: {$type: $int}
props:
  $type: $obj
  k: {$type: $int, $range: {$min: 0, $max: 89}}
"""
    )
    return _viol(rows.run_row_checks(ev, rules, "event_id"))


def q_violation_samples_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K bounded violation examples per (rule_id, error_type) —
    the alerting-dashboard primitive (window rank over violations)."""
    df = _t(spark, sf_dir, "orders")
    v = _viol(rows.run_row_checks(df, load_rules(ORDERS_RULES), "o_orderkey"))
    return report.violation_samples(v, k=5)


def q_vector_check_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$vector invariants (dim / NaN / zero-vector) over an embedding
    column, with corruptions planted on deterministic ids (the table
    itself is clean)."""
    from invalid_spark.checks import vector as vector_checks

    emb = _t(spark, sf_dir, "embeddings")
    idx = F.col("vec_id")
    v = F.col("embedding")
    corrupted = emb.withColumn(
        "embedding",
        F.when(idx % 17 == 0, F.slice(v, 1, 32))
        .when(idx % 19 == 0, F.concat(F.array(F.lit(float("nan"))), F.slice(v, 2, 63)))
        .when(idx % 23 == 0, F.transform(v, lambda x: x * 0))
        .otherwise(v),
    )
    out = vector_checks.vector_violations(corrupted, "embedding", "vec_id", dim=64)
    return _viol(out)


def q_caption_eq_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption byte-equality invariant (input_hint): current table vs
    a reference snapshot whose captions were perturbed on a
    deterministic subset (doc_id % 7 == 6 → suffix appended). Pure
    DataFrame algebra (join + binary compare), no UDF — both engines
    derive the perturbation from the documents table, so the oracle
    is a full value check. The synthetic image+caption variant of the
    same operator is pytest-golden-covered (tests/test_stages.py)."""
    from invalid_spark.checks import image as image_checks

    df = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("image_id"), F.col("text").alias("caption")
    )
    ref = df.withColumn(
        "caption",
        F.when(
            F.col("image_id") % 7 == 6,
            F.concat(F.col("caption"), F.lit(" [edited]")),
        ).otherwise(F.col("caption")),
    )
    v = image_checks.caption_violations(df, ref, key="image_id", col="caption")
    return _viol(v).orderBy("row_key")


def q_unique_phash_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness under a planted hot key (~10% of rows share one
    derived phash): the one aggregate's map-side partial combine
    collapses the hot key to one (key, count) pair per map task
    before the single exchange, so no reducer sees its rows. The
    skewed key derives from the events table (event_id % 10 == 0 →
    one shared value), so the DuckDB oracle replays the full value
    check; the synthetic-image skew variant stays pytest-covered."""
    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        F.when(F.col("event_id") % 10 == 0, F.lit(0))
        .otherwise(F.col("event_id"))
        .cast("long")
        .alias("phash")
    )
    d = unique.duplicate_keys(df, "phash")
    return d.select(F.col("k").alias("phash"), "cnt").orderBy("phash")


def q_emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-shaped embedding near-dup: hyperplane-LSH bucket join +
    in-bucket exact-cosine verification — never all-pairs (tests
    assert no cartesian product in the plan). Hyperplanes are
    md5-derived, so the oracle replays bucketing AND verification;
    recall vs the exact all-pairs result is asserted in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    p = dedup.embedding_neardup_lsh(
        emb, threshold=0.3, planes=8, probe_hamming=1, dim=64
    )
    return p.select("a", "b", F.round("cosine", 6).alias("cosine"))


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation pipeline (quality gate → language filter →
    exact dedup → MinHash-LSH near-dup keeper) over the documents
    table with planted exact duplicates; oracle replays every stage
    in SQL including the recursive cluster-keeper selection."""
    from invalid_spark.pipeline import curate

    df = _t(spark, sf_dir, "documents")
    extra = df.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    src = df.unionByName(extra)
    out = curate.curation_decisions(
        src, parallelism=2 * spark.sparkContext.defaultParallelism
    )
    return out.orderBy("id")


def q_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split — stable across
    engines, partitionings, and runs (unlike randomSplit); the oracle
    replays the md5 bucket arithmetic."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    return curate.deterministic_split(d, "doc_id").select("doc_id", "split")


def q_rowcheck_yaml_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-mode validation (the reference's literal NewYAML +
    NewRule + Validate workflow) over the reference's OWN vendored
    golden fixture pairs. The oracle is a VALUES table of the
    violations the reference's valid_test.go asserts (counts
    56-193; messages/order exact) — an independent expectation, not a
    replay."""
    from invalid_spark import docs
    from invalid_spark.dsl import load_rules_file

    fix = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "tests", "fixtures", "reference")
    pairs = [
        ("valid", "yaml-cases/valid.yaml", "exam/valid.yaml"),
        ("type_mismatch", "yaml-cases/type_mismatch.yaml",
         "exam/type_mismatch.yaml"),
        ("key_missing", "yaml-cases/key_missing.yaml",
         "exam/key_missing.yaml"),
        ("of_not_contain", "exam/constraint_of.yaml",
         "yaml-cases/constraint_of_not_contain.yaml"),
        ("of_contain", "exam/constraint_of.yaml",
         "yaml-cases/constraint_of_contain.yaml"),
        ("openapi", "yaml-cases/openapi.yaml", "exam/openapi.yaml"),
    ]
    out = None
    for name, data, rule in pairs:
        v = docs.validate_yaml_docs(
            docs.yaml_docs_df(spark, [os.path.join(fix, data)]),
            load_rules_file(os.path.join(fix, rule)),
        ).select(
            F.lit(name).alias("pair"), "path",
            F.col("key").alias("key_name"), "error_type", "message",
        )
        out = v if out is None else out.unionByName(v)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the compiled rule engine over the documents table."""
    return q_rowcheck_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rowcheck_orders": q_rowcheck_orders,
        "rowcheck_documents": q_rowcheck_documents,
        "rowcheck_expr_lineitem": q_rowcheck_expr_lineitem,
        "verdicts_documents_source": q_verdicts_documents_source,
        "stats_profile_lineitem": q_stats_profile_lineitem,
        "unique_part_name": q_unique_part_name,
        "ref_lineitem_suppkey": q_ref_lineitem_suppkey,
        "ref_bloom_lineitem": q_ref_bloom_lineitem,
        "pack_documents": q_pack_documents,
        "pack_summary_documents": q_pack_summary_documents,
        "pack_supplied_documents": q_pack_supplied_documents,
        "pack_materialize_documents": q_pack_materialize_documents,
        "dsir_weights_documents": q_dsir_weights_documents,
        "dsir_sample_documents": q_dsir_sample_documents,
        "chunk_documents": q_chunk_documents,
        "drift_ks_events": q_drift_ks_events,
        "drift_chi2_events": q_drift_chi2_events,
        "drift_psi_events": q_drift_psi_events,
        "drift_w1_events": q_drift_w1_events,
        "streaming_validate_events": q_streaming_validate_events,
        "streaming_chi2_windows": q_streaming_chi2_windows,
        "streaming_ks_windows": q_streaming_ks_windows,
        "anomaly_history_events": q_anomaly_history_events,
        "streaming_dedup_metrics_events": q_streaming_dedup_metrics_events,
        "streaming_minhash_screen_documents":
            q_streaming_minhash_screen_documents,
        "text_quality_documents": q_text_quality_documents,
        "text_langid_documents": q_text_langid_documents,
        "text_fingerprint_documents": q_text_fingerprint_documents,
        "text_repetition_documents": q_text_repetition_documents,
        "text_contamination_documents": q_text_contamination_documents,
        "dup_spans_documents": q_dup_spans_documents,
        "text_unigram_lm_documents": q_text_unigram_lm_documents,
        "text_vocab_documents": q_text_vocab_documents,
        "streaming_profile_events": q_streaming_profile_events,
        "text_pii_documents": q_text_pii_documents,
        "sample_documents": q_sample_documents,
        "rowcheck_pii_documents": q_rowcheck_pii_documents,
        "text_linefilter_documents": q_text_linefilter_documents,
        "stat_assertions_lineitem": q_stat_assertions_lineitem,
        "fd_lineitem": q_fd_lineitem,
        "monotonic_events": q_monotonic_events,
        "reconcile_orders": q_reconcile_orders,
        "magic_header_docs": q_magic_header_docs,
        "emb_drift_embeddings": q_emb_drift_embeddings,
        "rowcheck_when_documents": q_rowcheck_when_documents,
        "drift_partitioned_events": q_drift_partitioned_events,
        "null_rates_by_group_events": q_null_rates_by_group_events,
        "freshness_by_group_events": q_freshness_by_group_events,
        "cms_heavy_hitters_events": q_cms_heavy_hitters_events,
        "weighted_sample_documents": q_weighted_sample_documents,
        "drift_chi2_partitioned_events": q_drift_chi2_partitioned_events,
        "outliers_lineitem": q_outliers_lineitem,
        "benford_lineitem": q_benford_lineitem,
        "histogram_lineitem": q_histogram_lineitem,
        "vector_norm_embeddings": q_vector_norm_embeddings,
        "unique_composite_lineitem": q_unique_composite_lineitem,
        "rowcheck_format_documents": q_rowcheck_format_documents,
        "freshness_events": q_freshness_events,
        "snapshot_diff_documents": q_snapshot_diff_documents,
        "mix_report_documents": q_mix_report_documents,
        "mix_sample_documents": q_mix_sample_documents,
        "mix_report_tokens_documents": q_mix_report_tokens_documents,
        "dedup_incremental_documents": q_dedup_incremental_documents,
        "dedup_minhash_incremental_documents":
            q_dedup_minhash_incremental_documents,
        "bucket_skew_documents": q_bucket_skew_documents,
        "chi2_expected_events": q_chi2_expected_events,
        "stats_entropy_events": q_stats_entropy_events,
        "stats_corr_lineitem": q_stats_corr_lineitem,
        "stats_mi_events": q_stats_mi_events,
        "hot_keys_events": q_hot_keys_events,
        "streaming_watch_counts_events": q_streaming_watch_counts_events,
        "suggest_rules_documents": q_suggest_rules_documents,
        "suggest_vector_embeddings": q_suggest_vector_embeddings,
        "rowcheck_json_docs": q_rowcheck_json_docs,
        "dedup_exact_documents": q_dedup_exact_documents,
        "dedup_jaccard_documents": q_dedup_jaccard_documents,
        "dedup_minhash_lsh_documents": q_dedup_minhash_lsh_documents,
        "dedup_decisions_documents": q_dedup_decisions_documents,
        "dedup_keeper_score_documents": q_dedup_keeper_score_documents,
        "cluster_weights_documents": q_cluster_weights_documents,
        "dedup_simhash_documents": q_dedup_simhash_documents,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "phash_neardup": q_phash_neardup,
        "phash_incremental": q_phash_incremental,
        "streaming_phash_screen_documents": q_streaming_phash_screen_documents,
        "rowcheck_dynamic_events": q_rowcheck_dynamic_events,
        "emb_neardup_cosine": q_emb_neardup_cosine,
        "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
        "semantic_incremental_embeddings": q_semantic_incremental_embeddings,
        "semantic_contamination_embeddings": q_semantic_contamination_embeddings,
        "semantic_skew_embeddings": q_semantic_skew_embeddings,
        "semantic_diversity_embeddings": q_semantic_diversity_embeddings,
        "streaming_alignment_windows": q_streaming_alignment_windows,
        "alignment_embeddings": q_alignment_embeddings,
        "top_fraction_documents": q_top_fraction_documents,
        "top_fraction_by_lang_documents": q_top_fraction_by_lang_documents,
        "weighted_sample_by_lang_documents": q_weighted_sample_by_lang_documents,
        "emb_neardup_lsh": q_emb_neardup_lsh,
        "ann_brute_topk_embeddings": q_ann_brute_topk_embeddings,
        "ann_lsh_embeddings": q_ann_lsh_embeddings,
        "ann_recall_embeddings": q_ann_recall_embeddings,
        "ivf_tuning_embeddings": q_ivf_tuning_embeddings,
        "ann_ivf_embeddings": q_ann_ivf_embeddings,
        "percentiles_exact_lineitem": q_percentiles_exact_lineitem,
        "image_validate_synth": q_image_validate_synth,
        "caption_eq_documents": q_caption_eq_documents,
        "unique_phash_skew": q_unique_phash_skew,
        "rowcheck_json_events": q_rowcheck_json_events,
        "rowcheck_yaml_docs": q_rowcheck_yaml_docs,
        "curate_documents": q_curate_documents,
        "split_documents": q_split_documents,
        "violation_samples_orders": q_violation_samples_orders,
        "vector_check_embeddings": q_vector_check_embeddings,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered by the driver)

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_NTOKS = f"list_filter(regexp_split_to_array({_NORM}, '\\s+'), x -> x <> '')"

_SHINGLES = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_distinct([array_to_string(t[i+1:i+3], ' ') FOR i IN range(len(t)-2)]) "
    "ELSE [] END"
)

_STOPLIST = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)
_PUNCT_RE = r"[.,;:!?()\x27\x22-]"


def _sql_rowcheck_orders() -> str:
    base = "CAST(o_orderkey AS VARCHAR) AS row_key"
    return f"""
SELECT {base}, 'o_orderstatus' AS col_name, 'o_orderstatus' AS rule_id,
       'ofMismatch' AS error_type,
       'value of o_orderstatus must be one of [[O F]]' AS message,
       o_orderstatus AS observed
FROM orders WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
  AND o_orderstatus NOT IN ('O', 'F')
UNION ALL
SELECT {base}, 'o_totalprice', 'o_totalprice', 'rangeMismatch',
       'value of o_totalprice must be in range [1500, 450000]',
       CAST(o_totalprice AS VARCHAR)
FROM orders WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
  AND o_totalprice IS NOT NULL AND (o_totalprice < 1500 OR o_totalprice > 450000)
UNION ALL
SELECT {base}, 'o_orderpriority', 'o_orderpriority', 'regxMismatch',
       'value for [o_orderpriority] must match regexp : ^[1-3]-',
       o_orderpriority
FROM orders WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
  AND o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
  AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
"""


def _sql_rowcheck_documents() -> str:
    base = "CAST(doc_id AS VARCHAR) AS row_key"
    return f"""
SELECT {base}, 'text' AS col_name, 'text' AS rule_id,
       'strLengthMismatch' AS error_type,
       'length of value in [text] must < 60' AS message, text AS observed
FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL AND strlen(text) < 60
UNION ALL
SELECT {base}, 'text', 'text', 'strLengthMismatch',
       'length of value in [text] must > 540', text
FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL AND strlen(text) > 540
UNION ALL
SELECT {base}, 'lang', 'lang', 'ofMismatch',
       'value of lang must be one of [[en de fr es zh]]', lang
FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
  AND lang NOT IN ('en', 'de', 'fr', 'es', 'zh')
"""


def _sql_verdicts_documents_source() -> str:
    return f"""
WITH v AS (SELECT row_key FROM ({_sql_rowcheck_documents()})),
keyed AS (SELECT CAST(doc_id AS VARCHAR) AS row_key, source FROM documents),
-- one mapping row per key (mirrors report.group_verdicts key_map):
-- duplicated keys must not fan out the violations join
key_map AS (SELECT row_key, min(source) AS source FROM keyed GROUP BY row_key),
vp AS (SELECT source, count(*) AS n_violations
       FROM v JOIN key_map USING (row_key) GROUP BY source)
SELECT d.source, count(*) AS n_rows,
       COALESCE(any_value(vp.n_violations), 0) AS n_violations,
       COALESCE(any_value(vp.n_violations), 0) = 0 AS passed
FROM documents d LEFT JOIN vp ON d.source = vp.source
GROUP BY d.source
"""


def _sql_stats_profile_lineitem() -> str:
    pieces = [
        ("l_quantity", "null_rate",
         "avg(CAST(l_quantity IS NULL AS DOUBLE))"),
        ("l_quantity", "min", "CAST(min(l_quantity) AS DOUBLE)"),
        ("l_quantity", "max", "CAST(max(l_quantity) AS DOUBLE)"),
        ("l_quantity", "ndv", "CAST(count(DISTINCT l_quantity) AS DOUBLE)"),
        ("l_extendedprice", "null_rate",
         "avg(CAST(l_extendedprice IS NULL AS DOUBLE))"),
        ("l_extendedprice", "min", "CAST(min(l_extendedprice) AS DOUBLE)"),
        ("l_extendedprice", "max", "CAST(max(l_extendedprice) AS DOUBLE)"),
        ("l_discount", "min", "CAST(min(l_discount) AS DOUBLE)"),
        ("l_discount", "max", "CAST(max(l_discount) AS DOUBLE)"),
        ("l_discount", "q0.25", "quantile_cont(l_discount, 0.25)"),
        ("l_discount", "q0.5", "quantile_cont(l_discount, 0.5)"),
        ("l_discount", "q0.75", "quantile_cont(l_discount, 0.75)"),
    ]
    selects = [
        f"SELECT '{c}' AS col_name, '{s}' AS stat, round({e}, 6) AS value, "
        f"count(*) AS n_rows FROM lineitem"
        for c, s, e in pieces
    ]
    return "\nUNION ALL\n".join(selects)


def _sql_unique_part_name() -> str:
    return """
WITH d AS (SELECT p_name, count(*) AS cnt FROM part GROUP BY p_name
           HAVING count(*) > 1)
SELECT CAST(p_partkey AS VARCHAR) AS row_key, 'p_name' AS col_name,
       'p_name' AS rule_id, 'uniqueMismatch' AS error_type,
       'value of [p_name] must be unique, seen ' || CAST(cnt AS VARCHAR)
         || ' times' AS message,
       p_name AS observed
FROM part JOIN d USING (p_name)
"""


def _sql_ref_lineitem_suppkey() -> str:
    return """
SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
         AS row_key,
       'l_suppkey' AS col_name, 'l_suppkey' AS rule_id,
       'refMismatch' AS error_type,
       'value of [l_suppkey] has no match in reference [s_suppkey]' AS message,
       CAST(l_suppkey AS VARCHAR) AS observed
FROM lineitem
WHERE l_suppkey NOT IN
  (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
"""


def _sql_ref_bloom_lineitem() -> str:
    # Replays the Bloom screen exactly: same md5-derived positions,
    # same 32-bit words, so even false positives match. A per-row
    # rid keeps duplicate (orderkey, linenumber) fact rows distinct
    # (the Spark side emits one violation per fact ROW).
    m = 1 << 16
    return f"""
WITH dim AS (
  SELECT s_suppkey AS k FROM supplier WHERE s_suppkey % 10 <> 0
),
pos AS (
  SELECT CAST('0x' || substr(md5('bloom-v1-' || CAST(i AS VARCHAR) || '-'
                || CAST(k AS VARCHAR)), 1, 15) AS BIGINT) % {m} AS pos
  FROM dim, (VALUES (0), (1), (2)) s(i)
),
bloom AS (
  SELECT pos >> 5 AS word,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
),
fact AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
           AS row_key,
         l_suppkey AS fk,
         row_number() OVER () AS rid
  FROM lineitem
),
fp AS (
  SELECT rid, row_key, fk,
         CAST('0x' || substr(md5('bloom-v1-' || CAST(i AS VARCHAR) || '-'
               || CAST(fk AS VARCHAR)), 1, 15) AS BIGINT) % {m} AS pos
  FROM fact, (VALUES (0), (1), (2)) s(i)
),
checked AS (
  SELECT f.rid, any_value(f.row_key) AS row_key, any_value(f.fk) AS fk,
         bool_and(COALESCE(
           (b.bits & (1::BIGINT << CAST(f.pos % 32 AS INT))) <> 0,
           FALSE)) AS hit
  FROM fp f LEFT JOIN bloom b ON (f.pos >> 5) = b.word
  GROUP BY 1
)
SELECT row_key,
       'l_suppkey' AS col_name, 'l_suppkey' AS rule_id,
       'refMismatch' AS error_type,
       'value of [l_suppkey] fails bloom screen of reference [s_suppkey]'
         AS message,
       CAST(fk AS VARCHAR) AS observed
FROM checked WHERE NOT hit
"""


def _sql_drift_ks_events() -> str:
    return """
WITH b AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur
  FROM events WHERE value IS NOT NULL
), mm AS (
  SELECT min(v) AS lo, max(v) AS hi,
         CASE WHEN (max(v) - min(v)) / 256 = 0 THEN 1.0
              ELSE (max(v) - min(v)) / 256 END AS width
  FROM b
), hist AS (
  SELECT least(255, greatest(0, CAST(floor((v - lo) / width) AS BIGINT)))
           AS bucket,
         sum(is_cur) AS c_cur, sum(1 - is_cur) AS c_prev
  FROM b, mm GROUP BY 1
), cdf AS (
  -- exact-rational: cross-multiplied integer numerator, one final
  -- division (mirrors drift.ks_statistic_df)
  SELECT abs(sum(c_cur) OVER (ORDER BY bucket) * sum(c_prev) OVER ()
             - sum(c_prev) OVER (ORDER BY bucket) * sum(c_cur) OVER ())
           AS num,
         -- CAST: DuckDB widens window sum(BIGINT) to HUGEINT, which the
         -- driver's type-sensitive value hash rejects vs Spark's BIGINT
         CAST(sum(c_cur) OVER () AS BIGINT) AS n_cur,
         CAST(sum(c_prev) OVER () AS BIGINT) AS n_prior
  FROM hist
)
SELECT 'value' AS column_name,
       round(CAST(max(num) AS DOUBLE)
             / CAST(any_value(n_cur) * any_value(n_prior) AS DOUBLE),
             6) AS statistic,
       CAST(any_value(n_cur) AS BIGINT) AS n_cur,
       CAST(any_value(n_prior) AS BIGINT) AS n_prior
FROM cdf
"""


def _sql_drift_chi2_events() -> str:
    return """
WITH b AS (
  SELECT event_type AS cat,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur
  FROM events
), tab AS (
  SELECT cat, sum(is_cur) AS o1, sum(1 - is_cur) AS o2 FROM b GROUP BY cat
), t AS (
  -- CAST: window sum() would widen to HUGEINT (type-sensitive hash)
  SELECT cat, o1, o2, CAST(sum(o1) OVER () AS BIGINT) AS n,
         CAST(sum(o2) OVER () AS BIGINT) AS m FROM tab
), terms AS (
  -- exact-form terms d^2/r with d = o1*m - o2*n (int cross-product),
  -- summed by a strict left fold in category order so float
  -- accumulation is canonical (mirrors drift.chi2_statistic_df)
  SELECT cat, n, m,
         CASE WHEN o1 + o2 > 0
              THEN CAST(o1*m - o2*n AS DOUBLE) * CAST(o1*m - o2*n AS DOUBLE)
                   / CAST(o1 + o2 AS DOUBLE)
              ELSE 0.0 END AS term
  FROM t
)
SELECT 'event_type' AS column_name,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY cat NULLS FIRST)),
                         (a, b) -> a + b)
             / (CAST(any_value(n) AS DOUBLE) * CAST(any_value(m) AS DOUBLE)),
             6) AS statistic,
       greatest(count(*) - 1, 1) AS dof,
       CAST(any_value(n) AS BIGINT) AS n_cur,
       CAST(any_value(m) AS BIGINT) AS n_prior
FROM terms
"""


_STREAM_CHI2_REF = {
    "click": 0.25, "error": 0.25, "purchase": 0.25, "signup": 0.25,
}  # "view" deliberately absent → exercises the unknown-category path


def _chi2_crit(dof: int, threshold: float) -> float:
    """The same driver-side bisected critical value
    streaming.windowed_chi2_drift uses — one shared implementation
    (mathutil.chi2_critical) so the oracle literal cannot diverge."""
    from invalid_spark import mathutil

    return mathutil.chi2_critical(dof, threshold)


def q_text_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub gate (text.pii_features): emails/IPv4/SSN/phone
    counts per document, one codegen projection. PII is planted by
    deterministic text surgery (the corpus itself is synthetic), so
    every pattern fires on a known subset and the oracle replays both
    the surgery and the RE2-safe counts."""
    d = _t(spark, sf_dir, "documents")
    derived = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                "text",
                F.lit(" contact bob@example.com or admin@test.org at 10.1.2.3"),
            ),
        ).when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                "text", F.lit(" ssn 123-45-6789 phone 555-867-5309 end")
            ),
        ).otherwise(F.col("text")),
    )
    out = text.pii_features(derived)
    return out.select(
        F.col("id").alias("doc_id"), "n_email", "n_ipv4", "n_ssn",
        "n_phone", "n_pii", "has_pii",
    )


ASSERT_SPECS = [
    {"col": "l_quantity", "stat": "null_rate", "max": 0.0},
    {"col": "l_quantity", "stat": "mean", "min": 20.0, "max": 30.0},
    {"col": "l_discount", "stat": "max", "max": 0.05},  # fails: max=0.1
    {"col": "l_returnflag", "stat": "ndv", "min": 3.0, "max": 3.0},
    {"col": "l_extendedprice", "stat": "min", "min": 0.0},
]


def q_stats_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per categorical column (stats.column_entropy —
    deequ's Entropy analyzer): ALL columns in one tagged-explode scan
    + one hash aggregate; each column's −Σ p·ln p folds over its
    category-sorted count list so the float sum is canonical and
    DuckDB replays it bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    out = stats.column_entropy(ev, ["event_type", "user_id"])
    return out.select(
        "column_name", F.round("entropy", 6).alias("entropy"), "ndv", "n_rows"
    )


def _sql_stats_entropy_events() -> str:
    return """
WITH tagged AS (
  SELECT 'event_type' AS column_name, CAST(event_type AS VARCHAR) AS cat
  FROM events
  UNION ALL
  SELECT 'user_id' AS column_name, CAST(user_id AS VARCHAR) AS cat
  FROM events
), c AS (
  SELECT column_name, cat, count(*) AS cnt FROM tagged GROUP BY 1, 2
), t AS (
  SELECT column_name, cat, cnt,
         CAST(sum(cnt) OVER (PARTITION BY column_name) AS BIGINT) AS n
  FROM c
), terms AS (
  -- p·ln p per category; the list_reduce below folds in canonical
  -- category order (mirrors stats.column_entropy's F.aggregate fold)
  SELECT column_name, cat, n,
         (CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
         * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) AS term
  FROM t
)
SELECT column_name,
       round(-list_reduce(list_prepend(0.0, list(term ORDER BY cat NULLS FIRST)),
                          (a, b) -> a + b), 6) AS entropy,
       CAST(count(*) AS BIGINT) AS ndv,
       CAST(any_value(n) AS BIGINT) AS n_rows
FROM terms GROUP BY column_name
"""


def q_stats_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for column pairs (stats.pearson_corr —
    deequ's Correlation analyzer): five moment sums per pair share
    ONE aggregation pass; the closed-form ratio is computed from the
    collected moment row with the same formula the oracle replays
    from its own sums."""
    li = _t(spark, sf_dir, "lineitem")
    out = stats.pearson_corr(
        li, [("l_quantity", "l_extendedprice"), ("l_discount", "l_tax")]
    )
    return out.select(
        "col_x", "col_y", F.round("corr", 6).alias("corr"), "n"
    )


def _sql_stats_corr_lineitem() -> str:
    return """
WITH m AS (
  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
         CAST(count(*) AS DOUBLE) AS n,
         sum(CAST(l_quantity AS DOUBLE)) AS sx,
         sum(CAST(l_extendedprice AS DOUBLE)) AS sy,
         sum(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS sxy,
         sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS sxx,
         sum(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS syy
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  UNION ALL
  SELECT 'l_discount', 'l_tax',
         CAST(count(*) AS DOUBLE),
         sum(CAST(l_discount AS DOUBLE)),
         sum(CAST(l_tax AS DOUBLE)),
         sum(CAST(l_discount AS DOUBLE) * CAST(l_tax AS DOUBLE)),
         sum(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE)),
         sum(CAST(l_tax AS DOUBLE) * CAST(l_tax AS DOUBLE))
  FROM lineitem
  WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL
)
SELECT col_x, col_y,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr,
       CAST(n AS BIGINT) AS n
FROM m
"""


def q_stats_mi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns
    (stats.mutual_information — deequ's MutualInformation analyzer):
    joint counts in one scan, marginals from window sums over the
    cell frame, MI folded in canonical (a, b) order — the log's
    argument is a ratio of exact int64 products, so DuckDB replays
    the value bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    out = stats.mutual_information(ev, "event_type", "user_id")
    return out.select(
        "col_a", "col_b", F.round("mi", 6).alias("mi"), "n_rows"
    )


def _sql_stats_mi_events() -> str:
    return """
WITH cells AS (
  SELECT CAST(event_type AS VARCHAR) AS a, CAST(user_id AS VARCHAR) AS b,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), t AS (
  SELECT a, b, cnt,
         CAST(sum(cnt) OVER () AS BIGINT) AS n,
         CAST(sum(cnt) OVER (PARTITION BY a) AS BIGINT) AS ca,
         CAST(sum(cnt) OVER (PARTITION BY b) AS BIGINT) AS cb
  FROM cells
), terms AS (
  SELECT a, b, n,
         (CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
         * ln(CAST(cnt * n AS DOUBLE) / CAST(ca * cb AS DOUBLE)) AS term
  FROM t
)
SELECT 'event_type' AS col_a, 'user_id' AS col_b,
       round(list_reduce(
               list_prepend(0.0, list(term ORDER BY a NULLS FIRST, b NULLS FIRST)),
               (a, b) -> a + b), 6) AS mi,
       CAST(any_value(n) AS BIGINT) AS n_rows
FROM terms
"""


def q_hot_keys_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter / skew profile (stats.hot_keys): top-k key values
    by frequency with corpus share — the diagnostic that names WHICH
    keys need salting before a join or aggregate skews. The top-k is
    TakeOrderedAndProject (distributed partial top-k), never a
    single-partition rank over the full count frame; ordering is
    deterministic (count DESC, value ASC)."""
    ev = _t(spark, sf_dir, "events")
    out = stats.hot_keys(ev, "user_id", k=10)
    return out.select(
        "value", "cnt", F.round("share", 6).alias("share"), "rank"
    )


def _sql_hot_keys_events() -> str:
    return """
WITH c AS (
  SELECT CAST(user_id AS VARCHAR) AS "value", count(*) AS cnt
  FROM events GROUP BY 1
)
SELECT "value", cnt,
       round(CAST(cnt AS DOUBLE)
             / CAST((SELECT sum(cnt) FROM c) AS DOUBLE), 6) AS share,
       CAST(row_number() OVER (ORDER BY cnt DESC, "value" ASC NULLS FIRST)
            AS INT) AS rank
FROM c
ORDER BY cnt DESC, "value" ASC NULLS FIRST
LIMIT 10
"""


def q_cms_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters (stats.cms_sketch/cms_estimate):
    the bounded-state sibling of hot_keys — the exact profile shuffles
    one row per DISTINCT key, the sketch shuffles at most depth*width
    counter rows no matter the cardinality, and estimates never
    undershoot. md5-derived hash rows make the whole sketch (buckets,
    counters, min-estimates) bit-replayable by the SQL oracle. The
    candidate set here is the distinct key frame (deterministic oracle
    anchor, like percentiles_exact for the t-digest); the production
    path (stats.heavy_hitters_cms) derives candidates map-side from
    per-partition local top-k, pytest-covered with planted skew."""
    ev = _t(spark, sf_dir, "events")
    sk = stats.cms_sketch(ev, "user_id", depth=3, width=512, salt="cms-v1")
    cand = ev.select("user_id").where(F.col("user_id").isNotNull()).distinct()
    est = stats.cms_estimate(sk, cand, "user_id", depth=3, width=512, salt="cms-v1")
    top = est.orderBy(F.col("est_cnt").desc(), F.asc("value")).limit(10)
    rank_w = Window.orderBy(F.col("est_cnt").desc(), F.asc("value"))
    return top.withColumn("rank", F.row_number().over(rank_w))


def _sql_cms_heavy_hitters_events() -> str:
    return """
WITH v AS (
  SELECT CAST(user_id AS VARCHAR) AS value FROM events
  WHERE user_id IS NOT NULL
),
hi AS (SELECT unnest(range(3)) AS i),
sk AS (
  SELECT i,
         CAST('0x' || substr(md5('cms-v1-' || CAST(i AS VARCHAR) || '-'
                                 || value), 1, 8) AS BIGINT) % 512 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM v CROSS JOIN hi GROUP BY 1, 2
),
cand AS (SELECT DISTINCT value FROM v),
r AS (
  SELECT c.value, h.i,
         CAST('0x' || substr(md5('cms-v1-' || CAST(h.i AS VARCHAR) || '-'
                                 || c.value), 1, 8) AS BIGINT) % 512 AS bucket
  FROM cand c CROSS JOIN hi h
),
est AS (
  SELECT r.value, CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS est_cnt
  FROM r LEFT JOIN sk s ON r.i = s.i AND r.bucket = s.bucket
  GROUP BY r.value
)
SELECT value, est_cnt,
       CAST(row_number() OVER (ORDER BY est_cnt DESC, value ASC) AS INT)
         AS rank
FROM est
ORDER BY est_cnt DESC, value ASC
LIMIT 10
"""


def q_fd_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check (relations.fd_violating_determinants,
    the ``$fd`` rule's engine): determinant values of l_partkey that map
    to more than one l_suppkey — the FD generalization of ``$unique``
    (uniqueness is the FD col → row-id). Two-stage aggregation: the
    (det, dep) pair count partial-combines map-side, so the shuffle
    carries at most ndv(det)×ndv(dep|det) triples, never rows — a hot
    determinant spreads across its dep values (partial combine IS the
    salt)."""
    li = _t(spark, sf_dir, "lineitem")
    return relations.fd_violating_determinants(li, "l_partkey", "l_suppkey")


def _sql_fd_lineitem() -> str:
    return """
WITH pairs AS (
  SELECT CAST(l_partkey AS VARCHAR) AS "value",
         CAST(l_suppkey AS VARCHAR) AS dep, count(*) AS c
  FROM lineitem GROUP BY 1, 2
)
SELECT "value", CAST(count(*) AS BIGINT) AS ndv,
       CAST(sum(c) AS BIGINT) AS n_rows
FROM pairs GROUP BY "value" HAVING count(*) > 1
"""


def q_monotonic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key sequence monotonicity (relations.sequence_breaks, the
    ``$monotonic`` rule's engine — odometer / billing-counter sanity):
    rows where ``value`` decreases relative to the previous event of
    the same user in event_id order. One hash partition by key +
    in-partition sort + lag — O(1) state per group, no driver
    involvement. event_id is unique, so "previous" is well-defined and
    the oracle replays it deterministically."""
    ev = _t(spark, sf_dir, "events")
    breaks = relations.sequence_breaks(ev, "user_id", "event_id", "value")
    return breaks.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.round("value", 6).alias("value"),
        F.round("__prev", 6).alias("prev"),
    )


def _sql_monotonic_events() -> str:
    return """
WITH w AS (
  SELECT user_id, event_id, "value",
         lag("value") OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM events
)
SELECT user_id AS "key", event_id AS seq,
       round("value", 6) AS "value", round(prev, 6) AS prev
FROM w
WHERE prev IS NOT NULL AND "value" < prev
"""


def q_reconcile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-vs-dimension aggregate reconciliation
    (relations.reconcile_aggregates, the ``$reconcile`` rule's engine):
    per-order lineitem revenue vs o_totalprice, every key classified
    ok / mismatch / missing_fact / missing_dim via a full-outer join.
    Fact terms fold in canonical (l_linenumber, term)-sorted order —
    a strict left fold, so the float sum is bit-replayable — and the
    fact aggregate's hash partitioning on the join key is reused by
    the join: one shuffle on the fact side."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    term = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    rec = relations.reconcile_aggregates(
        li, orders, "l_orderkey", "o_orderkey", term,
        order="l_linenumber", dim_value="o_totalprice", tol=0.01,
    )
    return rec.select(
        "key",
        F.round("fact_value", 6).alias("fact_value"),
        F.round("dim_value", 6).alias("dim_value"),
        "status",
    )


def _sql_reconcile_orders() -> str:
    # the fold replays reconcile_aggregates' strict left fold: terms
    # sorted by (linenumber, term) — linenumber is NOT unique in the
    # synth lineitem, so the term value is the deterministic tiebreak,
    # matching Spark's sort_array over struct(__ord, __term)
    return """
WITH f AS (
  SELECT l_orderkey AS k,
         list_reduce(
           list_prepend(0.0, list(
             CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                  * (CAST(1 AS DOUBLE) + l_tax) AS DOUBLE)
             ORDER BY l_linenumber,
                      CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                           * (CAST(1 AS DOUBLE) + l_tax) AS DOUBLE))),
           (a, b) -> a + b) AS fact_value
  FROM lineitem GROUP BY 1
)
SELECT COALESCE(f.k, o.o_orderkey) AS "key",
       round(fact_value, 6) AS fact_value,
       round(o_totalprice, 6) AS dim_value,
       CASE WHEN f.k IS NULL THEN 'missing_fact'
            WHEN o.o_orderkey IS NULL THEN 'missing_dim'
            WHEN abs(fact_value - o_totalprice) <= 0.01 THEN 'ok'
            ELSE 'mismatch' END AS status
FROM f FULL OUTER JOIN orders o ON f.k = o.o_orderkey
"""


def q_magic_header_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-magic + header-dims validation ($magic rule /
    image.header_violations): the zero-decode structural screen that
    keeps corrupt containers and lying metadata out of the Arrow
    decode stage. Payloads are PNG headers derived deterministically
    from doc_id (planted: corrupt signature every 53rd, fmt declared
    jpeg every 41st, declared w off-by-one every 37th) so the oracle
    replays the hex-space parse bit-for-bit. Pure Catalyst — one
    projection, no Python, no shuffle."""
    from invalid_spark.checks import image

    doc = _t(spark, sf_dir, "documents")
    hw = (F.col("doc_id") % 512 + 16).cast("long")
    hh = ((F.col("doc_id") * 7) % 512 + 16).cast("long")
    sig = F.when(
        F.col("doc_id") % 53 == 0, F.lit("00504E470D0A1A0A")
    ).otherwise(F.lit("89504E470D0A1A0A"))
    hexs = F.concat(
        sig, F.lit("0000000D"), F.lit("49484452"),
        F.lpad(F.hex(hw), 8, "0"), F.lpad(F.hex(hh), 8, "0"),
        F.lit("0802000000"),
    )
    df = doc.select(
        F.col("doc_id"),
        F.unhex(hexs).alias("bytes"),
        F.when(F.col("doc_id") % 41 == 0, F.lit("jpeg"))
        .otherwise(F.lit("png")).alias("fmt"),
        (hw + F.when(F.col("doc_id") % 37 == 0, F.lit(1)).otherwise(F.lit(0)))
        .alias("w"),
        hh.alias("h"),
    )
    v = image.header_violations(df, row_key="doc_id")
    return v.select("row_key", "rule_id", "error_type", "observed")


def _sql_magic_header_docs() -> str:
    return """
WITH d AS (
  SELECT doc_id,
         (doc_id % 512) + 16 AS hw,
         ((doc_id * 7) % 512) + 16 AS hh,
         (doc_id % 512) + 16
           + CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END AS w,
         ((doc_id * 7) % 512) + 16 AS h,
         CASE WHEN doc_id % 41 = 0 THEN 'jpeg' ELSE 'png' END AS fmt,
         doc_id % 53 = 0 AS bad_sig
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS row_key, 'bytes~fmt' AS rule_id,
       'magicMismatch' AS error_type,
       concat_ws(' vs ',
                 CASE WHEN bad_sig THEN 'unknown' ELSE 'png' END,
                 fmt) AS observed
FROM d WHERE bad_sig OR fmt <> 'png'
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'bytes~dims', 'headerDimsMismatch',
       concat_ws(' vs ',
                 concat_ws('x', CAST(hw AS VARCHAR), CAST(hh AS VARCHAR)),
                 concat_ws('x', CAST(w AS VARCHAR), CAST(h AS VARCHAR)))
FROM d WHERE NOT bad_sig AND (hw <> w OR hh <> h)
"""


def q_emb_drift_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift (drift.embedding_drift): project
    the vector column onto 4 md5-derived hyperplanes (random-
    projection sketch — by Cramér–Wold any mean/scale/rotation shift
    of the distribution moves some 1-D projection) and KS-test each
    projection; all 4 planes share multi_drift's constant scan count.
    Two scenarios: the odd/even vec_id split (no drift) and the same
    split with the current side shifted +1.0 per component (planted
    drift). Verdicts are evaluated in λ-space against ONE Kolmogorov
    critical constant (streaming_ks_windows' trick), so DuckDB
    replays statistic AND boolean bit-for-bit — left-fold projection,
    integer cross-product CDF gap, single final division."""
    import math

    from invalid_spark import mathutil

    emb = _t(spark, sf_dir, "embeddings")
    prev = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    shifted = cur.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x.cast("double") + F.lit(1.0)),
    )
    lam = mathutil.kolmogorov_lambda_critical(0.05)
    out = []
    for scen, c in (("null", cur), ("shift", shifted)):
        res = drift.embedding_drift(c, prev, dim=64, planes=4)
        for p, r in sorted(res.items()):
            n, m = int(r.n_current), int(r.n_prior)
            lam_obs = (
                r.statistic * math.sqrt((n * m) / (n + m)) if n and m else 0.0
            )
            out.append(
                (scen, p, round(float(r.statistic), 6), bool(lam_obs > lam), n, m)
            )
    return spark.createDataFrame(
        out,
        "scenario string, plane int, statistic double, drifted boolean, "
        "n_cur bigint, n_prior bigint",
    )


def _sql_emb_drift_embeddings() -> str:
    from invalid_spark import mathutil

    pls = dedup.neardup_planes(64, 4)
    lam = mathutil.kolmogorov_lambda_critical(0.05)
    blocks = []
    for scen, shift in (("null", False), ("shift", True)):
        for p, plane in enumerate(pls):
            lits = ", ".join(repr(x) for x in plane)
            raw = (
                f"list_reduce(list_transform(range(64), "
                f"i -> CAST(embedding[i+1] AS DOUBLE) * [{lits}][i+1]), "
                f"(a, b) -> a + b)"
            )
            shifted = (
                f"list_reduce(list_transform(range(64), "
                f"i -> (CAST(embedding[i+1] AS DOUBLE) + 1.0) * [{lits}][i+1]), "
                f"(a, b) -> a + b)"
            )
            v = (
                f"CASE WHEN vec_id % 2 = 1 THEN {shifted} ELSE {raw} END"
                if shift
                else raw
            )
            blocks.append(f"""
SELECT '{scen}' AS scenario, {p} AS plane, round(stat, 6) AS statistic,
       stat * sqrt((n_cur * n_prior) / (n_cur + n_prior)) > {lam!r} AS drifted,
       n_cur, n_prior
FROM (
  WITH b AS (
    SELECT CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur,
           {v} AS v
    FROM embeddings WHERE embedding IS NOT NULL
  ), mm AS (
    SELECT min(v) AS lo, max(v) AS hi,
           CASE WHEN (max(v) - min(v)) / 256 = 0 THEN 1.0
                ELSE (max(v) - min(v)) / 256 END AS width
    FROM b WHERE v IS NOT NULL
  ), hist AS (
    SELECT least(255, greatest(0, CAST(floor((v - lo) / width) AS BIGINT)))
             AS bucket,
           sum(is_cur) AS c_cur, sum(1 - is_cur) AS c_prev
    FROM b, mm WHERE v IS NOT NULL GROUP BY 1
  ), cdf AS (
    SELECT abs(sum(c_cur) OVER (ORDER BY bucket) * sum(c_prev) OVER ()
               - sum(c_prev) OVER (ORDER BY bucket) * sum(c_cur) OVER ())
             AS num,
           CAST(sum(c_cur) OVER () AS BIGINT) AS n_cur,
           CAST(sum(c_prev) OVER () AS BIGINT) AS n_prior
    FROM hist
  )
  SELECT CAST(max(num) AS DOUBLE)
           / CAST(any_value(n_cur) * any_value(n_prior) AS DOUBLE) AS stat,
         CAST(any_value(n_cur) AS BIGINT) AS n_cur,
         CAST(any_value(n_prior) AS BIGINT) AS n_prior
  FROM cdf
)""")
    return "\nUNION ALL\n".join(blocks)


def q_rowcheck_when_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$when row-scope predicate (deequ `.where()` analog): the lang
    enum applies only to sources src0-2; the source regex stays
    unscoped. Both ride ONE codegen projection — scoping costs no
    extra scan; the oracle replays scope + fail-fast gates in SQL."""
    d = _t(spark, sf_dir, "documents")
    rules = load_rules(
        "lang: {$type: $str, $of: [en, fr, de], "
        "$when: {sql: \"source IN ('src0','src1','src2')\"}}\n"
        "source: {$type: $str, $reg: '^src[0-9]+$'}\n"
    )
    return _viol(rows.run_row_checks(d, rules, "doc_id"))


def _sql_rowcheck_when_documents() -> str:
    # scope predicate P = source IN (src0-2) (NULL → out of scope);
    # alive after the scoped lang rule = NOT(P AND lang IS NULL)
    return """
WITH d AS (
  SELECT *, coalesce(source IN ('src0','src1','src2'), FALSE) AS p
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT CAST(doc_id AS VARCHAR) AS row_key, 'lang' AS col_name,
       'lang' AS rule_id, 'keyMissing' AS error_type,
       'key of [lang] is required' AS message,
       CAST(NULL AS VARCHAR) AS observed
FROM d WHERE p AND lang IS NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'lang', 'lang', 'ofMismatch',
       'value of lang must be one of [[en fr de]]', lang
FROM d WHERE p AND lang IS NOT NULL AND lang NOT IN ('en','fr','de')
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'source', 'source', 'keyMissing',
       'key of [source] is required', NULL
FROM d WHERE NOT (p AND lang IS NULL) AND source IS NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'source', 'source', 'regxMismatch',
       'value for [source] must match regexp : ^src[0-9]+$', source
FROM d WHERE NOT (p AND lang IS NULL) AND source IS NOT NULL
  AND NOT regexp_matches(source, '^src[0-9]+$')
"""


def q_drift_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition KS drift (drift.ks_statistic_by_group): the
    "which shard went bad" view a whole-table statistic averages
    away. A +30 shift planted in ONE event_type of the current side
    flags only that group; verdict is λ-space JVM-side (no per-group
    driver round-trip). Everything — per-group grids, histogram,
    exact-rational statistic, verdict — replays in SQL."""
    ev = _t(spark, sf_dir, "events")
    prev = ev.filter("event_id % 2 = 0")
    cur = ev.filter("event_id % 2 = 1").withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.col("value") + 30.0)
        .otherwise(F.col("value")),
    )
    out = drift.ks_statistic_by_group(
        cur, prev, "value", "event_type", alpha=0.01
    )
    return out.select(
        "event_type", F.round("statistic", 6).alias("statistic"),
        "n_cur", "n_prior", "drifted",
    )


def _sql_drift_partitioned_events() -> str:
    from invalid_spark import mathutil

    lam = mathutil.kolmogorov_lambda_critical(0.01)
    return f"""
WITH b AS (
  SELECT event_type AS g,
         CASE WHEN event_id % 2 = 1 AND event_type = 'click'
              THEN value + 30.0 ELSE value END AS v,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), grids AS (
  SELECT g, min(v) AS lo, max(v) AS hi FROM b GROUP BY g
), bk AS (
  SELECT b.g, is_cur,
         least(255, greatest(0, CAST(floor((v - lo) /
           (CASE WHEN (hi - lo) / 256 = 0 THEN 1.0
                 ELSE (hi - lo) / 256 END)) AS BIGINT))) AS bucket
  FROM b JOIN grids USING (g)
), hist AS (
  SELECT g, bucket, sum(is_cur) AS c_cur, sum(1 - is_cur) AS c_prev
  FROM bk GROUP BY g, bucket
), cdf AS (
  SELECT g,
         abs(sum(c_cur) OVER (PARTITION BY g ORDER BY bucket)
               * sum(c_prev) OVER (PARTITION BY g)
             - sum(c_prev) OVER (PARTITION BY g ORDER BY bucket)
               * sum(c_cur) OVER (PARTITION BY g)) AS num,
         CAST(sum(c_cur) OVER (PARTITION BY g) AS BIGINT) AS n_cur,
         CAST(sum(c_prev) OVER (PARTITION BY g) AS BIGINT) AS n_prior
  FROM hist
), s AS (
  SELECT g, CAST(max(num) AS DOUBLE)
              / CAST(any_value(n_cur) * any_value(n_prior) AS DOUBLE) AS stat,
         any_value(n_cur) AS n_cur, any_value(n_prior) AS n_prior
  FROM cdf GROUP BY g
)
SELECT g AS event_type, round(stat, 6) AS statistic,
       CAST(n_cur AS BIGINT) AS n_cur, CAST(n_prior AS BIGINT) AS n_prior,
       stat * sqrt(CAST(n_cur * n_prior AS DOUBLE)
                   / CAST(n_cur + n_prior AS DOUBLE)) > {lam!r} AS drifted
FROM s
"""


def q_drift_chi2_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition chi² homogeneity (drift.chi2_statistic_by_group):
    event_type mix of odd vs even event ids, per user_id%3 shard —
    contingency counts aggregate per (group, category) with partial
    combine, the canonical-order fold replays bit-for-bit in SQL."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "g", (F.col("user_id") % 3).cast("string")
    )
    prev = ev.filter("event_id % 2 = 0")
    cur = ev.filter("event_id % 2 = 1")
    out = drift.chi2_statistic_by_group(cur, prev, "event_type", "g")
    return out.select(
        "g", F.round("statistic", 6).alias("statistic"),
        "dof", "n_cur", "n_prior",
    )


def _sql_drift_chi2_partitioned_events() -> str:
    return """
WITH b AS (
  SELECT CAST(user_id % 3 AS VARCHAR) AS g, event_type AS cat,
         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS is_cur
  FROM events WHERE user_id IS NOT NULL
), tab AS (
  SELECT g, cat, sum(is_cur) AS o1, sum(1 - is_cur) AS o2
  FROM b GROUP BY g, cat
), t AS (
  SELECT g, cat, o1, o2,
         CAST(sum(o1) OVER (PARTITION BY g) AS BIGINT) AS n,
         CAST(sum(o2) OVER (PARTITION BY g) AS BIGINT) AS m
  FROM tab
), terms AS (
  SELECT g, cat, n, m,
         CASE WHEN o1 + o2 > 0
              THEN CAST(o1*m - o2*n AS DOUBLE) * CAST(o1*m - o2*n AS DOUBLE)
                   / CAST(o1 + o2 AS DOUBLE)
              ELSE 0.0 END AS term
  FROM t
)
SELECT g,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY cat NULLS FIRST)),
                         (a, b) -> a + b)
             / (CAST(any_value(n) AS DOUBLE) * CAST(any_value(m) AS DOUBLE)),
             6) AS statistic,
       greatest(count(*) - 1, 1) AS dof,
       CAST(any_value(n) AS BIGINT) AS n_cur,
       CAST(any_value(m) AS BIGINT) AS n_prior
FROM terms GROUP BY g
"""


def q_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level outlier screen (stats.outlier_violations): Tukey IQR
    fences from ONE exact-percentile aggregation (F.percentile ≡
    DuckDB quantile_cont, the parity the percentiles_exact oracle
    pins), then one pruned filter scan with the fences as literals.
    Spikes planted on ~1/1999 rows; message column dropped (its
    Python float repr is not SQL-reproducible — the check itself
    is)."""
    df = _t(spark, sf_dir, "lineitem")
    spiked = df.withColumn(
        "l_extendedprice",
        F.when(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")) % 1999 == 0,
            F.col("l_extendedprice") + 500000.0,
        ).otherwise(F.col("l_extendedprice")),
    )
    v = stats.outlier_violations(spiked, "l_extendedprice", "l_orderkey")
    return v.select("row_key", "rule_id", "error_type", "observed")


def _sql_outliers_lineitem() -> str:
    return """
WITH d AS (
  SELECT l_orderkey,
         CASE WHEN (l_orderkey * 10 + l_linenumber) % 1999 = 0
              THEN l_extendedprice + 500000.0
              ELSE l_extendedprice END AS v
  FROM lineitem
), b AS (
  SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3 FROM d
), f AS (
  SELECT q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM b
)
SELECT CAST(l_orderkey AS VARCHAR) AS row_key,
       'l_extendedprice' AS rule_id, 'outlier' AS error_type,
       CAST(v AS VARCHAR) AS observed
FROM d, f WHERE v IS NOT NULL AND (v < lo OR v > hi)
"""


def q_benford_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit goodness-of-fit (stats.benford_test): the
    fabricated-data screen. One digit-histogram aggregation; the digit
    comes from the decimal string of trunc-toward-zero (never
    log10/pow — decade boundaries land wrong in floating point); the
    9-term chi² folds in digit order, SQL-replayable. Synthetic
    uniform prices are decidedly non-Benford — the point is the exact
    statistic, not the verdict."""
    df = _t(spark, sf_dir, "lineitem")
    out = stats.benford_test(df, "l_extendedprice")
    return out.select(
        "column_name", F.round("statistic", 6).alias("statistic"),
        "dof", "n",
    )


def _sql_benford_lineitem() -> str:
    from invalid_spark.checks.stats import BENFORD_P

    plist = ", ".join(repr(p) for p in BENFORD_P)
    return f"""
WITH dig AS (
  SELECT CAST(substring(CAST(abs(CAST(trunc(l_extendedprice) AS BIGINT))
                             AS VARCHAR), 1, 1) AS INT) AS d
  FROM lineitem
), hist AS (
  SELECT d, count(*) AS cnt FROM dig WHERE d IS NOT NULL AND d > 0 GROUP BY d
), t AS (
  SELECT d, cnt, CAST(sum(cnt) OVER () AS BIGINT) AS n FROM hist
), terms AS (
  SELECT d, n,
         (CAST(cnt AS DOUBLE) - CAST(n AS DOUBLE) * ([{plist}])[d + 1])
         * (CAST(cnt AS DOUBLE) - CAST(n AS DOUBLE) * ([{plist}])[d + 1])
         / (CAST(n AS DOUBLE) * ([{plist}])[d + 1]) AS term
  FROM t
)
SELECT 'l_extendedprice' AS column_name,
       round(list_reduce(list_prepend(0.0, list(term ORDER BY d)),
                         (a, b) -> a + b), 6) AS statistic,
       8 AS dof, CAST(any_value(n) AS BIGINT) AS n
FROM terms
"""


def q_histogram_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram profile (stats.histogram): 16 bins over
    l_extendedprice with computed bounds, EMPTY BINS INCLUDED (a
    drift UI / declared-shape comparison needs the zeros so the grid
    never re-indexes between snapshots). One partial-combine count
    aggregation (≤ bins rows shuffle per partition) after the min/max
    pass; DuckDB replays the identical double arithmetic (same width,
    same closed-upper-edge rule for the max value)."""
    df = _t(spark, sf_dir, "lineitem")
    h = stats.histogram(df, "l_extendedprice", bins=16)
    return h.select(
        "bin",
        F.round("lo_edge", 6).alias("lo_edge"),
        F.round("hi_edge", 6).alias("hi_edge"),
        "n",
    )


def _sql_histogram_lineitem() -> str:
    return """
WITH b AS (
  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
         CAST(max(l_extendedprice) AS DOUBLE) AS hi
  FROM lineitem
), g AS (
  SELECT CAST(range AS BIGINT) AS bin FROM range(16)
), d AS (
  SELECT CASE WHEN CAST(l_extendedprice AS DOUBLE) = b.hi THEN 15
              ELSE CAST(floor((CAST(l_extendedprice AS DOUBLE) - b.lo)
                              / ((b.hi - b.lo) / 16)) AS BIGINT)
         END AS bin
  FROM lineitem, b
  WHERE l_extendedprice IS NOT NULL
    AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
    AND CAST(l_extendedprice AS DOUBLE) >= b.lo
    AND CAST(l_extendedprice AS DOUBLE) <= b.hi
), c AS (
  SELECT bin, count(*) AS n FROM d GROUP BY bin
)
SELECT g.bin,
       round(b.lo + g.bin * ((b.hi - b.lo) / 16), 6) AS lo_edge,
       round(b.lo + (g.bin + 1) * ((b.hi - b.lo) / 16), 6) AS hi_edge,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM g CROSS JOIN b LEFT JOIN c ON c.bin = g.bin
"""


def q_vector_norm_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$vector L2-norm band + ±Inf finiteness (vector.py norm_min/
    norm_max): vectors are unit-normalized first (norm exactly
    computable both engines — left fold over doubles), then planted:
    ×3 scale (norm 3 > max), ×0.1 scale (norm 0.1 < min), and a +Inf
    first element (finiteness violation AND an Inf norm breaching the
    band). Deterministic when-chain on vec_id strides; observed is
    dropped from the projection because Spark renders Inf as
    'Infinity' vs DuckDB 'inf' — the verdict columns are the
    contract."""
    from invalid_spark.checks import vector as vector_checks

    emb = _t(spark, sf_dir, "embeddings")
    idx, v = F.col("vec_id"), F.col("embedding")
    norm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    unit = F.transform(v, lambda x: x.cast("double") / (norm + F.lit(1e-12)))
    planted = (
        F.when(idx % 13 == 0, F.transform(unit, lambda x: x * 3.0))
        .when(idx % 29 == 0, F.transform(unit, lambda x: x * 0.1))
        .when(
            idx % 31 == 0,
            F.concat(F.array(F.lit(float("inf"))), F.slice(unit, 2, 63)),
        )
        .otherwise(unit)
    )
    d = emb.select("vec_id", planted.alias("embedding"))
    out = vector_checks.vector_violations(
        d, "embedding", "vec_id", dim=64, norm_min=0.5, norm_max=2.0
    )
    return out.select("row_key", "error_type", "message")


def _sql_vector_norm_embeddings() -> str:
    return """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      (sqrt(list_reduce(
          list_prepend(0.0, list_transform(
              embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
          (a, b) -> a + b)) + 1e-12)) AS u
  FROM embeddings
), planted AS (
  SELECT vec_id,
    CASE WHEN vec_id % 13 = 0 THEN list_transform(u, x -> x * 3.0)
         WHEN vec_id % 29 = 0 THEN list_transform(u, x -> x * 0.1)
         WHEN vec_id % 31 = 0 THEN
              list_concat(['Infinity'::DOUBLE], u[2:64])
         ELSE u END AS v
  FROM unit
), norms AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0,
              list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
  FROM planted
)
SELECT CAST(vec_id AS VARCHAR) AS row_key,
       'vectorMismatch' AS error_type,
       'vector [embedding] must have dim 64' AS message
FROM norms WHERE v IS NOT NULL AND len(v) <> 64
UNION ALL
SELECT CAST(vec_id AS VARCHAR), 'vectorMismatch',
       'vector [embedding] must not contain NaN/null/Inf'
FROM norms WHERE v IS NOT NULL
  AND len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
UNION ALL
SELECT CAST(vec_id AS VARCHAR), 'vectorMismatch',
       'vector [embedding] L2 norm must be in [0.5, 2.0]'
FROM norms WHERE v IS NOT NULL AND (nrm < 0.5 OR nrm > 2.0)
UNION ALL
SELECT CAST(vec_id AS VARCHAR), 'vectorMismatch',
       'vector [embedding] must not be all zeros'
FROM norms WHERE v IS NOT NULL AND len(v) > 0
  AND len(list_filter(v, x -> x <> 0)) = 0
"""


def q_null_rates_by_group_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition completeness (stats.null_rates_by_group): which
    shard is missing data — one conditional-count aggregation for all
    columns, exploded to long form AFTER the aggregate. NULLs planted
    on deterministic event_id strides."""
    ev = _t(spark, sf_dir, "events")
    planted = ev.withColumn(
        "props",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("props")
        ),
    ).withColumn(
        "value",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    out = stats.null_rates_by_group(planted, ["props", "value"], "event_type")
    return out.select(
        "event_type", "column_name", "n", "n_null",
        F.round("null_rate", 6).alias("null_rate"),
    )


def _sql_null_rates_by_group_events() -> str:
    return """
WITH d AS (
  SELECT event_type,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE props END AS props,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
  FROM events
), w AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value
  FROM d GROUP BY event_type
)
SELECT event_type, 'props' AS column_name, n, null_props AS n_null,
       round(CAST(null_props AS DOUBLE) / CAST(n AS DOUBLE), 6) AS null_rate
FROM w
UNION ALL
SELECT event_type, 'value', n, null_value,
       round(CAST(null_value AS DOUBLE) / CAST(n AS DOUBLE), 6)
FROM w
"""


def q_unique_composite_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite natural-key uniqueness ($unique: {with: [...]} /
    unique.composite_uniqueness_violations): (l_orderkey,
    l_linenumber) is unique until we plant duplicates on a ~1/5003
    orderkey stride; both copies of each duplicated key flag. Same
    one partial-combine aggregate as single-column uniqueness; the
    join back is null-safe on every key part."""
    df = _t(spark, sf_dir, "lineitem")
    spiked = df.unionAll(df.filter(F.col("l_orderkey") % 5003 == 0))
    v = unique.composite_uniqueness_violations(
        spiked, ["l_orderkey", "l_linenumber"], "l_orderkey"
    )
    return v.select("row_key", "rule_id", "error_type", "message", "observed")


def _sql_unique_composite_lineitem() -> str:
    return """
WITH d AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 5003 = 0
), dups AS (
  SELECT l_orderkey AS k1, l_linenumber AS k2, count(*) AS cnt
  FROM d GROUP BY 1, 2 HAVING count(*) > 1
)
SELECT CAST(d.l_orderkey AS VARCHAR) AS row_key,
       'l_orderkey~l_linenumber' AS rule_id,
       'uniqueMismatch' AS error_type,
       'value of [l_orderkey~l_linenumber] must be unique, seen '
         || CAST(cnt AS VARCHAR) || ' times' AS message,
       concat_ws('~',
                 coalesce(CAST(d.l_orderkey AS VARCHAR), '∅'),
                 coalesce(CAST(d.l_linenumber AS VARCHAR), '∅')) AS observed
FROM d JOIN dups
  ON d.l_orderkey IS NOT DISTINCT FROM dups.k1
 AND d.l_linenumber IS NOT DISTINCT FROM dups.k2
"""


def q_rowcheck_format_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$format named whole-value patterns (email here): sugar over
    hand-rolled $reg with its own formatMismatch error type, anchored
    and RE2-safe so DuckDB evaluates the identical regex. Corrupt
    emails planted on a 1/19 doc_id stride."""
    d = _t(spark, sf_dir, "documents")
    derived = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 0, F.lit("user@@bad"))
        .otherwise(
            F.concat(F.lit("user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com"))
        ).alias("em"),
    )
    rules = load_rules("em: {$type: $str, $format: email}\n")
    return _viol(rows.run_row_checks(derived, rules, "doc_id"))


def _sql_rowcheck_format_documents() -> str:
    from invalid_spark.dsl import FORMAT_PATTERNS

    pat = FORMAT_PATTERNS["email"]
    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 19 = 0 THEN 'user@@bad'
              ELSE 'user' || CAST(doc_id AS VARCHAR) || '@example.com'
         END AS em
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT CAST(doc_id AS VARCHAR) AS row_key, 'em' AS col_name,
       'em' AS rule_id, 'formatMismatch' AS error_type,
       'value of [em] must be a valid email' AS message,
       em AS observed
FROM d WHERE em IS NOT NULL AND NOT regexp_matches(em, '{pat}')
"""


def q_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style freshness gate (stats.freshness): newest ts within
    max_age of an EXPLICIT anchor (never wall clock — reproducible,
    oracle-replayable). Exact integer microsecond arithmetic
    (unix_micros ≡ DuckDB epoch_us). Two gates: one passes, one
    fails."""
    import datetime as dt

    ev = _t(spark, sf_dir, "events")
    now = dt.datetime(2024, 1, 31, 12, 0, 0, tzinfo=dt.timezone.utc)
    day = stats.freshness(ev, "ts", 86400.0, now).withColumn(
        "max_age_seconds", F.lit(86400.0)
    )
    hour = stats.freshness(ev, "ts", 3600.0, now).withColumn(
        "max_age_seconds", F.lit(3600.0)
    )
    return day.unionByName(hour).select(
        "column_name", "max_ts", "age_seconds", "max_age_seconds", "fresh"
    )


def _sql_freshness_events() -> str:
    import datetime as dt

    now = dt.datetime(2024, 1, 31, 12, 0, 0, tzinfo=dt.timezone.utc)
    now_us = int(now.timestamp() * 1_000_000)
    blocks = []
    for age_s in (86400.0, 3600.0):
        max_age_us = int(age_s * 1_000_000)
        blocks.append(f"""
SELECT 'ts' AS column_name,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
       CAST({now_us} - epoch_us(max(ts)) AS DOUBLE) / 1e6 AS age_seconds,
       {age_s!r} AS max_age_seconds,
       ({now_us} - epoch_us(max(ts))) <= {max_age_us} AS fresh
FROM events""")
    return "\nUNION ALL\n".join(blocks)


def q_freshness_by_group_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group freshness (stats.freshness_by_group): which
    event_type stopped shipping — a dead source hides behind the
    global max_ts, so the gate runs per group. To plant a stale
    group, 'error' events after Jan 20 are dropped; against a Jan 31
    anchor with a 7-day budget every other type is fresh and 'error'
    is not. One grouped max aggregation, report-sized output."""
    import datetime as dt

    ev = _t(spark, sf_dir, "events").filter(
        ~(
            (F.col("event_type") == "error")
            & (F.col("ts") >= F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
    )
    now = dt.datetime(2024, 1, 31, 12, 0, 0, tzinfo=dt.timezone.utc)
    out = stats.freshness_by_group(ev, "ts", 7 * 86400.0, now, "event_type")
    return out.select(
        "group", "column_name", "max_ts", "age_seconds", "fresh"
    )


def _sql_freshness_by_group_events() -> str:
    import datetime as dt

    now = dt.datetime(2024, 1, 31, 12, 0, 0, tzinfo=dt.timezone.utc)
    now_us = int(now.timestamp() * 1_000_000)
    max_age_us = int(7 * 86400.0 * 1_000_000)
    return f"""
SELECT event_type AS "group", 'ts' AS column_name,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
       CAST({now_us} - epoch_us(max(ts)) AS DOUBLE) / 1e6 AS age_seconds,
       ({now_us} - epoch_us(max(ts))) <= {max_age_us} AS fresh
FROM events
WHERE NOT (event_type = 'error' AND ts >= TIMESTAMP '2024-01-20 00:00:00')
GROUP BY event_type
"""


def q_snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (runner.snapshot_diff): added / removed
    / changed between two table states, from ONE full-outer join of
    (key, md5 fingerprint) pairs — delta-sized output, the join
    payload never carries rows. Plants: every 23rd doc removed, every
    17th lang changed, every 31st re-added under a new id."""
    from invalid_spark import runner as _runner

    d = _t(spark, sf_dir, "documents")
    prev = d.select("doc_id", "lang", "source")
    cur = d.filter(~(F.col("doc_id") % 23 == 0)).select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("lang"),
        "source",
    ).unionByName(
        d.filter(F.col("doc_id") % 31 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("en").alias("lang"),
            F.lit("srcnew").alias("source"),
        )
    )
    return _runner.snapshot_diff(cur, prev, "doc_id", cols=["lang", "source"])


def _sql_snapshot_diff_documents() -> str:
    return """
WITH prev AS (
  SELECT doc_id, lang, source FROM documents
), cur AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN 'xx' ELSE lang END AS lang,
         source
  FROM documents WHERE doc_id % 23 <> 0
  UNION ALL
  SELECT doc_id + 1000000, 'en', 'srcnew'
  FROM documents WHERE doc_id % 31 = 0
), j AS (
  SELECT c.doc_id AS cid, p.doc_id AS pid,
         CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN c.doc_id IS NULL THEN 'removed'
              WHEN (c.lang IS DISTINCT FROM p.lang)
                OR (c.source IS DISTINCT FROM p.source) THEN 'changed'
         END AS change
  FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
)
SELECT CAST(coalesce(cid, pid) AS VARCHAR) AS row_key, change
FROM j WHERE change IS NOT NULL
"""


def q_stat_assertions_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style table-level constraint verification
    (stats.stat_assertions): corpus-level gates (null-rate ceiling,
    mean band, exact ndv, bound checks) evaluated in ONE aggregation;
    one includes a deliberate failure so both verdicts appear."""
    df = _t(spark, sf_dir, "lineitem")
    out = stats.stat_assertions(df, ASSERT_SPECS)
    return out.select(
        "col_name", "stat", F.round("value", 6).alias("value"),
        "bound_min", "bound_max", "passed",
    )


def q_rowcheck_json_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-mode JSON validation (docs.json_docs_from_table →
    the SAME rule engine as YAML documents): events.props strings
    flatten on the executors and a required $int rule validates k.
    Planted surgery: % 13 → empty object (keyMissing, fail-fast),
    % 11 → string k (typeMismatch). Realizes the reference's planned
    NewJSON (json_field.go stub)."""
    from invalid_spark import docs

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 13 == 0, F.lit("{}"))
        .when(
            F.col("event_id") % 11 == 0,
            F.lit('{"k": "oops"}'),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    fields = docs.json_docs_from_table(ev, text_col="props", key_col="event_id")
    rules = load_rules("k: {$type: $int}\n")
    v = docs.validate_yaml_docs(fields, rules)
    return v.select(
        F.col("doc_id"), "path", F.col("key").alias("key_name"),
        "error_type", "message", "ord",
    )


def q_suggest_rules_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion (invalid_spark.suggest): profile the
    documents table and emit the suggested rule per column as a
    structured row — type, optionality, numeric range, enum list or
    byte-length bounds, uniqueness. exact_ndv=True makes the
    enum-vs-length decision engine-reproducible, so the oracle
    replays the whole suggestion from SQL aggregates. The suggested
    YAML itself round-trips to zero violations (pytest)."""
    import yaml as _y

    from invalid_spark import suggest

    d = _t(spark, sf_dir, "documents")
    parsed = _y.safe_load(
        suggest.suggest_rules(d, row_key="doc_id", exact_ndv=True)
    )
    rows = []
    for col_name, r in parsed.items():
        rng = r.get("$range") or {}
        ln = r.get("$length") or {}
        rows.append((
            col_name, r["$type"], bool(r.get("$optional", False)),
            float(rng["$min"]) if rng else None,
            float(rng["$max"]) if rng else None,
            ",".join(r["$of"]) if "$of" in r else None,
            int(ln["$min"]) if ln else None,
            int(ln["$max"]) if ln else None,
            bool(r.get("$unique", False)),
        ))
    return spark.createDataFrame(
        rows,
        "col_name string, rule_type string, optional boolean, "
        "range_min double, range_max double, of_csv string, "
        "len_min long, len_max long, is_unique boolean",
    )


def q_text_linefilter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal (text.line_filter):
    planted nav/JS/copyright lines are dropped, the document body
    survives; the filtered text is compared by md5 so the oracle row
    stays small."""
    d = _t(spark, sf_dir, "documents")
    derived = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("Enable JavaScript to continue\nMenu\n"),
                "text",
                F.lit("\nCopyright 2024 All Rights Reserved"),
            ),
        ).otherwise(F.col("text")),
    )
    out = text.line_filter(derived)
    return out.select(
        F.col("id").alias("doc_id"), "n_lines", "n_kept",
        F.md5("text").alias("text_md5"),
    )


def q_rowcheck_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$pii as a first-class rule inside the compiled row-check
    projection (zero extra scans): documents with planted emails/IPs
    yield piiFound violations whose `observed` is the match count."""
    d = _t(spark, sf_dir, "documents")
    derived = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                "text",
                F.lit(" contact bob@example.com or admin@test.org at 10.1.2.3"),
            ),
        ).otherwise(F.col("text")),
    )
    rules = load_rules(
        "text: {$type: $str, $pii: {kinds: [email, ipv4]}}\n"
    )
    return _viol(rows.run_row_checks(derived, rules, "doc_id"))


def q_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (curate.hash_sample):
    keep all English docs, half the French, 10% of everything else —
    a pure md5-bucket filter, stable across engines and
    partitionings."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    out = curate.hash_sample(
        d, rate=0.1, strata_col="lang", rates={"en": 1.0, "fr": 0.5}
    )
    return out.select("doc_id", "lang")


def q_dedup_incremental_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (dedup.exact_dedup_vs_state): new rows
    classified against the persisted corpus fingerprint state —
    dup_of_corpus / dup_in_batch / new — without refingerprinting the
    prior corpus. Prior corpus = even docs; batch = odd docs + planted
    corpus dups (every 6th doc re-keyed) + planted in-batch dups
    (every doc ending in 5 re-keyed)."""
    from invalid_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    state = dedup.fingerprint_state(d.filter("doc_id % 2 = 0"))
    cur = (
        d.filter("doc_id % 2 = 1").select("doc_id", "text")
        .unionByName(
            d.filter("doc_id % 6 = 0").select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter("doc_id % 10 = 5").select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return dedup.exact_dedup_vs_state(cur, state)


def q_bucket_skew_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pre-flight skew report (dedup.band_bucket_skew): the 10
    largest band buckets and the candidate pairs each would
    contribute — the cost driver of the bucket join. One aggregate +
    TakeOrdered; fully SQL-replayable."""
    from invalid_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.band_bucket_skew(d, top=10)


def _sql_bucket_skew() -> str:
    # reuses the minhash CTE chain's sig/bands construction
    p = dedup.MINHASH_P
    sig_cols = ", ".join(
        f"min((h1 + {j} * h2) % {p}) AS s{j}" for j in range(16)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS bi, "
        f"md5(CAST(s{b*4} AS VARCHAR) || ',' || CAST(s{b*4+1} AS VARCHAR)"
        f" || ',' || CAST(s{b*4+2} AS VARCHAR) || ',' "
        f"|| CAST(s{b*4+3} AS VARCHAR)) AS band_hash FROM sig"
        for b in range(4)
    )
    return f"""
WITH {_sql_shingle_cte()},
ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(g), 9, 8) AS BIGINT) AS h2
  FROM ex
),
sig AS (
  SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id
),
bands AS (
  {band_selects}
),
counts AS (
  SELECT bi AS band, band_hash, CAST(count(*) AS BIGINT) AS n_docs
  FROM bands GROUP BY 1, 2
)
SELECT band, band_hash, n_docs,
       CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS est_pairs
FROM counts
ORDER BY n_docs DESC, band ASC, band_hash ASC
LIMIT 10
"""


def q_dedup_minhash_incremental_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental NEAR-dup dedup (dedup.minhash_dedup_vs_state): the
    batch (odd docs) classified against the persisted minhash
    signature state of the prior corpus (even docs) — dup_of_corpus /
    dup_in_batch / new with best signature-estimated Jaccard per
    side, never touching the prior corpus text."""
    from invalid_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    state = dedup.minhash_state(d.filter("doc_id % 2 = 0"))
    return dedup.minhash_dedup_vs_state(
        d.filter("doc_id % 2 = 1"), state, threshold=0.7
    )


def _sql_dedup_incremental() -> str:
    return f"""
WITH cur AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 5
),
st AS (
  SELECT DISTINCT md5({_NORM}) AS fp
  FROM documents WHERE doc_id % 2 = 0
),
k AS (SELECT doc_id, md5({_NORM}) AS fingerprint FROM cur),
keep AS (SELECT fingerprint, min(doc_id) AS kp FROM k GROUP BY 1)
SELECT k.doc_id, k.fingerprint,
       CASE WHEN st.fp IS NOT NULL THEN 'dup_of_corpus'
            WHEN k.doc_id <> keep.kp THEN 'dup_in_batch'
            ELSE 'new' END AS decision
FROM k JOIN keep USING (fingerprint) LEFT JOIN st ON k.fingerprint = st.fp
"""


def q_chi2_expected_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance gate (drift.chi2_vs_expected): chi² goodness-of-
    fit of event_type against a DECLARED distribution — no prior
    snapshot needed. Case declared4 omits 'view' (its rows count as
    unexpected and fail the gate); case uniform5 declares the true
    uniform support. Verdict threshold is a compile-time
    chi2_critical literal — no driver round-trip."""
    from invalid_spark.checks import drift

    ev = _t(spark, sf_dir, "events")
    four = {"click": 1.0, "error": 1.0, "purchase": 1.0, "signup": 1.0}
    five = dict(four, view=1.0)
    a = drift.chi2_vs_expected(ev, "event_type", four)
    b = drift.chi2_vs_expected(ev, "event_type", five)
    return a.select(F.lit("declared4").alias("case_id"), "*").unionByName(
        b.select(F.lit("uniform5").alias("case_id"), "*")
    )


def _sql_chi2_expected_events() -> str:
    from invalid_spark import mathutil

    def case(case_id: str, cats: list[str]) -> str:
        p = 1.0 / len(cats)
        vals = ", ".join(f"('{c}', {p!r})" for c in cats)
        dof = len(cats) - 1
        crit = mathutil.chi2_critical(dof, 0.05)
        return f"""
SELECT '{case_id}' AS case_id, 'event_type' AS col_name, statistic, n,
       n_unexpected, {dof} AS dof, {crit!r} AS threshold,
       (statistic > {crit!r}) OR (n_unexpected > 0) AS drifted
FROM (
  WITH tgt(cat, p) AS (VALUES {vals}),
  cnt AS (
    SELECT CAST(event_type AS VARCHAR) AS cat,
           CAST(count(*) AS BIGINT) AS obs
    FROM events GROUP BY 1
  ),
  j AS (
    SELECT CAST(coalesce(c.obs, 0) AS BIGINT) AS obs, t.p
    FROM cnt c FULL OUTER JOIN tgt t ON c.cat = t.cat
  ),
  tot AS (
    SELECT CAST(coalesce(sum(CASE WHEN p IS NOT NULL THEN obs END), 0)
                AS BIGINT) AS n,
           CAST(coalesce(sum(CASE WHEN p IS NULL THEN obs END), 0)
                AS BIGINT) AS n_unexpected
    FROM j
  )
  SELECT n, n_unexpected,
         coalesce(sum(CASE WHEN p IS NOT NULL AND n > 0
                      THEN (obs - n*p)*(obs - n*p)/(n*p) END),
                  0.0) AS statistic
  FROM j, tot GROUP BY n, n_unexpected
)
"""

    four = ["click", "error", "purchase", "signup"]
    return (
        case("declared4", four)
        + "\nUNION ALL\n"
        + case("uniform5", four + ["view"])
    )


_MIX_TARGET = {"src1": 3.0, "src2": 1.0, "src3": 1.0}  # → 0.6/0.2/0.2


def q_mix_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix report (curate.mix_report): per-source sampling
    rates that reshape the corpus to a declared 60/20/20 mix by
    downsampling only — feasible size capped by the scarcest declared
    domain; undeclared sources get rate 0 (a mix is a whitelist)."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    return curate.mix_report(d, "source", _MIX_TARGET)


def _sql_mix_tgt(
    measure: str = "CAST(count(*) AS BIGINT)", ntype: str = "BIGINT"
) -> str:
    from invalid_spark.pipeline.curate import normalize_mix

    shares = normalize_mix(_MIX_TARGET)
    vals = ", ".join(f"('{d}', {s!r})" for d, s in shares.items())
    return f"""
tgt(domain, t) AS (VALUES {vals}),
counts AS (
  SELECT CAST(source AS VARCHAR) AS domain,
         {measure} AS n
  FROM documents GROUP BY 1
),
j AS (
  SELECT coalesce(c.domain, tgt.domain) AS domain,
         CAST(coalesce(c.n, 0) AS {ntype}) AS n, tgt.t
  FROM counts c FULL OUTER JOIN tgt ON c.domain = tgt.domain
),
cap AS (
  SELECT min(CASE WHEN t IS NOT NULL THEN n / t END) AS cap,
         CAST(sum(n) AS {ntype}) AS total
  FROM j
)"""


def _sql_mix_report_documents() -> str:
    return f"""
WITH {_sql_mix_tgt()}
SELECT domain, n, n / total AS share, t AS target_share,
       CASE WHEN t IS NULL OR n = 0 THEN 0.0
            ELSE least(1.0, t * cap / n) END AS sampling_rate,
       CAST(floor(CASE WHEN t IS NULL OR n = 0 THEN 0.0
                       ELSE least(1.0, t * cap / n) END * n)
            AS BIGINT) AS n_keep
FROM j, cap
"""


def q_mix_report_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix (curate.mix_report weight_col=): the same
    60/20/20 target declared over the TOKEN measure (n_chars proxy) —
    what a training mix actually specifies; the feasible corpus size
    is capped by the scarcest domain's token total."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    return curate.mix_report(d, "source", _MIX_TARGET, weight_col="n_chars")


def _sql_mix_report_tokens_documents() -> str:
    return f"""
WITH {_sql_mix_tgt("CAST(sum(n_chars) AS DOUBLE)", "DOUBLE")}
SELECT domain, n, n / total AS share, t AS target_share,
       CASE WHEN t IS NULL OR n = 0 THEN 0.0
            ELSE least(1.0, t * cap / n) END AS sampling_rate,
       CAST(floor(CASE WHEN t IS NULL OR n = 0 THEN 0.0
                       ELSE least(1.0, t * cap / n) END * n)
            AS BIGINT) AS n_keep
FROM j, cap
"""


def q_mix_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic target-mix resampling (curate.mix_sample): apply
    the mix_report rates row-wise via the nested md5-bucket filter —
    broadcast rates join, the corpus itself never shuffles."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    return curate.mix_sample(d, "source", _MIX_TARGET).select(
        "doc_id", "source"
    )


def _sql_mix_sample_documents() -> str:
    return f"""
WITH {_sql_mix_tgt()},
rates AS (
  SELECT domain,
         CASE WHEN t IS NULL OR n = 0 THEN 0.0
              ELSE least(1.0, t * cap / n) END AS r
  FROM j, cap
)
SELECT d.doc_id, d.source
FROM documents d
JOIN rates ON CAST(d.source AS VARCHAR) = rates.domain
WHERE (CAST('0x' || substr(md5('mix-v1-' ||
        coalesce(CAST(d.doc_id AS VARCHAR), '__null__')), 1, 8)
        AS BIGINT) % 1000000) < rates.r * 1000000.0
"""


_KS_WINDOW_GRID = (0.0, 200.0, 16)  # lo, hi, bins — uniform reference


def q_streaming_ks_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ONE-sample KS drift (streaming.windowed_ks_drift):
    each day's `value` distribution against a uniform reference on
    [0, 200) — the numeric sibling of streaming_chi2_windows, with
    the drifted flag evaluated in λ-space against one constant so
    per-window sample sizes need no driver round-trip. Batch
    execution path; pytest proves stream/batch identity for the
    windowed drift family."""
    from invalid_spark import streaming

    lo, hi, bins = _KS_WINDOW_GRID
    ev = _t(spark, sf_dir, "events").select("value", "ts")
    out = streaming.windowed_ks_drift(
        ev, "value", [1.0 / bins] * bins, lo, hi,
        window="1 day", watermark="1 day",
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        F.col("n").cast("long").alias("n"),
        F.round("statistic", 6).alias("statistic"),
        "drifted",
    )


def _sql_streaming_ks_windows() -> str:
    from invalid_spark import mathutil

    lo, hi, bins = _KS_WINDOW_GRID
    width = (hi - lo) / bins
    lam_crit = mathutil.kolmogorov_lambda_critical(0.01)
    cdf = [(b + 1) / bins for b in range(bins)]
    c_cols = ",\n         ".join(
        f"CAST(coalesce(sum(CASE WHEN b = {b} THEN 1 END), 0) AS DOUBLE) "
        f"AS c{b}"
        for b in range(bins)
    )
    gaps = []
    for b in range(bins):
        cum = " + ".join(f"c{i}" for i in range(b + 1))
        gaps.append(f"abs(({cum}) / CAST(n AS DOUBLE) - {cdf[b]!r})")
    stat = "greatest(\n      " + ",\n      ".join(gaps) + ")"
    return f"""
WITH w AS (
  SELECT date_trunc('day', ts) AS ws,
         least({bins - 1}, greatest(0,
           CAST(floor((CAST(value AS DOUBLE) - {lo!r}) / {width!r}) AS INT)))
           AS b
  FROM events WHERE value IS NOT NULL
), tab AS (
  SELECT ws, count(*) AS n,
         {c_cols}
  FROM w GROUP BY ws
), s AS (
  SELECT ws, n, {stat} AS stat FROM tab
)
SELECT CAST(CAST(ws AS TIMESTAMP) AS VARCHAR) AS window_start,
       CAST(ws + INTERVAL 1 DAY AS VARCHAR) AS window_end,
       CAST(n AS BIGINT) AS n,
       round(stat, 6) AS statistic,
       (sqrt(CAST(n AS DOUBLE)) + 0.12 + 0.11 / sqrt(CAST(n AS DOUBLE)))
         * stat > {lam_crit!r} AS drifted
FROM s
"""


def q_anomaly_history_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-history anomaly fold (checks.anomaly.
    rel_change_over_history — the deequ AnomalyCheck analog): each
    calendar day of events becomes one history point (metric = rate
    of value > 150 that day), then every point's relative change vs
    the mean of the previous 3 days' values; |change| > 0.5 flags.
    This is exactly the fold the runner's $anomaly stage applies to
    the metrics_history sink, replayed over a deterministic history
    so the whole computation is SQL-checkable."""
    from invalid_spark.checks import anomaly

    ev = _t(spark, sf_dir, "events").select("value", "ts").filter(
        F.col("ts").isNotNull()
    )
    day = F.date_trunc("day", F.col("ts"))
    hist = (
        ev.groupBy(day.alias("day"))
        .agg(
            (
                F.sum(F.when(F.col("value") > 150, 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("value")
        )
        .select(
            F.lit("value").alias("col_name"),
            F.lit("violation_rate").alias("metric"),
            F.col("value"),
            F.datediff(
                F.col("day").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("seq"),
            F.lit("").alias("run_id"),
            F.lit("").alias("snapshot_id"),
        )
    )
    out = anomaly.rel_change_over_history(hist, last_k=3)
    return out.select(
        "seq",
        F.round("value", 6).alias("value"),
        F.round("baseline", 6).alias("baseline"),
        F.round("rel_change", 6).alias("rel_change"),
        F.round("stddev", 6).alias("stddev"),
        F.round("z", 6).alias("z"),
        F.coalesce(
            F.abs(F.col("rel_change")) > 0.5, F.lit(False)
        ).alias("flagged"),
        F.coalesce(F.abs(F.col("z")) > 3.0, F.lit(False)).alias("z_flagged"),
    )


def _sql_anomaly_history_events() -> str:
    return """
WITH hist AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(date_trunc('day', ts) AS DATE)) AS seq,
         CAST(SUM(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS value
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1
), f AS (
  SELECT seq, value,
         AVG(value) OVER (ORDER BY seq
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS baseline,
         STDDEV_SAMP(value) OVER (ORDER BY seq
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS sd
  FROM hist
)
SELECT CAST(seq AS BIGINT) AS seq,
       round(value, 6) AS value,
       round(baseline, 6) AS baseline,
       round(CASE WHEN baseline IS NOT NULL AND baseline <> 0
                  THEN (value - baseline) / baseline END, 6) AS rel_change,
       round(sd, 6) AS stddev,
       round(CASE WHEN sd IS NOT NULL AND sd > 0
                  THEN (value - baseline) / sd END, 6) AS z,
       coalesce(abs(CASE WHEN baseline IS NOT NULL AND baseline <> 0
                         THEN (value - baseline) / baseline END) > 0.5,
                FALSE) AS flagged,
       coalesce(abs(CASE WHEN sd IS NOT NULL AND sd > 0
                         THEN (value - baseline) / sd END) > 3.0,
                FALSE) AS z_flagged
FROM f
"""


def q_streaming_dedup_metrics_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Windowed duplication metrics (streaming.windowed_dedup_metrics
    — the alerting companion to dedup-on-arrival): per event-time day,
    how many rows arrived, how many distinct (user_id, event_type)
    keys, and how many rows were duplicate copies. Executed on the
    batch path — pytest proves the streaming execution emits
    identical rows — so the whole computation is SQL-replayable and
    fully oracle-checked."""
    from invalid_spark import streaming

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).filter(F.col("ts").isNotNull())
    out = streaming.windowed_dedup_metrics(
        ev, ["user_id", "event_type"], window="1 day", watermark="1 day"
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "n_rows",
        "n_keys",
        "n_dup_rows",
    )


def q_streaming_watch_counts_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Windowed watch-key monitor (streaming.windowed_watch_counts):
    per event-time day, counts and shares of a watchlist of
    event_types — the streaming hot-key alert (zero-filled, so a
    flatlined key alerts like a spiking one). Row-local collapse to
    watchlist|__other__ bounds per-window state by the watchlist
    size, not the column's cardinality. Executed on the batch path
    (pytest proves streaming execution emits identical rows), fully
    SQL-replayable."""
    from invalid_spark import streaming

    ev = _t(spark, sf_dir, "events").select("event_type", "ts").filter(
        F.col("ts").isNotNull()
    )
    out = streaming.windowed_watch_counts(
        ev, "event_type", ["click", "error"], window="1 day",
        watermark="1 day",
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "value",
        "n",
        "n_window",
        "share",
    )


def _sql_streaming_watch_counts_events() -> str:
    return """
WITH w AS (
  SELECT date_trunc('day', ts) AS ws,
         CASE WHEN event_type IN ('click', 'error') THEN event_type
              ELSE '__other__' END AS v
  FROM events WHERE ts IS NOT NULL
), c AS (
  SELECT ws, v, count(*) AS c FROM w GROUP BY 1, 2
), t AS (
  SELECT ws, CAST(sum(c) AS BIGINT) AS n_window FROM c GROUP BY ws
), watch(value) AS (VALUES ('click'), ('error'))
SELECT CAST(CAST(t.ws AS TIMESTAMP) AS VARCHAR) AS window_start,
       CAST(t.ws + INTERVAL 1 DAY AS VARCHAR) AS window_end,
       watch.value AS value,
       CAST(COALESCE(c.c, 0) AS BIGINT) AS n,
       t.n_window,
       round(CAST(COALESCE(c.c, 0) AS DOUBLE)
             / CAST(t.n_window AS DOUBLE), 6) AS share
FROM t CROSS JOIN watch
LEFT JOIN c ON c.ws = t.ws AND c.v = watch.value
"""


def _sql_streaming_dedup_metrics_events() -> str:
    return """
WITH w AS (
  SELECT date_trunc('day', ts) AS ws, user_id, event_type
  FROM events WHERE ts IS NOT NULL
), k AS (
  SELECT ws, user_id, event_type, count(*) AS c FROM w GROUP BY 1, 2, 3
)
SELECT CAST(CAST(ws AS TIMESTAMP) AS VARCHAR) AS window_start,
       CAST(ws + INTERVAL 1 DAY AS VARCHAR) AS window_end,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c - 1) AS BIGINT) AS n_dup_rows
FROM k GROUP BY ws
"""


def q_streaming_minhash_screen_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming near-dup screen (streaming.minhash_screen_stream):
    arriving odd docs (synthetic arrival time = epoch + doc_id
    minutes) checked against the even docs' persisted minhash state;
    one row per flagged arrival per hourly window. Executed on the
    batch path — pytest proves streaming execution emits identical
    rows — so signature, banding, stream-static join, and the
    windowed max-estimate all replay in SQL."""
    from invalid_spark import streaming
    from invalid_spark.pipeline import dedup as _dedup

    d = _t(spark, sf_dir, "documents")
    state = _dedup.minhash_state(d.filter("doc_id % 2 = 0"))
    cur = d.filter("doc_id % 2 = 1").withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60)
    )
    out = streaming.minhash_screen_stream(cur, state, threshold=0.7)
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "id",
        "est_corpus",
    )


def _sql_streaming_minhash_screen() -> str:
    p = dedup.MINHASH_P
    sig_cols = ", ".join(
        f"min((h1 + {j} * h2) % {p}) AS s{j}" for j in range(16)
    )
    bands_tpl = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS bi, "
        f"md5(CAST(s{b*4} AS VARCHAR) || ',' || CAST(s{b*4+1} AS VARCHAR)"
        f" || ',' || CAST(s{b*4+2} AS VARCHAR) || ',' "
        f"|| CAST(s{b*4+3} AS VARCHAR)) AS band_hash FROM {{src}}"
        for b in range(4)
    )
    est = "(" + " + ".join(
        f"(CASE WHEN a.s{j} = c.s{j} THEN 1 ELSE 0 END)" for j in range(16)
    ) + ") / 16.0"
    return f"""
WITH {_sql_shingle_cte()},
ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(g), 9, 8) AS BIGINT) AS h2
  FROM ex
),
sig AS (
  SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id
),
bsig AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
ssig AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
bbands AS (
  {bands_tpl.format(src="bsig")}
),
sbands AS (
  {bands_tpl.format(src="ssig")}
),
cs AS (
  SELECT DISTINCT b.doc_id AS bid, s.doc_id AS sid
  FROM bbands b JOIN sbands s
    ON b.bi = s.bi AND b.band_hash = s.band_hash
),
est_c AS (
  SELECT bid, max({est}) AS est_corpus
  FROM cs JOIN bsig a ON a.doc_id = bid JOIN ssig c ON c.doc_id = sid
  GROUP BY bid
)
SELECT CAST(epoch_ms(CAST(floor((1700000000 + bid * 60) / 3600.0) * 3600
              AS BIGINT) * 1000) AS VARCHAR) AS window_start,
       CAST(epoch_ms((CAST(floor((1700000000 + bid * 60) / 3600.0) * 3600
              AS BIGINT) + 3600) * 1000) AS VARCHAR) AS window_end,
       bid AS id,
       round(est_corpus, 6) AS est_corpus
FROM est_c WHERE est_corpus >= 0.7
"""


def q_streaming_chi2_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed goodness-of-fit drift (streaming.windowed_chi2_drift)
    over daily event-time windows: chi-square of each day's
    event_type mix against a fixed reference, with the
    out-of-reference category ("view") reported as explicit
    n_unknown/unknown_frac mass. Executed on the batch path — pytest
    proves the streaming execution emits identical rows — so the
    whole computation is SQL-replayable and fully oracle-checked."""
    from invalid_spark import streaming

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    out = streaming.windowed_chi2_drift(
        ev, "event_type", _STREAM_CHI2_REF, window="1 day",
        watermark="1 day",
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        F.col("n").cast("long").alias("n"),
        F.col("n_unknown").cast("long").alias("n_unknown"),
        F.round("unknown_frac", 6).alias("unknown_frac"),
        F.round("statistic", 6).alias("statistic"),
        "drifted",
    )


def _sql_streaming_chi2_windows() -> str:
    # float-order parity: the statistic is the same left-to-right sum
    # of per-category (o-e)^2/e terms in sorted category order plus
    # the unknown sentinel term, so double accumulation is identical;
    # the drifted comparison uses the UNROUNDED statistic against the
    # same bisected critical value, embedded as a literal
    crit = _chi2_crit(dof=len(_STREAM_CHI2_REF) - 1, threshold=0.01)
    cats = sorted(_STREAM_CHI2_REF)
    o_cols = ",\n         ".join(
        f"CAST(coalesce(sum(CASE WHEN event_type = '{c}' THEN 1 END), 0) "
        f"AS DOUBLE) AS o_{c}"
        for c in cats
    )
    terms = "\n    + ".join(
        f"(CASE WHEN e > 0 THEN (o_{c} - e) * (o_{c} - e) / e "
        f"ELSE 0.0 END)"
        for c in cats
    )
    known = " + ".join(f"o_{c}" for c in cats)
    return f"""
WITH w AS (
  SELECT date_trunc('day', ts) AS ws, event_type FROM events
), tab AS (
  SELECT ws, count(*) AS n,
         {o_cols}
  FROM w GROUP BY ws
), t AS (
  SELECT ws, n, {', '.join('o_' + c for c in cats)},
         CAST(n AS DOUBLE) * 0.25 AS e,
         CAST(n AS DOUBLE) - ({known}) AS unk
  FROM tab
), s AS (
  SELECT ws, n, unk,
    {terms}
    + (CASE WHEN unk > 0 THEN unk * unk / 0.5 ELSE 0.0 END) AS stat
  FROM t
)
SELECT CAST(CAST(ws AS TIMESTAMP) AS VARCHAR) AS window_start,
       CAST(ws + INTERVAL 1 DAY AS VARCHAR) AS window_end,
       CAST(n AS BIGINT) AS n,
       CAST(unk AS BIGINT) AS n_unknown,
       round(unk / CAST(n AS DOUBLE), 6) AS unknown_frac,
       round(stat, 6) AS statistic,
       stat > {crit!r} AS drifted
FROM s
"""


def _sql_streaming_validate_events() -> str:
    # the streaming query's OUTPUT is the deterministic row-check
    # result, so the oracle replays the checks in SQL even though the
    # streaming lifecycle itself is Spark-only
    return """
SELECT CAST(event_id AS VARCHAR) AS row_key, 'event_type' AS rule_id,
       'ofMismatch' AS error_type, event_type AS observed
FROM events
WHERE event_id IS NOT NULL AND event_type IS NOT NULL
  AND event_type NOT IN ('click', 'view', 'purchase', 'signup')
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'value', 'rangeMismatch',
       CAST(value AS VARCHAR)
FROM events
WHERE event_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
  AND (value < 0 OR value > 1000000)
"""


def _sql_text_quality(src: str = "documents") -> str:
    return f"""
WITH f AS (
  SELECT doc_id, length(text) AS n_chars, {_TOKS} AS toks,
         len(regexp_extract_all(text, '{_PUNCT_RE}')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         len(regexp_extract_all(text, '\\S')) AS n_nonspace
  FROM {src}
), g AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
         len(list_filter(toks, x -> list_contains([{_STOPLIST}], lower(x))))
           AS n_stopwords,
         n_punct, n_digit, n_nonspace
  FROM f
)
SELECT doc_id, n_chars, n_tokens, n_stopwords, n_punct, n_digit,
  round(CASE WHEN n_tokens > 0
        THEN CAST(n_nonspace AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        ELSE 0.0 END, 6) AS mean_token_len,
  round(CASE WHEN n_tokens > 0
        THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        ELSE 0.0 END, 6) AS stopword_ratio,
  round(CASE WHEN n_chars > 0
        THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
        ELSE 0.0 END, 6) AS punct_ratio,
  round(CASE WHEN n_chars > 0
        THEN CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)
        ELSE 0.0 END, 6) AS digit_ratio,
  (n_tokens >= 10 AND n_tokens <= 10000
   AND (CASE WHEN n_tokens > 0
        THEN CAST(n_nonspace AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        ELSE 0.0 END) >= 2.0
   AND (CASE WHEN n_tokens > 0
        THEN CAST(n_nonspace AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        ELSE 0.0 END) <= 12.0
   AND (CASE WHEN n_chars > 0
        THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
        ELSE 0.0 END) <= 0.2
   AND (CASE WHEN n_chars > 0
        THEN CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)
        ELSE 0.0 END) <= 0.3) AS quality_ok
FROM g
"""


def _sql_text_langid(src: str = "documents") -> str:
    scores = {
        lang: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for lang, pat in text.LANG_MARKERS.items()
    }
    scores["zh"] = f"len(regexp_extract_all(text, '{text.CJK_PATTERN}'))"
    best = f"greatest({scores['en']}, {scores['de']}, {scores['fr']}, {scores['es']}, {scores['zh']})"
    return f"""
WITH s AS (
  SELECT doc_id,
         {scores['en']} AS score_en, {scores['de']} AS score_de,
         {scores['fr']} AS score_fr, {scores['es']} AS score_es,
         {scores['zh']} AS score_zh,
         {best} AS best
  FROM {src}
)
SELECT doc_id, score_en, score_de, score_fr, score_es, score_zh,
  CASE WHEN best = 0 THEN 'und'
       WHEN score_zh = best THEN 'zh'
       WHEN score_en = best THEN 'en'
       WHEN score_de = best THEN 'de'
       WHEN score_fr = best THEN 'fr'
       ELSE 'es' END AS lang_guess
FROM s
"""


def _sql_text_fingerprint() -> str:
    bpe = text.BPE_SPLIT_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id, md5({_NORM}) AS fingerprint, len({_TOKS}) AS n_tokens,
       len(regexp_extract_all(text, '{bpe}')) AS n_tokens_bpe
FROM documents
"""


def _sql_text_repetition() -> str:
    return f"""
WITH derived AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
           THEN text || chr(10) || text || chr(10) || text
         WHEN doc_id % 11 = 0 THEN trim(repeat('buy now ', 20))
         ELSE text END AS text
  FROM documents
),
l AS (
  SELECT doc_id,
         unnest(list_filter(str_split(text, chr(10)),
                            x -> trim(x) <> '')) AS ln
  FROM derived
),
lc AS (SELECT doc_id, ln, count(*) AS c FROM l GROUP BY 1, 2),
la AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
         CAST(count(*) AS BIGINT) AS nd
  FROM lc GROUP BY 1
),
g0 AS (SELECT doc_id, {_NTOKS} AS t FROM derived),
g1 AS (
  SELECT doc_id,
         unnest([array_to_string(t[i+1:i+2], ' ') FOR i IN range(len(t)-1)])
           AS g
  FROM g0 WHERE len(t) >= 2
),
gc AS (SELECT doc_id, g, count(*) AS c FROM g1 GROUP BY 1, 2),
ga AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(max(c) AS BIGINT) AS top_c
  FROM gc GROUP BY 1
)
SELECT d.doc_id,
  COALESCE(la.n_lines, 0) AS n_lines,
  round(CASE WHEN COALESCE(la.n_lines, 0) > 0
        THEN CAST(la.n_lines - la.nd AS DOUBLE) / CAST(la.n_lines AS DOUBLE)
        ELSE 0.0 END, 6) AS dup_line_frac,
  COALESCE(ga.n_grams, 0) AS n_grams,
  round(CASE WHEN COALESCE(ga.n_grams, 0) > 0
        THEN CAST(ga.top_c AS DOUBLE) / CAST(ga.n_grams AS DOUBLE)
        ELSE 0.0 END, 6) AS top_gram_frac
FROM documents d
LEFT JOIN la ON la.doc_id = d.doc_id
LEFT JOIN ga ON ga.doc_id = d.doc_id
"""


def _sql_dedup_exact() -> str:
    return f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5({_NORM}) AS fingerprint, count(*) AS n_dups,
       min(doc_id) AS keep_id
FROM u GROUP BY 1 HAVING count(*) > 1
"""


def _sql_shingle_cte(src: str = "documents") -> str:
    return f"""
sh AS (
  SELECT doc_id, {_SHINGLES} AS s
  FROM (SELECT doc_id, {_NTOKS} AS t FROM {src})
)
"""


_SQL_SHINGLE_CTE = _sql_shingle_cte()


def _sql_dedup_jaccard() -> str:
    return f"""
WITH {_SQL_SHINGLE_CTE},
ex AS (SELECT doc_id, unnest(s) AS g, len(s) AS ns FROM sh),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common,
         any_value(x.ns) AS na, any_value(y.ns) AS nb
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b,
       round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
         AS jaccard
FROM pairs
WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.8
"""


def _sql_text_pii() -> str:
    from invalid_spark.pipeline.text import PII_PATTERNS

    surgery = (
        "CASE WHEN doc_id % 13 = 0 THEN text || "
        "' contact bob@example.com or admin@test.org at 10.1.2.3' "
        "WHEN doc_id % 17 = 0 THEN text || "
        "' ssn 123-45-6789 phone 555-867-5309 end' "
        "ELSE text END"
    )
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(t, '{p}')) AS BIGINT) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    total = " + ".join(f"n_{k}" for k in PII_PATTERNS)
    return f"""
WITH d AS (
  SELECT doc_id, coalesce({surgery}, '') AS t FROM documents
), c AS (
  SELECT doc_id,
       {counts}
  FROM d
)
SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone,
       CAST({total} AS BIGINT) AS n_pii,
       ({total}) > 0 AS has_pii
FROM c
"""


def _sql_rowcheck_json_docs() -> str:
    # the planted surgery makes the violation set closed-form: % 13
    # docs lost their k (keyMissing, rule 0 → ord 00000.s0), % 11
    # (and not % 13) docs have a string k (typeMismatch → 00000.s1);
    # everything else passes
    return """
SELECT CAST(event_id AS VARCHAR) AS doc_id, 'k' AS path, 'k' AS key_name,
       'keyMissing' AS error_type,
       'key [k] is expected here' AS message, '00000.s0' AS ord
FROM events WHERE event_id % 13 = 0
UNION ALL
SELECT CAST(event_id AS VARCHAR), 'k', 'k', 'typeMismatch',
       'type for [k] must be [$int]', '00000.s1'
FROM events WHERE event_id % 11 = 0 AND event_id % 13 <> 0
"""


def _sql_suggest_rules() -> str:
    # Data-driven replay of the suggestion logic for the documents
    # schema: enum iff exact ndv <= 16 (string_agg DISTINCT sorted =
    # the engine's sorted collect_set), else byte-length bounds
    # (strlen = octet_length); numeric range from min/max; optional
    # iff any NULLs. text's enum csv is deliberately NULL — its ndv
    # is corpus-sized, and if that ever stopped being true the hash
    # mismatch would flag it loudly.
    def str_col(c, of_expr):
        return f"""
SELECT '{c}' AS col_name, '$str' AS rule_type, p.nn_{c} > 0 AS optional,
       CAST(NULL AS DOUBLE) AS range_min, CAST(NULL AS DOUBLE) AS range_max,
       CASE WHEN p.ndv_{c} BETWEEN 1 AND 16 THEN {of_expr} END AS of_csv,
       CASE WHEN p.ndv_{c} BETWEEN 1 AND 16 THEN NULL
            WHEN p.lmax_{c} > 0 THEN p.lmin_{c} END AS len_min,
       CASE WHEN p.ndv_{c} BETWEEN 1 AND 16 THEN NULL
            WHEN p.lmax_{c} > 0 THEN p.lmax_{c} END AS len_max,
       false AS is_unique
FROM p, ev"""

    def num_col(c, uniq):
        return f"""
SELECT '{c}' AS col_name, '$int' AS rule_type, p.nn_{c} > 0 AS optional,
       p.mi_{c} AS range_min, p.ma_{c} AS range_max,
       CAST(NULL AS VARCHAR) AS of_csv,
       CAST(NULL AS BIGINT) AS len_min, CAST(NULL AS BIGINT) AS len_max,
       {uniq} AS is_unique
FROM p, ev"""

    stats_parts = []
    for c in ("doc_id", "n_chars"):
        stats_parts.append(
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nn_{c}, "
            f"CAST(min({c}) AS DOUBLE) AS mi_{c}, "
            f"CAST(max({c}) AS DOUBLE) AS ma_{c}"
        )
    for c in ("text", "lang", "source"):
        stats_parts.append(
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nn_{c}, "
            f"count(DISTINCT {c}) AS ndv_{c}, "
            f"CAST(min(strlen({c})) AS BIGINT) AS lmin_{c}, "
            f"CAST(max(strlen({c})) AS BIGINT) AS lmax_{c}"
        )
    return f"""
WITH p AS (SELECT {', '.join(stats_parts)} FROM documents),
ev AS (SELECT string_agg(DISTINCT lang, ',' ORDER BY lang) AS of_lang,
              string_agg(DISTINCT source, ',' ORDER BY source) AS of_source
       FROM documents)
{num_col('doc_id', 'true')}
UNION ALL {str_col('text', 'NULL')}
UNION ALL {str_col('lang', 'ev.of_lang')}
UNION ALL {str_col('source', 'ev.of_source')}
UNION ALL {num_col('n_chars', 'false')}
"""


def _sql_stat_assertions() -> str:
    # one aggregate row, unpivoted to one row per assertion; `passed`
    # compares the UNROUNDED value (bounds sit far from the actual
    # values, so float accumulation order cannot flip the verdict)
    exprs = {
        ("l_quantity", "null_rate"):
            "CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) "
            "AS DOUBLE) / CAST(count(*) AS DOUBLE)",
        ("l_quantity", "mean"):
            "sum(CAST(l_quantity AS DOUBLE)) "
            "/ CAST(count(l_quantity) AS DOUBLE)",
        ("l_discount", "max"): "CAST(max(l_discount) AS DOUBLE)",
        ("l_returnflag", "ndv"):
            "CAST(count(DISTINCT l_returnflag) AS DOUBLE)",
        ("l_extendedprice", "min"): "CAST(min(l_extendedprice) AS DOUBLE)",
    }
    sel = ", ".join(
        f"{e} AS v_{i}" for i, e in enumerate(exprs.values())
    )
    rows = []
    for i, spec in enumerate(ASSERT_SPECS):
        lo = spec.get("min")
        hi = spec.get("max")
        cond = ["a.v_%d IS NOT NULL" % i]
        if lo is not None:
            cond.append(f"a.v_{i} >= {float(lo)!r}")
        if hi is not None:
            cond.append(f"a.v_{i} <= {float(hi)!r}")
        rows.append(
            f"SELECT '{spec['col']}' AS col_name, '{spec['stat']}' AS stat, "
            f"round(a.v_{i}, 6) AS value, "
            f"CAST({'NULL' if lo is None else float(lo)} AS DOUBLE) AS bound_min, "
            f"CAST({'NULL' if hi is None else float(hi)} AS DOUBLE) AS bound_max, "
            f"({' AND '.join(cond)}) AS passed FROM a"
        )
    return f"WITH a AS (SELECT {sel} FROM lineitem)\n" + "\nUNION ALL\n".join(
        rows
    )


def _sql_text_linefilter() -> str:
    from invalid_spark.pipeline.text import BOILERPLATE_PATTERNS

    drops = " AND ".join(
        f"NOT regexp_matches(x, '{p}')" for p in BOILERPLATE_PATTERNS
    )
    keep = (
        "x -> len(list_filter(string_split_regex(trim(x), '\\s+'), "
        f"t -> t <> '')) >= 3 AND {drops}"
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           'Enable JavaScript to continue' || chr(10) || 'Menu' || chr(10)
           || text || chr(10) || 'Copyright 2024 All Rights Reserved'
         ELSE text END AS t
  FROM documents
), s AS (
  SELECT doc_id, string_split(coalesce(t, ''), chr(10)) AS lines FROM d
), k AS (
  SELECT doc_id, lines, list_filter(lines, {keep}) AS kept FROM s
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       md5(array_to_string(kept, chr(10))) AS text_md5
FROM k
"""


def _sql_rowcheck_pii_documents() -> str:
    from invalid_spark.pipeline.text import PII_PATTERNS

    e, i4 = PII_PATTERNS["email"], PII_PATTERNS["ipv4"]
    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text ||
           ' contact bob@example.com or admin@test.org at 10.1.2.3'
         ELSE text END AS t
  FROM documents
), c AS (
  SELECT doc_id,
         len(regexp_extract_all(coalesce(t, ''), '{e}'))
         + len(regexp_extract_all(coalesce(t, ''), '{i4}')) AS cnt
  FROM d
)
SELECT CAST(doc_id AS VARCHAR) AS row_key, 'text' AS col_name,
       'text' AS rule_id, 'piiFound' AS error_type,
       'value of text must not contain PII (email, ipv4)' AS message,
       CAST(cnt AS VARCHAR) AS observed
FROM c WHERE cnt > 0
"""


def _sql_sample_documents() -> str:
    # bucket = md5('sample-v1-' || key) first 8 hex digits → bigint
    # mod 1e6; strata limits: en 1.0, fr 0.5, default 0.1
    return """
WITH b AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('sample-v1-' ||
              coalesce(CAST(doc_id AS VARCHAR), '__null__')), 1, 8)
              AS BIGINT) % 1000000 AS bucket
  FROM documents
)
SELECT doc_id, lang FROM b
WHERE bucket < CASE CAST(lang AS VARCHAR)
                 WHEN 'en' THEN 1000000
                 WHEN 'fr' THEN 500000
                 ELSE 100000 END
"""


def _sql_text_contamination() -> str:
    # same shared shingle CTE as the dedup oracles (array_distinct
    # 3-grams of the normalized text), split into eval (% 29 == 0)
    # and train sides; per-train-doc count of grams present in the
    # eval set's distinct gram pool
    return f"""
WITH {_SQL_SHINGLE_CTE},
ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 29 = 0),
tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 29 <> 0),
agg AS (
  SELECT tr.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(coalesce(sum(CASE WHEN ev.g IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS n_matched
  FROM tr LEFT JOIN ev ON tr.g = ev.g
  GROUP BY tr.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(agg.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(agg.n_matched, 0) AS BIGINT) AS n_matched,
       coalesce(agg.n_matched, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0) d
LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


def _sql_dup_spans(n: int = 3, min_df: int = 2, thr: float = 0.5) -> str:
    # positional grams via unnest(range(...)) + 1-based inclusive
    # slicing; doc frequency over DISTINCT (doc, gram); interval
    # union via the same running-max window Spark uses; a document is
    # (doc_id, text), so rows sharing a key but not a text stay apart
    frac = (
        "CASE WHEN n_tokens > 0 THEN "
        "CAST(coalesce(covered_tokens, 0) AS DOUBLE) / n_tokens "
        "ELSE 0.0 END"
    )
    return f"""
WITH tok AS (SELECT doc_id, text, {_NTOKS} AS t FROM documents),
posx AS (
  SELECT doc_id, text, t, unnest(range(len(t) - {n} + 1)) AS i
  FROM tok WHERE len(t) >= {n}
),
pos AS (
  SELECT doc_id, text, CAST(i AS BIGINT) AS i,
         array_to_string(t[i+1:i+{n}], ' ') AS g
  FROM posx
),
dupg AS (
  SELECT g FROM (SELECT DISTINCT doc_id, text, g FROM pos)
  GROUP BY g HAVING count(*) >= {min_df}
),
dp AS (SELECT pos.doc_id, pos.text, pos.i FROM pos JOIN dupg USING (g)),
merged AS (
  SELECT doc_id, text, i,
         max(i + {n}) OVER (
           PARTITION BY doc_id, text ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_end
  FROM dp
),
agg AS (
  SELECT doc_id, text,
         CAST(count(DISTINCT i) AS BIGINT) AS n_dup_positions,
         CAST(sum(greatest(0, i + {n} - greatest(i, coalesce(prev_end, i))))
              AS BIGINT) AS covered_tokens
  FROM merged GROUP BY doc_id, text
),
tot AS (
  SELECT doc_id, text, CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(greatest(0, len(t) - {n} + 1) AS BIGINT) AS n_positions
  FROM tok
)
SELECT tot.doc_id, n_tokens, n_positions,
       CAST(coalesce(n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
       CAST(coalesce(covered_tokens, 0) AS BIGINT) AS covered_tokens,
       round({frac}, 6) AS coverage_frac,
       ({frac}) >= {thr} AS flagged
FROM tot LEFT JOIN agg USING (doc_id, text)
"""


def _sql_text_unigram_lm() -> str:
    return f"""
WITH tok AS (SELECT doc_id, {_NTOKS} AS t FROM documents),
occ AS (SELECT doc_id, unnest(t) AS w FROM tok),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY w),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM vocab),
per_doc AS (
  SELECT occ.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         avg(-log2(vocab.c / tot.total)) AS bits
  FROM occ JOIN vocab USING (w) CROSS JOIN tot
  GROUP BY occ.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(per_doc.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(per_doc.bits, 6) AS bits_per_token
FROM (SELECT doc_id FROM documents) d
LEFT JOIN per_doc USING (doc_id)
"""


def _sql_text_vocab(top_k: int = 10) -> str:
    return f"""
WITH tok AS (SELECT doc_id, {_NTOKS} AS t FROM documents),
occ AS (SELECT unnest(t) AS w FROM tok),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY w),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM vocab
),
tk AS (
  SELECT CAST(sum(c) AS BIGINT) AS top_tokens
  FROM (SELECT c FROM vocab ORDER BY c DESC, w ASC LIMIT {top_k})
)
SELECT n_tokens, n_types, n_hapax,
       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
       round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_frac,
       round(CAST(top_tokens AS DOUBLE) / n_tokens, 6) AS topk_share
FROM tot, tk
"""


def _sql_streaming_profile_events() -> str:
    return """
WITH w AS (
  SELECT date_trunc('day', ts) AS ws, value
  FROM events WHERE ts IS NOT NULL
)
SELECT CAST(CAST(ws AS TIMESTAMP) AS VARCHAR) AS window_start,
       CAST(ws + INTERVAL 1 DAY AS VARCHAR) AS window_end,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(value) AS BIGINT) AS n_null,
       min(value) AS vmin,
       max(value) AS vmax,
       round(avg(value), 6) AS mean
FROM w GROUP BY ws
"""


def _sql_minhash_pairs_ctes(src: str = "documents") -> str:
    """Shared CTE chain ending in ``pairs(a, b, jaccard)`` — the
    MinHash+LSH near-dup pipeline (threshold 0.8) replayed in SQL
    over ``src``; reused by the minhash entry, the cluster-decisions
    oracle, and the curation-composite oracle."""
    p = dedup.MINHASH_P
    sig_cols = ", ".join(
        f"min((h1 + {j} * h2) % {p}) AS s{j}" for j in range(16)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS bi, "
        f"md5(CAST(s{b*4} AS VARCHAR) || ',' || CAST(s{b*4+1} AS VARCHAR)"
        f" || ',' || CAST(s{b*4+2} AS VARCHAR) || ',' || CAST(s{b*4+3} AS VARCHAR))"
        f" AS band_hash FROM sig"
        for b in range(4)
    )
    return f"""{_sql_shingle_cte(src)},
ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(g), 9, 8) AS BIGINT) AS h2
  FROM ex
),
sig AS (
  SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.bi = y.bi AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
),
ver AS (
  SELECT a, b, len(list_intersect(sa.s, sb.s)) AS common,
         len(sa.s) AS na, len(sb.s) AS nb
  FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
),
pairs AS (
  SELECT a, b,
         CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
  FROM ver
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.8
)"""


def _sql_minhash_incremental() -> str:
    # Replays minhash_dedup_vs_state: signatures over the full table,
    # split into state (even ids) / batch (odd ids); banded candidate
    # joins on each side; best matching-component estimate per batch
    # doc; decision fold at threshold 0.7.
    p = dedup.MINHASH_P
    sig_cols = ", ".join(
        f"min((h1 + {j} * h2) % {p}) AS s{j}" for j in range(16)
    )

    def _bands(src: str) -> str:
        return "\n  UNION ALL\n  ".join(
            f"SELECT doc_id, {b} AS bi, "
            f"md5(CAST(s{b*4} AS VARCHAR) || ',' || CAST(s{b*4+1} AS VARCHAR)"
            f" || ',' || CAST(s{b*4+2} AS VARCHAR) || ',' "
            f"|| CAST(s{b*4+3} AS VARCHAR)) AS band_hash FROM {src}"
            for b in range(4)
        )

    def _est(a: str, b: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN {a}.s{j} = {b}.s{j} THEN 1 ELSE 0 END)"
            for j in range(16)
        )
        return f"({terms}) / 16.0"

    return f"""
WITH {_sql_shingle_cte()},
ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(g), 9, 8) AS BIGINT) AS h2
  FROM ex
),
sig AS (
  SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id
),
bsig AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
ssig AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
bbands AS (
  {_bands("bsig")}
),
sbands AS (
  {_bands("ssig")}
),
cs AS (
  SELECT DISTINCT b.doc_id AS bid, s.doc_id AS sid
  FROM bbands b JOIN sbands s
    ON b.bi = s.bi AND b.band_hash = s.band_hash
),
est_c AS (
  SELECT bid, max({_est("a", "c")}) AS est_corpus
  FROM cs JOIN bsig a ON a.doc_id = bid JOIN ssig c ON c.doc_id = sid
  GROUP BY bid
),
bbp AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bbands x JOIN bbands y
    ON x.bi = y.bi AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
),
est_b AS (
  SELECT bbp.b AS bid2, max({_est("sa", "sb2")}) AS est_batch
  FROM bbp JOIN bsig sa ON sa.doc_id = bbp.a
           JOIN bsig sb2 ON sb2.doc_id = bbp.b
  GROUP BY bbp.b
)
SELECT d.doc_id AS id,
       CASE WHEN est_c.est_corpus >= 0.7 THEN 'dup_of_corpus'
            WHEN est_b.est_batch >= 0.7 THEN 'dup_in_batch'
            ELSE 'new' END AS decision,
       round(est_c.est_corpus, 6) AS est_corpus,
       round(est_b.est_batch, 6) AS est_batch
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN est_c ON est_c.bid = d.doc_id
LEFT JOIN est_b ON est_b.bid2 = d.doc_id
"""


def _sql_dedup_minhash_lsh() -> str:
    return f"""
WITH {_sql_minhash_pairs_ctes()}
SELECT a, b, round(jaccard, 6) AS jaccard FROM pairs
"""


def _sql_dedup_decisions() -> str:
    # connected components as recursive min-label reachability: a
    # node's cluster_id is the smallest id it can reach over the
    # (bidirected) near-dup edges — exactly what the distributed
    # pointer-jumping propagation in dedup.dup_clusters converges to
    return f"""
WITH RECURSIVE {_sql_minhash_pairs_ctes()},
edges AS (
  SELECT a AS u, b AS v FROM pairs
  UNION
  SELECT b AS u, a AS v FROM pairs
),
reach(id, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
)
SELECT id, min(lbl) AS cluster_id, id = min(lbl) AS keep
FROM reach GROUP BY id
"""


def q_cluster_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (dedup.cluster_weights): near-dup clusters from the
    MinHash+LSH pairs, every member weighted 1/cluster_size so the
    cluster contributes one document of training mass — the
    alternative to hard dropping. Oracle replays the components via
    recursive min-label reachability plus the size fold."""
    from invalid_spark.pipeline import dedup

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(d, threshold=0.8)
    return dedup.cluster_weights(pairs)


def _sql_cluster_weights() -> str:
    return f"""
WITH RECURSIVE {_sql_minhash_pairs_ctes()},
edges AS (
  SELECT a AS u, b AS v FROM pairs
  UNION
  SELECT b AS u, a AS v FROM pairs
),
reach(id, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
),
labels AS (
  SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY 1
)
SELECT l.id, l.cluster_id, s.cluster_size,
       round(1.0 / s.cluster_size, 6) AS weight
FROM labels l JOIN sizes s USING (cluster_id)
"""


def _sql_dedup_simhash() -> str:
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_NTOKS})) AS tok FROM documents
),
hashes AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
  FROM toks
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashes GROUP BY doc_id
)
SELECT doc_id, {sig} AS simhash FROM votes
"""


def _sql_dedup_simhash_pairs() -> str:
    # blocks: 32-bit signature split into 4 × 8-bit blocks
    # (max_hamming=3 → 4 blocks by pigeonhole)
    return f"""
WITH sig AS (
  SELECT doc_id, simhash FROM ({_sql_dedup_simhash()})
),
e AS (
  SELECT doc_id, simhash, b.blk,
         (simhash >> (b.blk * 8)) & 255 AS val
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(blk)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         x.simhash AS ha, y.simhash AS hb
  FROM e x JOIN e y
    ON x.blk = y.blk AND x.val = y.val AND x.doc_id < y.doc_id
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def q_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IMAGE near-dup (dedup.phash_neardup_vs_state): an
    arriving batch classified against the persisted (id, phash) state
    — 2-bit twins of every 10th corpus image (dup_of_corpus), plus a
    planted in-batch pair (fresh hash + its 1-bit variant under a
    larger key → dup_in_batch) and the fresh keeper itself (new). The
    pigeonhole block joins never re-pair the prior corpus; decisions
    within the radius are exact."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("id"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("sig"),
    )
    fresh = d.filter(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("fid"),
        F.conv(F.substring(F.md5(F.concat("text", F.lit("-alt"))), 1, 15),
               16, 10).cast("long").alias("fsig"),
    )
    batch = (
        base.filter(F.col("id") % 10 == 0)
        .select(
            (-(F.col("id") + 1)).alias("image_id"),
            F.col("sig").bitwiseXOR(F.lit((1 << 3) | (1 << 37)))
            .alias("phash"),
        )
        .unionByName(
            fresh.select(
                (F.col("fid") + 1000000).alias("image_id"),
                F.col("fsig").alias("phash"),
            )
        )
        .unionByName(
            fresh.select(
                (F.col("fid") + 2000000).alias("image_id"),
                F.col("fsig").bitwiseXOR(F.lit(1 << 9)).alias("phash"),
            )
        )
    )
    return dedup.phash_neardup_vs_state(
        batch, base, max_hamming=3, bits=60
    )


def _sql_phash_incremental() -> str:
    mask = (1 << 3) | (1 << 37)
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS sig
  FROM documents
),
fresh AS (
  SELECT doc_id AS fid,
         CAST('0x' || substr(md5(text || '-alt'), 1, 15) AS BIGINT) AS fsig
  FROM documents WHERE doc_id % 10 = 3
),
batch AS (
  SELECT -(id + 1) AS id, xor(sig, {mask}) AS sig FROM base WHERE id % 10 = 0
  UNION ALL
  SELECT fid + 1000000, fsig FROM fresh
  UNION ALL
  SELECT fid + 2000000, xor(fsig, 512) FROM fresh
),
be AS (
  SELECT id, sig, b.blk, (sig >> (b.blk * 15)) & 32767 AS val
  FROM batch, (VALUES (0), (1), (2), (3)) AS b(blk)
),
se AS (
  SELECT id, sig, b.blk, (sig >> (b.blk * 15)) & 32767 AS val
  FROM base, (VALUES (0), (1), (2), (3)) AS b(blk)
),
bc AS (
  SELECT be.id, min(bit_count(xor(be.sig, se.sig))) AS best_corpus
  FROM be JOIN se ON be.blk = se.blk AND be.val = se.val
  GROUP BY 1
),
bbp AS (
  SELECT y.id, min(bit_count(xor(x.sig, y.sig))) AS best_batch
  FROM be x JOIN be y ON x.blk = y.blk AND x.val = y.val AND x.id < y.id
  GROUP BY 1
)
SELECT b.id,
       CASE WHEN bc.best_corpus <= 3 THEN 'dup_of_corpus'
            WHEN bbp.best_batch <= 3 THEN 'dup_in_batch'
            ELSE 'new' END AS decision,
       CAST(bc.best_corpus AS BIGINT) AS best_corpus,
       CAST(bbp.best_batch AS BIGINT) AS best_batch
FROM (SELECT id FROM batch) b
LEFT JOIN bc ON bc.id = b.id
LEFT JOIN bbp ON bbp.id = b.id
"""


def q_streaming_phash_screen_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming image near-dup screen (streaming.phash_screen_stream)
    on the batch path: arriving 2-bit twins of every 10th corpus image
    (flagged, best_hamming 2) and fresh '-alt' hashes (unflagged
    unless md5 chance puts them within 3 bits — the oracle replays
    chance identically). Synthetic arrival time = epoch + id minutes."""
    from invalid_spark import streaming

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("id"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("sig"),
    )
    twins = base.filter(F.col("id") % 10 == 0).select(
        (-(F.col("id") + 1)).alias("image_id"),
        F.col("sig").bitwiseXOR(F.lit((1 << 3) | (1 << 37))).alias("phash"),
        (F.lit(1700000000) + F.col("id") * 60).alias("sec"),
    )
    fresh = d.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 1000000).alias("image_id"),
        F.conv(F.substring(F.md5(F.concat("text", F.lit("-alt"))), 1, 15),
               16, 10).cast("long").alias("phash"),
        (F.lit(1700000000) + F.col("doc_id") * 60 + 30).alias("sec"),
    )
    arrivals = twins.unionByName(fresh).withColumn(
        "ts", F.timestamp_seconds("sec")
    ).drop("sec")
    out = streaming.phash_screen_stream(
        arrivals, base, max_hamming=3, bits=60
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "id",
        "best_hamming",
    )


def _sql_streaming_phash_screen() -> str:
    mask = (1 << 3) | (1 << 37)
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS sig
  FROM documents
),
arr AS (
  SELECT -(id + 1) AS id, xor(sig, {mask}) AS sig,
         1700000000 + id * 60 AS sec
  FROM base WHERE id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000,
         CAST('0x' || substr(md5(text || '-alt'), 1, 15) AS BIGINT),
         1700000000 + doc_id * 60 + 30
  FROM documents WHERE doc_id % 10 = 3
),
ae AS (
  SELECT id, sig, sec, b.blk, (sig >> (b.blk * 15)) & 32767 AS val
  FROM arr, (VALUES (0), (1), (2), (3)) AS b(blk)
),
se AS (
  SELECT sig AS ssig, b.blk, (sig >> (b.blk * 15)) & 32767 AS val
  FROM base, (VALUES (0), (1), (2), (3)) AS b(blk)
),
m AS (
  SELECT ae.id, any_value(ae.sec) AS sec,
         min(bit_count(xor(ae.sig, se.ssig))) AS best
  FROM ae JOIN se ON ae.blk = se.blk AND ae.val = se.val
  GROUP BY ae.id
)
SELECT CAST(epoch_ms(CAST(floor(sec / 3600.0) * 3600 AS BIGINT) * 1000)
         AS VARCHAR) AS window_start,
       CAST(epoch_ms((CAST(floor(sec / 3600.0) * 3600 AS BIGINT) + 3600)
         * 1000) AS VARCHAR) AS window_end,
       id,
       CAST(best AS BIGINT) AS best_hamming
FROM m WHERE best <= 3
"""


def _sql_phash_neardup() -> str:
    mask = (1 << 3) | (1 << 37)
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS sig
  FROM documents
),
alls AS (
  SELECT id, sig FROM base
  UNION ALL
  SELECT -(id + 1), xor(sig, {mask}) FROM base WHERE id % 10 = 0
),
e AS (
  SELECT id, sig, b.blk, (sig >> (b.blk * 15)) & 32767 AS val
  FROM alls, (VALUES (0), (1), (2), (3)) AS b(blk)
),
cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b, x.sig AS ha, y.sig AS hb
  FROM e x JOIN e y ON x.blk = y.blk AND x.val = y.val AND x.id < y.id
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def _sql_rowcheck_dynamic_events() -> str:
    from invalid_spark import yamlmeta

    null_re = yamlmeta._RE_NULL
    bool_re = yamlmeta._RE_BOOL
    int_re = yamlmeta._RE_INT
    inferred_int = (
        f"(NOT regexp_full_match(val, '{null_re}') "
        f"AND NOT regexp_full_match(val, '{bool_re}') "
        f"AND regexp_full_match(val, '{int_re}'))"
    )
    return f"""
WITH derived AS (
  SELECT event_id,
    CASE WHEN event_id % 6 = 0 THEN CAST(event_id AS VARCHAR)
         WHEN event_id % 6 = 1 THEN '1.5e3'
         WHEN event_id % 6 = 2 THEN 'true'
         WHEN event_id % 6 = 3 THEN '~'
         WHEN event_id % 6 = 4 THEN '0x1F'
         ELSE 'hello' END AS val
  FROM events
)
SELECT CAST(event_id AS VARCHAR) AS row_key, 'val' AS col_name,
       'val' AS rule_id, 'typeMismatch' AS error_type,
       'type for [val] must be [$int]' AS message, val AS observed
FROM derived
WHERE event_id IS NOT NULL AND val IS NOT NULL AND NOT {inferred_int}
"""


def _sql_emb_neardup() -> str:
    return """
WITH nv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
  FROM nv
  WHERE sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) > 0
), pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         list_reduce(list_transform(range(len(x.nv)),
           i -> x.nv[i+1] * y.nv[i+1]), (p, q) -> p + q) AS cosine
  FROM un x JOIN un y ON x.vec_id < y.vec_id
)
SELECT a, b, round(cosine, 6) AS cosine FROM pairs WHERE cosine >= 0.3
"""


def _sql_emb_neardup_lsh() -> str:
    pls = dedup.neardup_planes(64, 8)
    code_terms = []
    for p, plane in enumerate(pls):
        lits = ", ".join(repr(x) for x in plane)
        dotp = (
            f"list_reduce(list_transform(range(64), "
            f"i -> nv[i+1] * [{lits}][i+1]), (a, b) -> a + b)"
        )
        code_terms.append(f"(CASE WHEN {dotp} >= 0 THEN {1 << p} ELSE 0 END)")
    code_expr = "\n    + ".join(code_terms)
    probe_selects = "SELECT vec_id, code FROM codes" + "".join(
        f"\n  UNION ALL SELECT vec_id, xor(code, {1 << p}) FROM codes"
        for p in range(8)
    )
    return f"""
WITH nv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
  FROM nv
  WHERE sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) > 0
), codes AS (
  SELECT vec_id, {code_expr} AS code
  FROM un
), probes AS (
  {probe_selects}
), cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM probes x JOIN codes y ON x.code = y.code AND x.vec_id < y.vec_id
), ver AS (
  SELECT a, b,
         list_reduce(list_transform(range(len(ua.nv)),
           i -> ua.nv[i+1] * ub.nv[i+1]), (p, q) -> p + q) AS cosine
  FROM cand JOIN un ua ON ua.vec_id = a JOIN un ub ON ub.vec_id = b
)
SELECT a, b, round(cosine, 6) AS cosine FROM ver WHERE cosine >= 0.3
"""


def _sql_split_documents() -> str:
    return """
SELECT doc_id,
       CASE WHEN CAST('0x' || substr(md5('split-v1-' || CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 10000 < 9000 THEN 'train'
            WHEN CAST('0x' || substr(md5('split-v1-' || CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) % 10000 < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def _sql_curate_documents() -> str:
    langs = "'en', 'de', 'fr', 'es', 'zh'"
    norm = ("trim(regexp_replace(regexp_replace(lower(s.text), "
            "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))")
    return f"""
WITH RECURSIVE src AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
),
q AS ({_sql_text_quality("src")}),
lg AS ({_sql_text_langid("src")}),
base AS (
  SELECT s.doc_id AS id, q.quality_ok AS qok,
         lg.lang_guess IN ({langs}) AS lok,
         md5({norm}) AS fp
  FROM src s JOIN q ON q.doc_id = s.doc_id JOIN lg ON lg.doc_id = s.doc_id
),
surv1 AS (SELECT id, fp FROM base WHERE qok AND lok),
ke AS (SELECT fp, min(id) AS keep_id FROM surv1 GROUP BY fp),
s1k AS (SELECT surv1.id, ke.keep_id FROM surv1 JOIN ke USING (fp)),
src2 AS (
  SELECT * FROM src
  WHERE doc_id IN (SELECT id FROM s1k WHERE id = keep_id)
),
{_sql_minhash_pairs_ctes("src2")},
edges AS (
  SELECT a AS u, b AS v FROM pairs
  UNION
  SELECT b AS u, a AS v FROM pairs
),
reach(nid, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.nid = e.v
),
labels AS (SELECT nid, min(lbl) AS cluster_id FROM reach GROUP BY nid),
near_drop AS (SELECT nid FROM labels WHERE nid <> cluster_id)
SELECT base.id,
       CASE WHEN NOT qok THEN 'low_quality'
            WHEN NOT lok THEN 'wrong_lang'
            WHEN s1k.id IS NOT NULL AND base.id <> s1k.keep_id
              THEN 'exact_dup'
            WHEN near_drop.nid IS NOT NULL THEN 'near_dup'
            ELSE 'keep' END AS reason,
       (CASE WHEN NOT qok THEN 'low_quality'
             WHEN NOT lok THEN 'wrong_lang'
             WHEN s1k.id IS NOT NULL AND base.id <> s1k.keep_id
               THEN 'exact_dup'
             WHEN near_drop.nid IS NOT NULL THEN 'near_dup'
             ELSE 'keep' END) = 'keep' AS keep
FROM base
LEFT JOIN s1k ON base.id = s1k.id
LEFT JOIN near_drop ON base.id = near_drop.nid
"""


def _sql_ann_lsh() -> str:
    pls = dedup.neardup_planes(64, 4)
    code_terms = []
    for p, plane in enumerate(pls):
        lits = ", ".join(repr(x) for x in plane)
        dotp = (
            f"list_reduce(list_transform(range(64), "
            f"i -> nv[i+1] * [{lits}][i+1]), (a, b) -> a + b)"
        )
        code_terms.append(f"(CASE WHEN {dotp} >= 0 THEN {1 << p} ELSE 0 END)")
    code_expr = "\n    + ".join(code_terms)
    probe_selects = "SELECT vec_id, nv, code FROM q" + "".join(
        f"\n  UNION ALL SELECT vec_id, nv, xor(code, {1 << p}) FROM q"
        for p in range(4)
    )
    return f"""
WITH nvt AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
  FROM nvt
  WHERE sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) > 0
), codes AS (
  SELECT vec_id, nv, {code_expr} AS code
  FROM un
), q AS (
  SELECT vec_id, nv, code FROM codes WHERE vec_id < 10
), probes AS (
  {probe_selects}
), cand AS (
  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(range(len(p.nv)),
           i -> p.nv[i+1] * c.nv[i+1]), (x, y) -> x + y) AS cosine
  FROM probes p JOIN codes c ON p.code = c.code AND c.vec_id <> p.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM cand
)
SELECT query_id, neighbor_id, rnk AS "rank", round(cosine, 6) AS cosine
FROM ranked WHERE rnk <= 5
"""


def _sql_ann_ivf(nprobe: int = 4) -> str:
    # Replays the ENTIRE IVF path: md5-ranked codebook (16 smallest
    # (md5-key, id) normalized vectors, rank = centroid id), corpus
    # assignment = argmax centroid dot (tie-break: larger centroid id,
    # matching similarity._nearest_lists' reverse(array_sort)), query
    # multi-probe = top-nprobe lists by the same order, cosine ranking.
    # All dots are the strict left fold, so doubles are bit-identical.
    return f"""
WITH nvt AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
  FROM nvt
  WHERE sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) > 0
), cent AS (
  SELECT row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                         AS BIGINT), vec_id
         ) - 1 AS cid,
         nv AS cv
  FROM un
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
           vec_id
  LIMIT 16
), sims AS (
  SELECT u.vec_id AS id, u.nv, ct.cid,
         list_reduce(list_transform(range(64),
           i -> u.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) AS sim
  FROM un u CROSS JOIN cent ct
), ranked_sims AS (
  SELECT id, nv, cid, sim,
         row_number() OVER (PARTITION BY id
                            ORDER BY sim DESC, cid DESC) AS rn
  FROM sims
), assign AS (
  SELECT id, nv, cid AS list_id FROM ranked_sims WHERE rn = 1
), qprobe AS (
  SELECT id AS qid, nv AS qv, cid AS list_id
  FROM ranked_sims WHERE id < 10 AND rn <= {nprobe}
), cand AS (
  SELECT DISTINCT q.qid AS query_id, a.id AS neighbor_id,
         list_reduce(list_transform(range(64),
           i -> a.nv[i+1] * q.qv[i+1]), (x, y) -> x + y) AS cosine
  FROM qprobe q JOIN assign a
    ON a.list_id = q.list_id AND a.id <> q.qid
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM cand
)
SELECT query_id, neighbor_id, rnk AS "rank", round(cosine, 6) AS cosine
FROM ranked WHERE rnk <= 5
"""


def _sql_caption_eq_documents() -> str:
    return """
SELECT CAST(doc_id AS VARCHAR) AS row_key, 'caption' AS col_name,
       'caption' AS rule_id, 'captionMismatch' AS error_type,
       'value of [caption] must byte-equal the reference' AS message,
       text AS observed
FROM documents
WHERE doc_id % 7 = 6 AND text IS NOT NULL
"""


def _sql_unique_phash_skew() -> str:
    return """
SELECT phash, count(*) AS cnt FROM (
  SELECT CASE WHEN event_id % 10 = 0 THEN 0 ELSE event_id END AS phash
  FROM events
) GROUP BY phash HAVING count(*) > 1
"""


def _sql_ann_brute_topk() -> str:
    return """
WITH nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
  FROM nv
  WHERE sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) > 0
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(range(len(c.nv)),
           i -> c.nv[i+1] * q.nv[i+1]), (a, b) -> a + b) AS cosine
  FROM un c, un q
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


def _sql_rowcheck_json_events() -> str:
    k = "CAST(json_extract(props, '$.k') AS BIGINT)"
    return f"""
SELECT CAST(event_id AS VARCHAR) AS row_key, 'props.k' AS col_name,
       'props.k' AS rule_id, 'rangeMismatch' AS error_type,
       'value of k must be in range [0, 89]' AS message,
       CAST({k} AS VARCHAR) AS observed
FROM events
WHERE event_id IS NOT NULL AND props IS NOT NULL AND {k} IS NOT NULL
  AND ({k} < 0 OR {k} > 89)
"""


def _sql_vector_check_embeddings() -> str:
    return """
WITH corrupted AS (
  SELECT vec_id,
    CASE WHEN vec_id % 17 = 0 THEN embedding[1:32]
         WHEN vec_id % 19 = 0 THEN
              list_concat(['NaN'::FLOAT], embedding[2:64])
         WHEN vec_id % 23 = 0 THEN list_transform(embedding, x -> x * 0)
         ELSE embedding END AS v
  FROM embeddings
)
SELECT CAST(vec_id AS VARCHAR) AS row_key, 'embedding' AS col_name,
       'embedding' AS rule_id, 'vectorMismatch' AS error_type,
       'vector [embedding] must have dim 64' AS message,
       CAST(len(v) AS VARCHAR) AS observed
FROM corrupted WHERE v IS NOT NULL AND len(v) <> 64
UNION ALL
SELECT CAST(vec_id AS VARCHAR), 'embedding', 'embedding', 'vectorMismatch',
       'vector [embedding] must not contain NaN/null/Inf', NULL
FROM corrupted WHERE v IS NOT NULL
  AND len(list_filter(v, x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                              OR isinf(CAST(x AS DOUBLE)))) > 0
UNION ALL
SELECT CAST(vec_id AS VARCHAR), 'embedding', 'embedding', 'vectorMismatch',
       'vector [embedding] must not be all zeros', NULL
FROM corrupted WHERE v IS NOT NULL AND len(v) > 0
  AND len(list_filter(v, x -> x <> 0)) = 0
"""


def _sql_rowcheck_yaml_docs() -> str:
    # the reference's own golden expectations (valid_test.go:56-193)
    # as a literal table: valid=0, type_mismatch=8 (exact messages,
    # incl. list.0..2 element keys), key_missing=1 (fail-fast),
    # of=4/0, openapi=2
    rows = [
        ("type_mismatch", "map.stringVal", "stringVal", "typeMismatch",
         "type for [stringVal] must be [$str]"),
        ("type_mismatch", "map.intVal", "intVal", "typeMismatch",
         "type for [intVal] must be [$int]"),
        ("type_mismatch", "map.booVal", "booVal", "typeMismatch",
         "type for [booVal] must be [$bool]"),
        ("type_mismatch", "map.floatVal", "floatVal", "typeMismatch",
         "type for [floatVal] must be [$float]"),
        ("type_mismatch", "map.nullVal", "nullVal", "typeMismatch",
         "type for [nullVal] must be [$null]"),
        ("type_mismatch", "map.list.0", "list.0", "typeMismatch",
         "type for [list.0] must be [$int]"),
        ("type_mismatch", "map.list.1", "list.1", "typeMismatch",
         "type for [list.1] must be [$int]"),
        ("type_mismatch", "map.list.2", "list.2", "typeMismatch",
         "type for [list.2] must be [$int]"),
        ("key_missing", "map.map2.map3.bar1", "bar1", "keyMissing",
         "key [bar1] is expected here"),
        ("of_not_contain", "map.map2.strVal", "strVal", "ofMismatch",
         "value of strVal must be one of [[abc efgh]]"),
        ("of_not_contain", "map.map2.intVal", "intVal", "ofMismatch",
         "value of intVal must be one of [[123 5678]]"),
        ("of_not_contain", "map.map2.floatVal", "floatVal", "ofMismatch",
         "value of floatVal must be one of [[1.2 2.23]]"),
        ("of_not_contain", "map.map2.boolVal", "boolVal", "ofMismatch",
         "value of boolVal must be one of [[false]]"),
        ("openapi", "tags.0.externalDocs.description", "description",
         "regxMismatch",
         "value for [description] must match regexp : Description-[.]*"),
        ("openapi", "tags.2.externalDocs.description", "description",
         "regxMismatch",
         "value for [description] must match regexp : Description-[.]*"),
    ]
    values = ",\n  ".join(
        "(" + ", ".join("'" + c.replace("'", "''") + "'" for c in r) + ")"
        for r in rows
    )
    return f"""
SELECT * FROM (VALUES
  {values}
) AS t(pair, path, key_name, error_type, message)
"""


def _sql_violation_samples_orders() -> str:
    return f"""
WITH v AS ({_sql_rowcheck_orders()}),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY rule_id, error_type ORDER BY row_key ASC
         ) AS sample_rank
  FROM v
)
SELECT * FROM r WHERE sample_rank <= 5
"""


def oracle_sql() -> dict[str, str]:
    return {
        "rowcheck_orders": _sql_rowcheck_orders(),
        "rowcheck_documents": _sql_rowcheck_documents(),
        "verdicts_documents_source": _sql_verdicts_documents_source(),
        "stats_profile_lineitem": _sql_stats_profile_lineitem(),
        "unique_part_name": _sql_unique_part_name(),
        "ref_lineitem_suppkey": _sql_ref_lineitem_suppkey(),
        "ref_bloom_lineitem": _sql_ref_bloom_lineitem(),
        "pack_documents": _sql_pack_documents(),
        "pack_summary_documents": _sql_pack_summary_documents(),
        "pack_supplied_documents": _sql_pack_supplied_documents(),
        "pack_materialize_documents": _sql_pack_materialize_documents(),
        "dsir_weights_documents": _sql_dsir_weights_documents(),
        "dsir_sample_documents": _sql_dsir_sample_documents(),
        "chunk_documents": _sql_chunk_documents(),
        "drift_ks_events": _sql_drift_ks_events(),
        "drift_chi2_events": _sql_drift_chi2_events(),
        "drift_psi_events": _sql_drift_psi_events(),
        "drift_w1_events": _sql_drift_w1_events(),
        "rowcheck_expr_lineitem": _sql_rowcheck_expr_lineitem(),
        "streaming_validate_events": _sql_streaming_validate_events(),
        "streaming_chi2_windows": _sql_streaming_chi2_windows(),
        "anomaly_history_events": _sql_anomaly_history_events(),
        "percentiles_exact_lineitem": _sql_percentiles_exact_lineitem(),
        "streaming_dedup_metrics_events": _sql_streaming_dedup_metrics_events(),
        "streaming_minhash_screen_documents": _sql_streaming_minhash_screen(),
        "streaming_ks_windows": _sql_streaming_ks_windows(),
        "text_quality_documents": _sql_text_quality(),
        "text_langid_documents": _sql_text_langid(),
        "text_fingerprint_documents": _sql_text_fingerprint(),
        "text_repetition_documents": _sql_text_repetition(),
        "text_contamination_documents": _sql_text_contamination(),
        "dup_spans_documents": _sql_dup_spans(n=5),
        "text_unigram_lm_documents": _sql_text_unigram_lm(),
        "text_vocab_documents": _sql_text_vocab(),
        "streaming_profile_events": _sql_streaming_profile_events(),
        "text_pii_documents": _sql_text_pii(),
        "sample_documents": _sql_sample_documents(),
        "rowcheck_pii_documents": _sql_rowcheck_pii_documents(),
        "text_linefilter_documents": _sql_text_linefilter(),
        "stat_assertions_lineitem": _sql_stat_assertions(),
        "fd_lineitem": _sql_fd_lineitem(),
        "monotonic_events": _sql_monotonic_events(),
        "reconcile_orders": _sql_reconcile_orders(),
        "magic_header_docs": _sql_magic_header_docs(),
        "emb_drift_embeddings": _sql_emb_drift_embeddings(),
        "rowcheck_when_documents": _sql_rowcheck_when_documents(),
        "drift_partitioned_events": _sql_drift_partitioned_events(),
        "drift_chi2_partitioned_events": _sql_drift_chi2_partitioned_events(),
        "outliers_lineitem": _sql_outliers_lineitem(),
        "benford_lineitem": _sql_benford_lineitem(),
        "histogram_lineitem": _sql_histogram_lineitem(),
        "vector_norm_embeddings": _sql_vector_norm_embeddings(),
        "null_rates_by_group_events": _sql_null_rates_by_group_events(),
        "unique_composite_lineitem": _sql_unique_composite_lineitem(),
        "rowcheck_format_documents": _sql_rowcheck_format_documents(),
        "freshness_events": _sql_freshness_events(),
        "freshness_by_group_events": _sql_freshness_by_group_events(),
        "snapshot_diff_documents": _sql_snapshot_diff_documents(),
        "mix_report_documents": _sql_mix_report_documents(),
        "mix_sample_documents": _sql_mix_sample_documents(),
        "mix_report_tokens_documents": _sql_mix_report_tokens_documents(),
        "dedup_incremental_documents": _sql_dedup_incremental(),
        "dedup_minhash_incremental_documents": _sql_minhash_incremental(),
        "bucket_skew_documents": _sql_bucket_skew(),
        "chi2_expected_events": _sql_chi2_expected_events(),
        "stats_entropy_events": _sql_stats_entropy_events(),
        "stats_corr_lineitem": _sql_stats_corr_lineitem(),
        "stats_mi_events": _sql_stats_mi_events(),
        "hot_keys_events": _sql_hot_keys_events(),
        "cms_heavy_hitters_events": _sql_cms_heavy_hitters_events(),
        "streaming_watch_counts_events": _sql_streaming_watch_counts_events(),
        "suggest_rules_documents": _sql_suggest_rules(),
        "suggest_vector_embeddings": _sql_suggest_vector_embeddings(),
        "rowcheck_json_docs": _sql_rowcheck_json_docs(),
        "dedup_exact_documents": _sql_dedup_exact(),
        "dedup_jaccard_documents": _sql_dedup_jaccard(),
        "dedup_minhash_lsh_documents": _sql_dedup_minhash_lsh(),
        "dedup_decisions_documents": _sql_dedup_decisions(),
        "dedup_keeper_score_documents": _sql_dedup_keeper_score(),
        "cluster_weights_documents": _sql_cluster_weights(),
        "dedup_simhash_documents": _sql_dedup_simhash(),
        "dedup_simhash_pairs": _sql_dedup_simhash_pairs(),
        "phash_neardup": _sql_phash_neardup(),
        "phash_incremental": _sql_phash_incremental(),
        "streaming_phash_screen_documents": _sql_streaming_phash_screen(),
        "rowcheck_dynamic_events": _sql_rowcheck_dynamic_events(),
        "rowcheck_json_events": _sql_rowcheck_json_events(),
        "rowcheck_yaml_docs": _sql_rowcheck_yaml_docs(),
        "curate_documents": _sql_curate_documents(),
        "split_documents": _sql_split_documents(),
        "violation_samples_orders": _sql_violation_samples_orders(),
        "vector_check_embeddings": _sql_vector_check_embeddings(),
        "emb_neardup_cosine": _sql_emb_neardup(),
        "semantic_dedup_embeddings": _sql_semantic_dedup(),
        "semantic_incremental_embeddings": _sql_semantic_incremental(),
        "semantic_contamination_embeddings": _sql_semantic_contamination(),
        "semantic_skew_embeddings": _sql_semantic_skew(),
        "semantic_diversity_embeddings": _sql_semantic_diversity(),
        "streaming_alignment_windows": _sql_streaming_alignment_windows(),
        "alignment_embeddings": _sql_alignment_embeddings(),
        "top_fraction_documents": _sql_top_fraction_documents(),
        "top_fraction_by_lang_documents": _sql_top_fraction_by_lang_documents(),
        "weighted_sample_documents": _sql_weighted_sample_documents(),
        "weighted_sample_by_lang_documents": _sql_weighted_sample_by_lang_documents(),
        "emb_neardup_lsh": _sql_emb_neardup_lsh(),
        "caption_eq_documents": _sql_caption_eq_documents(),
        "unique_phash_skew": _sql_unique_phash_skew(),
        "ann_brute_topk_embeddings": _sql_ann_brute_topk(),
        "ann_lsh_embeddings": _sql_ann_lsh(),
        "ann_recall_embeddings": _sql_ann_recall(),
        "ivf_tuning_embeddings": _sql_ivf_tuning(),
        "ann_ivf_embeddings": _sql_ann_ivf(),
        # ann_ivf_embeddings: sampled-k-means codebook (iterative,
        #   driver-side numpy) — rows-only
        # image_validate_synth: Arrow-UDF image decode — rows-only
        # streaming lifecycle oracle above replays the checks in SQL
    }


# ---------------------------------------------------------------------------
# round 5: semantic dedup (SemDeDup), paired-embedding alignment gate,
# top-fraction quality selection


def q_semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup.semantic_dedup, Abbas et al. 2023): cluster
    the embedding space with the md5-derived coarse codebook (8
    lists), compare cosines only WITHIN clusters, and keep — per the
    paper — the duplicate-component member with the LOWEST cosine to
    its cluster centroid. Twins are planted by duplicating every 20th
    vector under id+100000: identical vectors share a cluster and a
    cosine of ~1.0, so every planted pair lands in a component. The
    oracle replays codebook ranking, assignment tie-break (sim DESC,
    cid DESC), in-cluster pairs, recursive-reachability components,
    and the centroid-sim keeper window."""
    emb = _t(spark, sf_dir, "embeddings")
    spiked = emb.unionByName(
        emb.filter(F.col("vec_id") % 20 == 0).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
    )
    out = dedup.semantic_dedup(spiked, threshold=0.9, n_lists=8)
    return out.select(
        "id",
        "cluster_id",
        F.round("centroid_sim", 6).alias("centroid_sim"),
        "keep",
    )


def _sql_semantic_dedup() -> str:
    return """
WITH RECURSIVE src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 20 = 0
), nvt AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM src
), un AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
  FROM nvt
  WHERE sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)) > 0
), cent AS (
  SELECT row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                         AS BIGINT), vec_id
         ) - 1 AS cid,
         nv AS cv
  FROM un
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
           vec_id
  LIMIT 8
), sims AS (
  SELECT u.vec_id AS id, u.nv, ct.cid,
         list_reduce(list_transform(range(64),
           i -> u.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) AS sim
  FROM un u CROSS JOIN cent ct
), rs AS (
  SELECT id, nv, cid, sim,
         row_number() OVER (PARTITION BY id
                            ORDER BY sim DESC, cid DESC) AS rn
  FROM sims
), assign AS (
  SELECT id, nv, cid AS cluster, sim AS centroid_sim FROM rs WHERE rn = 1
), pairs AS (
  SELECT x.id AS a, y.id AS b
  FROM assign x JOIN assign y ON x.cluster = y.cluster AND x.id < y.id
  WHERE list_reduce(list_transform(range(64),
          i -> x.nv[i+1] * y.nv[i+1]), (p, q) -> p + q) >= 0.9
), edges AS (
  SELECT a AS u, b AS v FROM pairs
  UNION
  SELECT b AS u, a AS v FROM pairs
), reach(id, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
), comp AS (
  SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
)
SELECT c.id, c.cluster_id, round(a.centroid_sim, 6) AS centroid_sim,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY a.centroid_sim ASC, c.id ASC) = 1 AS keep
FROM comp c JOIN assign a ON a.id = c.id
"""


def q_alignment_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-embedding alignment gate (vector.alignment_violations —
    the CLIP-score filter of a multimodal curation pipeline): pair
    even-id vectors (stand-in image embeddings) with their odd-id
    successors (stand-in caption embeddings); plant unscorable pairs
    (caption side NULLed, pair_id % 13 == 5) and perfectly aligned
    pairs (caption := image, pair_id % 7 == 0, checked FIRST only
    when not nulled). Random 64-dim pairs mostly violate min_cos=0.1
    (cos ~ N(0, 1/64)); observed is returned as a double so the
    engines' float-to-string renderings never enter the hash."""
    from invalid_spark.checks import vector as vector_checks

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.floor(F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("img_emb"),
    )
    b = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.floor(F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("cap_emb"),
    )
    paired = a.join(b, "pair_id").select(
        "pair_id",
        "img_emb",
        F.when(F.col("pair_id") % 13 == 5, F.lit(None).cast("array<float>"))
        .when(F.col("pair_id") % 7 == 0, F.col("img_emb"))
        .otherwise(F.col("cap_emb"))
        .alias("cap_emb"),
    )
    v = vector_checks.alignment_violations(
        paired, "img_emb", "cap_emb", "pair_id", min_cos=0.1
    )
    return v.select(
        "row_key",
        "rule_id",
        "error_type",
        "message",
        F.col("observed").cast("double").alias("observed"),
    )


def _sql_alignment_embeddings() -> str:
    return """
WITH a AS (
  SELECT CAST(floor(vec_id / 2.0) AS BIGINT) AS pair_id,
         embedding AS img FROM embeddings WHERE vec_id % 2 = 0
), b0 AS (
  SELECT CAST(floor(vec_id / 2.0) AS BIGINT) AS pair_id,
         embedding AS cap FROM embeddings WHERE vec_id % 2 = 1
), p AS (
  SELECT a.pair_id,
         list_transform(a.img, x -> CAST(x AS DOUBLE)) AS va,
         CASE WHEN a.pair_id % 13 = 5 THEN NULL
              WHEN a.pair_id % 7 = 0
                THEN list_transform(a.img, x -> CAST(x AS DOUBLE))
              ELSE list_transform(b0.cap, x -> CAST(x AS DOUBLE)) END AS vb
  FROM a JOIN b0 ON a.pair_id = b0.pair_id
), n AS (
  SELECT pair_id, va, vb,
         sqrt(list_reduce(list_transform(va, y -> y * y),
                          (s, t) -> s + t)) AS na,
         CASE WHEN vb IS NULL THEN NULL
              ELSE sqrt(list_reduce(list_transform(vb, y -> y * y),
                                    (s, t) -> s + t)) END AS nb
  FROM p
), scored AS (
  SELECT pair_id,
         coalesce(va IS NULL OR vb IS NULL OR len(va) <> len(vb)
                  OR na = 0 OR nb = 0, TRUE) AS unscorable,
         CASE WHEN NOT coalesce(va IS NULL OR vb IS NULL
                                OR len(va) <> len(vb)
                                OR na = 0 OR nb = 0, TRUE)
              THEN list_reduce(list_transform(range(64),
                     i -> (va[i+1] / na) * (vb[i+1] / nb)),
                     (s, t) -> s + t) END AS cos
  FROM n
)
SELECT CAST(pair_id AS VARCHAR) AS row_key,
       'img_emb~cap_emb' AS rule_id,
       'alignmentMismatch' AS error_type,
       CASE WHEN unscorable THEN
         'pair [img_emb, cap_emb] must be scorable (non-null, same dim, nonzero norm)'
       ELSE 'cosine([img_emb], [cap_emb]) must be >= 0.1' END AS message,
       CASE WHEN unscorable THEN NULL ELSE round(cos, 6) END AS observed
FROM scored WHERE unscorable OR cos < 0.1
"""


def q_top_fraction_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-fraction quality selection (curate.top_fraction):
    keep the top 20% of documents by score (n_chars as the stand-in
    quality score) via ONE quantile aggregate + a broadcast threshold
    — no global sort. Exact-percentile mode is the oracle anchor
    (Spark percentile == DuckDB quantile_cont interpolation, the
    percentiles_exact_lineitem parity); percentile_approx is the
    documented 100 TB path."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    return curate.top_fraction(d, "n_chars", 0.2, key_col="doc_id")


def _sql_top_fraction_documents() -> str:
    return """
WITH t AS (
  SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.8) AS thr FROM documents
)
SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
       CAST(n_chars AS DOUBLE) >= t.thr AS keep
FROM documents, t
"""


def q_weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (curate.weighted_sample, Efraimidis-Spirakis A-ES): 50 documents
    drawn with probability proportional to n_chars (the token-budget
    subsampling shape — a long doc is proportionally likelier). The
    rank key ln(u)/w is row-local with u md5-derived from the salted
    key, so top-k is TakeOrderedAndProject (no global sort, no RNG
    state) and the ENTIRE draw replays in SQL."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    out = curate.weighted_sample(d, "n_chars", 50, key_col="doc_id")
    return out.select("doc_id", "weight", F.round("wkey", 9).alias("wkey"))


def _sql_weighted_sample_documents() -> str:
    return """
WITH w AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         ln((CAST('0x' || substr(md5('wrs-v1-' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) + 1) / 4294967296.0)
           / CAST(n_chars AS DOUBLE) AS wkey
  FROM documents
  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
    AND CAST(n_chars AS DOUBLE) > 0
)
SELECT doc_id, weight, round(wkey, 9) AS wkey
FROM w
ORDER BY w.wkey DESC, doc_id ASC
LIMIT 50
"""


def q_weighted_sample_by_lang_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group A-ES weighted sampling (curate.weighted_sample_by_group):
    10 documents PER LANGUAGE drawn proportional to n_chars. Grouped
    top-k has no TakeOrderedAndProject, so the map side prunes first
    — each (partition, group)'s local top-k by the md5 rank key
    (exact: top-k is monotone) — and only the candidate frame reaches
    the rank window. The oracle replays it as a plain per-group rank
    over the full table (the result is partitioning-independent)."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    out = curate.weighted_sample_by_group(
        d, "n_chars", 10, group_col="lang", key_col="doc_id"
    )
    return out.select(
        "doc_id", "lang", "weight", F.round("wkey", 9).alias("wkey"), "rank"
    )


def _sql_weighted_sample_by_lang_documents() -> str:
    return """
WITH w AS (
  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS weight,
         ln((CAST('0x' || substr(md5('wrs-v1-' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) + 1) / 4294967296.0)
           / CAST(n_chars AS DOUBLE) AS wkey
  FROM documents
  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
    AND CAST(n_chars AS DOUBLE) > 0
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY wkey DESC, doc_id ASC) AS rank
  FROM w
)
SELECT doc_id, lang, weight, round(wkey, 9) AS wkey, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
"""


def q_top_fraction_by_lang_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group top-fraction selection (curate.top_fraction_by_group):
    keep the top 30% of each LANGUAGE by score — the per-language
    variant of the DCLM/FineWeb-Edu pruning that a global threshold
    gets wrong on multilingual corpora (English-centric classifiers
    score other languages systematically lower, so the global cut
    nearly empties them). One grouped quantile aggregate (one row per
    language — broadcastable at any corpus scale) + one null-safe
    broadcast join; no sort anywhere."""
    from invalid_spark.pipeline import curate

    d = _t(spark, sf_dir, "documents")
    return curate.top_fraction_by_group(
        d, "n_chars", 0.3, group_col="lang", key_col="doc_id"
    )


def _sql_top_fraction_by_lang_documents() -> str:
    return """
WITH t AS (
  SELECT lang AS g, quantile_cont(CAST(n_chars AS DOUBLE), 0.7) AS thr
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS DOUBLE) AS score,
       CAST(d.n_chars AS DOUBLE) >= t.thr AS keep
FROM documents d LEFT JOIN t ON d.lang IS NOT DISTINCT FROM t.g
"""


def q_semantic_incremental_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup (dedup.semantic_dedup_vs_state): corpus
    state = even-id vectors assigned against the md5 codebook derived
    from THEM (the codebook is part of the state contract); batch =
    odd-id vectors (mostly new) + exact copies of every 20th even
    vector under id+200000 (dup_of_corpus at cosine ~1.0) + exact
    copies of every 30th odd vector under id+300000 (dup_in_batch —
    the original odd twin has the smaller key). Decisions and max
    cosines replayed exactly by the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    cent = similarity.ivf_md5_centroids(corpus, n_lists=8)
    state = dedup.semantic_state(corpus, cent)
    batch = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .unionByName(
            emb.filter(F.col("vec_id") % 20 == 0).withColumn(
                "vec_id", F.col("vec_id") + 200000
            )
        )
        .unionByName(
            emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 30 == 1))
            .withColumn("vec_id", F.col("vec_id") + 300000)
        )
    )
    out = dedup.semantic_dedup_vs_state(batch, state, cent, threshold=0.9)
    return out.select(
        "id",
        "decision",
        F.round("cos_corpus", 6).alias("cos_corpus"),
        F.round("cos_batch", 6).alias("cos_batch"),
    )


def _sql_semantic_incremental() -> str:
    return """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
), batch AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
  UNION ALL
  SELECT vec_id + 200000, embedding FROM embeddings WHERE vec_id % 20 = 0
  UNION ALL
  SELECT vec_id + 300000, embedding FROM embeddings
  WHERE vec_id % 2 = 1 AND vec_id % 30 = 1
), cun AS (
  SELECT vec_id, list_transform(list_transform(embedding,
           x -> CAST(x AS DOUBLE)), x -> x / sqrt(list_reduce(
           list_transform(list_transform(embedding, e -> CAST(e AS DOUBLE)),
                          y -> y * y), (a, b) -> a + b))) AS nv
  FROM corpus
  WHERE sqrt(list_reduce(list_transform(list_transform(embedding,
          e -> CAST(e AS DOUBLE)), y -> y * y), (a, b) -> a + b)) > 0
), bun AS (
  SELECT vec_id, list_transform(list_transform(embedding,
           x -> CAST(x AS DOUBLE)), x -> x / sqrt(list_reduce(
           list_transform(list_transform(embedding, e -> CAST(e AS DOUBLE)),
                          y -> y * y), (a, b) -> a + b))) AS nv
  FROM batch
  WHERE sqrt(list_reduce(list_transform(list_transform(embedding,
          e -> CAST(e AS DOUBLE)), y -> y * y), (a, b) -> a + b)) > 0
), cent AS (
  SELECT row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                         AS BIGINT), vec_id
         ) - 1 AS cid,
         nv AS cv
  FROM cun
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
           vec_id
  LIMIT 8
), cassign AS (
  SELECT id, nv, cid AS cluster FROM (
    SELECT u.vec_id AS id, u.nv, ct.cid,
           row_number() OVER (PARTITION BY u.vec_id ORDER BY
             list_reduce(list_transform(range(64),
               i -> u.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) DESC,
             ct.cid DESC) AS rn
    FROM cun u CROSS JOIN cent ct
  ) WHERE rn = 1
), bassign AS (
  SELECT id, nv, cid AS cluster FROM (
    SELECT u.vec_id AS id, u.nv, ct.cid,
           row_number() OVER (PARTITION BY u.vec_id ORDER BY
             list_reduce(list_transform(range(64),
               i -> u.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) DESC,
             ct.cid DESC) AS rn
    FROM bun u CROSS JOIN cent ct
  ) WHERE rn = 1
), cor AS (
  SELECT b.id, max(list_reduce(list_transform(range(64),
           i -> b.nv[i+1] * c.nv[i+1]), (p, q) -> p + q)) AS cos_corpus
  FROM bassign b JOIN cassign c ON b.cluster = c.cluster
  WHERE list_reduce(list_transform(range(64),
          i -> b.nv[i+1] * c.nv[i+1]), (p, q) -> p + q) >= 0.9
  GROUP BY b.id
), bat AS (
  SELECT b.id, max(list_reduce(list_transform(range(64),
           i -> b.nv[i+1] * o.nv[i+1]), (p, q) -> p + q)) AS cos_batch
  FROM bassign b JOIN bassign o ON b.cluster = o.cluster AND o.id < b.id
  WHERE list_reduce(list_transform(range(64),
          i -> b.nv[i+1] * o.nv[i+1]), (p, q) -> p + q) >= 0.9
  GROUP BY b.id
)
SELECT b.id,
       CASE WHEN cor.cos_corpus IS NOT NULL THEN 'dup_of_corpus'
            WHEN bat.cos_batch IS NOT NULL THEN 'dup_in_batch'
            ELSE 'new' END AS decision,
       round(cor.cos_corpus, 6) AS cos_corpus,
       round(bat.cos_batch, 6) AS cos_batch
FROM bassign b
LEFT JOIN cor ON cor.id = b.id
LEFT JOIN bat ON bat.id = b.id
"""


# ---------------------------------------------------------------------------
# round 5b: semantic contamination, cluster-skew pre-flight, streaming
# alignment monitor


def q_semantic_contamination_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space train/eval contamination
    (dedup.semantic_contamination): eval set = even-id vectors; train
    = odd-id vectors + exact copies of every 10th even vector planted
    under id+400000 (cosine 1.0 leaks). The codebook derives from the
    EVAL set (the fixed side of the screen); the huge train side is
    assigned to ONE cluster per doc while the small eval side probes
    nprobe=2 clusters and broadcasts — recall rides on replicating
    the small side only. The oracle replays codebook, both
    assignments (train rn=1, eval rn<=2), the cluster equi-join, and
    the max-cosine/hit-count fold."""
    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 2 == 0)
    train = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).withColumn(
            "vec_id", F.col("vec_id") + 400000
        )
    )
    cents = similarity.ivf_md5_centroids(ev, n_lists=8)
    out = dedup.semantic_contamination(
        train, ev, cents, threshold=0.9, nprobe=2
    )
    return out.select(
        "id",
        "contaminated",
        F.round("max_cos_eval", 6).alias("max_cos_eval"),
        "n_eval_hits",
    )


def _sql_semantic_contamination() -> str:
    return """
WITH ev AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
), tr AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
  UNION ALL
  SELECT vec_id + 400000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 10 = 0
), eun AS (
  SELECT vec_id, list_transform(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           x -> x / sqrt(list_reduce(
             list_transform(list_transform(embedding,
               y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b))
         ) AS nv
  FROM ev
  WHERE sqrt(list_reduce(list_transform(list_transform(embedding,
          y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b)) > 0
), tun AS (
  SELECT vec_id, list_transform(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           x -> x / sqrt(list_reduce(
             list_transform(list_transform(embedding,
               y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b))
         ) AS nv
  FROM tr
  WHERE sqrt(list_reduce(list_transform(list_transform(embedding,
          y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b)) > 0
), cent AS (
  SELECT row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                         AS BIGINT), vec_id
         ) - 1 AS cid,
         nv AS cv
  FROM eun
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
           vec_id
  LIMIT 8
), tassign AS (
  SELECT id, nv, cluster FROM (
    SELECT u.vec_id AS id, u.nv, ct.cid AS cluster,
           row_number() OVER (PARTITION BY u.vec_id ORDER BY
             list_reduce(list_transform(range(64),
               i -> u.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) DESC,
             ct.cid DESC) AS rn
    FROM tun u CROSS JOIN cent ct
  ) WHERE rn = 1
), eprobe AS (
  SELECT nv, cluster FROM (
    SELECT u.nv, ct.cid AS cluster,
           row_number() OVER (PARTITION BY u.vec_id ORDER BY
             list_reduce(list_transform(range(64),
               i -> u.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) DESC,
             ct.cid DESC) AS rn
    FROM eun u CROSS JOIN cent ct
  ) WHERE rn <= 2
), hits AS (
  SELECT t.id,
         max(list_reduce(list_transform(range(64),
           i -> t.nv[i+1] * e.nv[i+1]), (p, q) -> p + q)) AS max_cos_eval,
         CAST(count(*) AS BIGINT) AS n_eval_hits
  FROM tassign t JOIN eprobe e ON t.cluster = e.cluster
  WHERE list_reduce(list_transform(range(64),
          i -> t.nv[i+1] * e.nv[i+1]), (p, q) -> p + q) >= 0.9
  GROUP BY t.id
)
SELECT t.id,
       h.max_cos_eval IS NOT NULL AS contaminated,
       round(h.max_cos_eval, 6) AS max_cos_eval,
       coalesce(h.n_eval_hits, 0) AS n_eval_hits
FROM tassign t LEFT JOIN hits h ON h.id = t.id
"""


def q_semantic_skew_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pre-flight (dedup.semantic_cluster_skew — the
    band_bucket_skew of the semantic path): top-5 most-occupied
    clusters with the quadratic in-cluster pair count each would
    cost. A hot cluster is planted by stamping vector 0's embedding
    onto 100 new ids — all land in one cluster, which must dominate
    the report. One aggregate + TakeOrderedAndProject; the oracle
    replays codebook, assignment, occupancy, and the deterministic
    (n_docs desc, cluster asc) top-5."""
    emb = _t(spark, sf_dir, "embeddings")
    hot = (
        emb.filter(F.col("vec_id") < 100)
        .select((F.col("vec_id") + 500000).alias("vec_id"))
        .crossJoin(
            F.broadcast(
                emb.filter(F.col("vec_id") == 0).select("embedding")
            )
        )
    )
    spiked = emb.select("vec_id", "embedding").unionByName(hot)
    return dedup.semantic_cluster_skew(spiked, n_lists=8, top=5)


def _sql_semantic_skew() -> str:
    return """
WITH src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT e.vec_id + 500000 AS vec_id, z.embedding
  FROM embeddings e
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) z
  WHERE e.vec_id < 100
), un AS (
  SELECT vec_id, list_transform(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           x -> x / sqrt(list_reduce(
             list_transform(list_transform(embedding,
               y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b))
         ) AS nv
  FROM src
  WHERE sqrt(list_reduce(list_transform(list_transform(embedding,
          y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b)) > 0
), cent AS (
  SELECT row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                         AS BIGINT), vec_id
         ) - 1 AS cid,
         nv AS cv
  FROM un
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
           vec_id
  LIMIT 8
), assign AS (
  SELECT id, cluster FROM (
    SELECT u.vec_id AS id, ct.cid AS cluster,
           row_number() OVER (PARTITION BY u.vec_id ORDER BY
             list_reduce(list_transform(range(64),
               i -> u.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) DESC,
             ct.cid DESC) AS rn
    FROM un u CROSS JOIN cent ct
  ) WHERE rn = 1
), counts AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs
  FROM assign GROUP BY cluster
)
SELECT cluster, n_docs,
       CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS est_pairs
FROM counts ORDER BY n_docs DESC, cluster ASC LIMIT 5
"""


def q_streaming_alignment_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Windowed alignment monitor (streaming.windowed_alignment_
    metrics): the alignment_embeddings pairing (even-id = image side,
    odd-id successor = caption side; every 13th pair NULLed
    unscorable, every 7th perfectly aligned) with a synthetic
    event-time of 2024-01-01 + (pair_id % 30) days — 30 daily
    windows of (n_pairs, n_unscorable, n_below, aligned_frac).
    Executed on the batch path; pytest proves streaming execution
    over the same frame emits identical rows."""
    from invalid_spark import streaming

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.floor(F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("img_emb"),
    )
    b = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.floor(F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("cap_emb"),
    )
    paired = a.join(b, "pair_id").select(
        "pair_id",
        "img_emb",
        F.when(F.col("pair_id") % 13 == 5, F.lit(None).cast("array<float>"))
        .when(F.col("pair_id") % 7 == 0, F.col("img_emb"))
        .otherwise(F.col("cap_emb"))
        .alias("cap_emb"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_dt_interval(days=(F.col("pair_id") % 30).cast("int"))
        ).alias("ts"),
    )
    out = streaming.windowed_alignment_metrics(
        paired, "img_emb", "cap_emb", 0.1, window="1 day"
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "n_pairs",
        "n_unscorable",
        "n_below",
        "aligned_frac",
    )


def _sql_streaming_alignment_windows() -> str:
    return """
WITH a AS (
  SELECT CAST(floor(vec_id / 2.0) AS BIGINT) AS pair_id,
         embedding AS img FROM embeddings WHERE vec_id % 2 = 0
), b0 AS (
  SELECT CAST(floor(vec_id / 2.0) AS BIGINT) AS pair_id,
         embedding AS cap FROM embeddings WHERE vec_id % 2 = 1
), p AS (
  SELECT a.pair_id,
         TIMESTAMP '2024-01-01' + (a.pair_id % 30) * INTERVAL 1 DAY AS ts,
         list_transform(a.img, x -> CAST(x AS DOUBLE)) AS va,
         CASE WHEN a.pair_id % 13 = 5 THEN NULL
              WHEN a.pair_id % 7 = 0
                THEN list_transform(a.img, x -> CAST(x AS DOUBLE))
              ELSE list_transform(b0.cap, x -> CAST(x AS DOUBLE)) END AS vb
  FROM a JOIN b0 ON a.pair_id = b0.pair_id
), n AS (
  SELECT pair_id, ts, va, vb,
         sqrt(list_reduce(list_transform(va, y -> y * y),
                          (s, t) -> s + t)) AS na,
         CASE WHEN vb IS NULL THEN NULL
              ELSE sqrt(list_reduce(list_transform(vb, y -> y * y),
                                    (s, t) -> s + t)) END AS nb
  FROM p
), scored AS (
  SELECT ts,
         coalesce(va IS NULL OR vb IS NULL OR len(va) <> len(vb)
                  OR na = 0 OR nb = 0, TRUE) AS uns,
         CASE WHEN NOT coalesce(va IS NULL OR vb IS NULL
                                OR len(va) <> len(vb)
                                OR na = 0 OR nb = 0, TRUE)
              THEN list_reduce(list_transform(range(64),
                     i -> (va[i+1] / na) * (vb[i+1] / nb)),
                     (s, t) -> s + t) END AS cos
  FROM n
), w AS (
  SELECT date_trunc('day', ts) AS ws,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN uns THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unscorable,
         CAST(sum(CASE WHEN NOT uns AND cos < 0.1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_below
  FROM scored GROUP BY 1
)
SELECT CAST(CAST(ws AS TIMESTAMP) AS VARCHAR) AS window_start,
       CAST(ws + INTERVAL 1 DAY AS VARCHAR) AS window_end,
       n_pairs, n_unscorable, n_below,
       round(CAST(n_pairs - n_unscorable - n_below AS DOUBLE)
             / CAST(n_pairs AS DOUBLE), 6) AS aligned_frac
FROM w
"""


def q_suggest_vector_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion over an EMBEDDING table
    (invalid_spark.suggest): the array<float> column yields a $vector
    suggestion — constant dim, outward-rounded L2-norm band — plus
    the $arr/$constraint structural rule the DSL requires; scalar
    columns get the usual range/unique suggestions. The oracle
    replays the profile aggregates (dim, norm fold, 6dp outward
    rounding) in SQL."""
    import yaml as _y

    from invalid_spark import suggest

    emb = _t(spark, sf_dir, "embeddings")
    parsed = _y.safe_load(
        suggest.suggest_rules(emb, row_key="vec_id", exact_ndv=True)
    )
    rows = []
    for col_name, r in parsed.items():
        rng = r.get("$range") or {}
        vec = r.get("$vector") or {}
        nb = vec.get("norm") or {}
        rows.append((
            col_name, r["$type"], r.get("$constraint"),
            bool(r.get("$optional", False)),
            float(rng["$min"]) if rng else None,
            float(rng["$max"]) if rng else None,
            int(vec["dim"]) if "dim" in vec else None,
            float(nb["min"]) if nb else None,
            float(nb["max"]) if nb else None,
            bool(r.get("$unique", False)),
        ))
    return spark.createDataFrame(
        rows,
        "col_name string, rule_type string, constraint string, "
        "optional boolean, range_min double, range_max double, "
        "vec_dim int, norm_min double, norm_max double, "
        "is_unique boolean",
    )


def _sql_suggest_vector_embeddings() -> str:
    return """
WITH norms AS (
  SELECT len(embedding) AS d,
         sqrt(list_reduce(list_transform(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           y -> y * y), (a, b) -> a + b)) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL
), prof AS (
  SELECT min(d) AS dmin, max(d) AS dmax,
         floor(min(nrm) * 1e6) / 1e6 AS nmin,
         ceil(max(nrm) * 1e6) / 1e6 AS nmax
  FROM norms
)
SELECT 'vec_id' AS col_name, '$int' AS rule_type,
       CAST(NULL AS VARCHAR) AS "constraint", FALSE AS optional,
       CAST(min(vec_id) AS DOUBLE) AS range_min,
       CAST(max(vec_id) AS DOUBLE) AS range_max,
       CAST(NULL AS INT) AS vec_dim, CAST(NULL AS DOUBLE) AS norm_min,
       CAST(NULL AS DOUBLE) AS norm_max, TRUE AS is_unique
FROM embeddings
UNION ALL
SELECT 'embedding', '$arr', '$float', FALSE,
       NULL, NULL,
       CASE WHEN dmin = dmax THEN CAST(dmin AS INT) END,
       nmin, nmax, FALSE
FROM prof
UNION ALL
SELECT 'label', '$int', NULL, FALSE,
       CAST(min(label) AS DOUBLE), CAST(max(label) AS DOUBLE),
       NULL, NULL, NULL, FALSE
FROM embeddings
"""


def q_semantic_diversity_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus diversity over the semantic codebook
    (curate.semantic_diversity): cluster-occupancy entropy,
    normalized entropy, effective clusters (perplexity), hottest
    share — computed for the base corpus AND a skew-planted variant
    (200 copies of vector 0) against the SAME codebook (the fixed
    side of a before/after comparison). The plant must show up as a
    diversity DROP. The oracle replays codebook, both assignments,
    and the cluster-sorted entropy fold bit-for-bit."""
    from invalid_spark.pipeline import curate

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = similarity.ivf_md5_centroids(emb, n_lists=8)
    hot = (
        emb.filter(F.col("vec_id") < 200)
        .select((F.col("vec_id") + 500000).alias("vec_id"))
        .crossJoin(
            F.broadcast(emb.filter(F.col("vec_id") == 0).select("embedding"))
        )
    )
    base = curate.semantic_diversity(emb, centroids=cents).select(
        F.lit("base").alias("stage"), "*"
    )
    skew = curate.semantic_diversity(
        emb.unionByName(hot), centroids=cents
    ).select(F.lit("skewed").alias("stage"), "*")
    return base.unionByName(skew)


def _sql_semantic_diversity() -> str:
    return """
WITH un AS (
  SELECT vec_id, list_transform(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           x -> x / sqrt(list_reduce(
             list_transform(list_transform(embedding,
               y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b))
         ) AS nv
  FROM embeddings
  WHERE sqrt(list_reduce(list_transform(list_transform(embedding,
          y0 -> CAST(y0 AS DOUBLE)), y -> y * y), (a, b) -> a + b)) > 0
), cent AS (
  SELECT row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                         AS BIGINT), vec_id
         ) - 1 AS cid,
         nv AS cv
  FROM un
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
           vec_id
  LIMIT 8
), src AS (
  SELECT 'base' AS stage, vec_id, nv FROM un
  UNION ALL
  SELECT 'skewed', vec_id, nv FROM un
  UNION ALL
  SELECT 'skewed', u.vec_id + 500000 AS vec_id, z.nv
  FROM un u CROSS JOIN (SELECT nv FROM un WHERE vec_id = 0) z
  WHERE u.vec_id < 200
), assign AS (
  SELECT stage, id, cluster FROM (
    SELECT s.stage, s.vec_id AS id, ct.cid AS cluster,
           row_number() OVER (PARTITION BY s.stage, s.vec_id ORDER BY
             list_reduce(list_transform(range(64),
               i -> s.nv[i+1] * ct.cv[i+1]), (a, b) -> a + b) DESC,
             ct.cid DESC) AS rn
    FROM src s CROSS JOIN cent ct
  ) WHERE rn = 1
), counts AS (
  SELECT stage, cluster, CAST(count(*) AS BIGINT) AS cnt
  FROM assign GROUP BY stage, cluster
), tot AS (
  SELECT stage, cluster, cnt, sum(cnt) OVER (PARTITION BY stage) AS n
  FROM counts
), terms AS (
  SELECT stage, cluster, cnt, n,
         (CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) AS term
  FROM tot
), folded AS (
  SELECT stage,
         CAST(max(n) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_clusters,
         -list_reduce(list(term ORDER BY cluster), (a, b) -> a + b)
           AS ent,
         CAST(max(cnt) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS top_share
  FROM terms GROUP BY stage
)
SELECT stage, n_docs, n_clusters,
       round(ent, 6) AS entropy,
       round(ent / ln(8.0), 6) AS normalized_entropy,
       round(exp(ent), 6) AS effective_clusters,
       round(top_share, 6) AS top_share
FROM folded
"""


def q_dedup_keeper_score_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-keeper dedup (dedup.dedup_decisions_by_score): the
    LSH near-dup components again, but the keeper is the member with
    the LONGEST text (n_chars) instead of the smallest id — "keep
    the best copy" when duplicate copies differ. Oracle replays
    components (recursive min-label reachability) plus the
    score-ranked keeper window."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(d, threshold=0.8)
    return dedup.dedup_decisions_by_score(
        pairs, d.select("doc_id", F.col("n_chars").alias("score")),
        key_col="doc_id",
    )


def _sql_dedup_keeper_score() -> str:
    return f"""
WITH RECURSIVE {_sql_minhash_pairs_ctes()},
edges AS (
  SELECT a AS u, b AS v FROM pairs
  UNION
  SELECT b AS u, a AS v FROM pairs
),
reach(id, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
),
labels AS (
  SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
)
SELECT l.id, l.cluster_id, CAST(d.n_chars AS DOUBLE) AS score,
       row_number() OVER (PARTITION BY l.cluster_id
                          ORDER BY CAST(d.n_chars AS DOUBLE)
                            DESC NULLS LAST, l.id ASC) = 1 AS keep
FROM labels l LEFT JOIN documents d ON d.doc_id = l.id
"""
