"""Referential-integrity checks (SURVEY.md §2.3).

``$ref: {table, key}`` on a column becomes a LEFT ANTI join against
the dimension table: rows whose foreign key has no match are
violations. The join carries no hint: Catalyst broadcasts the
dimension's keys only when their estimated size is under
``spark.sql.autoBroadcastJoinThreshold`` (license/taxonomy tables are
KB-sized, the TPC-H dimensions a few MB), and a larger dimension gets
a shuffle join where AQE picks the physical strategy at run time and
splits skewed partitions. A forced broadcast would ship a dimension
of any size to every executor.

For the middle regime — a dimension too big to broadcast as rows but
whose FACT side is far too big to shuffle — :func:`bloom_build` /
:func:`bloom_ref_violations` implement a Bloom-filter screen: the
dimension is folded once into a fixed-size bit array (stored as
``(word, bits)`` rows, 32 bits per word), and the fact table is
checked with ``k`` broadcast equi-joins against that array — the
fact side NEVER shuffles. Reported violations are exact (a key
present in the dimension always passes: no false negatives), and a
true violation escapes only with the classic Bloom false-positive
probability ``(1 - e^{-kn/m})^k`` — size ``m_bits ≈ 10·n_dim`` for
~1% escape rate. All hashing is md5-derived, so the entire screen is
replayable bit-for-bit in ANSI SQL (the DuckDB oracle reproduces the
same false positives).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from invalid_spark.model import ErrorType, as_violations

BLOOM_SALT = "bloom-v1"


def ref_violations(
    df: DataFrame,
    col: str,
    dim: DataFrame,
    dim_key: str,
    row_key: str,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` is absent from ``dim.dim_key``: a
    plain LEFT ANTI join, physical strategy left to Catalyst and AQE.
    ``keep_cols``: source columns carried onto every violation row."""
    keep = list(keep_cols or [])
    keys = dim.select(F.col(dim_key).alias("__refk"))
    missing = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.col(col).alias("__fk"),
        F.spark_partition_id().alias("partition_id"),
        *keep,
    ).join(keys, F.col("__fk") == F.col("__refk"), "left_anti")
    return as_violations(
        missing, "row_key", col, col, ErrorType.REF_MISMATCH,
        F.concat(
            F.lit(f"value of [{col}] has no match in reference ["),
            F.lit(dim_key),
            F.lit("]"),
        ),
        F.col("__fk"), run_id, keep,
    )


def _bloom_pos(key_s: Column, i: int, m_bits: int) -> Column:
    """Bit position ``i`` for one key: 60 bits of md5 mod ``m_bits``.

    15 hex chars = 60 bits fits a signed BIGINT, and DuckDB replays
    it as ``CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)`` — the
    same construction every md5-bucket operator in this repo uses.
    """
    h = F.md5(F.concat(F.lit(f"{BLOOM_SALT}-{i}-"), key_s))
    return F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"),
        F.lit(m_bits),
    )


def bloom_build(
    dim: DataFrame,
    dim_key: str,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Fold a dimension's key column into a Bloom bit array.

    Returns ``(word:bigint, bits:bigint)`` rows — 32 bits per word,
    at most ``m_bits / 32`` rows regardless of dimension size. No
    ``distinct`` on the keys first: OR is idempotent, so duplicate
    keys cost nothing and we skip that shuffle. The only exchange is
    the word-keyed ``bit_or`` aggregate, whose map-side partial
    combine collapses the ``k·n_dim`` exploded positions to at most
    ``m_bits/32`` rows per task before anything moves.
    """
    key_s = F.col(dim_key).cast("string")
    pos = dim.select(
        F.explode(
            F.array(*[_bloom_pos(key_s, i, m_bits) for i in range(k)])
        ).alias("pos")
    )
    return (
        pos.select(
            F.shiftright(F.col("pos"), 5).alias("word"),
            F.expr("shiftleft(1L, cast(pmod(pos, 32) as int))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_ref_violations(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    dim_key: str,
    row_key: str,
    m_bits: int = 1 << 20,
    k: int = 3,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` fails the Bloom screen.

    ``k`` broadcast equi-joins of the fact's word indices against the
    (≤ ``m_bits/32``-row) bloom frame — the fact side never shuffles
    and stays a single scan. Violation semantics: every reported row
    is a TRUE referential violation (keys present in the dimension
    set all their bits); a violation is *missed* only at the Bloom
    false-positive rate. NULL foreign keys hash to NULL, match no
    word, and are flagged — identical to the LEFT ANTI path's NULL
    semantics in :func:`ref_violations`. ``keep_cols`` as there.
    """
    keep = list(keep_cols or [])
    key_s = F.col(col).cast("string")
    fact = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.col(col).alias("__fk"),
        F.spark_partition_id().alias("partition_id"),
        *keep,
        *[
            _bloom_pos(key_s, i, m_bits).alias(f"__p{i}")
            for i in range(k)
        ],
    )
    hit = F.lit(True)
    cur = fact
    for i in range(k):
        side = F.broadcast(
            bloom.select(
                F.col("word").alias(f"__bw{i}"), F.col("bits").alias(f"__bb{i}")
            )
        )
        cur = cur.join(
            side,
            F.shiftright(F.col(f"__p{i}"), 5) == F.col(f"__bw{i}"),
            "left",
        )
        mask = F.expr(f"shiftleft(1L, cast(pmod(__p{i}, 32) as int))")
        hit = hit & (F.col(f"__bb{i}").bitwiseAND(mask) != 0)
    missing = cur.filter(~F.coalesce(hit, F.lit(False)))
    return as_violations(
        missing, "row_key", col, col, ErrorType.REF_MISMATCH,
        F.concat(
            F.lit(f"value of [{col}] fails bloom screen of reference ["),
            F.lit(dim_key),
            F.lit("]"),
        ),
        F.col("__fk"), run_id, keep,
    )
