"""Error taxonomy and violation/verdict/metrics schemas.

Error types and message templates keep exact parity with the
reference (result.go:8-14 enum, result.go:24-47 + rule.go:729-731
constructors), including its quirks where tests depend on them:

- the two string-length messages have swapped comparators
  (result.go:32-38): the *min* violation says ``must < min`` and the
  *max* violation says ``must > max`` — replicated verbatim;
- ``OfContainError`` renders the enum Go-``%v``-style, i.e. a
  space-joined list inside the constructor's own brackets:
  ``value of k must be one of [[a b]]`` (rule.go:729-731).

New engine-only error types extend the enum for the table-scale
checks (SURVEY.md §2.3/§2.4).

Every frame built from driver-side rows (stat results, small
dimension tables, stored state) goes through :func:`local_frame`; a
sink written from driver-side rows is written by the driver, through
:func:`write_rows`, and a parquet state the driver carries between
runs is read back through :func:`read_rows` (both publish and recover
as :mod:`invalid_spark.io` describes).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from invalid_spark.io import publish, recover


class ErrorType:
    # reference taxonomy (result.go:8-14)
    KEY_MISSING = "keyMissing"
    TYPE_MISMATCH = "typeMismatch"
    STR_LENGTH_MISMATCH = "strLengthMismatch"
    REGX_MISMATCH = "regxMismatch"
    OF_MISMATCH = "ofMismatch"
    # engine extensions (SURVEY.md §2.4)
    KEY_NAME_MISMATCH = "keyNameMismatch"  # $key-reg, declared-but-unenforced in ref
    RANGE_MISMATCH = "rangeMismatch"
    UNIQUE_MISMATCH = "uniqueMismatch"
    REF_MISMATCH = "refMismatch"
    STAT_DRIFT = "statDrift"
    EXTRA_KEY = "extraKey"  # strict mode only (reference tolerates extras)
    VECTOR_MISMATCH = "vectorMismatch"  # $vector: dim / NaN / zero-vector
    PIXEL_MISMATCH = "pixelMismatch"
    DECODE_ERROR = "decodeError"
    CAPTION_MISMATCH = "captionMismatch"
    PII_FOUND = "piiFound"  # $pii: regex PII gate (observed = match count)
    EXPR_MISMATCH = "exprMismatch"  # $expr: cross-column row predicate
    FD_MISMATCH = "fdMismatch"  # $fd: functional dependency det -> dep
    SEQ_MISMATCH = "seqMismatch"  # $monotonic: per-key sequence order
    RECONCILE_MISMATCH = "reconcileMismatch"  # $reconcile: fact-vs-dim totals
    ALIGNMENT_MISMATCH = "alignmentMismatch"  # $align: paired-embedding cosine
    MAGIC_MISMATCH = "magicMismatch"  # $magic: container magic vs declared fmt
    HEADER_MISMATCH = "headerDimsMismatch"  # $magic: header dims vs w/h cols
    FORMAT_MISMATCH = "formatMismatch"  # $format: named whole-value format
    DUPSPAN_MISMATCH = "dupSpanMismatch"  # $dupspan: cross-doc span coverage


# message constructors — exact reference strings
def key_missing_msg(key: str) -> str:
    """result.go:24-26."""
    return f"key [{key}] is expected here"


def type_mismatch_msg(key: str, ty: str) -> str:
    """result.go:28-30."""
    return f"type for [{key}] must be [{ty}]"


def str_length_min_msg(key: str, n: int) -> str:
    """result.go:32-34 (reference wording quirk: says ``<``)."""
    return f"length of value in [{key}] must < {n}"


def str_length_max_msg(key: str, n: int) -> str:
    """result.go:36-38 (reference wording quirk: says ``>``)."""
    return f"length of value in [{key}] must > {n}"


def regx_msg(key: str, regx: str) -> str:
    """result.go:40-42."""
    return f"value for [{key}] must match regexp : {regx}"


def key_name_msg(key: str, regx: str) -> str:
    """result.go:44-46 (note: full-width colon in the reference)."""
    return f"key name for [{key}] must match regexp ： {regx}"


def extra_key_msg(key: str) -> str:
    """Engine extension (strict mode): the reference ignores data keys
    its rules don't mention (rule.go:152-157 iterates rules, not
    data); ``strict=True`` flags them instead."""
    return f"key [{key}] is not covered by any rule"


def of_msg(key: str, of: list) -> str:
    """rule.go:729-731 — Go %v renders a slice space-joined."""
    return f"value of {key} must be one of [[{' '.join(str(v) for v in of)}]]"


def expr_msg(key: str, sql: str) -> str:
    """Engine extension ($expr has no reference analog)."""
    return f"row at [{key}] must satisfy [{sql}]"


def magic_msg(key: str, fmt_col: str) -> str:
    """Engine extension ($magic has no reference analog)."""
    return f"container magic of [{key}] must match declared [{fmt_col}]"


def header_dims_msg(key: str) -> str:
    """Engine extension ($magic has no reference analog)."""
    return f"header dimensions of [{key}] must match declared w/h columns"


VIOLATION_SCHEMA = T.StructType(
    [
        # row identity (generalizes the reference's source Range — a
        # table row has no line/col; lineage is row key + partition)
        T.StructField("row_key", T.StringType(), True),
        T.StructField("column", T.StringType(), True),
        T.StructField("rule_id", T.StringType(), True),
        T.StructField("error_type", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("observed", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("run_id", T.StringType(), True),
    ]
)


def as_violations(
    df: DataFrame,
    row_key: str | Column,
    column: str | Column,
    rule_id: str | Column,
    error_type: str | Column,
    message: str | Column,
    observed: str | Column | None,
    run_id: str = "",
    keep_cols: list[str] | None = None,
    partition_id: str | Column | None = "partition_id",
) -> DataFrame:
    """``df`` projected onto the :data:`VIOLATION_SCHEMA` columns, in
    order, then ``keep_cols`` (source columns a caller carries onto
    every row, e.g. the runner's work unit).

    ``row_key`` and ``partition_id`` name a column of ``df`` or are
    Columns; ``partition_id=None`` writes NULL (a row that belongs to
    no input partition). A name equal to the field's own (``"row_key"``,
    ``"partition_id"``) is a column the builder made, already of the
    field's type, and is selected as it is; any other name or Column
    is cast to the field's type (pass ``F.col(name)`` for a source
    column that could carry the field's name). ``column``,
    ``rule_id``, ``error_type``, ``message`` and ``observed`` are
    string literals or Columns (cast to string), or None for NULL. So
    a builder that casts its key or evaluates ``spark_partition_id()``
    before a join keeps its plan."""

    def value(f: T.StructField, v: str | Column | None) -> str | Column:
        if isinstance(v, str) and f.name in ("row_key", "partition_id"):
            if v == f.name:
                return v
            v = F.col(v)
        if isinstance(v, str):
            return F.lit(v).alias(f.name)
        return (F.lit(None) if v is None else v).cast(f.dataType).alias(f.name)

    values = (
        row_key, column, rule_id, error_type, message, observed,
        partition_id, run_id,
    )
    return df.select(
        *[value(f, v) for f, v in zip(VIOLATION_SCHEMA.fields, values)],
        *(keep_cols or []),
    )


# the per-check struct built inside the single row-check projection
CHECK_STRUCT = T.StructType(
    [
        T.StructField("column", T.StringType(), True),
        T.StructField("rule_id", T.StringType(), True),
        T.StructField("error_type", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("observed", T.StringType(), True),
    ]
)

METRIC_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType(), True),
        T.StructField("error_type", T.StringType(), True),
        T.StructField("n_violations", T.LongType(), False),
        T.StructField("run_id", T.StringType(), True),
    ]
)


def format_msg(key: str, fmt: str) -> str:
    return f"value of [{key}] must be a valid {fmt}"


def _arrow_table(
    rows: Iterable[tuple | dict], schema: T.StructType | str
) -> tuple[pa.Table, T.StructType]:
    """``rows`` (tuples in field order or dicts by field name) as one
    Arrow table with exactly ``schema``, and the schema as a
    ``StructType``. Arrow coerces each value to its field's type (an
    int into a ``double`` column); a NULL in a non-nullable field
    raises ``ValueError``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    for f in schema.fields:
        if not f.nullable and table.column(f.name).null_count:
            raise ValueError(f"field {f.name}: not nullable, but got None")
    return table, schema


def local_frame(
    spark: SparkSession,
    rows: Iterable[tuple | dict],
    schema: T.StructType | str,
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in field order or
    dicts by field name) with exactly ``schema`` (a ``StructType`` or a
    DDL string).

    The rows cross to the JVM as one Arrow table, so the frame plans
    as a ``LocalRelation``. ``spark.createDataFrame(<python list>)``
    plans as a ``LogicalRDD`` over a ``PythonRDD`` instead: every
    action on it starts one Python task per partition, and each task
    pays its fixed worker set-up whatever the row count. Arrow coerces
    each value to its field's type (an int into a ``double`` column);
    a NULL in a non-nullable field raises, as ``createDataFrame``'s
    schema check does."""
    table, schema = _arrow_table(rows, schema)
    return spark.createDataFrame(table, schema)


def write_rows(
    path: str,
    rows: Iterable[tuple | dict],
    schema: T.StructType | str,
    mode: str = "overwrite",
) -> None:
    """Write driver-side ``rows`` to the parquet sink at the local
    path ``path`` from the driver, with no Spark job: the Arrow table
    :func:`local_frame` would build goes straight to one parquet file.

    ``mode="overwrite"`` replaces the sink with a new directory;
    ``mode="append"`` adds one part file with a unique name. Both
    publish through :func:`invalid_spark.io.publish`: readers never
    see a partial file, and a crash mid-swap leaves a state
    :func:`read_rows` recovers.
    Every column is written nullable, as a Spark parquet write writes
    it, so ``spark.read.parquet`` reads the declared types back; an
    empty ``rows`` still writes a file carrying the schema."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite or append, got {mode!r}")
    table, _ = _arrow_table(rows, schema)
    table = table.cast(
        pa.schema([f.with_nullable(True) for f in table.schema])
    )
    part = f"part-{uuid.uuid4().hex}.parquet"
    if mode == "append":
        os.makedirs(path, exist_ok=True)
        publish(
            os.path.join(path, part), lambda tmp: pq.write_table(table, tmp)
        )
        return

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, part))

    publish(path, write)


def read_rows(path: str) -> list[dict]:
    """The rows of the parquet state :func:`write_rows` published at
    ``path``, as dicts; ``[]`` when there is none. A crash mid-swap
    is recovered first (:func:`invalid_spark.io.recover`)."""
    return pq.read_table(path).to_pylist() if recover(path) else []
