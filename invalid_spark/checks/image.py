"""Vectorized image-invariant checks (north-rule ``input_hint``).

The only Python-in-the-loop stage, and it is Arrow-batched
``mapInArrow`` — never per-row Python UDFs. The scan for this stage
prunes to exactly (row key, bytes, fmt, w, h, phash); Arrow batch
size is capped (session.py) because ``bytes`` rows are large.

Checks per row, each a violation row on failure:

- decode: corrupt/truncated bytes → ``decodeError``;
- dimensions: decoded (h, w) vs the stored w/h columns → ``typeMismatch``
  (metadata wrong for payload);
- pixel invariant: re-encode + decode, compare vs first decode —
  byte-exact (allclose) for lossless fmts, PSNR ≥ ``psnr_min`` (default
  40 dB) for lossy — ``pixelMismatch``;
- phash recompute: 64-bit perceptual hash of decoded pixels vs the
  stored ``phash`` column → ``pixelMismatch``.

Caption byte-equality vs a reference table is pure DataFrame algebra
(join + binary compare) — no UDF — in :func:`caption_violations`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from invalid_spark import codecs
from invalid_spark.model import VIOLATION_SCHEMA, ErrorType, as_violations

# the pixel UDF's output columns: the violation schema with every
# field nullable, as the Arrow batches the UDF builds are
_OUT_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in VIOLATION_SCHEMA.fields]
)


def pixel_violations(
    df: DataFrame,
    row_key: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    w_col: str = "w",
    h_col: str = "h",
    phash_col: str | None = "phash",
    psnr_min: float = 40.0,
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Decode/PSNR/dims/phash checks over Arrow record batches
    (``mapInArrow``: no pandas conversion on either side).

    ``keep_cols``: source columns carried through onto every emitted
    violation row, after the violation columns (the runner carries
    the work unit this way)."""
    keep = list(keep_cols or [])
    cols = [row_key, bytes_col, fmt_col, w_col, h_col]
    if phash_col:
        cols.append(phash_col)
    pruned = df.select(*cols, F.spark_partition_id().alias("pid"), *keep)
    schema = StructType(_OUT_SCHEMA.fields + [pruned.schema[c] for c in keep])
    out_cols = _OUT_SCHEMA.fieldNames()

    def check_rows(rks, raws, fmts, sws, shs, pids, phs):
        # hot loop: zipped column lists, tuple appends — no per-row
        # namedtuple/getattr machinery. Returns the violation tuples
        # and, per tuple, its source row index
        decode, encode = codecs.decode_image, codecs.encode_image
        lossless, psnr_fn, phash_fn = codecs.is_lossless, codecs.psnr, codecs.phash64
        out: list[tuple] = []
        src: list[int] = []

        def emit(t):
            out.append(t)
            src.append(i)

        for i, (rk, raw, fmt, sw, sh, pid, stored) in enumerate(zip(
            rks, raws, fmts, sws, shs, pids, phs
        )):
            rk = str(rk)
            try:
                px = decode(bytes(raw))
            except codecs.DecodeError as e:
                emit((rk, bytes_col, bytes_col, ErrorType.DECODE_ERROR,
                      f"bytes of [{rk}] failed to decode: {e}", None,
                      pid, run_id))
                continue

            dh, dw = px.shape[:2]
            if sw is not None and int(sw) != dw or sh is not None and int(sh) != dh:
                emit((rk, w_col, w_col, ErrorType.TYPE_MISMATCH,
                      f"stored dims [{sw}x{sh}] != decoded [{dw}x{dh}]",
                      f"{sw}x{sh}", pid, run_id))

            # pixel invariant: re-encode + decode
            try:
                re_dec = decode(encode(px, fmt))
            except (codecs.DecodeError, ValueError) as e:
                emit((rk, bytes_col, bytes_col, ErrorType.PIXEL_MISMATCH,
                      f"re-encode failed: {e}", None, pid, run_id))
                continue
            if lossless(fmt):
                if not np.array_equal(px, re_dec):
                    emit((rk, bytes_col, bytes_col, ErrorType.PIXEL_MISMATCH,
                          "lossless round-trip not byte-exact", None,
                          pid, run_id))
            else:
                p = psnr_fn(px, re_dec)
                if p < psnr_min:
                    emit((rk, bytes_col, bytes_col, ErrorType.PIXEL_MISMATCH,
                          f"PSNR {p:.2f} dB below {psnr_min} dB",
                          f"{p:.2f}", pid, run_id))

            if stored is not None:
                ph = phash_fn(px)
                if int(stored) != ph:
                    emit((rk, phash_col, phash_col, ErrorType.PIXEL_MISMATCH,
                          f"stored phash != recomputed ({ph})",
                          str(stored), pid, run_id))
        return out, src

    types = [f.type for f in to_arrow_schema(_OUT_SCHEMA)]

    def check_batches(batches):
        for b in batches:
            n = b.num_rows
            rows, src = check_rows(
                b.column(row_key).to_pylist(),
                b.column(bytes_col).to_pylist(),
                b.column(fmt_col).to_pylist(),
                b.column(w_col).to_pylist(),
                b.column(h_col).to_pylist(),
                b.column("pid").to_pylist(),
                b.column(phash_col).to_pylist() if phash_col else [None] * n,
            )
            cols_t = list(zip(*rows)) if rows else [[] for _ in out_cols]
            idx = pa.array(src, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, t) for c, t in zip(cols_t, types)]
                + [b.column(c).take(idx) for c in keep],
                names=out_cols + keep,
            )

    return pruned.mapInArrow(check_batches, schema=schema)


def caption_violations(
    df: DataFrame,
    ref: DataFrame,
    key: str = "image_id",
    col: str = "caption",
    run_id: str = "",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Byte equality of ``col`` vs the reference table's value —
    compares UTF-8 binaries, so Unicode-normalization variants differ
    (FIXTURES.md caption_mismatch case). Join + compare, JVM-side.
    ``keep_cols``: source columns carried onto every violation row."""
    keep = list(keep_cols or [])
    r = ref.select(F.col(key).alias("__k"), F.col(col).alias("__ref"))
    j = df.select(
        F.col(key).cast("string").alias("row_key"),
        F.col(key).alias("__k"),
        F.col(col).alias("__cur"),
        F.spark_partition_id().alias("partition_id"),
        *keep,
    ).join(r, "__k", "inner")
    bad = j.filter(
        ~(
            F.col("__cur").cast("binary").eqNullSafe(F.col("__ref").cast("binary"))
        )
    )
    return as_violations(
        bad, "row_key", col, col, ErrorType.CAPTION_MISMATCH,
        f"value of [{col}] must byte-equal the reference",
        F.col("__cur"), run_id, keep,
    )


# ---------------------------------------------------------------------------
# container magic + header dimensions (pure Catalyst — no decode)

# Magic prefixes, over F.hex(bytes) (uppercase hex, 1-indexed substr).
# "flsy" is the repo's deterministic lossy stand-in container
# (codecs.FAKE_LOSSY_MAGIC + a real PNG inside); real-world magics
# are recognized alongside so the check ports to genuine jpeg/webp
# payloads unchanged.
_PNG_SIG_HEX = "89504E470D0A1A0A"
_FLSY_HEX = "464C5359"  # b"FLSY"

# declared fmt -> containers that legitimately carry it
ACCEPTED_CONTAINERS: dict[str, tuple[str, ...]] = {
    "png": ("png",),
    "jpeg": ("jpeg", "flsy"),
    "jpg": ("jpeg", "flsy"),
    "webp": ("webp", "flsy"),
    "gif": ("gif",),
    "bmp": ("bmp",),
}


def detected_container(bytes_col) -> "F.Column":
    """Container format sniffed from magic bytes — a single CASE chain
    over ``hex(bytes)`` that rides whole-stage codegen. NULL = unknown
    container (corrupt prefix or unsupported format)."""
    hx = F.hex(F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col)
    return (
        F.when(hx.startswith(_PNG_SIG_HEX), F.lit("png"))
        .when(hx.startswith(_FLSY_HEX), F.lit("flsy"))
        .when(hx.startswith("FFD8FF"), F.lit("jpeg"))
        .when(hx.startswith("47494638"), F.lit("gif"))
        .when(
            hx.startswith("52494646")
            & (F.substring(hx, 17, 8) == "57454250"),
            F.lit("webp"),
        )
        .when(hx.startswith("424D"), F.lit("bmp"))
        .otherwise(F.lit(None).cast("string"))
    )


def header_dims(bytes_col) -> tuple["F.Column", "F.Column"]:
    """(width, height) parsed from the container header — PNG IHDR
    big-endian u32 pairs (and the same inside the FLSY stand-in,
    shifted by its 4-byte magic). NULL when the container carries no
    cheaply-parseable dims (real jpeg needs an SOF scan — that is the
    decode stage's job, not the header check's)."""
    hx = F.hex(F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col)

    def _u32(pos: int):
        return F.conv(F.substring(hx, pos, 8), 16, 10).cast("long")

    is_png = hx.startswith(_PNG_SIG_HEX) & (F.length(hx) >= 48)
    is_flsy = (
        hx.startswith(_FLSY_HEX + _PNG_SIG_HEX) & (F.length(hx) >= 56)
    )
    w = (
        F.when(is_png, _u32(33))
        .when(is_flsy, _u32(41))
        .otherwise(F.lit(None).cast("long"))
    )
    h = (
        F.when(is_png, _u32(41))
        .when(is_flsy, _u32(49))
        .otherwise(F.lit(None).cast("long"))
    )
    return w, h


def magic_ok(bytes_col, fmt_col) -> "F.Column":
    """TRUE when the sniffed container is an accepted carrier for the
    declared format. Unknown declared formats and unknown containers
    are both violations (FALSE)."""
    det = detected_container(bytes_col)
    fmt = F.col(fmt_col) if isinstance(fmt_col, str) else fmt_col
    return _accepts(det, fmt)


def header_violations(
    df: DataFrame,
    row_key: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    w_col: str | None = "w",
    h_col: str | None = "h",
    run_id: str = "",
) -> DataFrame:
    """Standalone container-magic + header-dims validation — the
    zero-decode structural screen that runs BEFORE the (1000× more
    expensive) Arrow decode stage at 100 TB: a wrong container or
    lying metadata row never reaches Python. Pure Catalyst: one
    projection, prunes to (key, bytes, fmt, w, h), whole-stage
    codegen. The same expressions ride the row-check projection via
    the ``$magic`` rule directive."""
    det = detected_container(bytes_col)
    hw, hh = header_dims(bytes_col)
    sel = df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.col(fmt_col).alias("__fmt"),
        det.alias("__det"),
        hw.alias("__hw"),
        hh.alias("__hh"),
        *([F.col(w_col).cast("long").alias("__w")] if w_col else []),
        *([F.col(h_col).cast("long").alias("__h")] if h_col else []),
        F.spark_partition_id().alias("partition_id"),
    )
    magic_bad = as_violations(
        sel.filter(~_accepts(F.col("__det"), F.col("__fmt"))),
        "row_key", bytes_col, f"{bytes_col}~{fmt_col}",
        ErrorType.MAGIC_MISMATCH,
        f"container magic of [{bytes_col}] must match declared [{fmt_col}]",
        F.concat_ws(
            " vs ", F.coalesce(F.col("__det"), F.lit("unknown")), F.col("__fmt")
        ),
        run_id,
    )
    if w_col and h_col:
        dims_bad = as_violations(
            sel.filter(
                F.col("__hw").isNotNull()
                & (
                    (F.col("__hw") != F.col("__w"))
                    | (F.col("__hh") != F.col("__h"))
                )
            ),
            "row_key", bytes_col, f"{bytes_col}~dims", ErrorType.HEADER_MISMATCH,
            f"header dimensions of [{bytes_col}] must match "
            f"declared [{w_col}]x[{h_col}]",
            F.concat_ws(
                " vs ",
                F.concat_ws("x", "__hw", "__hh"),
                F.concat_ws("x", "__w", "__h"),
            ),
            run_id,
        )
        return magic_bad.unionByName(dims_bad)
    return magic_bad


def _accepts(det, fmt_col) -> "F.Column":
    """magic_ok over an already-computed detected-container column."""
    fmt = F.lower(fmt_col)
    chain = None
    for declared, containers in sorted(ACCEPTED_CONTAINERS.items()):
        val = det.isin(list(containers))
        chain = (
            F.when(fmt == declared, val)
            if chain is None
            else chain.when(fmt == declared, val)
        )
    return F.coalesce(chain, F.lit(False))
