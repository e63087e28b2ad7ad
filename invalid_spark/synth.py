"""Deterministic synthetic image+caption table (FIXTURES.md T1/T2/T3).

Schema is exactly the north-rule ``input_hint``:
``(image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long)`` plus ``license_id`` referencing the
licenses dimension (T2).

Generation is **distributed and deterministic**: ``spark.range(n)``
→ ``mapInPandas`` where every row is derived solely from its index
and the seed, so any partitioning (and any cluster size) produces
identical rows. Planted violation rows sit at fixed indices so golden
tests assert exact violation row keys, not just counts:

- ``i % 101 == 100``  → duplicate image_id of row i-1 (uniqueness)
- ``i % 103 == 102``  → w out of range (0 or 100001)
- ``i % 107 == 106``  → fmt = "bmp" (enum violation)
- ``i % 109 == 108``  → empty caption (length violation)
- ``i % 113 == 112``  → corrupt/truncated bytes (decode error)
- ``i % 127 == 126``  → license_id = "unknown-license" (ref violation)
- ``i % 131 == 130``  → stored phash off by one bit (phash recompute)
- ``i % 10  == 9``    → hot phash key (skew fixture, ~10% of rows;
  only when ``skew=True`` so phash-recompute goldens stay clean)

Use :func:`clean` / :func:`violation_indices` to reason about
expectations in tests.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from invalid_spark import codecs
from invalid_spark.model import local_frame

SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, license_id string"
)

LICENSES = [
    ("cc0", True),
    ("cc-by", True),
    ("cc-by-sa", True),
    ("proprietary", False),
]

HOT_PHASH = 0x5A5A5A5A5A5A5A5A  # < 2^63, fits signed int64

_WORDS = (
    "ocean forest mountain river cloud meadow harbor canyon glacier dune "
    "lantern bridge castle garden mosaic portrait skyline sunrise shadow mist"
).split()

PLANT = {
    "dup_id": 101,
    "range_w": 103,
    "enum_fmt": 107,
    "len_caption": 109,
    "corrupt": 113,
    "ref_license": 127,
    "phash_bit": 131,
}


def _caption_for(i: int) -> str:
    rng = np.random.default_rng(1000 + i)
    n = int(rng.integers(5, 12))
    words = [_WORDS[int(rng.integers(0, len(_WORDS)))] for _ in range(n)]
    return f"A photo of {' '.join(words)} ({i})"


def _pixels_for(i: int, side: int) -> np.ndarray:
    rng = np.random.default_rng(i)
    return rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)


def make_row(i: int, seed: int = 42, skew: bool = False) -> dict:
    """One deterministic row; pure function of (i, seed, skew)."""
    side = 8 + (i * 7 + seed) % 9  # 8..16 px
    fmt = "png" if i % 3 == 0 else ("jpeg" if i % 3 == 1 else "webp")
    px = _pixels_for(seed * 1_000_003 + i, side)
    data = codecs.encode_image(px, fmt)
    ph = codecs.phash64(codecs.decode_image(data))
    caption = _caption_for(i)
    image_id = f"img-{i:012d}"
    w = h = side
    license_id = LICENSES[i % len(LICENSES)][0]

    if i % PLANT["dup_id"] == PLANT["dup_id"] - 1 and i > 0:
        image_id = f"img-{i - 1:012d}"
    if i % PLANT["range_w"] == PLANT["range_w"] - 1:
        w = 0 if i % 2 == 0 else 100001
    if i % PLANT["enum_fmt"] == PLANT["enum_fmt"] - 1:
        fmt = "bmp"
    if i % PLANT["len_caption"] == PLANT["len_caption"] - 1:
        caption = ""
    if i % PLANT["corrupt"] == PLANT["corrupt"] - 1:
        data = data[: max(8, len(data) // 2)]
    if i % PLANT["ref_license"] == PLANT["ref_license"] - 1:
        license_id = "unknown-license"
    if i % PLANT["phash_bit"] == PLANT["phash_bit"] - 1:
        ph ^= 1
    if skew and i % 10 == 9:
        ph = HOT_PHASH  # hot key: ~10% of rows share one phash

    return {
        "image_id": image_id,
        "bytes": data,
        "w": int(w),
        "h": int(h),
        "fmt": fmt,
        "caption": caption,
        "phash": int(ph),
        "license_id": license_id,
    }


def images_df(spark: SparkSession, n: int, seed: int = 42,
              partitions: int | None = None, skew: bool = False) -> DataFrame:
    """Distributed deterministic generator: every executor derives its
    rows from the row index alone — no driver-side data movement."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [make_row(int(i), seed, skew) for i in b["id"]]
            yield pd.DataFrame(rows)

    rng = spark.range(n, numPartitions=partitions)
    return rng.mapInPandas(gen, schema=SCHEMA)


def licenses_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, LICENSES, "license_id string, redistributable boolean"
    )


def images_prev_df(spark: SparkSession, n: int, seed: int = 42,
                   drifted: bool = True) -> DataFrame:
    """Prior-snapshot table (T3): same generator, shifted w/h
    distribution (+4 px) and perturbed fmt mix when ``drifted``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                r = make_row(int(i), seed)
                if drifted:
                    r["w"] = r["w"] + 4
                    r["h"] = r["h"] + 4
                    r["fmt"] = "png" if int(i) % 2 == 0 else "jpeg"
                rows.append(r)
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=SCHEMA)


def violation_indices(n: int, kind: str) -> list[int]:
    """Indices of planted violations of ``kind`` below ``n``."""
    p = PLANT[kind]
    start = p - 1
    idx = [i for i in range(start, n, p)]
    if kind == "dup_id":
        idx = [i for i in idx if i > 0]
    return idx
