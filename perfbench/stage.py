"""Deterministic benchmark inputs, staged once per (table, size, seed).

Every table is a pure function of the seed, so two runs with one seed
validate identical bytes. Staging happens before the clock starts and
is cached on disk: a second run with the same seed reuses the files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 16

# ``synth.SCHEMA`` in Arrow types
_IMAGE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("license_id", pa.string()),
])

# lineitem plants: share of rows given each kind of bad value
_LI_PLANT = {
    "quantity": 0.004,   # l_quantity outside [1, 50]
    "discount": 0.003,   # l_discount outside [0, 0.1]
    "flag": 0.002,       # l_returnflag 'X' (enum)
    "order": 0.003,      # l_orderkey with no order
    "supp": 0.002,       # l_suppkey with no supplier
    "part": 0.002,       # l_partkey with no part (bloom screen)
}


def _fresh(final: str) -> str | None:
    """The temp directory to stage ``final`` into, or None when
    ``final`` is already staged. A killed staging run leaves only the
    temp directory behind, which the next run rebuilds."""
    if os.path.exists(final):
        return None
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


def images(root: str, n: int, seed: int) -> str:
    """``synth.images_df(n)`` plus a 16-value ``shard`` work-unit
    column, as four parquet files. The seed assigns rows to shards and
    permutes their order; the planted rows stay the same. The image
    pool itself is generated once per ``n`` (per-row image encoding is
    the slow part of staging), in this process rather than on Spark,
    so staging leaves the JVM as cold as a cached run finds it."""
    from invalid_spark import synth

    pool = os.path.join(root, f"images_pool_n{n}.parquet")
    if not os.path.exists(pool):
        rows = [synth.make_row(i) for i in range(n)]
        pq.write_table(pa.Table.from_pylist(rows, schema=_IMAGE_SCHEMA), pool + ".tmp")
        os.replace(pool + ".tmp", pool)
    final = os.path.join(root, f"images_n{n}_s{seed}")
    tmp = _fresh(final)
    if tmp is None:
        return final
    rng = np.random.default_rng(seed)
    table = pq.read_table(pool).take(rng.permutation(n))
    shard = np.char.mod("s%02d", rng.integers(0, N_SHARDS, n))
    table = table.append_column("shard", pa.array(shard.tolist(), pa.string()))
    os.makedirs(tmp)
    for k, lo in enumerate(range(0, n, -(-n // 4))):
        part = table.slice(lo, -(-n // 4))
        pq.write_table(part, os.path.join(tmp, f"part-{k}.parquet"))
    os.replace(tmp, final)
    return final


def lineitem_appends(root: str, base: int, step: int, count: int,
                     seed: int) -> tuple[str, list[str]]:
    """A TPC-H-shaped ``lineitem`` cut into a base file of ``base``
    rows and ``count`` files of ``step`` rows, with ``orders``,
    ``supplier`` and ``part`` dimensions beside them. Each violation
    kind is planted in a fixed share of rows chosen by the seed; the
    natural composite (l_orderkey, l_linenumber) duplicates are left
    in, as in the generator the repository's oracle tests use.
    Returns (dimension directory, lineitem files in append order)."""
    final = os.path.join(root, f"lineitem_b{base}_x{step}_c{count}_s{seed}")
    tmp = _fresh(final)
    bounds = [0, base] + [base + (k + 1) * step for k in range(count)]
    names = [f"lineitem-{k:03d}.parquet" for k in range(count + 1)]
    if tmp is not None:
        os.makedirs(tmp)
        n = bounds[-1]
        rng = np.random.default_rng(seed)
        n_orders, n_supp, n_part = n // 4, max(n // 600, 16), max(n // 30, 64)

        def plant(kind: str) -> np.ndarray:
            return rng.random(n) < _LI_PLANT[kind]

        orderkey = rng.integers(0, n_orders, n)
        orderkey[plant("order")] += n_orders
        suppkey = rng.integers(0, n_supp, n)
        suppkey[plant("supp")] += n_supp
        partkey = rng.integers(0, n_part, n)
        partkey[plant("part")] += n_part
        quantity = rng.integers(1, 51, n).astype(np.float64)
        bad_q = plant("quantity")
        quantity[bad_q] = np.where(rng.random(int(bad_q.sum())) < 0.5, 0.0, 60.0)
        discount = rng.integers(0, 11, n) / 100.0
        discount[plant("discount")] = 0.5
        flag = rng.choice(np.array(["A", "N", "R"]), n)
        flag[plant("flag")] = "X"
        day0 = np.datetime64("1992-01-01", "us")
        li = pa.table({
            "l_rowid": rng.permutation(n).astype(np.int64),
            "l_orderkey": orderkey,
            "l_partkey": partkey,
            "l_suppkey": suppkey,
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900, 2000, n), 2),
            "l_discount": discount,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": flag,
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": day0 + rng.integers(0, 2500, n) * np.timedelta64(1, "D"),
        })
        for name, lo, hi in zip(names, bounds, bounds[1:]):
            pq.write_table(li.slice(lo, hi - lo), os.path.join(tmp, name))
        pq.write_table(pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_totalprice": np.round(rng.uniform(1e3, 4e5, n_orders), 2),
        }), os.path.join(tmp, "orders.parquet"))
        pq.write_table(pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
        }), os.path.join(tmp, "supplier.parquet"))
        pq.write_table(pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
        }), os.path.join(tmp, "part.parquet"))
        os.replace(tmp, final)
    return final, [os.path.join(final, name) for name in names]
