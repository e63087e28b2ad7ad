"""Coverage for the CLI (in-process), manifest atomicity, driver-side
statistics math, and MinHash's estimator property."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from invalid_spark import mathutil
from invalid_spark.io import Manifest, snapshot_id


def test_cli_validate_in_process(spark, tmp_path, capsys):
    from invalid_spark import cli

    rules = tmp_path / "rules.yaml"
    rules.write_text("lang: {$type: $str, $of: [en, fr, de]}\n")
    rc = cli.main([
        "validate",
        "--table", "/root/testdata/sf0.001/documents.parquet",
        "--rules", str(rules),
        "--out", str(tmp_path / "audit"),
        "--row-key", "doc_id",
        "--partition-col", "source",
        "--local-cores", "4",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["units_done"]) == 20
    assert out["violations"] > 0 and out["passed"] is False


def test_cli_profile_in_process(spark, tmp_path, capsys):
    from invalid_spark import cli

    rules = tmp_path / "rules.yaml"
    rules.write_text("n_chars: {$type: $int, $stats: [min, max]}\n")
    rc = cli.main([
        "profile",
        "--table", "/root/testdata/sf0.001/documents.parquet",
        "--rules", str(rules),
        "--local-cores", "4",
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    stats = {(l["column"], l["stat"]): l["value"] for l in lines}
    assert ("n_chars", "min") in stats and ("n_chars", "max") in stats


def test_cli_curate_in_process(spark, tmp_path, capsys):
    """cli curate: decisions/curated/rejected sinks agree with the
    library's curation_decisions; sampling and split labels apply to
    the kept rows only."""
    from invalid_spark import cli
    from invalid_spark.pipeline import curate as curate_mod

    out = tmp_path / "cur"
    rc = cli.main([
        "curate",
        "--table", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(out),
        "--row-key", "doc_id",
        "--split", "0.8,0.1,0.1",
        "--local-cores", "4",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_input"] == summary["n_kept"] + summary["n_rejected"]
    assert summary["reasons"].get("keep", 0) == summary["n_kept"] > 0
    assert set(summary["splits"]) <= {"train", "val", "test"}
    assert sum(summary["splits"].values()) == summary["n_kept"]
    curated = spark.read.parquet(str(out / "curated"))
    rejected = spark.read.parquet(str(out / "rejected"))
    assert curated.count() == summary["n_kept"]
    assert rejected.count() == summary["n_rejected"]
    # decisions parquet matches the library call
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lib = curate_mod.curation_decisions(docs)
    lib_rows = {(r["id"], r["keep"], r["reason"]) for r in lib.collect()}
    cli_rows = {
        (r["id"], r["keep"], r["reason"])
        for r in spark.read.parquet(str(out / "decisions")).collect()
    }
    assert lib_rows == cli_rows


def test_cli_pack_in_process(spark, tmp_path, capsys):
    """cli pack: assignment parquet + one-line summary agree with the
    library call."""
    from invalid_spark import cli
    from invalid_spark.pipeline import pack as pack_mod

    out = tmp_path / "pk"
    rc = cli.main([
        "pack",
        "--table", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(out),
        "--max-tokens", "256",
        "--buckets", "4",
        "--local-cores", "4",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lib = pack_mod.pack_summary(
        pack_mod.pack_sequences(docs, 256, n_buckets=4), 256
    ).collect()[0]
    assert summary == lib.asDict()
    assignments = spark.read.parquet(str(out / "assignments"))
    assert assignments.count() == summary["n_documents"] == docs.count()


def test_cli_curate_dsir_in_process(spark, tmp_path, capsys):
    from invalid_spark import cli

    out = tmp_path / "cur_dsir"
    rc = cli.main([
        "curate",
        "--table", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(out),
        "--row-key", "doc_id",
        "--dsir-target-sql", "lang = 'en'",
        "--dsir-k", "10",
        "--local-cores", "4",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_dsir_selected"] == 10
    assert spark.read.parquet(str(out / "curated")).count() == 10


def test_manifest_atomic_and_idempotent(tmp_path):
    m = Manifest(str(tmp_path / "mf"))
    assert not m.is_done("u1")
    m.mark_done("u1", {"run_id": "r"})
    m.mark_done("u1", {"run_id": "r2"})  # idempotent overwrite
    assert m.is_done("u1") and m.done_units() == {"u1"}
    # no stray tmp files left behind
    assert not [f for f in os.listdir(m.root) if f.endswith(".tmp")]
    meta = m.read_meta()
    assert meta[0]["unit"] == "u1" and meta[0]["run_id"] == "r2"


def test_snapshot_id_changes_with_content(tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"xxxx")
    s1 = snapshot_id(str(d))
    (d / "a.parquet").write_bytes(b"xxxxy")
    s2 = snapshot_id(str(d))
    (d / "_SUCCESS").write_bytes(b"")  # metadata files ignored
    s3 = snapshot_id(str(d))
    assert s1 != s2 and s2 == s3


def test_snapshot_id_sees_same_size_rewrite(tmp_path):
    """A same-size in-place rewrite changes ``snapshot_id``, which is
    the TableLog id of the same file list (one fingerprint: relative
    path, size and mtime)."""
    import hashlib

    from invalid_spark.io import TableLog

    d = tmp_path / "t"
    d.mkdir()
    f = d / "a.parquet"
    f.write_bytes(b"aaaa")
    os.utime(f, ns=(1_000_000_000, 1_000_000_000))
    s1 = snapshot_id(str(d))
    f.write_bytes(b"bbbb")  # same 4 bytes, different content
    os.utime(f, ns=(2_000_000_000, 2_000_000_000))
    s2 = snapshot_id(str(d))
    assert s1 != s2
    assert s2 == hashlib.md5(b"a.parquet:4:2000000000").hexdigest()[:16]
    assert s2 == TableLog(str(tmp_path / "log")).commit(str(d))
    assert snapshot_id(str(f)) == s2


def test_ks_pvalue_calibration():
    # d=0 → p=1; large d on large samples → p≈0; monotone in d
    assert mathutil.ks_pvalue(0.0, 100, 100) == 1.0
    assert mathutil.ks_pvalue(0.5, 1000, 1000) < 1e-6
    ps = [mathutil.ks_pvalue(d, 200, 200) for d in (0.05, 0.1, 0.2, 0.4)]
    assert ps == sorted(ps, reverse=True)


def test_chi2_pvalue_calibration():
    # chi2 with dof k has mean k: stat == dof → p ≈ 0.3-0.6
    p = mathutil.chi2_pvalue(4.0, 4)
    assert 0.3 < p < 0.6
    assert mathutil.chi2_pvalue(100.0, 4) < 1e-6
    assert mathutil.chi2_pvalue(0.0, 4) == pytest.approx(1.0)


def test_minhash_signature_estimates_jaccard(spark):
    """MinHash property: fraction of agreeing signature elements
    estimates the true Jaccard (within sampling error at k=64)."""
    from invalid_spark.pipeline import dedup
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j k l m n o p"),
            (1, "a b c d e f g h i j k l x y z w"),  # high overlap
            (2, "q r s t u v aa bb cc dd ee ff gg hh ii jj"),  # disjoint
        ],
        "doc_id long, text string",
    )
    k = 64
    sig = dedup.minhash_signatures(docs, k=k, n=2).collect()
    s = {r["id"]: [r[f"s{j}"] for j in range(k)] for r in sig}
    agree_01 = sum(a == b for a, b in zip(s[0], s[1])) / k
    agree_02 = sum(a == b for a, b in zip(s[0], s[2])) / k

    def true_jaccard(t1, t2, n=2):
        g = lambda t: {
            " ".join(t.split()[i : i + n]) for i in range(len(t.split()) - n + 1)
        }
        a, b = g(t1), g(t2)
        return len(a & b) / len(a | b)

    j01 = true_jaccard(docs.collect()[0]["text"], docs.collect()[1]["text"])
    assert abs(agree_01 - j01) < 0.2
    assert agree_02 < 0.1  # disjoint docs share ~no minima


def test_ks1_pvalue_consistent_with_lambda_critical():
    """The one-sample p-value and the lambda-space critical constant
    must agree: p(d, n) < thr  ⇔  (√n + 0.12 + 0.11/√n)·d > λ* —
    the identity windowed_ks_drift relies on to evaluate the drifted
    flag without per-window driver round-trips."""
    import math

    from invalid_spark import mathutil

    for thr in (0.01, 0.05):
        lam_crit = mathutil.kolmogorov_lambda_critical(thr)
        for n in (30, 100, 1000, 50000):
            for d in (0.005, 0.01, 0.02, 0.05, 0.1, 0.3, 0.8):
                lam = (math.sqrt(n) + 0.12 + 0.11 / math.sqrt(n)) * d
                if abs(lam - lam_crit) < 1e-9:
                    continue  # knife-edge: either verdict acceptable
                assert (mathutil.ks1_pvalue(d, n) < thr) == (lam > lam_crit), (
                    thr, n, d
                )
    # and the two-sample p-value still matches its historical values
    # after the shared-series refactor (m -> inf degenerates to ks1)
    assert mathutil.ks_pvalue(0.05, 2000, 2000) == pytest.approx(
        mathutil.ks1_pvalue(0.05, 1000), rel=1e-12
    )


def test_cli_semdedup_in_process(spark, tmp_path, capsys):
    from invalid_spark import cli

    rc = cli.main([
        "semdedup",
        "--table", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", str(tmp_path / "sd"),
        "--n-lists", "4",
        "--threshold", "0.9",
        "--local-cores", "4",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_input"] > 0 and out["n_dropped"] == 0
    assert len(out["top_clusters"]) <= 10
    assert 0 < out["diversity_before"]["normalized_entropy"] <= 1
    assert os.path.isdir(str(tmp_path / "sd" / "decisions"))


def test_cli_contamination_in_process(spark, tmp_path, capsys):
    from invalid_spark import cli

    rc = cli.main([
        "contamination",
        "--table", "/root/testdata/sf0.001/embeddings.parquet",
        "--eval-table", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", str(tmp_path / "ct"),
        "--n-lists", "4",
        "--threshold", "0.9",
        "--local-cores", "4",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # train == eval: every row is its own exact leak
    assert out["rate"] == 1.0



def test_default_driver_memory_fits_host(monkeypatch):
    """spark.driver.memory defaults to half the host's MemTotal, capped
    at 16g; an explicit SPARK_DRIVER_MEM wins."""
    from invalid_spark import session

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kib = next(
            int(line.split()[1]) for line in f if line.startswith("MemTotal:")
        )
    got = session.driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) <= min(total_kib // 2048, 16 * 1024)

    # a 256 GiB host still gets 16g
    monkeypatch.setattr(
        session.os, "sysconf",
        {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 64 << 20}.__getitem__,
    )
    assert session.driver_memory() == "16384m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"
