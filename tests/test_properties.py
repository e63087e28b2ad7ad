"""Property-based tests (hypothesis): the reference's type-inference
semantics, the drift statistics, and codec round-trips hold for
arbitrary inputs, not just the golden fixtures."""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from invalid_spark import codecs
from invalid_spark import yamlmeta


# ---------------------------------------------------------------------------
# YAML core-schema inference (reference yaml.go:256-276 semantics)

@given(st.integers(min_value=-(10**18), max_value=10**18))
def test_int_spellings_infer_int(i):
    assert yamlmeta.infer_tag(str(i)) == "!!int"


@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
def test_float_spellings_infer_number(x):
    tag = yamlmeta.infer_tag(repr(x))
    # repr of a float is either int-like ("1e+20" style counts float;
    # "2.0" float; integral reprs never occur from repr())
    assert tag in ("!!int", "!!float")
    if "." in repr(x) or "e" in repr(x) or "E" in repr(x):
        assert tag == "!!float"


@given(st.text(min_size=1, max_size=30))
def test_quoted_always_str(s):
    assert yamlmeta.infer_tag(s, quoted=True) == "!!str"


@given(st.sampled_from(["y", "n", "yes", "no", "Yes", "No", "on", "off", "ON"]))
def test_yaml11_bools_are_strings(s):
    # reference asserts YAML 1.1 bools stay strings (yaml_test.go:140-165)
    assert yamlmeta.infer_tag(s) == "!!str"


@given(st.sampled_from(["true", "True", "TRUE", "false", "False", "FALSE"]))
def test_core_bools(s):
    assert yamlmeta.infer_tag(s) == "!!bool"


@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz_ ", min_size=1, max_size=30))
def test_plain_words_are_str(s):
    if s.strip() == "" or s in ("null",):
        return
    assert yamlmeta.infer_tag(s) == "!!str"


@given(st.integers(min_value=0, max_value=10**12))
def test_inference_matches_reference_hex_octal(i):
    assert yamlmeta.infer_tag(hex(i)) == "!!int"
    assert yamlmeta.infer_tag(oct(i).replace("0o", "0o")) == "!!int"


# ---------------------------------------------------------------------------
# drift folds vs a pure-Python reference

def _ks_w1_ref(cur, prev, bins):
    """Exact KS and normalized W1 over the clamped-floor histogram of
    the union grid (NULL and NaN excluded), as Fractions."""
    xs = [x for x in cur + prev if x is not None and not math.isnan(x)]
    if not xs:
        return 0.0, 0.0
    lo, hi = min(xs), max(xs)
    width = (hi - lo) / bins or 1.0

    def hist(vals):
        h = [0] * bins
        for x in vals:
            if x is not None and not math.isnan(x):
                h[min(bins - 1, max(0, math.floor((x - lo) / width)))] += 1
        return h

    hc, hp = hist(cur), hist(prev)
    n, m = sum(hc), sum(hp)
    if not (n and m):
        return 0.0, 0.0
    gaps, cc, cp = [], 0, 0
    for a, b in zip(hc, hp):
        cc, cp = cc + a, cp + b
        gaps.append(abs(Fraction(cc, n) - Fraction(cp, m)))
    return float(max(gaps)), float(sum(gaps) / bins)


def _chi2_psi_ref(cur, prev, eps=1e-4):
    """χ² (exact d²/r terms) and PSI (eps-floored terms), each a left
    fold in category order: NULL first, then ascending strings."""
    cats = sorted(
        {None if c is None else str(c) for c in cur + prev},
        key=lambda c: (c is not None, c or ""),
    )
    cnt = lambda vals, c: sum(  # noqa: E731
        1 for v in vals if (None if v is None else str(v)) == c)
    n, m = len(cur), len(prev)
    chi2 = psi = 0.0
    for c in cats:
        o1, o2 = cnt(cur, c), cnt(prev, c)
        d = float(o1 * m - o2 * n)
        chi2 += d * d / float(o1 + o2)
        p = max(o1 / n, eps) if n else eps
        q = max(o2 / m, eps) if m else eps
        psi += (p - q) * math.log(p / q)
    return (chi2 / (float(n) * float(m)) if n and m else 0.0), psi


_value = st.one_of(
    st.none(), st.just(math.nan), st.sampled_from([0.0, 1.0, 2.5]),
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
)
_side = st.lists(st.tuples(_value, st.sampled_from([None, 1, 2, 9, 10])),
                 max_size=12)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_side, _side, st.sampled_from([1, 2, 3, 7]), st.booleans())
@example([], [(1.0, 1)], 4, False)                     # empty side
@example([(2.5, 9)] * 3, [(2.5, 9)] * 2, 3, True)      # all equal
@example([(0.0, None), (1.0, 10)], [(1.0, 9), (None, None)], 2, True)
def test_drift_folds_match_reference(spark, cur, prev, bins, int_cats):
    """KS, W1, χ² and PSI from the one drift core equal a short
    pure-Python reference on small samples, including an empty side,
    all-equal values, NULL/NaN numerics, a NULL category and
    integer-valued categories (which order as strings: "10" < "9")."""
    from invalid_spark.checks import drift
    from invalid_spark.model import local_frame

    schema = f"x double, c {'long' if int_cats else 'string'}"
    fix = (lambda c: c) if int_cats else (lambda c: None if c is None else f"v{c}")
    frame = lambda rows: local_frame(  # noqa: E731
        spark, [(x, fix(c)) for x, c in rows], schema)
    fc, fp = frame(cur), frame(prev)
    xs_c, xs_p = [x for x, _ in cur], [x for x, _ in prev]
    cs_c, cs_p = [fix(c) for _, c in cur], [fix(c) for _, c in prev]

    ks, w1 = _ks_w1_ref(xs_c, xs_p, bins)
    assert drift.ks_statistic_df(fc, fp, "x", bins=bins).first()["statistic"] == ks
    assert drift.w1_statistic_df(fc, fp, "x", bins=bins).first()["statistic"] == w1
    chi2, psi = _chi2_psi_ref(cs_c, cs_p)
    got = drift.chi2_statistic_df(fc, fp, "c").first()
    assert got["statistic"] == chi2
    assert got["dof"] == max(len({str(c) for c in cs_c + cs_p}) - 1, 1)
    assert math.isclose(drift.psi_drift(fc, fp, "c").statistic, psi,
                        rel_tol=1e-12, abs_tol=1e-15)


# ---------------------------------------------------------------------------
# Hamming near-dup core vs brute force

_sig = st.one_of(st.none(), st.sampled_from([0, 5, 255, 4097]),
                 st.integers(min_value=0, max_value=2**16 - 1))


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.sampled_from([8, 13, 16]), st.integers(min_value=0, max_value=3),
       st.lists(_sig, max_size=9), st.lists(_sig, max_size=6))
@example(13, 3, [5, 5, None, 4, 4097], [5, None])  # repeats, NULL, 13 % 4
@example(8, 0, [], [1])                             # empty batch
def test_hamming_core_matches_brute_force(spark, bits, h, batch, state):
    """hamming_block_pairs is exactly the a < b pairs within ``h`` bits;
    hamming_neardup_vs_state's decisions follow the brute-force minimum
    distances (a NULL signature is always new) and its bests are the
    minimum over the rows sharing a pigeonhole block."""
    from invalid_spark.model import local_frame
    from invalid_spark.pipeline import dedup

    mask = (1 << bits) - 1
    rows = [(i, None if x is None else x & mask) for i, x in enumerate(batch)]
    srows = [(100 + i, None if x is None else x & mask)
             for i, x in enumerate(state)]
    frame = lambda r: local_frame(spark, r, "id long, sig long")  # noqa: E731
    dist = lambda x, y: bin(x ^ y).count("1")  # noqa: E731
    width = bits // (h + 1)
    blocks = lambda x: {(i, (x >> i * width) & ((1 << width) - 1))  # noqa: E731
                        for i in range(h + 1)}

    got = {tuple(r) for r in dedup.hamming_block_pairs(
        frame(rows), h, bits).collect()}
    assert got == {(i, j, dist(x, y)) for i, x in rows for j, y in rows
                   if i < j and None not in (x, y) and dist(x, y) <= h}

    def near(x, others):
        return x is not None and any(
            y is not None and dist(x, y) <= h for _, y in others)

    def best(x, others):
        ds = [dist(x, y) for _, y in others
              if None not in (x, y) and blocks(x) & blocks(y)]
        return min(ds) if ds else None

    expect = {
        i: ("dup_of_corpus" if near(x, srows)
            else "dup_in_batch" if near(x, rows[:i]) else "new",
            best(x, srows), best(x, rows[:i]))
        for i, x in rows
    }
    out = dedup.hamming_neardup_vs_state(frame(rows), frame(srows), h, bits)
    assert {r.id: (r.decision, r.best_corpus, r.best_batch)
            for r in out.collect()} == expect
    assert all(expect[i][0] == "new" for i, x in rows if x is None)


# ---------------------------------------------------------------------------
# Count-Min sketch: merge and point estimates

_cms_key = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]),
                     st.integers(min_value=0, max_value=40).map(str))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.lists(_cms_key, max_size=12), min_size=1, max_size=4),
       st.sampled_from([1, 3]), st.sampled_from([4, 16]))
@example([[], ["a"]], 3, 4)                          # an empty batch
@example([["a"] * 5, ["a", None, "b"]], 1, 4)         # repeats, a NULL key
def test_cms_merge_is_whole_sketch_and_never_undershoots(
    spark, batches, depth, width
):
    """``cms_merge`` over the batches' sketches is the sketch of the
    whole corpus, and ``cms_estimate`` never reports fewer than a
    key's exact count (narrow widths force bucket collisions)."""
    from collections import Counter

    from invalid_spark.checks import stats
    from invalid_spark.model import local_frame

    frame = lambda keys: local_frame(  # noqa: E731
        spark, [(k,) for k in keys], "k string")
    sketch = lambda df: stats.cms_sketch(  # noqa: E731
        df, "k", depth=depth, width=width)
    counters = lambda s: {  # noqa: E731
        (r["i"], r["bucket"]): r["cnt"] for r in s.collect() if r["cnt"]}
    whole = [k for b in batches for k in b]
    merged = stats.cms_merge(*[sketch(frame(b)) for b in batches])
    assert counters(merged) == counters(sketch(frame(whole)))

    exact = Counter(k for k in whole if k is not None)
    est = {
        r["value"]: r["est_cnt"]
        for r in stats.cms_estimate(
            merged, frame([*exact, "never-seen"]), "k",
            depth=depth, width=width,
        ).collect()
    }
    assert all(est[k] >= n for k, n in exact.items())
    assert est["never-seen"] >= 0


# ---------------------------------------------------------------------------
# column metrics (stats.metric_expr) vs plain Python

_NAN = float("nan")
_metric_value = st.one_of(
    st.none(), st.just(_NAN), st.integers(min_value=-50, max_value=50).map(float)
)


def _metric_ref(xs):
    """Every column metric of ``xs`` in plain Python, with Spark's NaN
    rules: NaN is a present value that orders above every number."""
    present = [x for x in xs if x is not None]
    nums = [x for x in present if not math.isnan(x)]
    has_nan = len(nums) < len(present)
    some = present != []
    return {
        "row_count": float(len(xs)),
        "null_rate": (len(xs) - len(present)) / len(xs) if xs else None,
        "ndv": float(len(set(nums)) + has_nan),
        "min": (min(nums) if nums else _NAN) if some else None,
        "max": (_NAN if has_nan else max(nums)) if some else None,
        "mean": (_NAN if has_nan else sum(nums) / len(nums)) if some else None,
        "stddev": (
            None if len(present) < 2
            else _NAN if has_nan
            else float(np.std(nums, ddof=1))
        ),
    }


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_metric_value, max_size=10))
@example([])                        # empty column
@example([None, None])              # all NULL
@example([_NAN, _NAN])              # all NaN: min is NaN too
@example([3.0, _NAN, None, -2.0])   # NaN next to numbers and a NULL
@example([4.0])                     # one value: stddev NULL
def test_metric_expr_matches_reference(spark, xs):
    """Each column metric of :func:`stats.metric_expr` equals a
    plain-Python reference, NaN and NULL included: ``max``, ``mean``
    and ``stddev`` are NaN when a NaN is present, ``min`` skips NaN
    unless every value is NaN, ``null_rate`` counts NaN as present and
    ``ndv`` counts NaN as one value. The frame is spread over three
    partitions, so the partial aggregates merge."""
    from invalid_spark.checks import stats
    from invalid_spark.model import local_frame

    df = local_frame(spark, [(x,) for x in xs], "x double").repartition(3)
    got = df.agg(
        *[stats.metric_expr("x", m).alias(m) for m in stats.METRICS]
    ).collect()[0]
    for m, want in _metric_ref(xs).items():
        v = got[m]
        if want is None or math.isnan(want):
            assert repr(v) == repr(want), (m, v, want)
        elif m == "stddev":
            assert math.isclose(v, want, rel_tol=1e-12), (m, v, want)
        else:
            assert v == want, (m, v, want)


# ---------------------------------------------------------------------------
# codecs

@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=1, max_value=24), st.integers(min_value=1, max_value=24),
       st.integers(min_value=0, max_value=2**31 - 1))
def test_png_roundtrip_arbitrary(h, w, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(px)), px)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=8, max_value=32), st.integers(min_value=0, max_value=2**31 - 1))
def test_lossy_roundtrip_psnr(side, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)
    dec = codecs.decode_image(codecs.encode_image(px, "jpeg"))
    assert codecs.psnr(px, dec) >= 40.0


@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_garbage_never_decodes_silently(raw):
    try:
        px = codecs.decode_image(raw)
    except codecs.DecodeError:
        return
    # if it decoded, it must be a well-formed pixel array
    assert px.ndim == 3 and px.shape[2] == 3


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=60),
    st.integers(min_value=1, max_value=40),
)
def test_greedy_pack_matches_naive_loop(tokens, cap):
    """pack.greedy_pack's searchsorted boundaries equal the naive
    per-document greedy loop for any token vector and budget."""
    import numpy as np

    from invalid_spark.pipeline.pack import greedy_pack

    seq, off = greedy_pack(np.array(tokens, dtype="int64"), cap)
    # the reference loop, straight from the documented rule
    fill, s = 0, 0
    for i, t in enumerate(tokens):
        if fill > 0 and fill + t > cap:
            s += 1
            fill = 0
        assert seq[i] == s, (tokens, cap, i)
        assert off[i] == fill, (tokens, cap, i)
        fill += t


# ---------------------------------------------------------------------------
# weighted and per-group samplers

_weight = st.one_of(
    st.none(), st.just(_NAN), st.just(0.0),
    st.floats(min_value=-5.0, max_value=-1e-3),
    st.floats(min_value=1e-3, max_value=1e3),
)
_sample_rows = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 2)), _weight), max_size=14
)


def _aes_key(key: int, w: float, salt: str = "wrs-v1") -> float:
    """The A-ES rank key ``ln(u) / w`` with ``u`` from the md5 of the
    salted key."""
    import hashlib

    h = hashlib.md5(f"{salt}-{key}".encode()).hexdigest()
    return math.log((int(h[:8], 16) + 1.0) / 4294967296.0) / w


def _ranked(rows):
    """(key, weight, rank key) of the rows a weighted sampler may draw,
    best first: weight not NULL, not NaN and > 0; ties by key."""
    live = [(i, w) for i, (_, w) in enumerate(rows)
            if w is not None and not math.isnan(w) and w > 0]
    return sorted(((i, w, _aes_key(i, w)) for i, w in live),
                  key=lambda t: (-t[2], t[0]))


def _sampler_frame(spark, rows):
    from invalid_spark.model import local_frame

    return local_frame(
        spark, [(i, g, w) for i, (g, w) in enumerate(rows)],
        "doc_id long, g long, w double",
    ).repartition(3)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_sample_rows, st.integers(min_value=1, max_value=5))
@example([], 2)
@example([(0, None), (1, _NAN), (None, 0.0), (2, -1.0)], 3)   # nothing drawable
@example([(0, 1.0), (0, _NAN), (None, 2.0), (None, 2.0), (1, 0.5)], 1)
def test_weighted_samplers_match_reference(spark, rows, k):
    """``weighted_sample`` and ``weighted_sample_by_group`` draw what a
    plain-Python A-ES draw does: rows with a NULL, NaN, zero or negative
    weight are never drawn, the top ``k`` rank keys win (globally, and
    per group with NULL its own group), ranks are 1..k in order."""
    from invalid_spark.pipeline import curate

    df = _sampler_frame(spark, rows)
    ranked = _ranked(rows)
    got = curate.weighted_sample(df, "w", k).collect()
    assert [r["doc_id"] for r in got] == [i for i, _, _ in ranked[:k]]
    for r, (_, w, key) in zip(got, ranked):
        assert r["weight"] == w and math.isclose(r["wkey"], key, rel_tol=1e-12)

    want = {}
    for i, w, key in ranked:
        g = rows[i][0]
        rank = sum(1 for (gg, _) in want if gg == g) + 1
        if rank <= k:
            want[(g, rank)] = i
    got_g = curate.weighted_sample_by_group(df, "w", k, "g").collect()
    assert {(r["g"], r["rank"]): r["doc_id"] for r in got_g} == want
    assert len(got_g) == len(want)


def _percentile(xs: list[float], q: float) -> float | None:
    """Spark's exact ``percentile``: linear interpolation between the
    order statistics around ``(n - 1) * q``, in Spark's own spelling."""
    if not xs:
        return None
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or xs[lo] == xs[hi]:
        return xs[lo]
    return (hi - pos) * xs[lo] + (pos - lo) * xs[hi]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_sample_rows, st.sampled_from([0.1, 0.25, 0.5, 0.7, 1.0]))
@example([], 0.5)
@example([(0, _NAN), (0, _NAN), (1, None)], 0.5)    # no score sets a threshold
@example([(0, 1.0), (0, _NAN), (0, 1.0), (None, -2.0), (None, 0.0)], 0.5)
def test_top_fraction_by_group_matches_reference(spark, rows, frac):
    """``top_fraction_by_group`` keeps a row when its score reaches its
    group's exact ``1 - frac`` percentile of the non-NaN scores (ties
    kept, NULL group its own group). A NaN score is never kept; a NULL
    score, or a group with no threshold, keeps NULL."""
    from invalid_spark.pipeline import curate

    df = _sampler_frame(spark, rows)
    thr = {}
    for g in {g for g, _ in rows}:
        thr[g] = _percentile(
            [w for gg, w in rows if gg == g and w is not None and not math.isnan(w)],
            1.0 - frac,
        )

    def keep(g, w):
        if w is not None and math.isnan(w):
            return False
        if w is None or thr[g] is None:
            return None
        return w >= thr[g]

    got = curate.top_fraction_by_group(df, "w", frac, "g").collect()
    assert {r["doc_id"]: r["keep"] for r in got} == {
        i: keep(g, w) for i, (g, w) in enumerate(rows)
    }


_dup_span_rows = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.lists(st.sampled_from("abc"), max_size=7).map(" ".join),
    ),
    min_size=1, max_size=6,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_dup_span_rows)
@example([("d1", "a b"), ("d1", "a b c a b c"), ("d3", "a b c a b c")])
@example([("k1", "a b c"), ("k1", "a b c"), ("k2", "c a b c")])  # a repeated row
@example([("k1", "a b c d"), ("k1", "a b c d"), ("k2", "a b c d e")])
def test_dup_span_coverage_matches_reference(spark, rows):
    """``dup_span_stats`` covers what a plain-Python interval union
    covers, with a document being (key, text): a 3-gram position is
    duplicated when at least two documents hold the gram, and a row's
    covered tokens never exceed its own tokens."""
    from invalid_spark.model import local_frame
    from invalid_spark.pipeline import dedup

    n = 3
    grams = {
        doc: [tuple(doc[1].split()[i:i + n])
              for i in range(len(doc[1].split()) - n + 1)]
        for doc in set(rows)
    }
    holders: dict[tuple, set] = {}
    for doc, gs in grams.items():
        for g in gs:
            holders.setdefault(g, set()).add(doc)

    def covered(doc):
        cells = {i + j for i, g in enumerate(grams[doc])
                 if len(holders[g]) >= 2 for j in range(n)}
        return len(cells)

    df = local_frame(spark, [(i, k, t) for i, (k, t) in enumerate(rows)],
                     "row long, doc_id string, text string")
    got = dedup.dup_span_stats(df, n=n, keep_cols=["row"]).collect()
    assert len(got) == len(rows)
    for r in got:
        doc = rows[r["row"]]
        assert r["n_tokens"] == len(doc[1].split())
        assert r["covered_tokens"] <= r["n_tokens"]
        assert r["covered_tokens"] == covered(doc)
        assert r["n_dup_positions"] <= r["n_positions"]
