"""Round-6 brute-force property tests, batch 8 — the final three never-
property-tested carry-over queries: zone-map manifest pruning, the Hurst
rescaled-range exponent, and the Heaps'-law vocabulary-growth fit."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _dec, _floor_cents, _mk_docs, _mk_events, _q9_then_dec6


# ---------------------------------------------------------------------------
# layout_manifest_prune
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),  # day
            st.integers(0, 23),  # hour
            st.integers(0, 120),  # user_id
            st.integers(0, 100000),  # cents
        ),
        min_size=1,
        max_size=24,
    )
)
def test_manifest_prune_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.pipeline_ops import (
        _ROW_BYTES,
        _manifest_prune,
    )

    rows = [
        (i, day * 86400 + hr * 3600 + i, u, "click", c / 100.0)
        for i, (day, hr, u, c) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = {r.probe: r for r in hand.sql(_manifest_prune(SPARK)).collect()}

    files: dict[tuple, list] = {}
    for day, hr, u, c in pts:
        key = (day, hr // 3)
        files.setdefault(key, []).append((u, _floor_cents(c)))
    stats = [
        (
            len(m) * _ROW_BYTES,
            min(v for _, v in m),
            max(v for _, v in m),
            min(u for u, _ in m),
            max(u for u, _ in m),
        )
        for m in files.values()
    ]
    probes = {
        "top_value_band": (900, None, None, None),
        "value_range_1_2": (100, 200, None, None),
        "user_point_42": (None, None, 42, 42),
        "user_low_high_value": (500, None, 0, 99),
    }
    hi, lo = 2**62, -(2**62)
    assert set(got) == set(probes)
    for probe, (lo_v, hi_v, lo_u, hi_u) in probes.items():
        scanned = skipped = n_skip = 0
        for bytes_, vmin, vmax, umin, umax in stats:
            skip = (
                (hi_v if hi_v is not None else hi) < vmin
                or (lo_v if lo_v is not None else lo) > vmax
                or (hi_u if hi_u is not None else hi) < umin
                or (lo_u if lo_u is not None else lo) > umax
            )
            n_skip += skip
            if skip:
                skipped += bytes_
            else:
                scanned += bytes_
        r = got[probe]
        assert r.n_files == len(stats)
        assert r.n_skipped == n_skip
        assert r.skip_ratio == pytest.approx(n_skip / len(stats), abs=2e-6)
        assert (r.bytes_scanned, r.bytes_skipped) == (scanned, skipped)


# ---------------------------------------------------------------------------
# window_hurst_rs
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 5000), min_size=16, max_size=34))
def test_hurst_rs_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.stats_eval import _hurst_rs

    rows = [
        (i, di * 86400, 1, "click", c / 100.0)
        for i, (di, c) in enumerate(enumerate(cents_list))
    ]
    _mk_events(hand, rows)
    got = hand.sql(_hurst_rs(SPARK)).collect()

    ys = [_floor_cents(c) for c in cents_list]
    pts = []  # (w, avg R/S) per scale with at least one admissible block
    for w in (8, 16, 32):
        terms = []
        for b in range(len(ys) // w):
            blk = ys[b * w : (b + 1) * w]
            mean = sum(blk) / w  # exact int/int division in double
            devs = [v - mean for v in blk]
            walk, cum = [], Decimal(0)
            for dv in devs:
                cum += _dec(dv, "1e-9")
                walk.append(float(cum))
            r_range = max(walk) - min(walk)
            s_dev = math.sqrt(
                float(
                    sum((_q9_then_dec6(dv * dv) for dv in devs), Decimal(0))
                )
                / w
            )
            if s_dev > 0:
                terms.append(_q9_then_dec6(r_range / s_dev))
        if terms:
            ars = float(sum(terms, Decimal(0))) / len(terms)
            if ars > 0:
                pts.append((w, ars))
    if len(pts) < 2:
        assert got == []
        return
    assert len(got) == 1
    n = float(len(pts))
    sx = float(sum((_q9_then_dec6(math.log(w)) for w, _ in pts), Decimal(0)))
    sy = float(sum((_q9_then_dec6(math.log(a)) for _, a in pts), Decimal(0)))
    sxy = float(
        sum(
            (
                _q9_then_dec6(
                    float(_dec(math.log(w), "1e-9"))
                    * float(_dec(math.log(a), "1e-9"))
                )
                for w, a in pts
            ),
            Decimal(0),
        )
    )
    sxx = float(
        sum(
            (
                _q9_then_dec6(
                    float(_dec(math.log(w), "1e-9")) ** 2
                )
                for w, _ in pts
            ),
            Decimal(0),
        )
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert got[0].n_scales == len(pts)
    assert got[0].hurst == pytest.approx(slope, abs=2e-5)


# ---------------------------------------------------------------------------
# profile_heaps_law
# ---------------------------------------------------------------------------


_HEAPS_DOC = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]), min_size=1, max_size=6
)


@settings(**PROP)
@given(st.lists(_HEAPS_DOC, min_size=2, max_size=12))
def test_heaps_fit_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans import registry

    _mk_docs(hand, [(i, " ".join(toks), "en", "s0") for i, toks in enumerate(docs)])
    got = registry.get("profile_heaps_law").builder(hand, "unused").collect()[0]

    nd = len(docs)
    step = (nd + 7) // 8
    cum_n = 0
    first: dict[str, int] = {}
    for i, toks in enumerate(docs):
        for t in toks:
            first.setdefault(t, i)
    checkpoints = []
    for i, toks in enumerate(docs):
        cum_n += len(toks)
        rk = i + 1
        if rk % step == 0:
            cum_v = sum(1 for fd in first.values() if fd <= i)
            if cum_v > 0 and cum_n > 0:
                checkpoints.append((cum_n, cum_v))
    n = float(len(checkpoints))
    assert got.n_checkpoints == len(checkpoints)
    lx = [float(_dec(math.log(cn), "1e-9")) for cn, _ in checkpoints]
    ly = [float(_dec(math.log(cv), "1e-9")) for _, cv in checkpoints]
    sx = float(sum((_dec(x, "1e-6") for x in lx), Decimal(0)))
    sy = float(sum((_dec(y, "1e-6") for y in ly), Decimal(0)))
    sxy = float(
        sum((_q9_then_dec6(x * y) for x, y in zip(lx, ly)), Decimal(0))
    )
    sxx = float(sum((_q9_then_dec6(x * x) for x in lx), Decimal(0)))
    den = n * sxx - sx * sx
    if den == 0.0:
        assert got.beta_heaps is None and got.ln_k_heaps is None
        return
    slope = (n * sxy - sx * sy) / den
    assert got.beta_heaps == pytest.approx(slope, abs=2e-5)
    assert got.ln_k_heaps == pytest.approx((sy - slope * sx) / n, abs=2e-5)
