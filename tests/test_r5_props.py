"""Independent-model checks for the r5 surface: the oracle hash
cannot catch a bug BOTH engines share (the r4 percentile-sketch
lesson), so each nontrivial r5 kernel is re-derived here by a
different algorithm in pure Python and compared.

- geohash: the operator encodes via closed-form quantize+interleave;
  the reference here is the classic INTERVAL-BISECTION geohash
  algorithm — different control flow, same spec.
- phrase suggester: candidates and scores recomputed from the raw
  parquet with Counter-based Python (no Spark, no DuckDB).
- intervals query: ordered-gap matching re-derived by a positional
  scan over the raw text.
- catalog census: two full lifecycle executions must agree (the
  on-disk state machine is deterministic, not order-lucky).
"""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import given, settings, strategies as st

_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bisect(lat: float, lon: float, precision: int) -> str:
    """Textbook geohash: alternate lon/lat interval bisection, 5 bits
    per base-32 char. Independent of the operator's closed-form
    quantize-and-interleave."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits, out, even = 0, [], True
    val = 0
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                val = val * 2 + 1
                lon_lo = mid
            else:
                val = val * 2
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                val = val * 2 + 1
                lat_lo = mid
            else:
                val = val * 2
                lat_hi = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(_GH_ALPHA[val])
            bits, val = 0, 0
    return "".join(out)


def test_geohash_cells_match_bisection_reference(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.aggregations import (
        GEOHASH_PRECISION, geohash_grid_agg,
    )
    from unified_vector_database_spark.operators.geo import with_coords

    got = {r.geohash: r.n for r in geohash_grid_agg(spark, sf_dir).collect()}
    pts = with_coords(tables.load(spark, sf_dir, "customer")) \
        .select("lat", "lon").collect()
    ref = Counter(_geohash_bisect(r.lat, r.lon, GEOHASH_PRECISION)
                  for r in pts)
    top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == dict(top)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=-9000, max_value=9000),
       st.integers(min_value=-18000, max_value=17999))
def test_geohash_closed_form_equals_bisection(lat_c, lon_c):
    """The closed-form quantize+interleave (the operator's SQL shape,
    mirrored here arithmetically) equals textbook bisection on the
    0.01°-grid coordinate space the corpus uses — precision 4 = 20
    bits, 10 per axis. (For coordinates within ~1 ulp of a cell
    boundary the closed form's float roundings can legally differ
    from exact bisection — a sub-picometer quantization edge both
    engines share identically; grid points are ≥1e-5° from every
    non-exact boundary, so the property is exact there.)"""
    lat, lon = lat_c / 100.0, lon_c / 100.0
    lat_i = min(int(math.floor((lat + 90.0) / 180.0 * 1024.0)), 1023)
    lon_i = min(int(math.floor((lon + 180.0) / 360.0 * 1024.0)), 1023)
    inter = 0
    for i in range(10):
        inter += ((lon_i >> (9 - i)) & 1) << (19 - 2 * i)
        inter += ((lat_i >> (9 - i)) & 1) << (18 - 2 * i)
    closed = "".join(_GH_ALPHA[(inter >> (15 - 5 * c)) & 31]
                     for c in range(4))
    assert closed == _geohash_bisect(lat, lon, 4)


def _py_tokens(text: str) -> list[str]:
    return [t for t in text.strip().split(" ") if t]


def test_suggest_phrase_matches_python_model(spark, sf_dir):
    """Full pure-Python recomputation of the phrase suggester at the
    test SF: vocab, per-position candidates (dist, freq, token
    ranking), bigram/unigram counts, add-one logprob minus edit
    penalty — no Spark, no DuckDB in the reference path."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.suggest import (
        _SP_CAND, _SP_EDIT_PENALTY, _SP_MAXD, _SP_TERMS, _SP_TOP,
        suggest_phrase,
    )

    texts = [r.text for r in tables.load(spark, sf_dir, "documents")
             .select("text").collect()]
    docs = [_py_tokens(t) for t in texts]
    vocab = Counter(t for d in docs for t in d)
    nvocab = len(vocab)
    big = Counter((d[i], d[i + 1]) for d in docs for i in range(len(d) - 1))
    uni = Counter(d[i] for d in docs for i in range(len(d) - 1))

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    cands = []
    for term in _SP_TERMS:
        cs = [(lev(tok, term), -f, tok)
              for tok, f in vocab.items() if lev(tok, term) <= _SP_MAXD]
        cs.sort()
        cands.append([(tok, d) for d, _, tok in cs[:_SP_CAND]])

    def lp(c12, c1):
        return math.log((c12 + 1.0) / (c1 + nvocab))

    rows = []
    for w1, d1 in cands[0]:
        for w2, d2 in cands[1]:
            for w3, d3 in cands[2]:
                td = d1 + d2 + d3
                score = (lp(big.get((w1, w2), 0), uni.get(w1, 0))
                         + lp(big.get((w2, w3), 0), uni.get(w2, 0))
                         - _SP_EDIT_PENALTY * td)
                rows.append((f"{w1} {w2} {w3}", td, round(score, 6)))
    rows.sort(key=lambda r: (-r[2], r[0]))
    expect = rows[:_SP_TOP]

    got = [(r.suggestion, r.total_dist, r.score)
           for r in suggest_phrase(spark, sf_dir).collect()]
    assert got == expect


def test_intervals_matches_positional_scan(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.query_dsl import (
        IV_MAX_GAPS, IV_T1, IV_T2, intervals_search,
    )

    rows = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    ref = []
    for r in rows:
        toks = _py_tokens(r.text)
        p1 = [i for i, t in enumerate(toks) if t == IV_T1]
        p2 = [i for i, t in enumerate(toks) if t == IV_T2]
        gaps = [y - x - 1 for x in p1 for y in p2
                if 0 <= y - x - 1 <= IV_MAX_GAPS]
        if gaps:
            ref.append((r.doc_id, len(gaps), min(gaps)))
    ref.sort(key=lambda t: (-t[1], t[0]))
    expect = ref[:20]
    got = [(r.doc_id, r.n_matches, r.min_gap)
           for r in intervals_search(spark, sf_dir).collect()]
    assert got == expect


def test_catalog_census_deterministic_across_runs(spark, sf_dir):
    from unified_vector_database_spark.operators.lifecycle import (
        catalog_semantics,
    )
    a = [(r.label, r.n) for r in catalog_semantics(spark, sf_dir).collect()]
    b = [(r.label, r.n) for r in catalog_semantics(spark, sf_dir).collect()]
    assert a == b and len(a) > 0


def test_moving_percentiles_matches_python_model(spark, sf_dir):
    """Third independent formulation: numpy-free pure-Python trailing
    quantile (sort the slice, interpolate at (n-1)*q) vs the Spark
    array fold — the DuckDB oracle is the second (windowed
    quantile_cont); all three must agree."""
    from unified_vector_database_spark.operators.stats import (
        MP_Q, MP_WINDOW, _daily, moving_percentiles,
    )

    daily = sorted((r.day, r.total)
                   for r in _daily(spark, sf_dir).collect())
    totals = [t for _, t in daily]
    expect = []
    for i in range(len(totals)):
        sl = sorted(totals[max(0, i - MP_WINDOW + 1):i + 1])
        idx = (len(sl) - 1) * MP_Q
        lo, hi = int(idx // 1), -(-idx // 1)
        frac = idx - lo
        q = sl[int(lo)] * (1 - frac) + sl[int(hi)] * frac
        expect.append((daily[i][0], totals[i], round(q, 6)))
    got = [(r.day, r.total, r.p50_trailing)
           for r in moving_percentiles(spark, sf_dir).collect()]
    assert got == expect
