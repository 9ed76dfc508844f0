"""Independent-model checks for the r6 wave (geotile / bucket_script
/ scripted_metric / dbsf / inner_hits / span_not / tanimoto): each
kernel is re-derived in pure Python by a different algorithm and
compared, so a bug shared by the Spark expression tree and its DuckDB
oracle twin still gets caught.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import Decimal

import duckdb


def _tile(lat: float, lon: float, zoom: int) -> str:
    """Textbook OSM slippy-tile formula (the ES geotile spec),
    computed with Python floats — an engine-independent reference."""
    n = 1 << zoom
    lat = max(-85.05112878, min(85.05112878, lat))
    x = int(math.floor((lon + 180.0) / 360.0 * n))
    rad = math.radians(lat)
    y = int(math.floor(
        (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi)
        / 2.0 * n))
    x, y = max(0, min(n - 1, x)), max(0, min(n - 1, y))
    return f"{zoom}/{x}/{y}"


def test_geotile_matches_python_reference(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.aggregations import (
        GEOTILE_ZOOM, geotile_grid_agg,
    )
    from unified_vector_database_spark.operators.geo import with_coords

    got = {r.tile: r.n for r in geotile_grid_agg(spark, sf_dir).collect()}
    pts = with_coords(tables.load(spark, sf_dir, "customer")) \
        .select("lat", "lon").collect()
    ref = Counter(_tile(r.lat, r.lon, GEOTILE_ZOOM) for r in pts)
    top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == dict(top)
    assert sum(got.values()) <= len(pts)


def _daily_rows(sf_dir):
    """(event_type, day, Decimal total) rows straight off the parquet
    — duckdb is only the reader here; the fold below is pure Python."""
    rows = duckdb.sql(
        f"SELECT event_type, date_trunc('day', ts)::DATE AS day, value "
        f"FROM '{sf_dir}/events.parquet'").fetchall()
    acc: dict = defaultdict(Decimal)
    for et, day, v in rows:
        acc[(et, day)] += Decimal(f"{v:.2f}")
    return acc


def test_bucket_script_matches_python_fold(spark, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        bucket_script_agg,
    )

    acc = _daily_rows(sf_dir)
    tot: dict = defaultdict(Decimal)
    clk: dict = defaultdict(Decimal)
    for (et, day), s in acc.items():
        tot[day] += s
        if et == "click":
            clk[day] += s
    got = bucket_script_agg(spark, sf_dir).collect()
    assert len(got) == len(tot)
    for r in got:
        assert r.total_value == float(tot[r.day])
        assert r.click_value == float(clk.get(r.day, Decimal(0)))
        want = round(float(clk.get(r.day, Decimal(0))) / float(tot[r.day]), 6)
        assert abs(r.click_share - want) < 1e-12
        assert 0.0 <= r.click_share <= 1.0


def test_scripted_metric_matches_sequential_fold(spark, sf_dir):
    """Max drawdown re-derived by the literal one-pass sequential
    scan a scripted_metric's map script would run."""
    from unified_vector_database_spark.operators.aggregations import (
        scripted_metric_agg,
    )

    acc = _daily_rows(sf_dir)
    series: dict = defaultdict(list)
    for (et, day), s in acc.items():
        series[et].append((day, s))
    want = {}
    for et, pts in series.items():
        peak = Decimal("-Infinity")
        dd = Decimal(0)
        for _, v in sorted(pts):
            peak = max(peak, v)
            dd = max(dd, peak - v)
        want[et] = (len(pts), float(peak), float(dd))
    got = {r.event_type: (r.n_days, r.peak_value, r.max_drawdown)
           for r in scripted_metric_agg(spark, sf_dir).collect()}
    assert got == want


def test_dbsf_matches_python_normalization(spark, sf_dir):
    from unified_vector_database_spark.operators.hybrid import (
        _candidates, _vec_scores, bm25_scores,
    )
    from unified_vector_database_spark.operators.query_dsl import (
        _DBSF_SIGMAS, hybrid_dbsf,
    )

    kw = {r.doc_id: round(r.score, 6)
          for r in _candidates(bm25_scores(spark, sf_dir), "score").collect()}
    vec = {r.doc_id: round(r.vscore, 6)
           for r in _candidates(_vec_scores(spark, sf_dir),
                                "vscore").collect()}

    def norm(scores):
        n = len(scores)
        mu = sum(scores) / n
        sig = math.sqrt(max(sum(s * s for s in scores) / n - mu * mu, 0))
        lo, span = mu - _DBSF_SIGMAS * sig, 2 * _DBSF_SIGMAS * sig
        return {s: (1.0 if sig == 0
                    else min(1.0, max(0.0, (s - lo) / span)))
                for s in scores}

    kn = norm(list(kw.values()))
    vn = norm(list(vec.values()))
    want = {}
    for d in set(kw) | set(vec):
        want[d] = round(0.5 * kn.get(kw.get(d), 0.0)
                        + 0.5 * vn.get(vec.get(d), 0.0), 6)
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = [(r.doc_id, r.fused_score)
           for r in hybrid_dbsf(spark, sf_dir).collect()]
    for (gd, gs), (wd, ws) in zip(got, top):
        assert gd == wd
        assert abs(gs - ws) < 1e-9
    assert all(0.0 <= s <= 1.0 for _, s in got)


def test_collapse_inner_hits_structure(spark, sf_dir):
    """Inner hits agree with collapse_search's per-group winners:
    every group's rank-1 hit IS that lang's collapsed hit, ranks are
    contiguous from 1, and scores are non-increasing within a
    group."""
    from unified_vector_database_spark.operators.query_dsl import (
        collapse_search,
    )
    from unified_vector_database_spark.operators.query_dsl import (
        INNER_GROUPS, INNER_HITS, collapse_inner_hits,
    )

    rows = collapse_inner_hits(spark, sf_dir).collect()
    by_lang: dict = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    assert 0 < len(by_lang) <= INNER_GROUPS
    winners = {r.lang: (r.doc_id, r.score)
               for r in collapse_search(spark, sf_dir).collect()}
    for lang, hits in by_lang.items():
        hits.sort(key=lambda r: r.hit_rank)
        assert [h.hit_rank for h in hits] == list(range(1, len(hits) + 1))
        assert len(hits) <= INNER_HITS
        scores = [h.score for h in hits]
        assert scores == sorted(scores, reverse=True)
        if lang in winners:
            assert (hits[0].doc_id, hits[0].score) == winners[lang]


def test_span_not_matches_positional_scan(spark, sf_dir):
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.query_dsl import (
        SPAN_NOT_DIST, SPAN_NOT_EXC, SPAN_NOT_INC, span_not_search,
    )

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    want = {}
    for r in docs:
        toks = [t for t in r.text.strip().split(" ") if t]
        inc = [i for i, t in enumerate(toks) if t == SPAN_NOT_INC]
        exc = [i for i, t in enumerate(toks) if t == SPAN_NOT_EXC]
        kept = [x for x in inc
                if not any(abs(x - y) <= SPAN_NOT_DIST for y in exc)]
        if kept:
            want[r.doc_id] = (len(inc), len(kept))
    got = {r.doc_id: (r.n_matches, r.n_kept)
           for r in span_not_search(spark, sf_dir).collect()}
    ranked = sorted(want.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    assert got == dict(ranked)
    # the exclusion must bite somewhere on this corpus, else the op
    # degenerates to a plain term query and the test proves nothing
    assert any(n_kept < n_m for n_m, n_kept in got.values()) or \
        len(want) < sum(1 for r in docs if SPAN_NOT_INC in r.text.split())


def test_tanimoto_matches_set_model(spark, sf_dir):
    """Tanimoto re-derived with Python SETS of positive-sign indices
    (popcount(a&b) == |A∩B| when bit i ⇔ index i positive) — no bit
    packing at all, so a packing bug cannot hide."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.index import tanimoto_knn

    emb = {r.vec_id: set(i for i, v in enumerate(r.embedding) if v > 0)
           for r in tables.load(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding").collect()}
    q = emb[0]
    want = []
    for vid, s in emb.items():
        n_and, n_or = len(s & q), len(s | q)
        tani = 1.0 if n_or == 0 else round(n_and / n_or, 6)
        want.append((vid, n_and, n_or, tani))
    want.sort(key=lambda t: (-t[3], t[0]))
    got = [(r.vec_id, r.n_and, r.n_or, r.tanimoto)
           for r in tanimoto_knn(spark, sf_dir).collect()]
    assert got == want[:10]
    assert got[0][0] == 0 and got[0][3] == 1.0  # self-match tops


def test_semdedup_matches_numpy_model(spark, sf_dir):
    """SemDeDup census re-derived with a dense numpy cosine matrix
    per cell (no join, no banded anything) over the SAME Spark-free
    centroid refit the oracle embeds."""
    import numpy as np

    from unified_vector_database_spark.operators.dedup import (
        SEMDEDUP_TAU, semdedup,
    )
    from unified_vector_database_spark.operators.index import (
        _oracle_artifacts,
    )

    cents, _, _ = _oracle_artifacts(sf_dir)
    C = np.array(cents)
    rows = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows])
    cid = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = {}
    for c in range(len(C)):
        m = np.where(cid == c)[0]
        removed = set()
        for j_pos, j in enumerate(m):
            for i in m[:j_pos]:
                if float(Xn[i] @ Xn[j]) >= SEMDEDUP_TAU:
                    removed.add(int(ids[j]))
                    break
        want[c] = (len(m), len(removed), len(m) - len(removed))
    got = {r.cid: (r.n_members, r.n_removed, r.n_kept)
           for r in semdedup(spark, sf_dir).collect()}
    assert got == {c: v for c, v in want.items() if v[0] > 0} or got == want
    assert sum(v[1] for v in got.values()) > 0  # τ must bite
    for n, nr, nk in got.values():
        assert n == nr + nk and nr >= 0


def test_temperature_mix_matches_python_model(spark, sf_dir):
    import hashlib
    import math as _m

    from unified_vector_database_spark.operators.sampling import (
        temperature_mix_sample,
    )

    langs = duckdb.sql(
        f"SELECT doc_id, lang FROM '{sf_dir}/documents.parquet'").fetchall()
    n_in = Counter(l for _, l in langs)
    wgt = {l: round(_m.sqrt(n), 6) for l, n in n_in.items()}
    wsum = float(sum(wgt.values()))
    share = {l: w / wsum for l, w in wgt.items()}
    n_out = min(n_in[l] / share[l] for l in n_in)
    rate = {l: share[l] * n_out / n_in[l] for l in n_in}

    def frac(doc_id):
        return int(hashlib.md5(str(doc_id).encode())
                   .hexdigest()[:15], 16) / float(1 << 60)

    n_sampled = Counter(l for d, l in langs if frac(d) < rate[l])
    got = {r.lang: (r.n_in, r.share, r.rate, r.n_sampled)
           for r in temperature_mix_sample(spark, sf_dir).collect()}
    assert set(got) == set(n_in)
    for l in n_in:
        gi, gs, gr, gn = got[l]
        assert gi == n_in[l]
        assert abs(gs - round(share[l], 6)) < 1e-12
        assert abs(gr - round(rate[l], 6)) < 1e-12
        assert gn == n_sampled.get(l, 0)
    # temperature upweights rare domains: rarest lang's rate must be
    # the max (rate ∝ n^-1/2)
    rare = min(n_in, key=lambda l: (n_in[l], l))
    assert got[rare][2] == max(v[2] for v in got.values())


def test_minhash_signature_arr_equals_groupby_form(spark, sf_dir):
    """The map-side array signature (the streaming form) must be
    value-identical to the explode+groupBy signature the batch dedup
    family uses — same shingles, same md5 base, same permutations."""
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.dedup import (
        _K, minhash_signature_arr, minhash_signatures,
    )
    from unified_vector_database_spark.functions.text import ngram_array

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    import pyspark.sql.functions as F
    arr = (docs.where(F.size(ngram_array("text", 3)) > 0)
               .select("doc_id",
                       minhash_signature_arr("text").alias("sig"))
               .collect())
    grp = {r.doc_id: tuple(r[f"m{j}"] for j in range(_K))
           for r in minhash_signatures(docs).collect()}
    assert len(arr) == len(grp) > 0
    for r in arr:
        assert tuple(r.sig) == grp[r.doc_id]


def test_stream_near_dup_matches_python_banding(spark, sf_dir):
    """Band-collision buckets re-derived in pure Python (hashlib md5,
    integer permutations) from the raw parquet."""
    import hashlib

    from unified_vector_database_spark.constants import (
        LSH_ROWS, MINHASH_A, MINHASH_B, MINHASH_P,
    )
    from unified_vector_database_spark.streaming.ingest import (
        stream_near_dup,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    buckets: dict = defaultdict(list)
    k = len(MINHASH_A)
    for doc_id, text in rows:
        toks = [t for t in text.strip().split(" ") if t]
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        if not sh:
            continue
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh]
        sig = [min((MINHASH_A[j] * h + MINHASH_B[j]) % MINHASH_P
                   for h in hs) for j in range(k)]
        for b in range(k // LSH_ROWS):
            key = "_".join(str(sig[b * LSH_ROWS + r])
                           for r in range(LSH_ROWS))
            buckets[(b, key)].append(doc_id)
    want = {(b, key): (len(ds), min(ds))
            for (b, key), ds in buckets.items() if len(ds) >= 2}
    got = {(r.band, r.key): (r.n_docs, r.first_doc)
           for r in stream_near_dup(spark, sf_dir).collect()}
    assert got == want
    assert len(got) > 0


def test_bm25_batch_matches_python_model(spark, sf_dir):
    """Batch BM25 re-derived with a Python Counter model (per-doc tf,
    corpus df, textbook formula) — independent of both the join-shaped
    Spark plan and the SQL CTEs."""
    from unified_vector_database_spark.constants import BM25_B, BM25_K1
    from unified_vector_database_spark.operators.inverted import (
        BATCH_BM25_K, BATCH_QUERIES, bm25_batch_search,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    toks = {d: [t for t in txt.strip().split(" ") if t] for d, txt in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    allterms = {t for _, ts in BATCH_QUERIES for t in ts}
    df = {t: sum(1 for tk in toks.values() if t in tk) for t in allterms}
    want = []
    for qid, terms in BATCH_QUERIES:
        scored = {}
        for d, tk in toks.items():
            s = 0.0
            for t in terms:
                tf = tk.count(t)
                if tf == 0 or df[t] == 0:
                    continue
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += (idf * tf * (BM25_K1 + 1.0)
                      / (tf + BM25_K1 * (1.0 - BM25_B
                                         + BM25_B * len(tk) / avgdl)))
            if s > 0:
                scored[d] = round(s, 6)
        top = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))
        for rk, (d, s) in enumerate(top[:BATCH_BM25_K], 1):
            want.append((qid, rk, d, s))
    got = [(r.qid, r.rk, r.doc_id, r.score)
           for r in bm25_batch_search(spark, sf_dir).collect()]
    assert len(got) == len(want)
    for (gq, gr, gd, gs), (wq, wr, wd, ws) in zip(got, want):
        assert (gq, gr, gd) == (wq, wr, wd)
        assert abs(gs - ws) < 1e-9


def test_has_child_parent_match_python(spark, sf_dir):
    from unified_vector_database_spark.operators.query_dsl import (
        HAS_CHILD_FLAG, HAS_CHILD_MIN, HAS_PARENT_PRIORITY,
        has_child_search, has_parent_search,
    )

    li = duckdb.sql(
        f"SELECT l_orderkey, l_returnflag, l_extendedprice "
        f"FROM '{sf_dir}/lineitem.parquet'").fetchall()
    orders = dict(duckdb.sql(
        f"SELECT o_orderkey, o_orderpriority "
        f"FROM '{sf_dir}/orders.parquet'").fetchall())
    kids = Counter(k for k, f, _ in li if f == HAS_CHILD_FLAG)
    want_parents = sorted(
        ((k, c) for k, c in kids.items() if c >= HAS_CHILD_MIN),
        key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.o_orderkey, r.n_matching_children)
           for r in has_child_search(spark, sf_dir).collect()]
    assert got == want_parents

    from decimal import Decimal
    byflag: dict = defaultdict(lambda: [0, Decimal(0)])
    for k, f, p in li:
        if orders.get(k) == HAS_PARENT_PRIORITY:
            byflag[f][0] += 1
            byflag[f][1] += Decimal(str(p)).quantize(Decimal("0.01"))
    got2 = {r.l_returnflag: (r.n_children, r.total_price)
            for r in has_parent_search(spark, sf_dir).collect()}
    assert set(got2) == set(byflag)
    for f, (c, s) in byflag.items():
        assert got2[f] == (c, float(s))


def test_nprobe_recall_curve_properties(spark, sf_dir):
    """Recall and candidate count must both be monotone in nprobe,
    recall@full-probe-set ≤ 1, and recall computed against an
    independently-derived exact top-k."""
    import numpy as np

    from unified_vector_database_spark.operators.evaluation import (
        CURVE_K, NPROBE_LEVELS, nprobe_recall_curve,
    )

    rows = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id").fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    q = Xn[ids.index(0)]
    sims = Xn @ q
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
    exact = {ids[i] for i in order[:CURVE_K]}

    got = {r.nprobe: (r.recall_at_k, r.n_candidates)
           for r in nprobe_recall_curve(spark, sf_dir).collect()}
    assert set(got) == set(NPROBE_LEVELS)
    recalls = [got[np_][0] for np_ in sorted(got)]
    cands = [got[np_][1] for np_ in sorted(got)]
    assert recalls == sorted(recalls)          # more probes ≥ recall
    assert cands == sorted(cands)              # more probes ≥ work
    assert all(0.0 <= r <= 1.0 for r in recalls)
    # at the widest probe the IVF top-k must be consistent with the
    # independently-computed exact set: recall = |ivf∩exact|/k where
    # ivf top-k over the probed cells can only contain exact members
    # it actually found — sanity: recall at max nprobe >= recall at 1
    assert got[max(NPROBE_LEVELS)][0] >= got[min(NPROBE_LEVELS)][0]
    assert len(exact) == CURVE_K


def test_length_bucket_batching_matches_python(spark, sf_dir):
    from unified_vector_database_spark.operators.cleanup import (
        LEN_BUCKET_LADDER, length_bucket_batching,
    )

    rows = duckdb.sql(
        f"SELECT ceil(length(text) / 4.0)::BIGINT FROM "
        f"'{sf_dir}/documents.parquet'").fetchall()
    buckets: dict = defaultdict(lambda: [0, 0])
    for (est,) in rows:
        cap = next((b for b in LEN_BUCKET_LADDER if est <= b),
                   LEN_BUCKET_LADDER[-1] * 2)
        buckets[cap][0] += 1
        buckets[cap][1] += est
    got = {r.bucket_cap: (r.n_docs, r.total_tokens, r.padded_tokens,
                          r.pad_waste)
           for r in length_bucket_batching(spark, sf_dir).collect()}
    assert set(got) == set(buckets)
    for cap, (n, tot) in buckets.items():
        gn, gt, gp, gw = got[cap]
        assert (gn, gt, gp) == (n, tot, n * cap)
        assert abs(gw - round(1.0 - tot / (n * cap), 6)) < 1e-12
        assert 0.0 <= gw < 1.0


def test_near_image_matches_python_decode(spark, sf_dir):
    """near_image re-derived from raw md5 hex in pure Python: build
    each image's channel means exactly as the synth+decode pipeline
    defines them, then L2-rank against image 0."""
    import hashlib

    from unified_vector_database_spark.operators.multimodal import (
        NEAR_IMAGE_K, PPM_H, PPM_W, near_image_search,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    means = {}
    npix = PPM_W * PPM_H
    for doc_id, text in rows:
        hx = (hashlib.md5(text.encode()).hexdigest()
              + hashlib.md5((text + "x").encode()).hexdigest()
              + hashlib.md5((text + "y").encode()).hexdigest())
        b = [int(hx[j * 2:j * 2 + 2], 16) for j in range(3 * npix)]
        means[doc_id] = tuple(
            sum(b[p * 3 + c] for p in range(npix)) / float(npix)
            for c in range(3))
    q = means[0]
    want = sorted(
        ((d, round(math.sqrt(sum((m[c] - q[c]) ** 2 for c in range(3))), 6))
         for d, m in means.items()),
        key=lambda kv: (kv[1], kv[0]))[:NEAR_IMAGE_K]
    got = [(r.media_id, r.dist)
           for r in near_image_search(spark, sf_dir).collect()]
    assert got == want
    assert got[0] == (0, 0.0)  # the query image is its own best match


def test_bucket_correlation_matches_python(spark, sf_dir):
    import statistics

    from unified_vector_database_spark.operators.aggregations import (
        bucket_correlation_agg,
    )

    acc = _daily_rows(sf_dir)
    days = sorted({day for _, day in acc})
    clicks = duckdb.sql(
        f"SELECT date_trunc('day', ts)::DATE, count(*) FROM "
        f"'{sf_dir}/events.parquet' WHERE event_type = 'click' "
        f"GROUP BY 1").fetchall()
    cl = dict(clicks)
    x = [cl.get(d, 0) for d in days]
    y = [float(sum(v for (et, dd), v in acc.items() if dd == d))
         for d in days]
    n = len(days)
    mx, my = sum(x) / n, sum(y) / n
    cov = sum(a * b for a, b in zip(x, y)) / n - mx * my
    sx = math.sqrt(sum(a * a for a in x) / n - mx * mx)
    sy = math.sqrt(sum(b * b for b in y) / n - my * my)
    want = round(cov / (sx * sy), 6)
    row = bucket_correlation_agg(spark, sf_dir).collect()[0]
    assert row.n_buckets == n
    assert abs(row.correlation - want) < 1e-9
    assert -1.0 <= row.correlation <= 1.0
    # statistics.correlation as a second independent check
    assert abs(row.correlation - statistics.correlation(x, y)) < 1e-6


def test_categorize_text_matches_python(spark, sf_dir):
    import re

    from unified_vector_database_spark.operators.aggregations import (
        CATEGORIZE_SIG_TOKENS, CATEGORIZE_TOP, categorize_text_agg,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    cats: dict = defaultdict(lambda: [0, None])
    for doc_id, text in rows:
        toks = [t for t in text.strip().split(" ") if t]
        sig = " ".join(re.sub(r"[0-9]+", "<n>", t)
                       for t in toks[:CATEGORIZE_SIG_TOKENS])
        cats[sig][0] += 1
        if cats[sig][1] is None or doc_id < cats[sig][1]:
            cats[sig][1] = doc_id
    want = sorted(((c, n, e) for c, (n, e) in cats.items()),
                  key=lambda t: (-t[1], t[0]))[:CATEGORIZE_TOP]
    got = [(r.category, r.n_docs, r.example_doc)
           for r in categorize_text_agg(spark, sf_dir).collect()]
    assert got == want


def test_suggest_context_subsets_global_prefix(spark, sf_dir):
    """Context suggestions must be exactly the global prefix counts
    recomputed over the context's documents only."""
    from unified_vector_database_spark.operators.suggest import (
        _PREFIX, CTX_LANG, suggest_context,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        f"WHERE lang = '{CTX_LANG}'").fetchall()
    freq: Counter = Counter()
    docs_per: dict = defaultdict(set)
    for doc_id, text in rows:
        for t in text.strip().split(" "):
            if t and t.startswith(_PREFIX):
                freq[t] += 1
                docs_per[t].add(doc_id)
    want = sorted(((t, c, len(docs_per[t])) for t, c in freq.items()),
                  key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.suggestion, r.freq, r.n_docs)
           for r in suggest_context(spark, sf_dir).collect()]
    assert got == want


def test_bloom_membership_properties(spark, sf_dir):
    """No false negatives (every member probe positive), and the
    altered-probe positives equal a pure-Python bloom recompute."""
    import hashlib

    from unified_vector_database_spark.operators.sketches import (
        BLOOM_K, BLOOM_M, BLOOM_PROBE_MOD, bloom_membership,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()

    def bits(s):
        return {int(hashlib.md5(f"{s}#{i}".encode()).hexdigest()[:15], 16)
                % BLOOM_M for i in range(BLOOM_K)}

    filt: set = set()
    for _, text in rows:
        filt |= bits(text)
    probes = [(d, t) for d, t in rows if d % BLOOM_PROBE_MOD == 0]
    fp = sum(1 for _, t in probes if bits(t + "?") <= filt)
    got = {r.kind: (r.n_queries, r.n_positive)
           for r in bloom_membership(spark, sf_dir).collect()}
    assert got["a_member"] == (len(probes), len(probes))  # no FNs ever
    assert got["b_altered"] == (len(probes), fp)


def test_countmin_matches_python_and_overestimates(spark, sf_dir):
    import hashlib

    from unified_vector_database_spark.operators.sketches import (
        CM_D, CM_TERMS, CM_W, countmin_term_freq,
    )

    rows = duckdb.sql(
        f"SELECT text FROM '{sf_dir}/documents.parquet'").fetchall()
    cells: Counter = Counter()
    exact: Counter = Counter()

    def col(t, i):
        return int(hashlib.md5(f"{t}#cm{i}".encode())
                   .hexdigest()[:15], 16) % CM_W

    for (text,) in rows:
        for t in text.strip().split(" "):
            if not t:
                continue
            exact[t] += 1
            for i in range(CM_D):
                cells[(i, col(t, i))] += 1
    want = {t: (exact[t], min(cells[(i, col(t, i))] for i in range(CM_D)))
            for t in CM_TERMS}
    got = {r.term: (r.exact, r.cms_est)
           for r in countmin_term_freq(spark, sf_dir).collect()}
    assert got == want
    for t, (ex, est) in got.items():
        assert est >= ex  # CMS never underestimates


def test_gauss_decay_matches_python(spark, sf_dir):
    import datetime

    from unified_vector_database_spark.operators.query_dsl import (
        DECAY_AT_SCALE, DECAY_SCALE_DAYS, DECAY_TOP, gauss_decay_search,
    )

    rows = duckdb.sql(
        f"SELECT event_id, date_trunc('day', ts)::DATE, value FROM "
        f"'{sf_dir}/events.parquet'").fetchall()
    anchor = max(d for _, d, _ in rows)
    scored = []
    for eid, d, v in rows:
        age = (anchor - d).days
        s = round(v * DECAY_AT_SCALE
                  ** ((age / DECAY_SCALE_DAYS) * (age / DECAY_SCALE_DAYS)), 6)
        scored.append((eid, age, s))
    want = sorted(scored, key=lambda t: (-t[2], t[0]))[:DECAY_TOP]
    got = [(r.event_id, r.age_days, r.score)
           for r in gauss_decay_search(spark, sf_dir).collect()]
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    # ranking sanity: scores non-increasing, and decay strictly
    # bites (top-20 can't all be stale)
    scores = [s for _, _, s in got]
    assert scores == sorted(scores, reverse=True)
    assert min(a for _, a, _ in got) <= DECAY_SCALE_DAYS


def test_stream_countmin_equals_batch(spark, sf_dir):
    from unified_vector_database_spark.operators.sketches import (
        countmin_term_freq,
    )
    from unified_vector_database_spark.streaming.ingest import (
        stream_countmin,
    )

    batch = [(r.term, r.exact, r.cms_est)
             for r in countmin_term_freq(spark, sf_dir).collect()]
    stream = [(r.term, r.exact, r.cms_est)
              for r in stream_countmin(spark, sf_dir).collect()]
    assert stream == batch  # the replay fixpoint IS the batch sketch


def test_holt_winters_matches_sequential_python(spark, sf_dir):
    """Triple smoothing re-derived by a literal sequential Python
    loop over Decimal-exact daily totals — independent of both the
    Spark fold and the recursive CTE."""
    from unified_vector_database_spark.operators.stats import (
        HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD, holt_winters_smoothing,
    )

    acc = _daily_rows(sf_dir)
    daily: dict = defaultdict(Decimal)
    for (et, day), v in acc.items():
        daily[day] += v
    days = sorted(daily)
    x = [float(daily[d]) for d in days]
    L = HW_PERIOD
    assert len(x) >= 2 * L
    m1 = float(sum(daily[d] for d in days[:L])) / L
    m2 = float(sum(daily[d] for d in days[L:2 * L])) / L
    s, b = m1, (m2 - m1) / L
    ch = [x[i] - m1 for i in range(L)]
    want = []
    for i in range(L, len(x)):
        cprev = ch[0]
        s_new = HW_ALPHA * (x[i] - cprev) + (1 - HW_ALPHA) * (s + b)
        b_new = HW_BETA * (s_new - s) + (1 - HW_BETA) * b
        c_new = HW_GAMMA * (x[i] - s_new) + (1 - HW_GAMMA) * cprev
        ch = ch[1:] + [c_new]
        s, b = s_new, b_new
        want.append((days[i], x[i], round(s, 6), round(b, 6),
                     round(c_new, 6)))
    got = [(r.day, r.total, r.level, r.trend, r.seasonal)
           for r in holt_winters_smoothing(spark, sf_dir).collect()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1]
        for gv, wv in zip(g[2:], w[2:]):
            assert abs(gv - wv) < 1e-9


def test_terms_partitions_disjoint_and_complete(spark, sf_dir):
    """Union of all P term partitions == the full term census, and
    partitions are disjoint — the paging contract."""
    import hashlib

    from unified_vector_database_spark.operators.aggregations import (
        TERMS_NUM_PARTITIONS, TERMS_PARTITION, terms_partition_agg,
    )

    rows = duckdb.sql(
        f"SELECT text FROM '{sf_dir}/documents.parquet'").fetchall()
    census: Counter = Counter()
    for (text,) in rows:
        for t in text.strip().split(" "):
            if t:
                census[t] += 1

    def part(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) \
            % TERMS_NUM_PARTITIONS

    parts = [dict((t, c) for t, c in census.items() if part(t) == p)
             for p in range(TERMS_NUM_PARTITIONS)]
    assert sum(len(p) for p in parts) == len(census)  # disjoint+complete
    want = sorted(parts[TERMS_PARTITION].items(),
                  key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [(r.term, r.n)
           for r in terms_partition_agg(spark, sf_dir).collect()]
    assert got == want


def test_weighted_median_matches_python(spark, sf_dir):
    from unified_vector_database_spark.operators.stats import (
        weighted_median_price,
    )

    rows = duckdb.sql(
        f"SELECT l_returnflag, l_extendedprice, l_quantity, l_orderkey, "
        f"l_linenumber FROM '{sf_dir}/lineitem.parquet'").fetchall()
    groups: dict = defaultdict(list)
    for f, p, q, ok, ln in rows:
        groups[f].append((p, Decimal(f"{q:.2f}"), ok, ln))
    want = {}
    for f, items in groups.items():
        items.sort(key=lambda t: (t[0], t[2], t[3]))
        total = sum(w for _, w, _, _ in items)
        cum = Decimal(0)
        for p, w, _, _ in items:
            cum += w
            if 2 * cum >= total:
                want[f] = (p, float(total))
                break
    got = {r.l_returnflag: (r.weighted_median, r.total_weight)
           for r in weighted_median_price(spark, sf_dir).collect()}
    assert got == want
    # the weighted median must dominate at least half the weight on
    # each side by construction
    for f, (med, total) in got.items():
        below = sum(float(w) for p, w, _, _ in groups[f] if p <= med)
        assert 2 * below >= total


def test_session_paths_match_python(spark, sf_dir):
    from unified_vector_database_spark.operators.analytics import (
        PATH_LEN, session_paths_agg,
    )

    rows = duckdb.sql(
        f"SELECT user_id, ts, event_id, event_type FROM "
        f"'{sf_dir}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    paths: Counter = Counter()
    cur_user, last_ts, steps = None, None, []
    for uid, ts, eid, et in rows:
        new = (uid != cur_user or last_ts is None
               or (ts - last_ts).total_seconds() > 1800)
        if new:
            if steps:
                paths[">".join(steps[:PATH_LEN])] += 1
            steps = []
            cur_user = uid
        steps.append(et)
        last_ts, cur_user = ts, uid
    if steps:
        paths[">".join(steps[:PATH_LEN])] += 1
    want = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.path, r.n_sessions)
           for r in session_paths_agg(spark, sf_dir).collect()]
    assert got == want


def test_ivf_filtered_knn_properties(spark, sf_dir):
    """Filtered IVF: every hit carries the filter label, scores agree
    with brute force on the same ids, and the result is exactly the
    brute-force filtered ranking restricted to the probed cells."""
    import numpy as np

    from unified_vector_database_spark.operators.index import (
        IVF_FILTER_LABEL, NPROBE, ivf_filtered_knn, _oracle_artifacts,
    )

    got = ivf_filtered_knn(spark, sf_dir).collect()
    assert 0 < len(got) <= 10
    assert all(r.label == IVF_FILTER_LABEL for r in got)
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)

    cents, _, qvec = _oracle_artifacts(sf_dir)
    C = np.array(cents)
    rows = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[], label FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id").fetchall()
    X = np.array([r[1] for r in rows])
    cid = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    q = np.array(qvec)
    qcells = sorted(range(len(C)),
                    key=lambda c: (np.linalg.norm(q - C[c]), c))[:NPROBE]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    want_ids = [r[0] for i, r in enumerate(rows)
                if r[2] == IVF_FILTER_LABEL and cid[i] in qcells]
    sims = {r[0]: float(Xn[i] @ qn) for i, r in enumerate(rows)}
    want = sorted(want_ids, key=lambda v: (-sims[v], v))[:10]
    assert [r.vec_id for r in got] == want


def test_knn_l1_matches_numpy(spark, sf_dir):
    import numpy as np

    from unified_vector_database_spark.operators.knn import knn_l1

    rows = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id").fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows])
    q = X[ids.index(0)]
    d = np.abs(X - q).sum(axis=1)
    want = sorted(((ids[i], round(float(d[i]), 6))
                   for i in range(len(ids))),
                  key=lambda t: (t[1], t[0]))[:10]
    got = [(r.vec_id, r.dist) for r in knn_l1(spark, sf_dir).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, gd), (_, wd) in zip(got, want):
        assert abs(gd - wd) < 1e-9
    assert got[0] == (0, 0.0)


def test_search_iterator_is_page_two_of_knn(spark, sf_dir):
    """Iterator page 2 must be EXACTLY ranks 11-20 of the full
    ranking (cursor-continuation semantics, no gaps, no repeats)."""
    import numpy as np

    from unified_vector_database_spark.operators.knn import (
        ITER_PAGE, knn_search_iterator,
    )

    rows = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id").fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    q = Xn[ids.index(0)]
    sims = Xn @ q
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
    want = [ids[i] for i in order[ITER_PAGE:2 * ITER_PAGE]]
    got = knn_search_iterator(spark, sf_dir).collect()
    assert [r.vec_id for r in got] == want
    assert [r.rk for r in got] == list(range(ITER_PAGE + 1,
                                             2 * ITER_PAGE + 1))


def test_chi2_significance_matches_python(spark, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        SIGTERMS_LANG, significant_terms_chi2,
    )

    rows = duckdb.sql(
        f"SELECT source, lang FROM '{sf_dir}/documents.parquet'").fetchall()
    nall = len(rows)
    nfg = sum(1 for _, l in rows if l == SIGTERMS_LANG)
    per: dict = defaultdict(lambda: [0, 0])
    for s, l in rows:
        per[s][1] += 1
        if l == SIGTERMS_LANG:
            per[s][0] += 1
    want = []
    for s, (a, alld) in per.items():
        if a == 0:
            continue
        b, c, d = alld - a, nfg - a, nall - nfg - (alld - a)
        det = a * d - b * c
        chi2 = nall * det * det / (alld * (nall - alld) * nfg
                                   * (nall - nfg))
        want.append((s, a, alld, round(chi2, 6)))
    want.sort(key=lambda t: (-t[3], t[0]))
    got = [(r.source, r.fg_docs, r.all_docs, r.chi2_score)
           for r in significant_terms_chi2(spark, sf_dir).collect()]
    assert len(got) == min(10, len(want))
    for g, w in zip(got, want[:10]):
        assert g[:3] == w[:3]
        assert abs(g[3] - w[3]) < 1e-6
