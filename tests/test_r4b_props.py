"""Property tests (hypothesis) for the r4-continuation fold kernels:
the Spark higher-order-function expressions must equal an independent
pure-Python model on arbitrary inputs, not just the corpus — the same
strategy test_hashing_props applies to the hash kernels.

Why these three: each is a hand-rolled fold whose subtle failure mode
the hash oracle CANNOT catch when both engines share the bug (the
percentile sketch's covering-bin defect shipped with a green oracle
and was caught only by the independent-model comparison).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

WORD = st.text(alphabet="abcde", min_size=1, max_size=3)
DOC = st.lists(WORD, min_size=1, max_size=40)


def _dominance_fold(spark, toks_list):
    """Run the PRODUCTION dominance fold (quality.dominance_count —
    the very expression gopher ships, not a copy) on in-memory docs."""
    from unified_vector_database_spark.operators.quality import (
        dominance_count,
    )
    df = spark.createDataFrame(
        [Row(i=i, text=" ".join(t)) for i, t in enumerate(toks_list)])
    toks = F.filter(F.split(F.trim("text"), " "), lambda t: t != "")
    dom = dominance_count(toks)
    return {r.i: r.d for r in df.select("i", dom.alias("d")).collect()}


@settings(max_examples=15, deadline=None)
@given(st.lists(DOC, min_size=1, max_size=5))
def test_dominance_fold_equals_counter_max(spark, docs):
    got = _dominance_fold(spark, docs)
    for i, toks in enumerate(docs):
        assert got[i] == max(Counter(toks).values())


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=50),
                min_size=1, max_size=30))
def test_cumulate_fold_equals_cumsum(spark, news):
    from unified_vector_database_spark.operators.aggregations import (
        cumulate_first_seen,
    )
    import datetime
    base = datetime.date(2024, 1, 1)
    # users u_{d,j}: news[d] users first seen on day d
    rows = [Row(user_id=d * 1000 + j,
                first_day=base + datetime.timedelta(days=d))
            for d, n in enumerate(news) for j in range(n)]
    if not rows:
        return
    out = cumulate_first_seen(spark.createDataFrame(rows)).collect()
    expect_days = [d for d, n in enumerate(news) if n > 0]
    assert [r.day for r in out] == [
        base + datetime.timedelta(days=d) for d in expect_days]
    cum = np.cumsum([news[d] for d in expect_days])
    assert [r.cum_users for r in out] == list(cum)
    assert [r.new_users for r in out] == [news[d] for d in expect_days]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=-100, max_value=100,
                          allow_nan=False, allow_infinity=False,
                          width=32),
                min_size=20, max_size=200))
def test_sketch_percentile_error_bound(spark, tmp_path_factory, values):
    """The histogram sketch's estimate must sit within one bin width
    of the NEAREST-RANK percentile for ANY value distribution — the
    estimate provably shares the covering bin with that rank's value.
    (vs numpy's linear interpolation the bound does not universally
    hold: an interpolated percentile can fall in an empty bin gap —
    the first run of this test proved it with a 25x-width divergence.)
    Includes the all-equal degenerate corpus, where width=0 and the
    estimate must equal the value exactly."""
    from unified_vector_database_spark.operators import stats as ST
    import os
    import uuid
    sf = str(tmp_path_factory.mktemp("sk") / uuid.uuid4().hex[:8])
    os.makedirs(sf, exist_ok=True)
    import datetime
    rows = [Row(event_id=i, ts=datetime.datetime(2024, 1, 1, i % 24),
                user_id=i % 7, event_type="a", value=float(v),
                props="{}")
            for i, v in enumerate(values)]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{sf}/events.parquet")
    out = ST.percentile_histogram_sketch(spark, sf).collect()
    assert len(out) == 1
    v = np.array(values, dtype=np.float64)
    width = (v.max() - v.min()) / ST.PSKETCH_BINS
    for q, col in ((0.5, "p50_est"), (0.9, "p90_est")):
        exact = np.percentile(v, q * 100, method="inverted_cdf")
        est = out[0][col]
        if width == 0:
            assert abs(est - v[0]) < 1e-6
        else:
            assert abs(est - exact) <= width + 1e-6


@settings(max_examples=10, deadline=None)
@given(st.lists(DOC, min_size=1, max_size=5))
def test_span_near_equals_python_model(spark, docs):
    from unified_vector_database_spark.operators import query_dsl as DSL
    import tempfile
    with tempfile.TemporaryDirectory() as sf:
        rows = [Row(doc_id=i, text=" ".join(t), lang="en", source="s",
                    n_chars=len(" ".join(t))) for i, t in enumerate(docs)]
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            f"{sf}/documents.parquet")
        got = {r.doc_id: (r.n_pairs, r.min_gap)
               for r in DSL.span_near_search(spark, sf).collect()}
        for i, toks in enumerate(docs):
            p1 = [j for j, t in enumerate(toks) if t == DSL.SPAN_T1]
            p2 = [j for j, t in enumerate(toks) if t == DSL.SPAN_T2]
            gaps = [abs(a - b) for a in p1 for b in p2
                    if abs(a - b) <= DSL.SPAN_SLOP]
            if gaps:
                assert got[i] == (len(gaps), min(gaps))
            else:
                assert i not in got


@settings(max_examples=10, deadline=None)
@given(st.lists(DOC, min_size=1, max_size=5))
def test_edge_ngram_equals_python_model(spark, docs):
    from unified_vector_database_spark.operators import query_dsl as DSL
    import tempfile
    with tempfile.TemporaryDirectory() as sf:
        rows = [Row(doc_id=i, text=" ".join(t), lang="en", source="s",
                    n_chars=1) for i, t in enumerate(docs)]
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            f"{sf}/documents.parquet")
        got = {r.prefix: r.n_docs
               for r in DSL.edge_ngram_index(spark, sf).collect()}
        model = {}
        for i, toks in enumerate(docs):
            for term in set(toks):
                for n in range(DSL.EDGE_NGRAM_MIN,
                               min(DSL.EDGE_NGRAM_MAX, len(term)) + 1):
                    model.setdefault(term[:n], set()).add(i)
        expect = sorted(((len(v), p) for p, v in model.items()),
                        key=lambda x: (-x[0], x[1]))[:DSL.EDGE_NGRAM_TOP]
        assert got == {p: n for n, p in expect}


@settings(max_examples=8, deadline=None)
@given(st.lists(DOC, min_size=2, max_size=6))
def test_frequent_item_sets_equals_python_model(spark, docs):
    from itertools import combinations
    from unified_vector_database_spark.operators import aggregations as AGG
    import tempfile
    with tempfile.TemporaryDirectory() as sf:
        rows = [Row(doc_id=i, text=" ".join(t), lang="en", source="s",
                    n_chars=1) for i, t in enumerate(docs)]
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            f"{sf}/documents.parquet")
        got = {(r.item_a, r.item_b): r.support_count
               for r in AGG.frequent_item_sets(spark, sf).collect()}
        counts = Counter()
        for toks in docs:
            for a, b in combinations(sorted(set(toks)), 2):
                counts[(a, b)] += 1
        thresh = AGG.FIS_MIN_SUPPORT * len(docs)
        expect = {k: c for k, c in counts.items() if c >= thresh}
        top = dict(sorted(expect.items(),
                          key=lambda kv: (-kv[1], kv[0]))[:AGG.FIS_TOP])
        assert got == top
