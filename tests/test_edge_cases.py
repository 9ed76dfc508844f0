"""Robustness edge cases: empty inputs, k > corpus, null vectors,
degenerate documents — the operators must degrade gracefully, not
throw."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from unified_vector_database_spark.functions import distance as D
from unified_vector_database_spark.functions.text import tokens
from unified_vector_database_spark.operators.knn import batch_knn, knn


def _corpus(spark, n=5, dim=4):
    return spark.createDataFrame(
        [Row(vec_id=i, vec=[float(i + j) for j in range(dim)])
         for i in range(n)])


def _qdf(spark, dim=4):
    return spark.createDataFrame([Row(qvec=[1.0] * dim)])


def test_knn_k_exceeds_corpus(spark):
    out = knn(_corpus(spark, n=3), _qdf(spark), k=10).collect()
    assert len(out) == 3  # all rows, no error


def test_knn_empty_corpus(spark):
    empty = _corpus(spark).where(F.col("vec_id") < 0)
    assert knn(empty, _qdf(spark), k=5).collect() == []


def test_batch_knn_empty_queries(spark):
    corpus = _corpus(spark)
    queries = spark.createDataFrame(
        [], "qid long, qvec array<double>")
    assert batch_knn(corpus, queries, k=3).collect() == []


def test_null_vector_scores_null_and_sorts_last(spark):
    rows = [Row(vec_id=0, vec=[1.0, 0.0]), Row(vec_id=1, vec=None)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    q = spark.createDataFrame([Row(qvec=[1.0, 0.0])])
    out = knn(df, q, k=2).collect()
    # null-scored row sorts after real scores (desc puts nulls last)
    assert out[0].vec_id == 0 and out[0].score == 1.0
    assert out[1].score is None


def test_zero_vector_cosine_is_null_not_error(spark):
    # ANSI mode would throw DIVIDE_BY_ZERO on a raw division; the
    # try_divide form yields NULL, matching DuckDB's /0 semantics
    df = spark.createDataFrame([Row(a=[0.0, 0.0], b=[1.0, 0.0])])
    r = df.select(D.cosine("a", "b").alias("c")).first()
    assert r.c is None


def test_tokens_degenerate_documents(spark):
    df = spark.createDataFrame(
        [Row(i=0, t=""), Row(i=1, t="   "), Row(i=2, t="one")])
    out = {r.i: list(r.toks) for r in
           df.select("i", tokens("t").alias("toks")).collect()}
    assert out == {0: [], 1: [], 2: ["one"]}


def test_mmr_rerank_greedy_properties(spark, sf_dir):
    # selection order: rank 1 is the relevance argmax (the query doc
    # itself), every pick is unique, scores are the greedy argmax
    # value at each step (non-strictly decreasing is NOT guaranteed by
    # MMR, but uniqueness and the seed pick are)
    from unified_vector_database_spark.operators.rerank import mmr_rerank_q
    rows = mmr_rerank_q(spark, sf_dir).collect()
    assert len(rows) == 10
    assert rows[0].vec_id == 0 and rows[0].rank == 1
    assert len({r.vec_id for r in rows}) == 10
    assert [r.rank for r in rows] == list(range(1, 11))


def test_span_stats_empty_and_whitespace_docs(spark):
    from unified_vector_database_spark.operators.spans import span_stats
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three four five six seven "
                                  "eight nine")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in span_stats(docs).collect()}
    assert len(out) == 3
    assert out[1].n_windows == 0 and out[1].dup_ratio == 0.0
    assert out[2].n_windows == 0
    assert out[3].n_windows == 2 and out[3].n_dup_windows == 0


def test_connected_components_empty_and_chain(spark):
    import pyspark.sql.functions as F
    from unified_vector_database_spark.operators.dedup import (
        connected_components,
    )
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    # a 40-node chain needs pointer doubling to converge in <=20
    # rounds (plain propagation would need ~40)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    labels = connected_components(chain).collect()
    assert len(labels) == 41
    assert {r.label for r in labels} == {0}


def test_moving_avg_single_bucket_series(spark, tmp_path):
    import os
    from unified_vector_database_spark import tables
    from unified_vector_database_spark.operators.timeseries import (
        events_moving_avg,
    )
    sf = str(tmp_path / "mini")
    os.makedirs(sf, exist_ok=True)
    ev = tables.load_events(spark, os.environ.get(
        "UVDB_TEST_SF_DIR", "/root/testdata/sf0.001"))
    # one day only -> every series has a single bucket: ma7 == revenue,
    # delta NULL, cum == revenue
    one_day = ev.where(F.date_trunc("day", "ts")
                       == ev.agg(F.date_trunc(
                           "day", F.min("ts")).alias("d")).collect()[0].d)
    one_day.write.parquet(f"{sf}/events.parquet")
    rows = events_moving_avg(spark, sf).collect()
    assert rows
    for r in rows:
        assert r.delta is None
        assert r.ma7 == r.revenue == r.cum_revenue


# ------------------------------------------------------ r4 op edges

def test_hll_single_value_group(spark):
    """One distinct value -> linear counting regime -> estimate ~1."""
    from unified_vector_database_spark.operators.sketches import (
        hll_estimate, hll_registers)
    df = spark.createDataFrame([Row(g="a", v=7)] * 50)
    est = hll_estimate(hll_registers(df, "g", "v")).collect()
    assert len(est) == 1 and abs(est[0]["hll_est"] - 1.0) < 0.01


def test_kmv_fewer_than_k_distinct(spark, sf_dir):
    """Groups with < k distinct values report the EXACT count."""
    from unified_vector_database_spark.registry import QUERIES
    from unified_vector_database_spark import tables
    rows = QUERIES["distinct_kmv"](spark, sf_dir).collect()
    ev = tables.load(spark, sf_dir, "events")
    exact = dict(ev.groupBy("event_type")
                   .agg(F.countDistinct("user_id")).collect())
    for r in rows:
        if r["sketch_size"] < 64:
            assert r["kmv_est"] == exact[r["event_type"]]


def test_autocut_short_corpus_keeps_all(spark, sf_dir):
    """Fewer rows than the autocut window — including 1 and 0 rows —
    must not raise under ANSI mode (try_element_at paths), and a flat
    short window keeps every row."""
    from unified_vector_database_spark.operators.query_dsl import (
        autocut_cut)
    flat = spark.createDataFrame(
        [Row(vec_id=i, score=1.0 - 0.001 * i) for i in range(3)])
    out = autocut_cut(flat).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]          # all kept
    one = autocut_cut(flat.where(F.col("vec_id") == 0)).collect()
    assert len(one) == 1 and one[0]["rank"] == 1
    empty = autocut_cut(flat.where(F.col("vec_id") < 0)).collect()
    assert empty == []
    # a short window WITH a big jump still cuts at the jump
    jump = spark.createDataFrame(
        [Row(vec_id=0, score=0.99), Row(vec_id=1, score=0.98),
         Row(vec_id=2, score=0.10), Row(vec_id=3, score=0.09)])
    cut = autocut_cut(jump).collect()
    assert [r["vec_id"] for r in cut] == [0, 1]
    # the registered op still behaves on the real corpus
    from unified_vector_database_spark.operators import query_dsl as DSL
    real = DSL.autocut_search(spark, sf_dir).collect()
    assert len(real) >= 1
    assert [r["rank"] for r in real] == list(range(1, len(real) + 1))


def test_domain_mix_unknown_lang_rate_zero(spark):
    """A domain absent from the target mix gets rate 0 and sample 0
    (kept in the plan output, dropped from the sample), and the
    operator does not crash on it."""
    from unified_vector_database_spark.operators.sampling import domain_mix_t
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang=("xx" if i % 2 else "en"))
         for i in range(40)])
    rows = {r["lang"]: r for r in domain_mix_t(docs).collect()}
    assert rows["xx"]["rate"] == 0.0
    assert rows["xx"]["n_sampled"] == 0
    assert rows["xx"]["n_in"] == 20
    # the only in-mix domain is the binding one: rate 1, keeps all
    assert rows["en"]["rate"] == 1.0
    assert rows["en"]["n_sampled"] == 20


def test_anomaly_flat_series_no_flags(spark):
    """A constant daily series has zero variance -> z is NULL and
    nothing is flagged (no divide-by-zero)."""
    import datetime
    from unified_vector_database_spark.operators.aggregations import ANOM_WIN
    rows = [Row(event_type="t",
                ts=datetime.datetime(2024, 1, 1 + d, 12, 0, 0),
                value=10.0)
            for d in range(ANOM_WIN + 3)]
    ev = spark.createDataFrame(rows)
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                     .alias("dsum")))
    from pyspark.sql import Window as W
    f = (W.partitionBy("event_type").orderBy("day")
          .rowsBetween(-(ANOM_WIN - 1), 0))
    w = daily.select(
        F.col("dsum").cast("double").alias("x"),
        F.sum("dsum").over(f).cast("double").alias("s1"),
        F.sum(F.col("dsum") * F.col("dsum")).over(f).cast("double")
         .alias("s2"),
        F.count("*").over(f).alias("n"))
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) \
        / (F.col("n") - 1)
    flagged = w.where((F.col("n") >= ANOM_WIN) & (var > 0)).count()
    assert flagged == 0


def test_r4b_ops_survive_degenerate_corpora(spark, tmp_path):
    """The r4-continuation ops must not crash on empty or
    single-short-doc corpora (ANSI mode turns sloppy sequence/fold/
    division edge cases into runtime errors — each op's array math
    has to be safe at size 0/1, not just on the shared corpus)."""
    import os
    from pyspark.sql import Row
    from unified_vector_database_spark.operators import (
        quality as Q, query_dsl as DSL, stats as ST)

    def mk(name, rows):
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long")
        df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
        return sf

    empty = mk("empty", [])
    single = mk("single", [Row(doc_id=0, text="a", lang="en",
                               source="s", n_chars=1)])
    whitespace = mk("ws", [Row(doc_id=0, text="   ", lang="en",
                               source="s", n_chars=3)])
    ops = [DSL.match_phrase_prefix_search, DSL.regexp_search,
           DSL.span_near_search, DSL.combined_fields_search,
           DSL.values_count_filter, DSL.edge_ngram_index,
           Q.gopher_quality_rules, Q.dsir_importance,
           ST.string_stats_agg]
    for sf in (empty, single, whitespace):
        for op in ops:
            op(spark, sf).collect()  # must not raise
    # semantics spot-checks on the degenerate shapes
    assert Q.gopher_quality_rules(spark, empty).collect() == []
    rows = Q.gopher_quality_rules(spark, single).collect()
    assert len(rows) == 1 and not rows[0].keep  # too short to keep
    assert DSL.span_near_search(spark, whitespace).collect() == []


def test_r4b_event_aggs_survive_degenerate_corpora(spark, tmp_path):
    """Events-side twin of the documents gate above (the review found
    change_point crashing on a 1-day corpus because Spark's
    sequence(2, 1) is DESCENDING — every events-based agg must
    survive empty / single-row / single-day corpora)."""
    import datetime
    import os
    from pyspark.sql import Row
    from unified_vector_database_spark.operators import (
        aggregations as AGG, stats as ST)

    def mk(name, rows):
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
        return sf

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    empty = mk("ev_empty", [])
    single = mk("ev_single", [Row(event_id=0, ts=t0, user_id=1,
                                  event_type="click", value=5.0,
                                  props='{"k": 1}')])
    one_day = mk("ev_oneday", [
        Row(event_id=i, ts=t0 + datetime.timedelta(minutes=i), user_id=i,
            event_type="click", value=float(i), props='{"k": 1}')
        for i in range(5)])
    zero_vals = mk("ev_zero", [
        Row(event_id=i, ts=t0 + datetime.timedelta(days=i), user_id=i,
            event_type="click", value=0.0, props='{"k": 1}')
        for i in range(3)])
    ops = [ST.change_point_agg, ST.stats_bucket_agg,
           ST.percentiles_bucket_agg, ST.serial_diff_agg,
           ST.t_test_agg, ST.percentile_histogram_sketch,
           ST.extended_stats_agg, ST.mad_value, ST.boxplot_value,
           ST.top_hits_agg, ST.auto_date_histogram,
           AGG.range_agg, AGG.normalize_agg, AGG.top_metrics_agg,
           AGG.cumulative_cardinality_agg, AGG.bucket_sort_agg]
    for sf in (empty, single, one_day, zero_vals):
        for op in ops:
            op(spark, sf).collect()  # must not raise
    # the review's exact crash class: < 2 days -> zero rows, not a
    # divide-by-zero
    assert ST.change_point_agg(spark, one_day).collect() == []
    assert ST.change_point_agg(spark, empty).collect() == []
    # zero grand total -> NULL share, matching the oracle
    rows = AGG.normalize_agg(spark, zero_vals).collect()
    assert rows and all(r.pct_of_value is None for r in rows)


def test_r4b_vector_ops_survive_degenerate_corpora(spark, tmp_path):
    """Embeddings-side twin: the by-id/context/negative-mining ops
    must not crash when the corpus is empty, tiny, or missing the
    referenced example ids (lookup frames come back empty -> the
    broadcast joins yield zero rows, not errors)."""
    import os
    from pyspark.sql import Row
    from unified_vector_database_spark.operators import query_dsl as DSL
    from unified_vector_database_spark.operators.quality import (
        hard_negative_mining,
    )

    def mk(name, rows):
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        df.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
        return sf

    empty = mk("emb_empty", [])
    tiny = mk("emb_tiny", [  # no referenced example/anchor ids exist
        Row(vec_id=901 + i, embedding=[float(i + 1), 1.0, 0.5, 2.0],
            label=i % 2) for i in range(3)])
    for sf in (empty, tiny):
        assert DSL.knn_by_id(spark, sf).collect() == []
        assert DSL.context_search(spark, sf).collect() == []
        assert hard_negative_mining(spark, sf).collect() == []


def test_r6_ops_survive_degenerate_corpora(spark, tmp_path):
    """r6-wave twin of the gates above: document- and event-side r6
    operators must survive empty / single-short-doc / whitespace /
    single-day corpora (schema stays, rows degrade gracefully)."""
    import datetime
    import os
    from pyspark.sql import Row
    from unified_vector_database_spark.operators import (
        aggregations as AGG, cleanup as CL, inverted as IV, multimodal as MM,
        sampling as SA, sketches as SK, suggest as SG)
    from unified_vector_database_spark.operators.query_dsl import (
        gauss_decay_search, span_not_search,
    )

    def mk_docs(name, rows):
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long") \
            .write.mode("overwrite").parquet(f"{sf}/documents.parquet")
        return sf

    def mk_events(name, rows):
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string") \
            .write.mode("overwrite").parquet(f"{sf}/events.parquet")
        return sf

    d_empty = mk_docs("r6_d_empty", [])
    d_single = mk_docs("r6_d_single", [Row(doc_id=0, text="a", lang="en",
                                           source="s", n_chars=1)])
    d_ws = mk_docs("r6_d_ws", [Row(doc_id=0, text="   ", lang="en",
                                   source="s", n_chars=3)])
    doc_ops = [span_not_search, AGG.categorize_text_agg,
               CL.length_bucket_batching, SK.bloom_membership,
               SK.countmin_term_freq, SG.suggest_context,
               IV.bm25_batch_search, SA.temperature_mix_sample,
               MM.near_image_search]
    for sf in (d_empty, d_single, d_ws):
        for op in doc_ops:
            op(spark, sf).collect()  # must not raise

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    e_empty = mk_events("r6_e_empty", [])
    e_single = mk_events("r6_e_single", [
        Row(event_id=0, ts=t0, user_id=1, event_type="click",
            value=5.0, props="{}")])
    e_oneday = mk_events("r6_e_oneday", [
        Row(event_id=i, ts=t0 + datetime.timedelta(minutes=i), user_id=i,
            event_type="click", value=float(i), props="{}")
        for i in range(5)])
    from unified_vector_database_spark.operators.stats import (
        bucket_ks_test,
    )
    ev_ops = [AGG.bucket_script_agg, AGG.scripted_metric_agg,
              AGG.bucket_correlation_agg, gauss_decay_search,
              bucket_ks_test]
    for sf in (e_empty, e_single, e_oneday):
        for op in ev_ops:
            op(spark, sf).collect()  # must not raise

    # one-sided days (ADVICE r5 #1): a day missing one event type must
    # contribute 0 to that side's ECDF, not freeze the fold at NULL.
    # Hand-computed: ta=[5,0,3] tb=[0,4,4] -> ca=[.625,.625,1]
    # cb=[0,.5,1] -> KS = 0.625.
    e_onesided = mk_events("r6_e_onesided", [
        Row(event_id=0, ts=t0, user_id=1, event_type="click",
            value=5.0, props="{}"),
        Row(event_id=1, ts=t0 + datetime.timedelta(days=1), user_id=2,
            event_type="view", value=4.0, props="{}"),
        Row(event_id=2, ts=t0 + datetime.timedelta(days=2), user_id=3,
            event_type="click", value=3.0, props="{}"),
        Row(event_id=3, ts=t0 + datetime.timedelta(days=2), user_id=4,
            event_type="view", value=4.0, props="{}")])
    [r] = bucket_ks_test(spark, e_onesided).collect()
    assert r.n_buckets == 3 and abs(r.ks_stat - 0.625) < 1e-9

    # the guard classes, pinned: a 1-bucket series has no variance ->
    # NULL correlation (not NaN); an empty corpus -> no near-image
    # query -> zero rows (not a crash); empty bloom census has no rows
    row = AGG.bucket_correlation_agg(spark, e_oneday).collect()[0]
    assert row.n_buckets == 1 and row.correlation is None
    assert MM.near_image_search(spark, d_empty).collect() == []
    assert SK.bloom_membership(spark, d_empty).collect() == []
    # CMS on an empty corpus: every probe term reports estimate 0 —
    # absent terms must NOT vanish from the census (review r5)
    cm = {r.term: (r.exact, r.cms_est)
          for r in SK.countmin_term_freq(spark, d_empty).collect()}
    assert set(cm) == set(SK.CM_TERMS)
    assert all(v == (0, 0) for v in cm.values())
