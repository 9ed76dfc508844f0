"""Plan-shape guarantees (SURVEY §5d / §6): pushdown, pruning,
broadcast, TakeOrdered — the properties that make these operators
survive a 100x scale-up."""

from __future__ import annotations

from unified_vector_database_spark.operators import knn as knn_ops
from unified_vector_database_spark.plans.asserts import (
    assert_broadcast_join, assert_column_pruned, assert_filter_pushed,
    assert_take_ordered, plan_text,
)


def test_knn_is_takeordered_broadcast(spark, sf_dir):
    df = knn_ops.knn_cosine(spark, sf_dir)
    assert_take_ordered(df)          # no global sort for top-k
    assert_broadcast_join(df)        # query side broadcast


def test_filtered_scan_pushdown(spark, sf_dir):
    df = knn_ops.filtered_scan(spark, sf_dir)
    assert_filter_pushed(df, "EqualTo(lang,en)")
    assert_column_pruned(df, "text")  # projection avoids the wide column


def test_knn_filtered_pushdown(spark, sf_dir):
    df = knn_ops.knn_filtered(spark, sf_dir)
    assert_filter_pushed(df, "EqualTo(label,3)")


def test_scroll_cursor_pushdown(spark, sf_dir):
    # keyset pagination's whole point: the cursor predicate reaches
    # the scan, so deep pages don't read skipped rows
    df = knn_ops.scroll_by_cursor(spark, sf_dir)
    assert_filter_pushed(df, "GreaterThan(doc_id,150)")


def test_q6_all_predicates_pushed(spark, sf_dir):
    from unified_vector_database_spark.operators import tpch
    df = tpch.q6_forecast_revenue(spark, sf_dir)
    text = plan_text(df)
    assert "PushedFilters" in text
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity,24.0)"):
        assert frag in text, f"missing pushed filter {frag}:\n{text}"


def test_batch_knn_no_corpus_shuffle_before_score(spark, sf_dir):
    # the corpus side must reach the scorer without an Exchange below
    # the join (queries are broadcast); the only hash Exchange allowed
    # is the per-query window on (qid, score) pairs.
    text = plan_text(knn_ops.batch_knn_q(spark, sf_dir))
    join_part = text.split("Window")[0] if "Window" in text else text
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text
    scan_to_join = join_part
    assert scan_to_join.count("Exchange hashpartitioning") <= 1


def test_bm25_zero_corpus_shuffles(spark, sf_dir):
    # the rewrite's whole claim: per-term tf is array math in the scan
    # stage, stats broadcast back — no explode/groupBy shuffle at all
    from unified_vector_database_spark.operators import hybrid
    text = plan_text(hybrid.bm25_search(spark, sf_dir))
    assert "Exchange hashpartitioning" not in text
    assert "TakeOrderedAndProject" in text


def test_q19_disjunction_pushed_per_side(spark, sf_dir):
    # Catalyst extracts each side's projection of the OR-of-brackets
    # and pushes it into that side's scan (quantity ranges to
    # lineitem, brand/size to part)
    from unified_vector_database_spark.operators import tpch
    df = tpch.q19_bracket_filters(spark, sf_dir)
    text = plan_text(df)
    assert "LessThanOrEqual(l_quantity,50.0)" in text
    assert "EqualTo(p_brand,Brand#11)" in text
    assert_broadcast_join(df)


def test_q14_broadcast_and_pushdown(spark, sf_dir):
    from unified_vector_database_spark.operators import tpch
    df = tpch.q14_promo_share(spark, sf_dir)
    assert_filter_pushed(df, "GreaterThanOrEqual(l_shipdate")
    assert_broadcast_join(df)


def test_q8_star_dims_broadcast(spark, sf_dir):
    from unified_vector_database_spark.operators import tpch
    df = tpch.q8_market_share(spark, sf_dir)
    text = plan_text(df)
    # part, customer-semi, supplier+nation all broadcast; only the
    # lineitem x orders fact join and the yearly agg may shuffle
    assert text.count("BroadcastHashJoin") >= 3, text
    assert_filter_pushed(df, "GreaterThanOrEqual(o_orderdate")


def test_q17_brand_pushed_and_broadcast(spark, sf_dir):
    from unified_vector_database_spark.operators import tpch
    df = tpch.q17_small_qty_revenue(spark, sf_dir)
    assert_filter_pushed(df, "EqualTo(p_brand,Brand#3)")
    assert_broadcast_join(df)


def test_q21_semi_anti_no_cartesian(spark, sf_dir):
    from unified_vector_database_spark.operators import tpch
    df = tpch.q21_solo_returner(spark, sf_dir)
    text = plan_text(df)
    # both existence checks stay equi-joins on l_orderkey (the suppkey
    # inequality rides along as a residual condition) — never a
    # cartesian / nested-loop fallback
    assert "LeftSemi" in text, text
    assert "LeftAnti" in text, text
    assert "CartesianProduct" not in text, text


def test_chunk_sliding_prunes_unused_columns(spark, sf_dir):
    from unified_vector_database_spark.operators import textops
    df = textops.chunk_sliding(spark, sf_dir)
    assert_column_pruned(df, "n_chars")
    assert_column_pruned(df, "source")


def test_hybrid_rrf_rank_windows_bounded(spark, sf_dir):
    # r1 regression: rank windows ran over the FULL corpus-sized score
    # tables in one partition. Now each modality is cut to top-N by
    # TakeOrdered BEFORE ranking, and ranks come from
    # bounded_ranks (collect/array_sort/posexplode) — no WindowExec
    # in the plan at all.
    from unified_vector_database_spark.operators import hybrid
    text = plan_text(hybrid.hybrid_rrf(spark, sf_dir))
    assert text.count("TakeOrderedAndProject") >= 2, text
    assert "Window" not in text, text


def test_tfidf_single_plan_no_driver_count(spark, sf_dir):
    # corpus size N must be a broadcast 1-row agg inside the plan, not
    # a separate driver-side .count() action
    from unified_vector_database_spark.operators import textops
    df = textops.tfidf_topterms(spark, sf_dir)
    text = plan_text(df)
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text, text


def test_no_unpartitioned_windows_anywhere(spark, sf_dir):
    # WindowExec with no partition spec moves ALL input rows to one
    # partition — a corpus-sized single-partition sort at scale (the
    # r1 hybrid_rrf bug). Catalyst also constant-folds literal
    # partition keys (W.partitionBy(F.lit(0)) still compiles to an
    # UNPARTITIONED window), so bounded sets must rank via
    # collect/array_sort/posexplode instead (hybrid.bounded_ranks).
    # Guard every registered query's optimized plan. schema_only()
    # keeps construction cheap for the streaming replays and the
    # side-effectful lifecycle ops (same as the output-schema gate).
    import re
    from unified_vector_database_spark import flags, registry
    registry.load_all()
    offenders = []
    with flags.schema_only():
        for name, fn in registry.QUERIES.items():
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                                         .optimizedPlan().toString()
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
                first = m.group(1).split(",")[0]
                if " ASC" in first or " DESC" in first:
                    offenders.append(name)
                    break
    assert not offenders, offenders


def test_r3_ops_plan_shapes(spark, sf_dir):
    from unified_vector_database_spark.operators.matrix import distance_matrix
    from unified_vector_database_spark.operators.knn import near_text_move
    from unified_vector_database_spark.operators.spans import duplicate_spans
    from unified_vector_database_spark.operators.sparse import (
        hybrid_tri_fusion,
    )
    from unified_vector_database_spark.operators.textops import vocab_coverage
    from unified_vector_database_spark.operators.timeseries import (
        events_gap_fill,
    )

    # N x N sample scoring: both sides bounded, joined by broadcast
    assert_broadcast_join(distance_matrix(spark, sf_dir))
    # move-force knn: one broadcast query row, top-k is TakeOrdered
    ntm = near_text_move(spark, sf_dir)
    assert_broadcast_join(ntm)
    assert_take_ordered(ntm)
    # span stats only read (doc_id, text) — metadata columns pruned
    assert_column_pruned(duplicate_spans(spark, sf_dir), "lang")
    # bucket grid joins onto the rollup without a cartesian explosion
    assert_broadcast_join(events_gap_fill(spark, sf_dir))
    # fusion result and vocab top-N both end in TakeOrdered cuts
    assert_take_ordered(hybrid_tri_fusion(spark, sf_dir))
    assert_take_ordered(vocab_coverage(spark, sf_dir))


def test_r4_ops_plan_shapes(spark, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        value_histogram,
    )
    from unified_vector_database_spark.operators.index import (
        diversified_sample,
    )
    from unified_vector_database_spark.operators.query_dsl import (
        autocut_search, rescore_topn, span_first_search, wildcard_search,
    )
    from unified_vector_database_spark.operators.sketches import (
        cardinality_hll, distinct_kmv,
    )
    from unified_vector_database_spark.operators.sampling import (
        domain_mix_sample, quality_weighted_sample,
    )
    from unified_vector_database_spark.plans.asserts import (
        assert_no_shuffle, plan_text,
    )

    # rescore: the BM25 window joins the vector scan by broadcast —
    # phase 2 cost is bounded by window_size at any corpus size
    assert_broadcast_join(rescore_topn(spark, sf_dir))

    # KMV + diversified draw: WindowGroupLimit pre-prunes each map
    # partition to k rows per group BEFORE the exchange
    for df in (distinct_kmv(spark, sf_dir),
               diversified_sample(spark, sf_dir)):
        assert "WindowGroupLimit" in plan_text(df), plan_text(df)

    # HLL: the only hash shuffle is keyed on (grp, bucket) — register
    # rows, never raw events
    hll_plan = plan_text(cardinality_hll(spark, sf_dir))
    assert "hashpartitioning(grp" in hll_plan, hll_plan

    # quality-weighted sampling is map-only: no hash shuffle at all
    assert_no_shuffle(quality_weighted_sample(spark, sf_dir))

    # span/wildcard/histogram: scan-stage predicates, TakeOrdered page
    assert_take_ordered(span_first_search(spark, sf_dir))
    assert_take_ordered(wildcard_search(spark, sf_dir))
    assert_no_shuffle(span_first_search(spark, sf_dir))

    # autocut: plain knn TakeOrdered feeds the bounded array decision
    assert_take_ordered(autocut_search(spark, sf_dir))

    # domain mix: the |domains|-row rate table broadcasts onto the
    # admit pass
    assert_broadcast_join(domain_mix_sample(spark, sf_dir))

    # histogram bucket agg: partial aggregation (map-side combine)
    assert "partial_count" in plan_text(
        value_histogram(spark, sf_dir)).lower() or \
        "HashAggregate" in plan_text(value_histogram(spark, sf_dir))


def test_r4b_ops_plan_shapes(spark, sf_dir):
    from unified_vector_database_spark.operators.aggregations import (
        range_agg, top_metrics_agg,
    )
    from unified_vector_database_spark.operators.quality import (
        gopher_quality_rules,
    )
    from unified_vector_database_spark.operators.query_dsl import (
        knn_by_id, knn_where_document, match_phrase_prefix_search,
        rank_feature_search, span_near_search,
    )
    from unified_vector_database_spark.operators.stats import (
        extended_stats_agg, string_stats_agg,
    )
    from unified_vector_database_spark.operators.stats import (
        percentile_histogram_sketch, t_test_agg,
    )
    from unified_vector_database_spark.plans.asserts import (
        assert_broadcast_join, assert_no_shuffle, assert_take_ordered,
        plan_text,
    )

    # map-side text ops: ONE corpus pass, zero hash shuffle, top-N page
    for op in (match_phrase_prefix_search, span_near_search):
        df = op(spark, sf_dir)
        assert_no_shuffle(df)
        assert_take_ordered(df)
    # knn by id / where_document: broadcast 1-row query + TakeOrdered
    for op in (knn_by_id, knn_where_document):
        df = op(spark, sf_dir)
        assert_broadcast_join(df)
        assert_take_ordered(df)
    # rank_feature: BM25 stats broadcast + payload join above it
    assert_broadcast_join(rank_feature_search(spark, sf_dir))
    # stats aggs: single partial-agg pass (exactly one hash exchange,
    # of bucket rows), no join, no window
    for op in (extended_stats_agg, string_stats_agg, t_test_agg,
               range_agg):
        text = plan_text(op(spark, sf_dir))
        assert text.count("Exchange hashpartitioning") <= 1, text
        assert "partial" in text  # map-side combine before the shuffle
    # gopher census: bucket-key shuffle only (lang, keep)
    text = plan_text(gopher_quality_rules(spark, sf_dir))
    assert text.count("Exchange hashpartitioning") <= 1, text
    # top_metrics: WindowGroupLimit pushes the rank-1 cut map-side
    assert "WindowGroupLimit" in plan_text(top_metrics_agg(spark, sf_dir))
    # percentile sketch: bounds broadcast into the binning scan, and
    # the value column never crosses a shuffle (only bin rows do)
    df = percentile_histogram_sketch(spark, sf_dir)
    t = plan_text(df)
    assert "BroadcastNestedLoopJoin" in t or "BroadcastHashJoin" in t, t


def test_output_schema_policy_no_arrays_or_decimals(spark, sf_dir):
    """Driver-canonicalizer policy as a standing gate: no final output
    may carry an ARRAY column (pandas sort_values throws 'unhashable
    type: list' — the r3 stateful_topk failure) or a DECIMAL column
    (duckdb's pandas conversion widens HUGEINT/DECIMAL to float64
    while Spark emits exact types — the r1/q12 hash class).

    flags.schema_only() keeps this cheap: the stream_* queries thread
    an empty batch frame with the real schema instead of running a
    full micro-batch replay, and dsir's checkpoint is lazy
    (eager=False), so constructing every DataFrame here runs no jobs
    (ADVICE r4)."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType
    from unified_vector_database_spark import flags, registry
    registry.load_all()
    offenders = []
    with flags.schema_only():
        for name, fn in registry.QUERIES.items():
            for f in fn(spark, sf_dir).schema.fields:
                if isinstance(f.dataType, (ArrayType, DecimalType, MapType)):
                    offenders.append((name, f.name, str(f.dataType)))
    assert not offenders, offenders


def test_nested_payload_typed_pushes_range_predicate(spark, sf_dir):
    """C14 ∘ S5 (VERDICT r4 #2): once the JSON field is materialized
    as a typed column at ingest, the k-range predicate must reach the
    parquet scan — vs the schema-on-read form, whose per-row JSON
    parse can never push."""
    from unified_vector_database_spark.operators.lifecycle import (
        nested_payload_typed,
    )
    df = nested_payload_typed(spark, sf_dir)
    t = plan_text(df)
    assert "PushedFilters" in t, t
    assert "GreaterThanOrEqual(k,40" in t and "LessThanOrEqual(k,60" in t, t


def test_tenant_scan_prunes_at_file_listing(spark, sf_dir):
    """Multi-tenancy isolation is a LAYOUT property: the tenant
    predicate must show as a PartitionFilter on the hive-partitioned
    collection (file-listing pruning), not a post-scan filter."""
    from unified_vector_database_spark.operators.lifecycle import (
        tenant_scoped_scan,
    )
    t = plan_text(tenant_scoped_scan(spark, sf_dir))
    assert "PartitionFilters" in t and "event_type" in t, t


def test_r5_agg_plan_shapes(spark, sf_dir):
    """r5 aggs keep their claimed shapes: filters_agg is ONE scan
    (single aggregate, no union re-scan), geohash_grid stays pure JVM
    (no Python eval in the plan), significant_terms broadcasts its
    totals, ewma/moving_percentiles never use a window operator."""
    from unified_vector_database_spark.operators.aggregations import (
        filters_agg, geohash_grid_agg, significant_terms_agg,
    )
    from unified_vector_database_spark.operators.stats import (
        ewma_smoothing, moving_percentiles,
    )

    t = plan_text(filters_agg(spark, sf_dir))
    # one scan NODE (each scan prints one Location detail), unpivoted
    # via stack — never a 3-branch union of re-scans
    assert t.count("Location:") == 1, t
    assert "Union" not in t, t

    t = plan_text(geohash_grid_agg(spark, sf_dir))
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t, t

    t = plan_text(significant_terms_agg(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in t or "BroadcastExchange" in t, t

    for df in (ewma_smoothing(spark, sf_dir),
               moving_percentiles(spark, sf_dir)):
        assert "Window" not in plan_text(df)


def test_r6_ops_plan_shapes(spark, sf_dir):
    """r6 wave keeps its claimed shapes: geotile stays pure JVM,
    tanimoto ends in TakeOrdered with no Python eval, batch BM25
    broadcasts the query table and prunes per-query top-k map-side,
    DBSF broadcasts its 1-row stats frames, has_parent broadcasts the
    filtered parent keys, semdedup's kernel is ONE Arrow-batched
    Python stage (no relational pair join), and the nprobe curve
    fans out via a broadcast level join."""
    from unified_vector_database_spark.operators.cleanup import (
        length_bucket_batching,
    )
    from unified_vector_database_spark.operators.dedup import semdedup
    from unified_vector_database_spark.operators.aggregations import (
        geotile_grid_agg,
    )
    from unified_vector_database_spark.operators.evaluation import (
        nprobe_recall_curve,
    )
    from unified_vector_database_spark.operators.index import tanimoto_knn
    from unified_vector_database_spark.operators.inverted import (
        bm25_batch_search,
    )
    from unified_vector_database_spark.operators.query_dsl import (
        has_parent_search, hybrid_dbsf,
    )

    t = plan_text(geotile_grid_agg(spark, sf_dir))
    assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t, t
    assert t.count("Location:") == 1, t  # one scan, partial-agg cells

    tk = tanimoto_knn(spark, sf_dir)
    assert_take_ordered(tk)
    assert "EvalPython" not in plan_text(tk)

    t = plan_text(bm25_batch_search(spark, sf_dir))
    assert "BroadcastExchange" in t, t
    assert "WindowGroupLimit" in t, t

    assert_broadcast_join(hybrid_dbsf(spark, sf_dir))
    assert_broadcast_join(has_parent_search(spark, sf_dir))

    t = plan_text(semdedup(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in t, t
    assert "SortMergeJoin" not in t or "vec" not in t.split(
        "SortMergeJoin")[1][:200], t  # no vector-carrying pair join

    t = plan_text(nprobe_recall_curve(spark, sf_dir))
    assert "BroadcastExchange" in t and "WindowGroupLimit" in t, t

    t = plan_text(length_bucket_batching(spark, sf_dir))
    assert t.count("Location:") == 1, t
    assert "Window" not in t, t


def test_r6b_ops_plan_shapes(spark, sf_dir):
    """Late-r6-wave shapes: terms partitioning filters BEFORE the
    aggregate, gauss decay broadcasts its 1-row anchor and ends in
    TakeOrdered, session paths shuffle once on the user key,
    holt_winters runs window-free (one fold row), and the filtered
    IVF probe both broadcasts (cells/query) and TakeOrders."""
    from unified_vector_database_spark.operators.analytics import (
        session_paths_agg,
    )
    from unified_vector_database_spark.operators.aggregations import (
        terms_partition_agg,
    )
    from unified_vector_database_spark.operators.index import (
        ivf_filtered_knn,
    )
    from unified_vector_database_spark.operators.query_dsl import (
        gauss_decay_search,
    )
    from unified_vector_database_spark.operators.stats import (
        holt_winters_smoothing,
    )

    t = plan_text(terms_partition_agg(spark, sf_dir))
    # one scan, and the md5 partition predicate present as a Filter
    # (map-side, before the partial agg — the paging contract)
    assert t.count("Location:") == 1, t
    assert "Filter" in t and "md5" in t, t
    assert "HashAggregate" in t, t

    gd = gauss_decay_search(spark, sf_dir)
    assert_broadcast_join(gd)
    assert_take_ordered(gd)

    t = plan_text(session_paths_agg(spark, sf_dir))
    # sessionize + step-rank windows share the user_id exchange: at
    # most ONE hashpartitioning exchange on user_id appears
    assert t.count("hashpartitioning(user_id") <= 1, t

    assert "Window" not in plan_text(holt_winters_smoothing(spark, sf_dir))

    fk = ivf_filtered_knn(spark, sf_dir)
    assert_broadcast_join(fk)
    assert_take_ordered(fk)


def test_r6c_ops_plan_shapes(spark, sf_dir):
    """This round's build: the weighted-median sketch aggregates
    bin-keyed (never a corpus-wide per-group sort), the sampler draw
    is WindowGroupLimit-pruned, the nested/children agg joins are
    co-keyed or broadcast (never cartesian), and the moving_fn models
    run window-free over one collected-array row."""
    from unified_vector_database_spark.operators.aggregations import (
        children_agg, nested_terms_agg, reverse_nested_agg,
    )
    from unified_vector_database_spark.operators.sampling import (
        sampler_agg,
    )
    from unified_vector_database_spark.operators.stats import (
        moving_fn_lin_wavg, moving_fn_min_max, weighted_median_sketch,
    )

    t = plan_text(weighted_median_sketch(spark, sf_dir))
    # partial aggregate keyed on (returnflag, bin) — the shape whose
    # shuffle is bounded at groups x bins; bounds ride a broadcast
    assert "bin" in t and "HashAggregate" in t, t
    assert_broadcast_join(weighted_median_sketch(spark, sf_dir))
    # the exact form's corpus-wide per-group running-sum window must
    # NOT appear: no window may order by the raw price column
    assert "windowspecdefinition(l_returnflag" not in t \
        or "l_extendedprice" not in t.split("windowspecdefinition")[1][:200], t

    assert "WindowGroupLimit" in plan_text(sampler_agg(spark, sf_dir))

    for op in (nested_terms_agg, reverse_nested_agg, children_agg):
        t = plan_text(op(spark, sf_dir))
        assert "CartesianProduct" not in t, (op.__name__, t)
        assert "BroadcastNestedLoop" not in t, (op.__name__, t)
    assert_broadcast_join(children_agg(spark, sf_dir))

    for op in (moving_fn_lin_wavg, moving_fn_min_max):
        assert "Window" not in plan_text(op(spark, sf_dir)), op.__name__


def test_hnsw_probe_hops_prune_artifact_partitions(spark, sf_dir):
    """The distributed beam's hop joins against the written artifact
    must prune at the FILE LISTING: the adjacency is parquet
    partitioned by bucket = pmod(src, ADJ_BUCKETS), the frontier
    carries the same key, and Catalyst turns the bucket-equality
    broadcast join into a dynamic partition pruning subquery — so a
    hop reads only the frontier's buckets, not every partition. This
    is the plan shape ADVICE r7 #1 asked the docs claim to match.

    r9: the beam cuts lineage per hop (localCheckpoint on the
    multi-consumer beam state), so the PROBE's final explain only
    shows the top-k over the last checkpointed RDD — the hop joins
    plan (and prune) inside each per-hop sub-plan instead. The pinned
    property is unchanged; the observation point moves to the hop
    join itself: _expand over the written artifact with a bounded
    frontier, exactly the shape every hop plans."""
    from pyspark.sql import functions as F

    from unified_vector_database_spark.operators import hnsw

    art = hnsw.art_for(spark, sf_dir)
    corpus = hnsw._corpus_for(spark, sf_dir)
    frontier = corpus.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "vec_id", F.col("vec").alias("qvec"))
    nb = art.get("buckets", hnsw.ADJ_BUCKETS)
    hop = hnsw._expand(hnsw._adj_df(spark, art["adj"][0]), frontier, nb)
    txt = plan_text(hop)
    assert "dynamicpruning" in txt.lower(), "hop scans read all buckets"
    # and the probe built on those hops still answers over the
    # artifact route (route marker + non-empty top-k)
    q = (corpus.where(F.col("vec_id") == 7)
         .select(F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")))
    out = hnsw.hnsw_probe_batch(spark, corpus, art, q, 10)
    assert hnsw.LAST_ROUTE == "hnsw_probe_batch"
    assert out.count() > 0


def test_r9_ops_plan_shapes(spark, sf_dir):
    """r9 surfaces: the analyzer ops keep T3's zero-corpus-shuffle
    claim (analysis is map-side array math; the only exchange is the
    scalar stats single-partition agg), the analyzed array is
    evaluated ONCE per row (the lambda-binding idiom — exactly one
    occurrence of the stemmer CASE chain per plan), and the filtered
    graph probe pushes its label predicate to the embeddings scan."""
    from unified_vector_database_spark.operators import analyzer, hnsw

    # analyzed match: no hash-partitioned exchange anywhere (the only
    # exchange is the scalar stats single-partition agg), TakeOrdered
    txt = plan_text(analyzer.analyzed_match_search(spark, sf_dir))
    assert "Exchange hashpartitioning" not in txt
    assert "TakeOrderedAndProject" in txt

    txt = plan_text(analyzer.analyzed_phrase_search(spark, sf_dir))
    assert "Exchange hashpartitioning" not in txt
    assert "TakeOrderedAndProject" in txt
    # the binding idiom is structural: the occurrence count is built
    # over a lambda-bound array (one `transform(array(`), never over
    # k inlined copies of the analyzer in ONE projection — the
    # per-operator expression-count is Catalyst's business, but the
    # idiom's presence is ours to pin (perf itself is floored in
    # BASELINE.md: 11.4 -> 0.5 s)
    ext = plan_text(analyzer.analyzed_phrase_search(spark, sf_dir),
                    "extended")
    assert "transform(array(" in ext.replace("\n", "")

    # filtered graph probe (distributed route): label predicate pushed
    from pyspark.sql import functions as F
    sart = hnsw.session_art(spark, sf_dir)
    from unified_vector_database_spark import tables as _t
    emb = _t.load_parallel(spark, sf_dir, "embeddings", "vec_id")
    allowed = emb.where(F.col("label").isin(*hnsw.FILTER_LABELS)) \
                 .select("vec_id")
    q = (sart["corpus"].where(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")))
    txt = plan_text(hnsw.hnsw_probe_batch(spark, sart["corpus"], sart, q,
                                          10, keep=allowed))
    assert "In(label, [2,5])" in txt or "In(label" in txt, \
        "label filter not pushed to the embeddings scan"
