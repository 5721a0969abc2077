"""Physical-plan shape assertions — the 100 TB posture checks:
broadcast joins for dimensions, pushed parquet filters, no cartesian
products in linking, whole-stage codegen in the extraction hot path."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rank_link_broadcasts_dim(spark):
    from casualty_linking_spark import dims, synth
    from casualty_linking_spark.operators import extract, records as R
    from casualty_linking_spark.operators.link_ranks import link_ranks

    rec = R.build_records(
        extract.mentions_to_raw_records(
            extract.extract_mentions(synth.transcripts_range(spark, 50))
        )
    )
    plan = _plan(link_ranks(rec, dims.dim_rank_labels(spark)))
    assert "BroadcastHashJoin" in plan, plan


def test_unit_link_no_cartesian(spark):
    from casualty_linking_spark import dims, synth
    from casualty_linking_spark.operators import extract, records as R
    from casualty_linking_spark.operators.link_units import link_units

    rec = R.build_records(
        extract.mentions_to_raw_records(
            extract.extract_mentions(synth.transcripts_range(spark, 50))
        )
    )
    links, _ = link_units(rec, dims.dim_unit_labels(spark))
    plan = _plan(links)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan, plan
    # column pruning: only the two needed columns are read
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_extraction_stays_in_codegen(spark):
    """The T1 hot path must be whole-stage codegen (no Python/BatchEval)."""
    from casualty_linking_spark import synth
    from casualty_linking_spark.operators import extract

    m = extract.extract_mentions(synth.transcripts_range(spark, 50))
    plan = _plan(m)
    # with AQE the WholeStageCodegen spans only materialize in the final
    # plan; the invariant to pin is that extraction is pure JVM expressions
    # (regexp_extract in a Project) with no Python eval nodes
    assert "regexp_extract" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()


def test_person_blocking_no_cartesian(spark):
    """The person linkage is one lazy plan: blocked (no cartesian product),
    built without running a Spark job, with no lineage cut (``Scan
    ExistingRDD``) and with the scorer evaluated once, not once per
    matching round."""
    from casualty_linking_spark import dims, synth
    from casualty_linking_spark.operators import extract, records as R
    from casualty_linking_spark.operators.link_persons import casualty_features, link_persons
    from casualty_linking_spark.operators.link_ranks import link_ranks
    from casualty_linking_spark.operators.link_units import link_units

    rec = R.build_records(
        extract.mentions_to_raw_records(
            extract.extract_mentions(synth.transcripts_range(spark, 50))
        )
    )
    rl = link_ranks(rec, dims.dim_rank_labels(spark))
    ul, _ = link_units(rec, dims.dim_unit_labels(spark))
    feats = casualty_features(rec, rl, ul, dims.dim_ranks(spark), dims.dim_municipalities(spark))
    spark.range(0).createOrReplaceTempView("_noop")  # keep session warm
    actors = synth.actors_from_sf(spark, "/root/testdata/sf0.001")
    sc = spark.sparkContext
    group = "test_person_blocking_no_cartesian"
    sc.setJobGroup(group, group)
    try:
        links = link_persons(feats, actors)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    plan = _plan(links)
    assert "CartesianProduct" not in plan
    # one Python eval node runs the scorer (the records' name unification
    # has its own)
    evals = [line.strip() for line in plan.splitlines() if "EvalPython" in line]
    assert sum("jaro_winkler_names" in line for line in evals) == 1, evals
    assert "Scan ExistingRDD" not in plan, plan


def test_dedup_grouping_skew_safe_no_window(spark):
    """exact_duplicates / simhash_buckets must not plan a Window over the
    raw hash key (a mega-cluster key would serialize into one task); the
    skew-safe shape is groupBy (map-side partial agg) + join-back that AQE
    skew handling can split."""
    from casualty_linking_spark.operators.dedup import exact_duplicates, simhash_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (exact_duplicates(docs), simhash_buckets(docs)):
        plan = _plan(df)
        assert "Window" not in plan, plan
        assert "partial" in plan.lower() or "HashAggregate" in plan, plan


def test_single_scan_candidate_generation(spark):
    """The LSH/banded self-join family must key its corpus with ONE scan:
    the per-table-union / planner-broadcast shapes re-scanned (and re-ran
    the expensive fingerprint aggregations) once per join side per table.
    Regression guard for the exchange-reuse join hints (AQE off so the
    static plan shows ReusedExchange)."""
    from casualty_linking_spark import synth
    from casualty_linking_spark.operators.dedup import (
        conversation_jaccard_pairs,
        embedding_near_dup_pairs,
        minhash_lsh_pairs,
        simhash_near_dup_pairs,
    )
    from casualty_linking_spark.operators.similarity_search import lsh_topk

    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = embs.limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        tx = synth.transcripts_from_sf(spark, "/root/testdata/sf0.001")
        cases = {
            "minhash_pairs": minhash_lsh_pairs(docs),
            "simhash_near": simhash_near_dup_pairs(docs),
            "emb_near": embedding_near_dup_pairs(embs, threshold=0.2),
            # conversation near-dup: the whole candidates+verify composition
            # keys the transcript source with ONE scan (4 reused exchanges)
            "conv_near": conversation_jaccard_pairs(tx, threshold=0.5),
        }
        for name, df in cases.items():
            plan = _plan(df)
            assert plan.count("FileScan") == 1, (name, plan)
            assert "ReusedExchange" in plan, (name, plan)
        # lsh_topk: one corpus scan; the query side (also from embeddings
        # here) scans once more and is broadcast
        plan = _plan(lsh_topk(embs, q, dim=64))
        assert plan.count("FileScan") <= 2, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)


def test_decontamination_broadcasts_benchmark(spark):
    """ngram_contamination: the benchmark gram set must broadcast and the
    corpus-side gram stream must reach the join WITHOUT a shuffle — at
    100 TB the corpus is the big side and only the matched subset may
    shuffle (the final groupBy)."""
    from casualty_linking_spark.queries import q_text_decontaminate

    df = q_text_decontaminate(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # only small-side shuffles allowed: benchmark-gram distinct + final
    # per-doc agg; the corpus scan side must not add a third
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_joinless_single_shuffle(spark):
    """asof_join: the union-tag + carry-forward-window composition must
    plan with NO join operator (a naive as-of is an O(n^2)-per-user range
    self-join) and only the user_id window shuffle + loader spread."""
    from casualty_linking_spark.queries import q_events_asof

    df = q_events_asof(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """interval_join: the bucket decomposition must reach the planner as an
    EQUI-join (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin on
    (user_id, bkt)) — a naive range predicate would plan as
    BroadcastNestedLoopJoin, the O(n*m)-per-user disaster the operator
    exists to avoid."""
    from casualty_linking_spark.queries import q_events_interval_join

    df = q_events_interval_join(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), plan


def test_validity_intervals_single_shuffle(spark):
    """validity_intervals: one lead() window — exactly one hashpartitioning
    Exchange on the entity key over the version log (plus the loader
    spread), no joins."""
    from casualty_linking_spark.operators.triples import validity_intervals

    v = spark.createDataFrame(
        [("s", "p", "v0", 0), ("s", "p", "v1", 1)],
        "subj string, pred string, obj string, batch_seq long",
    )
    plan = _plan(validity_intervals(v))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_triangles_plans_hash_joins_only(spark):
    """triangles: wedge build + closure must plan as equi-joins (degree
    tables broadcast); a nested-loop or cartesian anywhere means the
    orientation predicate leaked into the join condition."""
    from casualty_linking_spark.operators.graph_rank import triangles

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "src string, dst string"
    )
    plan = _plan(triangles(e))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tfidf_idf_join_is_broadcast(spark):
    """tfidf: the corpus-sized tf table must NOT reshuffle for the idf join
    — the vocabulary-sized df side broadcasts (the only nested-loop allowed
    is the single-row N crossJoin)."""
    from casualty_linking_spark.queries import q_text_tfidf

    plan = _plan(q_text_tfidf(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_response_latency_single_window_pass(spark):
    """response_latency: ONE window pass — a single hashpartitioning
    Exchange on conv_id (plus the loader spread), no self-join back to the
    transcript table."""
    from casualty_linking_spark.operators.text_analysis import response_latency

    t = spark.createDataFrame(
        [("c", 0, "user", "q", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    plan = _plan(response_latency(t))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_retention_single_window_then_agg(spark):
    """retention_cohorts: window on user_id + distinct-agg — no join back
    to the event table, no more than the two key Exchanges (plus AQE
    coalesces)."""
    from casualty_linking_spark.operators.events import retention_cohorts

    e = spark.createDataFrame(
        [(1, 7)], "event_id long, user_id long"
    ).withColumn("ts", F.current_timestamp())
    plan = _plan(retention_cohorts(e))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_bigram_model_no_join_no_second_scan(spark):
    """bigram_model: one corpus scan, map-side-combined counts, window
    denominator over the AGGREGATED table — never a join back or a second
    scan of documents."""
    from casualty_linking_spark.operators.text_analysis import bigram_model

    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = _plan(bigram_model(d))
    assert "Join" not in plan, plan
    assert plan.count("Scan ExistingRDD") <= 1, plan


def test_funnel_single_exchange_any_depth(spark):
    """funnel: every step's conditional min shares ONE user_id window
    Exchange, the per-user collapse reuses that partitioning, and only the
    K counts cross the final single-partition agg — no joins, and funnel
    DEPTH adds zero Exchanges (checked at depth 3 and 5)."""
    from casualty_linking_spark.operators.events import funnel

    e = spark.createDataFrame(
        [(1, 7, "view")], "event_id long, user_id long, event_type string"
    ).withColumn("ts", F.current_timestamp())
    for steps in [("view", "click", "purchase"),
                  ("view", "click", "signup", "purchase", "error")]:
        plan = _plan(funnel(e, steps=steps))
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hopping_rollup_single_shuffle(spark):
    """hopping_rollup: the 2x window expansion happens map-side before one
    partial-aggregated Exchange — never a join or a second scan."""
    from casualty_linking_spark.operators.events import hopping_rollup

    e = spark.createDataFrame(
        [(1, "a", 1.0)], "event_id long, event_type string, value double"
    ).withColumn("ts", F.current_timestamp())
    plan = _plan(hopping_rollup(e))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_kmv_sketch_bounded_exchanges(spark):
    """approx_distinct_kmv: map-side partial distinct, k-smallest window on
    the distinct table, final agg on the window's own partitioning — no
    joins, at most the two key Exchanges."""
    from casualty_linking_spark.operators.events import approx_distinct_kmv

    e = spark.createDataFrame([(1, 7, "a")], "event_id long, user_id long, event_type string")
    plan = _plan(approx_distinct_kmv(e))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_value_histogram_single_shuffle(spark):
    """value_histogram: one map-side-combined Exchange, never a join."""
    from casualty_linking_spark.operators.events import value_histogram

    e = spark.createDataFrame([(1, "a", 1.0)], "event_id long, event_type string, value double")
    plan = _plan(value_histogram(e))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_key_skew_topk_is_partial_take_ordered(spark):
    """The heavy-hitter diagnostic must plan a distributed partial top-k
    (TakeOrderedAndProject) BEFORE its rank window, so the single-partition
    window only ever sees the 20 survivors — never the full key frame."""
    from casualty_linking_spark.queries import q_events_key_skew

    plan = _plan(q_events_key_skew(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject(limit=20" in plan, plan
    w = plan.index("Window")
    t = plan.index("TakeOrderedAndProject")
    assert w < t, "rank window must consume the top-k output, not precede it"


def test_zscore_stats_join_is_broadcast(spark):
    """The per-type stats frame must broadcast back onto the event stream —
    a shuffled join here would re-exchange the full input for a <100-row
    dimension."""
    from casualty_linking_spark.operators.events import zscore_outliers

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(zscore_outliers(events))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_toolseq_two_shuffles_no_python(spark):
    """Tool-sequence mining: one exchange to conv_id, one to the sequence
    string, zero Python in the plan."""
    from casualty_linking_spark import synth
    from casualty_linking_spark.operators.text_analysis import tool_call_sequences

    plan = _plan(tool_call_sequences(synth.transcripts_range(spark, 50)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_market_share_fact_never_shuffles_pre_rollup(spark):
    """Q8-shaped market share: every dimension (filtered part, the
    customer->nation->region chain, supplier-nation) broadcasts; the only
    Exchange in the plan is the final per-year rollup, and the part-type /
    region predicates reach the parquet scans."""
    from casualty_linking_spark.queries import q_olap_market_share

    plan = _plan(q_olap_market_share(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EqualTo(p_type,PROMO)" in plan, plan
    assert "EqualTo(r_name,ASIA)" in plan, plan


def test_promo_revenue_single_scan_single_shuffle(spark):
    """Q14-shaped promo share: one lineitem scan with the shipdate range
    pushed down, one broadcast join against part, one rollup Exchange."""
    from casualty_linking_spark.queries import q_olap_promo_revenue

    plan = _plan(q_olap_promo_revenue(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan, plan


def test_ohlc_and_twa_single_exchange(spark):
    """ohlc_downsample: min_by/max_by partial-aggregate map-side, so the
    whole candlestick compaction is ONE Exchange and no Join.
    time_weighted_average: the lead window partitions by (ws, event_type)
    and the groupBy reuses that partitioning — one Exchange total."""
    from casualty_linking_spark.operators.events import (
        ohlc_downsample,
        time_weighted_average,
    )

    e = spark.createDataFrame(
        [(1, "a", 1.0)], "event_id long, event_type string, value double"
    ).withColumn("ts", F.current_timestamp())
    for op in (ohlc_downsample, time_weighted_average):
        plan = _plan(op(e))
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_minhash_signature_is_projection_not_aggregate(spark):
    """r6 reshape: the minhash signature is a per-row projection with the
    shingle array LET-BOUND (transform over a one-element array), not the
    explode + string-min SortAggregate shape — no per-(doc,shingle) shuffle
    and no sort-based aggregation anywhere in the band build. Also guards
    the let-binding itself: if an optimizer rule ever beta-reduces
    element_at(transform(array(x), f), 1) back into an inlined lambda body,
    the shingle subtree would appear once PER MINHASH and this count blows
    past the two join sides."""
    from casualty_linking_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs))
    assert "SortAggregate" not in plan, plan
    # one shingle computation per join side (and with exchange reuse only
    # one side executes) — NOT one per minhash seed
    assert plan.count("array_sort(array_distinct") <= 2, plan


def test_occupation_scorer_single_python_eval(spark):
    """r6 fix (guide §4.4): the jaro_winkler pandas UDF must appear in ONE
    ArrowEvalPython node — the filter on its output previously duplicated
    the evaluation (two Python-boundary crossings per candidate pair)."""
    from casualty_linking_spark import dims, synth
    from casualty_linking_spark.operators import extract, records as R
    from casualty_linking_spark.operators.link_occupations import link_occupations

    rec = R.build_records(
        extract.mentions_to_raw_records(
            extract.extract_mentions(synth.transcripts_range(spark, 50))
        )
    )
    plan = _plan(link_occupations(rec, dims.dim_occupations(spark)))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_person_scorer_single_python_eval(spark):
    """Both name Jaro-Winkler scores of a person candidate pair come from
    ONE struct-returning pandas UDF, and the score filter cannot clone it:
    a single *EvalPython node in the scored-pairs plan (one Arrow round trip
    per batch instead of two), with each score equal to the scalar
    reference."""
    from casualty_linking_spark.functions.similarity import jaro_winkler_py
    from casualty_linking_spark.operators.link_persons import score_pairs

    pairs = spark.createDataFrame(
        [
            ("Matti", "Virtanen", "Matti", "Virtanen"),
            ("Mätti", "Korhonen", "Matti", "Korhonén"),
            (None, "Laine", "Juho", None),
        ],
        "given string, family string, a_given string, a_family string",
    ).selectExpr(
        "*", "'1900-01-01' AS birth_iso", "'1941-07-01' AS death_iso",
        "array('r') AS `rank`", "3 AS rank_level", "array('m') AS birth_place",
        "array('u') AS units", "'1900-01-01' AS a_birth", "'1941-07-01' AS a_death",
        "'r' AS a_rank", "3 AS a_rank_level", "'m' AS a_place", "'u' AS a_unit",
    )
    scored = score_pairs(pairs).where("score >= 0.0")
    plan = _plan(scored)
    assert plan.count("EvalPython") == 1, plan

    def jw(a, b):
        a, b = (a or "").lower(), (b or "").lower()
        return jaro_winkler_py(a.encode("utf-8").decode("latin-1"), b.encode("utf-8").decode("latin-1"))

    for r in scored.collect():
        assert r["jw_given"] == pytest.approx(jw(r["given"], r["a_given"]), abs=1e-12)
        assert r["jw_family"] == pytest.approx(jw(r["family"], r["a_family"]), abs=1e-12)
