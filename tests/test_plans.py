"""Physical-plan assertions: the 100 TB posture, enforced.

These tests fail if a future change regresses predicate pushdown, column
pruning, broadcast strategy, top-k physicals, or sneaks a cartesian product
into a pairwise operator.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from fxa_amplitude_send_spark.plans import all_queries

QUERIES = all_queries()


def physical_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    plan = physical_plan(QUERIES["q_filter_pred"](spark, sf_smoke))
    assert "PushedFilters: [" in plan
    # at least the quantity comparison must be pushed into the parquet scan
    assert "LessThan(l_quantity" in plan


def test_column_pruning(spark, sf_smoke):
    plan = physical_plan(QUERIES["q_scan_project"](spark, sf_smoke))
    # the lineitem scan must not read unused columns like l_comment-ish ones
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" not in read_schema
    assert "l_returnflag" not in read_schema
    assert "l_extendedprice" in read_schema


@pytest.mark.parametrize("name", ["q_join_broadcast", "q_join_multi"])
def test_dimension_joins_broadcast(spark, sf_smoke, name):
    plan = physical_plan(QUERIES[name](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark, sf_smoke):
    plan = physical_plan(QUERIES["q_topk"](spark, sf_smoke))
    # global sort would be Sort + Exchange rangepartitioning; top-k must be
    # the bounded-heap physical operator
    assert "TakeOrderedAndProject" in plan


def test_range_join_not_cartesian(spark, sf_smoke):
    plan = physical_plan(QUERIES["q_join_range"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["llm_dedup_near", "llm_dedup_ngram", "llm_dedup_simhash", "llm_sim_ann"],
)
def test_pairwise_ops_join_on_derived_keys(spark, sf_smoke, name):
    """Every near-dup / ANN operator must pair rows via an equi-join on a
    derived key (band hash, token, chunk, bucket) — never a cross join."""
    plan = physical_plan(QUERIES[name](spark, sf_smoke))
    assert "CartesianProduct" not in plan, name


def test_event_pipeline_has_no_shuffle(spark, sf_smoke):
    """The reference pipeline is embarrassingly parallel: no Exchange may
    appear between scan and output (scales with scan bandwidth)."""
    plan = physical_plan(QUERIES["ref_event_pipeline"](spark, sf_smoke))
    assert "Exchange" not in plan


def test_hmac_runs_after_filter(spark, sf_smoke):
    """Round 9: the default pipeline hashes in the JVM, so the plan must
    carry ZERO Python eval nodes (that absence IS the optimization). The
    pandas fallback (hash_in_jvm=False) keeps the original discipline: the
    opaque UDF sits above the validity filter so Catalyst keeps the filter
    next to the scan (SURVEY.md §4.3 item 1)."""
    plan = physical_plan(QUERIES["ref_event_pipeline"](spark, sf_smoke))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan

    from fxa_amplitude_send_spark.operators.event_pipeline import event_pipeline
    from fxa_amplitude_send_spark.plans.flagship import (
        FLAGSHIP_HMAC_KEY,
        staged_payloads,
    )

    plan = physical_plan(
        event_pipeline(
            staged_payloads(spark, sf_smoke), FLAGSHIP_HMAC_KEY, hash_in_jvm=False
        )
    )
    lines = plan.splitlines()
    # formatted explain lists operators top-down; the filter node must appear
    # BELOW (later index in the numbered tree = closer to scan) — compare via
    # operator ids: Filter's id must be smaller than ArrowEvalPython's.
    import re

    def op_ids(substr):
        return [
            int(m.group(1))
            for l in lines
            if substr in l
            for m in [re.search(r"\((\d+)\)", l)]
            if m
        ]

    f_ids = op_ids("Filter")
    a_ids = op_ids("ArrowEvalPython")
    assert a_ids
    if f_ids:
        # lower operator id = closer to the scan in formatted explain
        assert min(f_ids) < min(a_ids)
    else:
        # no standalone Filter node → the predicate was evaluated inside the
        # scan itself (DataFilters), which is even lower than any UDF node
        assert "DataFilters: [" in plan and "isnotnull" in plan


def test_winsorize_single_scan_single_shuffle(spark, sf_smoke):
    """q_winsorize must read lineitem exactly once (window percentiles on
    the same pass, not aggregate-then-rejoin) and shuffle exactly once —
    the final groupBy reuses the window's hash partitioning."""
    import re

    plan = physical_plan(QUERIES["q_winsorize"](spark, sf_smoke))
    assert plan.count("lineitem.parquet") == 1
    # count Exchange NODES via the details-section headers "(n) Exchange"
    # (every operator is printed twice in formatted explain: tree + details)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_lateral_decorrelates_to_window(spark, sf_smoke):
    """The correlated LATERAL ORDER BY…LIMIT subquery must be decorrelated
    into a window/rank plan (WindowGroupLimit = the per-group top-k
    physical), never executed per outer row or as a cartesian product."""
    plan = physical_plan(QUERIES["q_join_lateral"](spark, sf_smoke))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_recursive_cte_uses_union_loop(spark, sf_smoke):
    """WITH RECURSIVE must compile to the iterative UnionLoop operator —
    each level is one join against the previous frontier, no driver loop."""
    plan = physical_plan(QUERIES["q_recursive_cte"](spark, sf_smoke))
    assert "UnionLoop" in plan


def test_agg_uses_partial_aggregation(spark, sf_smoke):
    plan = physical_plan(QUERIES["q_agg_group"](spark, sf_smoke))
    # two HashAggregate nodes (partial + final) around one Exchange
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark, sf_smoke):
    # q_scan_project has no AQE wrapper, so codegen spans are annotated in
    # the formatted plan (AQE plans defer codegen ids until finalization)
    plan = physical_plan(QUERIES["q_scan_project"](spark, sf_smoke))
    assert "[codegen id :" in plan  # formatted explain's codegen-span marker


def test_q18_topk_and_single_lineitem_pass(spark, sf_smoke):
    """The round-8 rewrite: the reporting SUM(l_quantity) per order IS the
    HAVING aggregate, so lineitem must be scanned exactly once (the old
    semi-join plan re-joined raw lineitem and re-summed it — a second
    600 M-row pass at sf100)."""
    plan = physical_plan(QUERIES["q_tpch_q18"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan       # top-100, not a global sort
    assert plan.count("lineitem.parquet") == 1   # aggregate reused, no re-join


def test_q21_semi_and_anti_joins(spark, sf_smoke):
    plan = physical_plan(QUERIES["q_tpch_q21"](spark, sf_smoke))
    assert "LeftSemi" in plan                    # EXISTS
    assert "LeftAnti" in plan                    # NOT EXISTS
    assert "CartesianProduct" not in plan


def test_q19_pushes_per_side_predicates(spark, sf_smoke):
    """The disjunction mixes part and lineitem columns; Catalyst must still
    push the implied per-side disjuncts to each scan (brand/size to part,
    quantity to lineitem) instead of filtering only above the join."""
    plan = physical_plan(QUERIES["q_tpch_q19"](spark, sf_smoke))
    # part scan: brand/size disjuncts pushed
    assert "EqualTo(p_brand,Brand#12)" in plan
    # lineitem scan: quantity range disjuncts pushed
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_smoke):
    plan = physical_plan(QUERIES["q_tpch_q22"](spark, sf_smoke))
    assert "LeftAnti" in plan                    # dormant-customer NOT EXISTS
    assert "BroadcastExchange" in plan           # scalar AVG broadcast


def test_q13_left_join_preserved(spark, sf_smoke):
    """The priority filter sits in the JOIN condition, not above the left
    join — a post-filter would silently drop zero-order customers."""
    plan = physical_plan(QUERIES["q_tpch_q13"](spark, sf_smoke))
    assert "LeftOuter" in plan


def test_q7_q8_broadcast_all_dims(spark, sf_smoke):
    """Nation appears twice (supplier-side and customer-side); both lookups
    plus region must be broadcast — no shuffle for dimension joins."""
    for name in ("q_tpch_q7", "q_tpch_q8"):
        plan = physical_plan(QUERIES[name](spark, sf_smoke))
        assert plan.count("BroadcastHashJoin") >= 2, name
        assert "CartesianProduct" not in plan, name


def test_salted_aggregate_two_phase(spark, sf_smoke):
    """q_agg_salted must show the two-phase shape: a (key, salt) partial
    aggregation shuffle followed by the per-key merge — i.e. the salt column
    appears in the first hashpartitioning and two aggregate pairs exist."""
    plan = physical_plan(QUERIES["q_agg_salted"](spark, sf_smoke))
    assert "_salt" in plan
    # each groupBy contributes a partial+final HashAggregate pair
    assert plan.count("HashAggregate") >= 4
    salted_exchanges = [
        l for l in plan.splitlines() if "hashpartitioning" in l and "_salt" in l
    ]
    assert salted_exchanges, "first shuffle must partition on (key, _salt)"


def _broadcast_exchange_inputs(plan: str) -> list[str]:
    """Collect the `Input [...]` detail line of every BroadcastExchange node
    in a formatted explain (each node's details run until the next header)."""
    import re

    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    return [
        b
        for b in blocks
        if re.match(r"\(\d+\) BroadcastExchange", b)
    ]


@pytest.mark.parametrize("name", ["q_tpch_q21"])
def test_unfiltered_supplier_never_hint_broadcast(spark, sf_smoke, name):
    """supplier grows linearly with SF (sf x 10k rows): a hard broadcast hint
    on the unfiltered table would OOM at the 100 TB design point. With the
    size-based threshold disabled, any remaining BroadcastExchange comes from
    an explicit hint — none of them may carry supplier columns. (q8/q9 left
    this list in round 7b: their supplier projections now broadcast through
    the COUNT-GATED _broadcast_if_small — see the degrade test below — which
    is a stats decision, not a hard hint.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(QUERIES[name](spark, sf_smoke))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    exchanges = _broadcast_exchange_inputs(plan)
    assert exchanges, f"{name}: dimension hints (nation/region) should remain"
    for block in exchanges:
        assert "s_suppkey" not in block and "s_name" not in block, (
            f"{name}: supplier feeds a BroadcastExchange:\n{block}"
        )


def test_slim_broadcast_gate_degrades_past_cap(spark, sf_smoke):
    """_broadcast_if_small is the 100 TB safety: under the row cap the build
    is hint-broadcast; PAST the cap the relation is returned untouched, so
    the join falls back to whatever the planner would have done anyway —
    the executor-sized key sets of the true design point can never be
    force-shipped. Both directions pinned from the produced plan."""
    from fxa_amplitude_send_spark.plans.relational import (
        _broadcast_if_small,
        _t,
    )

    sup = _t(spark, sf_smoke, "supplier").select("s_suppkey")
    fact = _t(spark, sf_smoke, "lineitem").select("l_suppkey")

    small = fact.join(
        _broadcast_if_small(sup), F.col("s_suppkey") == F.col("l_suppkey")
    )
    assert "BroadcastExchange" in physical_plan(small)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = fact.join(
            _broadcast_if_small(sup, cap_rows=1),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        assert "BroadcastExchange" not in physical_plan(big)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_seq_pack_single_shuffle(spark, sf_smoke):
    """Window-per-source then rollup must reuse ONE hash partitioning on the
    shard key — a second exchange would double the shuffle at 100 TB."""
    import re

    plan = physical_plan(QUERIES["llm_seq_pack"](spark, sf_smoke))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" in plan


def test_unpivot_is_expand_after_aggregate(spark, sf_smoke):
    """melt must run on groups x metrics rows (post-aggregate Expand), never
    exploding the fact table row count."""
    import re

    plan = physical_plan(QUERIES["q_unpivot"](spark, sf_smoke))
    assert "Expand" in plan
    # the Expand consumes the aggregate output, so exactly one shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_tfidf_gets_window_topk_pushdown(spark, sf_smoke):
    """Spark's WindowGroupLimit must prune per-doc rows to the top-3 before
    the final window sort — without it every (doc, token) row sorts."""
    plan = physical_plan(QUERIES["llm_tfidf"](spark, sf_smoke))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan  # scalar N joins as broadcast


def test_funnel_is_two_aggregates_no_join(spark, sf_smoke):
    """The sequential funnel must compile to conditional aggregation — any
    join or window in the plan means the cheap formulation regressed."""
    plan = physical_plan(QUERIES["q_funnel"](spark, sf_smoke))
    assert "Join" not in plan
    assert "Window" not in plan


def test_sql_text_q5_no_cartesian(spark, sf_smoke):
    """The comma-join SQL text must analyze into equi-joins (Catalyst pulls
    the WHERE conjuncts into join conditions), never a cross product."""
    plan = physical_plan(QUERIES["q_tpch_q5"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stats_aggregates_are_single_exchange(spark, sf_smoke):
    """corr/regr/moments are mergeable-state aggregates: exactly one shuffle
    (map-side partials -> final), no window, no join."""
    import re

    for name in ("q_stat_corr", "q_stat_regression", "q_stat_moments"):
        plan = physical_plan(QUERIES[name](spark, sf_smoke))
        # formatted plans print each operator in the tree AND a detail
        # section — count only the numbered detail entries
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges <= 1, f"{name}: {n_exchanges} exchanges"
        assert "Join" not in plan, name


def test_pagerank_iterations_broadcast_ranks(spark, sf_smoke):
    """Each PageRank iteration joins the O(nodes) rank table to the edge
    list — ranks must broadcast (3 iterations => >=3 broadcast joins) and
    nothing may degenerate to a cartesian product."""
    plan = physical_plan(QUERIES["q_graph_pagerank"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_source_roundtrips_prune_columns(spark, sf_smoke):
    """The ORC readback must keep columnar pruning: the aggregate reads only
    the 3 referenced columns."""
    plan = physical_plan(QUERIES["q_source_orc"](spark, sf_smoke))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" in read_schema
    assert "l_shipdate" not in read_schema


def test_bucketed_join_has_no_exchange_on_join_sides(spark, sf_smoke):
    """With broadcast disabled, the bucketed fact/dim join must plan as a
    bucket-aligned SortMergeJoin with NO Exchange feeding either side (the
    only exchange allowed is the post-join aggregation's)."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = physical_plan(QUERIES["q_join_bucketed"](spark, sf_smoke))
        assert "SortMergeJoin" in plan
        # the SMJ children are bucketed scans: at most one exchange total
        # (the final groupBy), never two join-side exchanges
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges <= 1, f"{n_exchanges} exchanges — bucketing ignored"
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_no_cartesian_product_in_any_registered_query(spark, sf_smoke):
    """Blanket 100 TB guard over the ENTIRE registry: no query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only where the
    build side is a scalar aggregate or deliberately tiny relation (cross
    join with a 1-row total, a broadcast day-spine range join, the explicit
    cross-join demo) — never a data-sized side."""
    bnlj_allowed = {
        "q_join_cross",        # explicit bounded cross-join demo
        "q_scalar_subquery",   # 1-row AVG broadcast
        "q_tpch_q22",          # 1-row AVG broadcast
        "q_tpch_q2",           # 1-row supplier-count broadcast (partsupp derivation)
        "q_tpch_q11",          # same + 1-row national-total broadcast
        "q_tpch_q16",          # 1-row supplier-count broadcast (partsupp derivation)
        "q_tpch_q20",          # 1-row supplier-count broadcast (partsupp derivation)
        "q_tpch_q9_full",      # 1-row supplier-count broadcast (partsupp derivation)
        "q_join_bloom",        # 1-row bloom-bitmap broadcast
        "q_rolling_distinct",  # O(days) spine broadcast, BETWEEN range join
        "q_rolling_distinct_hll",  # same spine join over O(days) HLL sketches
        "llm_sim_topk",        # broadcast single query vector
        "llm_knn_label_exact", # broadcast bounded query set (<=21 rows at
                               # every SF by construction)
        "llm_cluster_assign",  # broadcast fixed centroid list
        "llm_dedup_semantic",  # broadcast fixed centroid list (SemDeDup assign)
        "q_theta_sketch",      # 1-row theta/exact-count scalar broadcasts
        "llm_dedup_quality",   # broadcast scalar truth/estimate totals
        "llm_source_drift",    # cross join of per-source and global scalars
        "llm_tfidf",           # 1-row corpus-N broadcast
        "llm_vocab_build",     # 1-row token-total broadcast
        "llm_bm25",            # 1-row (N, avgdl) corpus-stats broadcast
        "llm_mix_temperature", # 1-row (N, denom) mixing-stats broadcast
        "llm_hard_negatives",  # broadcast bounded anchor batch (a training
                               # batch by construction), one corpus scan
    }
    # The registry's GATE queries run real lifecycles (writes + commits)
    # when their builder is called, so auditing 296 plans serially is
    # minutes of driver-idle tail. Independent queries overlap fine inside
    # one SparkSession (guide §2.6): a small thread pool keeps the
    # scheduler busy and cuts the audit's wall clock several-fold. Each
    # gate writes under its own per-thread staging.scratch dir, so
    # concurrent gates never collide.
    from concurrent.futures import ThreadPoolExecutor

    # NOT physical_plan(): that captures explain() via redirect_stdout,
    # which is process-global — concurrent explains would interleave into
    # each other's buffers (observed: phantom BNLJ offenders). Fetch the
    # plan string straight from the JVM instead.
    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def audit(item):
        name, fn = item
        plan = fn(spark, sf_smoke)._jdf.queryExecution().explainString(fmt)
        out = []
        if "CartesianProduct" in plan:
            out.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_allowed:
            out.append((name, "BroadcastNestedLoopJoin"))
        return out

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(audit, sorted(QUERIES.items())))
    offenders = sorted(o for out in results for o in out)
    assert not offenders, offenders


def test_keep_latest_single_window_shuffle(spark, sf_smoke):
    """CDC keep-latest is ONE row_number window: a single exchange on the
    entity key, no join."""
    import re

    plan = physical_plan(QUERIES["q_dedup_keep_latest"](spark, sf_smoke))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 1
    assert "Join" not in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_smoke):
    """The eval-set gram side is tiny by definition and must broadcast onto
    the corpus gram stream — never the reverse, never a cartesian."""
    plan = physical_plan(QUERIES["llm_decontaminate"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_single_corpus_scan(spark, sf_smoke):
    """llm_dedup_span consumes the SHARED ranked-gram artifact — zero
    direct corpus scans in ITS plan (the one documents scan + gh shuffle
    happens once per corpus when the artifact materializes, amortized
    across the whole span family — round-6 verdict item 8)."""
    plan = physical_plan(QUERIES["llm_dedup_span"](spark, sf_smoke))
    assert plan.count("documents.parquet") == 0
    assert "fxa_spark_grams_" in plan, "must read the shared gram artifact"
    assert "CartesianProduct" not in plan


def test_span_removal_text_never_explodes_into_shuffle(spark, sf_smoke):
    """llm_dedup_span_removal: the document text shuffles once intact (the
    doc_id join); removal positions travel as per-doc arrays, so there is
    no exploded token-stream exchange. ONE corpus scan (the rebuild source)
    — duplication facts come from the shared ranked-gram artifact."""
    import re

    plan = physical_plan(QUERIES["llm_dedup_span_removal"](spark, sf_smoke))
    assert plan.count("documents.parquet") == 1
    assert "fxa_spark_grams_" in plan, "must read the shared gram artifact"
    # removal groupBy + doc_id join sides = bounded (gh window amortized away)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 3


def test_span_family_shares_one_gram_artifact(spark, sf_smoke):
    """The three span-family queries must resolve to the SAME materialized
    gram table for one corpus (one gh shuffle per corpus, not per query),
    and the artifact must carry only resolved facts — no 32-byte hashes."""
    from fxa_amplitude_send_spark.plans.corpus import _ranked_gram_table

    t1 = _ranked_gram_table(spark, sf_smoke)
    t2 = _ranked_gram_table(spark, sf_smoke)
    assert t1.inputFiles() == t2.inputFiles(), "cache must reuse the artifact"
    assert set(t1.columns) == {"doc_id", "pos", "cnt", "rn"}


def test_skyline_broadcasts_thresholds_no_fact_self_join(spark, sf_smoke):
    """q_skyline: the dominance test is a BROADCAST of the domain-sized
    per-size aggregate onto one part scan — never a part×part self-join."""
    plan = physical_plan(QUERIES["q_skyline"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert plan.count("part.parquet") == 2  # scan + tiny aggregate source
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_attribution_single_pass_no_conversion_join(spark, sf_smoke):
    """q_attribution computes both models from one union + one window —
    there must be NO join between conversions and touches."""
    plan = physical_plan(QUERIES["q_attribution"](spark, sf_smoke))
    assert "Join" not in plan  # no join operator of any kind
    assert plan.count("Window") >= 1


def test_survivorship_is_one_aggregate_no_windows(spark, sf_smoke):
    """q_survivorship: latest-non-null per attribute via struct-max — a
    plain partial+final aggregate, no window, no join."""
    plan = physical_plan(QUERIES["q_survivorship"](spark, sf_smoke))
    assert "Window" not in plan and "Join" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_triangles_all_joins_are_equi(spark, sf_smoke):
    """q_graph_triangles: wedge generation and closure are equi-joins (the
    degree-ordered forward algorithm); no BNLJ/cartesian anywhere."""
    plan = physical_plan(QUERIES["q_graph_triangles"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curriculum_global_ntile_documented_single_partition(spark, sf_smoke):
    """llm_curriculum's NTILE is a deliberate single-ordering window (the
    docstring names the approx-percentile-boundary replacement for 100 TB).
    Pin the shape: exactly ONE exchange — the global sort — and the per-tier
    rank window rides the same distribution (SinglePartition satisfies any
    clustering) instead of paying a second shuffle."""
    import re

    plan = physical_plan(QUERIES["llm_curriculum"](spark, sf_smoke))
    assert plan.count("Window") >= 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_bm25_filters_before_tf_aggregate_and_broadcasts_stats(spark, sf_smoke):
    """llm_bm25: the query-term filter must land BELOW the (doc_id, token)
    aggregate (shuffled volume O(matching tokens), not O(corpus tokens)),
    and corpus stats / df join in as broadcasts. The dl/tf aggregates are
    localCheckpointed in the full query (each feeds two consumers — the
    checkpoint halves the corpus-explode passes), which removes their
    subtree from the final plan text, so the filter discipline is pinned on
    the RAW pre-checkpoint tf frame and the broadcast/no-cartesian shape on
    the full query."""
    plan = physical_plan(QUERIES["llm_bm25"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # checkpoint boundaries present: the token explode must NOT appear twice
    # in the final plan (it runs inside the checkpointed subtrees)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    import re

    from fxa_amplitude_send_spark.plans.training import _bm25_dl_tf
    from fxa_amplitude_send_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    tf_plan = physical_plan(_bm25_dl_tf(docs, ["hash", "join", "stream"])[1])
    m_filter = re.search(
        r"\((\d+)\) Filter[\s\S]*?token#\d+ IN \(hash,join,stream\)", tf_plan
    )
    assert m_filter, "query-term IN filter missing from the tf subtree plan"
    # node ids are assigned from the scan upward, so "filter below the
    # aggregate" = the filter's id is SMALLER than the (first = partial)
    # HashAggregate's
    m_agg = re.search(r"\((\d+)\) HashAggregate", tf_plan)
    assert m_agg and int(m_filter.group(1)) < int(m_agg.group(1)), (
        "IN filter must sit below the (doc_id, token) aggregate"
    )


def test_hard_negatives_broadcasts_anchors_single_scan_topk(spark, sf_smoke):
    """llm_hard_negatives: bounded anchor batch broadcasts; per-anchor top-5
    is a window, not a sort of the whole cross product."""
    plan = physical_plan(QUERIES["llm_hard_negatives"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_fuzzy_match_dedups_before_compare(spark, sf_smoke):
    """q_fuzzy_match (post scale-fix): a HashAggregate (title dedup) must sit
    below the levenshtein join, and the final result is one aggregate over
    candidates — no quadratic re-expansion back to documents."""
    plan = physical_plan(QUERIES["q_fuzzy_match"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan
    # dedup aggregate present: min(doc_id) partial/final pair keyed on title
    assert plan.count("HashAggregate") >= 4  # dedup pair + best-match pair


def test_sql_text_q4_semi_join_and_twin_equivalence(spark, sf_smoke):
    """q_tpch_q4 rides the SQL-text door: Catalyst must rewrite the
    correlated EXISTS into the left-semi join the DataFrame twin spells by
    hand (RewritePredicateSubquery) — and the two must agree row-for-row."""
    from fxa_amplitude_send_spark.plans.relational import (
        _q_tpch_q4_dataframe_twin,
    )

    door = QUERIES["q_tpch_q4"](spark, sf_smoke)
    plan = physical_plan(door)
    assert "LeftSemi" in plan, "EXISTS must decorrelate to a semi join"
    assert "CartesianProduct" not in plan

    twin = _q_tpch_q4_dataframe_twin(spark, sf_smoke)
    assert sorted(map(tuple, door.collect())) == sorted(map(tuple, twin.collect()))


def test_sql_text_q14_single_scan_grid_ratio(spark, sf_smoke):
    """q_tpch_q14's conditional ratio must stay one pass over lineitem (no
    second scan for the denominator) with both legs on the integer grid."""
    import re

    plan = physical_plan(QUERIES["q_tpch_q14"](spark, sf_smoke))
    n_lineitem_scans = len(
        re.findall(r"^\(\d+\) Scan parquet.*lineitem", plan, re.M)
    ) or plan.count("lineitem.parquet")
    assert n_lineitem_scans <= 1, f"{n_lineitem_scans} lineitem scans"


def test_pipeline_e2e_plan_posture(spark, sf_smoke):
    """The flagship composite: no cartesian product anywhere in the five
    chained stages and zero row-at-a-time Python in the final plan; the
    length-gate scan pushdown is pinned on the pre-checkpoint dedup frame
    (the survivor checkpoint — three downstream chains consume it, six
    documents scans otherwise — hides the scan from the final plan)."""
    plan = physical_plan(QUERIES["llm_pipeline_e2e"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan  # the survivor checkpoint boundary

    from fxa_amplitude_send_spark.plans.llm import _e2e_deduped
    from fxa_amplitude_send_spark.sources.tables import load_table

    ded_plan = physical_plan(_e2e_deduped(load_table(spark, sf_smoke, "documents")))
    assert "PushedFilters: [" in ded_plan
    assert "GreaterThanOrEqual(n_chars,100)" in ded_plan


def test_span_corruption_pure_expressions(spark, sf_smoke):
    """Objective construction is column expressions only — no Python UDF,
    no cartesian, exactly one shuffle (the per-doc re-aggregation)."""
    plan = physical_plan(QUERIES["llm_span_corruption"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # two physical shuffles: the doc_id re-agg + count-distinct expand
    assert plan.count(") Exchange") <= 2


def test_mor_read_plan_is_anti_join_with_pushdown(spark, sf_smoke, tmp_path):
    """The deletion-vector read path must keep the JVM-native posture:
    user filters pushed THROUGH the DV machinery to the parquet scan,
    tombstones applied as one hash anti-join (broadcast or shuffled —
    never a nested loop), no Python anywhere."""
    from fxa_amplitude_send_spark.sinks.versioned import (
        delete_snapshot_mor,
        read_snapshot,
        write_snapshot,
    )
    from fxa_amplitude_send_spark.sources import load_table

    p = str(tmp_path / "t")
    ev = load_table(spark, sf_smoke, "events").select("event_id", "value")
    write_snapshot(ev.repartition(4), p)
    delete_snapshot_mor(spark, p, "event_id % 5 = 0")
    df = read_snapshot(spark, p).filter("value > 90").select("event_id")
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert "GreaterThan(value,90.0)" in plan  # pushed through the DV join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_q18_bucketed_having_aggregate_is_exchange_free(spark, sf_smoke):
    """q_tpch_q18_bucketed's whole point: the HAVING SUM(l_quantity)
    aggregate over the l_orderkey-bucketed lineitem must plan with NO
    Exchange between the bucketed scan and the aggregate — the bucketed
    layout already satisfies the hash distribution, so the fact-sized
    shuffle q_tpch_q18 pays per run is pre-paid at write time. The
    reporting joins keep the big-order set on the broadcast side."""
    import re

    plan = physical_plan(QUERIES["q_tpch_q18_bucketed"](spark, sf_smoke))
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    # locate the HashAggregate whose key is l_orderkey and assert no
    # Exchange sits between it and the scan: in the formatted plan the
    # scan->agg leg appears as scan / (partial agg) / final agg with no
    # "Exchange hashpartitioning(l_orderkey..." node anywhere
    assert not re.search(r"Exchange hashpartitioning\(l_orderkey", plan), plan
    # the big-order set rides broadcast joins, never a fact-sized SMJ
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_ensure_bucketed_second_call_reuses_files_in_app(spark, sf_smoke, tmp_path):
    """The write-amortization contract within one Spark application: a
    second ensure_bucketed call with the same (table, key, sig) reuses the
    staged files without rewriting them, and the table it returns still
    plans bucket-aligned."""
    import glob
    import os
    import re
    from urllib.parse import urlparse

    from fxa_amplitude_send_spark.sinks.bucketed import ensure_bucketed
    from fxa_amplitude_send_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select("user_id", "value")
    sig = f"reuse-test-{os.path.basename(str(tmp_path))}"
    t1 = ensure_bucketed(spark, ev, "ev_reuse", "user_id", sig=sig)
    (loc,) = {os.path.dirname(urlparse(f).path) for f in t1.inputFiles()}
    assert os.path.basename(loc).startswith("fxa_spark_bucketed_"), loc
    stamps = {f: os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(loc, "*"))}
    n1 = t1.count()

    t2 = ensure_bucketed(spark, ev, "ev_reuse", "user_id", sig=sig)
    assert {os.path.dirname(urlparse(f).path) for f in t2.inputFiles()} == {loc}
    assert t2.count() == n1
    assert {
        f: os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(loc, "*"))
    } == stamps, "a second call in the same application must not rewrite"
    plan = physical_plan(t2.groupBy("user_id").agg({"value": "sum"}))
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    assert not re.search(r"Exchange hashpartitioning\(user_id", plan), plan
