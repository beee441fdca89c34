"""Plan-shape regression guards: the scale properties PLANS.md claims
(shuffle counts, broadcasts, pushdown) asserted on the EXECUTED plans,
so a refactor that silently adds an exchange or breaks pushdown fails
CI instead of surfacing at 100 TB."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _counts(df):
    p = _plan(df)
    bc = p.count("BroadcastExchange")
    # Round-robin exchanges are the DELIBERATE read-side input-skew
    # spread (entry_queries._spread / knn repartition, guide §2.5:
    # single-row-group fixture files scan as one task); they vanish at
    # real scale where the scan is already wide, so they are counted
    # separately from the operators' own (keyed) shuffles these tests
    # guard.
    rr = p.count("Exchange RoundRobinPartitioning")
    return {
        "shuffles": p.count("Exchange") - bc - rr,
        "spreads": rr,
        "broadcasts": bc,
        "plan": p,
    }


def test_pii_and_stratified_are_shuffle_free(spark):
    from cordon_spark import entry_queries as Q

    for name in ("pii_scrub", "stratified_sample"):
        c = _counts(Q.QUERIES[name](spark, SF_DIR))
        assert c["shuffles"] == 0, f"{name} grew a shuffle:\n{c['plan']}"


def test_pack_sequences_single_shuffle(spark):
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["pack_sequences"](spark, SF_DIR))
    assert c["shuffles"] == 1  # the keyed window cumsum, nothing else


def test_asof_join_single_shuffle_above_union(spark):
    """The operator itself must shuffle each side exactly once: one
    Exchange above the Union feeding the Window (the entry query adds
    one more for its right-side dedup agg, excluded here by building
    the operator input directly)."""
    from cordon_spark.operators.events import asof_join

    left = spark.createDataFrame([(1, 10, 100)], "event_id long, user_id long, us long")
    right = spark.createDataFrame([(10, 50, 1.0)], "user_id long, us long, pv double")
    c = _counts(asof_join(left, right, key_col="user_id", ts_col="us", value_cols=("pv",)))
    assert c["shuffles"] == 1, c["plan"]
    assert "Window" in c["plan"] and "Union" in c["plan"]


def test_windowed_segmentation_single_shuffle(spark):
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["window_segment"](spark, SF_DIR))
    assert c["shuffles"] == 1, c["plan"]
    # the one keyed exchange is the groupBy's own requirement, not an
    # explicit repartition, and the map-side combine (the partial
    # aggregation) runs below it
    keyed = [ln for ln in c["plan"].splitlines() if "Exchange hashpartitioning" in ln]
    assert len(keyed) == 1 and "REPARTITION_BY_NUM" not in keyed[0], c["plan"]
    assert "partial_min(turn_idx" in c["plan"].split(keyed[0], 1)[1], c["plan"]


def test_spread_decides_without_footers(spark, tmp_path, monkeypatch):
    """_spread opens no parquet footer when the scan decides: a wide
    many-file scan plans unchanged, a one-file scan narrower than the
    cluster is spread."""
    from cordon_spark import entry_queries as Q

    def no_footers(path):
        raise AssertionError(f"footer read under {path}")

    monkeypatch.setattr(Q, "_row_groups", no_footers)
    n_slots = spark.sparkContext.defaultParallelism
    wide, narrow = str(tmp_path / "wide"), str(tmp_path / "narrow")
    spark.range(0, 1000, numPartitions=2 * n_slots).write.parquet(wide)
    spark.range(0, 1000, numPartitions=1).write.parquet(narrow)

    scan = spark.read.parquet(wide)
    assert scan.rdd.getNumPartitions() >= n_slots
    assert _counts(Q._spread(scan, wide))["spreads"] == 0
    assert _counts(Q._spread(spark.read.parquet(narrow), narrow))["spreads"] == 1


def test_scan_pushdown_reaches_parquet(spark):
    """Filters and column pruning must reach the parquet scan: the
    brief's explicit requirement (a scan reading all columns for a
    2-column projection is wrong)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in p


def test_dedup_minhash_no_cartesian(spark):
    """The r1 regression that must never come back: the minhash plan
    contains no CartesianProduct / BroadcastNestedLoopJoin."""
    from cordon_spark import entry_queries as Q

    p = _plan(Q.QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_knn_score_zero_shuffle(spark):
    """Broadcast-matrix kNN scoring is a pure map: no exchange at all."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["knn_score"](spark, SF_DIR))
    assert c["shuffles"] == 0, c["plan"]


def test_tfidf_single_corpus_aggregation_skew_safe_df(spark):
    """TF-IDF: the corpus-side (doc, term) aggregation must be
    COMPUTED exactly once (persisted tf — both consumers read the
    same InMemoryRelation, i.e. one distinct plan_id for the
    doc_id+term exchange even though the cached-plan repr prints
    twice), and document frequency must be a skew-safe partial-agg
    hash aggregation joined back by broadcast — NEVER a
    whole-partition window on the Zipfian term key (a window has no
    map-side combine: a stopword's posting list lands in one task at
    scale)."""
    import re

    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["tfidf_terms"](spark, SF_DIR)
    df.count()  # materialize so the cache + final AQE plan are real
    c = _counts(df)
    plan = c["plan"]
    # no window partitioned by term anywhere in the plan
    assert "windowspecdefinition(term" not in plan, plan
    # tf is persisted and read back by both consumers
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the (doc, term) corpus exchange is ONE physical subtree: every
    # EXECUTED occurrence (under a ShuffleQueryStage; the AQE repr's
    # "Initial Plan" echo is pre-execution text) carries the same
    # plan_id
    ids = set(
        re.findall(
            r"ShuffleQueryStage \d+\s*\n\s*\+- Exchange "
            r"hashpartitioning\(doc_id#\d+L?, term#\d+,"
            r" \d+\), ENSURE_REQUIREMENTS, \[plan_id=(\d+)\]",
            plan,
        )
    )
    assert len(ids) == 1, (ids, plan)
    # df derived with a map-side-combined hash agg, broadcast back;
    # plus the 1-row n_docs broadcast
    assert re.search(r"HashAggregate\(keys=\[term#\d+\]", plan), plan
    assert c["broadcasts"] >= 2, plan


def test_char_entropy_shuffle_free(spark):
    """Entropy is a per-row sorted-run fold: zero exchanges."""
    from cordon_spark.functions.text import char_entropy_cols

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    c = _counts(char_entropy_cols(df).select("doc_id", "char_entropy"))
    assert c["shuffles"] == 0, c["plan"]


def test_tpch_q5_broadcast_chain_and_fact_shuffles(spark):
    """Local-supplier-volume (Q5 shape): the region->nation->supplier
    dimension chain must ride broadcasts (3 BroadcastExchanges: region
    into nation, nation into supplier, supplier chain into the fact
    stream) and the three big tables must join with only their two
    unavoidable exchanges (custkey, orderkey) plus the final 25-row
    n_name agg — no extra shuffle, and the order-date filter reaches
    the orders parquet scan."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["tpch_local_supplier_volume"](spark, SF_DIR))
    assert c["broadcasts"] >= 3, c["plan"]
    # custkey + orderkey joins, n_name agg, final orderBy range
    # exchange — anything beyond that is a plan regression
    assert c["shuffles"] <= 4, c["plan"]
    assert "PushedFilters" in c["plan"] and "o_orderdate" in c["plan"]


def test_tpch_q18_single_fact_agg_no_fact_shuffle_joins(spark):
    """Large-orders (Q18 shape): ONE lineitem aggregation exchange is
    the only fact shuffle — the qualifying set and its orders join
    ride broadcasts into the orders/customer scans (2 broadcast
    joins), so neither big table ever shuffles."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["tpch_large_orders"](spark, SF_DIR))
    assert c["broadcasts"] >= 2, c["plan"]
    assert c["shuffles"] <= 1, c["plan"]  # the l_orderkey agg only


def test_pq_encode_shuffle_free_and_pq_ann_single_window_exchange(spark):
    """PQ: encoding a corpus is a map-only job (zero exchanges — the
    property that makes 100 TB encode embarrassingly parallel), and
    the full pq_ann query adds only the broadcast of the query set
    plus the per-query top-k window exchange."""
    import numpy as np

    from cordon_spark.entry_queries import _normalized_vectors, _pq_books
    from cordon_spark.operators.similarity import pq_ann, pq_encode

    vecs = _normalized_vectors(spark, SF_DIR)
    c = _counts(pq_encode(vecs, _pq_books()))
    assert c["shuffles"] == 0, c["plan"]
    c2 = _counts(pq_ann(vecs.filter("vec_id < 5"), vecs, _pq_books(), k=3))
    assert c2["broadcasts"] >= 1, c2["plan"]
    assert c2["shuffles"] <= 1, c2["plan"]  # the top-k window only


def test_split_dataset_shuffle_free(spark):
    """Hash-split is a pure projection: zero exchanges."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["split_dataset"](spark, SF_DIR))
    assert c["shuffles"] == 0, c["plan"]


def test_token_budget_sample_single_shuffle(spark):
    """One keyed window cumsum per shard: exactly one exchange."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["token_budget_sample"](spark, SF_DIR))
    assert c["shuffles"] == 1, c["plan"]


def test_tpch_q3_broadcast_dim_and_pushdown(spark):
    """Shipping-priority join: the filtered customer dimension
    broadcasts; the date predicates reach the parquet scans."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["tpch_shipping_priority"](spark, SF_DIR)
    c = _counts(df)
    assert c["broadcasts"] >= 1, c["plan"]
    assert "PushedFilters" in c["plan"]
    assert "l_shipdate" in c["plan"] and "o_orderdate" in c["plan"]


def test_tpch_q7_broadcast_nation_roles_and_pushdown(spark):
    """Volume-shipping (Q7 shape): both nation roles ride broadcasts
    (the pair-filtered supplier chain into the fact scan, n2 closing
    the orientation predicate), the fact stream keeps to its two
    unavoidable key exchanges plus agg/sort, and the ship-date filter
    reaches the lineitem parquet scan."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["tpch_volume_shipping"](spark, SF_DIR)
    df.collect()
    c = _counts(df)
    assert c["broadcasts"] >= 2, c["plan"]
    assert c["shuffles"] <= 4, c["plan"]
    assert "PushedFilters" in c["plan"] and "l_shipdate" in c["plan"]


def test_semdedup_single_pair_exchange_family(spark):
    """SemDeDup: centroid assignment is a map-only mapInPandas pass,
    so the query's exchanges are the one shuffle on the cluster id plus
    the input's own — a bounded family that does NOT grow with the
    centroid count."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["semdedup"](spark, SF_DIR)
    df.collect()
    c = _counts(df)
    assert c["shuffles"] <= 5, c["plan"]


def test_substring_dup_spans_skew_safe(spark):
    """Substring dup spans: repeated-window detection must be a
    map-side-combined hash aggregation on the fingerprint (partial agg
    collapses a Zipfian hot window per-partition before the exchange)
    and the only window function runs partitioned by doc_id — never by
    the fingerprint key."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["substring_dup_spans"](spark, SF_DIR)
    df.count()
    c = _counts(df)
    plan = c["plan"]
    assert "windowspecdefinition(fp" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combine on fp
    # exchanges: fp agg, fp join side(s), doc window, final agg reuse —
    # bounded; the key property is NO unbounded growth
    assert c["shuffles"] <= 5, plan


def test_tpch_q4_semi_join_no_fact_blowup(spark):
    """Q4 shape: the EXISTS must execute as a LEFT SEMI join (probe
    stops at first match — no fact-x-fact multiplication, no Distinct
    operator anywhere), with the quarter filter pushed to the orders
    parquet scan and lineitem pruned to two columns."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["tpch_order_priority"](spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "Distinct" not in plan, plan
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in plan, plan  # pushed
    assert "ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp" in plan, plan


def test_tpch_q16_broadcast_anti_and_two_phase_distinct(spark):
    """Q16 shape: filtered part dim and the tiny exclusion set must
    both broadcast (one as LeftAnti), and the COUNT DISTINCT must run
    as the two-phase expand (partial aggregation on (keys, suppkey)
    before the exchange) — never a single-task collect_set."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["tpch_parts_supplier"](spark, SF_DIR)
    c = _counts(df)
    plan = c["plan"]
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "LeftAnti" in plan, plan
    assert "partial_count(distinct" in plan, plan  # two-phase distinct
    # exactly: (keys, suppkey) dedup exchange, (keys) final agg
    # exchange, rangepartitioning for the output order — nothing else
    assert c["shuffles"] == 3, plan


def test_rolling_metrics_single_exchange_range_frame(spark):
    """Rolling metrics: exactly ONE hash exchange (on user_id) and a
    RANGE frame evaluated inside the sorted partition — no self-join,
    no range-join explosion."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["rolling_metrics"](spark, SF_DIR)
    c = _counts(df)
    assert c["shuffles"] == 1, c["plan"]
    assert "Join" not in c["plan"], c["plan"]
    assert "specifiedwindowframe(RangeFrame" in c["plan"], c["plan"]


def test_argmax_single_hash_agg_no_window(spark):
    """argmax_event must be ONE map-side-combined hash aggregation —
    no Window, no Sort: struct-max keeps one row of state per key."""
    from cordon_spark import entry_queries as Q

    df = Q.QUERIES["argmax_event"](spark, SF_DIR)
    c = _counts(df)
    assert c["shuffles"] == 1, c["plan"]
    assert "Window" not in c["plan"], c["plan"]
    assert "partial_max" in c["plan"], c["plan"]


def test_cube_one_expand_one_exchange(spark):
    """CUBE: all four grouping sets via ONE Expand feeding ONE
    map-side-combined exchange — the expansion happens before the
    partial agg, so the shuffle carries group totals only."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["cube_rollup"](spark, SF_DIR))
    assert "Expand" in c["plan"], c["plan"]
    assert c["shuffles"] == 1, c["plan"]
    assert "partial_count" in c["plan"], c["plan"]


def test_group_median_no_window_single_exchange(spark):
    """Exact median per group: sort-based agg state inside the hash
    aggregation — no Window, no global Sort, one exchange."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["group_median"](spark, SF_DIR))
    assert c["shuffles"] == 1, c["plan"]
    assert "Window" not in c["plan"], c["plan"]


def test_pivot_explicit_values_single_exchange(spark):
    """Pivot with an explicit value list: one hash agg on user_id —
    no distinct-discovery pass, no extra exchange."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["pivot_event_counts"](spark, SF_DIR))
    assert c["shuffles"] == 1, c["plan"]


def test_funnel_one_sort_all_windows(spark):
    """Funnel depth rides ONE sorted exchange: k stacked Window ops,
    one Sort, and exactly the user-key + single-partition aggregate
    exchanges — never a per-step self-join over the event log."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["funnel_steps"](spark, SF_DIR))
    assert "Join" not in c["plan"]
    import re
    assert len(re.findall(r"\bSort\b", c["plan"])) == 1
    assert len(re.findall(r"\bWindow\b", c["plan"])) == 4


def test_cohort_retention_shared_key_shuffle(spark):
    """first-seen min-agg and the join back both key on user_id: the
    join must be a sort-merge/shuffle join reusing that partitioning
    (no broadcast needed, but also no third exchange family), and the
    final agg is the only additional exchange."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["cohort_retention"](spark, SF_DIR))
    # user-key exchanges (agg + join sides collapse under reuse) plus
    # the final (cohort_day, offset) agg and countDistinct expand:
    # anything > 4 means the shared partitioning broke
    assert c["shuffles"] <= 4, c["plan"]


def test_tpch_q13_filter_before_outer_join(spark):
    """The priority predicate must reach the orders parquet scan as a
    pushed filter (the Q13 rewrite), not run post-join where the outer
    join would have carried every order row."""
    from cordon_spark import entry_queries as Q

    c = _counts(Q.QUERIES["tpch_customer_distribution"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority" in c["plan"], c["plan"]


def test_centroid_scored_plan_is_one_map_in_pandas(spark):
    """Hash-backend centroid scoring runs kernel.centroid_scores_loo in
    one mapInPandas over the cached window rows: no broadcast join of a
    centroid table, no zip_with/aggregate fold, no embed UDF
    (ArrowEvalPython) — the only Python nodes are MapInPandas."""
    import re

    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import TEMPLATES, generate_transcripts
    from cordon_spark.plans.pipeline import analyze_transcripts

    pdf, _ = generate_transcripts(n_convs=4, mean_turns=40, seed=5, with_edge_cases=False)
    res = analyze_transcripts(
        spark, spark.createDataFrame(pdf), AnalysisConfig(scorer="centroid"), templates=TEMPLATES
    )
    p = _plan(res.scored_windows)
    res.unpersist()
    for node in ("BroadcastHashJoin", "zip_with(", "aggregate(", "ArrowEvalPython"):
        assert node not in p, f"{node} in centroid plan:\n{p}"
    python_nodes = set(re.findall(r"\b[A-Z]\w*(?:Python|Pandas|Arrow)\w*\b", p))
    assert python_nodes == {"MapInPandas"}, p


def test_route_and_render_join_on_conv_and_turn(spark, tiny_df):
    """Routing and rendering are one equi-join on (conv_id, turn_idx)
    with no residual condition: a log file is one conversation, and a
    `between` residual on a conv_id-only join compares each of its
    turns with every block."""
    import re

    from cordon_spark.operators.routing import render_blocks
    from cordon_spark.plans.pipeline import analyze_transcripts

    res = analyze_transcripts(spark, tiny_df)
    try:
        for df in (res.routed, render_blocks(tiny_df, res.blocks)):
            p = _plan(df)
            assert "NestedLoopJoin" not in p and "CartesianProduct" not in p, p
            line = next(ln for ln in p.splitlines() if "Join [" in ln)
            m = re.search(r"Join \[(.*?)\], \[(.*?)\], \w+(.*)", line)
            for keys in m.group(1, 2):
                assert re.findall(r"(\w+)#\d+", keys) == ["conv_id", "turn_idx"], line
            assert "(" not in m.group(3), line  # a join condition prints parenthesised
    finally:
        res.unpersist()
