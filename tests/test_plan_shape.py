"""Plan-shape assertions — the 100 TB design invariants (SURVEY.md §4):
filters push into parquet scans, projections prune ReadSchema,
dimension joins broadcast. These fail if a refactor silently degrades
a plan even when results stay correct."""

from __future__ import annotations

import __spark_entry__ as E
from oracle_to_cassandra_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from tests.conftest import SF_DIR


def test_filter_pushes_down_to_scan(spark):
    df = E.queries()["filter_eq_string"](spark, SF_DIR)
    fs = pushed_filters(df)
    assert any("event_type" in f for f in fs), f"no pushed filter on event_type: {fs}"


def test_point_lookup_pushes_down(spark):
    df = E.queries()["point_lookup_customer"](spark, SF_DIR)
    fs = pushed_filters(df)
    assert any("c_custkey" in f for f in fs), f"no pushed filter on c_custkey: {fs}"


def test_projection_prunes_read_schema(spark):
    df = E.queries()["projection_orders"](spark, SF_DIR)
    schemas = read_schema_columns(df)
    assert schemas, "no scan found in plan"
    assert sorted(schemas[0]) == [
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    ], f"scan reads more than the projection: {schemas[0]}"


def test_denorm_join_broadcasts_dimension(spark):
    df = E.queries()["denorm_orders_by_customer"](spark, SF_DIR)
    assert has_broadcast_join(df), "dimension join did not broadcast"


def test_fk_chain_broadcasts(spark):
    df = E.queries()["fk_chain_walk"](spark, SF_DIR)
    assert has_broadcast_join(df), "FK-chain dimension hops did not broadcast"


def test_topk_uses_take_ordered(spark):
    from oracle_to_cassandra_spark.plans import formatted_plan

    df = E.queries()["top_orders_limit"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in formatted_plan(df), (
        "global top-k did not plan as TakeOrderedAndProject "
        "(would global-sort at scale)"
    )


def test_ivf_recall_fused_plan_bounds_exchanges(spark):
    """The recall audit scores the corpus once and derives both ranks
    from one window — the plan must stay ≤5 shuffle exchanges (it was
    9 when the BF and IVF arms each rebuilt their own pipeline)."""
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["similarity_ivf_recall_at_10"](spark, SF_DIR)
    n = exchange_count(df)
    assert n <= 5, f"ivf recall plan regressed to {n} exchanges"


def test_bigrams_single_shuffle(spark):
    """Corpus bigram counting is explode → partial-agg → one exchange;
    any extra shuffle means the zip_with rewrite regressed."""
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["top_bigrams_corpus"](spark, SF_DIR)
    n = exchange_count(df)
    assert n <= 1, f"bigram plan has {n} exchanges"


def test_bucketed_join_zero_shuffle(spark):
    """Same-bucketed tables must join with no Exchange on either side
    — the whole point of paying the bucketing cost at write time."""
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["bucketed_join_orders_customers"](spark, SF_DIR)
    n = exchange_count(df)
    assert n == 0, f"bucketed join shuffled ({n} exchanges)"


def test_range_join_binned_not_nested_loop(spark):
    """The interval join must attach a BROADCAST prefix-sum relation
    to the orders scan by equi-key — a BroadcastNestedLoopJoin means
    the rewrite regressed to the quadratic |orders| × |days|
    comparison, and a per-order aggregate (groupBy o_orderkey) means
    the exchange-free attach regressed to the r13 month-bin explode.
    (The r14 form keys a running sum on exact boundary TIMESTAMPS, so
    the r13 day-grid truncation the TEMPORAL stress axis caught cannot
    recur; see the query docstring.)"""
    from oracle_to_cassandra_spark.plans import formatted_plan

    df = E.queries()["range_join_shipments_after_order"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    # no aggregate keyed on o_orderkey anywhere: the per-order answer
    # must come straight off the broadcast join projection
    assert not re.search(r"HashAggregate\(keys=\[o_orderkey", plan), (
        "per-order aggregate crept back into the range join"
    )


def test_tfidf_bounded_exchanges(spark):
    """tf groupBy + df window + top-k window — all on the compact
    (doc, term) relation: ≤3 exchanges, no second token-stream pass."""
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["tfidf_top_terms"](spark, SF_DIR)
    n = exchange_count(df)
    assert n <= 3, f"tfidf plan has {n} exchanges"


def test_hyperplane_ann_single_shuffle(spark):
    """LSH-bucketed ANN is signature projection → bucket broadcast
    join → one top-k window exchange; more means the bucket equi-join
    degraded toward a corpus scan."""
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["similarity_hyperplane_ann_topk"](spark, SF_DIR)
    n = exchange_count(df)
    assert n <= 1, f"hyperplane ANN plan has {n} exchanges"


def test_simhash_near_stats_bounded_exchanges(spark):
    """Banded SimHash dedup (fingerprint-contracted): the per-doc
    fingerprint+group stats sit behind ONE lazy checkpoint that both
    the group-level and doc-level branches read — so the visible plan
    scans parquet exactly once (the final doc list) and contains NO
    fingerprint sign-sums (a band self-join or a non-checkpointed
    branch would splice the 48-sum aggregate back in — no CSE across
    plan branches). Exchange budget covers band-bucket shuffle, pair
    distinct, cross-degree agg, and the assembly joins."""
    import re

    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["dedup_simhash_near_stats"](spark, SF_DIR)
    n = exchange_count(df)
    assert n <= 8, f"simhash near-dup plan has {n} exchanges"
    plan = formatted_plan(df)
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 1, f"documents parquet-scanned {n_scans}x (want 1 + checkpoint)"
    n_ckpt = len(re.findall(r"Scan ExistingRDD|LogicalRDD", plan))
    assert n_ckpt >= 1, "fingerprint checkpoint missing from plan"
    assert plan.count("s0#") == 0, "fingerprint aggregate not behind the checkpoint"


def test_tpch_q19_no_shuffle_equi_join(spark):
    """Q19's disjunctive predicates must ride a broadcast equi-join on
    partkey as a residual — a BroadcastNestedLoopJoin (or any shuffle)
    means the OR broke the equi-key extraction."""
    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["tpch_q19_disjunctive_predicates"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert exchange_count(df) == 0, "Q19 should be broadcast-join + global agg"


def test_tpch_q5_single_shuffle(spark):
    """Q5's 6-way join: one lineitem⋈orders shuffle; every dimension
    edge (customer at test scale, supplier, nation, region) broadcasts."""
    from oracle_to_cassandra_spark.plans import exchange_count, has_broadcast_join

    df = E.queries()["tpch_q5_local_supplier_volume"](spark, SF_DIR)
    assert has_broadcast_join(df)
    n = exchange_count(df)
    assert n <= 2, f"Q5 plan has {n} exchanges"


def test_tpch_q21_bounded_exchanges(spark):
    """Q21's EXISTS/NOT-EXISTS pair is one per-order aggregate joined
    back — bounded exchanges, no correlated re-scan of lineitem."""
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["tpch_q21_waiting_suppliers"](spark, SF_DIR)
    n = exchange_count(df)
    assert n <= 4, f"Q21 plan has {n} exchanges"


def test_tpch_scalar_subqueries_broadcast_single_row(spark):
    """Q11/Q22 scalar thresholds cross-join a ONE-ROW aggregate — the
    BroadcastNestedLoopJoin in these plans is benign iff the build side
    is a global agg, and the rest of the plan stays exchange-bounded."""
    from oracle_to_cassandra_spark.plans import exchange_count

    for name in ("tpch_q11_important_stock", "tpch_q22_global_sales_opportunity"):
        df = E.queries()[name](spark, SF_DIR)
        n = exchange_count(df)
        assert n <= 2, f"{name} plan has {n} exchanges"


def test_global_aggregate_attach_is_bounded(spark):
    """Every query PLANS.md reports with a BroadcastNestedLoopJoin uses
    the global-aggregate-attach pattern (crossJoin of a 1-row aggregate
    or a literal spine) or a condition-ful non-equi broadcast — NEVER a
    true cartesian. Pin it structurally: every condition-less Join in
    those optimized plans must have a side Catalyst can statically
    bound (maxRows ≤ 4096) or an explicit broadcast hint (a deliberate
    small-side declaration — accidental cartesians carry neither). A
    drift to a real cartesian would still pass the oracle at test SF
    while being the 100 TB catastrophe class (r13 verdict item 8)."""
    import os
    import re

    from oracle_to_cassandra_spark.plans import cartesian_attach_violations

    plans_md = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    names = []
    with open(plans_md) as fh:
        for line in fh:
            m = re.match(r"\|\s*(\w+)\s*\|", line)
            if m and "BroadcastNestedLoopJoin" in line:
                names.append(m.group(1))
    assert names, "PLANS.md lists no BNLJ rows — parser or report drifted"
    qs = E.queries()
    violations = {}
    for name in names:
        bad = cartesian_attach_violations(qs[name](spark, SF_DIR))
        if bad:
            violations[name] = bad
    assert not violations, f"unbounded condition-less joins: {violations}"


def test_hll_union_rollup_single_branch(spark):
    """The sketch rollup must aggregate customer ONCE and derive the
    grand total from unioned segment sketches — a detail∪total union
    of two branches re-executes the scan+agg (no CSE across plan
    branches) and a count_distinct mixed into the sketch agg triggers
    multi-stage distinct planning (6 exchanges instead of 2)."""
    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["hll_sketch_union_rollup"](spark, SF_DIR)
    assert exchange_count(df) <= 2
    plan = formatted_plan(df)
    import re

    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 1, "customer scanned more than once"
    assert "hll_union_agg" in plan


def test_incremental_rollup_cutoff_pushes_down(spark):
    """The incremental-merge cutoff must reach the parquet scans as a
    pushed predicate on the stored ts column (a typed timestamp
    literal against the native timestamp[us] column) — a filter on a
    derived expression cannot push, silently turning the
    partition-range read into a full history scan."""
    df = E.queries()["incremental_rollup_merge"](spark, SF_DIR)
    fs = pushed_filters(df)
    assert any("LessThan(ts" in f for f in fs), f"no pushed cutoff: {fs}"
    assert any("GreaterThanOrEqual(ts" in f for f in fs), f"no pushed cutoff: {fs}"


def test_decontamination_join_is_broadcast(spark):
    """The benchmark shingle set must broadcast: a sort-merge plan
    would shuffle the full train-side shingle stream (the 100 TB
    scan) on h31 just to meet a tiny eval set."""
    import re

    from oracle_to_cassandra_spark.plans import formatted_plan

    df = E.queries()["decontamination_overlap"](spark, SF_DIR)
    plan = formatted_plan(df)
    joins = set(re.findall(r"\(\d+\) (\w*Join\w*)", plan))
    assert joins == {"BroadcastHashJoin"}, f"unexpected join strategy: {joins}"


def test_runtime_bloom_filter_injected(spark):
    """Under the at-scale confs, InjectRuntimeFilter must add a
    might_contain predicate on the fact side before its shuffle —
    the whole point of runtime_bloom_filtered_join."""
    from oracle_to_cassandra_spark.plans import formatted_plan
    from oracle_to_cassandra_spark.queries.scale_queries import (
        _BLOOM_CONFS,
        _bloom_join_plan,
    )

    prev = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        plan = formatted_plan(_bloom_join_plan(spark, SF_DIR))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan.lower(), "no runtime bloom filter in plan"


def test_reconciliation_aggregates_map_side(spark):
    """Each reconciliation side must reduce to bucket digests via a
    partial (map-side-combinable) aggregate before its exchange — a
    plan that shuffles row-level data between the sides would move
    100 TB per side instead of 50 digests. Expected shape: 2 scans,
    2 partial+final agg pairs, one bucket-sized join."""
    import re

    from oracle_to_cassandra_spark.plans import formatted_plan

    df = E.queries()["migration_bucket_reconciliation"](spark, SF_DIR)
    plan = formatted_plan(df)
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 2, f"{n_scans} scans (want one per side)"
    # one partial (map-side) bit_xor per side, each paired with a final
    # HashAggregate after its exchange: 2 partial digests, ≥4 aggregates
    n_partial = plan.count("partial_bit_xor(")
    assert n_partial == 2, f"{n_partial} partial_bit_xor aggs (want one per side)"
    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M))
    assert n_agg >= 4, f"{n_agg} HashAggregates (want partial+final per side)"


def test_zorder_audit_single_aggregation(spark):
    """The Z-address must stay codegen'd shift/mask arithmetic feeding
    ONE aggregate: a single exchange on file_bin, no UDF (pythonUDF /
    ArrowEval in the plan would mean the bit math fell out of
    codegen)."""
    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["zorder_layout_audit"](spark, SF_DIR)
    assert exchange_count(df) <= 1
    plan = formatted_plan(df)
    assert "pythonUDF" not in plan and "ArrowEval" not in plan


def test_pii_redaction_is_shuffle_free(spark):
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["pii_redaction_stats"](spark, SF_DIR)
    assert exchange_count(df) == 0, (
        "redaction must stay a per-row scan pass (regexp inside "
        "whole-stage codegen) — any exchange means a refactor added "
        "a corpus-sized shuffle to a map-only op"
    )


def test_oov_vocab_join_broadcasts(spark):
    df = E.queries()["oov_rate_top_vocab"](spark, SF_DIR)
    assert has_broadcast_join(df), (
        "top-K vocab must broadcast — a shuffle join here carries "
        "every token occurrence twice at 100 TB"
    )


def test_gopher_rules_single_exchange_no_python(spark):
    """The rule battery must stay higher-order built-ins on the scan:
    one source-keyed aggregation exchange, no Python eval nodes."""
    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["gopher_quality_rules"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan, (
        "rule battery fell out of codegen into Python"
    )
    assert exchange_count(df) <= 1, (
        f"{exchange_count(df)} exchanges (want ≤1: partial counts to source keys)"
    )


def test_pq_adc_broadcasts_codebook_and_dtab(spark):
    """PQ search must join the corpus codes against BROADCAST
    codebook/distance tables — a shuffle join there would move the
    whole encoded corpus for a few-KB build side."""
    from oracle_to_cassandra_spark.plans import formatted_plan

    df = E.queries()["similarity_pq_adc_topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Python" not in plan, "PQ plan contains Python stages"
    assert plan.count("BroadcastHashJoin") >= 2, (
        "codebook/distance-table joins are not broadcast"
    )
    assert "CartesianProduct" not in plan


def test_jl_projection_shuffles_only_for_topk(spark):
    """The projection itself is map-side; the only exchanges allowed
    are the probe-broadcast join plus the per-probe rank/aggregate."""
    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["jl_projection_recall_distortion"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Python" not in plan, "JL projection fell into Python"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "probe side is not broadcast"
    )
    assert exchange_count(df) <= 3, (
        f"{exchange_count(df)} exchanges (want ≤3: rank + aggregate)"
    )


def test_rrf_fusion_no_global_sort_before_limit(spark):
    """Each retrieval side must reach its candidate list through
    TakeOrderedAndProject (distributed top-k); the corpus-sized
    global-sort Window must never appear below the limits."""
    from oracle_to_cassandra_spark.plans import formatted_plan

    df = E.queries()["hybrid_rrf_retrieval"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, (
        "a retrieval side global-sorts instead of distributed top-k"
    )
    assert "Python" not in plan


def test_weighted_sample_no_global_window(spark):
    """The systematic sample's cumulative sum must stay block-local:
    no exchange may coalesce the corpus to a single partition (the
    only SinglePartition exchanges allowed are the 32-row offset
    table and the 1-row total), and shuffle count stays bounded."""
    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["weighted_systematic_sample"](spark, SF_DIR)
    assert exchange_count(df) <= 4, "cumsum stopped being block-parallel"
    plan = formatted_plan(df)
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_fertility_rollup_broadcasts_vocab(spark):
    """The per-lang fertility rollup must keep the encode's broadcast
    token->vocab join (a shuffle there re-sorts the whole corpus)."""
    from oracle_to_cassandra_spark.plans import exchange_count

    df = E.queries()["tokenizer_fertility_per_lang"](spark, SF_DIR)
    assert has_broadcast_join(df), "vocab join regressed to a shuffle join"
    assert exchange_count(df) <= 4


def test_width_sensitivity_no_cartesian(spark):
    """Two full dedup pipelines + a pair-key join: every join must be
    keyed (band collisions / pair keys), never a cross product of
    candidate sets."""
    from oracle_to_cassandra_spark.plans import formatted_plan

    plan = formatted_plan(
        E.queries()["shingle_width_sensitivity"](spark, SF_DIR)
    )
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_substring_dedup_bounded_exchanges_no_nested_loop(spark):
    """Substring-dedup spans: the anchor stage feeds two consumers
    through ONE staged scan; the duplicated-hash flag-back must be a
    hash join (broadcast or shuffle — never a nested loop), and the
    whole plan holds at ≤3 exchanges (dup-hash agg, span window sort,
    final per-doc agg)."""
    from oracle_to_cassandra_spark.plans import exchange_count, formatted_plan

    df = E.queries()["substring_dedup_span_coverage"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    n = exchange_count(df)
    assert n <= 3, f"substring dedup plan has {n} exchanges"


def test_substring_hot_passages_topk_is_take_ordered(spark):
    """The passage leaderboard must plan its top-20 as TakeOrdered —
    a global Sort of all passages would be the 100 TB regression."""
    from oracle_to_cassandra_spark.plans import formatted_plan

    df = E.queries()["substring_dedup_hot_passages"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan
