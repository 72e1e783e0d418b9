"""Physical-plan audits: the plan properties the 100 TB design depends on,
asserted on the actual executed plans (SURVEY.md §4).

These catch silent regressions that correctness tests cannot: a filter that
stops pushing into the parquet scan, a dimension join that stops
broadcasting, a dedup that starts shuffling columns it doesn't need, or an
accidental cartesian product.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_politeness_single_host_shuffle(spark):
    """The token-bucket ranking must shuffle exactly once, on host."""
    plan = _plan(E.q_p1_politeness_token_bucket(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(host" in plan


def test_seen_anti_join_no_cartesian_and_anti(spark):
    df = E.q_j1_seen_anti_join_bloom(spark, SF)
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_first_occurrence_dedup_partial_aggregation(spark):
    """F1 as hash aggregate: map-side partial combine (two HashAggregate
    nodes around one exchange), never a sort."""
    plan = _plan(E.q_f1_first_occurrence_dedup(spark, SF))
    assert "Exchange hashpartitioning" in plan
    assert plan.count("Aggregate") >= 2


def test_minhash_lsh_no_cartesian(spark):
    """The LSH candidate join must be a bucket equi-join, not a cross."""
    plan = _plan(E.q_dedup_minhash_lsh(spark, SF))
    assert "CartesianProduct" not in plan


def test_robots_gate_jvm_broadcast_join(spark):
    """The robots gate keeps the rules DataFrame-resident: a broadcast hash
    join on host (no driver collect of the rules table) and a pure-JVM
    longest-prefix pick — zero Python eval, no cartesian."""
    plan = _plan(E.q_f6_robots_gate(spark, SF))
    assert "EvalPython" not in plan  # no pandas/Arrow UDF on the gate path
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_span_stats_whole_stage_codegen(spark):
    """A4 runs entirely in whole-stage codegen — no python, no shuffle."""
    plan = _plan(E.q_a4_span_stats(spark, SF))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_stratified_sample_no_window_sort(spark):
    """The per-stratum cumsum must be two-phase offsets over a range
    partitioning — never a window, which would serialize each stratum into
    one sort task (mirrors test_politeness_single_host_shuffle). Audits the
    OPERATOR plan: the entry query intentionally returns a materialized
    local relation so it can release the operator's load-bearing cache."""
    from delphi_crawler_spark.operators.corpus import stratified_token_sample

    docs = spark.read.parquet(SF + "/documents.parquet")
    out = stratified_token_sample(
        docs, budget_tokens=3000, stratum_col="lang", id_col="doc_id"
    )
    plan = _plan(out)
    out._release_stratified()
    assert "Window" not in plan
    assert "rangepartitioning" in plan


def test_corpus_segment_dedup_no_token_grain_explode(spark):
    """Segmentation happens in-row: exactly one Generate (the segment
    posexplode) per scan branch, never a token-level explode."""
    plan = _plan(E.q_corpus_segment_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    # two scan branches (segments + frequency) — at most one Generate each
    assert plan.count("Generate posexplode") <= 2


def test_exact_quantiles_no_window_no_global_sort(spark):
    """Exact quantiles must be the two-phase shape: value-grain hash-agg +
    range partitioning — never a window or a single-partition global sort.
    Audits the OPERATOR plan (the entry query returns a materialized local
    relation so it can release the operator's load-bearing cache)."""
    from delphi_crawler_spark.operators.quantiles import exact_quantiles

    ev = spark.read.parquet(SF + "/events.parquet").select("event_type", "value")
    out = exact_quantiles(ev, "value", [0.5, 0.95], by="event_type")
    plan = _plan(out)
    out._release_quantiles()
    assert "Window" not in plan
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_inverted_index_partial_agg_no_count_distinct(spark):
    """df must come from the already-distinct (term,doc) grain — the plan
    has plain hash aggregates only, no distinct-expand."""
    plan = _plan(E.q_corpus_inverted_index(spark, SF))
    assert "Expand" not in plan  # count-distinct rewrites insert Expand
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_shard_plan_single_agg_exchange(spark):
    """Shard assignment is a pure projection; the only wide op is the
    N-row balance agg (plus its broadcast scalar total)."""
    plan = _plan(E.q_corpus_shard_plan(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the scalar corpus total
    # exactly one shuffle grain: shard_id partial+final agg
    assert plan.count("Exchange hashpartitioning(shard_id") <= 1


def test_strip_tracking_pure_jvm(spark):
    """c1b must stay pure JVM: no Python eval of any kind, no shuffle."""
    plan = _plan(E.q_c1b_strip_tracking(spark, SF))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_render_spans_pure_jvm_no_explode(spark):
    """a6 renders in-row: no Python, no shuffle, no Generate (explode)."""
    plan = _plan(E.q_a6_render_spans(spark, SF))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_unicode_normalize_arrow_not_per_row(spark):
    """The NFC pass is the one Arrow-vectorized UDF; never a row-at-a-time
    BatchEvalPython."""
    plan = _plan(E.q_text_unicode_normalize(spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_seen_confirm_builds_on_maybe_not_seen(spark):
    """The bloom-positive exact confirm must never shuffle the seen side:
    seen ⋉ broadcast(maybe hashes) (LeftSemi) then candidates ▷
    broadcast(hits) (LeftAnti), both builds maybe-sized. A SortMergeJoin
    anti/semi here would mean the O(frontier) shuffle regressed. The
    engine's own round is audited in test_crawl_round.py."""
    df = E.q_j1_seen_anti_join_bloom(spark, SF)
    plan = _plan(df)
    assert "LeftSemi" in plan  # the reshape marker
    assert "SortMergeJoin LeftAnti" not in plan
    assert "SortMergeJoin LeftSemi" not in plan


def test_prune_pending_narrow_before_window(spark):
    """prune_pending_topk is a NARROW stage: MapInPandas with no exchange
    below it — the window's host exchange sees only survivors. The prune
    regressing to a shuffle would re-create the O(pending) exchange."""
    df = E.q_p11_prune_pending_admit(spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan
    head, _, tail = plan.partition("MapInPandas")
    # nothing below (after, in tree print order) the prune but the scan
    assert "Exchange" not in tail, tail
    # exactly the window's exchange above it
    assert head.count("Exchange hashpartitioning") == 1, head


def test_chunk_windows_pure_jvm_no_shuffle(spark):
    """Chunking must stay one codegen span: no Python eval, no exchange —
    the fan-out is a Generate over an in-row sequence."""
    plan = _plan(E.q_corpus_chunk_windows(spark, SF))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    assert "Generate" in plan  # the window explode, in-stage


def test_pack_sequences_single_shuffle(spark):
    """Packing shuffles exactly once (hash on the shard key) into the
    per-shard FlatMapGroupsInPandas; nothing else may exchange."""
    plan = _plan(E.q_corpus_pack_sequences(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" in plan


def test_global_sample_take_ordered_no_global_sort(spark):
    """Global uniform sample must compile to TakeOrderedAndProject (k-bounded
    per-partition top-k), never a full Sort or corpus-wide window."""
    plan = _plan(E.q_corpus_global_sample(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_colocated_join_no_shuffle(spark):
    """Two tables written bucketed+sorted on the same key with the same
    bucket count must sort-merge join with ZERO Exchange — the
    write-once-join-forever layout for the recurring frontier joins. (A
    partition-local Sort remains: Spark ignores bucket sort metadata by
    default since 3.0, SPARK-28595; the shuffle is the scale cost.)"""
    from delphi_crawler_spark.storage.bucketing import (
        colocated_join,
        write_bucketed,
    )

    a = spark.range(10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(5_000).selectExpr("id AS k", "id * 3 AS vb")
    try:
        write_bucketed(a, "buck_a", "k", n_buckets=8)
        write_bucketed(b, "buck_b", "k", n_buckets=8)
        out = colocated_join(spark, "buck_a", "buck_b", "k", force_merge=True)
        plan = _plan(out)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert plan.count("SelectedBucketsCount: 8 out of 8") == 2, plan
        assert out.count() == 5_000
        row = out.where("k = 7").collect()[0]
        assert (row["va"], row["vb"]) == (14, 21)
    finally:
        spark.sql("DROP TABLE IF EXISTS buck_a")
        spark.sql("DROP TABLE IF EXISTS buck_b")


def test_wfq_no_partitionless_window(spark):
    """WFQ's global emission rank must come from range partitioning (the
    attach_global_seq path), never a single-partition window."""
    plan = _plan(E.q_p25_wfq_schedule(spark, SF))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_cdc_chunk_text_not_shuffled(spark):
    """CDC dedup shuffles only (digest, len) pairs: the exchange must sit
    above a projection that already dropped the chunk text, and the agg
    must partially combine map-side."""
    plan = _plan(E.q_dedup_cdc_chunks(spark, SF))
    # two exchanges: the digest grain + count_distinct's two-phase
    # expansion — both keyed on chunk_digest, neither on raw chunk text
    n_ex = plan.count("Exchange hashpartitioning")
    assert 1 <= n_ex <= 2
    pos = 0
    for _ in range(n_ex):
        pos = plan.index("Exchange hashpartitioning", pos)
        assert plan[pos : pos + 60].count("chunk_digest") == 1
        pos += 1
    assert "hashpartitioning(chunk#" not in plan
    assert plan.count("HashAggregate") >= 2


def test_triangles_no_cartesian(spark):
    """Wedge enumeration and closure are equi-joins (pivot key / edge
    key), never a cross product."""
    plan = _plan(E.q_g4_triangles(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_integrity_zero_shuffle(spark):
    """The span audit is a pure projection: no exchange at all."""
    plan = _plan(E.q_mm_span_integrity(spark, SF))
    assert "Exchange" not in plan


def test_curriculum_rangepartitioned_seq(spark):
    plan = _plan(E.q_corpus_curriculum_order(spark, SF))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_watermark_audit_keyed_window_and_broadcast_prefix(spark):
    """The intra-bucket running max is keyed by bucket; the bucket prefix
    table joins back as a broadcast (metadata-sized)."""
    plan = _plan(E.q_stream_watermark_audit(spark, SF))
    assert "hashpartitioning(b" in plan          # keyed window exchange
    assert "BroadcastHashJoin" in plan           # prefix-max table
    assert "CartesianProduct" not in plan


def test_drain_eta_broadcast_delay_join(spark):
    plan = _plan(E.q_p27_drain_eta(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_index_broadcast_probe_joins(spark):
    """Both probe-bit joins run against the broadcast index; the truth
    check is the only other join and stays keyed."""
    plan = _plan(E.q_store_bloom_file_index(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_kneser_ney_joins_stay_keyed(spark):
    plan = _plan(E.q_text_lm_kneser_ney(spark, SF))
    assert "CartesianProduct" not in plan
    # count tables join on their own grains: w1/w2 keyed exchanges exist
    assert "hashpartitioning(w1" in plan or "BroadcastHashJoin" in plan


def test_span_transitions_single_agg_exchange(spark):
    """In-cell sort + zip: the only exchanges are the (from,to) agg and
    the from-keyed totals join — no data-sized window, no cartesian."""
    plan = _plan(E.q_mm_span_transitions(spark, SF))
    assert "WindowExec" not in plan
    assert "CartesianProduct" not in plan


def test_binary_topk_broadcast_queries(spark):
    """The query side (with signatures) broadcasts; Hamming + shortlist
    stay inside the scan side with no extra exchange before the window."""
    plan = _plan(E.q_sim_binary_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_modularity_keyed_joins_only(spark):
    plan = _plan(E.q_g8_modularity(spark, SF))
    assert "CartesianProduct" not in plan


def test_backfill_islands_keyed_window(spark):
    """The islands window is keyed by source; the only exchanges are
    source-keyed."""
    plan = _plan(E.q_store_backfill_islands(spark, SF))
    assert "hashpartitioning(source" in plan
    assert "CartesianProduct" not in plan
