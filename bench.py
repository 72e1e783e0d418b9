"""Operator benchmark harness: per-query wall time at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Every query is forced through the noop sink so projections (UDFs included)
actually execute. The crawl engine's own benchmark — whole
``CrawlEngine.run_round`` sessions with per-layer traces — is
``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as E

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FRONTIER_N = int(os.environ.get("SPARK_GRAFT_FRONTIER_N", "2000000"))


def synth_frontier(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic n-row raw frontier, generated distributed (spark.range):
    skewed hosts (top hosts own a large share), junk variants exercising the
    canonicalizer (case, default ports, dot-segments, encodable chars)."""
    df = spark.range(n).withColumnRenamed("id", "seq")
    h = F.pmod(F.col("seq") * 2654435761, F.lit(1 << 16))
    # skew: ~25% of rows land on 4 hot hosts, rest spread over 4k hosts
    host_id = F.when(h < (1 << 14), F.pmod(h, F.lit(4))).otherwise(F.pmod(h, F.lit(4096)))
    host = F.concat(F.lit("host"), host_id, F.lit(".example-"), F.pmod(host_id, F.lit(5)), F.lit(".com"))
    # realistic mix: ~70% already-canonical links (the vectorized fast path),
    # ~10% duplicates-of-earlier, ~20% junk needing full normalization
    variant = F.pmod(F.col("seq"), F.lit(10))
    raw = (
        F.when(variant <= 4, F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("seq")))
        .when(variant == 5, F.concat(F.lit("https://"), host, F.lit("/a/b/c/item-"), F.col("seq")))
        .when(variant == 6, F.concat(F.lit("https://"), host, F.lit("/p/"), F.pmod(F.col("seq"), F.lit(n // 2 + 1))))
        .when(variant == 7, F.concat(F.lit("https://"), F.upper(host), F.lit("/p/"), F.col("seq")))
        .when(variant == 8, F.concat(F.lit("https://"), host, F.lit(":443/a/./b/../p/"), F.col("seq")))
        .otherwise(F.concat(F.lit("http://"), host, F.lit(":80/${q} x/"), F.col("seq")))
    )
    return df.select(
        raw.alias("url"),
        F.pmod(F.col("seq"), F.lit(10)).cast("int").alias("priority"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("seq") / 1000.0)).alias("discovery_ts"),
        F.col("seq"),
    )


_STEADY: dict = {}


def _steady_seen(spark: SparkSession):
    """The previous rounds' artifacts: the committed seen-side frontier and
    its incrementally-maintained bloom. In the engine these carry across
    rounds (TableStore parts + the in-memory bloom, OR-updated with one
    O(round) segment per round — plans/crawl_round.py), so a steady-state
    round never rebuilds them; the bench mirrors that by building them once
    per process. Their maintenance cost is benched separately
    (``bloom_incremental_update``)."""
    from delphi_crawler_spark.functions.canonicalize import canonicalize_url
    from delphi_crawler_spark.operators.seen import build_bloom

    if "seen" not in _STEADY:
        seen = (
            synth_frontier(spark, FRONTIER_N // 7)
            .withColumn("url", canonicalize_url("url"))
            .filter(F.col("url").isNotNull())
            .select("url")
            .withColumn("url_hash64", F.xxhash64("url"))
            .persist()
        )
        seen.count()
        _STEADY["seen"] = seen
        _STEADY["bloom"] = build_bloom(seen, expected_items=FRONTIER_N // 7, fpp=0.01)
    return _STEADY["seen"], _STEADY["bloom"]


def bloom_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-round bloom maintenance cost at round volume: build an
    OR-mergeable segment from one round's appended rows (FRONTIER_N/10) with
    the steady bloom's geometry — the ONLY bloom work a steady-state round
    performs (plans/crawl_round.py:_discover)."""
    from delphi_crawler_spark.operators.seen import build_bloom_segment

    _, bloom = _steady_seen(spark)
    new_rows = (
        spark.range(FRONTIER_N // 10)
        .select(F.xxhash64(F.concat(F.lit("new"), F.col("id"))).alias("url_hash64"))
    )
    seg = build_bloom_segment(new_rows, bloom.m_bits, bloom.k)
    merged = bloom.merge(seg)
    # return a 1-row frame so the harness has something to force
    return spark.createDataFrame(
        [(int(merged.words.sum() % (1 << 31)), merged.m_bits)], "checksum long, m_bits long"
    )


def neardup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scale-path near-dup pipeline ending in transitive clusters:
    MinHash signatures → banded LSH candidates → exact Jaccard verify →
    large-star/small-star connected components → canonical survivor per
    cluster. This is the shape a 100 TB corpus dedup runs (never
    all-pairs); the CC tail adds O(log² n) keyed-equi-join rounds on the
    (tiny relative to the corpus) verified-pair set."""
    from delphi_crawler_spark.operators.dedup_fuzzy import (
        jaccard_verify,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from delphi_crawler_spark.operators.graph import neardup_clusters

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    signed = minhash_signatures(docs, "text", 64, 3).persist()
    cands = minhash_lsh_candidates(signed, "doc_id", 16, 4)
    dups = jaccard_verify(cands, docs, "doc_id", "text", 3, 0.5)
    return neardup_clusters(docs.select("doc_id"), dups.select("id_a", "id_b"))


def hll_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round distinct-count telemetry cost: build one round's HLL
    segment (FRONTIER_N/10 new keys, p=14) and max-merge it into the
    steady segment — the cardinality analog of bloom_incremental_update."""
    from delphi_crawler_spark.operators.hll import build_hll_segment

    if "hll" not in _STEADY:
        seen, _ = _steady_seen(spark)
        _STEADY["hll"] = build_hll_segment(seen, p=14)
    new_rows = (
        spark.range(FRONTIER_N // 10)
        .select(F.xxhash64(F.concat(F.lit("hnew"), F.col("id"))).alias("url_hash64"))
    )
    seg = build_hll_segment(new_rows, p=14)
    merged = _STEADY["hll"].merge(seg)
    return spark.createDataFrame(
        [(round(merged.estimate(), 1), merged.p)], "estimate double, p long"
    )


def redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution at frontier volume: a 2M-source redirect
    map with ~10-hop chains and deliberate cycles, resolved by pointer
    doubling (5 keyed self-joins for the 32-hop cap)."""
    from delphi_crawler_spark.operators.redirects import resolve_redirects

    d = F.col("id")
    edges = spark.range(FRONTIER_N).select(
        F.concat(F.lit("r"), d.cast("string")).alias("src"),
        F.when(d % 997 == 0, F.concat(F.lit("r"), (d - (d % 10)).cast("string")))
        .when(d % 10 < 8, F.concat(F.lit("r"), (d + 1).cast("string")))
        .otherwise(F.concat(F.lit("t"), d.cast("string")))
        .alias("dst"),
    )
    return resolve_redirects(edges, max_hops=32)


def pending_prune_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state round scheduling over a BIG pending set (pending >>
    admitted). 2M pending rows across ~4k hosts, default politeness (5/s
    burst 5, 10s round → ≤56 admittable per host): prune_pending_topk keeps
    the emission window's exchange at survivor volume instead of the full
    table."""
    from delphi_crawler_spark.operators.politeness import (
        admit_round,
        assign_emission_slots,
        emission_order,
        prune_pending_topk,
    )

    d = F.col("id")
    pending = spark.range(FRONTIER_N).select(
        F.concat(
            F.lit("https://host"),
            F.pmod(d * 2654435761, F.lit(4096)),
            F.lit(".example.com/p/"),
            d,
        ).alias("url"),
        F.concat(F.lit("host"), F.pmod(d * 2654435761, F.lit(4096))).alias("host"),
        F.pmod(d, F.lit(10)).cast("int").alias("priority"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=d / 1000.0)
        ).alias("discovery_ts"),
        d.alias("seq"),
    )
    pruned = prune_pending_topk(pending, None, round_ms=10_000)
    out = admit_round(assign_emission_slots(pruned, None), 10_000)
    return emission_order(out).select("url", "host", "priority", "seq", "emit_ms")


def pack_sequences_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing of 2M docs into 8192-token sequences over
    256 shards — the per-shard applyInPandas grain at writer volume (the
    text never moves; only (id, weight) shuffles)."""
    from delphi_crawler_spark.operators.packing import pack_sequences

    d = F.col("id")
    docs = spark.range(FRONTIER_N).select(
        (d % 256).alias("shard"),
        d.alias("doc_id"),
        ((d * 2654435761) % 1990 + 10).alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", budget=8192)


def chunk_windows_200k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking of 200k ~128-token docs
    (seq_len 32, stride 24 → ~5 windows/doc, ~1M output rows) — the pure
    whole-stage-codegen split/sequence/explode/slice fan-out path."""
    from delphi_crawler_spark.operators.packing import chunk_token_windows

    docs = spark.range(FRONTIER_N // 10).select(
        F.col("id").alias("doc_id"),
        F.rtrim(F.repeat(F.lit("lorem ipsum dolor sit amet consectetur "
                                "adipiscing elit "), 16)).alias("text"),
    )
    return chunk_token_windows(docs, "doc_id", "text", seq_len=32, stride=24)


def budget_select_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global quality-ordered token-budget cut over 2M docs (budget = half
    the corpus mass) — the two-phase exclusive prefix sum at volume."""
    from delphi_crawler_spark.operators.corpus import token_budget_select

    d = F.col("id")
    docs = spark.range(FRONTIER_N).select(
        d.alias("doc_id"),
        (((d * 2654435761) % 1000003) / 1000003.0).alias("quality"),
        ((d * 40503) % 990 + 10).alias("n_tokens"),
    )
    out = token_budget_select(docs, budget_tokens=FRONTIER_N * 500 // 2)
    counted = out.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tok")
    )
    rows = counted.collect()
    out._release_budget()
    return spark.createDataFrame(rows, schema=counted.schema)


def exact_quantiles_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentile_disc over 2M skewed values, 64 groups —
    the two-phase no-global-sort shape at volume."""
    from delphi_crawler_spark.operators.quantiles import exact_quantiles

    d = F.col("id")
    vals = spark.range(FRONTIER_N).select(
        F.concat(F.lit("h"), (d % 64).cast("string")).alias("host"),
        ((d * 2654435761) % 1000003).cast("double").alias("v"),
    )
    return exact_quantiles(vals, "v", [0.5, 0.95, 0.99], by="host")


def hist_sketch_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-histogram sketch over the same 2M × 64-group
    telemetry shape as exact_quantiles_2m: four round segments built,
    merged at bucket grain, p50/p95/p99 read off the merged segment —
    the incremental path whose per-round cost is O(buckets), not O(rows)."""
    from delphi_crawler_spark.operators.histsketch import (
        hist_quantiles,
        hist_segments,
        merge_segments,
    )

    d = F.col("id")
    vals = spark.range(FRONTIER_N).select(
        F.concat(F.lit("h"), (d % 64).cast("string")).alias("host"),
        ((d * 2654435761) % 1000003).alias("v"),
        (d % 4).alias("rnd"),
    )
    segs = [
        hist_segments(vals.where(F.col("rnd") == r), "v", by="host")
        for r in range(4)
    ]
    return hist_quantiles(merge_segments(*segs), [0.5, 0.95, 0.99], by="host")


def lm_perplexity_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM scoring over the documents table: LM trained
    on the doc_id%3 slice, every doc scored — the vocabulary-bounded
    count-table join shape at the bench scale."""
    from delphi_crawler_spark.operators.lm import bigram_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_perplexity(docs, train_pred=F.col("doc_id") % 3 == 0)


def zorder_cluster_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering exchange at frontier volume: 2M rows Morton-keyed
    (pure codegen bit arithmetic), ONE range exchange + partition-local
    sort into 64 file-sized ranges — the write-side cost the clustered
    layout pays once to buy footer-stats file skipping on every read."""
    from delphi_crawler_spark.storage.zorder import morton_key

    d = F.col("id")
    df = spark.range(FRONTIER_N).select(
        (d % 65536).alias("x"),
        ((d * 2654435761) % 65536).alias("y"),
        d.alias("payload"),
    )
    keyed = df.withColumn("_z", morton_key("x", "y", bits=16))
    return keyed.repartitionByRange(64, "_z").sortWithinPartitions("_z").drop("_z")


def kmv_sketch_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV synopsis build over 2M URLs: one narrow xxhash64 projection with
    per-partition Arrow top-k pruning (<=256 rows leave each partition) —
    the no-full-distinct-shuffle scale path of operators/kmv.py."""
    from delphi_crawler_spark.operators.kmv import kmv_sketch

    d = F.col("id")
    urls = spark.range(FRONTIER_N).select(
        F.concat(
            F.lit("https://host"), F.pmod(d * 2654435761, F.lit(4096)),
            F.lit(".example.com/p/"), d,
        ).alias("url")
    )
    return kmv_sketch(urls, "url", k=256)


def label_propagation_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA, 3 rounds over a 2M-edge host graph (100k hosts,
    power-law-ish fan-out): per round one (node,label) hash-agg + a
    degree-bounded ranking window."""
    from delphi_crawler_spark.operators.graph import label_propagation

    d = F.col("id")
    edges = spark.range(2_000_000).select(
        F.concat(F.lit("h"), F.pmod(d * 2654435761, F.lit(100_000))).alias("src"),
        F.concat(F.lit("h"), F.pmod(d * d + d, F.lit(100_000))).alias("dst"),
    )
    return label_propagation(edges, iters=3)


def kmeans_lloyd_200k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd refinement: 2 full-corpus rounds over 200k
    synthetic 32-dim vectors (k=8) — narrow Arrow assignment passes + the
    exact decimal(28,6) centroid hash-agg."""
    from delphi_crawler_spark.operators.semantic import kmeans_lloyd

    vecs = spark.range(200_000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda x: F.sin(F.col("id") * x.cast("double") * 0.7),
        ).alias("embedding"),
    )
    assigned, _ = kmeans_lloyd(vecs, n_clusters=8, iters=2, sample_size=10_000)
    return assigned


def ucb_priority_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 host scheduling over a 2M-pull observation log (100k hosts):
    one exact-integer hash-agg + broadcast scalar total + JVM score, then
    a rank window over the 100k host-stats rows."""
    from delphi_crawler_spark.operators.bandit import ucb_host_priority

    d = F.col("id")
    obs = spark.range(2_000_000).select(
        F.concat(F.lit("h"), F.pmod(d * 2654435761, F.lit(100_000))).alias("host"),
        F.pmod(d * 48271, F.lit(101)).alias("reward_num"),
    )
    return ucb_host_priority(obs)


def template_segments_200k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-learned template discovery over 200k synthetic docs across
    2k hosts (banner on 3/4 of docs): distinct-segment explode feeding two
    keyed hash-aggs — the O(docs × segments/doc) grain at bench scale."""
    from delphi_crawler_spark.operators.scrub import template_segments

    d = F.col("id")
    host = F.concat(F.lit("h"), F.pmod(d, F.lit(2_000)))
    body = F.concat(
        F.lit("w"), (d % 97).cast("string"), F.lit(" x"), (d % 89).cast("string"),
        F.lit(" y"), (d % 83).cast("string"), F.lit(" z"), (d % 79).cast("string"),
        F.lit(" q"), (d % 73).cast("string"), F.lit(" r"), (d % 71).cast("string"),
        F.lit(" s"), (d % 67).cast("string"), F.lit(" t"), (d % 61).cast("string"),
    )
    text = F.when(
        d % 4 < 3,
        F.concat(F.lit("cookie banner notice host "), host, F.lit(" "), body),
    ).otherwise(body)
    docs = spark.range(200_000).select(
        d.alias("doc_id"), host.alias("host"), text.alias("text")
    )
    return template_segments(docs, seg_words=5, min_ratio=0.5, min_docs=2)


def ip_queue_schedule_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-by-IP politeness over a 2M-URL frontier: 100k hosts folded
    onto 8k IPs (12.5 vhosts/IP) — broadcast host→ip dim + per-IP
    min-budget fold, then the single queue_key window. The coarser key
    concentrates rows ~12x per window partition vs host-grain P1."""
    from delphi_crawler_spark.operators.politeness import ip_queue_slots

    d = F.col("id")
    fr = spark.range(2_000_000).select(
        F.concat(F.lit("h"), F.pmod(d * 2654435761, F.lit(100_000))).alias("host"),
        F.pmod(d, F.lit(10)).cast("int").alias("priority"),
        (d * 37 % 1_000_000).alias("discovery_ts"),
        d.alias("seq"),
    )
    hosts = spark.range(100_000).select(F.concat(F.lit("h"), F.col("id")).alias("host"))
    host_ip = hosts.select(
        "host",
        F.concat(F.lit("ip"), F.pmod(F.xxhash64("host"), F.lit(8_000))).alias("ip"),
    )
    return ip_queue_slots(fr, host_ip)


def cdc_gear_200k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastCDC gear-hash chunk dedup over 200k synthetic docs (~650 B
    each, ~125 MB of text; 30% share a 320-B passage): the O(1)/byte
    vectorized rolling hash in mapInPandas, then the (digest,len)-only
    hash-agg — chunk bytes never shuffle. This is the 100-TB CDC path;
    the md5-gated JVM twin (dedup_cdc_chunks) is the oracle-parity
    variant."""
    from delphi_crawler_spark.operators.cdc import gear_chunk_stats

    d = F.col("id")
    seg = F.concat(
        F.lit("tok"), (d % 997).cast("string"), F.lit(" mid"),
        (d % 821).cast("string"), F.lit(" end"), (d % 613).cast("string"),
        F.lit(" pad padding filler words go here to lengthen the line "),
    )
    shared = F.lit(
        "this is a shared boilerplate passage that appears verbatim across "
        "many documents of the corpus and should deduplicate at chunk grain "
        "regardless of what surrounds it because content defined chunking "
        "realigns cut points after any local edit upstream of the passage "
        "which fixed size chunking fundamentally cannot do at all "
    )
    text = F.when(d % 10 < 3, F.concat(seg, shared, seg)).otherwise(
        F.concat(seg, seg, seg)
    )
    docs = spark.range(200_000).select(d.alias("doc_id"), text.alias("text"))
    return gear_chunk_stats(docs, bits=8, min_len=64, max_len=1024)


def gini_skew_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew fingerprint over a 2M-row zipf-ish frontier (100k hosts):
    one host hash-agg + a key-table window + scalar agg."""
    from delphi_crawler_spark.operators.salting import key_skew_gini

    h = F.pmod(F.xxhash64("id"), F.lit(1 << 16))
    d = spark.range(FRONTIER_N).select(
        F.when(h < F.lit(1 << 14), F.pmod(h, F.lit(4)))
        .otherwise(F.pmod(h, F.lit(100_000)))
        .alias("host")
    )
    return key_skew_gini(d, key_col="host")


def drain_eta_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness drain planner over a 2M-URL pending set on 100k hosts
    with a broadcast crawl-delay table."""
    from delphi_crawler_spark.operators.politeness import drain_eta

    pend = spark.range(FRONTIER_N).select(
        F.concat(F.lit("h"), F.pmod(F.xxhash64("id"), F.lit(100_000))).alias("host")
    )
    delays = spark.range(100_000).select(
        F.concat(F.lit("h"), F.col("id") - F.lit(0)).alias("host"),
        (F.pmod(F.col("id"), F.lit(10)).cast("double") * 0.5 + 0.5).alias("crawl_delay_s"),
    )
    return drain_eta(pend, delays, round_budget_s=300.0)


def watermark_audit_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit over a 2M-event replay with deterministic
    arrival jitter: two-phase prefix max, 5-minute windows."""
    from delphi_crawler_spark.streaming.watermark import watermark_lateness_audit

    base_us = 1_700_000_000_000_000
    ev = spark.range(FRONTIER_N).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(base_us + F.col("id") * 50_000).alias("event_ts"),
        F.timestamp_micros(
            base_us + F.col("id") * 50_000
            + F.pmod(F.xxhash64("id"), F.lit(29)) * F.lit(11_000_000)
        ).alias("arrival_ts"),
    )
    return watermark_lateness_audit(
        ev, watermark_s=120, window_s=300, bucket_s=3600
    )


def bloom_file_index_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom file index build + probe over 2M keys in 64 hash files
    (64 KiB filters), 1000 point probes."""
    from delphi_crawler_spark.storage.bloomindex import (
        bloom_probe_stats,
        build_file_blooms,
    )

    data = spark.range(FRONTIER_N).select(
        F.pmod(F.col("id"), F.lit(64)).alias("file_id"), F.col("id").alias("k")
    )
    blooms = build_file_blooms(data, "file_id", "k", bits=524_288)
    probes = spark.range(1000).select((F.col("id") * 2111).alias("probe_key"))
    return bloom_probe_stats(
        blooms, data, probes, "file_id", "k", bits=524_288, n_files=64
    )


def random_walks_2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-decided walks over a 2M-edge / 200k-node
    synthetic web: 4 keyed joins against the persisted adjacency index."""
    from delphi_crawler_spark.operators.graph import deterministic_random_walks

    e = spark.range(FRONTIER_N).select(
        F.concat(F.lit("n"), F.pmod(F.xxhash64("id"), F.lit(200_000))).alias("src"),
        F.concat(F.lit("n"), F.pmod(F.xxhash64(F.col("id") + 1), F.lit(200_000))).alias("dst"),
    )
    return deterministic_random_walks(e, walk_len=4)


BENCH_QUERIES = {
    "bloom_incremental_update": bloom_incremental_update,
    "seen_anti_join_bloom": E.q_j1_seen_anti_join_bloom,
    "politeness_token_bucket": E.q_p1_politeness_token_bucket,
    "first_occurrence_dedup": E.q_f1_first_occurrence_dedup,
    "minhash_lsh_dedup": E.q_dedup_minhash_lsh,
    "simhash_neardup": E.q_dedup_simhash,
    "ivf_topk": E.q_sim_ivf_topk,
    "neardup_cluster_cc": neardup_cluster_cc,
    "host_linkrank": E.q_p9_host_linkrank,
    "text_quality_scores": E.q_text_quality_scores,
    "decontam_ngram_overlap": E.q_decontam_ngram_overlap,
    "corpus_tfidf_topk": E.q_corpus_tfidf_topk,
    "tumbling_window": E.q_stream_tumbling_window,
    "media_features": E.q_mm_media_features,
    "semantic_dedup": E.q_dedup_semantic,
    "heavy_hitters": E.q_hh_heavy_hitters,
    "substring_dedup": E.q_dedup_substring_windows,
    "redirect_resolve": redirect_resolve,
    "pending_prune_schedule": pending_prune_schedule,
    "pack_sequences": pack_sequences_2m,
    "chunk_windows": chunk_windows_200k,
    "budget_select": budget_select_2m,
    "exact_quantiles": exact_quantiles_2m,
    "hist_quantile_sketch": hist_sketch_2m,
    "hll_incremental_update": hll_incremental_update,
    "lm_perplexity": lm_perplexity_sf,
    "zorder_cluster": zorder_cluster_2m,
    "kmv_sketch": kmv_sketch_2m,
    "label_propagation": label_propagation_2m,
    "kmeans_lloyd": kmeans_lloyd_200k,
    "ucb_priority": ucb_priority_2m,
    "template_segments": template_segments_200k,
    "ip_queue_schedule": ip_queue_schedule_2m,
    "cdc_gear_chunks": cdc_gear_200k,
    "gini_skew": gini_skew_2m,
    "drain_eta": drain_eta_2m,
    "watermark_audit": watermark_audit_2m,
    "bloom_file_index": bloom_file_index_2m,
    "kneser_ney": E.q_text_lm_kneser_ney,
    "random_walks": random_walks_2m,
    # composed 100-TB hot paths (VERDICT r4 #8): time the end-to-end
    # pipelines, not just their constituent operators
    "pipeline_dedup_verdict": E.q_pipeline_dedup_verdict,
    "pipeline_training_write": E.q_pipeline_training_write,
    "pipeline_url_admission": E.q_pipeline_url_admission,
}


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def warmup(spark: SparkSession) -> None:
    """Bring the session to steady state before measuring: JVM codegen, the
    shuffle path, and — critically — the python worker pool. Local mode
    spawns one python worker per core lazily; 32 simultaneous cold
    pandas/numpy imports cost tens of seconds and would otherwise be billed
    to the first UDF query (a long-running production job amortizes this to
    zero, so steady-state is the honest throughput number)."""

    @F.pandas_udf("string")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    n = max(32, CPUS) * 2
    df = (
        spark.range(n * 20000)
        .select(F.concat(F.lit("w"), F.col("id")).alias("u"))
        .repartition(n)
    )
    for _ in range(3):
        force(df.select(_warm("u").alias("v")))
    force(df.groupBy("u").count())


def main() -> None:
    from delphi_crawler_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS)
    warmup(spark)

    only = [q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q]
    times: dict[str, float] = {}
    all_reps: dict[str, list[float]] = {}
    for name, fn in BENCH_QUERIES.items():
        if only and name not in only:
            continue
        # best-of with CONFIRMED convergence: the sandbox VM has bursty
        # neighbor load (observed 4-13x swings on identical plans, spikes
        # lasting minutes), so a fixed rep count can have every rep
        # contaminated — and a stop-when-no-improvement rule ends sampling
        # on a noise SPIKE (the spike doesn't improve the best, so it used
        # to terminate the loop with a contaminated best). Instead stop only
        # when the latest rep CONFIRMS the best — two reps agree within 8%
        # — else keep sampling to the cap and take the min; rep_times in
        # the JSON exposes how noisy the window was.
        min_reps, max_reps = 2, 5
        rep_times: list[float] = []
        while True:
            t0 = time.time()
            force(fn(spark, SF_DIR))
            rep_times.append(round(time.time() - t0, 3))
            if len(rep_times) < min_reps:
                continue
            if len(rep_times) >= max_reps:
                break
            best_prev = min(rep_times[:-1])
            confirmed = rep_times[-1] <= best_prev * 1.08
            improved = rep_times[-1] < best_prev * 0.92
            if confirmed and not improved:
                break  # steady: last rep reproduces the best within 8%
        times[name] = min(rep_times)
        all_reps[name] = rep_times
        print(f"[bench] {name}: {times[name]}s (reps {rep_times})", file=sys.stderr, flush=True)

    total = round(sum(times.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    print(json.dumps({
        "metric": "total bench-query wall time",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        "frontier_urls": FRONTIER_N,
        "cpus": CPUS,
        # per-query rep times: a best/worst spread >2x on identical plans
        # indicates neighbor contention in the shared sandbox, not plan cost
        "rep_times": all_reps,
    }))


if __name__ == "__main__":
    main()
