"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
training-data pipeline operators) onto the driver's parquet tables; each
entry has a DuckDB-runnable ``oracle_sql()`` twin unless the operator is
genuinely non-SQL-expressible. For those, tools/gen_expected.py pins an
expected-parquet oracle computed by an independent plain-Python/numpy
implementation; only A5 (partition introspection — the answer depends on the
runtime partitioning itself) remains rows-only.

Determinism discipline (so Spark and DuckDB value-hashes agree bit-for-bit):
- monetary aggregates go through exact DECIMAL arithmetic and are cast to
  double only at the end (double sums are order-dependent; decimal sums are
  not);
- every ranking window carries a unique tiebreak column;
- floats produced by per-row (not cross-row) arithmetic are rounded to 6
  decimals on both sides;
- all integer outputs are cast to BIGINT to match DuckDB's int64 defaults.
"""

from __future__ import annotations

import os
import sys
import zipfile
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_PKG_ZIP = os.path.join(_REPO, ".delphi_crawler_spark_pkg.zip")
_shipped: set[int] = set()


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship the package to executors of an arbitrary (driver-owned) session
    so module-level pandas UDFs unpickle there (spark-submit --py-files
    analogue for a session we did not create)."""
    key = id(spark.sparkContext)
    if key in _shipped:
        return
    if not _shipped:  # rebuild once per process so the zip is never stale
        with zipfile.ZipFile(_PKG_ZIP, "w") as zf:
            pkg = os.path.join(_REPO, "delphi_crawler_spark")
            for root, _dirs, files in os.walk(pkg):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.relpath(full, _REPO))
    try:
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        pass  # already added in this context
    _shipped.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dec(col, p: int = 18, s: int = 2):
    """Exact-decimal wrapper for double money columns: double→decimal is
    round-to-nearest (no representable midpoints), identical in Spark and
    DuckDB; decimal sums are order-independent → bit-stable across engines
    and parallelism levels."""
    return F.col(col).cast(f"decimal({p},{s})")


BIG = "bigint"


# =====================================================================
# Crawl-core operators (SURVEY.md §2)
# =====================================================================


def q_s1_index_scan_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/C4/F5: ordered identifier-stream parse — split the index record's
    'u' field, skip malformed rows (reference IndexProcessing.scala:45-48,
    76-99)."""
    docs = _t(spark, sf_dir, "documents")
    u = F.when(
        F.col("doc_id") % 11 == 0, F.concat(F.lit("bad-record-"), F.col("doc_id"))
    ).otherwise(
        F.concat(F.col("source"), F.lit("|doc-"), F.col("doc_id"), F.lit("|"), F.col("lang"))
    )
    parts = F.split(u, r"\|")
    return (
        docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), parts.alias("p"))
        .filter(F.size("p") >= 3)
        .select(
            "doc_id",
            F.element_at("p", 1).alias("grp"),
            F.element_at("p", 2).alias("art"),
            F.element_at("p", 3).alias("ver"),
        )
    )


def _raw_url_col():
    d = F.col("doc_id")
    k = (d % 7).cast("string")
    return (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example"), k, F.lit(".COM:443/a/./b/../"),
                F.col("source"), F.lit("/page"), d.cast("string"), F.lit("?b=2&a=1#frag"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("http://host"), k, F.lit(".example.org:8080/x y/${v}/p"),
                d.cast("string"),
            ),
        )
        .when(d % 4 == 2, F.lit("ftp://bad.example.com/nope"))
        .otherwise(
            F.concat(
                F.lit("https://Host"), k, F.lit(".Example.IO/p"), d.cast("string"), F.lit("/")
            )
        )
    )


def q_c1_canonicalize_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/F5: RFC-3986 canonicalization (vectorized pandas UDF) — lowercase
    scheme/host, strip default port, resolve dot segments, percent-encode
    (``${v}`` → ``%24%7Bv%7D`` per the reference's golden vectors,
    MavenURLConstructionCheck.scala:28-46); non-http(s) rows drop (F5)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.canonicalize import canonicalize_url

    docs = _t(spark, sf_dir, "documents")
    out = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        canonicalize_url(_raw_url_col()).alias("url"),
    )

    return out.filter(F.col("url").isNotNull())


def q_c2_host_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: host-reverse key (north rule) — www.example.com → com.example.www,
    pure JVM split/reverse/join."""
    from delphi_crawler_spark.functions.canonicalize import host_rev_col

    nation = _t(spark, sf_dir, "nation")
    host = F.concat(
        F.regexp_replace(F.lower(F.col("n_name")), "[^a-z0-9]", ""), F.lit(".example.com")
    )
    return nation.select(
        F.col("n_nationkey").cast(BIG).alias("n_nationkey"),
        host.alias("host"),
        host_rev_col(host).alias("host_rev"),
    )


def q_c3_hash_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: canonical-URL keys — ``hash()`` = 32-bit Murmur3 per the north
    rule, ``xxhash64`` bloom key. Oracle: expected-parquet from an
    independent spec-level Murmur3/XXH64 implementation (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.canonicalize import with_url_keys

    urls = q_c1_canonicalize_url(spark, sf_dir)
    return with_url_keys(urls).select(
        "doc_id", "url", "host", "host_rev",
        F.col("url_hash").cast(BIG).alias("url_hash"),
        F.col("url_hash64").alias("url_hash64"),
    )


def q_f1_first_occurrence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: first-occurrence-wins dedup via window on explicit arrival order
    (reference seen-cache, MavenDiscoveryProcess.scala:57,71-75) — plain
    dropDuplicates is shuffle-nondeterministic, this is not."""
    from delphi_crawler_spark.operators.dedup import first_occurrence_dedup

    ev = _t(spark, sf_dir, "events")
    out = first_occurrence_dedup(ev, key=["user_id", "event_type"], order=["ts", "event_id"])
    return out.select(
        F.col("user_id").cast(BIG).alias("user_id"),
        "event_type",
        F.col("event_id").cast(BIG).alias("event_id"),
        "value",
    )


def _robots_fixture(spark: SparkSession, sf_dir: str):
    nation = _t(spark, sf_dir, "nation")
    host = F.concat(
        F.regexp_replace(F.lower(F.col("n_name")), "[^a-z0-9]", ""), F.lit(".test")
    ).alias("host")
    k = F.col("n_nationkey") % 3
    full_block = nation.filter(k == 0).select(
        host, F.lit("disallow").alias("rule"), F.lit("/a").alias("path_prefix"), F.lit(0).alias("order")
    )
    deep_block = nation.filter(k == 1).select(
        host, F.lit("disallow").alias("rule"), F.lit("/a/secret").alias("path_prefix"), F.lit(0).alias("order")
    )
    deep_allow = nation.filter(k == 1).select(
        host, F.lit("allow").alias("rule"), F.lit("/a").alias("path_prefix"), F.lit(1).alias("order")
    )
    rules = full_block.unionByName(deep_block).unionByName(deep_allow)

    cust = _t(spark, sf_dir, "customer").join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    )
    path = (
        F.when(F.col("c_custkey") % 3 == 0, F.concat(F.lit("/a/x"), F.col("c_custkey")))
        .when(F.col("c_custkey") % 3 == 1, F.concat(F.lit("/a/secret/"), F.col("c_custkey")))
        .otherwise(F.concat(F.lit("/b/"), F.col("c_custkey")))
    )
    hostc = F.concat(
        F.regexp_replace(F.lower(F.col("n_name")), "[^a-z0-9]", ""), F.lit(".test")
    )
    cand = cust.select(
        F.col("c_custkey").cast(BIG).alias("c_custkey"),
        hostc.alias("host"),
        F.concat(F.lit("https://"), hostc, path).alias("url"),
    )
    return cand, rules


def q_f6_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: robots gate — per-host allow/disallow prefix rules compiled into a
    broadcast structure, longest-prefix-wins, vectorized filter (north rule;
    the reference's analogue is the fixed repo allowlist,
    Configuration.scala:51)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import robots_filter

    cand, rules = _robots_fixture(spark, sf_dir)
    return robots_filter(cand, rules).select("c_custkey", "url")


def q_c1c_host_idna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internationalized hostname → punycode (IDNA ToASCII, RFC 3490/3492):
    five template classes (German umlauts, CJK, multi-label, pure-ASCII
    passthrough, uppercase Cyrillic exercising nameprep case-fold) behind a
    per-key ASCII prefix label. Plan: JVM rlike pre-split keeps ASCII hosts
    pure codegen; only non-ASCII rows pay the Arrow hop. Oracle maps each
    class to its literal expected encoding — independent of the codec."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.canonicalize import host_to_ascii

    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    tmpl = (
        F.when(ck % 5 == 0, "bücher.de")
        .when(ck % 5 == 1, "中国.example")
        .when(ck % 5 == 2, "münchen.müller.example")
        .when(ck % 5 == 3, "ascii.example.com")
        .otherwise("ПРИМЕР.испытание")
    )
    host = F.concat(F.lit("h"), ck, F.lit("."), tmpl)
    return cust.select(
        ck.cast(BIG).alias("c_custkey"),
        host_to_ascii(host).alias("host_ascii"),
    )


def q_f6e_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 with RFC 9309 §2.2.3 special characters: '*' (any char run) and
    trailing '$' (end anchor) in path patterns, most-octets specificity.
    Three wildcard regimes by host class: extension block with a longer
    allow carve-out (/*.php$ vs /pub*.php$), mid-pattern wildcard
    (/p*/secret), and exact-path anchor (/dl$). The oracle hand-derives
    each class's winning verdict as independent regexes — a wrong
    translation or specificity order mismatches."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import robots_filter

    nation = _t(spark, sf_dir, "nation")
    host = F.concat(
        F.regexp_replace(F.lower(F.col("n_name")), "[^a-z0-9]", ""), F.lit(".test")
    ).alias("host")
    k = F.col("n_nationkey") % 3

    def rule(flt, rl, pat, order):
        return nation.filter(flt).select(
            host,
            F.lit(rl).alias("rule"),
            F.lit(pat).alias("path_prefix"),
            F.lit(order).alias("order"),
        )

    rules = (
        rule(k == 0, "disallow", "/*.php$", 0)
        .unionByName(rule(k == 0, "allow", "/pub*.php$", 1))
        .unionByName(rule(k == 1, "disallow", "/p*/secret", 0))
        .unionByName(rule(k == 1, "allow", "/", 1))
        .unionByName(rule(k == 2, "disallow", "/dl$", 0))
    )
    cust = _t(spark, sf_dir, "customer").join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    )
    ck = F.col("c_custkey")
    path = (
        F.when(ck % 6 == 0, F.concat(F.lit("/idx"), ck, F.lit(".php")))
        .when(ck % 6 == 1, F.concat(F.lit("/pub"), ck, F.lit(".php")))
        .when(ck % 6 == 2, F.concat(F.lit("/idx"), ck, F.lit(".php?q=1")))
        .when(ck % 6 == 3, F.concat(F.lit("/p"), ck, F.lit("/secret")))
        .when(ck % 6 == 4, F.lit("/dl"))
        .otherwise(F.lit("/dl/x"))
    )
    hostc = F.concat(
        F.regexp_replace(F.lower(F.col("n_name")), "[^a-z0-9]", ""), F.lit(".test")
    )
    cand = cust.select(
        ck.cast(BIG).alias("c_custkey"),
        hostc.alias("host"),
        F.concat(F.lit("https://"), hostc, path).alias("url"),
    )
    return robots_filter(cand, rules).select("c_custkey", "url")


def _events_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events recast as a URL frontier: host = user bucket, priority from the
    event id, arrival order = (ts, event_id)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("host"),
        (F.col("event_id") % 3).cast("int").alias("priority"),
        F.col("ts").alias("discovery_ts"),
        F.col("event_id").cast(BIG).alias("seq"),
    )


def q_p1_politeness_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P6: per-host token-bucket emission slots (5/s, burst 5 — the
    reference throttle, Configuration.scala:80,101) over a host-level
    priority max-heap window (north rule P6). Pure column math."""
    from delphi_crawler_spark.operators.politeness import assign_emission_slots

    fr = _events_frontier(spark, sf_dir)
    slotted = assign_emission_slots(fr, politeness=None)
    return slotted.select(
        "host", "seq",
        F.col("priority").cast(BIG).alias("priority"),
        F.col("host_rank").cast(BIG).alias("host_rank"),
        F.col("emit_ms").cast(BIG).alias("emit_ms"),
    )


def q_p11_prune_pending_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P6 at O(admittable) cost: partition-local per-host top-cap prune
    of the pending set (politeness.prune_pending_topk) feeding the exact
    emission window + round admission. The oracle is the UNPRUNED window
    SQL — the prune must be invisible in the admitted schedule (rows below
    the per-host admissible rank can never be emitted), which is precisely
    the property that lets a 10^10-URL frontier schedule a round without
    exchanging the whole pending set."""
    from delphi_crawler_spark.operators.politeness import (
        admit_round,
        assign_emission_slots,
        prune_pending_topk,
    )

    fr = _events_frontier(spark, sf_dir)
    pruned = prune_pending_topk(fr, None, round_ms=2000)
    out = admit_round(assign_emission_slots(pruned, politeness=None), 2000)
    return out.select(
        "host", "seq",
        F.col("priority").cast(BIG).alias("priority"),
        F.col("host_rank").cast(BIG).alias("host_rank"),
        F.col("emit_ms").cast(BIG).alias("emit_ms"),
    )


def q_p2_global_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: global take(limit) over the exact emission order — TakeOrdered
    (per-partition top-n + driver merge), total order with seq tiebreak
    (reference MavenDiscoveryProcess.scala:80-82)."""
    from delphi_crawler_spark.operators.politeness import (
        assign_emission_slots,
        global_limit,
    )

    fr = _events_frontier(spark, sf_dir)
    slotted = assign_emission_slots(fr, politeness=None)
    out = global_limit(slotted, 100)
    return out.select(
        "host", "seq",
        F.col("priority").cast(BIG).alias("priority"),
        F.col("emit_ms").cast(BIG).alias("emit_ms"),
    )


def q_p6_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: host-level max-heap as window rank — top-3 orders per customer by
    (priority desc, tiebreak key)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("o_custkey").cast(BIG).alias("o_custkey"),
            F.col("rnk").cast(BIG).alias("rnk"),
            F.col("o_orderkey").cast(BIG).alias("o_orderkey"),
            "o_totalprice",
        )
    )


def q_j1_seen_anti_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/J1: the URL-seen existence anti-join with the broadcast-bloom
    prefilter (treeAggregate-merged bitsets): the bloom-positive rows'
    hashes probe the seen scan for hits, and the candidates anti-join the
    broadcast hits — result provably identical to the plain anti-join
    (reference ArtifactExistsQuery.scala:35-44)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.seen import build_bloom, seen_anti_join

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cand = (
        li.select(F.concat(F.lit("k"), F.col("l_partkey")).alias("url"))
        .distinct()
        .withColumn("url_hash64", F.xxhash64("url"))
    )
    seen = (
        part.filter(F.col("p_size") > 30)
        .select(F.concat(F.lit("k"), F.col("p_partkey")).alias("url"))
        .withColumn("url_hash64", F.xxhash64("url"))
    )
    bloom = build_bloom(seen, expected_items=max(64, seen.count()), fpp=0.01)
    return seen_anti_join(cand, seen, bloom).select("url")


def q_j1b_seen_anti_join_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/J1 variant: the seen anti-join behind a **cuckoo** prefilter —
    the deletable twin of the Bloom bitsets (Fan et al., CoNEXT'14). The
    query exercises the one capability Bloom lacks: a recrawl-invalidation
    batch (parts with p_size > 45) is *deleted* from the filter, so those
    URLs are admitted again. Exactness still comes from the left_anti
    confirm; the filter only bounds the confirm's broadcast build sides
    (reference semantics ArtifactExistsQuery.scala:35-44)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.cuckoo import (
        build_cuckoo,
        delete_cuckoo_df,
        seen_anti_join_cuckoo,
    )

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cand = (
        li.select(F.concat(F.lit("k"), F.col("l_partkey")).alias("url"))
        .distinct()
        .withColumn("url_hash64", F.xxhash64("url"))
    )
    seen = (
        part.filter(F.col("p_size") > 30)
        .select(F.concat(F.lit("k"), F.col("p_partkey")).alias("url"))
        .withColumn("url_hash64", F.xxhash64("url"))
    )
    cf = build_cuckoo(seen, expected_items=max(64, seen.count()))
    # recrawl invalidation: unsee the stalest slice (p_size > 45)
    recrawl = (
        part.filter(F.col("p_size") > 45)
        .select(F.concat(F.lit("k"), F.col("p_partkey")).alias("url"))
        .withColumn("url_hash64", F.xxhash64("url"))
    )
    # distributed delete: keys fold into same-geometry segments executor-side
    # (mapInPandas + treeReduce) — no driver collect of the invalidation slice
    delete_cuckoo_df(cf, recrawl, "url_hash64")
    seen_after = seen.join(recrawl.select("url"), "url", "left_anti")
    return seen_anti_join_cuckoo(cand, seen_after, cf).select("url")


def q_j3_semi_anti_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: batched store semi-join splitting probes into (mapped, unmapped)
    (reference ElasticEdgeSearchActor.scala:39-77) — left_semi ∪ left_anti
    with a matched flag."""
    from delphi_crawler_spark.operators.joins import semi_anti_split

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast(BIG).alias("l_orderkey"),
        F.col("l_linenumber").cast(BIG).alias("l_linenumber"),
        F.col("l_partkey").cast(BIG).alias("l_partkey"),
    )
    build = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") > 25)
        .select(F.col("p_partkey").cast(BIG).alias("l_partkey"))
    )
    hits, misses = semi_anti_split(li, build, ["l_partkey"])
    return hits.withColumn("matched", F.lit(True)).unionByName(
        misses.withColumn("matched", F.lit(False))
    )


def q_j4_first_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: ordered first-match join — all matches, then the first by the
    dependency order claims the row (reference sequential walk,
    MavenEdgeMappingActor.scala:36-83)."""
    from delphi_crawler_spark.operators.joins import first_match_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast(BIG).alias("o_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.05).select(
        F.col("l_orderkey").cast(BIG).alias("o_orderkey"),
        F.col("l_linenumber").cast(BIG).alias("l_linenumber"),
        F.col("l_partkey").cast(BIG).alias("l_partkey"),
    )
    return first_match_join(
        orders, li, on=["o_orderkey"], left_key="o_orderkey",
        order_col=["l_linenumber", "l_partkey"],
    ).select("o_orderkey", "l_linenumber", "l_partkey")


def q_j5_version_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/C6: version-range resolution — exact spec if published, else
    smallest available ≥ spec in Maven ComparableVersion order, else largest
    (reference MavenDependencyActor.scala:60-91); comparator re-expressed as
    a sort-key so the pick is pure window math."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.joins import resolve_versions

    part = _t(spark, sf_dir, "part")
    avail = part.select(
        "p_brand",
        F.concat(F.col("p_size"), F.lit("."), F.col("p_partkey") % 10).alias("version"),
    ).distinct()
    specs = (
        part.filter(F.col("p_partkey") % 7 == 0)
        .select("p_brand", F.concat(F.col("p_size"), F.lit(".0")).alias("version_spec"))
        .distinct()
    )
    return resolve_versions(specs, avail, ["p_brand"]).select(
        "p_brand", "version_spec", "resolved_version"
    )


def q_a1_group_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: edge grouping per library with a deterministic sorted member list
    (reference mergeEdges, ElasticCallGraphActor.scala:64-73); collect_set is
    banned (shuffle-nondeterministic order) — sorted distinct list instead."""
    from delphi_crawler_spark.operators.aggs import group_edges

    li = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("library"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("method"),
    )
    g = group_edges(li)
    return g.select(
        "library",
        F.array_join("methods", ",").alias("methods_csv"),
        F.col("n_edges").cast(BIG).alias("n_edges"),
    )


def q_a3_nested_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: nested per-doc calls shaping (reference createLibraryMap,
    ElasticCallGraphActor.scala:75-85), flattened to a canonical string for
    the oracle compare (entries sorted as strings, like the oracle's)."""
    from delphi_crawler_spark.operators.aggs import nested_library_doc

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0).select(
        F.concat(F.lit("D"), F.col("l_orderkey")).alias("src_doc"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("library"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("method"),
    )
    entries = F.transform(
        "calls",
        lambda c: F.concat(c["name"], F.lit(":"), F.array_join(c["methods"], "|")),
    )
    return nested_library_doc(li).select(
        "src_doc", F.array_join(F.array_sort(entries), ";").alias("calls_str")
    )


def q_a4_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4: per-doc feature counting over interleaved spans with
    higher-order array functions, no explode, no Python (reference Hermes
    feature counting, HermesAnalyzer.scala:42-51). Spans are synthesized
    deterministically from the document text (kind = word length mod 3)."""
    from delphi_crawler_spark.operators.links import span_stats

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    kind = lambda w: (  # noqa: E731
        F.when(F.length(w) % 3 == 0, F.lit("text"))
        .when(F.length(w) % 3 == 1, F.lit("link"))
        .otherwise(F.lit("media"))
    )
    spans = F.transform(
        words,
        lambda w, i: F.struct(
            kind(w).alias("kind"),
            w.alias("text"),
            F.when(F.length(w) % 3 == 2, F.concat(F.lit("m://"), i)).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    docs2 = docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), spans.alias("spans"))
    from delphi_crawler_spark.operators.links import SPAN_INT_FEATURES

    s = span_stats(docs2)
    return s.select(
        "doc_id",
        *[F.col(c).cast(BIG).alias(c) for c in SPAN_INT_FEATURES],
        "mean_text_len",
        "link_density",
        "media_density",
        "first_kind",
        "last_kind",
    )


def _synth_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved-span synthesis from documents.text (kind =
    word length mod 3, offset = word index) — the shared input model of the
    A2/A4 family so their DuckDB oracles can re-derive the same spans."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    spans = F.transform(
        words,
        lambda w, i: F.struct(
            F.when(F.length(w) % 3 == 0, F.lit("text"))
            .when(F.length(w) % 3 == 1, F.lit("link"))
            .otherwise(F.lit("media"))
            .alias("kind"),
            w.alias("text"),
            F.when(F.length(w) % 3 == 2, F.concat(F.lit("m://"), i)).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), spans.alias("spans"))


def q_a2_feature_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-doc feature map shaped as the reference's ``Map[String,Int]``
    (HermesActor.scala:49) via map_from_entries — serialized to a canonical
    sorted string for the oracle compare (map column hashing is
    representation-dependent). Wide since schema v4 (v5 widened): the map
    carries the full declared integer feature space (SPAN_INT_FEATURES +
    WIDE_INT_FEATURES — 174 keys), the breadth analogue of the reference's
    ElasticFeatureListMapping.scala:33-426."""
    from delphi_crawler_spark.operators.links import feature_map

    fm = feature_map(_synth_spans_docs(spark, sf_dir), wide=True)
    entry_strs = F.transform(
        F.array_sort(F.map_entries("features")),
        lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
    )
    return fm.select("doc_id", F.array_join(entry_strs, ",").alias("features_str"))


def q_a4b_span_stats_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 widened (schema v4 + v5): the per-kind × per-metric cross product
    — 142 per-kind + 24 global wide features per document, all higher-order
    array functions in one narrow projection (reference breadth precedent:
    ElasticFeatureListMapping.scala:33-426)."""
    from delphi_crawler_spark.operators.links import (
        WIDE_DOUBLE_FEATURES,
        WIDE_INT_FEATURES,
        span_stats_wide,
    )

    s = span_stats_wide(_synth_spans_docs(spark, sf_dir))
    return s.select(
        "doc_id",
        *[F.col(c).cast(BIG).alias(c) for c in WIDE_INT_FEATURES],
        *[F.col(c) for c in WIDE_DOUBLE_FEATURES],
    )


def q_c5_prop_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: ``${property}`` interpolation against a properties map (the
    reference resolves POM coordinate placeholders,
    MavenDependencyActor.scala:39-58) — broadcast-join the props dim and one
    JVM regexp_replace; unresolvable placeholders pass through unchanged."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    raw = cust.select(
        F.col("c_custkey").cast(BIG).alias("c_custkey"),
        F.col("c_nationkey").alias("k"),
        F.concat(
            F.lit("ref-${nation_"), F.col("c_nationkey"), F.lit("}-"),
            F.when(F.col("c_custkey") % 5 == 0, F.lit("${missing}")).otherwise(F.lit("ok")),
        ).alias("tpl"),
    )
    props = nation.select(
        F.col("n_nationkey").alias("k"),
        F.concat(F.lit("${nation_"), F.col("n_nationkey"), F.lit("}")).alias("ph"),
        F.lower(F.col("n_name")).alias("val"),
    )
    joined = raw.join(F.broadcast(props), "k", "left")
    resolved = F.when(
        F.col("ph").isNotNull(), F.replace(F.col("tpl"), F.col("ph"), F.col("val"))
    ).otherwise(F.col("tpl"))
    return joined.select("c_custkey", resolved.alias("resolved"))


def q_a5_partition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-partition lineage/metrics rows the north rule checkpoints
    each round — pinned-partitioner variant (bucket key = pmod(seq, 8),
    physically repartitioned on it), so the lineage row is an exact pure
    function of the input and carries a SQL oracle. The engine itself
    checkpoints the introspective spark_partition_id() twin
    (operators/aggs.partition_metrics), whose answer IS the runtime
    partitioning and therefore stays oracle-free by design."""
    from delphi_crawler_spark.operators.aggs import partition_metrics_pinned

    fr = _events_frontier(spark, sf_dir)
    return partition_metrics_pinned(fr, num_buckets=8).select(
        F.col("partition_id").cast(BIG).alias("partition_id"),
        F.col("n_rows").cast(BIG).alias("n_rows"),
        F.col("min_seq").cast(BIG).alias("min_seq"),
        F.col("max_seq").cast(BIG).alias("max_seq"),
    )


def q_s4_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-S6: the keyed MERGE plan (WHEN MATCHED UPDATE + WHEN NOT MATCHED
    INSERT) as a pure DataFrame transform — matched customers get their
    balance replaced by an exact-decimal order total, unmatched source rows
    insert (reference keyed upserts, ElasticStoreQueries.scala:38-50,63-75)."""
    from delphi_crawler_spark.storage.tablestore import merge_frames

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    upd = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("c_acctbal")
    )
    upd_full = upd.select(
        "c_custkey",
        F.lit("upd").alias("c_name"),
        F.lit(0).cast("int").alias("c_nationkey"),
        "c_acctbal",
        F.lit("NONE").alias("c_mktsegment"),
    )
    ins = cust.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("c_custkey")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    source = upd_full.unionByName(ins)
    merged = merge_frames(cust, source, ["c_custkey"], update_cols=["c_acctbal"])
    return merged.select(
        F.col("c_custkey").cast(BIG).alias("c_custkey"),
        "c_name",
        F.col("c_nationkey").cast(BIG).alias("c_nationkey"),
        "c_acctbal",
        "c_mktsegment",
    )


def q_agg_distinct_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 metrics shapes: count / exact count-distinct / exact-decimal sum /
    min / max per event type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: event-time tumbling window aggregation (batch plan ≡ Structured
    Streaming plan for the same window) — 1h windows per event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: event-time sliding (hopping) window aggregation — 1h windows
    every 15min, each event in 4 windows (batch plan ≡ Structured
    Streaming plan; streaming parity pinned in test_streaming.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.streaming.frontier_stream import sliding_event_metrics

    ev = _t(spark, sf_dir, "events")
    # batch path: no watermark semantics apply; call the same plan builder
    return sliding_event_metrics(ev)


# =====================================================================
# Relational analytics (scan/filter/join/agg parity demos)
# =====================================================================


def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-filter (HAVING) + distinct-count: parts appearing in many
    orders — aggregate pushdown + post-aggregation predicate."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_partkey").cast(BIG).alias("l_partkey")).agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
    )
    return g.filter(F.col("n_orders") >= 30)


def q_p1b_politeness_perhost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 with per-host budgets from a broadcast dim table (the reference's
    single global constant generalized): rate/burst vary per host."""
    from delphi_crawler_spark.operators.politeness import assign_emission_slots

    fr = _events_frontier(spark, sf_dir)
    pol = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id"), F.concat(F.lit("u"), F.col("user_id")).alias("host"))
        .distinct()
        .withColumn("rate_per_sec", (F.lit(1.0) + F.col("user_id") % 5).cast("double"))
        .withColumn("max_burst", (F.col("user_id") % 3 + 1).cast("int"))
        .drop("user_id")
    )
    slotted = assign_emission_slots(fr, politeness=pol)
    return slotted.select(
        "host", "seq",
        F.col("priority").cast(BIG).alias("priority"),
        F.col("host_rank").cast(BIG).alias("host_rank"),
        F.col("emit_ms").cast(BIG).alias("emit_ms"),
    )


# =====================================================================
# Training-data pipeline: dedup family
# =====================================================================


def q_dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5-digest group, smallest id representative."""
    from delphi_crawler_spark.operators.dedup_fuzzy import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "lang", "source",
        F.col("n_chars").cast(BIG).alias("n_chars"),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (the verify stage of the
    MinHash pipeline, run over all pairs as the correctness baseline; the
    scale path generates candidates with LSH — q_dedup_minhash_lsh)."""
    from delphi_crawler_spark.operators.dedup_fuzzy import jaccard_verify

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        # the all-pairs oracle baseline must still parallelize: a
        # 1-partition scan would otherwise collapse the verify into
        # one task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return jaccard_verify(pairs, docs, "doc_id", "text", shingle_n=3, threshold=0.5)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup dedup, the 100TB scale path: signature → banded
    bucket equi-join → exact Jaccard verify → survivors. Oracle:
    expected-parquet from an independent per-document loop implementation
    (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import minhash_dedup

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return minhash_dedup(docs, "doc_id", "text", threshold=0.5).select("doc_id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via the pigeonhole block trick: exploded block
    equi-join + exact hamming via bit_count(XOR). Oracle: expected-parquet
    from an independent brute-force all-pairs hamming implementation
    (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import (
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # persist: both sides of the bucket self-join read the signatures; an
    # unpersisted frame would run the Arrow UDF twice (once per branch)
    signed = simhash_signatures(docs).persist()
    return simhash_near_dup_pairs(signed, "doc_id", max_hamming=8).select(
        "id_a", "id_b", F.col("hamming").cast(BIG).alias("hamming")
    )


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.35 (brute-force verify path; the
    scale path buckets by random-hyperplane LSH first)."""
    from delphi_crawler_spark.operators.dedup_fuzzy import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.35, brute_force=True
    )


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, the scale path: banded random-hyperplane sign
    buckets → within-bucket pairs → exact cosine verify. At 10^9 vectors the
    pair space is bucket-local — no cross join exists in the plan. Oracle:
    expected-parquet from an independent numpy implementation with
    bit-exact fold-order cosine (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    return embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.35, n_planes=8, brute_force=False
    )


# =====================================================================
# Training-data pipeline: similarity search
# =====================================================================


def _queries_df(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 per query — one JVM zip_with/aggregate expression,
    broadcast query side, window rank with id tiebreak."""
    from delphi_crawler_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, _queries_df(spark, sf_dir), k=10)
    return out.select(
        F.col("query_id").cast(BIG).alias("query_id"),
        F.col("rank").cast(BIG).alias("rank"),
        F.col("vec_id").cast(BIG).alias("vec_id"),
        "cosine",
    )


def q_sim_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-k through the Arrow path: one numpy matmul per batch
    (mapInPandas) — the throughput path at width ≥512."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, _queries_df(spark, sf_dir), k=10, use_pandas=True)
    return out.select(
        F.col("query_id").cast(BIG).alias("query_id"),
        F.col("rank").cast(BIG).alias("rank"),
        F.col("vec_id").cast(BIG).alias("vec_id"),
        "cosine",
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN: probe nprobe/nlist of the corpus, exact-rank inside.
    Oracle: expected-parquet from an independent driver-side replication of
    the seeded spherical k-means + probe + rank (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = ivf_topk(emb, _queries_df(spark, sf_dir), k=10, nlist=8, nprobe=4)
    return out.select(
        F.col("query_id").cast(BIG).alias("query_id"),
        F.col("rank").cast(BIG).alias("rank"),
        F.col("vec_id").cast(BIG).alias("vec_id"),
        "cosine",
    )


# =====================================================================
# Training-data pipeline: text analysis
# =====================================================================


def q_text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword signals + interpretable score,
    pure JVM expressions."""
    from delphi_crawler_spark.functions.textfns import quality_features

    docs = _t(spark, sf_dir, "documents")
    out = quality_features(docs)
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("n_chars_m").cast(BIG).alias("n_chars_m"),
        F.col("n_tokens").cast(BIG).alias("n_tokens"),
        "punct_ratio", "stopword_ratio", "mean_token_len", "quality_score",
    )


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword units (both JVM
    regex; the budget estimators of a training-data pipeline)."""
    from delphi_crawler_spark.functions.textfns import (
        bpe_ish_token_count_col,
        token_count_col,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        token_count_col(F.col("text")).cast(BIG).alias("ws_tokens"),
        bpe_ish_token_count_col(F.col("text")).cast(BIG).alias("bpe_tokens"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: CJK script detection + stopword-profile vote (Arrow-
    vectorized pandas UDF)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        lang_id(F.col("text")).alias("lang_pred"),
    )


def q_text_fingerprint_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words document fingerprint: md5 over the sorted distinct token
    bag — one JVM expression."""
    from delphi_crawler_spark.functions.textfns import bow_fingerprint_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        bow_fingerprint_col(F.col("text")).alias("fp"),
    )


def q_text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprint — shift-robust, one JVM
    expression. Oracle: expected-parquet from an independent spec-level
    XXH64 implementation (tools/gen_expected.py)."""
    from delphi_crawler_spark.functions.textfns import rolling_fingerprint_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        rolling_fingerprint_col(F.col("text")).alias("fp"),
    )


# =====================================================================
# Training-data pipeline: multimodal plumbing
# =====================================================================


def q_mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature plumbing: opaque binary payloads through an
    Arrow-batched mapInPandas stage (deterministic fake decoder — the
    container has no image/audio libs; the Spark-side schema/batch plumbing
    is real)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.multimodal import extract_media_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("m://"), F.col("doc_id")).alias("media_ref"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    out = extract_media_features(media)
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        "kind", "payload_sha256",
        F.col("payload_bytes").cast(BIG).alias("payload_bytes"),
    )


_MAGIC_BY_CLASS: list[tuple[bytes, str]] = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff\xe0", "image/jpeg"),
    (b"GIF89a", "image/gif"),
    (b"RIFF\x00\x01\x02\x03WEBP", "image/webp"),
    (b"RIFF\x00\x01\x02\x03WAVE", "audio/wav"),
    (b"\x00\x00\x00\x18ftypmp42", "video/mp4"),
    (b"%PDF-1.7", "application/pdf"),
    (b"PK\x03\x04", "application/zip"),
    (b"\x1f\x8b\x08", "application/gzip"),
    (b"ID3\x04", "audio/mpeg"),
    (b"<!DOCTYPE html>", "text/html"),
    (b"", "application/octet-stream"),  # no magic -> WHATWG fallback
]


def q_mm_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type sniffing from binary magic bytes (WHATWG MIME-sniffing
    §6 subset): payloads synthesize one of 12 signature classes (PNG, JPEG,
    GIF, RIFF→WEBP/WAVE, ISO-BMFF ftyp, PDF, ZIP, GZIP, ID3, HTML, none)
    prepended to the document text; the sniffer is pure JVM hex-prefix
    matching over the first 16 bytes. The oracle derives the expected MIME
    independently from the class rule — a wrong signature table or
    condition order hash-mismatches."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.multimodal import sniff_mime

    docs = _t(spark, sf_dir, "documents")
    cls = (F.col("doc_id") % 12).cast("int")
    payload = None
    for i, (magic, _) in enumerate(_MAGIC_BY_CLASS):
        body = F.concat(F.lit(magic), F.encode("text", "UTF-8"))
        payload = F.when(cls == i, body) if payload is None else payload.when(cls == i, body)
    media = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"), payload.alias("payload")
    )
    return media.select(
        "doc_id",
        sniff_mime("payload").alias("mime"),
        F.length("payload").cast(BIG).alias("payload_bytes"),
    )


def q_mm_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling contract: (doc, frame_ts) rows from duration
    metadata — pure JVM sequence+explode; frame decode is the pluggable
    Arrow stage."""
    from delphi_crawler_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    media = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.concat(F.lit("m://"), F.col("doc_id")).alias("media_ref"),
        F.lit("video").alias("kind"),
        F.struct(((F.col("doc_id") % 50) * 500 + 1000).cast("int").alias("duration_ms")).alias("meta"),
    )
    return sample_frames(media, every_ms=700).select(
        "doc_id", "media_ref", F.col("frame_ts").cast(BIG).alias("frame_ts")
    )


def q_pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pipeline — the operators above chained
    the way a real 100 TB corpus build runs them: exact dedup (hash-agg on
    content digest) → quality signals (pure JVM) → language ID (Arrow UDF)
    → keep english docs with >= 10 tokens → token budgets. One narrow
    DAG: the only shuffle is the dedup hash-agg; quality/lang/token stages
    are per-row projections that pipeline behind it."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import (
        bpe_ish_token_count_col,
        lang_id,
        quality_features,
    )
    from delphi_crawler_spark.operators.dedup_fuzzy import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    deduped = exact_dedup(docs, "text", "doc_id")
    scored = quality_features(deduped)
    kept = scored.withColumn("lang_pred", lang_id(F.col("text"))).filter(
        (F.col("lang_pred") == "en") & (F.col("n_tokens") >= 10)
    )
    return kept.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("n_tokens").cast(BIG).alias("n_tokens"),
        bpe_ish_token_count_col(F.col("text")).cast(BIG).alias("bpe_tokens"),
        "quality_score",
        "lang_pred",
    )


def q_corpus_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus segment dedup (CCNet/RefinedWeb-style repeated-span
    removal): 8-token segments, corpus-wide document frequency, repeated
    segments dropped everywhere except their first-occurrence document.
    One hash-agg + one equi-join on the segment text — linear shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import dup_segment_stats

    docs = _t(spark, sf_dir, "documents")
    out = dup_segment_stats(docs, "doc_id", "text", seg_tokens=8)
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("n_segments").cast(BIG).alias("n_segments"),
        F.col("n_dup_segments").cast(BIG).alias("n_dup_segments"),
        "clean_text",
    )


def q_corpus_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signals (Rae et al. 2021 §A1.1
    style): duplicate-word fraction, top-word fraction, top-bigram fraction,
    and the keep verdict — all hash-aggs keyed by (doc, term)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    out = repetition_signals(docs, "doc_id", "text")
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("n_tokens").cast(BIG).alias("n_tokens"),
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top_word_frac", 6).alias("top_word_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
        "keep",
    )


def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget stratified sampling: per language, admit documents in
    md5(doc_id) order until 3000 tokens are reached (budget-crossing doc
    kept). The per-stratum cumsum is two-phase per-partition offsets over a
    range partitioning — no window, so one giant stratum never serializes
    into a single sort task."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import stratified_token_sample

    docs = _t(spark, sf_dir, "documents")
    out = _materialize_release(
        stratified_token_sample(
            docs, budget_tokens=3000, stratum_col="lang", id_col="doc_id"
        ),
        "_release_stratified",
    )
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        "lang",
        F.col("n_tokens").cast(BIG).alias("n_tokens"),
        F.col("cum_tokens").cast(BIG).alias("cum_tokens"),
    )


def q_text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-density boilerplate removal (justext/trafilatura heuristic
    core): synthesized pages interleave real content lines with a nav bar,
    a copyright footer, and a dateline; only lines that are long enough,
    word-dense, and letter-dominant survive. Pure JVM higher-order filter,
    no shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.scrub import boilerplate_strip

    docs = _t(spark, sf_dir, "documents")
    page = F.concat_ws(
        "\n",
        F.substring("text", 1, 120),
        F.lit("Home | About | Contact"),
        F.lit("(c) 2024 example.com"),
        F.concat(F.lit("Published 2024-01-0"), (F.col("doc_id") % 9 + 1)),
        F.substring("text", 121, 120),
    )
    pages = docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), page.alias("text"))
    out = boilerplate_strip(pages)
    return out.select(
        "doc_id",
        "content",
        F.col("n_lines_kept").cast(BIG).alias("n_lines_kept"),
        F.col("n_lines_total").cast(BIG).alias("n_lines_total"),
    )


def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing (GPT-3/T5 pretraining practice;
    Krell et al. 2022): documents walk in doc_id order within their shard
    and fill fixed 89-token training sequences; a document longer than the
    budget gets a sequence of its own. One hash repartition on the shard
    key, then a vectorized per-shard applyInPandas over (id, weight) only —
    the text never moves. Budget 89 vs the 10-99-token corpus exercises
    both multi-doc packing and the oversized-doc clamp."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        (F.col("doc_id") % 8).cast(BIG).alias("shard"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", budget=89)


def q_corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-length context windows over each document's token
    stream (seq_len 32, stride 24 — the BERT/GPT long-document convention;
    packing's inverse). Entirely JVM: split → sequence → explode → slice
    inside whole-stage codegen, no shuffle, no Python."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.packing import chunk_token_windows

    docs = _t(spark, sf_dir, "documents")
    return chunk_token_windows(docs, "doc_id", "text", seq_len=32, stride=24)


def q_corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (XLM-R/mT5 practice, alpha=0.5):
    per (source:lang) token mass → natural share p, flattened sampling
    share q ∝ p^0.5, and expected epochs over each source when drawing a
    fixed 3M-token budget. One corpus hash-agg + scalar math on the
    group-sized result."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.mixture import temperature_mixture

    docs = _t(spark, sf_dir, "documents").select(
        # concat (null-propagating, matching SQL ||), NOT concat_ws: a null
        # source/lang must null the group so both engines drop the row in
        # the operator's / oracle's null-group filter.
        F.concat("source", F.lit(":"), "lang").alias("grp"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tokens"),
    )
    return temperature_mixture(
        docs, "grp", "n_tokens", alpha=0.5, budget=3_000_000
    )


def q_corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global quality-ordered selection under a 12k-token budget (the
    "best X-billion-token subset" step; GPT-3 §2.2 / FineWeb practice).
    Quality = letter+space character ratio (pure JVM). The global prefix
    sum uses the two-phase range-partition shape — no single-task window."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import token_budget_select

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        (
            F.length(F.regexp_replace("text", "[^A-Za-z ]", ""))
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("quality"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast(BIG)
        .alias("n_tokens"),
    )
    out = token_budget_select(docs, 12_000)
    return _materialize_release(out, "_release_budget")


def q_corpus_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram PMI (Church & Hanks 1990) over the corpus at
    min_count=4: bigrams from one in-row JVM transform (no position
    self-join), vocabulary-sized hash-aggs, min_count filter below the
    unigram joins."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.collocations import collocation_pmi

    out = collocation_pmi(_t(spark, sf_dir, "documents"), min_count=4)
    # frequent-bigram table is min_count-bounded (vocabulary tail, not
    # corpus) — safe to materialize while releasing the token cache
    return _materialize_release(out, "_release_pmi")


def q_p13_host_quality_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-shrunk per-host content-quality prior (focused-crawling
    feedback, Chakrabarti 1999): integer letter/char masses per host, rate
    shrunk toward the global rate with k=200 pseudo-chars. One hash-agg +
    broadcast 1-row totals."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import host_quality_prior

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 23).cast("string")).alias("host"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_letters"),
        F.length("text").alias("n_chars"),
    )
    return host_quality_prior(docs, k=200.0)


def q_mm_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-once planning for media assets embedded across documents:
    spans synthesized as in a4/a6 but with content-derived media refs (the
    same token ⇒ the same asset in every embedding doc), then per-asset
    reference/doc counts and the deterministic fetch owner. Only
    (doc_id, media_ref) pairs ever explode; two hash-aggs share the grain."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.multimodal import media_fetch_plan

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    spans = F.transform(
        words,
        lambda w, i: F.struct(
            F.when(F.length(w) % 3 == 2, F.lit("media"))
            .otherwise(F.lit("text"))
            .alias("kind"),
            w.alias("text"),
            F.when(F.length(w) % 3 == 2, F.concat(F.lit("m://"), w)).alias(
                "media_ref"
            ),
            i.cast("int").alias("offset"),
        ),
    )
    docs2 = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"), spans.alias("spans")
    )
    return media_fetch_plan(docs2)


def q_corpus_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup clusters (same CC pass
    as dedup_cluster_cc) hash as a UNIT into 0.8/0.1/0.1 bands, so
    near-duplicates can never straddle train and eval (Lee et al. 2022's
    contamination mode). The split itself is a pure JVM projection on top
    of the one clustering pass."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import jaccard_verify
    from delphi_crawler_spark.operators.graph import neardup_clusters
    from delphi_crawler_spark.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        # the all-pairs oracle baseline must still parallelize: a
        # 1-partition scan would otherwise collapse the verify into
        # one task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dups = jaccard_verify(pairs, docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    clusters = neardup_clusters(docs.select("doc_id"), dups.select("id_a", "id_b"))
    out = leakage_safe_split(
        clusters, "cluster_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("cluster_id").cast(BIG).alias("cluster_id"),
        "split",
    )


def q_corpus_global_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global uniform 100-sample (eval-subset draw):
    md5-ranked TakeOrderedAndProject — per-partition k-bounded top-k, no
    global sort, no corpus-wide window (plan-audited)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.sampling import global_uniform_sample

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id")
    )
    out = global_uniform_sample(docs, "doc_id", k=100)
    return out.select("doc_id", F.col("sample_rank").cast(BIG).alias("sample_rank"))


def q_pipeline_training_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-write path: quality score (letter ratio) →
    global token-budget selection (12k, two-phase prefix sum) → next-fit
    packing of the selected docs into 128-token sequences over 4 shards.
    Composes the continuation family; every stage individually oracled."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import token_budget_select
    from delphi_crawler_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        (
            F.length(F.regexp_replace("text", "[^A-Za-z ]", ""))
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("quality"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast(BIG)
        .alias("n_tokens"),
    )
    sel = token_budget_select(docs, 12_000)
    sel = _materialize_release(sel, "_release_budget")
    packed = pack_sequences(
        sel.withColumn("shard", (F.col("doc_id") % 4).cast(BIG)),
        "doc_id",
        "n_tokens",
        budget=128,
    )
    return packed


def q_text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring (Wenzek 2020): add-one-smoothed
    bigram LM trained on the deterministic doc_id%3==0 reference slice,
    every document scored by mean bigram NLL + perplexity. LM count tables
    are vocabulary-bounded (AQE-broadcastable); bigram emission is a
    shuffle-free zip_with explode; all expressions JVM."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.lm import bigram_perplexity

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    out = bigram_perplexity(docs, train_pred=F.col("doc_id") % 3 == 0)
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("n_bigrams").cast(BIG).alias("n_bigrams"),
        "avg_nll",
        "ppl",
    )


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher composite quality-rule filter (Rae 2021 App. A): word-count /
    mean-word-length bounds, symbol + bullet/ellipsis line ratios,
    alphabetic-word fraction, distinct-stop-word floor — one narrow JVM map
    over the scan, pass flag from the unrounded metrics."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import gopher_rules

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    return gopher_rules(docs).select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "n_stop_hits", "passed",
    )


def q_agg_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Count-Min frequency telemetry (Cormode & Muthukrishnan
    2005): per-partition count matrices sum-merged with the two-level
    Arrow fold (the bloom/HLL segment shape), then point estimates for the
    probe keys via a broadcast of the 128 KiB sketch — estimates are
    computed executor-side in a narrow mapInPandas, never a driver loop.
    Oracle: expected-parquet from an independent per-event Python sketch
    (tools/gen_expected.py) — same public-spec XXH64 row hashing."""
    _ensure_pkg(spark)
    import numpy as np

    from delphi_crawler_spark.operators.cms import CMS, build_cms_segment

    depth, width = 4, 4096
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(F.xxhash64("user_id").alias("h"))
    cms = build_cms_segment(keyed, col="h", depth=depth, width=width)
    probes = ev.select("user_id").distinct().select(
        "user_id", F.xxhash64("user_id").alias("h")
    )
    bc = spark.sparkContext.broadcast(cms.counts)

    def est(batches):
        sk = CMS(depth, width, bc.value)
        for pdf in batches:
            hv = pdf["h"].to_numpy(dtype="int64").view(np.uint64)
            out = pdf[["user_id"]].copy()
            out["est_count"] = sk.estimate_many(hv)
            yield out

    out = probes.mapInPandas(est, schema="user_id long, est_count long")
    return out.select(
        F.col("user_id").cast(BIG).alias("user_id"),
        F.col("est_count").cast(BIG).alias("est_count"),
    )


def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich 2016): 30 merge
    iterations over the distinct-word grain — ONE corpus-sized word-count
    agg, then every iteration is a vocab-sized pair-count hash-agg, a
    TakeOrdered argmax (driver sees one row per iteration), and a narrow
    JVM fold merge with per-iteration localCheckpoint lineage truncation.
    Oracle: expected-parquet from the independent per-word Python trainer
    (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, num_merges=30, min_pair_count=2)


def q_agg_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level corpus telemetry in ONE pass: CUBE(source, lang) —
    per-(source,lang), per-source, per-lang, and grand-total doc/token/char
    stats from a single partial-aggregating shuffle (Spark expands grouping
    sets map-side; no per-level rescan). The §2.6 grouping-sets surface; at
    100 TB this replaces 4 separate dashboard scans with one."""
    _ensure_pkg(spark)
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tok"),
        F.length("text").alias("n_chr"),
    )
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).cast(BIG).alias("n_docs"),
            F.sum("n_tok").cast(BIG).alias("n_tokens"),
            F.sum("n_chr").cast(BIG).alias("n_chars"),
        )
        .select("source", "lang", "n_docs", "n_tokens", "n_chars")
    )


def q_agg_pivot_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix matrix per source: PIVOT on an explicit lang list —
    Spark plans one hash-agg with conditional aggregates (no per-lang
    rescan, no dynamic-schema second job because the value list is
    pinned). The wide-telemetry shape a mixture dashboard reads."""
    _ensure_pkg(spark)
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tok"),
    )
    langs = ["de", "en", "es", "fr", "zh"]
    out = docs.groupBy("source").pivot("lang", langs).agg(F.sum("n_tok"))
    # post-pivot zero-fill: a (source, lang) cell with no rows is NULL
    return out.select(
        "source", *[F.coalesce(F.col(l), F.lit(0)).cast(BIG).alias(l) for l in langs]
    )


def q_pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate composition over today's scoring family: keep documents
    that pass the Gopher rule set AND sit at/below the corpus-median bigram
    perplexity (median via the exact two-phase percentile_disc — no global
    sort). The CCNet+Gopher filter stack as one oracled query; every stage
    individually oracled too."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import gopher_rules
    from delphi_crawler_spark.operators.lm import bigram_perplexity
    from delphi_crawler_spark.operators.quantiles import exact_quantiles

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    # the LM scoring lineage is the expensive stage and feeds BOTH the
    # median pick and the final join — materialize it once
    lmout = bigram_perplexity(docs, train_pred=F.col("doc_id") % 3 == 0).localCheckpoint()
    med = exact_quantiles(lmout, "avg_nll", [0.5])
    med = _materialize_release(med, "_release_quantiles").select(
        F.col("value").alias("med_nll")
    )
    # corpus-adapted knobs (the synthetic vocabulary carries one stop word,
    # so the published stop floor of 2 is unreachable by construction)
    gop = gopher_rules(docs, min_words=20, min_stop_hits=1).select(
        "doc_id", "n_words", "n_stop_hits", "passed"
    )
    out = (
        lmout.crossJoin(F.broadcast(med))
        .join(gop, "doc_id")
        .where((F.col("passed") == 1) & (F.col("avg_nll") <= F.col("med_nll")))
    )
    return out.select(
        "doc_id",
        F.col("n_words").cast(BIG).alias("n_words"),
        F.col("n_bigrams").cast(BIG).alias("n_bigrams"),
        "avg_nll",
        "ppl",
        "med_nll",
    )


def q_corpus_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a literal query over the corpus — the
    retrieval half of the inverted-index story. Tokens prune to the query
    terms BEFORE the first shuffle (the posting-read analogue); N/avgdl
    are one broadcast scalar row from integer masses; final top-k is a
    TakeOrdered on the rounded score."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.invindex import bm25_topk

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    out = bm25_topk(docs, ["join", "stream", "window"], k=25)
    return out.select(
        "doc_id", "score", F.col("n_terms").cast(BIG).alias("n_terms")
    )


def q_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack 2009, k=60) of the
    BM25 lexical top-50 and the dense cosine top-50 (query = embedding 0).
    Ranks come from the two k-bounded lists (TakeOrdered each side), the
    fusion is a 50∪50-row full-outer join — driver-scale, no corpus pass
    beyond the two retrievals. Exact twin: both ranks ordered on the
    ROUNDED scores with id tiebreaks, RRF arithmetic fixed-order."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.invindex import bm25_topk
    from delphi_crawler_spark.operators.similarity import brute_force_topk

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    bm = bm25_topk(docs, ["join", "stream", "window"], k=50)
    w_bm = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    bm_r = bm.select("doc_id", F.row_number().over(w_bm).alias("r_bm"))

    emb = _t(spark, sf_dir, "embeddings")
    q0 = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dn = brute_force_topk(emb, q0, k=50).select(
        F.col("vec_id").cast(BIG).alias("doc_id"), F.col("rank").alias("r_d")
    )
    fused = bm_r.join(dn, "doc_id", "full_outer").select(
        "doc_id",
        F.col("r_bm").cast(BIG).alias("r_bm"),
        F.col("r_d").cast(BIG).alias("r_d"),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_bm")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_d")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(20)


def q_sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection of the embeddings table to 16 dims (seeded
    Gaussian matrix, Arrow GEMM over mapInPandas — narrow, no exchange).
    Oracle: expected-parquet from an independent per-row Python dot-product
    (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    out = random_projection(emb, out_dim=16, seed=42, as_csv=True)
    return out.select(F.col("vec_id").cast(BIG).alias("vec_id"), "proj")


def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE *application* at corpus scale: train 30 merges (as
    corpus_bpe_merges), then tokenize every document — the merge fold runs
    over the DISTINCT-word table (vocab-sized, not corpus-sized), the
    per-doc token stream is a broadcast join + posexplode/flatten
    reassembly, word order preserved. Oracle: expected-parquet from the
    independent per-word Python encoder (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    mt = bpe_train(docs, num_merges=30, min_pair_count=2)
    merges = [(r["left"], r["right"]) for r in mt.orderBy("merge_rank").collect()]
    # same-corpus encode: reuse the trainer's final symbol state instead of
    # replaying 30 vocab-wide folds
    enc = bpe_encode(docs, merges, state=mt._bpe_state)
    return enc.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.size("tokens").cast(BIG).alias("n_tokens"),
        F.array_join("tokens", " ").alias("tokens_text"),
    )


def q_r6_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level drift between crawl rounds: per-term Jensen–Shannon
    contributions between the doc_id%2 halves of the corpus (stand-in for
    round A/B). One term hash-agg per side, vocab-grain full-outer join,
    broadcast scalar totals — never corpus-sized past the first agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.snapshot import term_distribution_drift

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    out = term_distribution_drift(
        docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)
    )
    return out.select(
        "term",
        F.col("cnt_a").cast(BIG).alias("cnt_a"),
        F.col("cnt_b").cast(BIG).alias("cnt_b"),
        "p_a", "p_b", "jsd_term",
    )


def q_p14_focused_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focused-crawl boost (Chakrabarti 1999): integer topic-term mass per
    doc (broadcast topic join + one hash-agg), pooled over each target's
    in-links, priority boost via exact integer division — no float
    threshold can flip across engines or summation orders."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.focused import (
        focused_priority,
        topic_relevance,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    rel = topic_relevance(docs, {"join": 3, "stream": 2, "query": 1})
    li = _t(spark, sf_dir, "lineitem")
    links = li.select(
        (F.col("l_orderkey") % 500).cast(BIG).alias("src"),
        F.concat(F.lit("k"), F.col("l_partkey")).alias("dst"),
    )
    return focused_priority(rel, links)


def q_pipeline_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end adaptive frontier prioritization: Bayesian host quality
    prior (p13) + focused-crawl topic boost (p14) composed onto a frontier,
    then the P6 per-host top-2 window emission. Effective priority is pure
    integer arithmetic (base + boost) so the window order is bit-exact;
    the prior rides along as telemetry."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.focused import (
        focused_priority,
        topic_relevance,
    )
    from delphi_crawler_spark.operators.recrawl import host_quality_prior

    docs_raw = _t(spark, sf_dir, "documents")
    hp = host_quality_prior(
        docs_raw.select(
            F.concat(F.lit("h"), (F.col("doc_id") % 23).cast("string")).alias("host"),
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_letters"),
            F.length("text").alias("n_chars"),
        ),
        k=200.0,
    ).select("host", "prior")
    rel = topic_relevance(
        docs_raw.select(F.col("doc_id").cast(BIG).alias("doc_id"), "text"),
        {"join": 3, "stream": 2, "query": 1},
    )
    links = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 500).cast(BIG).alias("src"),
        F.concat(F.lit("k"), F.col("l_partkey")).alias("dst"),
    )
    boost = focused_priority(rel, links).select("dst", "priority_boost")
    frontier = _t(spark, sf_dir, "part").select(
        F.concat(F.lit("k"), F.col("p_partkey")).alias("url"),
        F.concat(F.lit("h"), (F.col("p_partkey") % 23).cast("string")).alias("host"),
        (F.col("p_size") % 5).cast(BIG).alias("base"),
    )
    j = (
        frontier.join(boost, frontier["url"] == boost["dst"], "left")
        .join(hp, "host", "left")
        .select(
            "host",
            "url",
            (F.col("base") + F.coalesce("priority_boost", F.lit(0)))
            .cast(BIG)
            .alias("eff_priority"),
            F.coalesce("prior", F.lit(0.0)).alias("host_prior"),
        )
    )
    w = Window.partitionBy("host").orderBy(
        F.col("eff_priority").desc(), F.col("url").asc()
    )
    return (
        j.withColumn("rnk", F.row_number().over(w).cast(BIG))
        .where(F.col("rnk") <= 2)
        .select("host", "url", "eff_priority", "rnk", "host_prior")
    )


def q_r5_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho & Garcia-Molina (TOIT 2003) bias-reduced Poisson change-rate
    estimator per URL from revisit history: lambda_hat = -ln((n-X+0.5)/
    (n+0.5)) per mean revisit interval, corrected for changes missed
    between probes. Events stand in as revisits: user bucket ≡ URL,
    every-third event ≡ detected change. One hash-agg, all JVM math."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import change_rate_estimate

    ev = _t(spark, sf_dir, "events")
    visits = ev.select(
        F.concat(F.lit("u"), F.col("user_id") % 500).alias("url"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        (F.col("event_id") % 3 == 0).alias("changed"),
    )
    out = change_rate_estimate(visits)
    return out.select(
        "url",
        F.col("n_visits").cast(BIG).alias("n_visits"),
        F.col("n_changed").cast(BIG).alias("n_changed"),
        "mean_interval_s",
        "lambda_per_day",
        "horizon_days",
    )


def q_p7_host_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 at host granularity: restart-with-backoff policy derived from
    per-(host, round) fetch metrics — trailing failed-round streak →
    min(90, 30·2^(streak-1)) s backoff, retired past 20 straight failures
    (reference IndexProcessing.scala:36-41 RestartSource parameters).
    Events stand in as fetch outcomes: user ≡ host, minute ≡ round,
    non-error ≡ success. One partial-aggregating hash-agg, no window."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import host_backoff_schedule

    ev = _t(spark, sf_dir, "events")
    rounds = ev.groupBy(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp_ltz")) / 60_000_000
        ).alias("round"),
    ).agg(
        F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0)).alias("n_ok")
    )
    out = host_backoff_schedule(rounds, host_col="user_id")
    return out.select(
        F.col("user_id").cast(BIG).alias("user_id"),
        F.col("fail_streak").cast(BIG).alias("fail_streak"),
        "backoff_s",
        "retired",
    )


_ROBOTS_BODY_SQL = """
CASE CAST(n_nationkey % 5 AS INT)
 WHEN 0 THEN 'User-agent: other-bot' || chr(10) || 'Disallow: /' || chr(10) || chr(10)
          || 'User-agent: spark' || chr(10) || 'Disallow: /pre' || n_nationkey || chr(10) || chr(10)
          || 'User-agent: *' || chr(10) || 'Disallow: /p' || n_nationkey || chr(10)
          || 'Allow: /p' || n_nationkey || '/ok'
 WHEN 1 THEN 'User-agent: Spark-Crawler' || chr(10) || 'User-agent: extra' || chr(10)
          || 'Disallow: /x' || n_nationkey || chr(10) || 'Allow: /x' || n_nationkey || '/y'
          || chr(10) || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /'
 WHEN 2 THEN 'User-agent: Spark-Crawler' || chr(10) || 'Disallow: /a' || n_nationkey
          || chr(10) || chr(10) || 'User-agent: spark-crawler' || chr(10)
          || 'Disallow: /b' || n_nationkey || chr(10) || chr(10)
          || 'User-agent: someone-else' || chr(10) || 'Disallow: /'
 WHEN 3 THEN 'Disallow: /orphan' || chr(10) || '# note' || chr(10) || 'User-agent: *'
          || chr(10) || 'Disallow:' || chr(10) || 'Allow: /ok' || n_nationkey
 ELSE 'User-agent: *' || chr(10) || 'Crawl-delay: 5' || chr(10)
          || 'User-agent: other-bot' || chr(10) || 'Disallow: /cd' || n_nationkey
          || chr(10) || 'Allow: /cd' || n_nationkey || '/y'
END
"""
# The ELSE template pins RFC 9309 group boundaries against crawl-delay: the
# Crawl-delay line terminates the first UA run, so '*' and 'other-bot' are
# SEPARATE groups; the winning '*' group has no allow/disallow rows at all.
# A parser that drops crawl-delay lines before grouping would merge the two
# UA lines into one group and wrongly emit the other-bot rules for '*'.


_ROBOTS_DELAY_BODY_SQL = """
CASE CAST(n_nationkey % 4 AS INT)
 WHEN 0 THEN 'User-agent: spark' || chr(10) || 'Crawl-delay: 2' || chr(10)
          || 'Disallow: /x' || chr(10) || 'Crawl-delay: 4' || chr(10) || chr(10)
          || 'User-agent: *' || chr(10) || 'Crawl-delay: 9'
 WHEN 1 THEN 'User-agent: *' || chr(10) || 'Allow: /' || chr(10) || 'Crawl-delay: 1.5'
 WHEN 2 THEN 'User-agent: spark-crawler' || chr(10) || 'Disallow: /a' || chr(10)
          || chr(10) || 'User-agent: bing' || chr(10) || 'Crawl-delay: 7'
 ELSE 'User-agent: *' || chr(10) || 'Crawl-delay: fast' || chr(10) || 'Disallow: /tmp'
END
"""


def q_f6d_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay extraction (Bing/Yandex de-facto extension) under the
    same RFC 9309 combined-group semantics as the rule parse: first valid
    numeric delay in line order within the winning groups. Templates cover
    prefix-beats-star, star-only, winning-group-without-delay (no row),
    and an invalid value (dropped)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import crawl_delays

    bodies = _t(spark, sf_dir, "nation").selectExpr(
        "lower(n_name) || '.com' AS host", _ROBOTS_DELAY_BODY_SQL + " AS body"
    )
    return crawl_delays(bodies, agent="spark-crawler").select(
        "host", "crawl_delay_s"
    )


def q_f6b_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 front half: raw robots.txt text → rule rows, RFC 9309 group
    semantics (exact agent-token match beats product-token prefix match
    beats '*'; ALL groups at the winning specificity combine per §2.2.1;
    case-insensitive directives, comments stripped, empty Disallow dropped,
    orphan rules before any group ignored). Bodies are synthesized
    deterministically from nation (4 templates: prefix-beats-star,
    multi-UA group, two exact groups combined, orphan+empty-disallow); the
    DuckDB oracle builds the same bodies and re-derives the parse with the
    same window-carry logic."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import parse_robots_txt

    bodies = _t(spark, sf_dir, "nation").selectExpr(
        "lower(n_name) || '.com' AS host", _ROBOTS_BODY_SQL + " AS body"
    )
    out = parse_robots_txt(bodies, agent="spark-crawler")
    return out.select(
        "host",
        "rule",
        "path_prefix",
        F.col("order").cast(BIG).alias("rule_order"),
    )


def q_r1_fetch_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl change classification: previous snapshot vs current fetch →
    new/changed/unchanged/gone via one full-outer equi-join on url (content
    granularity extension of reference S6 upsert-or-create,
    ElasticStoreQueries.scala:63-75)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import classify_fetch

    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    prev = part.select(
        F.concat(F.lit("k"), F.col("p_partkey")).alias("url"),
        F.md5(F.col("p_name")).alias("digest"),
    )
    curr = part.filter(F.col("p_partkey") % 10 != 0).select(
        F.concat(F.lit("k"), F.col("p_partkey")).alias("url"),
        F.md5(
            F.concat(F.col("p_name"), F.when(F.col("p_size") > 40, "x").otherwise(""))
        ).alias("digest"),
    ).unionByName(
        supp.select(
            F.concat(F.lit("n"), F.col("s_suppkey")).alias("url"),
            F.md5(F.col("s_name")).alias("digest"),
        )
    )
    return classify_fetch(prev, curr)


def q_r2_revisit_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive revisit policy: per-host change ratio → next interval by
    linear interpolation between 1 h (volatile) and 7 d (static); hosts
    with no re-fetch evidence get the max. One hash-agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import revisit_intervals

    classified = q_r1_fetch_classify(spark, sf_dir).withColumn(
        "host",
        F.concat(F.lit("h"), F.substring("url", 2, 100).cast(BIG) % 20),
    )
    out = revisit_intervals(classified)
    return out.select(
        "host",
        F.col("n_changed").cast(BIG).alias("n_changed"),
        F.col("n_unchanged").cast(BIG).alias("n_unchanged"),
        F.col("revisit_interval_s").cast(BIG).alias("revisit_interval_s"),
    )


def q_p8_inlink_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlink-count priority refresh (Cho/Garcia-Molina/Page '98 crawl
    ordering): distinct-source in-degree per target lifts priority by
    floor(log2(1+indeg)) capped at 9; partial-aggregating count-distinct
    keyed by target, equi-join back to the frontier."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import inlink_priority_refresh

    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    frontier = part.select(
        F.concat(F.lit("k"), F.col("p_partkey")).alias("url"),
        (F.col("p_size") % 5).cast("int").alias("priority"),
    )
    links = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("k"), F.col("l_partkey")).alias("dst"),
    )
    out = inlink_priority_refresh(frontier, links)
    return out.select(
        "url",
        F.col("priority").cast(BIG).alias("priority"),
        F.col("indegree").cast(BIG).alias("indegree"),
    )


def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: verified Jaccard pairs → connected components
    (large-star/small-star, Kiveris et al. 2014) → transitive cluster ids,
    sizes, and the canonical survivor per cluster. Closes the dedup loop:
    pairwise verification alone under-merges when A~B~C but A≁C. Pairs here
    are the all-pairs correctness baseline (as dedup_ngram_jaccard); the
    scale path feeds LSH candidates to the same operator
    (tests/test_graph.py pins CC == union-find on random graphs)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import jaccard_verify
    from delphi_crawler_spark.operators.graph import neardup_clusters

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        # the all-pairs oracle baseline must still parallelize: a
        # 1-partition scan would otherwise collapse the verify into
        # one task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dups = jaccard_verify(pairs, docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    out = neardup_clusters(docs.select("doc_id"), dups.select("id_a", "id_b"))
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("cluster_id").cast(BIG).alias("cluster_id"),
        F.col("cluster_size").cast(BIG).alias("cluster_size"),
        F.col("is_canonical").cast(BIG).alias("is_canonical"),
    )


def q_p9_host_linkrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph link rank (PageRank, Brin & Page '98) as crawl priority:
    weighted host→host edge list (lineitem stands in: supplier-host links
    part-host, edge weight = link count), 5 damped power-method steps with
    uniform dangling redistribution. The h100-h102 sink hosts exercise the
    dangling-mass path. Rank feeds P6 priority ordering the way in-degree
    feeds p8_inlink_priority, but transitively."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import link_rank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    out = link_rank(edges, damping=0.85, iters=5)
    return out.select("node", F.round("rank", 6).alias("rank"))


_HTML_HEAD = (
    '<html><head><style type="text/css">body {margin: 0}</style>'
    "<script>var x = 1 < 2;</script></head>"
    '<body class="main"><h1 id="t'
)
_HTML_MID = '">Title &amp; more</h1><p>'
_HTML_TAIL = "</p><br/>&#169; footer</body></html>"


def q_p10_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg '99) over the same weighted host
    graph as p9: 5 mutual-reinforcement steps, L2-normalized each
    half-step. Splits the crawl-priority signal PageRank conflates:
    directory-like hub hosts vs content authority hosts."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    out = hits(edges, iters=5)
    return out.select(
        "node", F.round("hub", 6).alias("hub"), F.round("authority", 6).alias("authority")
    )


def q_text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip: script/style subtrees, tags, and entities
    removed by a JVM regexp_replace chain (RE2-compatible subset, so the
    DuckDB oracle replicates it byte-for-byte). The HTML wrapper is
    synthesized deterministically around documents.text."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.scrub import html_strip_col

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_HEAD),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.col("text"),
        F.lit(_HTML_TAIL),
    )
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        html_strip_col(html).alias("clean_text"),
    )


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails → <EMAIL>, IPv4 → <IP>, phone runs → <PHONE>,
    with per-kind counts; replacement order pinned (emails, then IPs, then
    phones — dotted quads would otherwise be eaten by the phone class).
    PII is synthesized deterministically into documents.text."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.scrub import pii_scrub

    d = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        d.cast("string"),
        F.lit("@mail.example.com or call +1 (555) 01"),
        F.lpad((d % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((d * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 3) % 256).cast("string"),
        F.lit(".7 now"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), pii_text.alias("text")
    )
    return pii_scrub(docs).select(
        "doc_id", "text_scrubbed", "n_emails", "n_ips", "n_phones"
    )


def q_decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing >= 3 word
    8-grams with the benchmark slice (doc_id % 37 == 0 stands in for an
    eval set). Benchmark shingles collapse to DISTINCT and broadcast;
    corpus side is one explode → broadcast join → map-side partial
    hash-agg (plan audited in tests/test_scrub.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.scrub import decontaminate

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    bench = docs.where(F.col("doc_id") % 37 == 0)
    return decontaminate(docs, bench, shingle_n=8, min_hits=3).select(
        "doc_id",
        F.col("n_shingles").cast(BIG).alias("n_shingles"),
        F.col("n_hits").cast(BIG).alias("n_hits"),
        "contaminated",
    )


def q_f6c_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML parse (sitemaps.org protocol): explode <url> blocks →
    per-tag JVM regexp extraction, XML entities decoded, optional tags →
    NULL. Bodies synthesized deterministically (two <url> entries per doc,
    one entity-escaped loc, one whitespace-padded loc without optional
    tags). Completes discovery next to robots (f6b) and links."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import parse_sitemap_xml

    d = F.col("doc_id")
    body = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>https://s'),
        (d % 20).cast("string"),
        F.lit(".example.com/p"),
        d.cast("string"),
        F.lit("?a=1&amp;b=2</loc><lastmod>2026-0"),
        ((d % 9) + 1).cast("string"),
        F.lit("-11</lastmod><priority>0."),
        (d % 10).cast("string"),
        F.lit("</priority></url><url><loc> https://s"),
        (d % 20).cast("string"),
        F.lit(".example.com/alt/"),
        d.cast("string"),
        F.lit(" </loc><changefreq>daily</changefreq></url></urlset>"),
    )
    bodies = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("s"), (d % 20).cast("string")).alias("host"),
        body.alias("body"),
    )
    return parse_sitemap_xml(bodies)


def q_corpus_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1,
    tiebreak tfidf desc then term asc): tf/df share one (doc, term)
    hash-agg grain — df is a plain keyed count, never a count-distinct
    shuffle — and the vocabulary join is a hash join on term."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import tfidf_topk_terms

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    out = tfidf_topk_terms(docs, "doc_id", "text", k=5)
    return out.select(
        "doc_id",
        "term",
        F.col("tf").cast(BIG).alias("tf"),
        F.col("df").cast(BIG).alias("df"),
        F.round("tfidf", 6).alias("tfidf"),
        F.col("rank").cast(BIG).alias("rank"),
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup shape): deterministic spherical k-means
    cells + within-cell cosine pruning, first-occurrence-wins verdict.
    Pair space is cluster-local — never corpus-quadratic. Oracle:
    expected-parquet from an independent per-row numpy replication
    (tools/gen_expected.py) — k-means state is not SQL-expressible."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.semantic import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, n_clusters=8, threshold=0.35)
    return out.select(
        F.col("vec_id").cast(BIG).alias("vec_id"),
        F.col("cluster_id").cast(BIG).alias("cluster_id"),
        F.col("n_dup_lower").cast(BIG).alias("n_dup_lower"),
        "max_cos_lower",
        F.col("keep").cast(BIG).alias("keep"),
    )


def q_hh_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (keys with frequency >= n/k) via bounded-memory
    two-pass: per-partition Misra-Gries candidate superset -> broadcast
    left-semi exact verify. The key stream is deterministically skewed
    (two 'hot' keys at ~1/6 of rows each, ~1000 cold keys) so the sketch
    path is exercised on real skew. Oracle: the full-shuffle GROUP BY ...
    HAVING cnt*k >= n, which the two-pass answer must equal exactly."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.heavy import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("hot"), (F.col("event_id") % 2).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("cold"), (F.col("event_id") % 997).cast("string"))
        )
        .alias("key")
    )
    return heavy_hitters(keyed, "key", k=10).select(
        "key", F.col("cnt").cast(BIG).alias("cnt")
    )


def q_corpus_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: per-doc mean log-likelihood ratio of
    tokens under the target (lang='en') vs raw unigram distributions,
    add-one smoothing over the raw vocabulary. One token explode feeds both
    frequency tables; the term join is a vocabulary-sized hash join
    (deliberately not broadcast)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import importance_weights

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text", "lang"
    )
    out = importance_weights(docs, F.col("lang") == "en", "doc_id", "text")
    return out.select(
        "doc_id", F.col("n_tokens").cast(BIG).alias("n_tokens"), "avg_logratio"
    )


def q_trap_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection by URL pattern mining: collapse paths to
    templates (hex runs -> H, digit runs -> N, pinned order), then flag
    (host, pattern) cells that are absolutely large AND dominate their
    host's frontier. The synthesized frontier gives each host a calendar
    trap (~60% of its URLs under /cal/N/view) next to a long tail of
    per-source pages."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.traps import trap_patterns

    d = F.col("doc_id")
    frontier = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (d % 7).cast("string")).alias("host"),
        F.when(
            d % 5 < 3,
            F.concat(F.lit("/cal/2024/"), d.cast("string"), F.lit("/view")),
        )
        .otherwise(
            F.concat(
                F.lit("/page/"),
                F.col("source"),
                F.lit("/"),
                (d % 13).cast("string"),
            )
        )
        .alias("path"),
    )
    out = trap_patterns(frontier, "host", "path", min_pattern_urls=20, max_share=0.3)
    return out.select(
        "host",
        "pattern",
        F.col("n_urls").cast(BIG).alias("n_urls"),
        F.col("host_urls").cast(BIG).alias("host_urls"),
        "share",
        F.col("is_trap").cast(BIG).alias("is_trap"),
    )


def q_dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicated-substring stats (Lee et al. 2022 ExactSubstr
    reformulated as k-token rolling windows): per doc, how many of its
    8-token windows occur >= 2 times corpus-wide. Window emission is pure
    JVM higher-order fns; (doc,window) and window-total aggs share one
    shuffle grain."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.substrings import duplicate_window_stats

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    out = duplicate_window_stats(docs, "doc_id", "text", k=8)
    return out.select(
        "doc_id",
        F.col("n_windows").cast(BIG).alias("n_windows"),
        F.col("n_dup_windows").cast(BIG).alias("n_dup_windows"),
        "dup_frac",
    )


def q_r3_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl change detection: full-outer digest join of two synthesized
    fetch snapshots -> added/removed/changed/unchanged per URL. prev drops
    doc_id%11==3 (those become 'added'), curr drops doc_id%13==5
    ('removed') and perturbs the digest for doc_id%7==0 ('changed')."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    url = F.concat(F.lit("u"), F.col("doc_id").cast("string"))
    prev = docs.where(F.col("doc_id") % 11 != 3).select(
        url.alias("url"), F.md5(F.col("text")).alias("digest")
    )
    curr = docs.where(F.col("doc_id") % 13 != 5).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit("!")))
        )
        .otherwise(F.md5(F.col("text")))
        .alias("digest"),
    )
    out = snapshot_diff(prev, curr, "url", "digest")
    return out.select(
        "key",
        "status",
        F.coalesce("prev_digest", F.lit("-")).alias("prev_digest"),
        F.coalesce("curr_digest", F.lit("-")).alias("curr_digest"),
    )


def q_corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (term -> df, tf, sorted posting list) with a
    min_df=2 cutoff. df is a plain count over the already-distinct
    (term, doc) grain — never a count-distinct shuffle; postings are
    CSV-joined sorted ids (deterministic, engine-portable)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.invindex import inverted_index

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    out = inverted_index(docs, "doc_id", "text", min_df=2)
    return out.select(
        "term",
        F.col("df").cast(BIG).alias("df"),
        F.col("tf").cast(BIG).alias("tf"),
        "postings_csv",
    )


def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-host k-sample without replacement (Efraimidis-Spirakis
    order sampling): deterministic md5-derived uniform -> exponential race
    key -ln(u)/w, k smallest win, selection probability proportional to
    weight. Weights = doc length; every-7th doc gets weight 0 to pin the
    non-positive exclusion. Same window shape as the uniform sampler."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.sampling import group_weighted_sample

    d = F.col("doc_id")
    frontier = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (d % 5).cast("string")).alias("host"),
        d.cast(BIG).alias("doc_id"),
        F.when(d % 7 == 0, F.lit(0.0))
        .otherwise(F.length("text").cast("double"))
        .alias("weight"),
    )
    out = group_weighted_sample(frontier, "host", "doc_id", "weight", k=25)
    return out.select(
        "host",
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.round("weight", 6).alias("weight"),
        F.col("sample_rank").cast(BIG).alias("sample_rank"),
    )


def q_corpus_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host uniform downsampling (cap k docs per host) by
    deterministic md5(host:id) rank — the reproducible stand-in for a
    random per-source cap in a training mixture. One hash-partitioned
    window; skew note + two-phase fix documented in operators/sampling."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.sampling import group_uniform_sample

    d = F.col("doc_id")
    frontier = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (d % 5).cast("string")).alias("host"),
        d.cast(BIG).alias("doc_id"),
    )
    out = group_uniform_sample(frontier, "host", "doc_id", k=30)
    return out.select(
        "host",
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("sample_rank").cast(BIG).alias("sample_rank"),
    )


def q_r4_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling (5 keyed self-joins
    cover 32 hops); cycles flagged, never followed. The synthesized map
    has chains of up to ~9 hops ending in terminals, plus deliberate
    cycles (doc_id%97 back-edges, incl. a self-loop and a 2-cycle).
    Oracle: DuckDB recursive CTE walking one hop at a time."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.redirects import resolve_redirects

    d = F.col("doc_id")
    redirects = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("r"), d.cast("string")).alias("src"),
        F.when(
            d % 97 == 0, F.concat(F.lit("r"), (d - (d % 10)).cast("string"))
        )
        .when(d % 10 < 8, F.concat(F.lit("r"), (d + 1).cast("string")))
        .otherwise(F.concat(F.lit("t"), d.cast("string")))
        .alias("dst"),
    )
    out = resolve_redirects(redirects, "src", "dst", max_hops=32)
    return out.select(
        "src", "final", F.col("hops").cast(BIG).alias("hops"),
        F.col("is_cycle").cast(BIG).alias("is_cycle"),
    )


def q_c1b_strip_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 extension: tracking-param stripping (utm_*, click ids) — the
    highest-yield URL-dedup normalization on ad-driven frontiers. Pure JVM
    higher-order filter over the split query string; empty query collapses
    (no dangling '?')."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.canonicalize import strip_tracking_params

    d = F.col("doc_id")
    base = F.concat(
        F.lit("https://h"), (d % 7).cast("string"), F.lit(".com/p"), d.cast("string")
    )
    url = (
        F.when(d % 4 == 0, F.concat(base, F.lit("?a=1&utm_source=s"), d.cast("string"), F.lit("&b=2")))
        .when(d % 4 == 1, F.concat(base, F.lit("?gclid=g"), d.cast("string")))
        .when(d % 4 == 2, F.concat(base, F.lit("?a="), d.cast("string")))
        .otherwise(base)
    )
    docs = _t(spark, sf_dir, "documents").select(url.alias("url"))
    return docs.select("url", strip_tracking_params(F.col("url")).alias("stripped"))


def q_c2b_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain extraction (public-suffix longest match) over
    synthesized hosts covering: multi-label suffixes (co.uk), private
    registries where the subdomain is the site (github.io, blogspot.com),
    plain TLDs, unknown TLDs (fallback = last two labels), and
    single-label hosts (pass-through). Pure JVM; suffix set is a codegen
    literal array."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.domains import registrable_domain

    d = F.col("doc_id")
    host = (
        F.when(d % 6 == 0, F.concat(F.lit("a.b.site"), d.cast("string"), F.lit(".co.uk")))
        .when(d % 6 == 1, F.concat(F.lit("user"), d.cast("string"), F.lit(".github.io")))
        .when(d % 6 == 2, F.concat(F.lit("www.Example"), (d % 9).cast("string"), F.lit(".com")))
        .when(d % 6 == 3, F.concat(F.lit("deep.x.y.host"), d.cast("string"), F.lit(".org.au")))
        .when(d % 6 == 4, F.concat(F.lit("node"), d.cast("string"), F.lit(".weirdtld")))
        .otherwise(F.lit("localhost"))
    )
    docs = _t(spark, sf_dir, "documents").select(host.alias("host"))
    return docs.select("host", registrable_domain(F.col("host")).alias("domain"))


def q_agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count telemetry: mergeable HLL segments (the
    bloom-segment architecture applied to cardinality — per-partition
    numpy registers, treeReduce max-merge, persistable per round). One
    row: exact distinct texts, the p=12 HLL estimate, p. Oracle:
    expected-parquet from an independent pure-python replication
    (tools/gen_expected.py, its own XXH64 + bit_length ranks) — the
    registers agree bit-for-bit so the rounded estimate matches."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.hll import build_hll_segment

    docs = _t(spark, sf_dir, "documents")
    keys = docs.select(F.xxhash64("text").alias("url_hash64"))
    seg = build_hll_segment(keys, p=12)
    n_exact = docs.select("text").distinct().count()
    return spark.createDataFrame(
        [(int(n_exact), round(seg.estimate(), 6), 12)],
        "n_exact long, hll_estimate double, p long",
    )


def q_pipeline_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition of the round-3 operators, chained the way a
    corpus build runs them: unicode clean (Arrow NFC + control scrub) →
    exact dedup on the cleaned digest (min-doc_id survivor) → duplicated-
    substring scoring (drop docs that are mostly repeated 8-grams) →
    token-count gate → deterministic shard assignment. Narrow stages
    pipeline behind the dedup hash-agg; the window-stats pass shares its
    shuffle grain as in dedup_substring_windows."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import clean_text_col
    from delphi_crawler_spark.operators.sharding import shard_id
    from delphi_crawler_spark.operators.substrings import duplicate_window_stats

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        clean_text_col(F.col("text")).alias("text"),
    )
    survivors = (
        docs.withColumn("digest", F.md5("text"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(docs, "doc_id")
    )
    stats = duplicate_window_stats(survivors, "doc_id", "text", k=8)
    kept = (
        survivors.join(stats, "doc_id")
        .withColumn("n_tokens", F.size(F.split(F.lower(F.trim("text")), r"\s+")))
        .where((F.col("dup_frac") < 0.9) & (F.col("n_tokens") >= 10))
    )
    return kept.select(
        "doc_id",
        F.col("n_tokens").cast(BIG).alias("n_tokens"),
        "dup_frac",
        shard_id(F.col("doc_id"), 16).cast(BIG).alias("shard_id"),
    )


def q_a6_render_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved spans → flat LM-input text: text/link spans contribute
    text, media spans a [MEDIA:ref] placeholder at their exact sequence
    position (the span-sequence invariant survives rendering). Same span
    synthesis as a4_span_stats; all JVM higher-order fns, no explode."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.links import render_spans

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    kind = lambda w: (  # noqa: E731
        F.when(F.length(w) % 3 == 0, F.lit("text"))
        .when(F.length(w) % 3 == 1, F.lit("link"))
        .otherwise(F.lit("media"))
    )
    spans = F.transform(
        words,
        lambda w, i: F.struct(
            kind(w).alias("kind"),
            w.alias("text"),
            F.when(F.length(w) % 3 == 2, F.concat(F.lit("m://"), i)).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    docs2 = docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), spans.alias("spans"))
    out = render_spans(docs2)
    return out.select(
        "doc_id", "rendered", F.length("rendered").cast(BIG).alias("n_chars")
    )


def q_a7_anchor_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-context aggregation per link target (Cho/Garcia-Molina/Page
    '98 crawl-ordering anchor signal): each link span picks up the nearest
    PRECEDING text span's text via a single-pass JVM array fold (no
    explode-then-window shuffle), then one hash-agg per target gives
    in-link count, distinct source docs, total context length, and a
    deterministic sample context. Same span synthesis as a4_span_stats
    (kind = word length mod 3)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.links import anchor_context_agg

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    kind = lambda w: (  # noqa: E731
        F.when(F.length(w) % 3 == 0, F.lit("text"))
        .when(F.length(w) % 3 == 1, F.lit("link"))
        .otherwise(F.lit("media"))
    )
    spans = F.transform(
        words,
        lambda w, i: F.struct(
            kind(w).alias("kind"),
            w.alias("text"),
            F.when(F.length(w) % 3 == 2, F.concat(F.lit("m://"), i)).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    docs2 = docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), spans.alias("spans"))
    out = anchor_context_agg(docs2)
    return out.select(
        "target",
        F.col("n_inlinks").cast(BIG).alias("n_inlinks"),
        F.col("n_src_docs").cast(BIG).alias("n_src_docs"),
        F.col("ctx_total_len").cast(BIG).alias("ctx_total_len"),
        "sample_ctx",
    )


def q_text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization: NFC compose (Arrow pandas UDF — Spark SQL
    has no ICU normalizer) + C0 control strip (tab/newline kept) + CRLF
    fold. Input synthesizes decomposed accents (e + U+0301), a control
    byte, and a CRLF onto real document prefixes; DuckDB oracle uses its
    native nfc_normalize + the same regexp chain."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import clean_text_col

    dirty = F.concat(
        F.substring("text", 1, 20),
        F.lit(" é"),
        F.lit("\x01ok\r\n"),
        F.lit("end"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), dirty.alias("dirty")
    )
    out = docs.select(
        "doc_id",
        F.length("dirty").alias("n_before"),
        clean_text_col(F.col("dirty")).alias("cleaned"),
    )
    return out.select(
        "doc_id",
        F.col("n_before").cast(BIG).alias("n_before"),
        "cleaned",
        F.length("cleaned").cast(BIG).alias("n_after"),
    )


def q_agg_quantiles_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The high-cardinality-group quantile path (one hash-partitioned
    window per group, zero driver state) — must produce the identical
    percentile_disc answer as the two-phase variant, so it shares its
    oracle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.quantiles import exact_quantiles_keyed

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    out = exact_quantiles_keyed(
        ev, "value", [0.0, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0], by="event_type"
    )
    return out.select("event_type", "q", "value", F.col("n").cast(BIG).alias("n"))


def q_corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding (md5-mod, engine-portable) + balance
    report: per shard, doc count, token weight, weight share vs corpus.
    Pure-JVM assignment projection + one N-row hash-agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.sharding import shard_plan

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tokens"),
    )
    out = shard_plan(docs, "doc_id", "n_tokens", n_shards=16)
    return out.select(
        F.col("shard_id").cast(BIG).alias("shard_id"),
        F.col("n_docs").cast(BIG).alias("n_docs"),
        F.col("total_weight").cast(BIG).alias("total_weight"),
        "weight_share",
    )


def _materialize_release(out: DataFrame, release_attr: str) -> DataFrame:
    """Collect a known-small operator result, fire its cache-release hook,
    and hand back a local DataFrame. exact_quantiles / stratified_token_sample
    persist a range-partitioned intermediate whose layout is load-bearing
    (pid-keyed offsets), so the cache can only be dropped AFTER the result
    rows exist — this is the entry-point-side fix for the multi-query cache
    leak (the results here are quantile picks / budget samples: tiny)."""
    rows = out.collect()
    release = getattr(out, release_attr, None)
    if release is not None:
        release()
    return out.sparkSession.createDataFrame(rows, schema=out.schema)


def q_p12_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global per-round
    fetch budget into per-host integer quotas proportional to host score —
    sum(quota) == budget exactly; floor shares + the largest fractional
    remainders get the leftover, ties by host asc. Scores are integer
    counts so the double arithmetic (budget*s/S, identical op order in
    both engines) is bit-reproducible; every-13th host gets score 0 to
    pin the non-positive exclusion path."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import apportion_budget

    orders = _t(spark, sf_dir, "orders")
    r = F.col("o_custkey") % 211
    hosts = (
        orders.groupBy(
            F.concat(F.lit("h"), r).alias("host"), (r % 13).alias("_z")
        )
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "host",
            F.when(F.col("_z") == 0, F.lit(0.0))
            .otherwise(F.col("_cnt").cast("double"))
            .alias("score"),
        )
    )
    out = apportion_budget(hosts, budget=100_000)
    out = _materialize_release(out, "_release_apportion")
    return out.select("host", "score", F.col("quota").cast(BIG).alias("quota"))


def q_agg_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentile_disc with no global sort: value-grain
    hash-agg -> two-phase per-partition offsets (ordering.py pattern) ->
    searchsorted rank pick. Byte-identical at any parallelism; oracle is
    the window-rank formulation (rank = max(1, ceil(q*n)))."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.quantiles import exact_quantiles

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    out = exact_quantiles(
        ev, "value", [0.0, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0], by="event_type"
    )
    picked = _materialize_release(out, "_release_quantiles")
    return picked.select("event_type", "q", "value", F.col("n").cast(BIG).alias("n"))


def q_agg_hist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable significant-digit quantile-histogram sketch
    (operators/histsketch.py): two disjoint round segments built at
    (group, bucket) grain, merged with one bucket-grain hash-agg, then
    p50/p95/p99 read off the merged segment with a narrow window. By
    monotone-map commutation the answer EQUALS sig_trunc(percentile_disc)
    of the raw rows — which is exactly what the oracle computes, so the
    whole segment→merge→read pipeline is pinned end-to-end. Incremental
    telemetry analogue of the bloom/HLL segment families (A5/metrics,
    SURVEY §2.5)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.histsketch import (
        hist_quantiles,
        hist_segments,
        merge_segments,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
    ).where(F.col("v").isNotNull() & (F.col("v") >= 0))
    seg = merge_segments(
        hist_segments(ev.where(F.col("event_id") % 2 == 0), "v", by="event_type"),
        hist_segments(ev.where(F.col("event_id") % 2 == 1), "v", by="event_type"),
    )
    out = hist_quantiles(seg, [0.5, 0.95, 0.99], by="event_type")
    return out.select("event_type", "q", "value", F.col("n").cast(BIG).alias("n"))


# =====================================================================
# Contract surface
# =====================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the frontier scheduling core (F1 dedup → P1/P6 politeness
    slots → P3 exact emission order) over sf0.001."""
    return q_p2_global_limit(spark, "/root/testdata/sf0.001")


def q_p15_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyöngyi et al., VLDB 2004): PageRank biased to a curated
    trusted-seed host set — teleport AND dangling mass flow through the
    seed vector, so spam islands unreachable from any seed converge to
    exactly 0. The spam-aware crawl-priority twin of p9_host_linkrank,
    over the same weighted host graph; seeds are hosts h0..h9."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import trust_rank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    seeds = spark.createDataFrame([(f"h{i}",) for i in range(10)], "node string")
    out = trust_rank(edges, seeds, damping=0.85, iters=5)
    return out.select("node", F.round("trust", 6).alias("trust"))


def q_r7_mirror_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-host mirror detection (Bharat & Broder, WWW 1999): group docs
    by exact content digest, surface digests served from >= 2 distinct
    hosts with the sorted host list — the crawl-economics dual of dedup
    (skip re-fetching mirrored shares; collapse politeness budgets).
    Mirrors are synthesized deterministically: every 5 consecutive doc_ids
    share one canonical text; every third canonical group is single-host
    (and must be filtered out). One digest-keyed hash-agg, map-side
    partials; no windows."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.snapshot import detect_mirrors

    docs = _t(spark, sf_dir, "documents")
    canon_id = F.col("doc_id") - F.col("doc_id") % 5
    host = F.when(
        ((canon_id / 5).cast("long") % 3) == 0,
        F.concat(F.lit("h"), (canon_id % 7).cast("string")),
    ).otherwise(F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")))
    base = docs.select("doc_id", canon_id.alias("canon_id"), host.alias("host"))
    canon = docs.select(
        F.col("doc_id").alias("canon_id"), F.md5(F.col("text")).alias("digest")
    )
    joined = base.join(canon, "canon_id")
    out = detect_mirrors(joined, host_col="host", digest_col="digest")
    return out.select(
        "digest",
        F.col("n_docs").cast(BIG).alias("n_docs"),
        F.col("n_hosts").cast(BIG).alias("n_hosts"),
        "hosts",
    )


def q_store_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (Morton 1966; the layout Delta OPTIMIZE
    ZORDER BY / Iceberg zorder rewrite apply): interleave the bits of two
    cluster axes into one code as PURE JVM bit arithmetic (shift/and/sum,
    whole-stage codegen — no UDF). ``storage/zorder.write_zordered``
    range-partitions files by this key so 2-D box predicates skip most
    files from parquet footer min/max stats alone (skipping evidence
    pinned in tests/test_maintenance.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.zorder import morton_key

    ev = _t(spark, sf_dir, "events")
    zx = F.col("event_id") % 1024
    zy = (F.col("user_id") * 37) % 1024
    return ev.select(
        F.col("event_id").cast(BIG).alias("event_id"),
        zx.cast(BIG).alias("zx"),
        zy.cast(BIG).alias("zy"),
        morton_key(zx, zy, bits=10).cast(BIG).alias("zkey"),
    )


def q_p16_discovery_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl discovery depth: min hop count from the seed hosts (h0..h9,
    the same curated set TrustRank uses) along out-links, capped at 12 —
    the BFS ``depth`` column depth-limited crawls schedule and prune by.
    Frontier-parallel BFS (each round joins only the newly discovered
    frontier against the edge list; early exit on an empty frontier).
    Edge list is a deterministic forward-jump graph over ~100 hosts so
    depths span the full 0..12 range. Oracle: generated unrolled BFS SQL
    (materialized CTEs)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import discovery_depth

    li = _t(spark, sf_dir, "lineitem")
    s = F.col("l_suppkey") % 97
    edges = li.select(
        F.concat(F.lit("h"), s.cast("string")).alias("src"),
        F.concat(
            F.lit("h"), (s + F.col("l_partkey") % 5 + 1).cast("string")
        ).alias("dst"),
    )
    seeds = spark.createDataFrame([(f"h{i}",) for i in range(10)], "node string")
    out = discovery_depth(edges, seeds, max_depth=12)
    return out.select("node", F.col("depth").cast(BIG).alias("depth"))


def q_mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup by perceptual hash (pHash, Zauner 2010): decode →
    NN-resize 32² → 2-D DCT → 8×8 low block → median-threshold 63-bit
    signature → SimHash pigeonhole pair join (hamming ≤ 10). Near-dup
    images are synthesized deterministically: every 5 consecutive doc_ids
    share one canonical payload with only the FIRST byte varied, so
    in-group pHashes sit within a few bits while the sha256 exact digest
    differs — the case exact dedup cannot catch. Oracle: independent
    expected-parquet replication (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import simhash_near_dup_pairs
    from delphi_crawler_spark.operators.multimodal import phash_signatures

    docs = _t(spark, sf_dir, "documents")
    canon_id = F.col("doc_id") - F.col("doc_id") % 5
    canon = docs.select(F.col("doc_id").alias("canon_id"), F.col("text").alias("ct"))
    vchar = F.element_at(
        F.array(*[F.lit(c) for c in "abcde"]), (F.col("doc_id") % 5 + 1).cast("int")
    )
    media = (
        docs.select("doc_id", canon_id.alias("canon_id"))
        .join(canon, "canon_id")
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat(F.lit("m://"), F.col("doc_id")).alias("media_ref"),
            F.lit("image").alias("kind"),
            F.concat(vchar, F.expr("substring(ct, 2)")).cast("binary").alias("payload"),
            F.struct(
                F.lit(64).cast("int").alias("width"),
                F.lit(64).cast("int").alias("height"),
            ).alias("meta"),
        )
    )
    sigs = phash_signatures(media).select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "simhash"
    )
    pairs = simhash_near_dup_pairs(sigs, max_hamming=10)
    return pairs.select(
        F.col("id_a").cast(BIG).alias("id_a"),
        F.col("id_b").cast(BIG).alias("id_b"),
        F.col("hamming").cast(BIG).alias("hamming"),
    )


def q_p18_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-community detection by synchronous label propagation (Raghavan
    2007, deterministic (count DESC, label ASC) tie-break): 3 rounds over
    the symmetrized p9 host graph. Communities cap per-community fetch
    budgets (link rings / mirror farms collapse into one community) and
    serve as leakage-safe split units above near-dup clusters. Per round:
    one (node,label) hash-agg + one degree-bounded ranking window — the
    same cost envelope as one link_rank step."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    out = label_propagation(edges, iters=3)
    return out.select("node", "label")


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs by blocked Levenshtein verify
    (prefix blocking + exact length-difference prune before the DP —
    record-linkage classic, cf. Gravano VLDB 2001). Groups of 4
    consecutive doc_ids share one canonical 200-char text plus a
    variable-length ' rev x…' suffix, so in-group distances are exactly
    |i-j| ∈ {1,2,3} while the shared 16-char prefix keeps them in one
    block — the revision-chain case token-level MinHash smears out.
    ASCII-only by construction (Spark counts UTF-16 chars, DuckDB bytes)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    canon_id = F.col("doc_id") - F.col("doc_id") % 4
    canon = docs.select(
        F.col("doc_id").alias("canon_id"),
        F.substring("text", 1, 200).alias("ct"),
    )
    suffix = F.element_at(
        F.array(F.lit(""), F.lit("x"), F.lit("xx"), F.lit("xxx")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    pert = (
        docs.select("doc_id", canon_id.alias("canon_id"))
        .join(canon, "canon_id")
        .select(
            F.col("doc_id").cast(BIG).alias("doc_id"),
            F.concat(F.col("ct"), F.lit(" rev "), suffix).alias("text"),
        )
    )
    out = edit_distance_pairs(pert, max_dist=3, prefix_len=16, cap_len=512)
    return out.select(
        F.col("id_a").cast(BIG).alias("id_a"),
        F.col("id_b").cast(BIG).alias("id_b"),
        F.col("dist").cast(BIG).alias("dist"),
    )


def q_s12_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON feed ingestion with malformed-record
    quarantine (S-family twin of s1's '|'-record parse): JSON bodies are
    synthesized from documents — doc_id%17==4 truncated (malformed →
    all-null + is_valid false), doc_id%13==6 missing the lang field
    (valid, null lang). Parse is JVM from_json (Jackson in codegen);
    validity = the contractually-present id field parsed non-null."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.sources.scan import parse_json_records

    docs = _t(spark, sf_dir, "documents")
    body = F.concat(
        F.lit('{"id": '),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 13 == 6, F.lit("")).otherwise(
            F.concat(F.lit(', "lang": "'), F.col("lang"), F.lit('"'))
        ),
        F.lit(', "n": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    raw = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.when(
            F.col("doc_id") % 17 == 4,
            F.substring(body, F.lit(1), F.length(body) - F.lit(5)),
        )
        .otherwise(body)
        .alias("body"),
    )
    out = parse_json_records(
        raw, "body", "id BIGINT, lang STRING, n BIGINT", required="id"
    )
    return out.select(
        "doc_id",
        F.col("id").cast(BIG).alias("id"),
        "lang",
        F.col("n").cast(BIG).alias("n"),
        "is_valid",
    )


def q_sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table: sample-trained
    init + 2 full-corpus refinement rounds whose centroid update is an
    EXACT decimal(28,6) hash-agg (order-independent at any partition
    count). Output is integer-only (vec_id, cluster_id, cluster_n).
    Oracle: independent per-row numpy + python-Decimal replication
    (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.semantic import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _cent = kmeans_lloyd(emb, n_clusters=8, iters=2)
    w = Window.partitionBy("cluster_id")
    return assigned.select(
        F.col("vec_id").cast(BIG).alias("vec_id"),
        F.col("cluster_id").cast(BIG).alias("cluster_id"),
    ).withColumn("cluster_n", F.count(F.lit(1)).over(w).cast(BIG))


def q_sim_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset over the embeddings table
    (Gonzalez 1985 / Sener & Savarese 2018): 16 maximally-spread vectors,
    each round one narrow Arrow pass + a TakeOrdered top-1 — the
    diversity-selection primitive for annotation budgets and eval seeds.
    Oracle: independent per-row numpy replication (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.coreset import kcenter_select

    emb = _t(spark, sf_dir, "embeddings")
    out = kcenter_select(emb, k=16)
    return out.select(
        F.col("sel_rank").cast(BIG).alias("sel_rank"),
        F.col("vec_id").cast(BIG).alias("vec_id"),
        "dist6",
    )


def q_pipeline_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DSIR data-selection loop (Xie et al. 2023): importance
    weights (target = lang 'en') feeding a per-source k=10 importance-
    proportional sample via the log-domain Efraimidis-Spirakis race —
    weights never exponentiate, so extreme ratios cannot overflow and the
    oracle twin shares every transcendental (ln on md5 uniforms + the
    rounded avg_logratio)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import dsir_select

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text", "lang", "source"
    )
    out = dsir_select(docs, F.col("lang") == "en", "source", k=10)
    return out.select(
        "source",
        F.col("doc_id").cast(BIG).alias("doc_id"),
        F.col("n_tokens").cast(BIG).alias("n_tokens"),
        "avg_logratio",
        F.col("sel_rank").cast(BIG).alias("sel_rank"),
    )


def q_sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed PCA over the embeddings table: decimal-exact
    covariance accumulation (order-independent at any partition count),
    driver-side eigh with deterministic sign fixing, Arrow projection onto
    the top 4 axes. Oracle: independent per-row numpy + python-Decimal
    replication (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import pca_fit_transform

    emb = _t(spark, sf_dir, "embeddings")
    out, _evals = pca_fit_transform(emb, n_components=4)
    return out.select(
        F.col("vec_id").cast(BIG).alias("vec_id"), "pc1", "pc2", "pc3", "pc4"
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters + the production KEEP decision: within each
    transitive cluster keep the highest-quality doc (score = text length,
    the published keep-longest heuristic; id-asc tiebreak) instead of the
    smallest-id canonical. Same CC walk as dedup_cluster_cc; the keep rule
    is one window over the cluster key the size-agg already shuffled on."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup import keep_best_per_cluster
    from delphi_crawler_spark.operators.dedup_fuzzy import jaccard_verify
    from delphi_crawler_spark.operators.graph import neardup_clusters

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        # the all-pairs oracle baseline must still parallelize: a
        # 1-partition scan would otherwise collapse the verify into
        # one task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dups = jaccard_verify(pairs, docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    clusters = neardup_clusters(docs, dups.select("id_a", "id_b"))
    scored = clusters.withColumn("score", F.length("text"))
    out = keep_best_per_cluster(scored)
    return out.select(
        "doc_id",
        F.col("cluster_id").cast(BIG).alias("cluster_id"),
        F.col("cluster_size").cast(BIG).alias("cluster_size"),
        F.col("score").cast(BIG).alias("score"),
        F.col("kept").cast(BIG).alias("kept"),
    )


def q_pipeline_adaptive_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed adaptive-politeness round: observed per-host fetch
    latencies → p95 → Heritrix-rule delay → per-host token RATE
    (p17_adaptive_rate) broadcast into the REAL token-bucket scheduler
    (assign_emission_slots, burst 3) over the events frontier, then round
    admission at 10 s. The full closed loop a production crawler runs:
    servers that respond slowly get scheduled slower next round. Oracle:
    the full SQL twin (latency CTE chain unrounded + the emission window
    with per-host rate join)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import (
        adaptive_host_delay,
        admit_round,
        assign_emission_slots,
    )

    ev = _t(spark, sf_dir, "events")
    fetches = ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("host"),
        (F.col("value") * 40 + (F.col("event_id") % 700)).alias("latency_ms"),
    )
    rates = adaptive_host_delay(fetches).select("host", "rate_per_sec").withColumn(
        "max_burst", F.lit(3)
    )
    fr = _events_frontier(spark, sf_dir)
    slotted = assign_emission_slots(fr, politeness=rates, default_burst=3)
    out = admit_round(slotted, 10_000)
    return out.select(
        "host",
        "seq",
        F.col("priority").cast(BIG).alias("priority"),
        F.col("host_rank").cast(BIG).alias("host_rank"),
        F.col("emit_ms").cast(BIG).alias("emit_ms"),
    )


def q_dedup_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH index maintenance — the daily-increment path
    a 100-TB corpus actually runs: new docs (doc_id % 4 == 0) are signed
    and banded; the PRIOR corpus contributes only its persisted
    (id, band, bucket) index rows (never re-shingled). Candidates =
    new×prior equi-join on the index ∪ new×new self-join, then exact
    n-gram Jaccard verify ≥ 0.5. Oracle: independent per-document Python
    replication filtered to pairs touching a new doc (expected-parquet)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import (
        band_bucket_rows,
        jaccard_verify,
        minhash_incremental_candidates,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    prior = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    prior_idx = band_bucket_rows(minhash_signatures(prior), "doc_id")
    new_idx = band_bucket_rows(minhash_signatures(new), "doc_id")
    cands = minhash_incremental_candidates(new_idx, prior_idx, "doc_id")
    return jaccard_verify(cands, docs, threshold=0.5).select(
        F.col("id_a").cast(BIG).alias("id_a"),
        F.col("id_b").cast(BIG).alias("id_b"),
        "jaccard",
    )


def q_p17_adaptive_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-adaptive politeness (the public Heritrix delayFactor rule
    over a percentile instead of the last sample): per-host p95 fetch
    latency (percentile_disc, same rank convention as the quantile
    family) → delay = clamp(2×p95, [500 ms, 15 s]) → admissible token
    rate. One keyed-window shuffle + a pure JVM clamp projection."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import adaptive_host_delay

    ev = _t(spark, sf_dir, "events")
    fetches = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias("host"),
        (F.col("value") * 40 + (F.col("event_id") % 700)).alias("latency_ms"),
    )
    out = adaptive_host_delay(fetches)
    return out.select(
        "host",
        F.round("p_latency_ms", 6).alias("p_latency_ms"),
        F.round("delay_ms", 6).alias("delay_ms"),
        F.round("rate_per_sec", 6).alias("rate_per_sec"),
        F.col("n").cast(BIG).alias("n"),
    )


def q_agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV k-minimum-values synopsis (Bar-Yossef 2002; Beyer SIGMOD 2007):
    the cross-round overlap question HLL cannot answer — distinct-count
    estimates for round-A URLs, round-B URLs, their union AND intersection,
    from two k=64 sketches of xxhash64 values. Deterministic (hash-based,
    no rng); oracle = independent Python replication (expected-parquet,
    xxh64 re-implemented from spec). Full-data pass is one narrow hash
    projection with per-partition Arrow top-k pruning — no full distinct
    shuffle (operators/kmv.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.kmv import kmv_overlap, kmv_sketch

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 31).cast("string"),
        F.lit("/p"),
        F.col("doc_id").cast("string"),
    )
    a = docs.filter(F.col("doc_id") % 3 != 0).select(url.alias("url"))
    b = docs.filter(F.col("doc_id") % 2 != 0).select(url.alias("url"))
    out = kmv_overlap(kmv_sketch(a, "url", k=64), kmv_sketch(b, "url", k=64), k=64)
    return out.select(
        F.col("k").cast(BIG).alias("k"),
        F.round("est_a", 6).alias("est_a"),
        F.round("est_b", 6).alias("est_b"),
        F.round("est_union", 6).alias("est_union"),
        F.round("est_intersect", 6).alias("est_intersect"),
        F.round("jaccard_est", 6).alias("jaccard_est"),
    )


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: event-time SESSION windows via Spark-native ``session_window``
    — dynamic-length windows that merge while consecutive events arrive
    within the 30-min gap, watermark-bounded state when run as a stream
    (streaming ≡ batch parity pinned in test_streaming.py; this is the
    batch twin, oracle = gap-islands SQL). Session close = last_ts + gap
    (exclusive boundary: an event exactly gap later opens a new session)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.streaming.frontier_stream import session_metrics

    ev = _t(spark, sf_dir, "events")
    out = session_metrics(ev, gap="30 minutes")
    return out.select(
        F.col("user_id").cast(BIG).alias("user_id"),
        "session_start",
        "session_close",
        F.col("n_events").cast(BIG).alias("n_events"),
        "total_value",
    )


def q_dedup_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard set-similarity self-join by lossless prefix filtering
    (All-Pairs / PPJoin principle, Vernica SIGMOD'10 MapReduce shape) —
    the zero-false-negative complement to MinHash-LSH: every word-bigram
    set pair with Jaccard >= 0.5, candidate space bounded by rarest-first
    prefix tokens instead of hash bands. Oracle is the brute-force
    all-pairs intersection at this scale; the impl must return exactly
    the same pair set (the filter is provably complete, the verify
    exact)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import set_similarity_join

    docs = _t(spark, sf_dir, "documents")
    out = set_similarity_join(docs, threshold=0.5, shingle=2)
    return out.select(
        F.col("id_a").cast(BIG).alias("id_a"),
        F.col("id_b").cast(BIG).alias("id_b"),
        "jaccard",
    )


def q_graph_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact neighborhood function N(t) over the p9 host graph (Palmer
    KDD'02 ANF): how many (u,v) pairs are within distance t, plus the
    effective diameter — the connectivity telemetry that tells a crawl
    whether its discovered host graph is one blob or islands. Iterated
    sparse closure (keyed equi-join + distinct per round); the sketched
    HyperANF twin (graph.hyperanf_neighborhood, Boldi WWW'11) is the
    10^10-node path, pinned against this exact version in pytest."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import neighborhood_function

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    return neighborhood_function(edges, max_t=3)


def q_c1d_rel_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical identity folding: groups of 3 consecutive doc_ids
    share one canonical target (the group head); 1/3 of docs omit the tag
    (identity = own url), heads self-declare. One JVM regexp projection +
    one canonical_url hash-agg — the REP signal that collapses page
    variants before any content-based dedup runs."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.links import rel_canonical_resolve

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".example.com/p"), F.col("doc_id").cast("string"),
    )
    head = F.col("doc_id") - F.col("doc_id") % 3
    canon_url = F.concat(
        F.lit("https://h"), (head % 13).cast("string"),
        F.lit(".example.com/p"), head.cast("string"),
    )
    tag = F.when(
        F.col("doc_id") % 3 != 1,
        F.concat(F.lit('<link rel="canonical" href="'), canon_url, F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), tag, F.lit("</head><body><p>"),
        F.col("text"), F.lit("</p></body></html>"),
    )
    prepared = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        url.alias("url"),
        html.alias("html"),
    )
    return rel_canonical_resolve(prepared)


def q_graph_hyperanf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF (Boldi WWW'11) over the same host graph as
    graph_neighborhood: per-node HLL registers (p=12), per-round edge
    equi-join + register MAX-merge — O(nodes·2^p) state, the 10^10-node
    path where the exact pair closure cannot exist. N(t) is an exact
    int64 sum of per-node micro-estimates (order-independent). Oracle:
    expected-parquet from an independent Python HLL/xxh64 replication."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import hyperanf_neighborhood

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    return hyperanf_neighborhood(edges, max_t=3, p=12)


def q_p20_ucb_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploration/exploitation host scheduling (UCB1, Auer 2002): each
    event is one pull of its host with an integer percent reward; hosts
    rank by mean + 1.5*sqrt(ln(N)/n) so under-sampled hosts lead the next
    round. One exact-integer hash-agg + broadcast scalar total + JVM
    score; ln/sqrt under the 6-dp rounding policy."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.bandit import ucb_host_priority

    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias("host"),
        (F.col("event_id") % 101).cast("bigint").alias("reward_num"),
    )
    return ucb_host_priority(obs, scale=100, c=1.5)


def q_f7_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-page robots compliance: meta robots noindex/nofollow directives
    (token-exact on the comma-split content) + per-anchor rel=nofollow
    accounting — the page-level half of REP the robots.txt gate (f6)
    cannot see. Pure JVM regexp projection, no shuffle; HTML synthesized
    deterministically around documents rows."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import meta_robots_gate

    docs = _t(spark, sf_dir, "documents")
    meta = F.element_at(
        F.array(
            F.lit(""),
            F.lit('<meta name="robots" content="noindex">'),
            F.lit('<meta name="robots" content="nofollow">'),
            F.lit('<meta name="robots" content="noindex, nofollow">'),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    a1 = F.concat(
        F.lit('<a href="https://x.example.com/p'),
        F.col("doc_id").cast("string"),
        F.lit('">x</a>'),
    )
    a2 = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit('<a href="https://y.example.com/q'),
            F.col("doc_id").cast("string"),
            F.lit('" rel="nofollow">y</a>'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), meta, F.lit("</head><body>"),
        a1, a2, F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    return meta_robots_gate(
        docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), html.alias("html"))
    )


def q_r8_conditional_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl revalidation planning (RFC 9110 §13.1 validator precedence:
    ETag beats If-Modified-Since, no validator means full fetch): LEFT
    join frontier candidates to stored validators, per-(host, mode) counts
    + the byte volume conditional fetches could save. One equi-join (dim
    side broadcast-able) + one hash-agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import conditional_fetch_plan

    od = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://h"), (F.col("o_custkey") % 40).cast("string"),
        F.lit(".example.com/o/"), F.col("o_orderkey").cast("string"),
    )
    frontier = od.select(
        url.alias("url"),
        F.concat(F.lit("h"), (F.col("o_custkey") % 40).cast("string")).alias("host"),
    )
    stored = od.where(F.col("o_orderkey") % 3 != 2).select(
        url.alias("url"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(F.lit('W/"'), F.col("o_orderkey").cast("string"), F.lit('"')),
        ).alias("etag"),
        F.when(
            F.col("o_orderkey") % 3 == 1, F.col("o_orderdate").cast("string")
        ).alias("last_modified"),
        (F.col("o_orderkey") % 5000).cast("bigint").alias("content_len"),
    )
    out = conditional_fetch_plan(frontier, stored)
    return out.select(
        "host", "mode",
        F.col("n_urls").cast(BIG).alias("n_urls"),
        F.col("revalidatable_bytes").cast(BIG).alias("revalidatable_bytes"),
    )


def q_text_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-learned boilerplate: 5-word segments repeating in ≥50% (and
    ≥2) of a host's docs are site template (Onion / CC-Net common-line
    idea, per host). A synthesized 5-word cookie banner is prepended to
    3/4 of each host's docs (host = doc_id%21, coprime with the banner
    cycle so every host has both). One distinct-segment explode + two
    keyed hash-aggs; grain O(docs × segments/doc)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.scrub import template_segments

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 21).cast("string"))
    banner = F.concat(F.lit("cookie banner notice host h"),
                      (F.col("doc_id") % 21).cast("string"))
    text2 = F.when(
        F.col("doc_id") % 4 < 3, F.concat(banner, F.lit(" "), F.col("text"))
    ).otherwise(F.col("text"))
    prepared = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        host.alias("host"),
        text2.alias("text"),
    )
    return template_segments(prepared, seg_words=5, min_ratio=0.5, min_docs=2)


def q_p19_opic_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPIC frontier importance (Abiteboul WWW'03) — the crawl-native
    alternative to PageRank for priority: cash distributes along out-edges
    each round (dangling via the virtual page, uniformly), history banks
    it, importance = (history+cash)/(k+1). 4 synchronous rounds over the
    p9 host graph; per round one keyed join + hash-agg + scalar dangling
    aggregate, localCheckpoint lineage truncation."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import opic_importance

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    out = opic_importance(edges, iters=4)
    return out.select(
        "node",
        F.round("cash", 6).alias("cash"),
        F.round("history", 6).alias("history"),
        F.round("importance", 6).alias("importance"),
    )


def _opic_oracle_sql(iters: int = 4) -> str:
    """Unrolled OPIC in plain SQL (generated like _trustrank_oracle_sql) —
    must mirror operators/graph.py:opic_importance exactly: distinct
    unweighted edges, share = 1/outdeg, dangling cash spread uniformly,
    history accumulates the cash distributed each round."""
    parts = [
        "WITH e AS (SELECT DISTINCT 'h' || (l_suppkey % 100) AS s, "
        "'h' || (l_partkey % 103) AS d FROM lineitem)",
        "outd AS (SELECT s, count(*)::DOUBLE AS od FROM e GROUP BY s)",
        "sh AS (SELECT e.s, e.d, 1.0 / outd.od AS share FROM e JOIN outd USING (s))",
        "nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "no_ AS (SELECT nodes.node, (src.s IS NOT NULL) AS has_out FROM nodes "
        "LEFT JOIN (SELECT DISTINCT s FROM e) src ON src.s = nodes.node)",
        "r0 AS (SELECT node, has_out, 1.0 / nn.n AS cash, 0.0 AS hist "
        "FROM no_ CROSS JOIN nn)",
    ]
    for k in range(iters):
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(cash), 0) AS dang FROM r{k} WHERE NOT has_out)"
        )
        parts.append(
            f"c{k} AS (SELECT sh.d AS node, sum(r.cash * sh.share) AS c "
            f"FROM r{k} r JOIN sh ON sh.s = r.node GROUP BY sh.d)"
        )
        parts.append(
            f"r{k + 1} AS MATERIALIZED (SELECT r.node, r.has_out, "
            f"coalesce(c{k}.c, 0) + d{k}.dang / nn.n AS cash, "
            f"r.hist + r.cash AS hist "
            f"FROM r{k} r CROSS JOIN nn CROSS JOIN d{k} "
            f"LEFT JOIN c{k} ON c{k}.node = r.node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, round(cash, 6) AS cash, round(hist, 6) AS history, "
        f"round((hist + cash) / {iters + 1}.0, 6) AS importance FROM r{iters}"
    )


def q_mm_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-span media↔caption pairing (north-rule input shape):
    each media span paired with the NEAREST text span by offset, preceding
    preferred on ties — LAION-style alt-text harvesting generalized to
    span sequences. Zero-shuffle plan: two JVM array folds (forward +
    reversed) stitched per-row, one explode. Docs whose spans hold media
    but no text emit null captions (counted, not dropped)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.links import caption_pairs

    out = caption_pairs(_synth_spans_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        "media_ref",
        F.col("media_off").cast(BIG).alias("media_off"),
        "caption",
        F.col("caption_off").cast(BIG).alias("caption_off"),
        F.col("dist").cast(BIG).alias("dist"),
    )


def q_p21_ip_queue_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-by-IP politeness (Heritrix IPQueueAssignmentPolicy / Nutch
    partition.url.mode=byIP): co-hosted vhosts fold into one token bucket
    keyed by resolved IP, budget = most conservative member budget (min
    rate, min burst). Hosts map to IPs by user-id mod 37 so queues merge;
    per-host rates/bursts vary so the min-fold is exercised. One window
    shuffle on queue_key — same grain as P1, coarser key."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import ip_queue_slots

    fr = _events_frontier(spark, sf_dir)
    num = F.expr("CAST(substring(host, 2) AS BIGINT)")
    hosts = fr.select("host").distinct()
    host_ip = hosts.select(
        "host", F.concat(F.lit("ip-"), (num % 37).cast("string")).alias("ip")
    )
    pol = hosts.select(
        "host",
        (F.lit(2.0) + (num % 4).cast("double")).alias("rate_per_sec"),
        (F.lit(1) + (num % 3)).cast("int").alias("max_burst"),
    )
    out = ip_queue_slots(fr, host_ip, pol)
    return out.select(
        "host",
        "seq",
        F.col("priority").cast(BIG).alias("priority"),
        "queue_key",
        "n_cohosts",
        F.col("queue_rank").cast(BIG).alias("queue_rank"),
        F.col("emit_ms").cast(BIG).alias("emit_ms"),
    )


def q_f8_robots_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 §2.4 robots-cache refresh plan: per frontier host, decide
    fetch (never cached) / refresh (stale >= 24h TTL or last fetch 5xx) /
    use-cache. Cache dim synthesized so all three actions and the 5xx
    override occur. One host-grain hash-agg + broadcast left join."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import robots_cache_plan

    fr = _events_frontier(spark, sf_dir)
    num = F.expr("CAST(substring(host, 2) AS BIGINT)")
    cache = (
        fr.select("host")
        .distinct()
        .filter(num % 3 != 0)
        .select(
            "host",
            ((num % 50) * 3_600_000).cast("long").alias("fetched_ms"),
            F.when(num % 11 == 0, F.lit(503)).otherwise(F.lit(200)).alias("status"),
        )
    )
    return robots_cache_plan(
        fr, cache, now_ms=50 * 3_600_000, ttl_ms=24 * 3_600_000
    )


def q_s12_archive_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-archive placement manifest (WARC/CDX pattern): md5-mod shard
    routing + per-shard exclusive running byte offsets after a 512-byte
    shard header, record length = n_chars + 64-byte record header. One
    exchange on the uniform shard key, window shares a single sort."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.sharding import archive_offsets

    docs = _t(spark, sf_dir, "documents")
    recs = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        (F.col("n_chars") + 64).cast(BIG).alias("nbytes"),
    )
    return archive_offsets(recs, "doc_id", "nbytes", n_shards=8, header_bytes=512)


def q_trap_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 classification (Bar-Yossef WWW'04 signature heuristic):
    status-200 pages whose body says error — phrase hit or a <400-char
    stub mentioning 404 — vs real 404/410 hard errors. Bodies/statuses
    derived deterministically from doc_id so every verdict path fires.
    Pure JVM projection, zero shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.traps import soft404_flags

    docs = _t(spark, sf_dir, "documents")
    status = (
        F.when(F.col("doc_id") % 13 == 0, F.lit(404))
        .when(F.col("doc_id") % 17 == 0, F.lit(410))
        .otherwise(F.lit(200))
    )
    body = (
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("Oops - Page Not Found. "), F.col("text")))
        .when(F.col("doc_id") % 5 == 0, F.lit("HTTP 404"))
        .otherwise(F.col("text"))
    )
    pages = docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        status.alias("status"),
        body.alias("body"),
    )
    return soft404_flags(pages)


def q_p22_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window politeness compliance audit: per host, worst burst
    and violation count of "≤4 fetches in any 5 s window" over a dense
    synthetic fetch log ((event_id*137) mod 100000 ms). RANGE frame (not
    ROWS) so simultaneous fetches count each other; one host exchange
    shared by window and final agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import rate_compliance_audit

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("host"),
        ((F.col("event_id") * 137) % 100000).alias("ts_ms"),
    )
    return rate_compliance_audit(log, window_ms=5000, max_per_window=4)


def q_p23_retry_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9110 Retry-After host gating: error events become 429/503
    responses carrying retry_after seconds; per host the MAX deadline
    wins, hosts without signals are immediately eligible. Signal filter
    prunes the success majority before the one host hash-agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import retry_after_schedule

    ev = _t(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    results = ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("host"),
        (F.col("event_id") % 100000).alias("ts_ms"),
        F.when(is_err, F.when(F.col("event_id") % 2 == 0, F.lit(503)).otherwise(F.lit(429)))
        .otherwise(F.lit(200))
        .alias("status"),
        F.when(is_err, F.col("event_id") % 60)
        .otherwise(F.lit(None).cast("long"))
        .alias("retry_after_s"),
    )
    return retry_after_schedule(results, now_ms=50_000)


def q_p24_age_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Starvation-free frontier aging (URLFrontier/Heritrix wait-cost
    rule): +1 effective priority per 7 days pending (cap 3) as of
    2024-02-01, then the host-window re-rank. January discovery times
    give boosts 0..3 including the cap; pure JVM projection + the same
    single window exchange the static scheduler pays."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import age_boosted_priority

    fr = _events_frontier(spark, sf_dir)
    out = age_boosted_priority(
        fr, now_ms=1_706_745_600_000, aging_ms=604_800_000, max_boost=3, ts_unit="ts"
    )
    return out.select(
        "host",
        "seq",
        F.col("priority").cast(BIG).alias("priority"),
        F.col("age_boost").cast(BIG).alias("age_boost"),
        F.col("eff_priority").cast(BIG).alias("eff_priority"),
        F.col("host_rank").cast(BIG).alias("host_rank"),
    )


def q_g2_pld_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLD-grain web-graph contraction (Common Crawl host→PLD reduction):
    host edges fold to registrable-domain pairs via the codegen PSL
    match, intra-domain navigation edges dropped, one hash-agg emits
    (n_links, n_src_hosts). Hosts synthesized with known PLDs (www/api/
    cdn subdomains of siteK.com + github.io private-registry users) so
    the oracle derives domains directly while the engine runs the real
    suffix matcher."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import pld_graph_contract

    docs = _t(spark, sf_dir, "documents")
    sa = (F.col("doc_id") % 23).cast("string")
    da = ((F.col("doc_id") * 7) % 23).cast("string")
    src = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("www.site"), sa, F.lit(".com")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("api.site"), sa, F.lit(".com")))
        .otherwise(F.concat(F.lit("u"), (F.col("doc_id") % 31).cast("string"), F.lit(".github.io")))
    )
    dst = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("www.site"), da, F.lit(".com"))
    ).otherwise(F.concat(F.lit("cdn.site"), da, F.lit(".com")))
    edges = docs.select(src.alias("src_host"), dst.alias("dst_host"))
    return pld_graph_contract(edges)


def q_r9_sitemap_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap <lastmod> incremental recrawl plan (sitemaps.org protocol):
    fetch-new / refetch (stale or lastmod absent) / skip per sitemap URL.
    One url equi-join + JVM action projection; the skip majority never
    reaches the fetcher."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import sitemap_delta_plan

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://s/p"), F.col("doc_id").cast("string"))
    sitemap = docs.select(
        url.alias("url"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("long"))
        .otherwise((F.col("doc_id") % 100) * 1000)
        .alias("lastmod_ms"),
    )
    store = docs.filter(F.col("doc_id") % 3 != 0).select(
        url.alias("url"), ((F.col("doc_id") % 70) * 1000).alias("fetched_ms")
    )
    return sitemap_delta_plan(sitemap, store)


def q_f9_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-semantics blocklist gate: blocked entry bans host + all
    subdomains via the bounded suffix-chain explode + broadcast equi-join
    (never LIKE). Longest match wins deterministically; near-miss hosts
    ('notblockedK.com') must stay clean — the case substring matching
    gets wrong."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.domains import blocklist_gate

    docs = _t(spark, sf_dir, "documents")
    k7 = (F.col("doc_id") % 7).cast("string")
    k11 = (F.col("doc_id") % 11).cast("string")
    host = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("a.b.blocked"), k7, F.lit(".com")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("blocked"), k7, F.lit(".com")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("notblocked"), k7, F.lit(".com")))
        .otherwise(F.concat(F.lit("x.sub"), k11, F.lit(".org")))
    )
    frontier = docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), host.alias("host"))
    blocked = spark.createDataFrame(
        [("blocked0.com",), ("blocked1.com",), ("blocked2.com",), ("sub3.org",), ("b.blocked4.com",)],
        ["domain"],
    )
    return blocklist_gate(frontier, blocked)


def q_c1e_dust_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST parameter learning (Bar-Yossef WWW'07): per (host, param),
    classify query parameters as content-irrelevant from digest evidence
    over residual groups (URLs differing ONLY in that param). Synthetic
    URL space: id drives content (relevant); utm and sess never do
    (irrelevant). JVM higher-order explode + two hash-aggs sharing one
    grain prefix — evidence linear in fetched URLs, no pair joins."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dust import dust_param_relevance

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".com"))
    base = F.concat(F.lit("https://"), host, F.lit("/p"), (d % 20).cast("string"))
    params = F.create_map(
        F.lit("id"), (d % 7).cast("string"),
        F.lit("utm"), (d % 3).cast("string"),
        F.lit("sess"), (d % 8).cast("string"),
    )
    digest = F.md5(
        F.concat(host, F.lit("|"), (d % 20).cast("string"), F.lit("|"), (d % 7).cast("string"))
    )
    pages = docs.select(
        host.alias("host"), base.alias("base"),
        params.alias("params"), digest.alias("digest"),
    )
    return dust_param_relevance(pages)


def q_p25_wfq_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted fair queueing across hosts (SFQ for batch arrivals):
    virtual finish time k/w per host-local rank k, global emission rank
    by ascending vfinish — proportional interleave, per-host FIFO
    preserved. Global rank via attach_global_seq (no partitionless
    window)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import wfq_order

    ev = _t(spark, sf_dir, "events")
    frontier = ev.select(
        F.concat(F.lit("u"), (F.col("user_id") % 50).cast("string")).alias("host"),
        F.col("event_id").cast("bigint").alias("seq"),
    )
    weights = (
        ev.select((F.col("user_id") % 50).alias("h"))
        .distinct()
        .select(
            F.concat(F.lit("u"), F.col("h").cast("string")).alias("host"),
            ((F.col("h") % 4) + 1).cast("double").alias("weight"),
        )
    )
    out = wfq_order(frontier, weights)
    return out.select(
        "host",
        "seq",
        "weight",
        F.round(F.col("vfinish"), 6).alias("vfinish"),
        F.col("emit_seq").cast("bigint").alias("emit_seq"),
    )


def q_r10_refresh_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho & Garcia-Molina freshness-optimal revisit allocation: exact
    discrete greedy over marginal freshness gains (concave F ⇒ top-B
    gains = optimum). 500 pages, 9 distinct Poisson rates, budget 400,
    ≤8 visits/page. Non-proportional: fastest-changing pages get fewer
    visits than mid-rate ones."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import refresh_allocation

    ev = _t(spark, sf_dir, "events")
    pages = (
        ev.select((F.col("user_id") % 500).alias("u"))
        .distinct()
        .select(
            F.concat(F.lit("u"), F.col("u").cast("string")).alias("url"),
            (((F.col("u") % 9) + 1).cast("double") / F.lit(2.0)).alias("change_rate"),
        )
    )
    return refresh_allocation(pages, budget=400, max_per_page=8)


def q_g3_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=15, 8 synchronous peel rounds) of a planted-farm graph:
    a sparse 256-node random part (md5-derived endpoints, 1/4 of events)
    that cascades away over ~5 rounds, plus a 16-node fully-linked farm
    (degree 15) that survives — the link-farm density signal. Fixpoint
    is order-independent (Batagelj), so the identically unrolled SQL
    twin matches converged or not."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import kcore_membership

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    sparse = ev.filter(F.col("event_id") % 4 == 0).select(
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("s"), eid)), 1, 2)).alias("src"),
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("d"), eid)), 1, 2)).alias("dst"),
    )
    farm = ev.select(
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("a"), eid)), 1, 1)).alias("src"),
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("b"), eid)), 1, 1)).alias("dst"),
    )
    return kcore_membership(sparse.unionByName(farm), k=15, max_iter=8)


def _kcore_oracle_sql(k: int = 22, iters: int = 8) -> str:
    """Unrolled synchronous k-core peeling — must mirror
    operators/graph.py:kcore_membership exactly: symmetrized deduped
    self-loop-free edges; each round keeps nodes with surviving degree
    >= k and filters edges to kept endpoints."""
    parts = [
        "WITH e0x AS ("
        "SELECT 'r' || substr(md5('s' || event_id), 1, 2) AS s, "
        "'r' || substr(md5('d' || event_id), 1, 2) AS d "
        "FROM events WHERE event_id % 4 = 0 "
        "UNION ALL "
        "SELECT 'f' || substr(md5('a' || event_id), 1, 1), "
        "'f' || substr(md5('b' || event_id), 1, 1) FROM events)",
        "e0 AS MATERIALIZED (SELECT DISTINCT s, d FROM "
        "(SELECT s, d FROM e0x UNION ALL SELECT d AS s, s AS d FROM e0x) u "
        "WHERE s <> d)",
    ]
    for i in range(iters):
        parts.append(
            f"dg{i} AS (SELECT s, count(*) AS deg FROM e{i} GROUP BY s)"
        )
        parts.append(f"n{i} AS (SELECT s FROM dg{i} WHERE deg >= {int(k)})")
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.s, e.d FROM e{i} e "
            f"JOIN n{i} a ON e.s = a.s JOIN n{i} b ON e.d = b.s)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT s AS node, count(*)::BIGINT AS core_degree "
        f"FROM e{iters} GROUP BY s"
    )


_CACHE_NOW_MS = 1_700_003_600_000  # pinned batch "now" for r11


def q_r11_http_cache_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9111 freshness planning: max-age > Expires−Date > 10%
    heuristic (capped 24 h) > stale-on-arrival; action ∈ use_cache /
    revalidate / refetch. Pure JVM integer projection, zero shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import http_cache_plan

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    date_ms = F.lit(_CACHE_NOW_MS) - (d % 3600) * 1000
    cached = docs.select(
        F.concat(F.lit("https://h"), (d % 9).cast("string"), F.lit(".com/p"), d.cast("string")).alias("url"),
        F.concat(F.lit("h"), (d % 9).cast("string"), F.lit(".com")).alias("host"),
        date_ms.cast("bigint").alias("date_ms"),
        F.when(d % 3 == 0, (d % 1000).cast("bigint")).alias("max_age_s"),
        F.when(d % 3 == 1, (date_ms + (d % 2000) * 1000).cast("bigint")).alias("expires_ms"),
        F.when(d % 2 == 0, (date_ms - (d % 50) * 86400000).cast("bigint")).alias("last_modified_ms"),
        F.when(d % 7 == 0, (d % 120).cast("bigint")).alias("age_s"),
        (d % 13 == 0).alias("no_store"),
        (d % 17 == 0).alias("no_cache"),
        (d % 5 != 0).alias("has_validator"),
    )
    return http_cache_plan(cached, now_ms=_CACHE_NOW_MS)


def q_pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail routing (Wenzek LREC'20): per-language
    perplexity terciles over the bigram-LM scores — head = cleanest
    third, the slice CCNet keeps by default. Composes bigram_perplexity
    with one per-lang NTILE window (deterministic: rounded avg_nll,
    doc_id tiebreak)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.lm import bigram_perplexity

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text", "lang"
    )
    scored = bigram_perplexity(
        docs.select("doc_id", "text"), train_pred=F.col("doc_id") % 3 == 0
    )
    j = scored.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_nll").asc(), F.col("doc_id").asc()
    )
    b = F.ntile(3).over(w)
    return j.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        "lang",
        "avg_nll",
        F.when(b == 1, F.lit("head"))
        .when(b == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def q_store_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (Iceberg/Delta optimize): per
    partition, pack sub-threshold files into target-size bins via one
    sorted window cumulative sum (next-fit on sorted stream); lone
    candidates and right-sized files are left alone."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.compaction import compaction_plan

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    manifest = docs.select(
        F.concat(F.lit("p"), (d % 7).cast("string")).alias("part"),
        F.concat(F.lit("f"), d.cast("string")).alias("file_id"),
        (((d * 37) % 150) * 10000).cast("bigint").alias("size_bytes"),
    )
    return compaction_plan(manifest, target_bytes=1_000_000)


def q_store_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping effectiveness, clustered vs append-order
    layout over the same 500-file manifest: range predicates prune
    ~(1 − selectivity) of clustered files and almost nothing of the
    overlapping append layout — the number that justifies clustering."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.zorder import zone_map_prune_stats

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    clustered = docs.select(
        F.lit("clustered").alias("layout"),
        F.concat(F.lit("f"), d.cast("string")).alias("file_id"),
        (d * 100).cast("bigint").alias("min_key"),
        (d * 100 + 99).cast("bigint").alias("max_key"),
    )
    appendord = docs.select(
        F.lit("append").alias("layout"),
        F.concat(F.lit("f"), d.cast("string")).alias("file_id"),
        ((d * 7919) % 40000).cast("bigint").alias("min_key"),
        (((d * 7919) % 40000) + 9000).cast("bigint").alias("max_key"),
    )
    preds = spark.createDataFrame(
        [("p1", 0, 999), ("p2", 10000, 10999), ("p3", 0, 24999), ("p4", 49000, 49999)],
        "pred_id string, lo long, hi long",
    )
    return zone_map_prune_stats(clustered.unionByName(appendord), preds)


def q_sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode (Jégou TPAMI'11): m=8 × K=16
    codebooks ⇒ 4 bytes/vector instead of 256 — the compressed ANN
    representation. Deterministic hash-ordered training sample, seeded
    per-subspace Lloyd, one Arrow encode pass. Oracle: expected-parquet
    from an independent per-vector replication (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m_subspaces=8, n_codes=16)
    return pq_encode(emb, books)


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10: exact query subvectors vs
    quantized corpus codes via broadcast lookup tables — the scan
    streams 4-byte codes, never raw vectors. Ties (identical codes)
    break by vec_id."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m_subspaces=8, n_codes=16)
    out = pq_adc_topk(emb, _queries_df(spark, sf_dir), books, k=10)
    return out.select(
        F.col("query_id").cast(BIG).alias("query_id"),
        F.col("rank").cast(BIG).alias("rank"),
        F.col("vec_id").cast(BIG).alias("vec_id"),
        "adc_dist",
    )


def q_mm_span_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence invariant audit over deterministically corrupted
    interleaved spans: docs %7 get decreasing offsets, %11 lose media
    refs, %13 get an unknown kind — the audit must localize each
    violation class. Zero-shuffle in-cell JVM folds."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.links import span_integrity_audit

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    words = F.split(F.col("text"), r"\s+")
    neg = d % 7 == 0
    nomedia = d % 11 == 0
    badkind = d % 13 == 0
    spans = F.transform(
        words,
        lambda w, i: F.struct(
            F.when(badkind & (i == 0), F.lit("weird"))
            .when(F.length(w) % 3 == 0, F.lit("text"))
            .when(F.length(w) % 3 == 1, F.lit("link"))
            .otherwise(F.lit("media"))
            .alias("kind"),
            w.alias("text"),
            F.when(
                (~nomedia) & (F.length(w) % 3 == 2),
                F.concat(F.lit("m://"), i.cast("string")),
            ).alias("media_ref"),
            F.when(neg, -i).otherwise(i).cast("int").alias("offset"),
        ),
    )
    return span_integrity_audit(
        docs.select(d.cast(BIG).alias("doc_id"), spans.alias("spans"))
    )


def q_g4_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + clustering coefficient over the
    planted-farm graph (g3's input): degree-ordered orientation bounds
    the wedge intermediate at Σ d_out² — the farm clique lights up near
    coefficient 1.0, the sparse random part near 0."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import triangle_counts

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    sparse = ev.filter(F.col("event_id") % 4 == 0).select(
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("s"), eid)), 1, 2)).alias("src"),
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("d"), eid)), 1, 2)).alias("dst"),
    )
    farm = ev.select(
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("a"), eid)), 1, 1)).alias("src"),
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("b"), eid)), 1, 1)).alias("dst"),
    )
    return triangle_counts(sparse.unionByName(farm))


def q_stream_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming reservoir
    (streaming/stateful.py:streaming_group_sample): per-key bottom-k by
    md5(key|seq) — mergeable, replayable, uniform; streaming ≡ batch
    pinned by test_streaming_stateful.py parity."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        F.concat(F.lit("g"), (F.col("user_id") % 25).cast("string")).alias("key"),
        F.col("event_id").cast("bigint").alias("seq"),
    ).withColumn(
        "rank_hex",
        F.md5(F.concat(F.col("key"), F.lit("|"), F.col("seq").cast("string"))),
    )
    w = Window.partitionBy("key").orderBy(F.col("rank_hex").asc(), F.col("seq").asc())
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 7)
        .select("key", "seq", "rank_hex")
    )


def q_text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (SIGMOD'03) positional fingerprints: window-local
    minima over 4-gram shingle hashes, uniform density, guarantee that
    shared runs ≥ win+gram−1 words share a fingerprint. In-cell JVM
    until the final explode."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import winnow_fingerprints

    # spread the per-doc shingle/chunk expression work: a single-file
    # parquet scan is ONE task otherwise (see q_pipeline_dedup_verdict)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return winnow_fingerprints(docs, gram=4, win=4)


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap near-dup candidates: doc pairs sharing ≥5 winnowing
    fingerprints — catches shared passages anywhere in the document
    (plagiarism/quotation shape), bucketed by fingerprint equi-join,
    never all-pairs."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import winnow_fingerprints

    # spread the per-doc shingle/chunk expression work: a single-file
    # parquet scan is ONE task otherwise (see q_pipeline_dedup_verdict)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    fps = winnow_fingerprints(docs, gram=4, win=4).select(
        "doc_id", "fp"
    ).distinct()
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )


def q_corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum training order: tier from doc quality residue,
    md5-shuffled within tier, global train_seq via attach_global_seq
    (parallelism-invariant, no partitionless window)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import curriculum_order

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        (F.col("doc_id") % 3).cast("int").alias("tier"),
    )
    return curriculum_order(docs)


def _dust_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared synthetic page space of the DUST family (c1e + fold)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".com"))
    base = F.concat(F.lit("https://"), host, F.lit("/p"), (d % 20).cast("string"))
    params = F.create_map(
        F.lit("id"), (d % 7).cast("string"),
        F.lit("utm"), (d % 3).cast("string"),
        F.lit("sess"), (d % 8).cast("string"),
    )
    digest = F.md5(
        F.concat(host, F.lit("|"), (d % 20).cast("string"), F.lit("|"), (d % 7).cast("string"))
    )
    return docs.select(
        host.alias("host"), base.alias("base"),
        params.alias("params"), digest.alias("digest"),
    )


def q_pipeline_dust_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST closed loop: learn per-host irrelevant params from digest
    evidence, APPLY them, and measure the identity collapse per host —
    raw URL-space vs folded URL-space distinct counts. The learned fold
    is the canonicalizer extension static rules can't provide."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dust import (
        apply_dust_rules,
        dust_param_relevance,
    )

    pages = _dust_pages(spark, sf_dir)
    rules = dust_param_relevance(pages)
    folded = apply_dust_rules(pages, rules)
    raw = F.concat(
        F.col("base"),
        F.lit("?"),
        F.concat_ws(
            "&",
            F.transform(
                F.array_sort(F.map_entries(F.col("params"))),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
        ),
    )
    return (
        folded.withColumn("raw_url", raw)
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast(BIG).alias("n_urls"),
            F.count_distinct(F.col("raw_url")).cast(BIG).alias("n_raw_identities"),
            F.count_distinct(F.col("folded_url")).cast(BIG).alias("n_folded_identities"),
        )
    )


def q_r12_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host activity trend: exact OLS slope over (day, fetch count)
    points — rising hosts earn frontier budget. One partially-
    aggregating hash-agg of integer sums, no window."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import host_trend_slope

    ev = _t(spark, sf_dir, "events")
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp_ltz")) / F.lit(86400000000)
    ).cast("bigint")
    act = (
        ev.select(
            F.concat(F.lit("u"), (F.col("user_id") % 80).cast("string")).alias("host"),
            day.alias("day"),
        )
        .groupBy("host", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return host_trend_slope(act)


def q_shard_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard assignment (8 shards × 64 vnodes): the ring
    is a codegen literal, assignment a zero-shuffle JVM projection;
    resizing n→n+1 moves ~1/(n+1) of keys (pytest-pinned)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.sharding import consistent_hash_shards

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 997).cast("string")).alias("host")
    ).distinct()
    return consistent_hash_shards(hosts, n_shards=8, vnodes=64)


def q_p26_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow error-budget burn-rate alerts over a synthetic fetch
    log: short window detects fast, long window suppresses blips, alert
    = both hot — proactive host backoff. Two RANGE frames sharing one
    host exchange."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import error_burn_rate

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("u"), (F.col("user_id") % 60).cast("string")).alias("host"),
        ((F.col("event_id") * 137) % 7_200_000).cast("bigint").alias("ts_ms"),
        (F.col("event_type") != "error").alias("ok"),
    )
    return error_burn_rate(log)


def q_mm_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sequence packing over interleaved spans: media spans
    cost a fixed token budget (64 — the patch-token convention), text
    spans cost their tokens; the same next-fit packer then fills 2048-
    token training sequences. The weight model is the only change from
    text packing — the packer is weight-agnostic (one repartition, text
    and media payloads never move)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.packing import pack_sequences

    spans = _synth_spans_docs(spark, sf_dir)
    n_media = F.size(F.filter(F.col("spans"), lambda e: e["kind"] == "media"))
    weight = (F.size(F.col("spans")) + F.lit(63) * n_media).cast("bigint")
    docs = spans.select(
        F.col("doc_id"),
        (F.col("doc_id") % 8).cast(BIG).alias("shard"),
        weight.alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", budget=2048)


_XROBOTS_TEMPLATES = [
    "noindex, nofollow",
    "googlebot: noindex",
    "delphibot: noindex, noarchive",
    "none",
    "",
    "noarchive, unavailable_after: 01 Jan 2030",
]


def q_f6f_xrobots_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-Robots-Tag response-header gate (REP's non-HTML third): six
    header templates covering unscoped, other-agent-scoped, own-agent-
    scoped, none-expansion, empty, and the unavailable_after directive
    that LOOKS like a scope. In-cell fold resolves agent scoping; the
    oracle pins each template's truth table (the robots-body pattern)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import xrobots_header_gate

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hdr = F.when(d % 6 == 0, F.lit(_XROBOTS_TEMPLATES[0]))
    for i in range(1, 6):
        hdr = hdr.when(d % 6 == i, F.lit(_XROBOTS_TEMPLATES[i]))
    responses = docs.select(
        d.cast(BIG).alias("doc_id"), hdr.alias("x_robots_tag")
    )
    return xrobots_header_gate(responses, agent="delphibot")


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-entropy quality signal (gibberish/binary-blob detector): per
    doc Shannon bits/char with a pass flag for the natural-language band
    [2.0, 5.5]. Zero-shuffle in-cell folds, canonical sorted sum order."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import char_entropy_col

    docs = _t(spark, sf_dir, "documents")
    ent = char_entropy_col(F.col("text"))
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        ent.alias("entropy_bits"),
        ((ent >= 2.0) & (ent <= 5.5)).alias("entropy_pass"),
    )


def q_s13_wet_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style record extraction: 50-doc concatenated blobs split on
    the WARC version line, headers pulled by regexp, every 13th record
    missing its URI quarantined as malformed. In-cell split — blobs
    never shuffle, records explode locally."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.sources.scan import parse_wet_records

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    uri_line = F.when(
        d % 13 != 0,
        F.concat(
            F.lit("WARC-Target-URI: https://h"), (d % 7).cast("string"),
            F.lit(".com/p"), d.cast("string"), F.lit("\n"),
        ),
    ).otherwise(F.lit(""))
    rec = F.concat(
        F.lit("WARC/1.0\n"),
        uri_line,
        F.lit("Content-Length: "), F.col("n_chars").cast("string"),
        F.lit("\n\n"), F.col("text"), F.lit("\n\n"),
    )
    blobs = (
        docs.select((d / 50).cast("bigint").alias("file_id"), d.alias("d"), rec.alias("rec"))
        .groupBy("file_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("d"), F.col("rec")))),
                    lambda e: e["rec"],
                ),
            ).alias("content")
        )
    )
    return parse_wet_records(blobs)


def q_g5_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bow-tie decomposition (Broder WWW'00) of a directed synthetic web:
    a mutually-linked farm core, i-nodes linking in, o-nodes linked out,
    disconnected x-pairs. Two frontier-parallel BFS passes from the
    deterministic max-out-degree pivot; IN/OUT/CORE/OTHER verdicts."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import bowtie_decomposition

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    farm = ev.select(
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("a"), eid)), 1, 1)).alias("src"),
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("b"), eid)), 1, 1)).alias("dst"),
    )
    into = ev.filter(F.col("event_id") % 5 == 0).select(
        F.concat(F.lit("i"), (F.col("event_id") % 20).cast("string")).alias("src"),
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("a"), eid)), 1, 1)).alias("dst"),
    )
    outof = ev.filter(F.col("event_id") % 7 == 0).select(
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("b"), eid)), 1, 1)).alias("src"),
        F.concat(F.lit("o"), (F.col("event_id") % 15).cast("string")).alias("dst"),
    )
    discon = ev.filter(F.col("event_id") % 11 == 0).select(
        F.concat(F.lit("x"), (F.col("event_id") % 10).cast("string")).alias("src"),
        F.concat(F.lit("x"), ((F.col("event_id") % 10) + 10).cast("string")).alias("dst"),
    )
    edges = farm.unionByName(into).unionByName(outof).unionByName(discon)
    return bowtie_decomposition(edges, max_depth=6)


def q_pipeline_dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrated per-doc dedup verdict — the policy layer over three
    signals, priority-ordered: (1) exact text digest shared with a
    smaller doc_id → drop_exact; (2) ≥5 shared winnowing fingerprints
    with a smaller doc_id → drop_neardup (pairwise smaller-id rule — no
    transitive closure needed for the verdict, documented vs the CC
    clusterer); (3) CDC passage-duplication ratio > 0.6 → drop_dup_pass;
    else keep. Each signal is its keyed-join/hash-agg shape from the
    standalone operators; the verdict is one projection over three left
    joins on doc_id."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import winnow_fingerprints
    from delphi_crawler_spark.operators.cdc import cdc_doc_dup_ratio

    docs = _t(spark, sf_dir, "documents")
    # P5 engine discipline: spread the rows BEFORE the Arrow-UDF signal
    # stages (winnowing + CDC) — a single-file parquet scan otherwise runs
    # the per-doc UDF work as ONE task regardless of cores (measured 269 s
    # -> 37 s at sf0.1/32 cores). Per-doc outputs are partition-invariant.
    ids = docs.select(F.col("doc_id").cast(BIG).alias("doc_id"), "text").repartition(
        spark.sparkContext.defaultParallelism
    )

    dig = ids.select("doc_id", F.md5("text").alias("dg"))
    exact_drop = (
        dig.alias("a")
        .join(dig.alias("b"), (F.col("a.dg") == F.col("b.dg")) & (F.col("a.doc_id") > F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("_exact", F.lit(True))
    )
    fps = winnow_fingerprints(ids, gram=4, win=4).select("doc_id", "fp").distinct()
    near_drop = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("partner"))
        .count()
        .filter(F.col("count") >= 5)
        .select("doc_id")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    ratio = cdc_doc_dup_ratio(ids, window=8, mask_hex="0").select(
        "doc_id", "dup_ratio"
    )
    out = (
        ids.select("doc_id")
        .join(exact_drop, "doc_id", "left")
        .join(near_drop, "doc_id", "left")
        .join(ratio, "doc_id", "left")
    )
    verdict = (
        F.when(F.col("_exact"), F.lit("drop_exact"))
        .when(F.col("_near"), F.lit("drop_neardup"))
        .when(F.coalesce(F.col("dup_ratio"), F.lit(0.0)) > 0.6, F.lit("drop_dup_pass"))
        .otherwise(F.lit("keep"))
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("dup_ratio"), F.lit(0.0)).alias("dup_ratio"),
        verdict.alias("verdict"),
    )


_SNAP_NOW_MS = 1_700_000_000_000


def q_store_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style snapshot retention plan: keep the 5 most recent per
    table plus each UTC day's last snapshot within 7 days; two windows
    sharing one table-hash exchange."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.compaction import snapshot_expiry_plan

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    snaps = docs.select(
        F.concat(F.lit("t"), (d % 3).cast("string")).alias("table_name"),
        d.cast("bigint").alias("snapshot_id"),
        (F.lit(_SNAP_NOW_MS) - (d % 400) * 3_600_000).cast("bigint").alias("committed_ms"),
    )
    return snapshot_expiry_plan(snaps, now_ms=_SNAP_NOW_MS)


def q_corpus_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heap's-law vocabulary growth over doc_id order (10 buckets,
    2-gram shingles): cumulative distinct grams vs cumulative tokens —
    the marginal-new-content curve for data curation. First occurrence
    = min(bucket) per gram; one gram-keyed exchange."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import heaps_curve

    docs = _t(spark, sf_dir, "documents")
    return heaps_curve(docs, n_buckets=10, gram=2)


def q_corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate + type/token ratio vs the corpus's own top-40
    terms (deterministic: count desc, term asc): the tokenizer-fit
    signal. Explode → broadcast vocab join → one per-doc hash-agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    vocab = (
        toks.groupBy("term")
        .count()
        .orderBy(F.col("count").desc(), F.col("term").asc())
        .limit(40)
        .select("term")
    )
    return vocab_coverage(docs, vocab)


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (LBFS SOSP'01 / FastCDC ATC'16
    lineage): corpus-wide duplicated-chunk table over shift-resistant
    md5-gated cut points. Pure JVM higher-order expressions; chunk text
    is digested before the shuffle so only (digest, len) pairs
    aggregate."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.cdc import cdc_chunk_stats

    # spread the per-doc shingle/chunk expression work: a single-file
    # parquet scan is ONE task otherwise (see q_pipeline_dedup_verdict)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return cdc_chunk_stats(docs, window=8, mask_hex="0", min_occurrences=2)


def q_dedup_cdc_doc_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc passage-duplication ratio from CDC chunks: share of a
    doc's chunk characters whose digest occurs in >1 document — the
    decision signal for passage-level dedup policy. Two hash-aggs + one
    semi-join sharing the digest grain."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.cdc import cdc_doc_dup_ratio

    # spread the per-doc shingle/chunk expression work: a single-file
    # parquet scan is ONE task otherwise (see q_pipeline_dedup_verdict)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return cdc_doc_dup_ratio(docs, window=8, mask_hex="0")


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / Flesch–Kincaid grade with a deterministic
    regex syllable heuristic (max(1, [aeiouy]+ runs) per letters-only
    word; sentences = [.!?]+ runs, min 1). Pure JVM folds — zero
    shuffle, zero Python — exactly replicable in the SQL oracle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import readability_cols

    docs = _t(spark, sf_dir, "documents")
    c = readability_cols(F.col("text"))
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        c["n_words"].alias("n_words"),
        c["n_sentences"].alias("n_sentences"),
        c["n_syllables"].alias("n_syllables"),
        c["flesch"].alias("flesch"),
        c["fk_grade"].alias("fk_grade"),
    )


def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signal (The Stack-style corpus split):
    structural-symbol ratio, keyword hits, indented-line ratio — three
    JVM regexp scans voted into ``is_code``. Zero shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import code_detect_cols

    docs = _t(spark, sf_dir, "documents")
    c = code_detect_cols(F.col("text"))
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        c["sym_ratio"].alias("sym_ratio"),
        c["kw_hits"].alias("kw_hits"),
        c["indent_ratio"].alias("indent_ratio"),
        c["code_votes"].alias("code_votes"),
        c["is_code"].cast(BIG).alias("is_code"),
    )


def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS per language: exact decimal-sum regression
    over each lang's top-100 terms (slope ~ -1 for natural language —
    the corpus-health fingerprint). Hash-aggs + a keyed top-n window;
    vocabulary never broadcasts."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import zipf_fit

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, by="lang", top_n=100)


def q_store_bloom_file_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file bloom column index + point-lookup skip stats (Parquet /
    Iceberg bloom-index shape): 16 hash-bucketed files over orders, a
    16384-bit md5-positioned filter per file (bit-for-bit reproducible
    in SQL), probed by 594 orderkey point lookups. Build = one explode +
    one (file, word) hash-agg; the index broadcasts; truth is one
    key-equi-join."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.bloomindex import (
        bloom_probe_stats,
        build_file_blooms,
    )

    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 16).cast(BIG).alias("file_id"),
        F.col("o_orderkey").cast(BIG).alias("k"),
    )
    blooms = build_file_blooms(orders, "file_id", "k", bits=16384)
    probes = spark.range(1, 595).select((F.col("id") * 101).cast(BIG).alias("probe_key"))
    return bloom_probe_stats(
        blooms, orders, probes, "file_id", "k", bits=16384, n_files=16
    )


def q_store_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC audit (Iceberg remove_orphan_files shape): full-outer
    path join of a synthetic storage listing vs manifest-referenced set —
    grace-window-aged orphans marked deletable, referenced-but-absent
    paths surfaced as corruption. Metadata-sized hash join only."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.compaction import orphan_file_plan

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    # listing: every doc file except the %17==3 slice (externally deleted);
    # mtimes ladder back from now in 6h steps
    listing = docs.filter(d % 17 != 3).select(
        F.concat(F.lit("data/f"), d.cast("string"), F.lit(".parquet")).alias("path"),
        (F.lit(_SNAP_NOW_MS) - (d % 40) * 21_600_000).cast("bigint").alias("mtime_ms"),
    )
    # manifests reference the %5!=0 slice (the %5==0 files were replaced)
    referenced = docs.filter(d % 5 != 0).select(
        F.concat(F.lit("data/f"), d.cast("string"), F.lit(".parquet")).alias("path")
    )
    return orphan_file_plan(
        listing, referenced, now_ms=_SNAP_NOW_MS, grace_ms=3 * 86_400_000
    )


def q_text_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (continuation-count mass,
    count-of-counts discount, OOV-safe +1 continuation floor) trained on
    the doc_id%3==0 slice — the add-one LM's graduation. Vocab-bounded
    hash-aggs + three broadcastable joins + keyed avg; all JVM."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.lm import kneser_ney_perplexity

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    return kneser_ney_perplexity(docs, train_pred=F.col("doc_id") % 3 == 0)


def q_g6_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-graph reciprocity + degree assortativity over the planted-
    farm web (g4's input): distinct-edge semi-join for reverse edges,
    decimal-exact degree-moment sums, one double correlation at the
    end. Link farms push both scalars up; organic webs sit low."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import graph_structure_stats

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    sparse = ev.filter(F.col("event_id") % 4 == 0).select(
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("s"), eid)), 1, 2)).alias("src"),
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("d"), eid)), 1, 2)).alias("dst"),
    )
    farm = ev.select(
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("a"), eid)), 1, 1)).alias("src"),
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("b"), eid)), 1, 1)).alias("dst"),
    )
    return graph_structure_stats(sparse.unionByName(farm))


def q_pipeline_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: near-dup CC clusters (dedup_cluster_cc's pipeline)
    down-weight members by 1/|cluster| instead of dropping them —
    duplicated passages contribute one doc of training mass in
    expectation. One extra id-keyed join over the cluster output."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import soft_dedup_weights
    from delphi_crawler_spark.operators.dedup_fuzzy import jaccard_verify
    from delphi_crawler_spark.operators.graph import neardup_clusters

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        # the all-pairs oracle baseline must still parallelize: a
        # 1-partition scan would otherwise collapse the verify into
        # one task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dups = jaccard_verify(pairs, docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    clusters = neardup_clusters(docs.select("doc_id"), dups.select("id_a", "id_b"))
    return soft_dedup_weights(docs, clusters)


def q_agg_gini_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-skew fingerprint: exact Gini + top-1/top-10 shares of the
    per-user event distribution (decimal-exact rank-weighted sums; the
    window runs over the KEY table, not the data). The scalar that
    decides when plan_salts / AQE skew fan-out is worth wiring in."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.salting import key_skew_gini

    ev = _t(spark, sf_dir, "events")
    return key_skew_gini(ev, key_col="user_id")


def q_p27_drain_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host frontier drain ETA under politeness: one connection per
    host and crawl-delay spacing make deep hosts time-bound regardless
    of cluster size — this planner surfaces carryover and rounds-needed
    before scheduling. Host hash-agg + broadcast delay join, JVM math."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.politeness import drain_eta

    ev = _t(spark, sf_dir, "events")
    pending = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string")).alias("host")
    )
    delays = (
        ev.select((F.col("user_id") % 40).alias("hid"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
            ((F.col("hid") % 5).cast("double") * 0.5 + 0.5).alias("crawl_delay_s"),
        )
    )
    return drain_eta(pending, delays, round_budget_s=60.0)


def q_stream_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit: replay (event_ts, arrival_ts) with a
    deterministic arrival jitter and report per-tumbling-window drops
    under a 60s watermark — the curve an operator sweeps before
    committing withWatermark(). Two-phase prefix max (bucket hash-agg +
    metadata window + bucket-keyed window), never a global data sort."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.streaming.watermark import watermark_lateness_audit

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    feed = ev.select(
        F.col("event_id"),
        F.col("ts").alias("event_ts"),
        F.timestamp_micros(
            us + (F.col("event_id") % 13) * F.lit(17_000_000)
        ).alias("arrival_ts"),
    )
    return watermark_lateness_audit(
        feed, "event_ts", "arrival_ts", "event_id",
        watermark_s=60, window_s=300, bucket_s=3600,
    )


def q_mm_span_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality transition matrix over the shared interleaved-span model:
    in-cell offset sort + kind-sequence self-zip, one (from,to) hash-agg
    + from-keyed totals join — the corpus interleaving fingerprint that
    drives packing and patch-budget decisions."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.multimodal import span_transition_matrix

    return span_transition_matrix(_synth_spans_docs(spark, sf_dir))


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF ANN path against exact brute-force ground
    truth — the nprobe/nlist tuning eval. Two rank filters, one
    (query,id) semi-join, two query-keyed aggs; oracle is an independent
    numpy replication of BOTH sides (tools/gen_expected.py)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    qdf = _queries_df(spark, sf_dir)
    approx = ivf_topk(emb, qdf, k=10, nlist=8, nprobe=4)
    exact = brute_force_topk(_t(spark, sf_dir, "embeddings"), qdf, k=10)
    return ann_recall(approx, exact, k=10).select(
        F.col("query_id").cast(BIG).alias("query_id"),
        "k", "n_approx", "n_hits", "recall",
    )


def q_r14_staleness_expectation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected staleness under periodic revisit (Cho & Garcia-Molina
    closed form) composed over r5's Poisson rate estimates: per URL,
    p(stale at revisit) and the time-averaged stale fraction for its
    assigned period — what a refresh allocation actually buys. Zero
    extra shuffle beyond the r5 hash-agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import (
        change_rate_estimate,
        staleness_expectation,
    )

    ev = _t(spark, sf_dir, "events")
    visits = ev.select(
        F.concat(F.lit("u"), F.col("user_id") % 500).alias("url"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        (F.col("event_id") % 3 == 0).alias("changed"),
    )
    rates = change_rate_estimate(visits).withColumn(
        "period_days",
        (F.lit(1) + F.substring(F.col("url"), 2, 10).cast("int") % 7).cast("double"),
    )
    return staleness_expectation(rates).select(
        "url", "lambda_per_day", "period_days", "lambda_t",
        "p_stale_at_revisit", "expected_stale_frac",
    )


def q_corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (subwords/word) and chars/subword
    — the sequence-cost scalars multilingual mixture weights balance on.
    One group hash-agg over exact integer counts."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.corpus import tokenizer_fertility

    return tokenizer_fertility(_t(spark, sf_dir, "documents"), by="lang")


def q_s14_git_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Git identifier source kind (reference GitIdentifier.scala:24
    parity): parse <repoUrl>@<commitId> strings with hex-commit and
    canonical-remote validation, host-reversed repo keys, malformed
    rows quarantined with valid=false. Zero-shuffle JVM regexp."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.sources.scan import parse_git_identifiers

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ident = (
        F.when(d % 9 == 4, F.concat(F.lit("https://git.example.com/o/r"), d.cast("string"), F.lit("@zzz-not-hex")))
        .when(d % 7 == 5, F.concat(F.lit("https://git.example.com/o/r"), d.cast("string")))
        .when(d % 11 == 3, F.concat(F.lit("no-scheme/o/r@"), F.substring(F.md5(d.cast("string")), 1, 12)))
        .otherwise(
            F.concat(
                F.lit("https://Git.Example.COM/org"), (d % 20).cast("string"),
                F.lit("/repo"), d.cast("string"), F.lit(".git@"),
                F.upper(F.substring(F.md5(d.cast("string")), 1, 10)),
            )
        )
    )
    return parse_git_identifiers(
        docs.select(d.cast(BIG).alias("doc_id"), ident.alias("ident"))
    )


def q_p28_host_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine host->partition placement (deterministic LPT stand-in)
    over the skewed per-user event loads, 8 partitions: heavy keys can
    never co-locate, every partition holds <= ceil(H/n) hosts. Rank
    window over the host table only."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.salting import host_partition_plan

    ev = _t(spark, sf_dir, "events")
    pend = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 60).cast("string")).alias("host")
    )
    return host_partition_plan(pend, n_partitions=8)


def q_dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning eval: banded candidate precision/recall vs exact
    all-pairs Jaccard at 0.5, over the corpus augmented with
    deterministic prefix-truncation twins (integer-exact keep fractions
    30..90%) so mid-range similarities exercise the S-curve. Oracle:
    expected-parquet replicating signatures, banding, and the full
    pairwise truth sweep."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup_fuzzy import lsh_candidate_eval

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"), "text"
    )
    words = F.split(F.trim(F.col("text")), r"\s+")
    pct = F.lit(30) + (F.col("doc_id") % 5) * F.lit(15)
    k = F.greatest(
        F.floor((F.size(words) * pct) / F.lit(100)).cast("int"), F.lit(1)
    )
    twins = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.array_join(F.slice(words, 1, k), " ").alias("text"),
    )
    aug = docs.unionByName(twins).repartition(
        spark.sparkContext.defaultParallelism
    )
    return lsh_candidate_eval(aug, threshold=0.5)


def q_store_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-health sweep-line: overlap-depth profile of synthetic
    file key ranges (a sorted-run region, an overlapping region, and a
    gap). Boundary-event window over the manifest-sized table only —
    the compaction/rewrite trigger metric."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.zorder import key_overlap_depth

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    # %3==0: disjoint sorted runs; else: overlapping runs around d*60
    files = docs.select(
        F.concat(F.lit("f"), d.cast("string")).alias("file_id"),
        F.when(d % 3 == 0, d * 100).otherwise(d * 60).cast("bigint").alias("min_key"),
        F.when(d % 3 == 0, d * 100 + 99)
        .otherwise(d * 60 + 150)
        .cast("bigint")
        .alias("max_key"),
    )
    return key_overlap_depth(files)


def q_r15_change_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly change-phase detection over revisit history: weekday change
    ratios, peak concentration vs overall, periodic flag — synthetic
    Tuesday-heavy URLs (user%3==0) must light up. One (url,weekday)
    hash-agg reused for totals + a url-keyed 7-row window."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import change_periodicity

    ev = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    wd = ((F.floor(ts_us / F.lit(86_400_000_000)) + 3) % 7).cast("int")
    changed = F.when(
        F.col("user_id") % 3 == 0, (wd == 2) & (F.col("event_id") % 2 == 0)
    ).otherwise(F.col("event_id") % 5 == 0)
    visits = ev.select(
        F.concat(F.lit("w"), F.col("user_id") % 200).alias("url"),
        ts_us.alias("ts_us"),
        changed.alias("changed"),
    )
    return change_periodicity(visits)


def q_agg_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (two-sample KS + PSI) between the even-id event
    values and the odd-id values shifted +0.5 — the new-dump-vs-reference
    monitor. Support buckets to 2 decimals; running-sum window over the
    bucket table; PSI terms decimal-summed order-exact."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.aggs import distribution_drift

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0).select(F.col("value"))
    b = ev.filter(F.col("event_id") % 2 == 1).select(
        (F.col("value") + F.lit(0.5)).alias("value")
    )
    return distribution_drift(a, b, "value", ndigits=2)


def q_store_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders (exact NDV, null fraction,
    string min/max, avg serialized length) — one single-pass wide
    aggregate, unpivoted to a metadata-sized stats table for drift
    gates and CBO-parity checks."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.tablestore import table_column_stats

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return table_column_stats(orders)


def q_g7_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-decided walks (node2vec corpus prep) over the
    planted-farm graph: md5(start|cur|t) picks the dst-sorted neighbor,
    so every walk is a pure function of the edge set — keyed joins
    against a persisted adjacency index, one per step."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import deterministic_random_walks

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    sparse = ev.filter(F.col("event_id") % 4 == 0).select(
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("s"), eid)), 1, 2)).alias("src"),
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("d"), eid)), 1, 2)).alias("dst"),
    )
    farm = ev.select(
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("a"), eid)), 1, 1)).alias("src"),
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("b"), eid)), 1, 1)).alias("dst"),
    )
    return deterministic_random_walks(sparse.unionByName(farm), walk_len=4)


def q_s15_frontier_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source frontier union (seeds + links + sitemap proposing
    overlapping URLs): per URL keep max priority, min discovery_ts,
    and sorted source lineage — one union + one url-keyed hash-agg,
    merge order irrelevant by construction."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup import frontier_merge

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://m/p"), (d % 300).cast("string"))
    seeds = docs.filter(d % 2 == 0).select(
        url.alias("url"), (d % 10).cast("bigint").alias("priority"),
        (1000 + d).cast("bigint").alias("discovery_ts"),
        F.lit("seeds").alias("source"),
    )
    links = docs.filter(d % 3 == 0).select(
        url.alias("url"), ((d + 3) % 10).cast("bigint").alias("priority"),
        (2000 + d).cast("bigint").alias("discovery_ts"),
        F.lit("links").alias("source"),
    )
    sitemap = docs.filter(d % 5 == 0).select(
        url.alias("url"), ((d + 7) % 10).cast("bigint").alias("priority"),
        (500 + d).cast("bigint").alias("discovery_ts"),
        F.lit("sitemap").alias("source"),
    )
    out = frontier_merge([seeds, links, sitemap])
    return out.select(
        "url", "priority", "discovery_ts", "n_proposals",
        F.array_join("sources", ",").alias("sources"), "n_sources",
    )


def q_r16_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl gap audit: full-outer url join classifying
    both / sitemap_only (discovery gap) / crawled_only (orphan or stale
    sitemap)."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import sitemap_coverage

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://c/p"), d.cast("string"))
    sitemap = docs.filter(d % 3 != 1).select(url.alias("url"))
    crawled = docs.filter(d % 4 != 2).select(url.alias("url"))
    return sitemap_coverage(sitemap, crawled)


def q_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking of the exact top-10 (lam=0.7, k=5): the
    K-bounded sequential greedy runs per query inside one Arrow
    applyInPandas group; shuffle is k rows per query. Oracle: independent
    numpy replication of relevance, sims, and the greedy loop."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    emb = _t(spark, sf_dir, "embeddings")
    top = brute_force_topk(emb, _queries_df(spark, sf_dir), k=10)
    cands = top.join(
        emb.select(F.col("vec_id"), F.col("embedding")), "vec_id"
    )
    out = mmr_rerank(cands, k=5, lam=0.7)
    return out.select(
        F.col("query_id").cast(BIG).alias("query_id"),
        "mmr_rank",
        F.col("vec_id").cast(BIG).alias("vec_id"),
        "mmr_score",
    )


def q_f6g_robots_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots drift impact audit: the same candidates under last round's
    rules vs a refreshed set (nation%3==0 hosts lift their /a block,
    %3==2 hosts newly disallow /b) — newly_blocked is the reviewable
    prune cohort, newly_allowed is recrawl inventory. Two broadcast
    prefix gates + two keyed semi-marks."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.robots import robots_drift

    cand, rules_old = _robots_fixture(spark, sf_dir)
    nation = _t(spark, sf_dir, "nation")
    host = F.concat(
        F.regexp_replace(F.lower(F.col("n_name")), "[^a-z0-9]", ""), F.lit(".test")
    ).alias("host")
    k = F.col("n_nationkey") % 3
    deep_block = nation.filter(k == 1).select(
        host, F.lit("disallow").alias("rule"),
        F.lit("/a/secret").alias("path_prefix"), F.lit(0).alias("order"),
    )
    deep_allow = nation.filter(k == 1).select(
        host, F.lit("allow").alias("rule"),
        F.lit("/a").alias("path_prefix"), F.lit(1).alias("order"),
    )
    b_block = nation.filter(k == 2).select(
        host, F.lit("disallow").alias("rule"),
        F.lit("/b").alias("path_prefix"), F.lit(0).alias("order"),
    )
    rules_new = deep_block.unionByName(deep_allow).unionByName(b_block)
    return robots_drift(cand, rules_old, rules_new, key_col="c_custkey")


def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script mix (orthographic complement to lang-ID): per-doc
    Latin/Cyrillic/CJK/Arabic/Greek letter shares + dominant script,
    over documents with injected non-Latin slices (%8==1 Cyrillic-only,
    %8==2 mixed CJK, %8==5 Arabic-only). Pure JVM regexp, zero
    shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import script_profile_cols

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    body = (
        F.when(d % 8 == 1, F.lit("Привет мир это тест данных"))
        .when(d % 8 == 2, F.concat(F.col("text"), F.lit(" 北京欢迎你 你好世界")))
        .when(d % 8 == 5, F.lit("مرحبا بالعالم هذا اختبار"))
        .otherwise(F.col("text"))
    )
    c = script_profile_cols(body)
    return docs.select(
        d.cast(BIG).alias("doc_id"),
        c["latin_share"].alias("latin_share"),
        c["cyrillic_share"].alias("cyrillic_share"),
        c["cjk_share"].alias("cjk_share"),
        c["arabic_share"].alias("arabic_share"),
        c["greek_share"].alias("greek_share"),
        c["n_script_chars"].alias("n_script_chars"),
        c["dominant_script"].alias("dominant_script"),
    )


def q_sim_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: 2x32-bit sign signatures, bit_count(xor)
    Hamming shortlist (pure JVM codegen), exact-cosine rerank of 50
    survivors to top-10 - the cheapest two-stage retrieval pass,
    complementing IVF and PQ."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.similarity import binary_hamming_topk

    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = binary_hamming_topk(
        emb, _queries_df(spark, sf_dir), k=10, shortlist=50, dim=64
    )
    return out.select(
        F.col("query_id").cast(BIG).alias("query_id"),
        "rank",
        F.col("vec_id").cast(BIG).alias("vec_id"),
        "hamming",
        "cosine",
    )


def q_store_backfill_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner: missing hour-partitions per source coalesced
    into contiguous islands (the gaps-and-islands window trick on the
    per-source partition table) — one range job per island, not one
    ticket per missing hour."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.compaction import backfill_islands

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    # present partitions: drop %7==2 singles and the %31==3 triple-runs
    present = docs.filter((d % 7 != 2) & (d % 31 > 5)).select(
        F.concat(F.lit("src"), (d % 3).cast("string")).alias("source"),
        (d % 120).cast("bigint").alias("part"),
    )
    return backfill_islands(present)


def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + MATTR(50): the length-stable lexical-diversity
    gate (template spam sits far below prose). In-cell window folds,
    zero shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import lexical_diversity_cols

    docs = _t(spark, sf_dir, "documents")
    c = lexical_diversity_cols(F.col("text"), window=50)
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        c["n_tokens"].alias("n_tokens"),
        c["ttr"].alias("ttr"),
        c["mattr"].alias("mattr"),
    )


def q_g8_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities on the p18 host graph —
    the eval that says whether detected communities are structure or
    noise. Canonical undirected edges, two broadcastable label joins,
    decimal-summed per-community terms."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import (
        label_propagation,
        modularity_score,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 100).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("l_partkey") % 103).cast("string")).alias("dst"),
    )
    comm = label_propagation(edges, iters=3)
    return modularity_score(edges, comm)


def q_c1f_host_alias_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static host-alias folding (www/m/mobile/amp prefixes, one level of
    stacking): the no-learning companion to DUST — per host, its canonical
    identity plus whether it folded. Pure JVM regexp."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.canonicalize import fold_host_aliases

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = (
        F.when(d % 7 == 1, F.concat(F.lit("www.site"), (d % 40).cast("string"), F.lit(".com")))
        .when(d % 7 == 2, F.concat(F.lit("m.site"), (d % 40).cast("string"), F.lit(".com")))
        .when(d % 7 == 3, F.concat(F.lit("amp.m.site"), (d % 40).cast("string"), F.lit(".com")))
        .when(d % 7 == 4, F.concat(F.lit("mobile.site"), (d % 40).cast("string"), F.lit(".com")))
        .otherwise(F.concat(F.lit("site"), (d % 40).cast("string"), F.lit(".com")))
    )
    folded = fold_host_aliases(host)
    return docs.select(
        d.cast(BIG).alias("doc_id"),
        host.alias("host"),
        folded.alias("canonical_host"),
        (host != folded).alias("was_alias"),
    )


def q_text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility quality signal (the Gopher-family redundancy
    check beside char entropy): Arrow-batched deflate per doc, pinned
    level so the stdlib oracle recomputes the stream byte-for-byte."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import compression_ratio_udf

    docs = _t(spark, sf_dir, "documents")
    r = compression_ratio_udf(level=6)(F.col("text"))
    nb = F.length(F.encode(F.col("text"), "utf-8")).cast("bigint")
    return docs.select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        nb.alias("n_bytes"),
        r.alias("zlib_ratio"),
        (r.isNotNull() & (r < 0.4)).alias("compressible"),
    )


def q_text_url_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-density spam signal over documents with injected URL runs
    (%9==4 docs get a 12-URL block appended): mentions per 100 words,
    link-farm flag at 20+. Pure JVM regexp, zero shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.textfns import url_density_cols

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    urls = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda i: F.concat(
                F.lit("https://f"), d.cast("string"), F.lit("-"), i.cast("string"),
                F.lit(".example.com/x"),
            ),
        ),
    )
    body = F.when(d % 9 == 4, F.concat(F.col("text"), F.lit(" "), urls)).otherwise(
        F.col("text")
    )
    c = url_density_cols(body)
    return docs.select(
        d.cast(BIG).alias("doc_id"),
        c["n_words"].alias("n_words"),
        c["n_url_mentions"].alias("n_url_mentions"),
        c["url_density"].alias("url_density"),
        c["linkfarm_flag"].alias("linkfarm_flag"),
    )


def q_g9_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation host similarity over the planted-farm web: pairs
    bucketed by shared target (never all-pairs), mega-hub targets capped
    out of pair generation, Jaccard over uncapped out-degrees. The link-
    evidence complement to digest-based mirror detection."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.graph import cocitation_similarity

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    sparse = ev.filter(F.col("event_id") % 4 == 0).select(
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("s"), eid)), 1, 2)).alias("src"),
        F.concat(F.lit("r"), F.substring(F.md5(F.concat(F.lit("d"), eid)), 1, 2)).alias("dst"),
    )
    farm = ev.select(
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("a"), eid)), 1, 1)).alias("src"),
        F.concat(F.lit("f"), F.substring(F.md5(F.concat(F.lit("b"), eid)), 1, 1)).alias("dst"),
    )
    return cocitation_similarity(
        sparse.unionByName(farm), min_shared=2, max_target_indegree=1000
    )


def q_pipeline_url_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrated URL admission chain (malformed -> blocklist -> robots
    -> trap -> admit) with auditable reason codes, alias folding before
    host-keyed gates so www/m variants cannot dodge rules. One JVM CASE
    chain over synthetic candidates exercising every gate."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.plans.admission import url_admission

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = (
        F.when(d % 11 == 1, F.concat(F.lit("ftp://bad"), d.cast("string"), F.lit(".com/x")))
        .when(d % 11 == 2, F.concat(F.lit("https://www.spam"), (d % 5).cast("string"), F.lit(".bad.example/x")))
        .when(d % 11 == 3, F.concat(F.lit("https://m.site"), (d % 7).cast("string"), F.lit(".test/private/p"), d.cast("string")))
        .when(d % 11 == 4, F.concat(F.lit("https://site"), (d % 7).cast("string"), F.lit(".test/a/a/a/a/p")))
        .otherwise(F.concat(F.lit("https://site"), (d % 7).cast("string"), F.lit(".test/ok/p"), d.cast("string")))
    )
    cand = docs.select(d.cast(BIG).alias("doc_id"), url.alias("url"))
    out = url_admission(
        cand,
        blocklist_suffixes=(".bad.example",),
        robots_disallow={f"site{i}.test": ("/private",) for i in range(7)},
        trap_min_repeats=3,
    )
    return out.select("doc_id", "url", "canonical_host", "path", "verdict", "reason")


def q_corpus_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report (within-source dup rate +
    cross-source redundancy share on the md5 digest grain) — the
    dump-level table that feeds source weighting. Two digest hash-aggs
    + one broadcastable spread join."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.dedup import dedup_rate_by_source

    docs = _t(spark, sf_dir, "documents")
    # fold text so planted duplicates exist: every %6==5 doc repeats the
    # text of doc_id-5 (cross-source when their source buckets differ)
    d = F.col("doc_id")
    txt = F.when(d % 6 == 5, F.concat(F.lit("dup-of-"), ((d - 5) % 97).cast("string"))).otherwise(
        F.concat(F.lit("uniq-"), d.cast("string"))
    )
    return dedup_rate_by_source(
        docs.select(F.col("source"), txt.alias("text"))
    )


def q_r17_host_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-health dashboard: error rate, exact p95 latency
    (in-cell sorted array), change rate, traffic-light verdict — one
    host hash-agg over a synthetic fetch log."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.recrawl import host_crawl_summary

    ev = _t(spark, sf_dir, "events")
    d = F.col("event_id")
    fetches = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias("host"),
        F.when(F.col("user_id") % 50 == 7, F.lit(503))
        .when(d % 10 == 3, F.lit(404))
        .otherwise(F.lit(200))
        .alias("status"),
        (F.abs(F.col("value")) * 100 + (d % 900)).cast("bigint").alias("latency_ms"),
        (d % 4 == 0).alias("changed"),
    )
    return host_crawl_summary(fetches)


def q_corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over the next-fit packer's output: per
    shard, sequence count, mean fill ratio against the 89-token budget,
    and the padding-waste share — the number that justifies (or
    indicts) a packing config before a training run burns compute on
    pad tokens. One (shard, seq) dedup + one shard hash-agg on top of
    the existing packer."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(BIG).alias("doc_id"),
        (F.col("doc_id") % 8).cast(BIG).alias("shard"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tokens"),
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=89)
    seqs = packed.select("shard", "seq_id", "seq_tokens").distinct()
    b = F.lit(89.0)
    return (
        seqs.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
            F.sum("seq_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.least(F.col("seq_tokens"), F.lit(89)).cast("bigint")).alias("_cap"),
        )
        .select(
            "shard",
            "n_seqs",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double")
                / (F.col("n_seqs").cast("double") * b),
                6,
            ).alias("mean_fill"),
            F.round(
                F.lit(1.0)
                - F.col("_cap").cast("double") / (F.col("n_seqs").cast("double") * b),
                6,
            ).alias("pad_waste"),
        )
    )


def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weight-aware median per host (value weighted by a synthetic
    byte count): smallest value whose cumulative weight reaches half the
    group mass — in-cell fold over the value-sorted structs; the
    corpus-scale exact path remains operators/quantiles.py."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.operators.aggs import weighted_quantile_by_group

    ev = _t(spark, sf_dir, "events")
    d = F.col("event_id")
    rows = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 30).cast("string")).alias("host"),
        F.round(F.col("value"), 3).alias("v"),
        ((d % 9) + 1).cast("double").alias("w"),
    )
    return weighted_quantile_by_group(rows, "host", "v", "w", q=0.5)


def q_store_ttl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-TTL maintenance plan: per file, expired-row share and the
    merge-on-read vs copy-on-write decision (delete vector under 30%
    dead, rewrite above, untouched at zero). One file hash-agg."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.storage.compaction import ttl_expiry_plan

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    rows = docs.select(
        (d % 25).cast("bigint").alias("file_id"),
        (F.lit(_SNAP_NOW_MS) - (d % 90) * 86_400_000).cast("bigint").alias(
            "created_ms"
        ),
    )
    return ttl_expiry_plan(
        rows, now_ms=_SNAP_NOW_MS, ttl_ms=60 * 86_400_000, rewrite_threshold=0.3
    )


def q_c1g_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural URL feature vector (length, depth, params, digit
    share, low-value flag) over synthetic URLs spanning clean pages,
    deep digit paths, and param-heavy endpoints — the ML companion to
    the rule-based trap/DUST gates. Pure JVM, zero shuffle."""
    _ensure_pkg(spark)
    from delphi_crawler_spark.functions.canonicalize import url_structure_cols

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = (
        F.when(d % 5 == 1, F.concat(F.lit("https://h.test/a/b/c/d/e/f/g/"), d.cast("string")))
        .when(d % 5 == 2, F.concat(F.lit("https://h.test/p?a=1&b=2&c=3&d=4&e="), d.cast("string")))
        .when(d % 5 == 3, F.concat(F.lit("https://h.test/20260821/"), (d * 991).cast("string")))
        .otherwise(F.concat(F.lit("https://h.test/page/"), d.cast("string")))
    )
    c = url_structure_cols(url)
    return docs.select(
        d.cast(BIG).alias("doc_id"),
        url.alias("url"),
        c["url_len"].alias("url_len"),
        c["path_depth"].alias("path_depth"),
        c["n_params"].alias("n_params"),
        c["digit_share"].alias("digit_share"),
        c["low_value_flag"].alias("low_value_flag"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Round-5 ordering: the 143 registry entries never sampled by the
    # driver's 50-query correctness window in rounds 1-4 come FIRST
    # (pipeline_* / stream_* / store_* / sim_* leading, per VERDICT.md),
    # so CORRECTNESS_r05 converts selfcheck-green entries into
    # driver-confirmed evidence. Previously driver-green entries follow.
    return {
        "pipeline_training_write": q_pipeline_training_write,
        "pipeline_frontier_priority": q_pipeline_frontier_priority,
        "pipeline_quality_filter": q_pipeline_quality_filter,
        "pipeline_adaptive_schedule": q_pipeline_adaptive_schedule,
        "pipeline_dsir_select": q_pipeline_dsir_select,
        "pipeline_ccnet_buckets": q_pipeline_ccnet_buckets,
        "pipeline_dust_fold": q_pipeline_dust_fold,
        "pipeline_dedup_verdict": q_pipeline_dedup_verdict,
        "pipeline_soft_dedup": q_pipeline_soft_dedup,
        "pipeline_url_admission": q_pipeline_url_admission,
        "stream_session_window": q_stream_session_window,
        "stream_group_sample": q_stream_group_sample,
        "stream_watermark_audit": q_stream_watermark_audit,
        "store_zorder_layout": q_store_zorder_layout,
        "store_compaction_plan": q_store_compaction_plan,
        "store_prune_stats": q_store_prune_stats,
        "store_snapshot_expiry": q_store_snapshot_expiry,
        "store_bloom_file_index": q_store_bloom_file_index,
        "store_orphan_files": q_store_orphan_files,
        "store_overlap_depth": q_store_overlap_depth,
        "store_table_stats": q_store_table_stats,
        "store_backfill_islands": q_store_backfill_islands,
        "store_ttl_plan": q_store_ttl_plan,
        "sim_random_projection": q_sim_random_projection,
        "sim_kmeans_lloyd": q_sim_kmeans_lloyd,
        "sim_kcenter_coreset": q_sim_kcenter_coreset,
        "sim_pca_project": q_sim_pca_project,
        "sim_pq_encode": q_sim_pq_encode,
        "sim_pq_topk": q_sim_pq_topk,
        "sim_ivf_recall": q_sim_ivf_recall,
        "sim_mmr_rerank": q_sim_mmr_rerank,
        "sim_binary_topk": q_sim_binary_topk,
        "corpus_budget_select": q_corpus_budget_select,
        "corpus_collocation_pmi": q_corpus_collocation_pmi,
        "p13_host_quality_prior": q_p13_host_quality_prior,
        "mm_fetch_plan": q_mm_fetch_plan,
        "corpus_leakage_split": q_corpus_leakage_split,
        "corpus_global_sample": q_corpus_global_sample,
        "text_lm_perplexity": q_text_lm_perplexity,
        "text_gopher_rules": q_text_gopher_rules,
        "corpus_bpe_encode": q_corpus_bpe_encode,
        "r6_term_drift": q_r6_term_drift,
        "p14_focused_priority": q_p14_focused_priority,
        "agg_cube_rollup": q_agg_cube_rollup,
        "agg_pivot_langs": q_agg_pivot_langs,
        "corpus_bm25_topk": q_corpus_bm25_topk,
        "retrieval_rrf_fusion": q_retrieval_rrf_fusion,
        "p15_trustrank": q_p15_trustrank,
        "r7_mirror_detect": q_r7_mirror_detect,
        "agg_kmv_overlap": q_agg_kmv_overlap,
        "p16_discovery_depth": q_p16_discovery_depth,
        "p17_adaptive_rate": q_p17_adaptive_rate,
        "dedup_minhash_incr": q_dedup_minhash_incr,
        "dedup_keep_best": q_dedup_keep_best,
        "mm_phash_neardup": q_mm_phash_neardup,
        "p18_label_propagation": q_p18_label_propagation,
        "dedup_edit_distance": q_dedup_edit_distance,
        "s12_json_ingest": q_s12_json_ingest,
        "dedup_setsim_join": q_dedup_setsim_join,
        "mm_caption_pairs": q_mm_caption_pairs,
        "p19_opic_importance": q_p19_opic_importance,
        "graph_neighborhood": q_graph_neighborhood,
        "p20_ucb_priority": q_p20_ucb_priority,
        "f7_meta_robots": q_f7_meta_robots,
        "r8_conditional_fetch": q_r8_conditional_fetch,
        "text_template_lines": q_text_template_lines,
        "graph_hyperanf": q_graph_hyperanf,
        "c1d_rel_canonical": q_c1d_rel_canonical,
        "p21_ip_queue_slots": q_p21_ip_queue_slots,
        "f8_robots_cache": q_f8_robots_cache,
        "s12_archive_offsets": q_s12_archive_offsets,
        "trap_soft404": q_trap_soft404,
        "p22_rate_audit": q_p22_rate_audit,
        "p23_retry_after": q_p23_retry_after,
        "p24_age_boost": q_p24_age_boost,
        "g2_pld_contract": q_g2_pld_contract,
        "r9_sitemap_delta": q_r9_sitemap_delta,
        "f9_blocklist_gate": q_f9_blocklist_gate,
        "c1e_dust_params": q_c1e_dust_params,
        "dedup_cdc_chunks": q_dedup_cdc_chunks,
        "dedup_cdc_doc_ratio": q_dedup_cdc_doc_ratio,
        "p25_wfq_schedule": q_p25_wfq_schedule,
        "r10_refresh_allocation": q_r10_refresh_allocation,
        "corpus_vocab_coverage": q_corpus_vocab_coverage,
        "g3_kcore": q_g3_kcore,
        "r11_http_cache_plan": q_r11_http_cache_plan,
        "mm_span_integrity": q_mm_span_integrity,
        "g4_triangles": q_g4_triangles,
        "text_winnow_fingerprints": q_text_winnow_fingerprints,
        "dedup_winnow_pairs": q_dedup_winnow_pairs,
        "corpus_curriculum_order": q_corpus_curriculum_order,
        "r12_trend_slope": q_r12_trend_slope,
        "shard_consistent_hash": q_shard_consistent_hash,
        "p26_burn_rate": q_p26_burn_rate,
        "mm_pack_interleaved": q_mm_pack_interleaved,
        "f6f_xrobots_header": q_f6f_xrobots_header,
        "text_char_entropy": q_text_char_entropy,
        "s13_wet_records": q_s13_wet_records,
        "g5_bowtie": q_g5_bowtie,
        "corpus_heaps_curve": q_corpus_heaps_curve,
        "text_readability": q_text_readability,
        "corpus_zipf_fit": q_corpus_zipf_fit,
        "text_lm_kneser_ney": q_text_lm_kneser_ney,
        "g6_graph_stats": q_g6_graph_stats,
        "agg_gini_skew": q_agg_gini_skew,
        "p27_drain_eta": q_p27_drain_eta,
        "mm_span_transitions": q_mm_span_transitions,
        "r14_staleness_expectation": q_r14_staleness_expectation,
        "corpus_tokenizer_fertility": q_corpus_tokenizer_fertility,
        "s14_git_identifiers": q_s14_git_identifiers,
        "p28_host_partition_plan": q_p28_host_partition_plan,
        "dedup_lsh_eval": q_dedup_lsh_eval,
        "r15_change_periodicity": q_r15_change_periodicity,
        "agg_drift_report": q_agg_drift_report,
        "g7_random_walks": q_g7_random_walks,
        "s15_frontier_merge": q_s15_frontier_merge,
        "r16_sitemap_coverage": q_r16_sitemap_coverage,
        "f6g_robots_drift": q_f6g_robots_drift,
        "text_script_profile": q_text_script_profile,
        "text_lexical_diversity": q_text_lexical_diversity,
        "g8_modularity": q_g8_modularity,
        "c1f_host_alias_fold": q_c1f_host_alias_fold,
        "text_compression_ratio": q_text_compression_ratio,
        "text_url_density": q_text_url_density,
        "g9_cocitation": q_g9_cocitation,
        "corpus_dedup_by_source": q_corpus_dedup_by_source,
        "r17_host_summary": q_r17_host_summary,
        "corpus_pack_efficiency": q_corpus_pack_efficiency,
        "agg_weighted_median": q_agg_weighted_median,
        "c1g_url_features": q_c1g_url_features,
        "text_code_detect": q_text_code_detect,
        # --- below: driver-confirmed green in rounds 1-4 (unchanged) ---
        "p7_host_backoff": q_p7_host_backoff,
        "f6b_robots_parse": q_f6b_robots_parse,
        "r1_fetch_classify": q_r1_fetch_classify,
        "r2_revisit_intervals": q_r2_revisit_intervals,
        "p8_inlink_priority": q_p8_inlink_priority,
        "dedup_cluster_cc": q_dedup_cluster_cc,
        "p9_host_linkrank": q_p9_host_linkrank,
        "text_html_strip": q_text_html_strip,
        "text_pii_scrub": q_text_pii_scrub,
        "decontam_ngram_overlap": q_decontam_ngram_overlap,
        "f6c_sitemap_parse": q_f6c_sitemap_parse,
        "corpus_tfidf_topk": q_corpus_tfidf_topk,
        "p10_host_hits": q_p10_host_hits,
        "dedup_semantic": q_dedup_semantic,
        "hh_heavy_hitters": q_hh_heavy_hitters,
        "corpus_importance_weights": q_corpus_importance_weights,
        "trap_patterns": q_trap_patterns,
        "dedup_substring_windows": q_dedup_substring_windows,
        "r3_snapshot_diff": q_r3_snapshot_diff,
        "corpus_inverted_index": q_corpus_inverted_index,
        "corpus_group_sample": q_corpus_group_sample,
        "agg_exact_quantiles": q_agg_exact_quantiles,
        "corpus_shard_plan": q_corpus_shard_plan,
        "r4_redirect_resolve": q_r4_redirect_resolve,
        "f6d_crawl_delay": q_f6d_crawl_delay,
        "agg_quantiles_keyed": q_agg_quantiles_keyed,
        "agg_hist_quantile_sketch": q_agg_hist_quantile_sketch,
        "c1b_strip_tracking": q_c1b_strip_tracking,
        "text_unicode_normalize": q_text_unicode_normalize,
        "a6_render_spans": q_a6_render_spans,
        "pipeline_corpus_v2": q_pipeline_corpus_v2,
        "agg_hll_distinct": q_agg_hll_distinct,
        "c2b_registrable_domain": q_c2b_registrable_domain,
        "j1b_seen_anti_join_cuckoo": q_j1b_seen_anti_join_cuckoo,
        "a4b_span_stats_wide": q_a4b_span_stats_wide,
        "p11_prune_pending_admit": q_p11_prune_pending_admit,
        "a7_anchor_context": q_a7_anchor_context,
        "mm_mime_sniff": q_mm_mime_sniff,
        "p12_budget_apportion": q_p12_budget_apportion,
        "r5_change_rate": q_r5_change_rate,
        "corpus_bpe_merges": q_corpus_bpe_merges,
        "f6e_robots_wildcards": q_f6e_robots_wildcards,
        "c1c_host_idna": q_c1c_host_idna,
        "stream_sliding_window": q_stream_sliding_window,
        "corpus_weighted_sample": q_corpus_weighted_sample,
        "agg_cms_freq": q_agg_cms_freq,
        "text_boilerplate_strip": q_text_boilerplate_strip,
        "corpus_pack_sequences": q_corpus_pack_sequences,
        "corpus_chunk_windows": q_corpus_chunk_windows,
        "corpus_mixture_weights": q_corpus_mixture_weights,
        "a2_feature_map": q_a2_feature_map,
        "a4_span_stats": q_a4_span_stats,
        "s1_index_scan_parse": q_s1_index_scan_parse,
        "c1_canonicalize_url": q_c1_canonicalize_url,
        "f1_first_occurrence_dedup": q_f1_first_occurrence_dedup,
        "f6_robots_gate": q_f6_robots_gate,
        "p1_politeness_token_bucket": q_p1_politeness_token_bucket,
        "p6_priority_topk": q_p6_priority_topk,
        "j1_seen_anti_join_bloom": q_j1_seen_anti_join_bloom,
        "s4_merge_upsert": q_s4_merge_upsert,
        "stream_tumbling_window": q_stream_tumbling_window,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "sim_ivf_topk": q_sim_ivf_topk,
        "pipeline_training_prep": q_pipeline_training_prep,
        "c2_host_reverse": q_c2_host_reverse,
        "c3_hash_keys": q_c3_hash_keys,
        "p2_global_limit": q_p2_global_limit,
        "j3_semi_anti_split": q_j3_semi_anti_split,
        "j4_first_match_join": q_j4_first_match_join,
        "j5_version_resolution": q_j5_version_resolution,
        "a1_group_edges": q_a1_group_edges,
        "a3_nested_calls": q_a3_nested_calls,
        "c5_prop_interpolation": q_c5_prop_interpolation,
        "a5_partition_metrics": q_a5_partition_metrics,
        "agg_distinct_metrics": q_agg_distinct_metrics,
        "agg_having": q_agg_having,
        "p1b_politeness_perhost": q_p1b_politeness_perhost,
        "dedup_exact_text": q_dedup_exact_text,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "sim_topk_bruteforce": q_sim_topk_bruteforce,
        "sim_topk_arrow": q_sim_topk_arrow,
        "text_quality_scores": q_text_quality_scores,
        "text_token_counts": q_text_token_counts,
        "text_lang_id": q_text_lang_id,
        "text_fingerprint_bow": q_text_fingerprint_bow,
        "text_fingerprint_rolling": q_text_fingerprint_rolling,
        "mm_media_features": q_mm_media_features,
        "mm_frame_sampling": q_mm_frame_sampling,
        "corpus_segment_dedup": q_corpus_segment_dedup,
        "corpus_repetition_signals": q_corpus_repetition_signals,
        "corpus_stratified_sample": q_corpus_stratified_sample,
    }


_RAW_URL_SQL = """
CASE
  WHEN doc_id % 4 = 0 THEN 'https://www.example' || (doc_id % 7) || '.com/a/' || source || '/page' || doc_id || '?b=2&a=1'
  WHEN doc_id % 4 = 1 THEN 'http://host' || (doc_id % 7) || '.example.org:8080/x%20y/%24%7Bv%7D/p' || doc_id
  WHEN doc_id % 4 = 3 THEN 'https://host' || (doc_id % 7) || '.example.io/p' || doc_id || '/'
END
"""

_EVENTS_FRONTIER_SQL = """
SELECT 'u' || user_id AS host, (event_id % 3)::BIGINT AS priority, ts AS discovery_ts,
       event_id::BIGINT AS seq
FROM events
"""

_SLOTTED_SQL = (
    "SELECT host, seq, priority, discovery_ts, "
    "row_number() OVER (PARTITION BY host ORDER BY priority DESC, discovery_ts ASC, seq ASC) AS host_rank "
    "FROM (" + _EVENTS_FRONTIER_SQL + ") fr"
)

_EMIT_SQL = (
    "SELECT host, seq, priority, discovery_ts, host_rank, "
    "CASE WHEN host_rank <= 5 THEN 0 ELSE CAST(ceil((host_rank - 5) * 1000.0 / 5.0) AS BIGINT) END AS emit_ms "
    "FROM (" + _SLOTTED_SQL + ") s"
)

_GRAMS_SQL = """
SELECT doc_id, list_distinct(
  CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
       ELSE [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
  END) AS grams
FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents) t
"""


def _linkrank_oracle_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled damped power-method PageRank in plain SQL (recursive CTEs
    cannot aggregate in the recursive term, so each fixed iteration is its
    own CTE r{k}; generated here, not hand-maintained). Must mirror
    operators/graph.py:link_rank exactly: share = w/out_w, dangling mass
    redistributed uniformly, start vector 1/N."""
    parts = [
        "WITH e0 AS (SELECT 'h' || (l_suppkey % 100) AS s, "
        "'h' || (l_partkey % 103) AS d, count(*)::DOUBLE AS w "
        "FROM lineitem GROUP BY 1, 2)",
        "outw AS (SELECT s, sum(w) AS ow FROM e0 GROUP BY s)",
        "e AS (SELECT e0.s, e0.d, e0.w / outw.ow AS share FROM e0 JOIN outw USING (s))",
        "nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "no_ AS (SELECT nodes.node, (src.s IS NOT NULL) AS has_out FROM nodes "
        "LEFT JOIN (SELECT DISTINCT s FROM e) src ON src.s = nodes.node)",
        "r0 AS (SELECT node, has_out, 1.0 / nn.n AS pr FROM no_ CROSS JOIN nn)",
    ]
    for k in range(iters):
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(pr), 0) AS dang FROM r{k} WHERE NOT has_out)"
        )
        parts.append(
            f"c{k} AS (SELECT e.d AS node, sum(r.pr * e.share) AS c "
            f"FROM r{k} r JOIN e ON e.s = r.node GROUP BY e.d)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT no_.node, no_.has_out, "
            f"(1 - {damping}) / nn.n + {damping} * (coalesce(c{k}.c, 0) + d{k}.dang / nn.n) AS pr "
            f"FROM no_ CROSS JOIN nn CROSS JOIN d{k} "
            f"LEFT JOIN c{k} ON c{k}.node = no_.node)"
        )
    return (
        ",\n".join(parts)
        + f'\nSELECT node, round(pr, 6) AS "rank" FROM r{iters}'
    )


def _depth_oracle_sql(max_depth: int = 12, n_seed_ids: int = 10) -> str:
    """Unrolled frontier BFS in plain SQL (generated; MATERIALIZED CTEs —
    each d{k} references d{k-1} twice, so inlining would expand the chain
    exponentially, the same hazard the HITS oracle documents). Must mirror
    operators/graph.py:discovery_depth exactly: depth 0 = seeds, round k
    expands only nodes whose min depth is k-1, min() collapses rediscovery."""
    seeds = ", ".join(f"('h{i}', 0)" for i in range(n_seed_ids))
    parts = [
        "WITH e AS (SELECT DISTINCT 'h' || (l_suppkey % 97) AS s, "
        "'h' || ((l_suppkey % 97) + (l_partkey % 5) + 1) AS d FROM lineitem)",
        f"d0 AS MATERIALIZED (SELECT * FROM (VALUES {seeds}) AS t(node, depth))",
    ]
    for k in range(1, max_depth + 1):
        parts.append(
            f"f{k} AS (SELECT DISTINCT e.d AS node FROM d{k - 1} "
            f"JOIN e ON e.s = d{k - 1}.node WHERE d{k - 1}.depth = {k - 1})"
        )
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, min(depth) AS depth FROM "
            f"(SELECT node, depth FROM d{k - 1} "
            f"UNION ALL SELECT node, {k} FROM f{k}) GROUP BY node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, depth::BIGINT AS depth FROM d{max_depth}"
    )


def _lpa_oracle_sql(iters: int = 3) -> str:
    """Unrolled synchronous label propagation in plain SQL — must mirror
    operators/graph.py:label_propagation exactly: symmetrized deduped
    self-loop-free edges, labels start as node ids, each round every node
    takes its neighbors' modal label with (count DESC, label ASC)
    tie-break."""
    parts = [
        "WITH e0 AS (SELECT 'h' || (l_suppkey % 100) AS s, "
        "'h' || (l_partkey % 103) AS d FROM lineitem)",
        "e AS MATERIALIZED (SELECT DISTINCT s, d FROM "
        "(SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0) u "
        "WHERE s <> d)",
        "l0 AS (SELECT DISTINCT s AS node, s AS label FROM e)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"c{k} AS (SELECT e.d AS node, l.label, count(*) AS cnt "
            f"FROM e JOIN l{k - 1} l ON e.s = l.node GROUP BY e.d, l.label)"
        )
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT node, label FROM "
            f"(SELECT node, label, row_number() OVER "
            f"(PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn "
            f"FROM c{k}) t WHERE rn = 1)"
        )
    return ",\n".join(parts) + f"\nSELECT node, label FROM l{iters}"


def _trustrank_oracle_sql(
    iters: int = 5, damping: float = 0.85, n_seed_ids: int = 10
) -> str:
    """Unrolled TrustRank (Gyöngyi 2004) in plain SQL — generated like
    _linkrank_oracle_sql, must mirror operators/graph.py:trust_rank
    exactly: seed vector uniform over seeds h0..h{n-1} present in the
    graph, teleport AND dangling mass redistributed through the seed
    vector, start vector = seed vector."""
    seed_list = ", ".join(f"'h{i}'" for i in range(n_seed_ids))
    parts = [
        "WITH e0 AS (SELECT 'h' || (l_suppkey % 100) AS s, "
        "'h' || (l_partkey % 103) AS d, count(*)::DOUBLE AS w "
        "FROM lineitem GROUP BY 1, 2)",
        "outw AS (SELECT s, sum(w) AS ow FROM e0 GROUP BY s)",
        "e AS (SELECT e0.s, e0.d, e0.w / outw.ow AS share FROM e0 JOIN outw USING (s))",
        "nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e)",
        f"ns AS (SELECT count(*)::DOUBLE AS n FROM nodes WHERE node IN ({seed_list}))",
        "no_ AS (SELECT nodes.node, (src.s IS NOT NULL) AS has_out, "
        f"CASE WHEN nodes.node IN ({seed_list}) THEN 1.0 / (SELECT n FROM ns) "
        "ELSE 0.0 END AS sv "
        "FROM nodes LEFT JOIN (SELECT DISTINCT s FROM e) src ON src.s = nodes.node)",
        "r0 AS (SELECT node, has_out, sv, sv AS tr FROM no_)",
    ]
    for k in range(iters):
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(tr), 0) AS dang FROM r{k} WHERE NOT has_out)"
        )
        parts.append(
            f"c{k} AS (SELECT e.d AS node, sum(r.tr * e.share) AS c "
            f"FROM r{k} r JOIN e ON e.s = r.node GROUP BY e.d)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT no_.node, no_.has_out, no_.sv, "
            f"(1 - {damping}) * no_.sv + {damping} * "
            f"(coalesce(c{k}.c, 0) + d{k}.dang * no_.sv) AS tr "
            f"FROM no_ CROSS JOIN d{k} "
            f"LEFT JOIN c{k} ON c{k}.node = no_.node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, round(tr, 6) AS trust FROM r{iters}"
    )


def _hits_oracle_sql(iters: int = 5) -> str:
    """Unrolled HITS (Kleinberg '99) in plain SQL, mirroring
    operators/graph.py:hits exactly: uniform 1/sqrt(N) start, per-half-step
    L2 normalization with the same zero-norm guard."""
    parts = [
        "WITH e AS (SELECT 'h' || (l_suppkey % 100) AS s, "
        "'h' || (l_partkey % 103) AS d, count(*)::DOUBLE AS w "
        "FROM lineitem GROUP BY 1, 2)",
        "nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "h0 AS (SELECT node, 1.0 / sqrt(nn.n) AS hub FROM nodes CROSS JOIN nn)",
    ]
    # L2 norms are window functions over a single-reference inline subquery
    # (a norm CTE referencing its input twice would make DuckDB's CTE
    # inlining expand the 5-iteration chain exponentially)
    for k in range(1, iters + 1):
        parts.append(
            f"a{k} AS (SELECT node, a / (CASE WHEN nrm IS NULL OR nrm = 0 THEN 1 ELSE nrm END) AS authority "
            f"FROM (SELECT node, a, sqrt(sum(a * a) OVER ()) AS nrm "
            f"      FROM (SELECT nodes.node, coalesce(ar.a, 0) AS a FROM nodes "
            f"            LEFT JOIN (SELECT e.d AS node, sum(h.hub * e.w) AS a "
            f"                       FROM h{k - 1} h JOIN e ON e.s = h.node GROUP BY e.d) ar "
            f"            ON ar.node = nodes.node) f) t)"
        )
        parts.append(
            f"h{k} AS (SELECT node, h / (CASE WHEN nrm IS NULL OR nrm = 0 THEN 1 ELSE nrm END) AS hub "
            f"FROM (SELECT node, h, sqrt(sum(h * h) OVER ()) AS nrm "
            f"      FROM (SELECT nodes.node, coalesce(hr.h, 0) AS h FROM nodes "
            f"            LEFT JOIN (SELECT e.s AS node, sum(a.authority * e.w) AS h "
            f"                       FROM a{k} a JOIN e ON e.d = a.node GROUP BY e.s) hr "
            f"            ON hr.node = nodes.node) f) t)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT h{iters}.node, round(h{iters}.hub, 6) AS hub, "
        f"round(a{iters}.authority, 6) AS authority "
        f"FROM h{iters} JOIN a{iters} ON a{iters}.node = h{iters}.node"
    )


def _span_sql_exprs() -> dict[str, str]:
    """DuckDB expressions for EVERY declared span feature (base + v4 wide),
    over a CTE ``f(doc_id, ws, n_spans, total_text_len)`` where ``ws`` is
    the synthetic word/span list (kind = length mod 3, offset = index-1 in
    1-based DuckDB terms). Generated, not hand-written, so the a2/a4b
    oracles stay in lockstep with the operator's metric list."""
    switches = (
        "coalesce(list_sum(list_transform(range(1, n_spans), "
        "i -> CASE WHEN length(ws[i]) % 3 <> length(ws[i+1]) % 3 THEN 1 ELSE 0 END)), 0)"
    )
    exprs: dict[str, str] = {
        "n_spans": "n_spans",
        "total_text_len": "total_text_len",
        "n_empty_text": "len(list_filter(ws, x -> length(x) = 0))",
        "n_kind_switches": switches,
        "n_distinct_kinds": "len(list_distinct(list_transform(ws, x -> length(x) % 3)))",
        "min_text_len": "coalesce(list_min(list_transform(ws, x -> length(x))), 0)",
        "max_text_len": "coalesce(list_max(list_transform(ws, x -> length(x))), 0)",
        "min_offset": "0",
        "max_offset": "greatest(n_spans - 1, 0)",
        # offsets are the word index by construction, hence sorted
        "n_offset_inversions": "0",
        "offsets_monotonic": "1",
        "n_runs": f"CASE WHEN n_spans > 0 THEN {switches} + 1 ELSE 0 END",
        "median_text_len": (
            "CASE WHEN n_spans > 0 THEN list_sort(list_transform(ws, x -> length(x)))"
            "[CAST(ceil(n_spans / 2.0) AS INT)] ELSE 0 END"
        ),
        "text_density": (
            "CASE WHEN n_spans > 0 THEN round(len(list_filter(ws, "
            "x -> length(x) % 3 = 0)) / n_spans, 6) ELSE 0.0 END"
        ),
    }
    for kind, m in (("text", 0), ("link", 1), ("media", 2)):
        P = f"list_filter(range(1, len(ws) + 1), i -> length(ws[i]) % 3 = {m})"
        L = f"list_transform({P}, i -> length(ws[i]))"
        T = f"list_transform({P}, i -> ws[i])"
        C = f"len({P})"
        exprs[f"n_{kind}"] = C
        exprs[f"text_len_{kind}"] = f"coalesce(list_sum({L}), 0)"
        exprs[f"{kind}_n_empty"] = f"len(list_filter({L}, x -> x = 0))"
        exprs[f"{kind}_min_len"] = f"coalesce(list_min({L}), 0)"
        exprs[f"{kind}_max_len"] = f"coalesce(list_max({L}), 0)"
        exprs[f"{kind}_median_len"] = (
            f"CASE WHEN {C} > 0 THEN list_sort({L})"
            f"[CAST(ceil({C} / 2.0) AS INT)] ELSE 0 END"
        )
        exprs[f"{kind}_sum_len_sq"] = (
            f"coalesce(list_sum(list_transform({L}, x -> x * x)), 0)"
        )
        exprs[f"{kind}_n_distinct"] = f"len(list_distinct({T}))"
        exprs[f"{kind}_n_dup"] = f"{C} - len(list_distinct({T}))"
        exprs[f"{kind}_min_off"] = f"CASE WHEN {C} > 0 THEN list_min({P}) - 1 ELSE -1 END"
        exprs[f"{kind}_max_off"] = f"CASE WHEN {C} > 0 THEN list_max({P}) - 1 ELSE -1 END"
        exprs[f"{kind}_off_span"] = (
            f"CASE WHEN {C} > 0 THEN list_max({P}) - list_min({P}) ELSE 0 END"
        )
        exprs[f"{kind}_first_pos"] = f"coalesce(list_min({P}), 0)"
        exprs[f"{kind}_last_pos"] = f"coalesce(list_max({P}), 0)"
        exprs[f"{kind}_len_short"] = f"len(list_filter({L}, x -> x >= 1 AND x <= 4))"
        exprs[f"{kind}_len_mid"] = f"len(list_filter({L}, x -> x >= 5 AND x <= 8))"
        exprs[f"{kind}_len_long"] = f"len(list_filter({L}, x -> x >= 9))"
        exprs[f"{kind}_mean_len"] = (
            f"CASE WHEN {C} > 0 THEN round(coalesce(list_sum({L}), 0) / {C}, 6) "
            "ELSE 0.0 END"
        )
        exprs[f"{kind}_share_len"] = (
            f"CASE WHEN total_text_len > 0 THEN "
            f"round(coalesce(list_sum({L}), 0) / total_text_len, 6) ELSE 0.0 END"
        )
        # ---- v5 per-kind block (schema v5 widening) ----
        G = f"list_transform(range(1, {C}), i -> ({P})[i+1] - ({P})[i])"
        S = f"coalesce(list_sum({L}), 0)"
        Q = f"coalesce(list_sum(list_transform({L}, x -> x * x)), 0)"
        exprs[f"{kind}_first_len"] = f"coalesce(({L})[1], 0)"
        exprs[f"{kind}_last_len"] = f"coalesce(({L})[-1], 0)"
        exprs[f"{kind}_p25_len"] = (
            f"CASE WHEN {C} > 0 THEN list_sort({L})"
            f"[CAST(ceil({C} / 4.0) AS INT)] ELSE 0 END"
        )
        exprs[f"{kind}_p75_len"] = (
            f"CASE WHEN {C} > 0 THEN list_sort({L})"
            f"[CAST(ceil({C} * 3 / 4.0) AS INT)] ELSE 0 END"
        )
        exprs[f"{kind}_len_range"] = (
            f"CASE WHEN {C} > 0 THEN list_max({L}) - list_min({L}) ELSE 0 END"
        )
        exprs[f"{kind}_n_unique_lens"] = f"len(list_distinct({L}))"
        exprs[f"{kind}_n_even_len"] = f"len(list_filter({L}, x -> x % 2 = 0))"
        exprs[f"{kind}_n_odd_len"] = f"len(list_filter({L}, x -> x % 2 = 1))"
        exprs[f"{kind}_sum_pos"] = f"coalesce(list_sum({P}), 0)"
        exprs[f"{kind}_pos_span"] = (
            f"CASE WHEN {C} > 0 THEN list_max({P}) - list_min({P}) ELSE 0 END"
        )
        exprs[f"{kind}_max_gap"] = f"coalesce(list_max({G}), 0)"
        exprs[f"{kind}_min_gap"] = f"coalesce(list_min({G}), 0)"
        exprs[f"{kind}_n_runs"] = (
            f"CASE WHEN {C} > 0 THEN len(list_filter({G}, g -> g > 1)) + 1 "
            "ELSE 0 END"
        )
        exprs[f"{kind}_n_first_half"] = (
            f"len(list_filter({P}, p -> p <= CAST(ceil(n_spans / 2.0) AS INT)))"
        )
        exprs[f"{kind}_n_with_digit"] = (
            f"len(list_filter({T}, x -> regexp_matches(x, '[0-9]')))"
        )
        for feat, pat in (
            ("n_digits", "[^0-9]"),
            ("n_vowels", "[^aeiouAEIOU]"),
            ("n_alpha", "[^A-Za-z]"),
            ("n_nonalnum", "[A-Za-z0-9]"),
        ):
            exprs[f"{kind}_{feat}"] = (
                f"coalesce(list_sum(list_transform({T}, "
                f"x -> length(regexp_replace(x, '{pat}', '', 'g')))), 0)"
            )
        exprs[f"{kind}_n_vowel_start"] = (
            f"len(list_filter({T}, x -> regexp_matches(x, '^[aeiouAEIOU]')))"
        )
        exprs[f"{kind}_n_digit_start"] = (
            f"len(list_filter({T}, x -> regexp_matches(x, '^[0-9]')))"
        )
        for j in range(9):
            exprs[f"{kind}_len_h{j}"] = (
                f"len(list_filter({L}, x -> x >= {2 * j + 1} AND x <= {2 * j + 2}))"
            )
        exprs[f"{kind}_len_h9"] = f"len(list_filter({L}, x -> x >= 19))"
        exprs[f"{kind}_share_spans"] = (
            f"CASE WHEN n_spans > 0 THEN round({C} / n_spans, 6) ELSE 0.0 END"
        )
        exprs[f"{kind}_mean_pos"] = (
            f"CASE WHEN {C} > 0 THEN round(coalesce(list_sum({P}), 0) / {C}, 6) "
            "ELSE 0.0 END"
        )
        exprs[f"{kind}_std_len"] = (
            f"CASE WHEN {C} > 0 THEN round(sqrt(greatest("
            f"{Q} / {C} - ({S} / {C}) * ({S} / {C}), 0.0)), 6) ELSE 0.0 END"
        )
    # ---- v5 global block ----
    LALL = "list_transform(ws, x -> length(x))"
    kindm = {"text": 0, "link": 1, "media": 2}
    for a, ma in kindm.items():
        for b, mb in kindm.items():
            exprs[f"n_trans_{a}_{b}"] = (
                "coalesce(list_sum(list_transform(range(1, n_spans), "
                f"i -> CASE WHEN length(ws[i]) % 3 = {ma} "
                f"AND length(ws[i+1]) % 3 = {mb} THEN 1 ELSE 0 END)), 0)"
            )
    exprs["argmax_len_pos"] = (
        f"CASE WHEN n_spans > 0 THEN list_position({LALL}, list_max({LALL})) "
        "ELSE 0 END"
    )
    exprs["argmin_len_pos"] = (
        f"CASE WHEN n_spans > 0 THEN list_position({LALL}, list_min({LALL})) "
        "ELSE 0 END"
    )
    for feat, op in (
        ("n_len_increases", ">"),
        ("n_len_decreases", "<"),
        ("n_len_plateaus", "="),
    ):
        exprs[feat] = (
            "coalesce(list_sum(list_transform(range(1, n_spans), "
            f"i -> CASE WHEN length(ws[i+1]) {op} length(ws[i]) THEN 1 ELSE 0 END)), 0)"
        )
    exprs["total_len_sq"] = (
        "coalesce(list_sum(list_transform(ws, x -> length(x) * length(x))), 0)"
    )
    exprs["n_unique_lens_all"] = f"len(list_distinct({LALL}))"
    exprs["std_text_len"] = (
        "CASE WHEN n_spans > 0 THEN round(sqrt(greatest("
        "total_len_sq_g / n_spans - (total_text_len / n_spans) * "
        "(total_text_len / n_spans), 0.0)), 6) ELSE 0.0 END"
    ).replace(
        "total_len_sq_g",
        "coalesce(list_sum(list_transform(ws, x -> length(x) * length(x))), 0)",
    )
    return exprs


_SPAN_F_CTE = """
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
f AS (SELECT doc_id, ws, len(ws) AS n_spans,
        coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS total_text_len
      FROM t)
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["a5_partition_metrics"] = """
SELECT (event_id % 8)::BIGINT AS partition_id,
       count(*)::BIGINT AS n_rows,
       min(event_id)::BIGINT AS min_seq,
       max(event_id)::BIGINT AS max_seq
FROM events
GROUP BY 1
"""

    o["s1_index_scan_parse"] = """
SELECT doc_id::BIGINT AS doc_id, p[1] AS grp, p[2] AS art, p[3] AS ver
FROM (SELECT doc_id, str_split(CASE WHEN doc_id % 11 = 0 THEN 'bad-record-' || doc_id
        ELSE source || '|doc-' || doc_id || '|' || lang END, '|') AS p FROM documents) t
WHERE len(p) >= 3
"""

    o["c1_canonicalize_url"] = f"""
SELECT doc_id::BIGINT AS doc_id, {_RAW_URL_SQL} AS url
FROM documents WHERE doc_id % 4 <> 2
"""

    o["c2_host_reverse"] = """
SELECT n_nationkey::BIGINT AS n_nationkey,
       regexp_replace(lower(n_name), '[^a-z0-9]', '', 'g') || '.example.com' AS host,
       array_to_string(list_reverse(str_split(regexp_replace(lower(n_name), '[^a-z0-9]', '', 'g') || '.example.com', '.')), '.') AS host_rev
FROM nation
"""

    o["f1_first_occurrence_dedup"] = """
SELECT user_id::BIGINT AS user_id, event_type, event_id::BIGINT AS event_id, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events) t
WHERE rn = 1
"""

    o["text_boilerplate_strip"] = """
WITH p AS (
  SELECT doc_id,
         substr(text, 1, 120) || chr(10) ||
         'Home | About | Contact' || chr(10) ||
         '(c) 2024 example.com' || chr(10) ||
         'Published 2024-01-0' || (doc_id % 9 + 1) || chr(10) ||
         substr(text, 121, 120) AS text
  FROM documents),
k AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls,
         list_filter(string_split(text, chr(10)),
           x -> length(x) >= 30
                AND len(string_split_regex(trim(x), '\\s+')) >= 5
                AND length(regexp_replace(x, '[^A-Za-z ]', '', 'g'))
                    >= length(x) * 0.6
                AND length(regexp_replace(x, '[A-Za-z0-9 ]', '', 'g'))
                    <= length(x) * 0.05) AS kept
  FROM p)
SELECT doc_id::BIGINT AS doc_id,
       array_to_string(kept, chr(10)) AS content,
       len(kept)::BIGINT AS n_lines_kept,
       len(ls)::BIGINT AS n_lines_total
FROM k
"""

    # Greedy next-fit packing is inherently sequential within a shard, so
    # the oracle walks sequence boundaries with a recursive CTE: each step
    # closes one sequence (the last idx whose running token sum fits
    # base+budget, clamped for oversized docs) and carries the new base.
    o["corpus_pack_sequences"] = """
WITH RECURSIVE d AS (
  SELECT doc_id % 8 AS shard, doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT shard, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS cum,
         (row_number() OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS idx
  FROM d),
m AS (SELECT shard, max(idx) AS n FROM c GROUP BY shard),
seqs AS (
  SELECT m.shard, 1::BIGINT AS s, 0::BIGINT AS base, 0::BIGINT AS seq_id,
         greatest(1::BIGINT, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = m.shard AND c.cum <= 89), 0::BIGINT)) AS e
  FROM m
  UNION ALL
  SELECT sq.shard, sq.e + 1 AS s,
         (SELECT cum FROM c WHERE c.shard = sq.shard AND c.idx = sq.e) AS base,
         sq.seq_id + 1 AS seq_id,
         greatest(sq.e + 1, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = sq.shard
              AND c.cum <= (SELECT cum FROM c c2
                            WHERE c2.shard = sq.shard AND c2.idx = sq.e) + 89),
            0::BIGINT)) AS e
  FROM seqs sq JOIN m ON m.shard = sq.shard
  WHERE sq.e < m.n)
SELECT c.shard::BIGINT AS shard, c.doc_id::BIGINT AS doc_id,
       c.n_tokens, sq.seq_id,
       (c.idx - sq.s)::BIGINT AS pos_in_seq,
       (c.cum - c.n_tokens - sq.base)::BIGINT AS tok_offset,
       ((SELECT cum FROM c c3 WHERE c3.shard = c.shard AND c3.idx = sq.e)
        - sq.base)::BIGINT AS seq_tokens
FROM c JOIN seqs sq ON c.shard = sq.shard AND c.idx BETWEEN sq.s AND sq.e
"""

    o["corpus_budget_select"] = """
WITH d AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS quality,
         len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT *, coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
            AS cum_before
  FROM d)
SELECT doc_id::BIGINT AS doc_id, quality, n_tokens, cum_before
FROM c WHERE cum_before < 12000
"""

    o["corpus_collocation_pmi"] = """
WITH d AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
           FROM documents
           WHERE len(string_split_regex(lower(trim(text)), '\\s+')) > 0),
bi0 AS (SELECT t[i] AS x, t[i+1] AS y
        FROM d, unnest(generate_series(1, len(t)-1)) AS u(i)),
bi AS (SELECT x, y, count(*) AS c_xy FROM bi0 GROUP BY x, y
       HAVING count(*) >= 4),
uni AS (SELECT unnest(t) AS x FROM d),
cu AS (SELECT x, count(*) AS c FROM uni GROUP BY x),
tot AS (SELECT sum(len(t))::BIGINT AS N, sum(len(t)-1)::BIGINT AS M FROM d)
SELECT bi.x, bi.y, c_xy::BIGINT AS c_xy, cx.c::BIGINT AS c_x,
       cy.c::BIGINT AS c_y,
       round(ln((c_xy / M) / ((cx.c / N) * (cy.c / N))), 6) AS pmi
FROM bi JOIN cu cx ON bi.x = cx.x JOIN cu cy ON bi.y = cy.x CROSS JOIN tot
"""

    o["p13_host_quality_prior"] = """
WITH per AS (
  SELECT 'h' || (doc_id % 23) AS host, count(*) AS n_docs,
         sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g')))::BIGINT AS letters,
         sum(length(text))::BIGINT AS chars
  FROM documents
  WHERE length(text) > 0  -- impl drops zero-char docs per-doc (c > 0)
  GROUP BY 1),
g AS (SELECT sum(letters)::BIGINT AS gl, sum(chars)::BIGINT AS gc FROM per)
SELECT host, n_docs::BIGINT AS n_docs, chars AS chars,
       round(letters / chars, 6) AS rate,
       round((letters + 200.0 * (gl / gc)) / (chars + 200.0), 6) AS prior
FROM per CROSS JOIN g
"""

    o["mm_fetch_plan"] = """
WITH w AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
           FROM documents),
m AS (SELECT doc_id, 'm://' || tok AS media_ref FROM w
      WHERE length(tok) % 3 = 2),
p AS (SELECT media_ref, doc_id, count(*) AS c FROM m GROUP BY 1, 2)
SELECT media_ref, sum(c)::BIGINT AS n_refs, count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS first_doc
FROM p GROUP BY media_ref
"""

    o["corpus_global_sample"] = """
SELECT doc_id, sample_rank FROM (
  SELECT doc_id::BIGINT AS doc_id,
         (row_number() OVER (ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC))::BIGINT
           AS sample_rank
  FROM documents) t
WHERE sample_rank <= 100
"""

    o["pipeline_training_write"] = """
WITH RECURSIVE q AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS quality,
         len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n_tokens
  FROM documents),
cb AS (
  SELECT *, coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
            AS cum_before
  FROM q),
sel AS (SELECT doc_id % 4 AS shard, doc_id, n_tokens FROM cb
        WHERE cum_before < 12000),
c AS (
  SELECT shard, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS cum,
         (row_number() OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS idx
  FROM sel),
m AS (SELECT shard, max(idx) AS n FROM c GROUP BY shard),
seqs AS (
  SELECT m.shard, 1::BIGINT AS s, 0::BIGINT AS base, 0::BIGINT AS seq_id,
         greatest(1::BIGINT, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = m.shard AND c.cum <= 128), 0::BIGINT)) AS e
  FROM m
  UNION ALL
  SELECT sq.shard, sq.e + 1 AS s,
         (SELECT cum FROM c WHERE c.shard = sq.shard AND c.idx = sq.e) AS base,
         sq.seq_id + 1 AS seq_id,
         greatest(sq.e + 1, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = sq.shard
              AND c.cum <= (SELECT cum FROM c c2
                            WHERE c2.shard = sq.shard AND c2.idx = sq.e) + 128),
            0::BIGINT)) AS e
  FROM seqs sq JOIN m ON m.shard = sq.shard
  WHERE sq.e < m.n)
SELECT c.shard::BIGINT AS shard, c.doc_id::BIGINT AS doc_id,
       c.n_tokens, sq.seq_id,
       (c.idx - sq.s)::BIGINT AS pos_in_seq,
       (c.cum - c.n_tokens - sq.base)::BIGINT AS tok_offset,
       ((SELECT cum FROM c c3 WHERE c3.shard = c.shard AND c3.idx = sq.e)
        - sq.base)::BIGINT AS seq_tokens
FROM c JOIN seqs sq ON c.shard = sq.shard AND c.idx BETWEEN sq.s AND sq.e
"""

    o["text_lm_perplexity"] = """
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
           FROM documents),
bz AS (SELECT doc_id,
              unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
       FROM w),
bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bz),
tb AS (SELECT * FROM bg WHERE doc_id % 3 = 0),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
v AS (SELECT count(DISTINCT t.w) AS v
      FROM (SELECT unnest(ws) AS w FROM w WHERE doc_id % 3 = 0) t),
s AS (SELECT bg.doc_id,
             -ln((coalesce(c2.c2, 0) + 1) / (coalesce(c1.c1, 0) + v.v)) AS nll
      FROM bg LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
              LEFT JOIN c1 ON bg.w1 = c1.w1
              CROSS JOIN v)
SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(nll), 6) AS avg_nll, round(exp(avg(nll)), 3) AS ppl
FROM s GROUP BY doc_id
"""

    o["text_gopher_rules"] = """
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS ws,
         string_split(text, chr(10)) AS lines
  FROM documents),
m AS (
  SELECT doc_id,
         len(ws)::BIGINT AS n_words,
         list_sum(list_transform(ws, w -> length(w)))::DOUBLE
           / greatest(len(ws), 1) AS mwl,
         ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) // 3)::DOUBLE
           / greatest(len(ws), 1) AS symbol_ratio,
         len(list_filter(lines, l -> starts_with(ltrim(l), '-')
               OR starts_with(ltrim(l), '*')
               OR starts_with(ltrim(l), '•')))::DOUBLE
           / greatest(len(lines), 1) AS bullet_frac,
         len(list_filter(lines, l -> ends_with(rtrim(l), '...')))::DOUBLE
           / greatest(len(lines), 1) AS ellipsis_frac,
         len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))::DOUBLE
           / greatest(len(ws), 1) AS alpha_frac,
         len(list_intersect(ws,
             ['the','be','to','of','and','that','have','with']))::BIGINT AS n_stop
  FROM base)
SELECT doc_id::BIGINT AS doc_id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(symbol_ratio, 6) AS symbol_ratio,
       round(bullet_frac, 6) AS bullet_line_frac,
       round(ellipsis_frac, 6) AS ellipsis_line_frac,
       round(alpha_frac, 6) AS alpha_word_frac,
       n_stop AS n_stop_hits,
       (n_words BETWEEN 50 AND 100000 AND mwl >= 3 AND mwl <= 10
        AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        AND n_stop >= 2)::BIGINT AS passed
FROM m
"""

    o["r6_term_drift"] = """
WITH ta AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            FROM documents WHERE doc_id % 2 = 0),
tb AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       FROM documents WHERE doc_id % 2 = 1),
ca AS (SELECT term, count(*) AS cnt_a FROM ta GROUP BY term),
cb AS (SELECT term, count(*) AS cnt_b FROM tb GROUP BY term),
jn AS (SELECT coalesce(ca.term, cb.term) AS term,
              coalesce(ca.cnt_a, 0) AS cnt_a,
              coalesce(cb.cnt_b, 0) AS cnt_b
       FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
tot AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM jn),
s AS (SELECT term, cnt_a, cnt_b,
             cnt_a / tot_a AS p, cnt_b / tot_b AS q
      FROM jn CROSS JOIN tot)
SELECT term, cnt_a::BIGINT AS cnt_a, cnt_b::BIGINT AS cnt_b,
       round(p, 9) AS p_a, round(q, 9) AS p_b,
       round(
         (CASE WHEN cnt_a > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END)
         + (CASE WHEN cnt_b > 0 THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END),
         9) AS jsd_term
FROM s
"""

    o["p14_focused_priority"] = """
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
           FROM documents),
rel AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens,
               (3 * len(list_filter(ws, x -> x = 'join'))
                + 2 * len(list_filter(ws, x -> x = 'stream'))
                + 1 * len(list_filter(ws, x -> x = 'query')))::BIGINT AS rel_num
        FROM w),
links AS (SELECT l_orderkey % 500 AS src, 'k' || l_partkey AS dst
          FROM lineitem),
e AS (SELECT l.dst, r.rel_num, r.n_tokens
      FROM links l JOIN rel r ON l.src = r.doc_id)
SELECT dst, count(*)::BIGINT AS n_inlinks,
       sum(rel_num)::BIGINT AS sum_rel_num,
       sum(n_tokens)::BIGINT AS sum_tokens,
       round(sum(rel_num)::DOUBLE / sum(n_tokens), 9) AS relevance,
       least(9, (20 * sum(rel_num)) // sum(n_tokens))::BIGINT AS priority_boost
FROM e GROUP BY dst
"""

    o["pipeline_frontier_priority"] = """
WITH per AS (
  SELECT 'h' || (doc_id % 23) AS host,
         sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g')))::BIGINT AS letters,
         sum(length(text))::BIGINT AS chars
  FROM documents WHERE length(text) > 0 GROUP BY 1),
g AS (SELECT sum(letters)::BIGINT AS gl, sum(chars)::BIGINT AS gc FROM per),
hp AS (SELECT host,
              round((letters + 200.0 * (gl / gc)) / (chars + 200.0), 6) AS prior
       FROM per CROSS JOIN g),
w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents),
rel AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens,
               (3 * len(list_filter(ws, x -> x = 'join'))
                + 2 * len(list_filter(ws, x -> x = 'stream'))
                + 1 * len(list_filter(ws, x -> x = 'query')))::BIGINT AS rel_num
        FROM w),
links AS (SELECT l_orderkey % 500 AS src, 'k' || l_partkey AS dst FROM lineitem),
e AS (SELECT l.dst, r.rel_num, r.n_tokens
      FROM links l JOIN rel r ON l.src = r.doc_id),
boost AS (SELECT dst,
                 least(9, (20 * sum(rel_num)) // sum(n_tokens))::BIGINT AS pb
          FROM e GROUP BY dst),
fr AS (SELECT 'k' || p_partkey AS url, 'h' || (p_partkey % 23) AS host,
              (p_size % 5)::BIGINT AS base FROM part),
j AS (SELECT fr.host, fr.url,
             (fr.base + coalesce(b.pb, 0))::BIGINT AS eff_priority,
             coalesce(hp.prior, 0.0) AS host_prior
      FROM fr LEFT JOIN boost b ON fr.url = b.dst
              LEFT JOIN hp ON fr.host = hp.host),
r AS (SELECT *, row_number() OVER (PARTITION BY host
            ORDER BY eff_priority DESC, url ASC) AS rnk FROM j)
SELECT host, url, eff_priority, rnk::BIGINT AS rnk, host_prior
FROM r WHERE rnk <= 2
"""

    o["agg_cube_rollup"] = """
SELECT source, lang, count(*)::BIGINT AS n_docs,
       sum(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT AS n_tokens,
       sum(length(text))::BIGINT AS n_chars
FROM documents
GROUP BY CUBE (source, lang)
"""

    o["agg_pivot_langs"] = """
WITH t AS (SELECT source, lang,
                  len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
           FROM documents)
SELECT source,
       coalesce(sum(CASE WHEN lang = 'de' THEN n_tok END), 0)::BIGINT AS de,
       coalesce(sum(CASE WHEN lang = 'en' THEN n_tok END), 0)::BIGINT AS en,
       coalesce(sum(CASE WHEN lang = 'es' THEN n_tok END), 0)::BIGINT AS es,
       coalesce(sum(CASE WHEN lang = 'fr' THEN n_tok END), 0)::BIGINT AS fr,
       coalesce(sum(CASE WHEN lang = 'zh' THEN n_tok END), 0)::BIGINT AS zh
FROM t GROUP BY source
"""

    o["pipeline_quality_filter"] = """
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
           FROM documents),
bz AS (SELECT doc_id, unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
       FROM w),
bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bz),
tb AS (SELECT * FROM bg WHERE doc_id % 3 = 0),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
v AS (SELECT count(DISTINCT t.w) AS v
      FROM (SELECT unnest(ws) AS w FROM w WHERE doc_id % 3 = 0) t),
s AS (SELECT bg.doc_id,
             -ln((coalesce(c2.c2, 0) + 1) / (coalesce(c1.c1, 0) + v.v)) AS nll
      FROM bg LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
              LEFT JOIN c1 ON bg.w1 = c1.w1
              CROSS JOIN v),
lm AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
              round(avg(nll), 6) AS avg_nll, round(exp(avg(nll)), 3) AS ppl
       FROM s GROUP BY doc_id),
nn AS (SELECT count(*) AS n FROM lm),
rr AS (SELECT avg_nll, row_number() OVER (ORDER BY avg_nll) AS rk FROM lm),
med AS (SELECT rr.avg_nll AS med_nll FROM rr CROSS JOIN nn
        WHERE rr.rk = greatest(1, ceil(0.5 * nn.n)::BIGINT)),
gb AS (SELECT doc_id, text,
              string_split_regex(lower(trim(text)), '\\s+') AS gws,
              string_split(text, chr(10)) AS lines
       FROM documents),
gm AS (SELECT doc_id,
         len(gws)::BIGINT AS n_words,
         list_sum(list_transform(gws, x -> length(x)))::DOUBLE
           / greatest(len(gws), 1) AS mwl,
         ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) // 3)::DOUBLE
           / greatest(len(gws), 1) AS symbol_ratio,
         len(list_filter(lines, l -> starts_with(ltrim(l), '-')
               OR starts_with(ltrim(l), '*')
               OR starts_with(ltrim(l), '•')))::DOUBLE
           / greatest(len(lines), 1) AS bullet_frac,
         len(list_filter(lines, l -> ends_with(rtrim(l), '...')))::DOUBLE
           / greatest(len(lines), 1) AS ellipsis_frac,
         len(list_filter(gws, x -> regexp_matches(x, '[a-z]')))::DOUBLE
           / greatest(len(gws), 1) AS alpha_frac,
         len(list_intersect(gws,
             ['the','be','to','of','and','that','have','with']))::BIGINT AS n_stop
       FROM gb),
gp AS (SELECT doc_id, n_words,
         (n_words BETWEEN 20 AND 100000 AND mwl >= 3 AND mwl <= 10
          AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
          AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
          AND n_stop >= 1) AS passed
       FROM gm)
SELECT lm.doc_id, gp.n_words, lm.n_bigrams, lm.avg_nll, lm.ppl, med.med_nll
FROM lm CROSS JOIN med JOIN gp ON gp.doc_id = lm.doc_id
WHERE gp.passed AND lm.avg_nll <= med.med_nll
"""

    # shared between corpus_bm25_topk and retrieval_rrf_fusion: ONE copy of
    # the BM25 math so the two oracles can never silently disagree
    _bm25_cte = """base AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM documents WHERE text IS NOT NULL),
st AS (SELECT count(*) AS n_docs, sum(len(ws)) AS total_len FROM base),
lens AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM base),
tok AS (SELECT doc_id, unnest(ws) AS term FROM base),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('join', 'stream', 'window') GROUP BY doc_id, term),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s AS (SELECT tf.doc_id,
             ln(1 + (st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1 - 0.75
                    + 0.75 * lens.dl / (st.total_len / st.n_docs))) AS c
      FROM tf JOIN dfx USING (term) JOIN lens USING (doc_id) CROSS JOIN st)"""

    o["corpus_bm25_topk"] = f"""
WITH {_bm25_cte},
agg AS (SELECT doc_id, round(sum(c), 6) AS score,
               count(*)::BIGINT AS n_terms FROM s GROUP BY doc_id)
SELECT doc_id::BIGINT AS doc_id, score, n_terms FROM agg
ORDER BY score DESC, doc_id ASC LIMIT 25
"""

    o["retrieval_rrf_fusion"] = f"""
WITH {_bm25_cte},
bm AS (SELECT doc_id, round(sum(c), 6) AS score FROM s GROUP BY doc_id
       ORDER BY score DESC, doc_id ASC LIMIT 50),
bmr AS (SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_bm
        FROM bm),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
cs AS (SELECT e.vec_id AS doc_id,
              round(list_cosine_similarity(e.embedding::DOUBLE[], qv.q::DOUBLE[]), 6)
                AS cosine
       FROM embeddings e CROSS JOIN qv),
dn AS (SELECT doc_id,
              row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS r_d
       FROM cs ORDER BY cosine DESC, doc_id ASC LIMIT 50),
f AS (SELECT coalesce(bmr.doc_id, dn.doc_id) AS doc_id, bmr.r_bm, dn.r_d
      FROM bmr FULL OUTER JOIN dn ON bmr.doc_id = dn.doc_id)
SELECT doc_id::BIGINT AS doc_id, r_bm::BIGINT AS r_bm, r_d::BIGINT AS r_d,
       round(coalesce(1.0 / (60 + r_bm), 0) + coalesce(1.0 / (60 + r_d), 0), 9)
         AS rrf
FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 20
"""

    o["corpus_chunk_windows"] = """
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ls
           FROM documents),
n AS (SELECT doc_id, ls, len(ls)::BIGINT AS n FROM d),
w AS (SELECT doc_id, ls, n,
             unnest(generate_series(0::BIGINT,
               CASE WHEN n <= 32 THEN 0::BIGINT ELSE (n - 32 + 23) // 24 END)) AS win_id
      FROM n)
SELECT doc_id::BIGINT AS doc_id, win_id::BIGINT AS win_id,
       (win_id * 24)::BIGINT AS start_tok,
       least(32::BIGINT, n - win_id * 24)::BIGINT AS n_tok,
       array_to_string(ls[win_id * 24 + 1 : win_id * 24 + 32], ' ') AS window_text
FROM w
"""

    o["corpus_mixture_weights"] = """
WITH d AS (SELECT source || ':' || lang AS grp,
                  len(string_split_regex(lower(trim(text)), '\\s+'))::DOUBLE AS w
           FROM documents),
per AS (SELECT grp, sum(w) AS n_tokens FROM d
        WHERE grp IS NOT NULL GROUP BY grp),
t AS (SELECT sum(n_tokens) AS N, sum(pow(n_tokens, 0.5)) AS Z FROM per)
SELECT grp AS "group", n_tokens::BIGINT AS n_tokens,
       round(n_tokens / N, 6) AS p,
       round(pow(n_tokens, 0.5) / Z, 6) AS q,
       round(3000000 * pow(n_tokens, 0.5) / Z / n_tokens, 6) AS epochs
FROM per CROSS JOIN t
"""

    o["corpus_weighted_sample"] = """
WITH fr AS (SELECT 'h' || (doc_id % 5) AS host, doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN 0.0
                        ELSE CAST(length(text) AS DOUBLE) END AS weight
            FROM documents),
p AS (SELECT host, doc_id, weight FROM fr WHERE weight > 0),
kx AS (SELECT host, doc_id, weight,
              -ln((CAST(('0x' || substr(md5(host || ':' || doc_id), 1, 12)) AS BIGINT) + 1.0)
                  / 281474976710657.0) / weight AS key
       FROM p),
r AS (SELECT host, doc_id, weight,
             row_number() OVER (PARTITION BY host
                                ORDER BY key ASC, doc_id ASC) AS sample_rank
      FROM kx)
SELECT host, doc_id::BIGINT AS doc_id, round(weight, 6) AS weight,
       sample_rank::BIGINT AS sample_rank
FROM r WHERE sample_rank <= 25
"""

    o["c1c_host_idna"] = """
SELECT c_custkey::BIGINT AS c_custkey,
       'h' || c_custkey || '.' ||
       CASE CAST(c_custkey % 5 AS INT)
         WHEN 0 THEN 'xn--bcher-kva.de'
         WHEN 1 THEN 'xn--fiqs8s.example'
         WHEN 2 THEN 'xn--mnchen-3ya.xn--mller-kva.example'
         WHEN 3 THEN 'ascii.example.com'
         ELSE 'xn--e1afmkfd.xn--80akhbyknj4f'
       END AS host_ascii
FROM customer
"""

    o["f6e_robots_wildcards"] = """
WITH c AS (
  SELECT c_custkey,
         regexp_replace(lower(n_name), '[^a-z0-9]', '', 'g') || '.test' AS host,
         n_nationkey % 3 AS k,
         CASE CAST(c_custkey % 6 AS INT)
           WHEN 0 THEN '/idx' || c_custkey || '.php'
           WHEN 1 THEN '/pub' || c_custkey || '.php'
           WHEN 2 THEN '/idx' || c_custkey || '.php?q=1'
           WHEN 3 THEN '/p' || c_custkey || '/secret'
           WHEN 4 THEN '/dl'
           ELSE '/dl/x'
         END AS path
  FROM customer JOIN nation ON c_nationkey = n_nationkey)
SELECT c_custkey::BIGINT AS c_custkey, 'https://' || host || path AS url
FROM c
WHERE CASE k
  -- class 0: allow /pub*.php$ (10 octets) beats disallow /*.php$ (7)
  WHEN 0 THEN regexp_matches(path, '^/pub.*\\.php$')
              OR NOT regexp_matches(path, '^/.*\\.php$')
  -- class 1: disallow /p*/secret (10) beats allow / (1)
  WHEN 1 THEN NOT regexp_matches(path, '^/p.*/secret')
  -- class 2: disallow /dl$ — exact-path anchor only
  ELSE NOT regexp_matches(path, '^/dl$')
END
"""

    o["f6_robots_gate"] = """
WITH cand AS (
  SELECT c_custkey::BIGINT AS c_custkey, n_nationkey % 3 AS hk,
         regexp_replace(lower(n_name), '[^a-z0-9]', '', 'g') || '.test' AS host,
         CASE WHEN c_custkey % 3 = 0 THEN '/a/x' || c_custkey
              WHEN c_custkey % 3 = 1 THEN '/a/secret/' || c_custkey
              ELSE '/b/' || c_custkey END AS path
  FROM customer JOIN nation ON c_nationkey = n_nationkey)
SELECT c_custkey, 'https://' || host || path AS url
FROM cand
WHERE NOT ((hk = 0 AND path LIKE '/a%') OR (hk = 1 AND path LIKE '/a/secret%'))
"""

    o["p1_politeness_token_bucket"] = (
        "SELECT host, seq, priority, host_rank::BIGINT AS host_rank, emit_ms FROM ("
        + _EMIT_SQL + ") e"
    )

    o["p11_prune_pending_admit"] = (
        "SELECT host, seq, priority, host_rank::BIGINT AS host_rank, emit_ms FROM ("
        + _EMIT_SQL + ") e WHERE emit_ms < 2000"
    )

    o["p2_global_limit"] = (
        "SELECT host, seq, priority, emit_ms FROM (" + _EMIT_SQL + ") e "
        "ORDER BY emit_ms ASC, priority DESC, discovery_ts ASC, seq ASC LIMIT 100"
    )

    o["p6_priority_topk"] = """
SELECT o_custkey::BIGINT AS o_custkey, rnk::BIGINT AS rnk, o_orderkey::BIGINT AS o_orderkey, o_totalprice
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders) t
WHERE rnk <= 3
"""

    o["j1_seen_anti_join_bloom"] = """
SELECT DISTINCT 'k' || l_partkey AS url FROM lineitem
WHERE 'k' || l_partkey NOT IN (SELECT 'k' || p_partkey FROM part WHERE p_size > 30)
"""

    o["j1b_seen_anti_join_cuckoo"] = """
SELECT DISTINCT 'k' || l_partkey AS url FROM lineitem
WHERE 'k' || l_partkey NOT IN
      (SELECT 'k' || p_partkey FROM part WHERE p_size > 30 AND p_size <= 45)
"""

    o["j3_semi_anti_split"] = """
SELECT l_orderkey::BIGINT AS l_orderkey, l_linenumber::BIGINT AS l_linenumber,
       l_partkey::BIGINT AS l_partkey,
       l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25) AS matched
FROM lineitem
"""

    o["j4_first_match_join"] = """
SELECT o_orderkey::BIGINT AS o_orderkey, l_linenumber::BIGINT AS l_linenumber,
       l_partkey::BIGINT AS l_partkey
FROM (SELECT l_orderkey AS o_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber ASC, l_partkey ASC) AS rn
      FROM lineitem WHERE l_discount >= 0.05) t
WHERE rn = 1
"""

    o["j5_version_resolution"] = """
WITH avail AS (SELECT DISTINCT p_brand, p_size || '.' || (p_partkey % 10) AS version,
                      p_size AS va, (p_partkey % 10)::INT AS vb FROM part),
specs AS (SELECT DISTINCT p_brand, p_size || '.0' AS version_spec, p_size AS sa
          FROM part WHERE p_partkey % 7 = 0),
j AS (SELECT s.p_brand, s.version_spec, s.sa, a.version, a.va, a.vb
      FROM specs s JOIN avail a ON s.p_brand = a.p_brand)
SELECT p_brand, version_spec,
       coalesce(
         max(CASE WHEN version = version_spec THEN version END),
         arg_min(CASE WHEN va >= sa THEN version END, CASE WHEN va >= sa THEN va * 10 + vb END),
         arg_max(version, va * 10 + vb)
       ) AS resolved_version
FROM j GROUP BY p_brand, version_spec
"""

    o["a1_group_edges"] = """
SELECT 'S' || l_suppkey AS library,
       array_to_string(list_sort(list(DISTINCT 'P' || l_partkey)), ',') AS methods_csv,
       count(*) AS n_edges
FROM lineitem GROUP BY 1
"""

    o["a3_nested_calls"] = """
WITH per_lib AS (
  SELECT 'D' || l_orderkey AS src_doc, 'S' || l_suppkey AS library,
         array_to_string(list_sort(list(DISTINCT 'P' || l_partkey)), '|') AS ms
  FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY 1, 2)
SELECT src_doc, string_agg(library || ':' || ms, ';' ORDER BY library || ':' || ms) AS calls_str
FROM per_lib GROUP BY src_doc
"""

    o["a4_span_stats"] = """
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
f AS (
  SELECT doc_id, ws, len(ws) AS n_spans,
         len(list_filter(ws, x -> length(x) % 3 = 0)) AS n_text,
         len(list_filter(ws, x -> length(x) % 3 = 1)) AS n_link,
         len(list_filter(ws, x -> length(x) % 3 = 2)) AS n_media,
         coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS total_text_len
  FROM t)
SELECT doc_id::BIGINT AS doc_id,
       n_spans::BIGINT AS n_spans,
       n_text::BIGINT AS n_text,
       n_link::BIGINT AS n_link,
       n_media::BIGINT AS n_media,
       n_media::BIGINT AS n_media_refs,
       len(list_filter(ws, x -> length(x) = 0))::BIGINT AS n_empty_text,
       coalesce(list_sum(list_transform(range(1, n_spans),
         i -> CASE WHEN length(ws[i]) % 3 <> length(ws[i+1]) % 3 THEN 1 ELSE 0 END)), 0)::BIGINT
         AS n_kind_switches,
       len(list_distinct(list_transform(ws, x -> length(x) % 3)))::BIGINT AS n_distinct_kinds,
       total_text_len::BIGINT AS total_text_len,
       coalesce(list_sum(list_transform(list_filter(ws, x -> length(x) % 3 = 0),
         x -> length(x))), 0)::BIGINT AS text_len_text,
       coalesce(list_sum(list_transform(list_filter(ws, x -> length(x) % 3 = 1),
         x -> length(x))), 0)::BIGINT AS text_len_link,
       coalesce(list_sum(list_transform(list_filter(ws, x -> length(x) % 3 = 2),
         x -> length(x))), 0)::BIGINT AS text_len_media,
       coalesce(list_min(list_transform(ws, x -> length(x))), 0)::BIGINT AS min_text_len,
       coalesce(list_max(list_transform(ws, x -> length(x))), 0)::BIGINT AS max_text_len,
       0::BIGINT AS min_offset,
       greatest(n_spans - 1, 0)::BIGINT AS max_offset,
       CASE WHEN n_spans > 0 THEN round(total_text_len / n_spans, 6) ELSE 0.0 END AS mean_text_len,
       CASE WHEN n_spans > 0 THEN round(n_link / n_spans, 6) ELSE 0.0 END AS link_density,
       CASE WHEN n_spans > 0 THEN round(n_media / n_spans, 6) ELSE 0.0 END AS media_density,
       CASE WHEN n_spans = 0 THEN ''
            WHEN length(ws[1]) % 3 = 0 THEN 'text'
            WHEN length(ws[1]) % 3 = 1 THEN 'link' ELSE 'media' END AS first_kind,
       CASE WHEN n_spans = 0 THEN ''
            WHEN length(ws[n_spans]) % 3 = 0 THEN 'text'
            WHEN length(ws[n_spans]) % 3 = 1 THEN 'link' ELSE 'media' END AS last_kind
FROM f
"""

    # a2 (wide map) + a4b: generated from _span_sql_exprs so the oracles
    # track the operator's metric lists exactly
    from delphi_crawler_spark.operators.links import (
        SPAN_INT_FEATURES,
        WIDE_DOUBLE_FEATURES,
        WIDE_INT_FEATURES,
    )

    _exprs = _span_sql_exprs()
    _exprs["n_media_refs"] = _exprs["n_media"]  # synthetic: 1 ref per media
    _map_names = sorted(SPAN_INT_FEATURES + WIDE_INT_FEATURES)
    # flat concat_ws (n-ary, one nesting level) — a 65-way binary || chain
    # trips DuckDB's 128-deep binder recursion limit
    _kvs = ",\n  ".join(f"concat('{name}=', ({_exprs[name]}))" for name in _map_names)
    o["a2_feature_map"] = (
        _SPAN_F_CTE
        + f"SELECT doc_id::BIGINT AS doc_id, concat_ws(',',\n  {_kvs}) AS features_str FROM f"
    )

    _a4b_cols = [f"({_exprs[c]})::BIGINT AS {c}" for c in WIDE_INT_FEATURES]
    _a4b_cols += [f"({_exprs[c]})::DOUBLE AS {c}" for c in WIDE_DOUBLE_FEATURES]
    o["a4b_span_stats_wide"] = (
        _SPAN_F_CTE
        + "SELECT doc_id::BIGINT AS doc_id,\n  "
        + ",\n  ".join(_a4b_cols)
        + "\nFROM f"
    )

    o["c5_prop_interpolation"] = """
SELECT c_custkey::BIGINT AS c_custkey,
       'ref-' || lower(n_name) || '-' ||
       CASE WHEN c_custkey % 5 = 0 THEN '${missing}' ELSE 'ok' END AS resolved
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""

    o["s4_merge_upsert"] = """
WITH upd AS (SELECT o_custkey AS c_custkey,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS new_bal
             FROM orders GROUP BY 1),
ins AS (SELECT c_custkey + 1000000 AS c_custkey, 'new-' || c_custkey AS c_name,
               c_nationkey, 0.0 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 100 = 0)
SELECT c.c_custkey::BIGINT AS c_custkey, c.c_name, c.c_nationkey::BIGINT AS c_nationkey,
       coalesce(u.new_bal, c.c_acctbal) AS c_acctbal, c.c_mktsegment
FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
UNION ALL
SELECT c_custkey::BIGINT, c_name, c_nationkey::BIGINT, c_acctbal, c_mktsegment FROM ins
"""

    o["agg_distinct_metrics"] = """
SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type
"""

    o["stream_sliding_window"] = """
WITH e AS (SELECT epoch_us(ts) AS eu, event_type, value FROM events),
x AS (SELECT event_type, value,
             make_timestamp(((eu // 900000000) - k.k) * 900000000) AS window_start
      FROM e, (SELECT unnest(range(0, 4)) AS k) k)
SELECT window_start, event_type, count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2
"""

    o["stream_tumbling_window"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

    o["p1b_politeness_perhost"] = """
WITH fr AS (SELECT 'u' || user_id AS host, 1.0 + user_id % 5 AS rate, user_id % 3 + 1 AS burst,
                   (event_id % 3)::BIGINT AS priority, ts, event_id::BIGINT AS seq
            FROM events),
r AS (SELECT host, seq, priority, rate, burst,
             row_number() OVER (PARTITION BY host ORDER BY priority DESC, ts ASC, seq ASC) AS host_rank
      FROM fr)
SELECT host, seq, priority, host_rank::BIGINT AS host_rank,
       CASE WHEN host_rank <= burst THEN 0
            ELSE CAST(ceil((host_rank - burst) * 1000.0 / rate) AS BIGINT) END AS emit_ms
FROM r
"""

    o["agg_having"] = """
SELECT l_partkey::BIGINT AS l_partkey, count(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) >= 30
"""

    o["dedup_exact_text"] = """
SELECT doc_id::BIGINT AS doc_id, lang, source, n_chars::BIGINT AS n_chars
FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
      FROM documents) t
WHERE rn = 1
"""

    o["dedup_ngram_jaccard"] = (
        "WITH g AS (" + _GRAMS_SQL + ") "
        """
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b,
         round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6) AS jaccard
  FROM g a JOIN g b ON a.doc_id < b.doc_id) p
WHERE jaccard >= 0.5
"""
    )

    o["dedup_embedding_cosine"] = """
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) p
WHERE cosine >= 0.35
"""

    _topk_sql = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
s AS (SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS cosine
      FROM embeddings e CROSS JOIN q),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rnk FROM s)
SELECT query_id::BIGINT AS query_id, rnk::BIGINT AS "rank", vec_id::BIGINT AS vec_id, cosine
FROM r WHERE rnk <= 10
"""
    o["sim_topk_bruteforce"] = _topk_sql
    o["sim_topk_arrow"] = _topk_sql

    o["text_quality_scores"] = """
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars_m,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is'))) AS stop_hits
  FROM documents),
r AS (
  SELECT doc_id, n_chars_m::BIGINT AS n_chars_m, n_tokens::BIGINT AS n_tokens,
         round(CAST(punct AS DOUBLE) / greatest(n_chars_m, 1), 6) AS punct_ratio,
         round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio,
         round(CAST(n_chars_m AS DOUBLE) / greatest(n_tokens, 1), 6) AS mean_token_len
  FROM base)
SELECT doc_id::BIGINT AS doc_id, n_chars_m, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
       least(n_tokens / 50.0, 1.0) * 0.4
         + least(stopword_ratio * 5.0, 1.0) * 0.3
         + (CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score
FROM r
"""

    o["text_token_counts"] = """
SELECT doc_id::BIGINT AS doc_id,
       (CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]+'))::BIGINT AS bpe_tokens
FROM documents
"""

    o["text_lang_id"] = """
WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents),
m(lang, tok, pri) AS (VALUES
  ('en','the',0),('en','and',0),('en','of',0),('en','to',0),('en','is',0),('en','in',0),('en','that',0),('en','it',0),
  ('es','el',1),('es','la',1),('es','de',1),('es','que',1),('es','y',1),('es','los',1),('es','en',1),('es','un',1),
  ('fr','le',2),('fr','la',2),('fr','de',2),('fr','et',2),('fr','les',2),('fr','des',2),('fr','un',2),('fr','une',2),
  ('de','der',3),('de','die',3),('de','und',3),('de','das',3),('de','ist',3),('de','ein',3),('de','nicht',3),('de','mit',3)),
votes AS (SELECT t.doc_id, m.lang, m.pri, count(*) AS hits
          FROM toks t JOIN m ON t.tok = m.tok GROUP BY 1, 2, 3),
best AS (SELECT doc_id, lang,
                row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, pri ASC) AS rn
         FROM votes WHERE hits > 0)
SELECT d.doc_id::BIGINT AS doc_id,
       CASE WHEN regexp_matches(d.text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
            ELSE coalesce(b.lang, 'und') END AS lang_pred
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
"""

    o["corpus_segment_dedup"] = """
WITH arr AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
z AS (SELECT doc_id, unnest(list_zip(toks, range(1, len(toks)+1))) AS zz FROM arr),
toks AS (SELECT doc_id, zz[1] AS tok, CAST(zz[2] AS BIGINT) - 1 AS pos FROM z),
segs AS (
  SELECT doc_id, pos//8 AS seg_id, string_agg(tok, ' ' ORDER BY pos) AS seg_text
  FROM toks GROUP BY doc_id, pos//8
),
freq AS (
  SELECT seg_text, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
  FROM segs GROUP BY seg_text
)
SELECT s.doc_id::BIGINT AS doc_id,
       count(*)::BIGINT AS n_segments,
       sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_segments,
       coalesce(string_agg(
           CASE WHEN f.n_docs = 1 OR f.first_doc = s.doc_id THEN s.seg_text END,
           ' ' ORDER BY s.seg_id), '') AS clean_text
FROM segs s JOIN freq f USING (seg_text)
GROUP BY s.doc_id
"""

    o["corpus_repetition_signals"] = """
WITH arr AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_word_frac
  FROM arr
),
z AS (SELECT doc_id, unnest(list_zip(toks, range(1, len(toks)+1))) AS zz FROM arr),
toks AS (SELECT doc_id, zz[1] AS tok, CAST(zz[2] AS BIGINT) - 1 AS pos FROM z),
topw AS (
  SELECT doc_id, max(c) AS top_word_n
  FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok) t
  GROUP BY doc_id
),
bigr AS (
  SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
  FROM toks QUALIFY bg IS NOT NULL
),
topb AS (
  SELECT doc_id, max(c) AS top_bigram_n
  FROM (SELECT doc_id, bg, count(*) AS c FROM bigr GROUP BY doc_id, bg) t
  GROUP BY doc_id
)
SELECT b.doc_id::BIGINT AS doc_id, b.n_tokens,
       round(b.dup_word_frac, 6) AS dup_word_frac,
       round(CAST(w.top_word_n AS DOUBLE) / b.n_tokens, 6) AS top_word_frac,
       round(coalesce(tb.top_bigram_n, 0) * 2.0 / b.n_tokens, 6) AS top_bigram_frac,
       (b.dup_word_frac <= 0.7
        AND CAST(w.top_word_n AS DOUBLE) / b.n_tokens <= 0.3
        AND coalesce(tb.top_bigram_n, 0) * 2.0 / b.n_tokens <= 0.18) AS keep
FROM base b
JOIN topw w USING (doc_id)
LEFT JOIN topb tb USING (doc_id)
"""

    o["corpus_stratified_sample"] = """
WITH t AS (
  SELECT doc_id, lang, len(string_split(text,' '))::BIGINT AS n_tokens,
         md5(doc_id::VARCHAR) AS shuffle_key
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY shuffle_key, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM t
)
SELECT doc_id::BIGINT AS doc_id, lang, n_tokens, cum_tokens::BIGINT AS cum_tokens
FROM c WHERE cum_tokens - n_tokens < 3000
"""

    o["r5_change_rate"] = """
WITH v AS (SELECT 'u' || (user_id % 500) AS url, epoch_us(ts) AS ts_us,
                  (event_id % 3 = 0) AS changed
           FROM events),
a AS (SELECT url, count(*) AS n,
             sum(CASE WHEN changed THEN 1 ELSE 0 END) AS x,
             max(ts_us) - min(ts_us) AS span_us
      FROM v GROUP BY url
      HAVING count(*) >= 2 AND max(ts_us) - min(ts_us) > 0),
m AS (SELECT url, n, x,
             (CAST(span_us AS DOUBLE) / (n - 1)) / 1000000.0 AS ibar_s,
             ((n - x) + 0.5) / (n + 0.5) AS ratio
      FROM a),
l AS (SELECT url, n, x, ibar_s,
             -ln(ratio) / (ibar_s / 86400.0) AS lam
      FROM m)
SELECT url, n::BIGINT AS n_visits, x::BIGINT AS n_changed,
       round(ibar_s, 6) AS mean_interval_s,
       round(lam, 6) AS lambda_per_day,
       CASE WHEN x > 0 THEN round(1.0 / lam, 6) END AS horizon_days
FROM l
"""

    o["p7_host_backoff"] = """
WITH r AS (
  SELECT user_id, floor(epoch(ts) / 60)::BIGINT AS rnd,
         sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS n_ok
  FROM events GROUP BY 1, 2
),
a AS (
  SELECT user_id, max(rnd) AS last_r, min(rnd) AS first_r,
         max(CASE WHEN n_ok > 0 THEN rnd END) AS last_ok
  FROM r GROUP BY 1
),
s AS (
  SELECT user_id, last_r - coalesce(last_ok, first_r - 1) AS streak FROM a
)
SELECT user_id::BIGINT AS user_id, streak::BIGINT AS fail_streak,
       CASE WHEN streak <= 0 THEN 0.0
            ELSE round(least(90.0, 30 * pow(2.0, streak - 1)), 3) END AS backoff_s,
       streak > 20 AS retired
FROM s
"""

    o["f6b_robots_parse"] = (
        """
WITH bodies AS (
  SELECT lower(n_name) || '.com' AS host, """
        + _ROBOTS_BODY_SQL
        + """ AS body FROM nation
),
l0 AS (SELECT host, string_split(body, chr(10)) AS ls FROM bodies),
z AS (SELECT host, unnest(list_zip(ls, range(1, len(ls)+1))) AS zz FROM l0),
lines AS (
  SELECT host, CAST(zz[2] AS BIGINT) AS line_no,
         trim(regexp_replace(zz[1], '#.*$', '')) AS line
  FROM z WHERE trim(regexp_replace(zz[1], '#.*$', '')) <> ''
),
parsed AS (
  SELECT host, line_no,
         lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) AS directive,
         trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(.*)$', 1)) AS value
  FROM lines
  -- crawl-delay must survive to the grouping stage: a crawl-delay line
  -- between two user-agent lines TERMINATES the first UA run (RFC 9309),
  -- so dropping it here would merge groups the impl keeps separate
  WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
g AS (
  SELECT *, CASE WHEN directive = 'user-agent'
                  AND coalesce(lag(directive) OVER (PARTITION BY host ORDER BY line_no), '')
                      <> 'user-agent'
             THEN 1 ELSE 0 END AS starts
  FROM parsed
),
g2 AS (
  SELECT *, sum(starts) OVER (PARTITION BY host ORDER BY line_no
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS group_id
  FROM g
),
g3 AS (SELECT * FROM g2 WHERE group_id > 0),
ua AS (
  SELECT host, group_id,
         max(CASE WHEN lower(value) = 'spark-crawler' THEN 3
                  WHEN value <> '*' AND value <> ''
                       AND starts_with('spark-crawler', lower(value)) THEN 2
                  WHEN value = '*' THEN 1 ELSE 0 END) AS score
  FROM g3 WHERE directive = 'user-agent' GROUP BY 1, 2
),
best AS (SELECT host, max(score) AS best_score FROM ua GROUP BY 1),
winners AS (
  SELECT ua.host, ua.group_id FROM ua JOIN best USING (host)
  WHERE ua.score = best.best_score AND best.best_score > 0
),
rules AS (
  SELECT g3.host, directive, value, line_no
  FROM g3 JOIN winners USING (host, group_id)
  WHERE directive IN ('allow', 'disallow')
    AND NOT (directive = 'disallow' AND value = '')
)
SELECT host, directive AS rule,
       CASE WHEN value = '' THEN '/' ELSE value END AS path_prefix,
       (row_number() OVER (PARTITION BY host ORDER BY line_no) - 1)::BIGINT AS rule_order
FROM rules
"""
    )

    o["r1_fetch_classify"] = """
WITH prev AS (
  SELECT 'k' || p_partkey AS url, md5(p_name) AS digest FROM part
),
curr AS (
  SELECT 'k' || p_partkey AS url,
         md5(p_name || CASE WHEN p_size > 40 THEN 'x' ELSE '' END) AS digest
  FROM part WHERE p_partkey % 10 <> 0
  UNION ALL
  SELECT 'n' || s_suppkey AS url, md5(s_name) AS digest FROM supplier
)
SELECT coalesce(p.url, c.url) AS url,
       CASE WHEN p.url IS NULL THEN 'new'
            WHEN c.url IS NULL THEN 'gone'
            WHEN p.digest = c.digest THEN 'unchanged'
            ELSE 'changed' END AS status,
       coalesce(c.digest, p.digest) AS digest
FROM prev p FULL OUTER JOIN curr c ON p.url = c.url
"""

    o["r2_revisit_intervals"] = """
WITH prev AS (
  SELECT 'k' || p_partkey AS url, md5(p_name) AS digest FROM part
),
curr AS (
  SELECT 'k' || p_partkey AS url,
         md5(p_name || CASE WHEN p_size > 40 THEN 'x' ELSE '' END) AS digest
  FROM part WHERE p_partkey % 10 <> 0
  UNION ALL
  SELECT 'n' || s_suppkey AS url, md5(s_name) AS digest FROM supplier
),
cls AS (
  SELECT coalesce(p.url, c.url) AS url,
         CASE WHEN p.url IS NULL THEN 'new'
              WHEN c.url IS NULL THEN 'gone'
              WHEN p.digest = c.digest THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM prev p FULL OUTER JOIN curr c ON p.url = c.url
),
hosted AS (
  SELECT 'h' || (substr(url, 2)::BIGINT % 20) AS host, status FROM cls
),
agg AS (
  SELECT host,
         sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS n_changed,
         sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS n_unchanged
  FROM hosted GROUP BY host
)
SELECT host, n_changed::BIGINT AS n_changed, n_unchanged::BIGINT AS n_unchanged,
       CASE WHEN n_changed + n_unchanged = 0 THEN 604800
            ELSE CAST(round(3600 + (604800 - 3600) *
                 (1.0 - CAST(n_changed AS DOUBLE) / (n_changed + n_unchanged)), 0) AS BIGINT)
       END AS revisit_interval_s
FROM agg
"""

    o["p8_inlink_priority"] = """
WITH indeg AS (
  SELECT 'k' || l_partkey AS url, count(DISTINCT 'o' || l_orderkey) AS ind
  FROM lineitem GROUP BY 1
)
SELECT 'k' || p_partkey AS url,
       least(9, (p_size % 5) + CAST(floor(log2(1 + coalesce(i.ind, 0))) AS BIGINT))::BIGINT AS priority,
       coalesce(i.ind, 0)::BIGINT AS indegree
FROM part p LEFT JOIN indeg i ON 'k' || p_partkey = i.url
"""

    o["pipeline_training_prep"] = """
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
    FROM documents) t
  WHERE rn = 1),
base AS (
  SELECT doc_id, text, length(text) AS n_chars_m,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is'))) AS stop_hits
  FROM dedup),
r AS (
  SELECT doc_id, text, n_tokens,
         round(CAST(stop_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio,
         round(CAST(n_chars_m AS DOUBLE) / greatest(n_tokens, 1), 6) AS mean_token_len
  FROM base),
toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM dedup),
m(lang, tok, pri) AS (VALUES
  ('en','the',0),('en','and',0),('en','of',0),('en','to',0),('en','is',0),('en','in',0),('en','that',0),('en','it',0),
  ('es','el',1),('es','la',1),('es','de',1),('es','que',1),('es','y',1),('es','los',1),('es','en',1),('es','un',1),
  ('fr','le',2),('fr','la',2),('fr','de',2),('fr','et',2),('fr','les',2),('fr','des',2),('fr','un',2),('fr','une',2),
  ('de','der',3),('de','die',3),('de','und',3),('de','das',3),('de','ist',3),('de','ein',3),('de','nicht',3),('de','mit',3)),
votes AS (SELECT t.doc_id, m.lang, m.pri, count(*) AS hits
          FROM toks t JOIN m ON t.tok = m.tok GROUP BY 1, 2, 3),
best AS (SELECT doc_id, lang,
                row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, pri ASC) AS rn
         FROM votes WHERE hits > 0),
langd AS (
  SELECT r.*, CASE WHEN regexp_matches(r.text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                   ELSE coalesce(b.lang, 'und') END AS lang_pred
  FROM r LEFT JOIN best b ON r.doc_id = b.doc_id AND b.rn = 1)
SELECT doc_id::BIGINT AS doc_id, n_tokens::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]+'))::BIGINT AS bpe_tokens,
       least(n_tokens / 50.0, 1.0) * 0.4
         + least(stopword_ratio * 5.0, 1.0) * 0.3
         + (CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score,
       lang_pred
FROM langd
WHERE lang_pred = 'en' AND n_tokens >= 10
"""

    o["text_fingerprint_bow"] = """
SELECT doc_id::BIGINT AS doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fp
FROM documents
"""

    o["mm_media_features"] = """
SELECT doc_id::BIGINT AS doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       sha256(text) AS payload_sha256,
       octet_length(encode(text))::BIGINT AS payload_bytes
FROM documents
"""

    o["mm_mime_sniff"] = """
SELECT doc_id::BIGINT AS doc_id,
       CASE CAST(doc_id % 12 AS INT)
         WHEN 0 THEN 'image/png'    WHEN 1 THEN 'image/jpeg'
         WHEN 2 THEN 'image/gif'    WHEN 3 THEN 'image/webp'
         WHEN 4 THEN 'audio/wav'    WHEN 5 THEN 'video/mp4'
         WHEN 6 THEN 'application/pdf' WHEN 7 THEN 'application/zip'
         WHEN 8 THEN 'application/gzip' WHEN 9 THEN 'audio/mpeg'
         WHEN 10 THEN 'text/html'   ELSE 'application/octet-stream'
       END AS mime,
       (CASE CAST(doc_id % 12 AS INT)
         WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 6 WHEN 3 THEN 12
         WHEN 4 THEN 12 WHEN 5 THEN 12 WHEN 6 THEN 8 WHEN 7 THEN 4
         WHEN 8 THEN 3 WHEN 9 THEN 4 WHEN 10 THEN 15 ELSE 0
       END + octet_length(encode(text)))::BIGINT AS payload_bytes
FROM documents
"""

    o["mm_frame_sampling"] = """
SELECT doc_id::BIGINT AS doc_id, 'm://' || doc_id AS media_ref,
       unnest(generate_series(0, (doc_id % 50) * 500 + 1000 - 1, 700))::BIGINT AS frame_ts
FROM documents WHERE doc_id % 3 = 2
"""

    # Transitive closure of the verified near-dup pair graph (recursive
    # CTE; component = min reachable id — same fixed point the
    # large-star/small-star Spark operator converges to), then singleton
    # fill-in, sizes, and the canonical flag.
    o["dedup_cluster_cc"] = (
        "WITH RECURSIVE g AS (" + _GRAMS_SQL + "), "
        """
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6) AS jaccard
      FROM g a JOIN g b ON a.doc_id < b.doc_id),
ed AS (SELECT id_a AS u, id_b AS v FROM p WHERE jaccard >= 0.5
       UNION SELECT id_b, id_a FROM p WHERE jaccard >= 0.5),
vs AS (SELECT DISTINCT u AS n FROM ed),
reach(node, label) AS (
  SELECT n, n FROM vs
  UNION
  SELECT ed.v, r.label FROM reach r JOIN ed ON ed.u = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
lab AS (SELECT d.doc_id::BIGINT AS doc_id,
               coalesce(c.component, d.doc_id)::BIGINT AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       (l.doc_id = l.cluster_id)::BIGINT AS is_canonical
FROM lab l JOIN sz s USING (cluster_id)
"""
    )

    # Same CC walk as dedup_cluster_cc, then the keep-longest decision:
    # row_number over (score desc, doc_id asc) within each cluster
    o["dedup_keep_best"] = (
        "WITH RECURSIVE g AS (" + _GRAMS_SQL + "), "
        """
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6) AS jaccard
      FROM g a JOIN g b ON a.doc_id < b.doc_id),
ed AS (SELECT id_a AS u, id_b AS v FROM p WHERE jaccard >= 0.5
       UNION SELECT id_b, id_a FROM p WHERE jaccard >= 0.5),
vs AS (SELECT DISTINCT u AS n FROM ed),
reach(node, label) AS (
  SELECT n, n FROM vs
  UNION
  SELECT ed.v, r.label FROM reach r JOIN ed ON ed.u = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
lab AS (SELECT d.doc_id::BIGINT AS doc_id,
               coalesce(c.component, d.doc_id)::BIGINT AS cluster_id,
               length(d.text)::BIGINT AS score
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM lab GROUP BY cluster_id),
rk AS (SELECT l.*, s.cluster_size,
              row_number() OVER (PARTITION BY l.cluster_id
                                 ORDER BY l.score DESC, l.doc_id ASC) AS rn
       FROM lab l JOIN sz s USING (cluster_id))
SELECT doc_id, cluster_id, cluster_size, score, (rn = 1)::BIGINT AS kept
FROM rk
"""
    )

    # Same CC walk as dedup_cluster_cc, then the md5-band split arithmetic
    # of operators/sampling.py::leakage_safe_split replayed verbatim.
    o["corpus_leakage_split"] = (
        "WITH RECURSIVE g AS (" + _GRAMS_SQL + "), "
        """
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6) AS jaccard
      FROM g a JOIN g b ON a.doc_id < b.doc_id),
ed AS (SELECT id_a AS u, id_b AS v FROM p WHERE jaccard >= 0.5
       UNION SELECT id_b, id_a FROM p WHERE jaccard >= 0.5),
vs AS (SELECT DISTINCT u AS n FROM ed),
reach(node, label) AS (
  SELECT n, n FROM vs
  UNION
  SELECT ed.v, r.label FROM reach r JOIN ed ON ed.u = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
lab AS (SELECT d.doc_id::BIGINT AS doc_id,
               coalesce(c.component, d.doc_id)::BIGINT AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
SELECT doc_id, cluster_id,
       CASE WHEN uu <= 0.8 THEN 'train'
            WHEN uu <= 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             ((('0x' || substr(md5(cluster_id::VARCHAR), 1, 12))::BIGINT + 1.0)
              / 281474976710657.0) AS uu
      FROM lab) t
"""
    )

    o["p9_host_linkrank"] = _linkrank_oracle_sql(iters=5, damping=0.85)
    o["p10_host_hits"] = _hits_oracle_sql(iters=5)

    # Same regexp chain as operators/scrub.py:html_strip_col — the patterns
    # are in the Java-regex ∩ RE2 subset, so byte-identical outputs.
    o["text_html_strip"] = f"""
WITH h AS (SELECT doc_id, '{_HTML_HEAD}' || doc_id || '{_HTML_MID}' || text || '{_HTML_TAIL}' AS html
           FROM documents)
SELECT doc_id::BIGINT AS doc_id,
       trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<[^>]*>', ' ', 'g'),
            '&[a-zA-Z]{{1,10}};|&#[0-9]{{1,7}};', ' ', 'g'),
            '\\s+', ' ', 'g')) AS clean_text
FROM h
"""

    _email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _phone_re = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"
    _ipv4_re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    o["text_pii_scrub"] = f"""
WITH p AS (SELECT doc_id,
        text || ' Contact user' || doc_id || '@mail.example.com or call +1 (555) 01'
             || lpad((doc_id % 100)::VARCHAR, 2, '0') || '-'
             || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0')
             || ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) || '.7 now' AS t
      FROM documents),
s1 AS (SELECT doc_id, len(regexp_extract_all(t, '{_email_re}'))::BIGINT AS n_emails,
              regexp_replace(t, '{_email_re}', '<EMAIL>', 'g') AS t1 FROM p),
s2 AS (SELECT doc_id, n_emails, len(regexp_extract_all(t1, '{_ipv4_re}'))::BIGINT AS n_ips,
              regexp_replace(t1, '{_ipv4_re}', '<IP>', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, n_emails, n_ips,
              len(regexp_extract_all(t2, '{_phone_re}'))::BIGINT AS n_phones,
              regexp_replace(t2, '{_phone_re}', '<PHONE>', 'g') AS t3 FROM s2)
SELECT doc_id::BIGINT AS doc_id, t3 AS text_scrubbed, n_emails, n_ips, n_phones FROM s3
"""

    o["f6c_sitemap_parse"] = """
WITH b AS (SELECT 's' || (doc_id % 20) AS host,
        '<?xml version="1.0"?><urlset><url><loc>https://s' || (doc_id % 20)
        || '.example.com/p' || doc_id || '?a=1&amp;b=2</loc><lastmod>2026-0'
        || ((doc_id % 9) + 1) || '-11</lastmod><priority>0.' || (doc_id % 10)
        || '</priority></url><url><loc> https://s' || (doc_id % 20)
        || '.example.com/alt/' || doc_id
        || ' </loc><changefreq>daily</changefreq></url></urlset>' AS body
      FROM documents),
blk AS (SELECT host, unnest(regexp_extract_all(body, '(?s)<url>.*?</url>')) AS blk FROM b)
SELECT host,
       replace(replace(replace(replace(replace(
           regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS loc,
       nullif(regexp_extract(blk, '(?s)<lastmod>\\s*(.*?)\\s*</lastmod>', 1), '') AS lastmod,
       nullif(regexp_extract(blk, '(?s)<changefreq>\\s*(.*?)\\s*</changefreq>', 1), '') AS changefreq,
       nullif(regexp_extract(blk, '(?s)<priority>\\s*(.*?)\\s*</priority>', 1), '')::DOUBLE AS priority
FROM blk
WHERE regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1) <> ''
"""

    o["corpus_tfidf_topk"] = """
WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
             tf.tf * (ln((n.n_docs + 1) / (dfx.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN dfx USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk FROM s)
SELECT doc_id::BIGINT AS doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df,
       round(tfidf, 6) AS tfidf, rnk::BIGINT AS "rank"
FROM r WHERE rnk <= 5
"""

    o["decontam_ngram_overlap"] = """
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
sh AS (SELECT doc_id, list_distinct(
         CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
              ELSE [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
         END) AS grams FROM w),
bg AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 37 = 0),
dg AS (SELECT doc_id, unnest(grams) AS g FROM sh),
agg AS (SELECT dg.doc_id, count(*) AS n_shingles, count(bg.g) AS n_hits
        FROM dg LEFT JOIN bg ON bg.g = dg.g GROUP BY dg.doc_id)
SELECT doc_id::BIGINT AS doc_id, n_shingles::BIGINT AS n_shingles,
       n_hits::BIGINT AS n_hits, (n_hits >= 3)::BIGINT AS contaminated
FROM agg
"""

    o["hh_heavy_hitters"] = """
WITH keyed AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'hot' || (event_id % 2)
              ELSE 'cold' || (event_id % 997) END AS key
  FROM events),
n AS (SELECT count(*) AS n FROM keyed)
SELECT key, count(*)::BIGINT AS cnt
FROM keyed CROSS JOIN n
GROUP BY key, n.n
HAVING count(*) * 10 >= n.n
"""

    o["corpus_importance_weights"] = """
WITH tok AS (
  SELECT doc_id, (lang = 'en') AS is_target,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
raw AS (SELECT term, count(*) AS rc,
               sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc
        FROM tok2 GROUP BY term),
tot AS (SELECT sum(rc)::DOUBLE AS r_tot, sum(tc)::DOUBLE AS t_tot,
               count(*)::DOUBLE AS vocab FROM raw),
w AS (SELECT term, ln((tc + 1.0) / (t_tot + vocab)) - ln((rc + 1.0) / (r_tot + vocab)) AS lr
      FROM raw CROSS JOIN tot)
SELECT t.doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_tokens,
       round(sum(w.lr) / count(*), 6) + 0.0 AS avg_logratio
FROM tok2 t JOIN w ON w.term = t.term
GROUP BY t.doc_id
"""

    # Composition of the corpus_importance_weights twin with the log-domain
    # Efraimidis-Spirakis race (key = ln(-ln u) - avg_logratio orders
    # exactly like -ln(u)/exp(avg_logratio)).
    o["pipeline_dsir_select"] = """
WITH tok AS (
  SELECT doc_id, (lang = 'en') AS is_target,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
raw AS (SELECT term, count(*) AS rc,
               sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc
        FROM tok2 GROUP BY term),
tot AS (SELECT sum(rc)::DOUBLE AS r_tot, sum(tc)::DOUBLE AS t_tot,
               count(*)::DOUBLE AS vocab FROM raw),
w AS (SELECT term, ln((tc + 1.0) / (t_tot + vocab)) - ln((rc + 1.0) / (r_tot + vocab)) AS lr
      FROM raw CROSS JOIN tot),
iw AS (SELECT t.doc_id, count(*) AS n_tokens,
              round(sum(w.lr) / count(*), 6) + 0.0 AS avg_logratio
       FROM tok2 t JOIN w ON w.term = t.term GROUP BY t.doc_id),
base AS (SELECT d.source, d.doc_id, iw.n_tokens, iw.avg_logratio
         FROM documents d JOIN iw ON iw.doc_id = d.doc_id),
kx AS (SELECT source, doc_id, n_tokens, avg_logratio,
              ln(-ln((CAST(('0x' || substr(md5(source || ':' || doc_id), 1, 12)) AS BIGINT) + 1.0)
                     / 281474976710657.0)) - avg_logratio AS key
       FROM base),
r AS (SELECT source, doc_id, n_tokens, avg_logratio,
             row_number() OVER (PARTITION BY source
                                ORDER BY key ASC, doc_id ASC) AS sel_rank
      FROM kx)
SELECT source, doc_id::BIGINT AS doc_id, n_tokens::BIGINT AS n_tokens,
       avg_logratio, sel_rank::BIGINT AS sel_rank
FROM r WHERE sel_rank <= 10
"""

    o["trap_patterns"] = """
WITH fr AS (
  SELECT 'h' || (doc_id % 7) AS host,
         CASE WHEN doc_id % 5 < 3 THEN '/cal/2024/' || doc_id || '/view'
              ELSE '/page/' || source || '/' || (doc_id % 13) END AS path
  FROM documents),
pat AS (SELECT host,
               regexp_replace(regexp_replace(path, '[0-9a-f]{8,}', 'H', 'g'),
                              '[0-9]+', 'N', 'g') AS pattern
        FROM fr),
pp AS (SELECT host, pattern, count(*) AS n_urls FROM pat GROUP BY 1, 2),
ph AS (SELECT host, sum(n_urls) AS host_urls FROM pp GROUP BY 1)
SELECT pp.host, pp.pattern, n_urls::BIGINT AS n_urls,
       host_urls::BIGINT AS host_urls,
       round(n_urls / host_urls::DOUBLE, 6) AS share,
       (n_urls >= 20 AND round(n_urls / host_urls::DOUBLE, 6) >= 0.3)::BIGINT AS is_trap
FROM pp JOIN ph ON ph.host = pp.host
"""

    o["dedup_substring_windows"] = """
WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
w AS (SELECT doc_id,
        CASE WHEN len(ws) >= 8
             THEN [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
             ELSE []::VARCHAR[] END AS wins
      FROM t),
e AS (SELECT doc_id, unnest(wins) AS win FROM w),
pdw AS (SELECT doc_id, win, count(*) AS occ FROM e GROUP BY 1, 2),
tot AS (SELECT win, sum(occ) AS tot FROM pdw GROUP BY 1),
sc AS (SELECT doc_id, sum(occ) AS n_windows,
              sum(CASE WHEN tot >= 2 THEN occ ELSE 0 END) AS n_dup
      FROM pdw JOIN tot USING (win) GROUP BY 1)
SELECT t.doc_id::BIGINT AS doc_id,
       coalesce(n_windows, 0)::BIGINT AS n_windows,
       coalesce(n_dup, 0)::BIGINT AS n_dup_windows,
       round(CASE WHEN coalesce(n_windows, 0) > 0
                  THEN n_dup / n_windows::DOUBLE ELSE 0.0 END, 6) AS dup_frac
FROM t LEFT JOIN sc USING (doc_id)
"""

    o["r3_snapshot_diff"] = """
WITH prev AS (SELECT 'u' || doc_id AS url, md5(text) AS digest
              FROM documents WHERE doc_id % 11 <> 3),
curr AS (SELECT 'u' || doc_id AS url,
                CASE WHEN doc_id % 7 = 0 THEN md5(text || '!') ELSE md5(text) END AS digest
         FROM documents WHERE doc_id % 13 <> 5),
j AS (SELECT coalesce(prev.url, curr.url) AS key,
             prev.digest AS pd, curr.digest AS cd
      FROM prev FULL OUTER JOIN curr ON prev.url = curr.url)
SELECT key,
       CASE WHEN pd IS NULL THEN 'added'
            WHEN cd IS NULL THEN 'removed'
            WHEN pd = cd THEN 'unchanged'
            ELSE 'changed' END AS status,
       coalesce(pd, '-') AS prev_digest,
       coalesce(cd, '-') AS curr_digest
FROM j
"""

    o["corpus_inverted_index"] = """
WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
             FROM documents),
td AS (SELECT term, doc_id, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf,
       array_to_string(list_sort(list(doc_id::VARCHAR)), ',') AS postings_csv
FROM td GROUP BY term HAVING count(*) >= 2
"""

    o["f6d_crawl_delay"] = (
        """
WITH bodies AS (
  SELECT lower(n_name) || '.com' AS host, """
        + _ROBOTS_DELAY_BODY_SQL
        + """ AS body FROM nation
),
l0 AS (SELECT host, string_split(body, chr(10)) AS ls FROM bodies),
z AS (SELECT host, unnest(list_zip(ls, range(1, len(ls)+1))) AS zz FROM l0),
lines AS (
  SELECT host, CAST(zz[2] AS BIGINT) AS line_no,
         trim(regexp_replace(zz[1], '#.*$', '')) AS line
  FROM z WHERE trim(regexp_replace(zz[1], '#.*$', '')) <> ''
),
parsed AS (
  SELECT host, line_no,
         lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) AS directive,
         trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(.*)$', 1)) AS value
  FROM lines
  WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
g AS (
  SELECT *, CASE WHEN directive = 'user-agent'
                  AND coalesce(lag(directive) OVER (PARTITION BY host ORDER BY line_no), '')
                      <> 'user-agent'
             THEN 1 ELSE 0 END AS starts
  FROM parsed
),
g2 AS (
  SELECT *, sum(starts) OVER (PARTITION BY host ORDER BY line_no
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS group_id
  FROM g
),
g3 AS (SELECT * FROM g2 WHERE group_id > 0),
ua AS (
  SELECT host, group_id,
         max(CASE WHEN lower(value) = 'spark-crawler' THEN 3
                  WHEN value <> '*' AND value <> ''
                       AND starts_with('spark-crawler', lower(value)) THEN 2
                  WHEN value = '*' THEN 1 ELSE 0 END) AS score
  FROM g3 WHERE directive = 'user-agent' GROUP BY 1, 2
),
best AS (SELECT host, max(score) AS best_score FROM ua GROUP BY 1),
winners AS (SELECT ua.host, ua.group_id FROM ua JOIN best ON best.host = ua.host
            WHERE ua.score = best.best_score AND best.best_score > 0),
d AS (SELECT g3.host, g3.line_no, g3.value
      FROM g3 JOIN winners ON winners.host = g3.host AND winners.group_id = g3.group_id
      WHERE g3.directive = 'crawl-delay'
        AND regexp_full_match(g3.value, '[0-9]+(\\.[0-9]+)?'))
SELECT host, arg_min(value, line_no)::DOUBLE AS crawl_delay_s FROM d GROUP BY host
"""
    )

    o["r4_redirect_resolve"] = """
WITH RECURSIVE redirects AS (
  SELECT 'r' || doc_id AS src,
         CASE WHEN doc_id % 97 = 0 THEN 'r' || (doc_id - (doc_id % 10))
              WHEN doc_id % 10 < 8 THEN 'r' || (doc_id + 1)
              ELSE 't' || doc_id END AS dst
  FROM documents),
walk(src, cur, hops) AS (
  SELECT src, dst, 1::BIGINT FROM redirects
  UNION ALL
  SELECT w.src, r.dst, w.hops + 1 FROM walk w JOIN redirects r ON r.src = w.cur
  WHERE w.hops < 32),
last AS (SELECT src, arg_max(cur, hops) AS cur, max(hops) AS hops
         FROM walk GROUP BY src)
SELECT l.src,
       CASE WHEN s.src IS NOT NULL THEN '-' ELSE l.cur END AS final,
       (CASE WHEN s.src IS NOT NULL THEN -1 ELSE l.hops END)::BIGINT AS hops,
       (s.src IS NOT NULL)::BIGINT AS is_cycle
FROM last l LEFT JOIN (SELECT DISTINCT src FROM redirects) s ON s.src = l.cur
"""

    o["corpus_shard_plan"] = """
WITH d AS (SELECT doc_id,
                  len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
           FROM documents),
a AS (SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16) AS shard_id,
             n_tokens FROM d),
p AS (SELECT shard_id, count(*) AS n_docs, sum(n_tokens) AS total_weight
      FROM a GROUP BY 1),
t AS (SELECT sum(total_weight)::DOUBLE AS corpus_weight FROM p)
SELECT shard_id::BIGINT AS shard_id, n_docs::BIGINT AS n_docs,
       total_weight::BIGINT AS total_weight,
       round(total_weight / corpus_weight, 6) AS weight_share
FROM p CROSS JOIN t
"""

    o["agg_exact_quantiles"] = """
WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
r AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk
      FROM v),
qs(q) AS (VALUES (0.0::DOUBLE), (0.25::DOUBLE), (0.5::DOUBLE), (0.75::DOUBLE),
                 (0.95::DOUBLE), (0.99::DOUBLE), (1.0::DOUBLE)),
t AS (SELECT n.event_type, qs.q,
             greatest(1, ceil(qs.q * n.n)::BIGINT) AS rank, n.n
      FROM n CROSS JOIN qs)
SELECT t.event_type, t.q, r.value AS value, t.n::BIGINT AS n
FROM t JOIN r ON r.event_type = t.event_type AND r.rk = t.rank
"""
    # the keyed window variant must equal the two-phase answer exactly
    o["agg_quantiles_keyed"] = o["agg_exact_quantiles"]

    # sketch quantile == sig_trunc(percentile_disc) of the raw rows
    # (monotone truncation commutes with order statistics) — the oracle
    # computes the exact disc-quantile over TRUNCATED values with the same
    # rank convention, independently re-expressing the 3-digit decimal grid
    o["agg_hist_quantile_sketch"] = """
WITH raw AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v0
             FROM events WHERE value IS NOT NULL),
v AS (SELECT event_type,
             CASE WHEN length(CAST(v0 AS VARCHAR)) <= 3 THEN v0
                  ELSE v0 - (v0 % CAST(power(10, length(CAST(v0 AS VARCHAR)) - 3) AS BIGINT))
             END AS value
      FROM raw WHERE v0 >= 0),
n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
r AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk
      FROM v),
qs(q) AS (VALUES (0.5::DOUBLE), (0.95::DOUBLE), (0.99::DOUBLE)),
t AS (SELECT n.event_type, qs.q,
             greatest(1, ceil(qs.q * n.n)::BIGINT) AS rank, n.n
      FROM n CROSS JOIN qs)
SELECT t.event_type, t.q, r.value AS value, t.n::BIGINT AS n
FROM t JOIN r ON r.event_type = t.event_type AND r.rk = t.rank
"""

    o["c2b_registrable_domain"] = """
WITH h AS (
  SELECT CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN 'a.b.site' || doc_id || '.co.uk'
    WHEN 1 THEN 'user' || doc_id || '.github.io'
    WHEN 2 THEN 'www.Example' || (doc_id % 9) || '.com'
    WHEN 3 THEN 'deep.x.y.host' || doc_id || '.org.au'
    WHEN 4 THEN 'node' || doc_id || '.weirdtld'
    ELSE 'localhost' END AS host
  FROM documents),
l AS (SELECT host, string_split(lower(host), '.') AS ls, len(string_split(lower(host), '.')) AS n FROM h)
SELECT host,
  CASE WHEN n > 3 AND array_to_string(ls[n-2:n], '.') IN
         ('com','org','net','io','dev','edu','gov','info','biz','co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au','co.jp','or.jp','ne.jp','com.br','net.br','github.io','blogspot.com','herokuapp.com')
       THEN array_to_string(ls[n-3:n], '.')
       WHEN n > 2 AND array_to_string(ls[n-1:n], '.') IN
         ('com','org','net','io','dev','edu','gov','info','biz','co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au','co.jp','or.jp','ne.jp','com.br','net.br','github.io','blogspot.com','herokuapp.com')
       THEN array_to_string(ls[n-2:n], '.')
       WHEN n > 1 AND ls[n] IN
         ('com','org','net','io','dev','edu','gov','info','biz','co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au','co.jp','or.jp','ne.jp','com.br','net.br','github.io','blogspot.com','herokuapp.com')
       THEN array_to_string(ls[n-1:n], '.')
       WHEN n >= 2 THEN array_to_string(ls[n-1:n], '.')
       ELSE lower(host) END AS domain
FROM l
"""

    o["pipeline_corpus_v2"] = """
WITH cleaned AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(nfc_normalize(text),
                          '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
           '\\r\\n?', chr(10), 'g') AS text
  FROM documents),
surv AS (
  SELECT arg_min(doc_id, doc_id) AS doc_id
  FROM (SELECT doc_id, md5(text) AS digest FROM cleaned) GROUP BY digest),
s2 AS (SELECT c.doc_id, c.text FROM cleaned c JOIN surv USING (doc_id)),
t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM s2),
w AS (SELECT doc_id,
        CASE WHEN len(ws) >= 8
             THEN [array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]
             ELSE []::VARCHAR[] END AS wins,
        len(ws) AS n_tokens
      FROM t),
e AS (SELECT doc_id, unnest(wins) AS win FROM w),
pdw AS (SELECT doc_id, win, count(*) AS occ FROM e GROUP BY 1, 2),
tot AS (SELECT win, sum(occ) AS tot FROM pdw GROUP BY 1),
sc AS (SELECT doc_id, sum(occ) AS n_windows,
              sum(CASE WHEN tot >= 2 THEN occ ELSE 0 END) AS n_dup
      FROM pdw JOIN tot USING (win) GROUP BY 1),
scored AS (
  SELECT w.doc_id, w.n_tokens,
         round(CASE WHEN coalesce(sc.n_windows, 0) > 0
                    THEN sc.n_dup / sc.n_windows::DOUBLE ELSE 0.0 END, 6) AS dup_frac
  FROM w LEFT JOIN sc USING (doc_id))
SELECT doc_id::BIGINT AS doc_id, n_tokens::BIGINT AS n_tokens, dup_frac,
       (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16)::BIGINT AS shard_id
FROM scored WHERE dup_frac < 0.9 AND n_tokens >= 10
"""

    o["a6_render_spans"] = """
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
r AS (SELECT doc_id,
             array_to_string(list_transform(list_zip(ws, range(1, len(ws) + 1)),
               z -> CASE WHEN length(z[1]) % 3 = 2
                         THEN '[MEDIA:m://' || (z[2] - 1) || ']'
                         ELSE z[1] END), ' ') AS rendered
      FROM t)
SELECT doc_id::BIGINT AS doc_id, rendered,
       length(rendered)::BIGINT AS n_chars
FROM r
"""

    o["a7_anchor_context"] = """
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
z AS (SELECT doc_id, unnest(list_zip(ws, range(1, len(ws) + 1))) AS zz FROM t),
sp AS (SELECT doc_id, zz[1] AS w, zz[2] AS pos FROM z),
cx AS (SELECT doc_id, w, pos,
         coalesce(last_value(CASE WHEN length(w) % 3 = 0 THEN w END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '') AS ctx
       FROM sp)
SELECT w AS target, count(*)::BIGINT AS n_inlinks,
       count(DISTINCT doc_id)::BIGINT AS n_src_docs,
       sum(length(ctx))::BIGINT AS ctx_total_len,
       min(ctx) AS sample_ctx
FROM cx WHERE length(w) % 3 = 1 GROUP BY w
"""

    o["p12_budget_apportion"] = """
WITH h AS (SELECT o_custkey % 211 AS r, 'h' || (o_custkey % 211) AS host,
                  count(*) AS cnt
           FROM orders GROUP BY 1, 2),
sc AS (SELECT host, CASE WHEN r % 13 = 0 THEN 0.0 ELSE CAST(cnt AS DOUBLE) END AS score
       FROM h),
pool AS (SELECT host, score FROM sc WHERE score > 0),
t AS (SELECT sum(score) AS total FROM pool),
sh AS (SELECT host, score, (100000.0 * score) / total AS share FROM pool, t),
fl AS (SELECT host, score, CAST(floor(share) AS BIGINT) AS flr,
              share - floor(share) AS rem
       FROM sh),
fs AS (SELECT sum(flr) AS fsum FROM fl),
rk AS (SELECT host, score, flr, rem,
              row_number() OVER (ORDER BY rem DESC, host ASC) AS rnk
       FROM fl)
SELECT host, score,
       (flr + CASE WHEN rnk <= 100000 - (SELECT fsum FROM fs) THEN 1 ELSE 0 END)::BIGINT AS quota
FROM rk
UNION ALL
SELECT host, score, 0::BIGINT AS quota FROM sc WHERE score <= 0 OR score IS NULL
"""

    o["text_unicode_normalize"] = """
WITH u AS (
  SELECT doc_id,
         substr(text, 1, 20) || ' e' || chr(769) || chr(1) || 'ok'
           || chr(13) || chr(10) || 'end' AS dirty
  FROM documents),
c AS (
  SELECT doc_id, length(dirty) AS n_before,
         regexp_replace(
           regexp_replace(nfc_normalize(dirty),
                          '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
           '\\r\\n?', chr(10), 'g') AS cleaned
  FROM u)
SELECT doc_id::BIGINT AS doc_id, n_before::BIGINT AS n_before,
       cleaned, length(cleaned)::BIGINT AS n_after
FROM c
"""

    o["c1b_strip_tracking"] = """
WITH u AS (
  SELECT CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'https://h' || (doc_id % 7) || '.com/p' || doc_id || '?a=1&utm_source=s' || doc_id || '&b=2'
    WHEN 1 THEN 'https://h' || (doc_id % 7) || '.com/p' || doc_id || '?gclid=g' || doc_id
    WHEN 2 THEN 'https://h' || (doc_id % 7) || '.com/p' || doc_id || '?a=' || doc_id
    ELSE 'https://h' || (doc_id % 7) || '.com/p' || doc_id
  END AS url FROM documents),
s AS (
  SELECT url,
         regexp_extract(url, '^([^?]*)', 1) AS base,
         list_filter(string_split(regexp_extract(url, '^[^?]*\\?(.*)$', 1), '&'),
           x -> x <> ''
                AND NOT (regexp_extract(x, '^([^=]*)', 1)
                           IN ('gclid','fbclid','msclkid','mc_eid','igshid','ref_src')
                         OR starts_with(regexp_extract(x, '^([^=]*)', 1), 'utm_'))
         ) AS kept
  FROM u)
SELECT url,
       CASE WHEN strpos(url, '?') = 0 THEN url
            WHEN len(kept) > 0 THEN base || '?' || array_to_string(kept, '&')
            ELSE base END AS stripped
FROM s
"""

    o["corpus_group_sample"] = """
WITH fr AS (SELECT 'h' || (doc_id % 5) AS host, doc_id FROM documents),
r AS (SELECT host, doc_id,
             row_number() OVER (PARTITION BY host
                                ORDER BY md5(host || ':' || doc_id) ASC, doc_id ASC) AS sample_rank
      FROM fr)
SELECT host, doc_id::BIGINT AS doc_id, sample_rank::BIGINT AS sample_rank
FROM r WHERE sample_rank <= 30
"""

    # ------------------------------------------------------------------
    # Expected-parquet oracles (VERDICT r1 task 4): these queries' values
    # are not DuckDB-expressible (Spark murmur3/xxhash64, seeded sketches,
    # k-means state), so tools/gen_expected.py recomputes them with an
    # INDEPENDENT plain-Python/numpy implementation (its own Murmur3/XXH64
    # from the public specs, per-document loops instead of the Spark
    # dataflow) over the same sf0.01 inputs and pins the result as parquet.
    # The driver's correctness gate then compares real values, not row
    # counts. tests/test_expected_oracles.py re-derives them at sf0.001.
    exp = os.path.join(_REPO, "expected", "sf0.01")
    for name in (
        "c3_hash_keys",
        "text_fingerprint_rolling",
        "dedup_simhash",
        "dedup_minhash_lsh",
        "dedup_embedding_lsh",
        "sim_ivf_topk",
        "dedup_semantic",
        "agg_hll_distinct",
        "corpus_bpe_merges",
        "corpus_bpe_encode",
        "sim_random_projection",
        "agg_cms_freq",
        "agg_kmv_overlap",
        "dedup_minhash_incr",
        "mm_phash_neardup",
        "sim_kmeans_lloyd",
        "sim_kcenter_coreset",
        "sim_pca_project",
        "graph_hyperanf",
        "sim_pq_encode",
        "sim_pq_topk",
        "sim_ivf_recall",
        "dedup_lsh_eval",
        "sim_mmr_rerank",
        "text_compression_ratio",
    ):
        o[name] = f"SELECT * FROM read_parquet('{exp}/{name}.parquet')"

    o["p15_trustrank"] = _trustrank_oracle_sql(iters=5, damping=0.85)

    o["p18_label_propagation"] = _lpa_oracle_sql(iters=3)

    # Same blocking + prune + verify chain as operators/dedup_fuzzy.py:
    # edit_distance_pairs; ASCII-only input keeps Spark's char-level and
    # DuckDB's byte-level levenshtein identical.
    o["dedup_edit_distance"] = """
WITH c AS (SELECT doc_id AS canon_id, substr(text, 1, 200) AS ct FROM documents),
t AS (SELECT d.doc_id AS id,
             c.ct || ' rev ' || repeat('x', (d.doc_id % 4)::INT) AS t
      FROM documents d JOIN c ON c.canon_id = d.doc_id - d.doc_id % 4),
b AS (SELECT id, t, substr(t, 1, 16) AS blk FROM t)
SELECT a.id::BIGINT AS id_a, b2.id::BIGINT AS id_b,
       levenshtein(a.t, b2.t)::BIGINT AS dist
FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
WHERE abs(len(a.t) - len(b2.t)) <= 3 AND levenshtein(a.t, b2.t) <= 3
"""

    # Same synthesized bodies; DuckDB's json_valid/json_extract twin the
    # PERMISSIVE from_json semantics (malformed -> all-null + invalid,
    # missing field -> null field, still valid).
    o["s12_json_ingest"] = """
WITH b0 AS (SELECT doc_id,
        '{"id": ' || doc_id
        || CASE WHEN doc_id % 13 = 6 THEN '' ELSE ', "lang": "' || lang || '"' END
        || ', "n": ' || n_chars || '}' AS body
      FROM documents),
b AS (SELECT doc_id,
        CASE WHEN doc_id % 17 = 4 THEN substr(body, 1, len(body) - 5)
             ELSE body END AS body
      FROM b0)
SELECT doc_id::BIGINT AS doc_id,
       CASE WHEN json_valid(body) THEN CAST(json_extract(body, '$.id') AS BIGINT) END AS id,
       CASE WHEN json_valid(body) THEN json_extract_string(body, '$.lang') END AS lang,
       CASE WHEN json_valid(body) THEN CAST(json_extract(body, '$.n') AS BIGINT) END AS n,
       json_valid(body) AS is_valid
FROM b
"""

    o["p16_discovery_depth"] = _depth_oracle_sql(max_depth=12)

    # full closed loop: unrounded latency->rate chain joined into the
    # emission window (burst 3, per-host rate), 10s round admission
    o["pipeline_adaptive_schedule"] = (
        """
WITH f AS (
  SELECT 'u' || user_id AS host,
         (value * 40 + (event_id % 700))::DOUBLE AS v
  FROM events WHERE value IS NOT NULL),
nn AS (SELECT host, count(*)::BIGINT AS n FROM f GROUP BY host),
r0 AS (SELECT host, v, row_number() OVER (PARTITION BY host ORDER BY v) AS rk
       FROM f),
p AS (SELECT nn.host, r0.v AS p_lat
      FROM nn JOIN r0 ON r0.host = nn.host
         AND r0.rk = greatest(1, ceil(0.95 * nn.n)::BIGINT)),
rt AS (SELECT host, 1000.0 / least(15000.0, greatest(500.0, p_lat * 2.0)) AS rate
       FROM p),
s AS ("""
        + _SLOTTED_SQL
        + """),
e AS (SELECT s.host, seq, priority, host_rank,
             CASE WHEN host_rank <= 3 THEN 0
                  ELSE CAST(ceil((host_rank - 3) * 1000.0
                                 / coalesce(rt.rate, 5.0)) AS BIGINT)
             END AS emit_ms
      FROM s LEFT JOIN rt ON rt.host = s.host)
SELECT host, seq, priority::BIGINT AS priority, host_rank::BIGINT AS host_rank,
       emit_ms
FROM e WHERE emit_ms < 10000
"""
    )

    # percentile_disc rank convention shared with the quantile family:
    # rank = max(1, ceil(q*n)) over null-filtered doubles
    o["p17_adaptive_rate"] = """
WITH f AS (
  SELECT 'h' || (user_id % 50) AS host,
         (value * 40 + (event_id % 700))::DOUBLE AS v
  FROM events WHERE value IS NOT NULL),
n AS (SELECT host, count(*)::BIGINT AS n FROM f GROUP BY host),
r AS (SELECT host, v, row_number() OVER (PARTITION BY host ORDER BY v) AS rk
      FROM f),
p AS (SELECT n.host, r.v AS p_lat, n.n
      FROM n JOIN r ON r.host = n.host
         AND r.rk = greatest(1, ceil(0.95 * n.n)::BIGINT)),
d AS (SELECT host, p_lat,
             least(15000.0, greatest(500.0, p_lat * 2.0)) AS delay_ms, n
      FROM p)
SELECT host, round(p_lat, 6) AS p_latency_ms, round(delay_ms, 6) AS delay_ms,
       round(1000.0 / delay_ms, 6) AS rate_per_sec, n
FROM d
"""

    o["r7_mirror_detect"] = """
WITH base AS (
  SELECT doc_id, doc_id - doc_id % 5 AS canon_id,
         CASE WHEN ((doc_id - doc_id % 5) // 5) % 3 = 0
              THEN 'h' || ((doc_id - doc_id % 5) % 7)
              ELSE 'h' || (doc_id % 7) END AS host
  FROM documents),
canon AS (SELECT doc_id AS canon_id, md5(text) AS digest FROM documents),
g AS (
  SELECT digest, count(*)::BIGINT AS n_docs,
         count(DISTINCT host)::BIGINT AS n_hosts,
         array_to_string(list_sort(list(DISTINCT host)), ',') AS hosts
  FROM base JOIN canon USING (canon_id)
  GROUP BY digest)
SELECT digest, n_docs, n_hosts, hosts FROM g WHERE n_hosts >= 2
"""

    zbits = " + ".join(
        f"(((zx >> {i}) & 1) << {2 * i}) + (((zy >> {i}) & 1) << {2 * i + 1})"
        for i in range(10)
    )
    o["store_zorder_layout"] = f"""
WITH b AS (SELECT event_id, event_id % 1024 AS zx, (user_id * 37) % 1024 AS zy
           FROM events)
SELECT event_id::BIGINT AS event_id, zx::BIGINT AS zx, zy::BIGINT AS zy,
       ({zbits})::BIGINT AS zkey
FROM b
"""

    # Gap-islands twin of Spark's session_window merge semantics: a new
    # session opens when ts - prev_ts >= gap (session_window's end bound
    # is EXCLUSIVE: last_ts + gap), close = last_ts + gap.
    o["stream_session_window"] = """
WITH s AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM s)
SELECT user_id::BIGINT AS user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_close,
       count(*)::BIGINT AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM g GROUP BY user_id, sess
"""

    # Brute-force all-pairs twin of the prefix-filtered set-similarity
    # join: the filter is provably lossless and the verify exact, so the
    # optimized plan must reproduce the quadratic baseline bit-for-bit
    # (same distinct word-bigram universe, double division, 6 dp).
    o["dedup_setsim_join"] = """
WITH w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
           FROM documents WHERE text IS NOT NULL),
toks AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, len(ws)),
                                      i -> ws[i] || ' ' || ws[i+1])) AS tok
         FROM w),
t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
sz AS (SELECT doc_id, count(*) AS n FROM t2 GROUP BY doc_id),
inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
          FROM t2 a JOIN t2 b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT ia::BIGINT AS id_a, ib::BIGINT AS id_b,
       round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = ia
JOIN sz sb ON sb.doc_id = ib
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
"""

    # Window twin of the fold-based caption pairing over the shared A2/A4
    # span synthesis (kind = word length mod 3, offset = word index):
    # nearest preceding / following text span per media span, preceding
    # wins distance ties, docs with no text spans keep null captions.
    o["mm_caption_pairs"] = r"""
WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
           FROM documents WHERE text IS NOT NULL),
s AS (SELECT doc_id,
             unnest(range(0, len(ws)))::BIGINT AS off,
             unnest(ws) AS wtext
      FROM w),
k AS (SELECT doc_id, off, wtext,
             CASE len(wtext) % 3 WHEN 0 THEN 'text'
                                 WHEN 1 THEN 'link'
                                 ELSE 'media' END AS kind
      FROM s),
p AS (SELECT *,
        last_value(CASE WHEN kind = 'text' THEN off END IGNORE NULLS)
          OVER (PARTITION BY doc_id ORDER BY off ROWS UNBOUNDED PRECEDING)
          AS prev_off,
        last_value(CASE WHEN kind = 'text' THEN wtext END IGNORE NULLS)
          OVER (PARTITION BY doc_id ORDER BY off ROWS UNBOUNDED PRECEDING)
          AS prev_txt,
        first_value(CASE WHEN kind = 'text' THEN off END IGNORE NULLS)
          OVER (PARTITION BY doc_id ORDER BY off
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_off,
        first_value(CASE WHEN kind = 'text' THEN wtext END IGNORE NULLS)
          OVER (PARTITION BY doc_id ORDER BY off
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_txt
      FROM k)
SELECT doc_id::BIGINT AS doc_id,
       'm://' || off AS media_ref,
       off AS media_off,
       CASE WHEN prev_off IS NOT NULL
                 AND (next_off IS NULL OR off - prev_off <= next_off - off)
            THEN prev_txt ELSE next_txt END AS caption,
       CASE WHEN prev_off IS NOT NULL
                 AND (next_off IS NULL OR off - prev_off <= next_off - off)
            THEN prev_off ELSE next_off END AS caption_off,
       abs(off - CASE WHEN prev_off IS NOT NULL
                           AND (next_off IS NULL OR off - prev_off <= next_off - off)
                      THEN prev_off ELSE next_off END) AS dist
FROM p WHERE kind = 'media'
"""

    o["p19_opic_importance"] = _opic_oracle_sql(iters=4)

    # Unrolled iterated sparse closure: r{k+1} = r{k} ∪ (r{k} ⋈ e), UNION
    # dedupes. frac and the 0.9 effective-diameter test are IEEE double ops
    # mirroring graph.py:neighborhood_function exactly (no rounding).
    o["graph_neighborhood"] = """
WITH e AS (SELECT DISTINCT 'h' || (l_suppkey % 100) AS s,
                  'h' || (l_partkey % 103) AS d FROM lineitem),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
r0 AS (SELECT node AS u, node AS v FROM nodes),
r1 AS (SELECT u, v FROM r0 UNION SELECT r0.u, e.d AS v FROM r0 JOIN e ON r0.v = e.s),
r2 AS (SELECT u, v FROM r1 UNION SELECT r1.u, e.d AS v FROM r1 JOIN e ON r1.v = e.s),
r3 AS (SELECT u, v FROM r2 UNION SELECT r2.u, e.d AS v FROM r2 JOIN e ON r2.v = e.s),
counts AS (
  SELECT 0::BIGINT AS t, (SELECT count(*) FROM r0)::BIGINT AS n_pairs
  UNION ALL SELECT 1, (SELECT count(*) FROM r1)
  UNION ALL SELECT 2, (SELECT count(*) FROM r2)
  UNION ALL SELECT 3, (SELECT count(*) FROM r3)),
mx AS (SELECT n_pairs AS m FROM counts WHERE t = 3),
ed AS (SELECT min(t)::BIGINT AS eff_diameter FROM counts
       WHERE CAST(n_pairs AS DOUBLE) >= 0.9 * CAST((SELECT m FROM mx) AS DOUBLE))
SELECT c.t, c.n_pairs,
       CAST(c.n_pairs AS DOUBLE) / CAST((SELECT m FROM mx) AS DOUBLE) AS frac,
       (SELECT eff_diameter FROM ed) AS eff_diameter
FROM counts c
"""

    # Exact-integer reward sums; ln/sqrt under the shared 6-dp policy.
    # Rank is over the ROUNDED ucb on both sides (ties → host asc).
    o["p20_ucb_priority"] = """
WITH obs AS (SELECT 'h' || (user_id % 50) AS host, (event_id % 101)::BIGINT AS rn
             FROM events),
st AS (SELECT host, count(*)::BIGINT AS n_obs, sum(rn)::BIGINT AS s
       FROM obs GROUP BY host),
tot AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS n_total FROM st),
sc AS (SELECT host, n_obs,
         round(CAST(s AS DOUBLE) / (100.0 * n_obs), 6) AS mean_reward,
         round(CAST(s AS DOUBLE) / (100.0 * n_obs)
               + 1.5 * sqrt(ln(n_total) / n_obs), 6) AS ucb
       FROM st CROSS JOIN tot)
SELECT host, n_obs, mean_reward, ucb,
       row_number() OVER (ORDER BY ucb DESC, host ASC)::BIGINT AS rank
FROM sc
"""

    o["f7_meta_robots"] = """
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id,
    '<html><head>'
    || ['', '<meta name="robots" content="noindex">',
        '<meta name="robots" content="nofollow">',
        '<meta name="robots" content="noindex, nofollow">'][(doc_id % 4 + 1)::INT]
    || '</head><body>'
    || '<a href="https://x.example.com/p' || doc_id || '">x</a>'
    || CASE WHEN doc_id % 3 = 0
            THEN '<a href="https://y.example.com/q' || doc_id || '" rel="nofollow">y</a>'
            ELSE '' END
    || '<p>' || text || '</p></body></html>' AS html
  FROM documents),
p AS (
  SELECT doc_id, html,
    lower(coalesce(regexp_extract(html, '<meta name="robots" content="([^"]*)"', 1), '')) AS robots_content,
    len(regexp_extract_all(html, '<a href="[^"]*"')) AS n_links,
    len(regexp_extract_all(html, '<a href="[^"]*" rel="nofollow"')) AS n_nofollow
  FROM d),
f AS (
  SELECT doc_id, robots_content,
    list_contains(list_transform(string_split(robots_content, ','), x -> trim(x)), 'noindex') AS noindex,
    list_contains(list_transform(string_split(robots_content, ','), x -> trim(x)), 'nofollow') AS nofollow,
    n_links, n_nofollow
  FROM p)
SELECT doc_id, robots_content, noindex, nofollow,
       n_links::BIGINT AS n_links,
       (CASE WHEN nofollow THEN 0 ELSE n_links - n_nofollow END)::BIGINT AS n_follow_links,
       (CASE WHEN noindex THEN 'noindex' ELSE 'index' END) || '+'
         || (CASE WHEN nofollow THEN 'nofollow' ELSE 'follow' END) AS action
FROM f
"""

    o["r8_conditional_fetch"] = """
WITH fr AS (
  SELECT 'https://h' || (o_custkey % 40) || '.example.com/o/' || o_orderkey AS url,
         'h' || (o_custkey % 40) AS host
  FROM orders),
st AS (
  SELECT 'https://h' || (o_custkey % 40) || '.example.com/o/' || o_orderkey AS url,
         CASE WHEN o_orderkey % 3 = 0 THEN 'W/"' || o_orderkey || '"' END AS etag,
         CASE WHEN o_orderkey % 3 = 1 THEN o_orderdate::VARCHAR END AS last_modified,
         (o_orderkey % 5000)::BIGINT AS content_len
  FROM orders WHERE o_orderkey % 3 <> 2),
j AS (
  SELECT fr.host,
         CASE WHEN st.etag IS NOT NULL THEN 'etag'
              WHEN st.last_modified IS NOT NULL THEN 'ims'
              ELSE 'full' END AS mode,
         CASE WHEN st.etag IS NOT NULL OR st.last_modified IS NOT NULL
              THEN coalesce(st.content_len, 0) ELSE 0 END AS save_b
  FROM fr LEFT JOIN st USING (url))
SELECT host, mode, count(*)::BIGINT AS n_urls,
       sum(save_b)::BIGINT AS revalidatable_bytes
FROM j GROUP BY host, mode
"""

    # Segment starts replicate Spark's sequence(0, size-1, 5) exactly:
    # 1-based starts 1, 6, 11, ... <= len(ws); tail segments stay partial.
    o["text_template_lines"] = """
WITH d AS (
  SELECT doc_id, 'h' || (doc_id % 21) AS host,
    CASE WHEN doc_id % 4 < 3
         THEN 'cookie banner notice host h' || (doc_id % 21) || ' ' || text
         ELSE text END AS t
  FROM documents),
w AS (SELECT doc_id, host, string_split_regex(trim(t), '\\s+') AS ws FROM d),
segs AS (
  SELECT doc_id, host,
    list_distinct([array_to_string(ws[i:i+4], ' ')
                   for i in range(1, len(ws) + 1, 5)]) AS sg
  FROM w),
e AS (SELECT DISTINCT host, doc_id, seg
      FROM segs, unnest(sg) AS u(seg) WHERE seg <> ''),
hd AS (SELECT host, count(DISTINCT doc_id)::BIGINT AS host_docs FROM d GROUP BY host),
sc AS (SELECT host, seg AS segment, count(DISTINCT doc_id)::BIGINT AS n_docs
       FROM e GROUP BY host, seg)
SELECT sc.host, segment, n_docs, hd.host_docs,
       CAST(n_docs AS DOUBLE) / host_docs AS doc_ratio
FROM sc JOIN hd USING (host)
WHERE n_docs >= 2 AND CAST(n_docs AS DOUBLE) >= 0.5 * host_docs
"""

    o["c1d_rel_canonical"] = """
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id,
    'https://h' || (doc_id % 13) || '.example.com/p' || doc_id AS url,
    CASE WHEN doc_id % 3 <> 1
         THEN 'https://h' || ((doc_id - doc_id % 3) % 13) || '.example.com/p'
              || (doc_id - doc_id % 3)
         ELSE '' END AS href
  FROM documents),
p AS (
  SELECT doc_id, url,
    CASE WHEN href = '' THEN url ELSE href END AS canonical_url,
    CASE WHEN href = '' THEN 'none'
         WHEN href = url THEN 'self' ELSE 'cross' END AS rel
  FROM d),
s AS (SELECT canonical_url, count(*)::BIGINT AS n_aliases FROM p GROUP BY canonical_url)
SELECT p.doc_id, p.url, p.canonical_url, p.rel, s.n_aliases
FROM p JOIN s USING (canonical_url)
"""

    o["p21_ip_queue_slots"] = """
WITH fr AS (
  SELECT 'u' || user_id AS host, (event_id % 3)::BIGINT AS priority,
         ts AS discovery_ts, event_id::BIGINT AS seq
  FROM events),
dim AS (
  SELECT host,
         'ip-' || (CAST(substr(host, 2) AS BIGINT) % 37) AS ip,
         2.0 + (CAST(substr(host, 2) AS BIGINT) % 4) AS rate_per_sec,
         1 + (CAST(substr(host, 2) AS BIGINT) % 3) AS max_burst
  FROM (SELECT DISTINCT host FROM fr)),
per_ip AS (
  SELECT ip, MIN(rate_per_sec) AS rate_per_sec, MIN(max_burst) AS max_burst,
         COUNT(DISTINCT host)::BIGINT AS n_cohosts
  FROM dim GROUP BY ip),
ranked AS (
  SELECT fr.host, fr.seq, fr.priority, dim.ip AS queue_key,
         per_ip.n_cohosts, per_ip.rate_per_sec, per_ip.max_burst,
         ROW_NUMBER() OVER (PARTITION BY dim.ip
           ORDER BY fr.priority DESC, fr.discovery_ts ASC, fr.seq ASC) AS queue_rank
  FROM fr JOIN dim USING (host) JOIN per_ip ON dim.ip = per_ip.ip)
SELECT host, seq, priority, queue_key, n_cohosts, queue_rank::BIGINT AS queue_rank,
  CASE WHEN queue_rank <= max_burst THEN 0
       ELSE CAST(CEIL(((queue_rank - max_burst) * 1000.0) / rate_per_sec) AS BIGINT)
  END::BIGINT AS emit_ms
FROM ranked
"""

    o["f8_robots_cache"] = """
WITH fr AS (SELECT 'u' || user_id AS host FROM events),
hosts AS (SELECT host, COUNT(*)::BIGINT AS n_pending FROM fr GROUP BY host),
cache AS (
  SELECT host,
         (CAST(substr(host, 2) AS BIGINT) % 50) * 3600000 AS fetched_ms,
         CASE WHEN CAST(substr(host, 2) AS BIGINT) % 11 = 0 THEN 503 ELSE 200 END AS status
  FROM (SELECT DISTINCT host FROM fr)
  WHERE CAST(substr(host, 2) AS BIGINT) % 3 <> 0)
SELECT h.host, h.n_pending,
  COALESCE(180000000 - c.fetched_ms, -1)::BIGINT AS age_ms,
  CASE WHEN c.fetched_ms IS NULL THEN 'fetch'
       WHEN (180000000 - c.fetched_ms) >= 86400000 OR c.status >= 500 THEN 'refresh'
       ELSE 'use-cache' END AS action
FROM hosts h LEFT JOIN cache c USING (host)
"""

    o["s12_archive_offsets"] = """
WITH r AS (
  SELECT doc_id::BIGINT AS rec_id, (n_chars + 64)::BIGINT AS rec_len,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8) AS shard_id
  FROM documents)
SELECT rec_id, shard_id::BIGINT AS shard_id,
  (ROW_NUMBER() OVER w - 1)::BIGINT AS rec_index,
  (512 + COALESCE(SUM(rec_len) OVER (PARTITION BY shard_id ORDER BY rec_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS offset,
  rec_len
FROM r
WINDOW w AS (PARTITION BY shard_id ORDER BY rec_id)
"""

    o["trap_soft404"] = """
WITH p AS (
  SELECT doc_id::BIGINT AS doc_id,
    CASE WHEN doc_id % 13 = 0 THEN 404
         WHEN doc_id % 17 = 0 THEN 410 ELSE 200 END AS status,
    lower(CASE WHEN doc_id % 7 = 0 THEN 'Oops - Page Not Found. ' || text
               WHEN doc_id % 5 = 0 THEN 'HTTP 404'
               ELSE text END) AS low
  FROM documents),
f AS (
  SELECT doc_id, status,
    (position('page not found' IN low) > 0 OR position('404 not found' IN low) > 0
     OR position('does not exist' IN low) > 0 OR position('no longer available' IN low) > 0
     OR position('cannot be found' IN low) > 0) AS phrase_hit,
    (length(low) < 400 AND position('404' IN low) > 0) AS stub_404
  FROM p)
SELECT doc_id, status::INT AS status, phrase_hit, stub_404,
  CASE WHEN status IN (404, 410) THEN 'hard-404'
       WHEN status = 200 AND (phrase_hit OR stub_404) THEN 'soft-404'
       ELSE 'ok' END AS verdict
FROM f
"""

    o["p22_rate_audit"] = """
WITH log AS (
  SELECT 'u' || user_id AS host, (event_id * 137) % 100000 AS ts_ms FROM events),
w AS (
  SELECT host, COUNT(*) OVER (PARTITION BY host ORDER BY ts_ms
           RANGE BETWEEN 4999 PRECEDING AND CURRENT ROW) AS in_window
  FROM log)
SELECT host, COUNT(*)::BIGINT AS n_fetches, MAX(in_window)::BIGINT AS max_in_window,
       SUM(CASE WHEN in_window > 4 THEN 1 ELSE 0 END)::BIGINT AS n_violations
FROM w GROUP BY host
"""

    o["p23_retry_after"] = """
WITH res AS (
  SELECT 'u' || user_id AS host, (event_id % 100000) AS ts_ms,
    CASE WHEN event_type = 'error'
         THEN CASE WHEN event_id % 2 = 0 THEN 503 ELSE 429 END
         ELSE 200 END AS status,
    CASE WHEN event_type = 'error' THEN event_id % 60 ELSE NULL END AS retry_after_s
  FROM events),
sig AS (
  SELECT host, COUNT(*)::BIGINT AS n_throttle_signals,
         MAX(ts_ms + retry_after_s * 1000) AS next_eligible_ms
  FROM res WHERE status IN (429, 503) AND retry_after_s IS NOT NULL
  GROUP BY host)
SELECT h.host,
  COALESCE(s.n_throttle_signals, 0)::BIGINT AS n_throttle_signals,
  COALESCE(s.next_eligible_ms, 0)::BIGINT AS next_eligible_ms,
  (COALESCE(s.next_eligible_ms, 0) <= 50000) AS eligible_now
FROM (SELECT DISTINCT host FROM res) h LEFT JOIN sig s USING (host)
"""

    o["p24_age_boost"] = """
WITH fr AS (
  SELECT 'u' || user_id AS host, (event_id % 3)::BIGINT AS priority,
         ts AS discovery_ts, event_id::BIGINT AS seq
  FROM events),
b AS (
  SELECT *, GREATEST(LEAST(CAST(FLOOR((1706745600000 - epoch_ms(discovery_ts))
            / 604800000) AS INT), 3), 0) AS age_boost
  FROM fr)
SELECT host, seq, priority, age_boost::BIGINT AS age_boost,
  (priority + age_boost)::BIGINT AS eff_priority,
  ROW_NUMBER() OVER (PARTITION BY host
    ORDER BY (priority + age_boost) DESC, discovery_ts ASC, seq ASC)::BIGINT AS host_rank
FROM b
"""

    o["g2_pld_contract"] = """
WITH e AS (
  SELECT
    CASE WHEN doc_id % 3 = 0 THEN 'www.site' || (doc_id % 23) || '.com'
         WHEN doc_id % 3 = 1 THEN 'api.site' || (doc_id % 23) || '.com'
         ELSE 'u' || (doc_id % 31) || '.github.io' END AS src_host,
    CASE WHEN doc_id % 3 IN (0, 1) THEN 'site' || (doc_id % 23) || '.com'
         ELSE 'u' || (doc_id % 31) || '.github.io' END AS src_domain,
    'site' || ((doc_id * 7) % 23) || '.com' AS dst_domain
  FROM documents)
SELECT src_domain, dst_domain, COUNT(*)::BIGINT AS n_links,
       COUNT(DISTINCT src_host)::BIGINT AS n_src_hosts
FROM e WHERE src_domain <> dst_domain
GROUP BY src_domain, dst_domain
"""

    o["r9_sitemap_delta"] = """
WITH sm AS (
  SELECT 'https://s/p' || doc_id AS url,
         CASE WHEN doc_id % 5 = 0 THEN NULL
              ELSE (doc_id % 100) * 1000 END AS lastmod_ms
  FROM documents),
st AS (
  SELECT 'https://s/p' || doc_id AS url, (doc_id % 70) * 1000 AS fetched_ms
  FROM documents WHERE doc_id % 3 <> 0)
SELECT sm.url,
  COALESCE(sm.lastmod_ms, -1)::BIGINT AS lastmod_ms,
  COALESCE(st.fetched_ms, -1)::BIGINT AS fetched_ms,
  CASE WHEN st.fetched_ms IS NULL THEN 'fetch-new'
       WHEN sm.lastmod_ms IS NULL OR sm.lastmod_ms > st.fetched_ms THEN 'refetch'
       ELSE 'skip' END AS action
FROM sm LEFT JOIN st USING (url)
"""

    o["f9_blocklist_gate"] = """
WITH h AS (
  SELECT doc_id::BIGINT AS doc_id,
    CASE WHEN doc_id % 4 = 0 THEN 'a.b.blocked' || (doc_id % 7) || '.com'
         WHEN doc_id % 4 = 1 THEN 'blocked' || (doc_id % 7) || '.com'
         WHEN doc_id % 4 = 2 THEN 'notblocked' || (doc_id % 7) || '.com'
         ELSE 'x.sub' || (doc_id % 11) || '.org' END AS host
  FROM documents),
s AS (
  SELECT doc_id, unnest(list_transform(range(1, len(string_split(host, '.')) + 1),
    k -> array_to_string(string_split(host, '.')[len(string_split(host, '.')) - k + 1
         : len(string_split(host, '.'))], '.'))) AS sfx
  FROM h),
m AS (
  SELECT doc_id, sfx,
         ROW_NUMBER() OVER (PARTITION BY doc_id
           ORDER BY length(sfx) DESC, sfx DESC) AS rn
  FROM s
  WHERE sfx IN ('blocked0.com','blocked1.com','blocked2.com','sub3.org','b.blocked4.com'))
SELECT h.doc_id, h.host, m.sfx AS matched_suffix, m.sfx IS NOT NULL AS is_blocked
FROM h LEFT JOIN (SELECT doc_id, sfx FROM m WHERE rn = 1) m USING (doc_id)
"""

    # DUST parameter relevance: the three params have literal names, so the
    # per-param residual (URL minus that param, others sorted by name:
    # id < sess < utm) is written out explicitly instead of via map ops.
    o["c1e_dust_params"] = """
WITH pages AS (
  SELECT 'h' || (doc_id % 5) || '.com' AS host,
         'https://h' || (doc_id % 5) || '.com/p' || (doc_id % 20) AS base,
         (doc_id % 7)::VARCHAR AS v_id,
         (doc_id % 3)::VARCHAR AS v_utm,
         (doc_id % 8)::VARCHAR AS v_sess,
         md5('h' || (doc_id % 5) || '.com|' || (doc_id % 20) || '|' || (doc_id % 7)) AS digest
  FROM documents),
exploded AS (
  SELECT host, 'id' AS param,
         base || '?sess=' || v_sess || '&utm=' || v_utm AS residual, digest
  FROM pages
  UNION ALL
  SELECT host, 'sess', base || '?id=' || v_id || '&utm=' || v_utm, digest
  FROM pages
  UNION ALL
  SELECT host, 'utm', base || '?id=' || v_id || '&sess=' || v_sess, digest
  FROM pages),
grp AS (
  SELECT host, param, residual,
         COUNT(*) AS n_urls, COUNT(DISTINCT digest) AS n_digests
  FROM exploded GROUP BY host, param, residual),
ev AS (
  SELECT host, param,
         SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) AS n_groups_multi,
         SUM(CASE WHEN n_urls > 1 AND n_digests = 1 THEN 1 ELSE 0 END) AS n_groups_clean
  FROM grp GROUP BY host, param)
SELECT host, param,
       n_groups_multi::BIGINT AS n_groups_multi,
       n_groups_clean::BIGINT AS n_groups_clean,
       CASE WHEN n_groups_multi > 0
            THEN ROUND(n_groups_clean / n_groups_multi, 6)
            ELSE 0.0 END AS clean_ratio,
       (n_groups_multi >= 2
        AND CASE WHEN n_groups_multi > 0
                 THEN ROUND(n_groups_clean / n_groups_multi, 6)
                 ELSE 0.0 END >= 0.95) AS irrelevant
FROM ev
"""

    # CDC chunking: cut AFTER position i (1-based, i in [8, n-1]) iff
    # md5 of the trailing 8-char window starts with '0'. DuckDB's
    # range(a, b) is end-exclusive = Spark's sequence(a, b-1) guard.
    _CDC_CHUNKS_SQL = """
WITH b AS (
  SELECT doc_id, text,
         length(text) AS n,
         list_filter(range(8, length(text)),
                     i -> md5(substr(text, i - 7, 8)) LIKE '0%') AS cands
  FROM documents
  WHERE text IS NOT NULL),
bb AS (
  SELECT doc_id, text,
         list_concat(list_concat([0], cands), [n]) AS bounds
  FROM b),
ch AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(bounds)),
                k -> substr(text, bounds[k] + 1, bounds[k + 1] - bounds[k]))) AS chunk
  FROM bb)
SELECT doc_id, md5(chunk) AS chunk_digest,
       length(chunk)::BIGINT AS chunk_len
FROM ch WHERE length(chunk) > 0
"""

    o["dedup_cdc_chunks"] = f"""
WITH chunks AS ({_CDC_CHUNKS_SQL})
SELECT chunk_digest, chunk_len,
       COUNT(*)::BIGINT AS n_occurrences,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs
FROM chunks
GROUP BY chunk_digest, chunk_len
HAVING COUNT(*) >= 2
"""

    o["dedup_cdc_doc_ratio"] = f"""
WITH chunks AS ({_CDC_CHUNKS_SQL}),
shared AS (
  SELECT chunk_digest FROM chunks
  GROUP BY chunk_digest HAVING COUNT(DISTINCT doc_id) > 1),
tot AS (
  SELECT doc_id, SUM(chunk_len)::BIGINT AS total_chars
  FROM chunks GROUP BY doc_id),
dup AS (
  SELECT c.doc_id, SUM(c.chunk_len)::BIGINT AS dup_chars
  FROM chunks c SEMI JOIN shared s ON c.chunk_digest = s.chunk_digest
  GROUP BY c.doc_id)
SELECT t.doc_id, t.total_chars,
       COALESCE(d.dup_chars, 0)::BIGINT AS dup_chars,
       ROUND(COALESCE(d.dup_chars, 0) / t.total_chars, 6) AS dup_ratio
FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id
"""

    # WFQ: vfinish = host-local rank / weight; global rank orders by the
    # raw double (IEEE-identical k/w in both engines), host+seq tiebreak.
    o["p25_wfq_schedule"] = """
WITH fr AS (
  SELECT 'u' || (user_id % 50) AS host, event_id::BIGINT AS seq FROM events),
wt AS (
  SELECT DISTINCT 'u' || (user_id % 50) AS host,
         ((user_id % 50) % 4 + 1)::DOUBLE AS weight
  FROM events),
k AS (
  SELECT fr.host, fr.seq, wt.weight,
         ROW_NUMBER() OVER (PARTITION BY fr.host ORDER BY fr.seq) AS k
  FROM fr JOIN wt ON fr.host = wt.host),
v AS (
  SELECT host, seq, weight, k / weight AS vf FROM k)
SELECT host, seq, weight, ROUND(vf, 6) AS vfinish,
       ROW_NUMBER() OVER (ORDER BY vf, host, seq)::BIGINT AS emit_seq
FROM v
"""

    # Refresh allocation: greedy top-B marginal freshness gains,
    # gain = F(lam,k) - F(lam,k-1), F(lam,f) = (f/lam)(1 - exp(-lam/f)).
    o["r10_refresh_allocation"] = """
WITH pages AS (
  SELECT DISTINCT 'u' || (user_id % 500) AS url,
         (((user_id % 500) % 9) + 1)::DOUBLE / 2.0 AS lam
  FROM events),
cand AS (
  SELECT url, lam, k::DOUBLE AS kd, k
  FROM pages, unnest(range(1, 9)) AS t(k)),
g AS (
  SELECT url, lam, k,
         ROUND((kd / lam) * (1 - exp(-lam / kd))
               - CASE WHEN k = 1 THEN 0.0
                      ELSE ((kd - 1) / lam) * (1 - exp(-lam / (kd - 1))) END,
               9) AS gain
  FROM cand),
taken AS (
  SELECT url, k,
         ROW_NUMBER() OVER (ORDER BY gain DESC, url ASC, k ASC) AS rn
  FROM g),
alloc AS (
  SELECT url, COUNT(*)::BIGINT AS visits
  FROM taken WHERE rn <= 400 GROUP BY url)
SELECT p.url, p.lam AS change_rate,
       COALESCE(a.visits, 0)::BIGINT AS visits,
       CASE WHEN COALESCE(a.visits, 0) > 0
            THEN ROUND((COALESCE(a.visits, 0) / p.lam)
                       * (1 - exp(-p.lam / COALESCE(a.visits, 0))), 6)
            ELSE 0.0 END AS freshness
FROM pages p LEFT JOIN alloc a ON p.url = a.url
"""

    o["corpus_vocab_coverage"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents),
toks2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
vocab AS (
  SELECT token FROM toks2 GROUP BY token
  ORDER BY COUNT(*) DESC, token ASC LIMIT 40),
flagged AS (
  SELECT t.doc_id, t.token, v.token IS NOT NULL AS in_vocab
  FROM toks2 t LEFT JOIN vocab v ON t.token = v.token)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_tokens,
       SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END)::BIGINT AS n_oov,
       ROUND(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) / COUNT(*), 6) AS oov_rate,
       COUNT(DISTINCT token)::BIGINT AS n_types,
       COUNT(DISTINCT CASE WHEN in_vocab THEN NULL ELSE token END)::BIGINT AS n_oov_types,
       ROUND(COUNT(DISTINCT token) / COUNT(*), 6) AS type_token_ratio
FROM flagged
GROUP BY doc_id
"""

    o["g3_kcore"] = _kcore_oracle_sql(k=15, iters=8)

    o["r11_http_cache_plan"] = """
WITH c AS (
  SELECT 'https://h' || (doc_id % 9) || '.com/p' || doc_id AS url,
         'h' || (doc_id % 9) || '.com' AS host,
         (1700003600000 - (doc_id % 3600) * 1000)::BIGINT AS date_ms,
         CASE WHEN doc_id % 3 = 0 THEN (doc_id % 1000)::BIGINT END AS max_age_s,
         CASE WHEN doc_id % 3 = 1
              THEN (1700003600000 - (doc_id % 3600) * 1000 + (doc_id % 2000) * 1000)::BIGINT END AS expires_ms,
         CASE WHEN doc_id % 2 = 0
              THEN (1700003600000 - (doc_id % 3600) * 1000 - (doc_id % 50) * 86400000)::BIGINT END AS last_modified_ms,
         CASE WHEN doc_id % 7 = 0 THEN (doc_id % 120)::BIGINT END AS age_s,
         doc_id % 13 = 0 AS no_store,
         doc_id % 17 = 0 AS no_cache,
         doc_id % 5 <> 0 AS has_validator
  FROM documents),
p AS (
  SELECT url, host, no_store, has_validator,
         (CASE WHEN no_store OR no_cache THEN 0
               WHEN max_age_s IS NOT NULL THEN max_age_s
               WHEN expires_ms IS NOT NULL
                 THEN GREATEST(FLOOR((expires_ms - date_ms) / 1000), 0)
               WHEN last_modified_ms IS NOT NULL
                 THEN GREATEST(LEAST(FLOOR((date_ms - last_modified_ms) / 10000), 86400), 0)
               ELSE 0 END)::BIGINT AS freshness_lifetime_s,
         (GREATEST(FLOOR((1700003600000 - date_ms) / 1000), 0)
          + COALESCE(age_s, 0))::BIGINT AS current_age_s
  FROM c)
SELECT url, host, freshness_lifetime_s, current_age_s,
       current_age_s < freshness_lifetime_s AS fresh,
       CASE WHEN no_store THEN 'refetch'
            WHEN current_age_s < freshness_lifetime_s THEN 'use_cache'
            WHEN has_validator THEN 'revalidate'
            ELSE 'refetch' END AS action
FROM p
"""

    # CCNet buckets compose the perplexity oracle as a CTE: the rounded
    # avg_nll is the (deterministic) tercile sort key in both engines.
    o["pipeline_ccnet_buckets"] = f"""
WITH base AS ({o["text_lm_perplexity"]}),
l AS (
  SELECT b.doc_id, d.lang, b.avg_nll
  FROM base b JOIN documents d ON b.doc_id = d.doc_id)
SELECT doc_id, lang, avg_nll,
       CASE NTILE(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM l
"""

    o["store_compaction_plan"] = """
WITH m AS (
  SELECT 'p' || (doc_id % 7) AS part,
         'f' || doc_id AS file_id,
         (((doc_id * 37) % 150) * 10000)::BIGINT AS size_bytes
  FROM documents),
c AS (
  SELECT part, file_id, size_bytes,
         size_bytes < 500000 AS is_candidate
  FROM m),
w AS (
  SELECT part, file_id, size_bytes, is_candidate,
         SUM(CASE WHEN is_candidate THEN size_bytes ELSE 0 END)
           OVER (PARTITION BY part ORDER BY size_bytes DESC, file_id ASC
                 ROWS UNBOUNDED PRECEDING)
           - CASE WHEN is_candidate THEN size_bytes ELSE 0 END AS run_excl,
         SUM(CASE WHEN is_candidate THEN 1 ELSE 0 END)
           OVER (PARTITION BY part) AS n_cand
  FROM c)
SELECT part, file_id, size_bytes, is_candidate,
       (CASE WHEN is_candidate AND n_cand >= 2
             THEN FLOOR(run_excl / 1000000)
             ELSE -1 END)::BIGINT AS compact_group
FROM w
"""

    o["store_prune_stats"] = """
WITH man AS (
  SELECT 'clustered' AS layout, 'f' || doc_id AS file_id,
         (doc_id * 100)::BIGINT AS min_key,
         (doc_id * 100 + 99)::BIGINT AS max_key
  FROM documents
  UNION ALL
  SELECT 'append', 'f' || doc_id,
         ((doc_id * 7919) % 40000)::BIGINT,
         (((doc_id * 7919) % 40000) + 9000)::BIGINT
  FROM documents),
preds AS (
  SELECT * FROM (VALUES ('p1', 0, 999), ('p2', 10000, 10999),
                        ('p3', 0, 24999), ('p4', 49000, 49999))
         v(pred_id, lo, hi)),
j AS (
  SELECT m.layout, p.pred_id,
         (m.min_key <= p.hi AND m.max_key >= p.lo) AS scanned
  FROM man m CROSS JOIN preds p)
SELECT layout, pred_id,
       COUNT(*)::BIGINT AS n_files,
       SUM(CASE WHEN scanned THEN 1 ELSE 0 END)::BIGINT AS n_scanned,
       (COUNT(*) - SUM(CASE WHEN scanned THEN 1 ELSE 0 END))::BIGINT AS n_skipped,
       ROUND((COUNT(*) - SUM(CASE WHEN scanned THEN 1 ELSE 0 END)) / COUNT(*), 6) AS skip_ratio
FROM j GROUP BY layout, pred_id
"""

    o["mm_span_integrity"] = """
WITH w AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
sp AS (
  SELECT doc_id,
         list_transform(range(len(ws)), i -> struct_pack(
           kind := CASE WHEN doc_id % 13 = 0 AND i = 0 THEN 'weird'
                        WHEN length(ws[i + 1]) % 3 = 0 THEN 'text'
                        WHEN length(ws[i + 1]) % 3 = 1 THEN 'link'
                        ELSE 'media' END,
           media_ref := CASE WHEN doc_id % 11 <> 0
                              AND length(ws[i + 1]) % 3 = 2
                             THEN 'm://' || i END,
           off := CASE WHEN doc_id % 7 = 0 THEN -i ELSE i END)) AS spans
  FROM w)
SELECT doc_id::BIGINT AS doc_id,
       len(spans)::BIGINT AS n_spans,
       (CASE WHEN len(spans) >= 2
             THEN len(list_filter(range(2, len(spans) + 1),
                      k -> spans[k].off <= spans[k - 1].off))
             ELSE 0 END)::BIGINT AS n_offset_viol,
       len(list_filter(spans,
           s -> s.kind NOT IN ('text', 'link', 'media')))::BIGINT AS n_kind_viol,
       len(list_filter(spans,
           s -> (s.kind = 'media') <> (s.media_ref IS NOT NULL)))::BIGINT AS n_mediaref_viol,
       (CASE WHEN len(spans) >= 2
             THEN len(list_filter(range(2, len(spans) + 1),
                      k -> spans[k].off <= spans[k - 1].off))
             ELSE 0 END) = 0
       AND len(list_filter(spans,
           s -> s.kind NOT IN ('text', 'link', 'media'))) = 0
       AND len(list_filter(spans,
           s -> (s.kind = 'media') <> (s.media_ref IS NOT NULL))) = 0 AS is_valid
FROM sp
"""

    o["g4_triangles"] = """
WITH e0x AS (
  SELECT 'r' || substr(md5('s' || event_id), 1, 2) AS a,
         'r' || substr(md5('d' || event_id), 1, 2) AS b
  FROM events WHERE event_id % 4 = 0
  UNION ALL
  SELECT 'f' || substr(md5('a' || event_id), 1, 1),
         'f' || substr(md5('b' || event_id), 1, 1) FROM events),
und AS (
  SELECT DISTINCT a, b FROM
  (SELECT a, b FROM e0x UNION ALL SELECT b, a FROM e0x) u(a, b)
  WHERE a <> b),
deg AS (SELECT a, count(*) AS deg FROM und GROUP BY a),
e AS (
  SELECT u.a, u.b FROM und u
  JOIN deg da ON u.a = da.a
  JOIN deg db ON u.b = db.a
  WHERE da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)),
closed AS (
  SELECT w1.a AS p, w1.b AS x, w2.b AS y
  FROM e w1 JOIN e w2 ON w1.a = w2.a AND w1.b <> w2.b
  JOIN e c ON c.a = w1.b AND c.b = w2.b),
tri AS (
  SELECT node, count(*) AS n_tri FROM (
    SELECT p AS node FROM closed
    UNION ALL SELECT x FROM closed
    UNION ALL SELECT y FROM closed) t(node)
  GROUP BY node)
SELECT d.a AS node, d.deg::BIGINT AS degree,
       COALESCE(t.n_tri, 0)::BIGINT AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN ROUND(2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1.0)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN tri t ON d.a = t.node
"""

    o["stream_group_sample"] = """
WITH keyed AS (
  SELECT 'g' || (user_id % 25) AS key, event_id::BIGINT AS seq,
         md5('g' || (user_id % 25) || '|' || event_id) AS rank_hex
  FROM events),
r AS (
  SELECT key, seq, rank_hex,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY rank_hex, seq) AS rk
  FROM keyed)
SELECT key, seq, rank_hex FROM r WHERE rk <= 7
"""

    # Winnowing: shingle-hash encode "hash16@pos6" so list_min IS the
    # window argmin with leftmost tie-break in both engines.
    _WINNOW_FPS_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(greatest(len(ws) - 3, 1)), i ->
           substr(md5(array_to_string(ws[i + 1 : i + 4], ' ')), 1, 16)
           || '@' || lpad(i::VARCHAR, 6, '0')) AS enc
  FROM w),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(enc) - 3, 1)), j ->
           list_min(enc[j + 1 : j + 4]))) AS sels
  FROM g),
ex AS (SELECT doc_id, unnest(sels) AS sel FROM s)
SELECT doc_id,
       string_split(sel, '@')[2]::BIGINT AS pos,
       string_split(sel, '@')[1] AS fp
FROM ex
"""

    o["text_winnow_fingerprints"] = _WINNOW_FPS_SQL

    o["dedup_winnow_pairs"] = f"""
WITH fps0 AS ({_WINNOW_FPS_SQL}),
fps AS (SELECT DISTINCT doc_id, fp FROM fps0),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, COUNT(*)::BIGINT AS n_shared
FROM pairs GROUP BY doc_a, doc_b
HAVING COUNT(*) >= 5
"""

    o["corpus_curriculum_order"] = """
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id, (doc_id % 3)::INT AS tier,
         md5((doc_id % 3) || '|' || doc_id) AS shuffle_key
  FROM documents)
SELECT doc_id, tier, shuffle_key,
       ROW_NUMBER() OVER (ORDER BY tier, shuffle_key, doc_id)::BIGINT AS train_seq
FROM d
"""

    # DUST closed loop: the c1e evidence oracle is the rules CTE; folded
    # URLs drop the params marked irrelevant for that host (names sorted
    # id < sess < utm, matching the map_entries sort).
    o["pipeline_dust_fold"] = f"""
WITH rules AS ({o["c1e_dust_params"]}),
pages AS (
  SELECT 'h' || (doc_id % 5) || '.com' AS host,
         'https://h' || (doc_id % 5) || '.com/p' || (doc_id % 20) AS base,
         (doc_id % 7)::VARCHAR AS v_id,
         (doc_id % 3)::VARCHAR AS v_utm,
         (doc_id % 8)::VARCHAR AS v_sess
  FROM documents),
irr AS (
  SELECT host,
         BOOL_OR(param = 'id' AND irrelevant) AS irr_id,
         BOOL_OR(param = 'sess' AND irrelevant) AS irr_sess,
         BOOL_OR(param = 'utm' AND irrelevant) AS irr_utm
  FROM rules GROUP BY host),
f AS (
  SELECT p.host,
         p.base || '?id=' || v_id || '&sess=' || v_sess || '&utm=' || v_utm AS raw_url,
         p.base || '?' || array_to_string(list_filter([
           CASE WHEN COALESCE(i.irr_id, FALSE) THEN NULL ELSE 'id=' || v_id END,
           CASE WHEN COALESCE(i.irr_sess, FALSE) THEN NULL ELSE 'sess=' || v_sess END,
           CASE WHEN COALESCE(i.irr_utm, FALSE) THEN NULL ELSE 'utm=' || v_utm END
         ], x -> x IS NOT NULL), '&') AS folded_url
  FROM pages p LEFT JOIN irr i ON p.host = i.host)
SELECT host, COUNT(*)::BIGINT AS n_urls,
       COUNT(DISTINCT raw_url)::BIGINT AS n_raw_identities,
       COUNT(DISTINCT folded_url)::BIGINT AS n_folded_identities
FROM f GROUP BY host
"""

    o["r12_trend_slope"] = """
WITH act AS (
  SELECT 'u' || (user_id % 80) AS host,
         FLOOR(epoch_us(ts) / 86400000000)::BIGINT AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT host, COUNT(*)::BIGINT AS n_days,
         SUM(day::DOUBLE) AS sx, SUM(n::DOUBLE) AS sy,
         SUM(day::DOUBLE * n::DOUBLE) AS sxy,
         SUM(day::DOUBLE * day::DOUBLE) AS sxx
  FROM act GROUP BY host)
SELECT host, n_days,
       ROUND(sy / n_days, 6) AS mean_daily,
       ROUND(CASE WHEN n_days * sxx - sx * sx > 0
                  THEN (n_days * sxy - sx * sy) / (n_days * sxx - sx * sx)
                  ELSE 0.0 END, 6) AS slope,
       (CASE WHEN n_days * sxx - sx * sx > 0
             THEN (n_days * sxy - sx * sy) / (n_days * sxx - sx * sx)
             ELSE 0.0 END) > 0 AS rising
FROM agg
"""

    # Ring generated in-SQL with the same md5 rule as the operator's
    # driver-side _ring — provably the identical ring.
    o["shard_consistent_hash"] = """
WITH hosts AS (
  SELECT DISTINCT 'h' || (doc_id % 997) AS host FROM documents),
ring AS (
  SELECT substr(md5('s' || s.range || 'v' || v.range), 1, 16) AS pos,
         s.range::INT AS shard
  FROM range(8) s, range(64) v),
h AS (
  SELECT host, substr(md5(host), 1, 16) AS key_hash FROM hosts),
sel AS (
  SELECT h.host, h.key_hash,
         COALESCE((SELECT MIN(pos) FROM ring WHERE pos >= h.key_hash),
                  (SELECT MIN(pos) FROM ring)) AS chosen
  FROM h)
SELECT s.host, s.key_hash, r.shard
FROM sel s JOIN ring r ON s.chosen = r.pos
"""

    o["p26_burn_rate"] = """
WITH log AS (
  SELECT 'u' || (user_id % 60) AS host,
         ((event_id * 137) % 7200000)::BIGINT AS ts_ms,
         event_type <> 'error' AS ok
  FROM events),
b AS (
  SELECT host, ts_ms, ok,
         SUM(CASE WHEN ok THEN 0 ELSE 1 END)
           OVER (PARTITION BY host ORDER BY ts_ms
                 RANGE BETWEEN 299999 PRECEDING AND CURRENT ROW)::DOUBLE
         / COUNT(*) OVER (PARTITION BY host ORDER BY ts_ms
                 RANGE BETWEEN 299999 PRECEDING AND CURRENT ROW) / 0.05 AS bs,
         SUM(CASE WHEN ok THEN 0 ELSE 1 END)
           OVER (PARTITION BY host ORDER BY ts_ms
                 RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW)::DOUBLE
         / COUNT(*) OVER (PARTITION BY host ORDER BY ts_ms
                 RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW) / 0.05 AS bl
  FROM log)
SELECT host, ts_ms, ok,
       ROUND(bs, 6) AS burn_short, ROUND(bl, 6) AS burn_long,
       (bs >= 14.4 AND bl >= 6.0) AS alert
FROM b
"""

    # Same recursive next-fit packing as corpus_pack_sequences, with the
    # multimodal weight model (media span = 64 tokens) and budget 2048.
    o["mm_pack_interleaved"] = """
WITH RECURSIVE d AS (
  SELECT doc_id % 8 AS shard, doc_id,
         (len(string_split_regex(text, '\\s+'))
          + 63 * len(list_filter(string_split_regex(text, '\\s+'),
                                 w -> length(w) % 3 = 2)))::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT shard, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS cum,
         (row_number() OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS idx
  FROM d),
m AS (SELECT shard, max(idx) AS n FROM c GROUP BY shard),
seqs AS (
  SELECT m.shard, 1::BIGINT AS s, 0::BIGINT AS base, 0::BIGINT AS seq_id,
         greatest(1::BIGINT, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = m.shard AND c.cum <= 2048), 0::BIGINT)) AS e
  FROM m
  UNION ALL
  SELECT sq.shard, sq.e + 1 AS s,
         (SELECT cum FROM c WHERE c.shard = sq.shard AND c.idx = sq.e) AS base,
         sq.seq_id + 1 AS seq_id,
         greatest(sq.e + 1, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = sq.shard
              AND c.cum <= (SELECT cum FROM c c2
                            WHERE c2.shard = sq.shard AND c2.idx = sq.e) + 2048),
            0::BIGINT)) AS e
  FROM seqs sq JOIN m ON m.shard = sq.shard
  WHERE sq.e < m.n)
SELECT c.shard::BIGINT AS shard, c.doc_id::BIGINT AS doc_id,
       c.n_tokens, sq.seq_id,
       (c.idx - sq.s)::BIGINT AS pos_in_seq,
       (c.cum - c.n_tokens - sq.base)::BIGINT AS tok_offset,
       ((SELECT cum FROM c c3 WHERE c3.shard = c.shard AND c3.idx = sq.e)
        - sq.base)::BIGINT AS seq_tokens
FROM c JOIN seqs sq ON c.shard = sq.shard AND c.idx BETWEEN sq.s AND sq.e
"""

    # X-Robots-Tag: per-template truth table for agent 'delphibot' (the
    # robots-body template-pinning pattern): t0 unscoped noindex+nofollow;
    # t1 scoped to another agent (no effect); t2 scoped to our agent
    # (noindex+noarchive); t3 'none' expands; t4 empty; t5 noarchive +
    # an unavailable_after directive that looks like a scope.
    o["f6f_xrobots_header"] = """
WITH d AS (
  SELECT doc_id::BIGINT AS doc_id, (doc_id % 6)::INT AS t,
         CASE doc_id % 6
           WHEN 0 THEN 'noindex, nofollow'
           WHEN 1 THEN 'googlebot: noindex'
           WHEN 2 THEN 'delphibot: noindex, noarchive'
           WHEN 3 THEN 'none'
           WHEN 4 THEN ''
           ELSE 'noarchive, unavailable_after: 01 Jan 2030'
         END AS x_robots_tag
  FROM documents)
SELECT doc_id, x_robots_tag,
       t IN (0, 2, 3) AS noindex,
       t IN (0, 3) AS nofollow,
       t IN (2, 5) AS noarchive,
       CASE WHEN t IN (0, 3) THEN 'noindex+nofollow'
            WHEN t = 2 THEN 'noindex'
            ELSE 'index+follow' END AS action
FROM d
"""

    o["text_char_entropy"] = """
WITH c AS (
  SELECT doc_id::BIGINT AS doc_id,
         string_split(text, '') AS cs,
         length(text)::DOUBLE AS n
  FROM documents),
e AS (
  SELECT doc_id, n,
         CASE WHEN n > 0 THEN ROUND(
           log2(n) - list_aggregate(
             list_transform(
               list_sort(list_transform(list_distinct(cs),
                 d -> len(list_filter(cs, x -> x = d))::DOUBLE)),
               v -> v * log2(v)), 'sum') / n, 6)
         ELSE 0.0 END AS entropy_bits
  FROM c)
SELECT doc_id, entropy_bits,
       entropy_bits >= 2.0 AND entropy_bits <= 5.5 AS entropy_pass
FROM e
"""

    o["s13_wet_records"] = """
WITH rec AS (
  SELECT (doc_id // 50)::BIGINT AS file_id, doc_id,
         'WARC/1.0' || chr(10)
         || CASE WHEN doc_id % 13 <> 0
                 THEN 'WARC-Target-URI: https://h' || (doc_id % 7)
                      || '.com/p' || doc_id || chr(10)
                 ELSE '' END
         || 'Content-Length: ' || n_chars || chr(10) || chr(10)
         || text || chr(10) || chr(10) AS r
  FROM documents),
blobs AS (
  SELECT file_id, string_agg(r, '' ORDER BY doc_id) AS content
  FROM rec GROUP BY file_id),
split AS (
  SELECT file_id,
         list_filter(string_split(content, 'WARC/1.0'),
                     x -> trim(x) <> '') AS rs
  FROM blobs),
ex AS (
  SELECT file_id, rs[t.i + 1] AS raw, t.i::BIGINT AS record_idx
  FROM split, unnest(range(len(rs))) AS t(i)),
p AS (
  SELECT file_id, record_idx, raw,
         regexp_extract(raw, 'WARC-Target-URI:\\s*(\\S+)', 1) AS uri,
         regexp_extract(raw, 'Content-Length:\\s*(\\d+)', 1) AS clen,
         CASE WHEN strpos(raw, chr(10) || chr(10)) > 0
              THEN substring(raw, strpos(raw, chr(10) || chr(10)) + 2)
              ELSE '' END AS body
  FROM ex)
SELECT file_id, record_idx,
       CASE WHEN uri <> '' THEN uri END AS target_uri,
       CASE WHEN clen <> '' THEN clen::BIGINT END AS content_length,
       trim(body) AS body,
       uri = '' AS malformed
FROM p
"""

    # Bow-tie: recursive-CTE BFS (depth-capped to terminate through
    # cycles) forward and backward from the max-out-degree pivot.
    o["g5_bowtie"] = """
WITH RECURSIVE e AS (
  SELECT DISTINCT s, d FROM (
    SELECT 'f' || substr(md5('a' || event_id), 1, 1) AS s,
           'f' || substr(md5('b' || event_id), 1, 1) AS d
    FROM events
    UNION ALL
    SELECT 'i' || (event_id % 20), 'f' || substr(md5('a' || event_id), 1, 1)
    FROM events WHERE event_id % 5 = 0
    UNION ALL
    SELECT 'f' || substr(md5('b' || event_id), 1, 1), 'o' || (event_id % 15)
    FROM events WHERE event_id % 7 = 0
    UNION ALL
    SELECT 'x' || (event_id % 10), 'x' || ((event_id % 10) + 10)
    FROM events WHERE event_id % 11 = 0) u(s, d)),
pv AS (
  SELECT s FROM (SELECT s, count(*) AS od FROM e GROUP BY s)
  ORDER BY od DESC, s ASC LIMIT 1),
fwd AS (
  SELECT s AS node, 0 AS depth FROM pv
  UNION
  SELECT e.d, f.depth + 1 FROM fwd f JOIN e ON e.s = f.node
  WHERE f.depth < 6),
bwd AS (
  SELECT s AS node, 0 AS depth FROM pv
  UNION
  SELECT e.s, b.depth + 1 FROM bwd b JOIN e ON e.d = b.node
  WHERE b.depth < 6),
fmin AS (SELECT node, MIN(depth)::BIGINT AS fwd_depth FROM fwd GROUP BY node),
bmin AS (SELECT node, MIN(depth)::BIGINT AS bwd_depth FROM bwd GROUP BY node),
nodes AS (
  SELECT DISTINCT node FROM
  (SELECT s AS node FROM e UNION ALL SELECT d FROM e) t(node))
SELECT n.node, f.fwd_depth, b.bwd_depth,
       CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL THEN 'CORE'
            WHEN b.node IS NOT NULL THEN 'IN'
            WHEN f.node IS NOT NULL THEN 'OUT'
            ELSE 'OTHER' END AS component
FROM nodes n
LEFT JOIN fmin f ON n.node = f.node
LEFT JOIN bmin b ON n.node = b.node
"""

    o["pipeline_dedup_verdict"] = f"""
WITH dg AS (
  SELECT doc_id::BIGINT AS doc_id, md5(text) AS dg FROM documents),
exact_drop AS (
  SELECT DISTINCT a.doc_id FROM dg a
  JOIN dg b ON a.dg = b.dg AND a.doc_id > b.doc_id),
fps0 AS ({_WINNOW_FPS_SQL}),
fps AS (SELECT DISTINCT doc_id, fp FROM fps0),
near_drop AS (
  SELECT DISTINCT doc_id FROM (
    SELECT a.doc_id AS doc_id, b.doc_id AS partner, COUNT(*) AS c
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id > b.doc_id
    GROUP BY 1, 2) t
  WHERE c >= 5),
ratio AS (SELECT doc_id, dup_ratio FROM ({o["dedup_cdc_doc_ratio"]}) q)
SELECT d.doc_id,
       COALESCE(r.dup_ratio, 0.0) AS dup_ratio,
       CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
            WHEN n.doc_id IS NOT NULL THEN 'drop_neardup'
            WHEN COALESCE(r.dup_ratio, 0.0) > 0.6 THEN 'drop_dup_pass'
            ELSE 'keep' END AS verdict
FROM (SELECT doc_id::BIGINT AS doc_id FROM documents) d
LEFT JOIN exact_drop e ON d.doc_id = e.doc_id
LEFT JOIN near_drop n ON d.doc_id = n.doc_id
LEFT JOIN ratio r ON d.doc_id = r.doc_id
"""

    o["store_snapshot_expiry"] = """
WITH s AS (
  SELECT 't' || (doc_id % 3) AS table_name,
         doc_id::BIGINT AS snapshot_id,
         (1700000000000 - (doc_id % 400) * 3600000)::BIGINT AS committed_ms
  FROM documents),
r AS (
  SELECT table_name, snapshot_id, committed_ms,
         ROW_NUMBER() OVER (PARTITION BY table_name
           ORDER BY committed_ms DESC, snapshot_id DESC)::BIGINT AS recency_rank,
         ROW_NUMBER() OVER (PARTITION BY table_name,
                            FLOOR(committed_ms / 86400000)
           ORDER BY committed_ms DESC, snapshot_id DESC) AS dr
  FROM s)
SELECT table_name, snapshot_id, committed_ms, recency_rank,
       (dr = 1 AND committed_ms >= 1700000000000 - 7 * 86400000) AS is_daily_keeper,
       NOT (recency_rank <= 5
            OR (dr = 1 AND committed_ms >= 1700000000000 - 7 * 86400000)) AS expire,
       CASE WHEN recency_rank <= 5 THEN 'recent'
            WHEN dr = 1 AND committed_ms >= 1700000000000 - 7 * 86400000 THEN 'daily'
            ELSE 'expire' END AS reason
FROM r
"""

    o["corpus_heaps_curve"] = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents),
mx AS (SELECT MAX(doc_id) AS m FROM documents),
g AS (
  SELECT LEAST(FLOOR(w.doc_id * 10 / (mx.m + 1)), 9)::BIGINT AS bucket,
         unnest(list_transform(range(greatest(len(ws) - 1, 1)),
                i -> array_to_string(ws[i + 1 : i + 2], ' '))) AS gr
  FROM w, mx),
g2 AS (SELECT bucket, gr FROM g WHERE gr <> ''),
first AS (
  SELECT gr, MIN(bucket) AS first_bucket FROM g2 GROUP BY gr),
newb AS (
  SELECT first_bucket AS bucket, COUNT(*)::BIGINT AS n_new_grams
  FROM first GROUP BY first_bucket),
tok AS (
  SELECT bucket, COUNT(*)::BIGINT AS n_tokens FROM g2 GROUP BY bucket),
j AS (
  SELECT t.bucket, t.n_tokens, COALESCE(n.n_new_grams, 0) AS n_new_grams
  FROM tok t LEFT JOIN newb n ON t.bucket = n.bucket)
SELECT bucket, n_tokens, n_new_grams,
       (SUM(n_tokens) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens,
       (SUM(n_new_grams) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_distinct_grams
FROM j
"""

    o["text_readability"] = """
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(
           list_transform(string_split_regex(lower(text), '\\s+'),
                          w -> regexp_replace(w, '[^a-z]', '', 'g')),
           w -> w <> '') AS toks,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
           AS n_sentences
  FROM documents),
s AS (
  SELECT doc_id, len(toks)::BIGINT AS n_words, n_sentences,
         CASE WHEN len(toks) > 0 THEN
           list_aggregate(
             list_transform(toks,
               w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1)),
             'sum')::BIGINT
         ELSE 0 END AS n_syllables
  FROM t)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         ROUND(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
                       - 84.6 * (n_syllables::DOUBLE / n_words), 6)
       END AS flesch,
       CASE WHEN n_words > 0 THEN
         ROUND(0.39 * (n_words::DOUBLE / n_sentences)
               + 11.8 * (n_syllables::DOUBLE / n_words) - 15.59, 6)
       END AS fk_grade
FROM s
"""

    o["text_code_detect"] = """
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[^{}\\[\\]();=<>]', '', 'g')) AS syms,
         len(regexp_extract_all(text,
           '\\b(def|class|return|import|function|var|const|void|int|include)\\b'
         ))::BIGINT AS kw_hits,
         list_filter(string_split(text, chr(10)),
                     l -> trim(l) <> '') AS lines
  FROM documents),
r AS (
  SELECT doc_id, kw_hits,
         CASE WHEN nonspace > 0
              THEN ROUND(syms::DOUBLE / nonspace, 6) ELSE 0.0 END AS sym_ratio,
         CASE WHEN len(lines) > 0 THEN ROUND(
           len(list_filter(lines,
               l -> regexp_matches(l, '^(\t|  )')))::DOUBLE / len(lines), 6)
         ELSE 0.0 END AS indent_ratio
  FROM t)
SELECT doc_id, sym_ratio, kw_hits, indent_ratio,
       ((sym_ratio >= 0.05)::INT + (kw_hits >= 3)::INT
        + (indent_ratio >= 0.3)::INT)::BIGINT AS code_votes,
       ((sym_ratio >= 0.05)::INT + (kw_hits >= 3)::INT
        + (indent_ratio >= 0.3)::INT >= 2)::BIGINT AS is_code
FROM r
"""

    o["corpus_zipf_fit"] = """
WITH tok AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
c AS (
  SELECT lang, term, COUNT(*)::BIGINT AS cnt
  FROM tok WHERE term <> '' GROUP BY lang, term),
r AS (
  SELECT lang, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term ASC)
           AS rank
  FROM c),
p AS (
  SELECT lang,
         CAST(ROUND(ln(rank::DOUBLE), 6) AS DECIMAL(18,6)) AS x,
         CAST(ROUND(ln(cnt::DOUBLE), 6) AS DECIMAL(18,6)) AS y
  FROM r WHERE rank <= 100),
a AS (
  SELECT lang, COUNT(*)::BIGINT AS n_terms,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
  FROM p GROUP BY lang)
SELECT lang, n_terms,
  CASE WHEN n_terms >= 2 THEN ROUND(
    (n_terms::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
      / (n_terms::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
  END AS zipf_slope,
  CASE WHEN n_terms >= 2 THEN ROUND(
    sy::DOUBLE / n_terms::DOUBLE
    - (n_terms::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
      / (n_terms::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
      * sx::DOUBLE / n_terms::DOUBLE, 6)
  END AS zipf_intercept
FROM a
"""

    o["store_bloom_file_index"] = """
WITH d AS (
  SELECT (o_orderkey % 16)::BIGINT AS file_id, o_orderkey::BIGINT AS k
  FROM orders),
pos AS (
  SELECT file_id, unnest([
      ('0x' || substr(md5(k::VARCHAR), 1, 4))::BIGINT % 16384,
      ('0x' || substr(md5(k::VARCHAR), 5, 4))::BIGINT % 16384]) AS p
  FROM d),
bl AS (
  SELECT file_id, (p // 32)::BIGINT AS word_idx,
         bit_or(1::BIGINT << (p % 32)::INT) AS word
  FROM pos GROUP BY 1, 2),
pk AS (SELECT (k * 101)::BIGINT AS probe_key FROM range(1, 595) t(k)),
pp AS (
  SELECT probe_key,
         ('0x' || substr(md5(probe_key::VARCHAR), 1, 4))::BIGINT % 16384 AS p1,
         ('0x' || substr(md5(probe_key::VARCHAR), 5, 4))::BIGINT % 16384 AS p2
  FROM pk),
h1 AS (
  SELECT probe_key, file_id FROM pp JOIN bl ON bl.word_idx = pp.p1 // 32
  WHERE (word & (1::BIGINT << (p1 % 32)::INT)) <> 0),
h2 AS (
  SELECT probe_key, file_id FROM pp JOIN bl ON bl.word_idx = pp.p2 // 32
  WHERE (word & (1::BIGINT << (p2 % 32)::INT)) <> 0),
mb AS (
  SELECT h1.probe_key, h1.file_id FROM h1 JOIN h2
    ON h1.probe_key = h2.probe_key AND h1.file_id = h2.file_id),
tr AS (
  SELECT DISTINCT pk.probe_key, d.file_id
  FROM pk JOIN d ON d.k = pk.probe_key),
ms AS (SELECT probe_key, COUNT(*)::BIGINT AS n_files_maybe FROM mb GROUP BY 1),
ts AS (SELECT probe_key, COUNT(*)::BIGINT AS n_files_true FROM tr GROUP BY 1)
SELECT pk.probe_key,
       COALESCE(ms.n_files_maybe, 0)::BIGINT AS n_files_maybe,
       COALESCE(ts.n_files_true, 0)::BIGINT AS n_files_true,
       (COALESCE(ms.n_files_maybe, 0) - COALESCE(ts.n_files_true, 0))::BIGINT
         AS n_false_pos,
       (16 - COALESCE(ms.n_files_maybe, 0))::BIGINT AS n_files_skipped
FROM pk LEFT JOIN ms ON ms.probe_key = pk.probe_key
        LEFT JOIN ts ON ts.probe_key = pk.probe_key
"""

    o["store_orphan_files"] = """
WITH li AS (
  SELECT 'data/f' || doc_id || '.parquet' AS path,
         (1700000000000 - (doc_id % 40) * 21600000)::BIGINT AS mtime_ms
  FROM documents WHERE doc_id % 17 <> 3),
rf AS (
  SELECT DISTINCT 'data/f' || doc_id || '.parquet' AS path
  FROM documents WHERE doc_id % 5 <> 0),
j AS (
  SELECT COALESCE(li.path, rf.path) AS path, li.mtime_ms,
         li.path IS NOT NULL AS in_listing,
         rf.path IS NOT NULL AS referenced
  FROM li FULL OUTER JOIN rf ON li.path = rf.path)
SELECT path, mtime_ms, referenced,
  CASE WHEN NOT in_listing THEN 'missing'
       WHEN referenced THEN 'ok'
       WHEN mtime_ms <= 1700000000000 - 3 * 86400000 THEN 'orphan'
       ELSE 'recent_unreferenced' END AS status,
  (NOT referenced AND in_listing
   AND mtime_ms <= 1700000000000 - 3 * 86400000) AS delete
FROM j
"""

    o["text_lm_kneser_ney"] = """
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
           FROM documents),
bz AS (SELECT doc_id,
              unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
       FROM w),
bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bz),
tb AS (SELECT * FROM bg WHERE doc_id % 3 = 0),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM tb GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c2) AS c1, count(*) AS t1 FROM c2 GROUP BY w1),
cont AS (SELECT w2, count(*) AS tc FROM c2 GROUP BY w2),
sc AS (SELECT count(*) AS tt,
              sum((c2 = 1)::INT) AS n1, sum((c2 = 2)::INT) AS n2
       FROM c2),
v AS (SELECT count(DISTINCT t.w) AS v
      FROM (SELECT unnest(ws) AS w FROM w WHERE doc_id % 3 = 0) t),
dd AS (SELECT CASE WHEN n1 + 2 * n2 > 0
                   THEN n1::DOUBLE / (n1 + 2 * n2) ELSE 0.75 END AS d,
              tt FROM sc),
s AS (SELECT bg.doc_id,
             -ln(CASE WHEN coalesce(ctx.c1, 0) > 0 THEN
                   greatest(coalesce(c2.c2, 0)::DOUBLE - dd.d, 0.0)
                     / coalesce(ctx.c1, 0)::DOUBLE
                   + dd.d * coalesce(ctx.t1, 0)::DOUBLE
                     / coalesce(ctx.c1, 0)::DOUBLE
                     * ((coalesce(cont.tc, 0)::DOUBLE + 1.0)
                        / (dd.tt + v.v + 1)::DOUBLE)
                 ELSE (coalesce(cont.tc, 0)::DOUBLE + 1.0)
                      / (dd.tt + v.v + 1)::DOUBLE END) AS nll
      FROM bg LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
              LEFT JOIN ctx ON bg.w1 = ctx.w1
              LEFT JOIN cont ON bg.w2 = cont.w2
              CROSS JOIN dd CROSS JOIN v)
SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(nll), 6) AS avg_nll, round(exp(avg(nll)), 3) AS ppl
FROM s GROUP BY doc_id
"""

    o["g6_graph_stats"] = """
WITH raw AS (
  SELECT 'r' || substr(md5('s' || event_id), 1, 2) AS s,
         'r' || substr(md5('d' || event_id), 1, 2) AS d
  FROM events WHERE event_id % 4 = 0
  UNION ALL
  SELECT 'f' || substr(md5('a' || event_id), 1, 1),
         'f' || substr(md5('b' || event_id), 1, 1)
  FROM events),
e AS (SELECT DISTINCT s, d FROM raw WHERE s <> d),
outd AS (SELECT s, COUNT(*)::BIGINT AS x FROM e GROUP BY s),
ind AS (SELECT d, COUNT(*)::BIGINT AS y FROM e GROUP BY d),
rec AS (
  SELECT COUNT(*)::BIGINT AS n_recip
  FROM e WHERE EXISTS (SELECT 1 FROM e r WHERE r.s = e.d AND r.d = e.s)),
nn AS (
  SELECT COUNT(*)::BIGINT AS n_nodes FROM
    (SELECT s AS n FROM e UNION SELECT d FROM e)),
st AS (
  SELECT COUNT(*)::BIGINT AS m,
         SUM(x::DECIMAL(19,0)) AS sx, SUM(y::DECIMAL(19,0)) AS sy,
         SUM(x::DECIMAL(19,0) * y::DECIMAL(19,0)) AS sxy,
         SUM(x::DECIMAL(19,0) * x::DECIMAL(19,0)) AS sxx,
         SUM(y::DECIMAL(19,0) * y::DECIMAL(19,0)) AS syy
  FROM e JOIN outd USING (s) JOIN ind USING (d))
SELECT nn.n_nodes, st.m AS n_edges, rec.n_recip AS n_reciprocal,
  CASE WHEN st.m > 0
       THEN ROUND(rec.n_recip::DOUBLE / st.m::DOUBLE, 6) END AS reciprocity,
  CASE WHEN st.m >= 2
        AND st.m::DOUBLE * st.sxx::DOUBLE - st.sx::DOUBLE * st.sx::DOUBLE > 0
        AND st.m::DOUBLE * st.syy::DOUBLE - st.sy::DOUBLE * st.sy::DOUBLE > 0
       THEN ROUND(
         (st.m::DOUBLE * st.sxy::DOUBLE - st.sx::DOUBLE * st.sy::DOUBLE)
         / (SQRT(st.m::DOUBLE * st.sxx::DOUBLE - st.sx::DOUBLE * st.sx::DOUBLE)
            * SQRT(st.m::DOUBLE * st.syy::DOUBLE - st.sy::DOUBLE * st.sy::DOUBLE)),
         6)
  END AS assortativity
FROM st CROSS JOIN rec CROSS JOIN nn
"""

    o["pipeline_soft_dedup"] = """
WITH RECURSIVE g AS (
SELECT doc_id, list_distinct(
  CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
       ELSE [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
  END) AS grams
FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents) t
), 
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1), 6) AS jaccard
      FROM g a JOIN g b ON a.doc_id < b.doc_id),
ed AS (SELECT id_a AS u, id_b AS v FROM p WHERE jaccard >= 0.5
       UNION SELECT id_b, id_a FROM p WHERE jaccard >= 0.5),
vs AS (SELECT DISTINCT u AS n FROM ed),
reach(node, label) AS (
  SELECT n, n FROM vs
  UNION
  SELECT ed.v, r.label FROM reach r JOIN ed ON ed.u = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
lab AS (SELECT d.doc_id::BIGINT AS doc_id,
               coalesce(c.component, d.doc_id)::BIGINT AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM lab GROUP BY cluster_id),
tk AS (SELECT doc_id::BIGINT AS doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END::BIGINT
           AS n_tokens
       FROM documents)
SELECT l.doc_id, l.cluster_id, s.cluster_size, tk.n_tokens,
       ROUND(1.0 / s.cluster_size::DOUBLE, 6) AS weight,
       ROUND(tk.n_tokens::DOUBLE * (1.0 / s.cluster_size::DOUBLE), 6)
         AS eff_tokens
FROM lab l JOIN sz s USING (cluster_id) JOIN tk USING (doc_id)

"""

    o["agg_gini_skew"] = """
WITH c AS (
  SELECT user_id AS k, COUNT(*)::BIGINT AS x FROM events GROUP BY user_id),
r AS (
  SELECT x,
         ROW_NUMBER() OVER (ORDER BY x ASC, k ASC) AS i,
         ROW_NUMBER() OVER (ORDER BY x DESC, k ASC) AS ri
  FROM c),
a AS (
  SELECT COUNT(*)::BIGINT AS n_keys,
         SUM(x::DECIMAL(38,0)) AS sx,
         SUM(i::DECIMAL(19,0) * x::DECIMAL(19,0)) AS six,
         SUM((CASE WHEN ri = 1 THEN x ELSE 0 END)::DECIMAL(38,0)) AS top1,
         SUM((CASE WHEN ri <= 10 THEN x ELSE 0 END)::DECIMAL(38,0)) AS top10
  FROM r)
SELECT n_keys, sx::BIGINT AS total,
  CASE WHEN n_keys >= 2 AND sx > 0 THEN ROUND(
    (2.0 * six::DOUBLE - (n_keys::DOUBLE + 1.0) * sx::DOUBLE)
    / (n_keys::DOUBLE * sx::DOUBLE), 6) END AS gini,
  CASE WHEN sx > 0 THEN ROUND(top1::DOUBLE / sx::DOUBLE, 6) END AS top1_share,
  CASE WHEN sx > 0 THEN ROUND(top10::DOUBLE / sx::DOUBLE, 6) END AS top10_share
FROM a
"""

    o["p27_drain_eta"] = """
WITH pend AS (
  SELECT 'h' || (user_id % 40) AS host, COUNT(*)::BIGINT AS n_pending
  FROM events GROUP BY 1),
del AS (
  SELECT DISTINCT 'h' || (user_id % 40) AS host,
         ((user_id % 40) % 5)::DOUBLE * 0.5 + 0.5 AS crawl_delay_s
  FROM events),
j AS (
  SELECT p.host, p.n_pending,
         COALESCE(d.crawl_delay_s, 1.0) AS delay
  FROM pend p LEFT JOIN del d ON d.host = p.host),
c AS (
  SELECT host, n_pending, delay,
         CASE WHEN delay > 0
              THEN FLOOR(60.0 / delay)::BIGINT + 1 END AS cap
  FROM j),
f AS (
  SELECT host, n_pending, delay, cap,
         CASE WHEN cap IS NOT NULL THEN LEAST(n_pending, cap)
              ELSE n_pending END AS fetchable,
         CASE WHEN cap IS NOT NULL
              THEN FLOOR((n_pending + cap - 1)::DOUBLE / cap::DOUBLE)::BIGINT
              ELSE 1 END AS rounds
  FROM c)
SELECT host, n_pending,
       ROUND(delay, 6) AS crawl_delay_s,
       ROUND((n_pending::DOUBLE - 1.0) * delay, 6) AS drain_eta_s,
       fetchable::BIGINT AS fetchable_this_round,
       (n_pending - fetchable)::BIGINT AS carryover,
       rounds AS rounds_needed,
       rounds > 1 AS overflows
FROM f
"""

    o["stream_watermark_audit"] = """
WITH base AS (
  SELECT event_id AS id, epoch_us(ts) AS ev_us,
         epoch_us(ts) + (event_id % 13) * 17000000 AS ar_us
  FROM events),
bb AS (SELECT *, (ar_us // 3600000000)::BIGINT AS b FROM base),
bm AS (SELECT b, MAX(ev_us) AS bmax FROM bb GROUP BY b),
pr AS (SELECT b, MAX(bmax) OVER (ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
       FROM bm),
sc AS (
  SELECT bb.id, bb.ev_us, pr.prior_max,
         MAX(bb.ev_us) OVER (PARTITION BY bb.b ORDER BY bb.ar_us, bb.id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS intra_max
  FROM bb JOIN pr USING (b)),
rr AS (
  SELECT (ev_us // 300000000)::BIGINT * 300 AS window_start,
         GREATEST(prior_max, intra_max) AS basis, ev_us
  FROM sc)
SELECT window_start, COUNT(*)::BIGINT AS n_events,
       SUM((basis IS NOT NULL AND basis > ev_us)::INT)::BIGINT
         AS n_out_of_order,
       SUM((basis IS NOT NULL
            AND basis - 60000000 > (window_start + 300) * 1000000)::INT
       )::BIGINT AS n_dropped,
       ROUND(SUM((basis IS NOT NULL
                  AND basis - 60000000 > (window_start + 300) * 1000000
                 )::INT)::DOUBLE / COUNT(*)::DOUBLE, 6) AS drop_ratio
FROM rr GROUP BY window_start
"""

    o["mm_span_transitions"] = """
WITH w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
k AS (SELECT doc_id, list_transform(ws,
        x -> CASE WHEN length(x) % 3 = 0 THEN 'text'
                  WHEN length(x) % 3 = 1 THEN 'link'
                  ELSE 'media' END) AS ks
      FROM w),
bg AS (SELECT doc_id, unnest(list_zip(ks[1:len(ks)-1], ks[2:len(ks)])) AS z
       FROM k),
t AS (SELECT doc_id, z[1] AS from_kind, z[2] AS to_kind FROM bg
      WHERE z[1] IS NOT NULL AND z[2] IS NOT NULL),
c AS (SELECT from_kind, to_kind, COUNT(*)::BIGINT AS n_transitions,
             COUNT(DISTINCT doc_id)::BIGINT AS n_docs
      FROM t GROUP BY 1, 2),
tt AS (SELECT from_kind, SUM(n_transitions) AS ftot FROM c GROUP BY 1)
SELECT c.from_kind, c.to_kind, c.n_transitions, c.n_docs,
       ROUND(c.n_transitions::DOUBLE / tt.ftot::DOUBLE, 6) AS share_of_from
FROM c JOIN tt USING (from_kind)
"""

    o["r14_staleness_expectation"] = """
WITH v AS (SELECT 'u' || (user_id % 500) AS url, epoch_us(ts) AS ts_us,
                  (event_id % 3 = 0) AS changed
           FROM events),
a AS (SELECT url, count(*) AS n,
             sum(CASE WHEN changed THEN 1 ELSE 0 END) AS x,
             max(ts_us) - min(ts_us) AS span_us
      FROM v GROUP BY url
      HAVING count(*) >= 2 AND max(ts_us) - min(ts_us) > 0),
m AS (SELECT url,
             round(-ln(((n - x) + 0.5) / (n + 0.5))
                   / ((CAST(span_us AS DOUBLE) / (n - 1)) / 1000000.0
                      / 86400.0), 6) AS lam
      FROM a),
t AS (SELECT url, lam,
             (1 + substr(url, 2)::INT % 7)::DOUBLE AS period_days,
             lam * (1 + substr(url, 2)::INT % 7)::DOUBLE AS lt
      FROM m)
SELECT url, round(lam, 6) AS lambda_per_day, period_days,
  CASE WHEN lam IS NOT NULL AND lt > 0 THEN round(lt, 6) ELSE 0.0 END
    AS lambda_t,
  CASE WHEN lam IS NOT NULL AND lt > 0 THEN round(1.0 - exp(-lt), 6)
       ELSE 0.0 END AS p_stale_at_revisit,
  CASE WHEN lam IS NOT NULL AND lt > 0
       THEN round(1.0 - (1.0 - exp(-lt)) / lt, 6) ELSE 0.0 END
    AS expected_stale_frac
FROM t
"""

    o["corpus_tokenizer_fertility"] = """
WITH per AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
         len(regexp_extract_all(text, '\\w+|[^\\w\\s]+')) AS t,
         length(text) AS c
  FROM documents)
SELECT lang, COUNT(*)::BIGINT AS n_docs,
       SUM(w)::BIGINT AS n_words, SUM(t)::BIGINT AS n_subwords,
       SUM(c)::BIGINT AS n_chars,
       CASE WHEN SUM(w) > 0
            THEN ROUND(SUM(t)::DOUBLE / SUM(w)::DOUBLE, 6) END AS fertility,
       CASE WHEN SUM(t) > 0
            THEN ROUND(SUM(c)::DOUBLE / SUM(t)::DOUBLE, 6) END
         AS chars_per_subword
FROM per GROUP BY lang
"""

    o["s14_git_identifiers"] = """
WITH ids AS (
  SELECT doc_id::BIGINT AS doc_id,
    CASE WHEN doc_id % 9 = 4
           THEN 'https://git.example.com/o/r' || doc_id || '@zzz-not-hex'
         WHEN doc_id % 7 = 5
           THEN 'https://git.example.com/o/r' || doc_id
         WHEN doc_id % 11 = 3
           THEN 'no-scheme/o/r@' || substr(md5(doc_id::VARCHAR), 1, 12)
         ELSE 'https://Git.Example.COM/org' || (doc_id % 20)
              || '/repo' || doc_id || '.git@'
              || upper(substr(md5(doc_id::VARCHAR), 1, 10)) END AS ident
  FROM documents),
p AS (
  SELECT doc_id, ident,
         position('@' IN ident) > 0 AS has_at,
         substring(ident, 1,
                   length(ident) - position('@' IN reverse(ident))) AS repo_raw,
         lower(substring(ident,
                   length(ident) - position('@' IN reverse(ident)) + 2))
           AS commit
  FROM ids),
r AS (
  SELECT doc_id, ident, has_at, commit,
         regexp_matches(commit, '^[0-9a-f]{7,40}$') AS commit_ok,
         lower(regexp_extract(repo_raw,
           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(repo_raw, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM p),
u AS (
  SELECT doc_id, ident, has_at, commit, commit_ok, scheme,
         lower(regexp_extract(rest, '^([^/]+)', 1)) AS host,
         regexp_replace(regexp_replace(
           regexp_extract(rest, '^[^/]*(/.*)?$', 1), '\\.git$', ''),
           '/$', '') AS path_norm
  FROM r),
v AS (
  SELECT doc_id, ident, commit,
         has_at AND commit_ok AND scheme <> '' AND host <> ''
           AND path_norm <> '' AS valid,
         scheme || '://' || host || path_norm AS repo_url,
         array_to_string(list_reverse(string_split(host, '.')), '.')
           || path_norm AS repo_key
  FROM u)
SELECT doc_id, ident,
       CASE WHEN valid THEN repo_url END AS repo_url,
       CASE WHEN valid THEN commit END AS commit_id,
       CASE WHEN valid THEN repo_key END AS repo_key,
       valid
FROM v
"""

    o["p28_host_partition_plan"] = """
WITH l AS (
  SELECT 'h' || (user_id % 60) AS host, COUNT(*)::BIGINT AS load
  FROM events GROUP BY 1),
r AS (
  SELECT host, load,
         ROW_NUMBER() OVER (ORDER BY load DESC, host ASC) - 1 AS rank
  FROM l)
SELECT host, load, rank::BIGINT AS rank,
       (CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
             ELSE 7 - (rank % 8) END)::BIGINT AS partition
FROM r
"""

    o["store_overlap_depth"] = """
WITH fr AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN doc_id * 100
              ELSE doc_id * 60 END::BIGINT AS min_key,
         CASE WHEN doc_id % 3 = 0 THEN doc_id * 100 + 99
              ELSE doc_id * 60 + 150 END::BIGINT AS max_key
  FROM documents),
ev AS (
  SELECT pos, SUM(d) AS dd FROM (
    SELECT min_key AS pos, 1 AS d FROM fr
    UNION ALL SELECT max_key + 1, -1 FROM fr) GROUP BY pos)
SELECT pos,
       LEAD(pos) OVER (ORDER BY pos) AS next_pos,
       (SUM(dd) OVER (ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS depth
FROM ev
"""

    o["r15_change_periodicity"] = """
WITH v AS (
  SELECT 'w' || (user_id % 200) AS url,
         ((epoch_us(ts) // 86400000000) + 3) % 7 AS wd,
         CASE WHEN user_id % 3 = 0
              THEN ((epoch_us(ts) // 86400000000) + 3) % 7 = 2
                   AND event_id % 2 = 0
              ELSE event_id % 5 = 0 END AS changed
  FROM events),
g AS (
  SELECT url, wd, COUNT(*)::BIGINT AS nv,
         SUM(CASE WHEN changed THEN 1 ELSE 0 END)::BIGINT AS nc
  FROM v GROUP BY url, wd),
t AS (SELECT url, SUM(nv)::BIGINT AS n_visits, SUM(nc)::BIGINT AS n_changed
      FROM g GROUP BY url),
pk AS (
  SELECT url, wd AS peak_weekday,
         ROUND(nc::DOUBLE / nv::DOUBLE, 6) AS peak_ratio
  FROM (SELECT g.*, ROW_NUMBER() OVER (PARTITION BY url
          ORDER BY nc::DOUBLE / nv::DOUBLE DESC, wd ASC) AS rn FROM g)
  WHERE rn = 1),
j AS (
  SELECT t.url, t.n_visits, t.n_changed, pk.peak_weekday, pk.peak_ratio,
         ROUND(t.n_changed::DOUBLE / t.n_visits::DOUBLE, 6) AS overall6
  FROM t JOIN pk ON pk.url = t.url)
SELECT url, n_visits, overall6 AS overall_ratio,
       peak_weekday::BIGINT AS peak_weekday,
       CASE WHEN n_changed > 0 THEN peak_ratio ELSE 0.0 END AS peak_ratio,
       CASE WHEN n_changed > 0 THEN ROUND(peak_ratio / overall6, 6)
            ELSE 0.0 END AS concentration,
       (n_visits >= 14 AND n_changed > 0
        AND ROUND(peak_ratio / overall6, 6) >= 2.0) AS is_periodic
FROM j
"""

    o["agg_drift_report"] = """
WITH sa AS (SELECT ROUND(value, 2) AS v FROM events WHERE event_id % 2 = 0),
sb AS (SELECT ROUND(value + 0.5, 2) AS v FROM events WHERE event_id % 2 = 1),
ca AS (SELECT v, COUNT(*)::BIGINT AS na FROM sa GROUP BY v),
cb AS (SELECT v, COUNT(*)::BIGINT AS nb FROM sb GROUP BY v),
j AS (SELECT COALESCE(ca.v, cb.v) AS v,
             COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
      FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
r AS (SELECT v, na, nb,
             SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cca,
             SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS ccb
      FROM j),
t AS (SELECT SUM(na)::BIGINT AS n_a, SUM(nb)::BIGINT AS n_b,
             COUNT(*)::BIGINT AS n_buckets FROM r),
s AS (SELECT r.*, t.n_a, t.n_b, t.n_buckets,
             GREATEST(r.na::DOUBLE / t.n_a, 1e-06) AS pa,
             GREATEST(r.nb::DOUBLE / t.n_b, 1e-06) AS pb
      FROM r CROSS JOIN t)
SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b, MAX(n_buckets) AS n_buckets,
       ROUND(MAX(ABS(cca::DOUBLE / n_a - ccb::DOUBLE / n_b)), 6)
         AS ks_distance,
       ROUND(SUM(ROUND((pa - pb) * LN(pa / pb), 6)::DECIMAL(28,6))::DOUBLE, 6)
         AS psi
FROM s
"""

    o["store_table_stats"] = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
n AS (SELECT COUNT(*)::BIGINT AS n FROM base)
SELECT col AS column, n.n AS n_rows, s.n_nulls, ROUND(s.n_nulls::DOUBLE / n.n, 6) AS null_frac,
       s.ndv, s.min_str, s.max_str, s.avg_len
FROM n CROSS JOIN (
  SELECT 'o_orderkey' AS col,
         SUM((o_orderkey IS NULL)::INT)::BIGINT AS n_nulls,
         COUNT(DISTINCT o_orderkey)::BIGINT AS ndv,
         MIN(o_orderkey::VARCHAR) AS min_str,
         MAX(o_orderkey::VARCHAR) AS max_str,
         ROUND(AVG(length(o_orderkey::VARCHAR)), 2) AS avg_len
  FROM base
  UNION ALL
  SELECT 'o_custkey', SUM((o_custkey IS NULL)::INT)::BIGINT,
         COUNT(DISTINCT o_custkey)::BIGINT,
         MIN(o_custkey::VARCHAR), MAX(o_custkey::VARCHAR),
         ROUND(AVG(length(o_custkey::VARCHAR)), 2)
  FROM base
  UNION ALL
  SELECT 'o_orderstatus', SUM((o_orderstatus IS NULL)::INT)::BIGINT,
         COUNT(DISTINCT o_orderstatus)::BIGINT,
         MIN(o_orderstatus), MAX(o_orderstatus),
         ROUND(AVG(length(o_orderstatus)), 2)
  FROM base
  UNION ALL
  SELECT 'o_totalprice', SUM((o_totalprice IS NULL)::INT)::BIGINT,
         COUNT(DISTINCT o_totalprice)::BIGINT,
         MIN(o_totalprice::VARCHAR), MAX(o_totalprice::VARCHAR),
         ROUND(AVG(length(o_totalprice::VARCHAR)), 2)
  FROM base) s
"""

    o["g7_random_walks"] = """
WITH raw AS (
  SELECT 'r' || substr(md5('s' || event_id), 1, 2) AS u,
         'r' || substr(md5('d' || event_id), 1, 2) AS v
  FROM events WHERE event_id % 4 = 0
  UNION ALL
  SELECT 'f' || substr(md5('a' || event_id), 1, 1),
         'f' || substr(md5('b' || event_id), 1, 1)
  FROM events),
e AS (SELECT DISTINCT u, v FROM raw),
adj AS (SELECT u, v,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1 AS idx
        FROM e),
deg AS (SELECT u, COUNT(*)::BIGINT AS deg FROM e GROUP BY u),
a AS (SELECT adj.u, adj.v, adj.idx, deg.deg FROM adj JOIN deg USING (u)),
n AS (SELECT u AS node FROM e UNION SELECT v FROM e),
f0 AS (SELECT node AS start, node AS cur FROM n),
s1 AS (
  SELECT f0.start, a.v AS cur
  FROM f0 JOIN a ON a.u = f0.cur
   AND a.idx = (('0x' || substr(md5(f0.start || '|' || f0.cur || '|1'), 1, 8))::BIGINT % a.deg)),
s2 AS (
  SELECT s1.start, a.v AS cur
  FROM s1 JOIN a ON a.u = s1.cur
   AND a.idx = (('0x' || substr(md5(s1.start || '|' || s1.cur || '|2'), 1, 8))::BIGINT % a.deg)),
s3 AS (
  SELECT s2.start, a.v AS cur
  FROM s2 JOIN a ON a.u = s2.cur
   AND a.idx = (('0x' || substr(md5(s2.start || '|' || s2.cur || '|3'), 1, 8))::BIGINT % a.deg)),
s4 AS (
  SELECT s3.start, a.v AS cur
  FROM s3 JOIN a ON a.u = s3.cur
   AND a.idx = (('0x' || substr(md5(s3.start || '|' || s3.cur || '|4'), 1, 8))::BIGINT % a.deg))
SELECT start, 0::BIGINT AS step, cur AS node FROM f0
UNION ALL SELECT start, 1, cur FROM s1
UNION ALL SELECT start, 2, cur FROM s2
UNION ALL SELECT start, 3, cur FROM s3
UNION ALL SELECT start, 4, cur FROM s4
"""

    o["s15_frontier_merge"] = """
WITH u AS (
  SELECT 'https://m/p' || (doc_id % 300) AS url,
         (doc_id % 10)::BIGINT AS priority,
         (1000 + doc_id)::BIGINT AS discovery_ts, 'seeds' AS source
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'https://m/p' || (doc_id % 300),
         ((doc_id + 3) % 10)::BIGINT, (2000 + doc_id)::BIGINT, 'links'
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 'https://m/p' || (doc_id % 300),
         ((doc_id + 7) % 10)::BIGINT, (500 + doc_id)::BIGINT, 'sitemap'
  FROM documents WHERE doc_id % 5 = 0)
SELECT url, MAX(priority)::BIGINT AS priority,
       MIN(discovery_ts)::BIGINT AS discovery_ts,
       COUNT(*)::BIGINT AS n_proposals,
       array_to_string(list_sort(list_distinct(list(source))), ',')
         AS sources,
       len(list_distinct(list(source)))::BIGINT AS n_sources
FROM u GROUP BY url
"""

    o["r16_sitemap_coverage"] = """
WITH sm AS (SELECT DISTINCT 'https://c/p' || doc_id AS url
            FROM documents WHERE doc_id % 3 <> 1),
cr AS (SELECT DISTINCT 'https://c/p' || doc_id AS url
       FROM documents WHERE doc_id % 4 <> 2),
j AS (SELECT COALESCE(sm.url, cr.url) AS url,
             sm.url IS NOT NULL AS in_sitemap,
             cr.url IS NOT NULL AS in_crawl
      FROM sm FULL OUTER JOIN cr ON sm.url = cr.url)
SELECT url, in_sitemap, in_crawl,
       CASE WHEN in_sitemap AND in_crawl THEN 'both'
            WHEN in_sitemap THEN 'sitemap_only'
            ELSE 'crawled_only' END AS status
FROM j
"""

    o["f6g_robots_drift"] = """
WITH cand AS (
  SELECT c_custkey::BIGINT AS c_custkey, n_nationkey % 3 AS hk,
         CASE WHEN c_custkey % 3 = 0 THEN '/a/x' || c_custkey
              WHEN c_custkey % 3 = 1 THEN '/a/secret/' || c_custkey
              ELSE '/b/' || c_custkey END AS path
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
v AS (
  SELECT c_custkey,
         NOT ((hk = 0 AND path LIKE '/a%')
              OR (hk = 1 AND path LIKE '/a/secret%')) AS o,
         NOT ((hk = 1 AND path LIKE '/a/secret%')
              OR (hk = 2 AND path LIKE '/b%')) AS n
  FROM cand)
SELECT c_custkey, o AS allowed_old, n AS allowed_new,
       CASE WHEN o AND n THEN 'stable_allowed'
            WHEN NOT o AND NOT n THEN 'stable_blocked'
            WHEN o AND NOT n THEN 'newly_blocked'
            ELSE 'newly_allowed' END AS status
FROM v
"""

    o["text_script_profile"] = """
WITH b AS (
  SELECT doc_id::BIGINT AS doc_id,
         CASE WHEN doc_id % 8 = 1 THEN 'Привет мир это тест данных'
              WHEN doc_id % 8 = 2 THEN text || ' 北京欢迎你 你好世界'
              WHEN doc_id % 8 = 5 THEN 'مرحبا بالعالم هذا اختبار'
              ELSE text END AS t
  FROM documents),
c AS (
  SELECT doc_id,
         length(regexp_replace(t, '[^A-Za-zÀ-ɏ]', '', 'g')) AS la,
         length(regexp_replace(t, '[^Ѐ-ӿ]', '', 'g')) AS cy,
         length(regexp_replace(t, '[^぀-ヿ㐀-䶿一-鿿가-힯]', '', 'g')) AS cj,
         length(regexp_replace(t, '[^؀-ۿ]', '', 'g')) AS ar,
         length(regexp_replace(t, '[^Ͱ-Ͽ]', '', 'g')) AS gr
  FROM b),
sh AS (
  SELECT doc_id, la + cy + cj + ar + gr AS tot,
         CASE WHEN la + cy + cj + ar + gr > 0
              THEN ROUND(la::DOUBLE / (la+cy+cj+ar+gr), 6) ELSE 0.0 END AS ls,
         CASE WHEN la + cy + cj + ar + gr > 0
              THEN ROUND(cy::DOUBLE / (la+cy+cj+ar+gr), 6) ELSE 0.0 END AS cs,
         CASE WHEN la + cy + cj + ar + gr > 0
              THEN ROUND(cj::DOUBLE / (la+cy+cj+ar+gr), 6) ELSE 0.0 END AS js,
         CASE WHEN la + cy + cj + ar + gr > 0
              THEN ROUND(ar::DOUBLE / (la+cy+cj+ar+gr), 6) ELSE 0.0 END AS asx,
         CASE WHEN la + cy + cj + ar + gr > 0
              THEN ROUND(gr::DOUBLE / (la+cy+cj+ar+gr), 6) ELSE 0.0 END AS gs
  FROM c)
SELECT doc_id, ls AS latin_share, cs AS cyrillic_share, js AS cjk_share,
       asx AS arabic_share, gs AS greek_share, tot::BIGINT AS n_script_chars,
       CASE WHEN gs > GREATEST(ls, cs, js, asx) THEN 'greek'
            WHEN asx > GREATEST(ls, cs, js) THEN 'arabic'
            WHEN js > GREATEST(ls, cs) THEN 'cjk'
            WHEN cs > ls THEN 'cyrillic'
            WHEN ls > 0 THEN 'latin'
            ELSE 'none' END AS dominant_script
FROM sh
"""

    o["sim_binary_topk"] = """
WITH sig AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding[1:32],
           (x, i) -> CASE WHEN x >= 0 THEN (1::BIGINT << (i - 1))
                          ELSE 0 END))::BIGINT AS w0,
         list_sum(list_transform(embedding[33:64],
           (x, i) -> CASE WHEN x >= 0 THEN (1::BIGINT << (i - 1))
                          ELSE 0 END))::BIGINT AS w1
  FROM embeddings),
qs AS (SELECT vec_id AS query_id, embedding AS qv, w0 AS qw0, w1 AS qw1
       FROM sig WHERE vec_id < 8),
h AS (
  SELECT qs.query_id, s.vec_id, s.embedding, qs.qv,
         (bit_count(xor(s.w0, qs.qw0))
          + bit_count(xor(s.w1, qs.qw1)))::BIGINT AS hamming
  FROM sig s CROSS JOIN qs),
sh AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY hamming ASC, vec_id ASC) AS srank
  FROM h),
rr AS (
  SELECT query_id, vec_id, hamming,
         ROUND(
           list_sum(list_transform(embedding,
             (x, i) -> x::DOUBLE * qv[i]::DOUBLE))
           / GREATEST(
               sqrt(list_sum(list_transform(embedding,
                 x -> x::DOUBLE * x::DOUBLE)))
               * sqrt(list_sum(list_transform(qv,
                   x -> x::DOUBLE * x::DOUBLE))), 1e-12), 6) AS cosine
  FROM sh WHERE srank <= 50)
SELECT query_id, ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, vec_id ASC)::BIGINT AS rank,
       vec_id, hamming, cosine
FROM rr
QUALIFY rank <= 10
"""

    o["store_backfill_islands"] = """
WITH pr AS (
  SELECT DISTINCT 'src' || (doc_id % 3) AS source,
         (doc_id % 120)::BIGINT AS part
  FROM documents WHERE doc_id % 7 <> 2 AND doc_id % 31 > 5),
span AS (SELECT source, MIN(part) AS p0, MAX(part) AS p1
         FROM pr GROUP BY source),
grid AS (SELECT source, unnest(range(p0, p1 + 1))::BIGINT AS part FROM span),
miss AS (
  SELECT g.source, g.part FROM grid g
  WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.source = g.source
                    AND pr.part = g.part)),
isl AS (
  SELECT source, part,
         part - ROW_NUMBER() OVER (PARTITION BY source ORDER BY part)
           AS island
  FROM miss)
SELECT source, MIN(part)::BIGINT AS start_part, MAX(part)::BIGINT AS end_part,
       COUNT(*)::BIGINT AS n_missing
FROM isl GROUP BY source, island
"""

    o["text_lexical_diversity"] = """
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents),
b AS (
  SELECT doc_id, len(toks) AS n,
         CASE WHEN len(toks) > 0 THEN
           ROUND(len(list_distinct(toks))::DOUBLE / len(toks), 6) END AS ttr,
         toks
  FROM t)
SELECT doc_id, n::BIGINT AS n_tokens, ttr,
       CASE WHEN n >= 50 THEN ROUND(
         list_sum(list_transform(range(1, n - 50 + 2),
           i -> len(list_distinct(toks[i:i+49]))::DOUBLE / 50.0))
         / (n - 49)::DOUBLE, 6)
       ELSE ttr END AS mattr
FROM b
"""

    o["g8_modularity"] = """
WITH comm AS (
WITH e0 AS (SELECT 'h' || (l_suppkey % 100) AS s, 'h' || (l_partkey % 103) AS d FROM lineitem),
e AS MATERIALIZED (SELECT DISTINCT s, d FROM (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0) u WHERE s <> d),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM e),
c1 AS (SELECT e.d AS node, l.label, count(*) AS cnt FROM e JOIN l0 l ON e.s = l.node GROUP BY e.d, l.label),
l1 AS MATERIALIZED (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn FROM c1) t WHERE rn = 1),
c2 AS (SELECT e.d AS node, l.label, count(*) AS cnt FROM e JOIN l1 l ON e.s = l.node GROUP BY e.d, l.label),
l2 AS MATERIALIZED (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn FROM c2) t WHERE rn = 1),
c3 AS (SELECT e.d AS node, l.label, count(*) AS cnt FROM e JOIN l2 l ON e.s = l.node GROUP BY e.d, l.label),
l3 AS MATERIALIZED (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn FROM c3) t WHERE rn = 1)
SELECT node, label FROM l3
),
raw AS (
  SELECT 'h' || (l_suppkey % 100) AS a, 'h' || (l_partkey % 103) AS b
  FROM lineitem),
und AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM raw WHERE a <> b),
e AS (
  SELECT und.u, und.v, cu.label AS cu, cv.label AS cv
  FROM und JOIN comm cu ON cu.node = und.u
           JOIN comm cv ON cv.node = und.v),
m AS (SELECT COUNT(*)::BIGINT AS m FROM e),
deg AS (
  SELECT c, COUNT(*)::BIGINT AS d_c FROM (
    SELECT cu AS c FROM e UNION ALL SELECT cv FROM e) GROUP BY c),
intra AS (
  SELECT cu AS c, COUNT(*)::BIGINT AS m_c FROM e WHERE cu = cv GROUP BY cu),
per AS (
  SELECT deg.c, COALESCE(intra.m_c, 0) AS m_c, deg.d_c, m.m
  FROM deg LEFT JOIN intra ON intra.c = deg.c CROSS JOIN m)
SELECT COUNT(*)::BIGINT AS n_communities,
       MAX(m)::BIGINT AS n_edges,
       ROUND(SUM(ROUND(m_c::DOUBLE / m::DOUBLE
                 - (d_c::DOUBLE / (2.0 * m::DOUBLE))
                   * (d_c::DOUBLE / (2.0 * m::DOUBLE)), 6
             )::DECIMAL(28,6))::DOUBLE, 6) AS modularity
FROM per
"""

    o["c1f_host_alias_fold"] = """
WITH h AS (
  SELECT doc_id::BIGINT AS doc_id,
    CASE WHEN doc_id % 7 = 1 THEN 'www.site' || (doc_id % 40) || '.com'
         WHEN doc_id % 7 = 2 THEN 'm.site' || (doc_id % 40) || '.com'
         WHEN doc_id % 7 = 3 THEN 'amp.m.site' || (doc_id % 40) || '.com'
         WHEN doc_id % 7 = 4 THEN 'mobile.site' || (doc_id % 40) || '.com'
         ELSE 'site' || (doc_id % 40) || '.com' END AS host
  FROM documents),
f AS (
  SELECT doc_id, host,
         regexp_replace(
           regexp_replace(host, '^(www|m|mobile|amp)\\.', ''),
           '^(www|m|mobile|amp)\\.', '') AS canonical_host
  FROM h)
SELECT doc_id, host, canonical_host, host <> canonical_host AS was_alias
FROM f
"""

    o["text_url_density"] = """
WITH b AS (
  SELECT doc_id::BIGINT AS doc_id,
         CASE WHEN doc_id % 9 = 4 THEN text || ' ' || array_to_string(
           list_transform(range(1, 13),
             i -> 'https://f' || doc_id || '-' || i || '.example.com/x'),
           ' ')
         ELSE text END AS t
  FROM documents),
c AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(t)), '\\s+'),
                         x -> x <> '')) AS n,
         (len(regexp_extract_all(t, 'https?://[^\\s]+'))
          + len(regexp_extract_all(t, '(^|\\s)www\\.[^\\s]+')))::BIGINT
           AS nu
  FROM b)
SELECT doc_id, n::BIGINT AS n_words, nu AS n_url_mentions,
       CASE WHEN n > 0 THEN ROUND(nu::DOUBLE / n::DOUBLE * 100.0, 6) END
         AS url_density,
       COALESCE(CASE WHEN n > 0
                     THEN ROUND(nu::DOUBLE / n::DOUBLE * 100.0, 6) >= 20.0
                END, FALSE) AS linkfarm_flag
FROM c
"""

    o["g9_cocitation"] = """
WITH raw AS (
  SELECT 'r' || substr(md5('s' || event_id), 1, 2) AS s,
         'r' || substr(md5('d' || event_id), 1, 2) AS d
  FROM events WHERE event_id % 4 = 0
  UNION ALL
  SELECT 'f' || substr(md5('a' || event_id), 1, 1),
         'f' || substr(md5('b' || event_id), 1, 1)
  FROM events),
e AS (SELECT DISTINCT s, d FROM raw WHERE s <> d),
outdeg AS (SELECT s, COUNT(*)::BIGINT AS deg FROM e GROUP BY s),
indeg AS (SELECT d, COUNT(*)::BIGINT AS ind FROM e GROUP BY d),
kept AS (SELECT e.s, e.d FROM e JOIN indeg USING (d) WHERE ind <= 1000),
pairs AS (
  SELECT a.s AS src_a, b.s AS src_b, COUNT(*)::BIGINT AS n_shared
  FROM kept a JOIN kept b ON a.d = b.d AND a.s < b.s
  GROUP BY a.s, b.s HAVING COUNT(*) >= 2)
SELECT p.src_a, p.src_b, p.n_shared,
       da.deg AS deg_a, db.deg AS deg_b,
       ROUND(p.n_shared::DOUBLE
             / (da.deg + db.deg - p.n_shared)::DOUBLE, 6) AS jaccard
FROM pairs p JOIN outdeg da ON da.s = p.src_a
             JOIN outdeg db ON db.s = p.src_b
"""

    o["pipeline_url_admission"] = """
WITH cand AS (
  SELECT doc_id::BIGINT AS doc_id,
    CASE WHEN doc_id % 11 = 1 THEN 'ftp://bad' || doc_id || '.com/x'
         WHEN doc_id % 11 = 2
           THEN 'https://www.spam' || (doc_id % 5) || '.bad.example/x'
         WHEN doc_id % 11 = 3
           THEN 'https://m.site' || (doc_id % 7) || '.test/private/p' || doc_id
         WHEN doc_id % 11 = 4
           THEN 'https://site' || (doc_id % 7) || '.test/a/a/a/a/p'
         ELSE 'https://site' || (doc_id % 7) || '.test/ok/p' || doc_id
    END AS url
  FROM documents),
pr AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM cand),
hp AS (
  SELECT doc_id, url, scheme,
         lower(regexp_extract(rest, '^([^/]+)', 1)) AS host,
         COALESCE(regexp_extract(rest, '^[^/]*(/.*)?$', 1), '') AS path
  FROM pr),
ch AS (
  SELECT doc_id, url, scheme, path,
         regexp_replace(regexp_replace(host, '^(www|m|mobile|amp)\\.', ''),
                        '^(www|m|mobile|amp)\\.', '') AS chost,
         host
  FROM hp),
v AS (
  SELECT doc_id, url, chost, path,
         scheme NOT IN ('http', 'https') OR host = '' AS malformed,
         chost LIKE '%.bad.example' AS blocked,
         (chost LIKE 'site_.test' AND path LIKE '/private%') AS robots_hit,
         (len(list_filter(
            list_filter(string_split(path, '/'), x -> x <> ''),
            (x, i) -> i <= len(list_filter(string_split(path, '/'),
                                           x2 -> x2 <> '')) - 2
                      AND x = list_filter(string_split(path, '/'),
                                          x3 -> x3 <> '')[i + 1]
                      AND x = list_filter(string_split(path, '/'),
                                          x4 -> x4 <> '')[i + 2])) > 0)
           AS trap
  FROM ch)
SELECT doc_id, url,
       CASE WHEN malformed THEN NULL ELSE chost END AS canonical_host,
       CASE WHEN malformed THEN NULL ELSE path END AS path,
       CASE WHEN malformed OR blocked OR robots_hit OR trap
            THEN 'reject' ELSE 'admit' END AS verdict,
       CASE WHEN malformed THEN 'malformed'
            WHEN blocked THEN 'blocklisted'
            WHEN robots_hit THEN 'robots'
            WHEN trap THEN 'trap'
            ELSE 'ok' END AS reason
FROM v
"""

    o["corpus_dedup_by_source"] = """
WITH d AS (
  SELECT source,
         md5(CASE WHEN doc_id % 6 = 5
                  THEN 'dup-of-' || ((doc_id - 5) % 97)
                  ELSE 'uniq-' || doc_id END) AS digest
  FROM documents),
per AS (
  SELECT source, COUNT(*)::BIGINT AS n_docs,
         COUNT(DISTINCT digest)::BIGINT AS n_unique
  FROM d GROUP BY source),
spread AS (
  SELECT digest, COUNT(*)::BIGINT AS n_sources
  FROM (SELECT DISTINCT source, digest FROM d) GROUP BY digest),
cross_c AS (
  SELECT d.source, COUNT(*)::BIGINT AS n_cross
  FROM d JOIN spread USING (digest)
  WHERE n_sources > 1 GROUP BY d.source)
SELECT per.source, per.n_docs, per.n_unique,
       ROUND(1.0 - per.n_unique::DOUBLE / per.n_docs::DOUBLE, 6) AS dup_rate,
       COALESCE(c.n_cross, 0)::BIGINT AS n_cross_source,
       ROUND(COALESCE(c.n_cross, 0)::DOUBLE / per.n_docs::DOUBLE, 6)
         AS cross_rate
FROM per LEFT JOIN cross_c c ON c.source = per.source
"""

    o["r17_host_summary"] = """
WITH f AS (
  SELECT 'h' || (user_id % 50) AS host,
         CASE WHEN user_id % 50 = 7 THEN 503
              WHEN event_id % 10 = 3 THEN 404
              ELSE 200 END AS status,
         FLOOR(ABS(value) * 100 + (event_id % 900))::BIGINT AS latency_ms,
         event_id % 4 = 0 AS changed
  FROM events),
a AS (
  SELECT host, COUNT(*)::BIGINT AS n_fetches,
         SUM((status BETWEEN 200 AND 299)::INT)::BIGINT AS n_ok,
         SUM((NOT status BETWEEN 200 AND 299)::INT)::BIGINT AS n_err,
         SUM(changed::INT)::BIGINT AS n_changed,
         SUM(latency_ms::DECIMAL(28,0)) AS lat_sum,
         list_sort(list(latency_ms)) AS lats
  FROM f GROUP BY host),
r AS (
  SELECT host, n_fetches, n_ok, n_err,
         ROUND(n_err::DOUBLE / n_fetches::DOUBLE, 6) AS err_rate,
         ROUND(lat_sum::DOUBLE / n_fetches::DOUBLE, 6) AS mean_latency_ms,
         lats[CEIL(n_fetches::DOUBLE * 0.95)::INT]::BIGINT AS p95_latency_ms,
         ROUND(n_changed::DOUBLE / n_fetches::DOUBLE, 6) AS change_rate
  FROM a)
SELECT host, n_fetches, n_ok, n_err, err_rate, mean_latency_ms,
       p95_latency_ms, change_rate,
       CASE WHEN err_rate >= 0.5 THEN 'red'
            WHEN err_rate >= 0.2 OR p95_latency_ms >= 5000 THEN 'yellow'
            ELSE 'green' END AS health
FROM r
"""

    o["corpus_pack_efficiency"] = """
WITH packed AS (

WITH RECURSIVE d AS (
  SELECT doc_id % 8 AS shard, doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT shard, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS cum,
         (row_number() OVER (PARTITION BY shard ORDER BY doc_id))::BIGINT AS idx
  FROM d),
m AS (SELECT shard, max(idx) AS n FROM c GROUP BY shard),
seqs AS (
  SELECT m.shard, 1::BIGINT AS s, 0::BIGINT AS base, 0::BIGINT AS seq_id,
         greatest(1::BIGINT, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = m.shard AND c.cum <= 89), 0::BIGINT)) AS e
  FROM m
  UNION ALL
  SELECT sq.shard, sq.e + 1 AS s,
         (SELECT cum FROM c WHERE c.shard = sq.shard AND c.idx = sq.e) AS base,
         sq.seq_id + 1 AS seq_id,
         greatest(sq.e + 1, coalesce((SELECT max(idx) FROM c
            WHERE c.shard = sq.shard
              AND c.cum <= (SELECT cum FROM c c2
                            WHERE c2.shard = sq.shard AND c2.idx = sq.e) + 89),
            0::BIGINT)) AS e
  FROM seqs sq JOIN m ON m.shard = sq.shard
  WHERE sq.e < m.n)
SELECT c.shard::BIGINT AS shard, c.doc_id::BIGINT AS doc_id,
       c.n_tokens, sq.seq_id,
       (c.idx - sq.s)::BIGINT AS pos_in_seq,
       (c.cum - c.n_tokens - sq.base)::BIGINT AS tok_offset,
       ((SELECT cum FROM c c3 WHERE c3.shard = c.shard AND c3.idx = sq.e)
        - sq.base)::BIGINT AS seq_tokens
FROM c JOIN seqs sq ON c.shard = sq.shard AND c.idx BETWEEN sq.s AND sq.e

),
seqs AS (SELECT DISTINCT shard, seq_id, seq_tokens FROM packed)
SELECT shard, COUNT(*)::BIGINT AS n_seqs,
       SUM(seq_tokens)::BIGINT AS total_tokens,
       ROUND(SUM(seq_tokens)::DOUBLE / (COUNT(*)::DOUBLE * 89.0), 6)
         AS mean_fill,
       ROUND(1.0 - SUM(LEAST(seq_tokens, 89))::DOUBLE
             / (COUNT(*)::DOUBLE * 89.0), 6) AS pad_waste
FROM seqs GROUP BY shard
"""

    o["agg_weighted_median"] = """
WITH rows_in AS (
  SELECT 'h' || (user_id % 30) AS host,
         ROUND(value, 3)::DOUBLE AS v,
         ((event_id % 9) + 1)::DOUBLE AS w
  FROM events),
g AS (
  SELECT host, COUNT(*)::BIGINT AS n_rows,
         list_sort(list({'v': v, 'w': w})) AS vw,
         SUM(w) AS tw
  FROM rows_in WHERE w > 0 GROUP BY host),
sc AS (
  SELECT host, n_rows, tw, vw,
         list_filter(range(1, len(vw) + 1),
           i -> list_sum(list_transform(vw[1:i], s -> s.w))
                >= tw * 0.5 - 1e-12) AS idxs
  FROM g)
SELECT host, n_rows, ROUND(tw, 6) AS total_weight,
       ROUND(vw[idxs[1]].v, 6) AS wq
FROM sc
"""

    o["store_ttl_plan"] = """
WITH r AS (
  SELECT (doc_id % 25)::BIGINT AS file_id,
         (1700000000000 - (doc_id % 90) * 86400000)::BIGINT AS created_ms
  FROM documents),
a AS (
  SELECT file_id, COUNT(*)::BIGINT AS n_rows,
         SUM((created_ms <= 1700000000000 - 60::BIGINT * 86400000)::INT)::BIGINT
           AS n_expired
  FROM r GROUP BY file_id)
SELECT file_id, n_rows, n_expired,
       ROUND(n_expired::DOUBLE / n_rows::DOUBLE, 6) AS expired_share,
       CASE WHEN n_expired = 0 THEN 'none'
            WHEN ROUND(n_expired::DOUBLE / n_rows::DOUBLE, 6) >= 0.3
              THEN 'rewrite'
            ELSE 'delete_vector' END AS action
FROM a
"""

    o["c1g_url_features"] = """
WITH u AS (
  SELECT doc_id::BIGINT AS doc_id,
    CASE WHEN doc_id % 5 = 1
           THEN 'https://h.test/a/b/c/d/e/f/g/' || doc_id
         WHEN doc_id % 5 = 2
           THEN 'https://h.test/p?a=1&b=2&c=3&d=4&e=' || doc_id
         WHEN doc_id % 5 = 3
           THEN 'https://h.test/20260821/' || (doc_id * 991)
         ELSE 'https://h.test/page/' || doc_id END AS url
  FROM documents),
f AS (
  SELECT doc_id, url,
         regexp_extract(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                        '^[^/]*(/[^?#]*)?', 1) AS pq,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM u),
g AS (
  SELECT doc_id, url,
         length(url)::BIGINT AS url_len,
         len(list_filter(string_split(pq, '/'), s -> s <> ''))::BIGINT
           AS path_depth,
         CASE WHEN q = '' THEN 0
              ELSE len(string_split(q, '&')) END::BIGINT AS n_params,
         CASE WHEN length(pq) > 0 THEN ROUND(
           length(regexp_replace(pq, '[^0-9]', '', 'g'))::DOUBLE
           / length(pq)::DOUBLE, 6) ELSE 0.0 END AS digit_share
  FROM f)
SELECT doc_id, url, url_len, path_depth, n_params, digit_share,
       (path_depth > 6 OR n_params > 4 OR digit_share > 0.4
        OR url_len > 200) AS low_value_flag
FROM g
"""

    return o
