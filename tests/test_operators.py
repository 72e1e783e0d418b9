"""Operator unit tests: F1 dedup, P1 token bucket, bloom seen-set property,
robots gate, link extraction span invariant, J4/J5 ordered joins, A1 aggs."""

from __future__ import annotations

import math
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from delphi_crawler_spark.datagen import docs_df, gen_seed_urls, seed_urls_df
from delphi_crawler_spark.functions.canonicalize import canonicalize_url, with_url_keys
from delphi_crawler_spark.functions.versions import version_sort_key_py
from delphi_crawler_spark.operators.aggs import group_edges, partition_metrics
from delphi_crawler_spark.operators.dedup import first_occurrence_dedup
from delphi_crawler_spark.operators.joins import first_match_join, resolve_versions, semi_anti_split
from delphi_crawler_spark.operators.links import canonical_links, extract_links, feature_map, span_stats
from delphi_crawler_spark.operators.politeness import (
    admit_round,
    assign_emission_slots,
    emission_order,
    global_limit,
)
from delphi_crawler_spark.operators.robots import allowed_py, compile_rules, robots_filter
from delphi_crawler_spark.operators.seen import BloomBits, build_bloom, seen_anti_join


# ---------------------------------------------------------------- F1 dedup
def test_first_occurrence_dedup(spark):
    pdf = pd.DataFrame(
        {
            "url": ["a", "b", "a", "c", "b", "a"],
            "seq": [5, 1, 2, 3, 4, 0],
            "tag": ["x5", "x1", "x2", "x3", "x4", "x0"],
        }
    )
    out = first_occurrence_dedup(spark.createDataFrame(pdf), key="url").orderBy("url")
    rows = [(r.url, r.seq, r.tag) for r in out.collect()]
    assert rows == [("a", 0, "x0"), ("b", 1, "x1"), ("c", 3, "x3")]


# ------------------------------------------------------------ P1 token bucket
def test_emission_slots_token_bucket(spark):
    # one host, 12 rows, rate 5/s burst 5 -> slots 0..0 (x5) then ceil(k*200ms)
    pdf = pd.DataFrame(
        {
            "host": ["h"] * 12,
            "url": [f"u{i}" for i in range(12)],
            "priority": [0] * 12,
            "discovery_ts": pd.date_range("2024-01-01", periods=12, freq="s"),
            "seq": range(12),
        }
    )
    out = (
        assign_emission_slots(spark.createDataFrame(pdf))
        .orderBy("host_rank")
        .select("host_rank", "emit_ms")
        .collect()
    )
    expected = [0 if k <= 5 else math.ceil((k - 5) * 1000 / 5.0) for k in range(1, 13)]
    assert [r.emit_ms for r in out] == expected
    admitted = admit_round(assign_emission_slots(spark.createDataFrame(pdf)), 1000)
    # slots < 1000ms: ranks 1..9 (rank 10 -> 1000)
    assert admitted.count() == 9


def test_priority_order_reduces_to_fifo(spark):
    # equal priorities -> emission order is pure (discovery_ts, seq) FIFO (P3)
    pdf = gen_seed_urls(n=500)
    df = spark.createDataFrame(pdf).withColumn("url", canonicalize_url("url"))
    df = with_url_keys(df)
    out = emission_order(assign_emission_slots(df.withColumn("priority", F.lit(0))))
    seqs_by_slot = [(r.emit_ms, r.seq) for r in out.select("emit_ms", "seq").collect()]
    assert seqs_by_slot == sorted(seqs_by_slot)


def test_global_limit_topk(spark):
    pdf = gen_seed_urls(n=300)
    df = with_url_keys(spark.createDataFrame(pdf).withColumn("url", canonicalize_url("url")))
    slotted = assign_emission_slots(df)
    top = global_limit(slotted, 10).collect()
    assert len(top) == 10
    full = emission_order(slotted).limit(10).collect()
    assert [r.url for r in top] == [r.url for r in full]


# ---------------------------------------------------------------- bloom seen
def test_bloom_no_false_negatives_and_bounded_fp():
    b = BloomBits.sized(10_000, 0.01)
    vals = np.random.default_rng(0).integers(-(2**63), 2**63 - 1, size=10_000, dtype=np.int64)
    b.add_many(vals.view(np.uint64))
    assert b.might_contain_many(vals.view(np.uint64)).all()
    other = np.random.default_rng(1).integers(-(2**63), 2**63 - 1, size=10_000, dtype=np.int64)
    fp = b.might_contain_many(other.view(np.uint64)).mean()
    assert fp < 0.03


def test_seen_anti_join_bloom_property(spark):
    """Bloom prefilter must never change the anti-join result (SURVEY §7.1.4)."""
    pdf = gen_seed_urls(n=4000)
    df = with_url_keys(
        spark.createDataFrame(pdf).withColumn("url", canonicalize_url("url"))
    )
    cand = first_occurrence_dedup(df, key="url")
    seen = cand.filter(F.col("seq") % 3 == 0).select("url", "url_hash64")
    bloom = build_bloom(seen, expected_items=2000)
    exact = set(r.url for r in seen_anti_join(cand, seen, None).select("url").collect())
    with_bloom = set(
        r.url for r in seen_anti_join(cand, seen, bloom).select("url").collect()
    )
    assert exact == with_bloom
    assert exact == set(
        r.url for r in cand.join(seen.select("url"), "url", "left_anti").select("url").collect()
    )


def test_seen_anti_join_forged_hash_raises(spark):
    """The confirm finds hits by url_hash64 alone, with or without a bloom
    prefilter, so a row whose hash is not xxhash64(url) would silently
    escape it: a forged candidate, or a forged seen row that the probe
    hits, fails the job instead."""
    urls = [f"https://h{i}.example.com/p{i}" for i in range(50)]
    good = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "url_hash64", F.xxhash64("url"))
    seen = good.filter(F.col("url").isin(urls[:20]))
    bloom = build_bloom(seen, expected_items=64)
    for b in (bloom, None):
        assert seen_anti_join(good, seen, b).count() == 30

    forged_cand = good.withColumn(
        "url_hash64",
        F.when(F.col("url") == urls[40], F.col("url_hash64") + 1).otherwise(F.col("url_hash64")),
    )
    for b in (bloom, None):
        with pytest.raises(Exception, match="xxhash64"):
            seen_anti_join(forged_cand, seen, b).collect()

    # a seen row carrying urls[45]'s hash under another url: the valid
    # candidate urls[45] probes positive and the forged row becomes a hit
    forged_seen = seen.unionByName(spark.createDataFrame(
        [("https://forged.example.com/x",)], "url string"
    ).withColumn("url_hash64", F.xxhash64(F.lit(urls[45]))))
    forged_bloom = build_bloom(forged_seen, expected_items=64)
    for b in (forged_bloom, None):
        with pytest.raises(Exception, match="xxhash64"):
            seen_anti_join(good, forged_seen, b).collect()


# -------------------------------------------------------------------- robots
def test_robots_semantics(spark):
    rules = pd.DataFrame(
        [
            {"host": "a.com", "rule": "disallow", "path_prefix": "/", "order": 0},
            {"host": "b.com", "rule": "disallow", "path_prefix": "/private", "order": 0},
            {"host": "b.com", "rule": "allow", "path_prefix": "/private/ok", "order": 1},
        ]
    )
    compiled = compile_rules(rules)
    assert not allowed_py(compiled, "a.com", "/anything")
    assert not allowed_py(compiled, "b.com", "/private/x")
    assert allowed_py(compiled, "b.com", "/private/ok/y")  # longest prefix wins
    assert allowed_py(compiled, "b.com", "/public")
    assert allowed_py(compiled, "c.com", "/")

    cand = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "https://a.com/x",
                    "https://b.com/private/x",
                    "https://b.com/private/ok/y",
                    "https://b.com/pub",
                    "https://c.com/",
                ],
                "host": ["a.com", "b.com", "b.com", "b.com", "c.com"],
            }
        )
    )
    out = robots_filter(cand, spark.createDataFrame(rules)).select("url").collect()
    assert sorted(r.url for r in out) == ["https://b.com/private/ok/y", "https://b.com/pub", "https://c.com/"]


# ----------------------------------------------------------- links + spans
def test_extract_links_preserves_span_order(spark):
    docs = docs_df(spark, n=200)
    links = extract_links(docs).collect()
    # span_pos strictly increasing per doc in collection order after sort
    by_doc: dict[str, list[int]] = {}
    for r in sorted(links, key=lambda r: (r.doc_id, r.span_pos)):
        by_doc.setdefault(r.doc_id, []).append(r.span_pos)
    for positions in by_doc.values():
        assert positions == sorted(set(positions))
    # cross-check against pandas-side truth
    from delphi_crawler_spark.datagen import gen_docs

    pdf = gen_docs(n=200)
    expected = sum(sum(1 for s in row.spans if s["kind"] == "link") for row in pdf.itertuples())
    assert len(links) == expected


def test_span_sequence_invariant_roundtrip(spark):
    """(kind, text, media_ref, order) per row survives the transform chain."""
    docs = docs_df(spark, n=100)
    back = docs.select("doc_id", F.posexplode("spans").alias("pos", "s")).select(
        "doc_id", "pos", "s.kind", "s.text", "s.media_ref"
    )
    from delphi_crawler_spark.datagen import gen_docs

    pdf = gen_docs(n=100)
    truth = {
        (row.doc_id, i, s["kind"], s["text"] or "", s["media_ref"] or "")
        for row in pdf.itertuples()
        for i, s in enumerate(row.spans)
    }
    got = {
        (r.doc_id, r.pos, r.kind, r.text or "", r.media_ref or "") for r in back.collect()
    }
    assert got == truth


def test_canonical_links_and_feature_map(spark):
    docs = docs_df(spark, n=300)
    links = canonical_links(docs)
    assert links.filter(F.col("url").isNull()).count() == 0
    assert links.filter(~F.col("url").rlike("^https?://")).count() == 0
    stats = span_stats(docs).collect()
    for r in stats:
        assert r.n_spans == r.n_text + r.n_link + r.n_media
        assert r.total_text_len == r.text_len_text + r.text_len_link + r.text_len_media
        assert 0 <= r.n_kind_switches <= max(r.n_spans - 1, 0)
        assert 1 <= r.n_distinct_kinds <= 3
        assert r.min_text_len <= r.max_text_len
        assert r.first_kind in ("text", "link", "media")
        assert abs(r.link_density - round(r.n_link / r.n_spans, 6)) < 1e-9
    from delphi_crawler_spark.operators.links import SPAN_INT_FEATURES
    from delphi_crawler_spark.storage.schema_registry import check_fields_declared

    fm = feature_map(docs).first()
    assert set(fm.features.keys()) == set(SPAN_INT_FEATURES)
    # every emitted span feature is declared in the schema registry
    assert check_fields_declared(SPAN_INT_FEATURES) == []


# ------------------------------------------------------------- ordered joins
def test_first_match_join(spark):
    calls = spark.createDataFrame(
        pd.DataFrame({"call_id": [1, 2], "sig": ["s1", "s2"]})
    )
    libs = spark.createDataFrame(
        pd.DataFrame(
            {
                "sig": ["s1", "s1", "s2"],
                "library": ["libB", "libA", "libC"],
                "dep_order": [2, 1, 1],
            }
        )
    )
    out = first_match_join(calls, libs, ["sig"], "call_id", "dep_order").orderBy("call_id")
    assert [(r.call_id, r.library) for r in out.collect()] == [(1, "libA"), (2, "libC")]


def test_semi_anti_split(spark):
    probe = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3, 4]}))
    build = spark.createDataFrame(pd.DataFrame({"k": [2, 4]}))
    hits, misses = semi_anti_split(probe, build, ["k"])
    assert sorted(r.k for r in hits.collect()) == [2, 4]
    assert sorted(r.k for r in misses.collect()) == [1, 3]


def test_version_sort_key_order():
    versions = ["1.0-alpha", "1.0-beta", "1.0-rc", "1.0", "1.0-sp", "1.0.1", "1.2", "1.10", "2.0"]
    keys = [version_sort_key_py(v) for v in versions]
    assert keys == sorted(keys), list(zip(versions, keys))


def test_resolve_versions(spark):
    specs = spark.createDataFrame(
        pd.DataFrame({"g": ["x", "x", "x"], "version_spec": ["1.1", "1.0", "9.9"]})
    )
    avail = spark.createDataFrame(
        pd.DataFrame({"g": ["x"] * 4, "version": ["1.0", "1.2", "1.10", "2.0"]})
    )
    out = {
        (r.version_spec): r.resolved_version
        for r in resolve_versions(specs, avail, ["g"]).collect()
    }
    assert out["1.0"] == "1.0"  # exact
    assert out["1.1"] == "1.2"  # smallest >= spec in maven order
    assert out["9.9"] == "2.0"  # fallback: largest available


# ---------------------------------------------------------------------- aggs
def test_group_edges_deterministic(spark):
    links = spark.createDataFrame(
        pd.DataFrame(
            {
                "library": ["L1", "L1", "L1", "L2"],
                "method": ["mB", "mA", "mB", "mC"],
            }
        )
    )
    out = {r.library: (r.methods, r.n_edges) for r in group_edges(links).collect()}
    assert out["L1"] == (["mA", "mB"], 3)
    assert out["L2"] == (["mC"], 1)


def test_partition_metrics(spark):
    df = spark.createDataFrame(pd.DataFrame({"seq": range(100)})).repartition(4)
    m = partition_metrics(df).agg(F.sum("n_rows")).collect()[0][0]
    assert m == 100


def test_first_occurrence_dedup_edge_shapes(spark):
    """Key-only frames and dotted column names (ADVICE: F.struct() of zero
    columns threw; string-path struct access broke on dots)."""
    import pandas as pd
    from delphi_crawler_spark.operators.dedup import first_occurrence_dedup

    keys_only = spark.createDataFrame(pd.DataFrame({"url": ["a", "b", "a"]}))
    out = first_occurrence_dedup(keys_only, key="url", order=["url"])
    assert sorted(r.url for r in out.collect()) == ["a", "b"]

    dotted = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "v.x": [10, 20, 30], "seq": [2, 1, 5]})
    )
    out2 = first_occurrence_dedup(dotted, key="k", order=["seq"])
    got = sorted((r["k"], r["v.x"]) for r in out2.collect())
    assert got == [(1, 20), (2, 30)]
    assert out2.columns == ["k", "v.x", "seq"]


def test_attach_global_seq_exact_and_distributed(spark):
    """attach_global_seq == global row_number rank, at any partition count,
    with NO single-task global sort in the plan (round-1 scale-killer #2)
    and no Python worker: sizes and offsets are JVM expressions. Also exact
    on an empty input and when range partitions outnumber the rows (empty
    partitions get no offset)."""
    import pandas as pd
    from delphi_crawler_spark.operators.ordering import attach_global_seq

    pdf = pd.DataFrame({
        "a": [5, 3, 9, 1, 7, 2, 8, 0, 6, 4] * 50,
        "b": list(range(500)),
    })
    df = spark.createDataFrame(pdf)
    small = spark.createDataFrame([(2, 0), (1, 1), (3, 2)], "a long, b long")
    cases = [
        (df.repartition(2), None, 100),
        (df.repartition(7), None, 100),
        (df.limit(0), None, 100),
        (small, 8, 40),
    ]
    for inp, n_parts, start in cases:
        expected = sorted((r.a, r.b) for r in inp.collect())
        out, release = attach_global_seq(
            inp, order=["a", "b"], start=start, num_partitions=n_parts
        )
        got = {(r.a, r.b): r.seq for r in out.collect()}
        assert out._attached_seq_total == len(expected)
        assert got == {key: rank for rank, key in enumerate(expected, start=start + 1)}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert "Window" not in plan
        for node in ("MapInPandas", "ArrowEvalPython", "PythonUDF"):
            assert node not in plan, plan
        release()


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimporter reads its directory lazily",
)
def test_reused_python_worker_skips_zip_directory_reread(spark):
    """A reused Python worker that has imported the package (as every
    worker unpickling an engine UDF does) no longer re-reads the
    pyspark.zip central directory on ``importlib.invalidate_caches()``,
    which PySpark calls before every task."""
    from delphi_crawler_spark.functions.canonicalize import canonicalize_url_py

    sc = spark.sparkContext
    # task 1: unpickling the function imports the package in the worker
    assert sc.parallelize(["HTTP://A.example/x"], 1).map(canonicalize_url_py).count() == 1

    def probe(_):
        import importlib
        import os
        import sys
        import zipimport

        canonicalize_url_py(None)  # unpickling it imports the package here
        entry = next(p for p in sys.path if p.endswith("pyspark.zip"))
        imp = sys.path_importer_cache[entry]
        files = imp._files
        importlib.invalidate_caches()
        yield ("SPARK_REUSE_WORKER" in os.environ,
               isinstance(imp, zipimport.zipimporter), imp._files is files)

    # task 2: the worker's cached pyspark.zip importer keeps its directory
    assert sc.parallelize([0], 1).mapPartitions(probe).collect() == [(True, True, True)]


def test_no_unpartitioned_window_in_plans():
    """Source-level ban: plans/ and sources/ must not assign seq via a
    global (partition-less) window."""
    import pathlib

    pkg = pathlib.Path("delphi_crawler_spark")
    for sub in ("plans", "sources"):
        for f in (pkg / sub).glob("*.py"):
            src = f.read_text()
            assert "Window.orderBy" not in src, f"{f}: unpartitioned window"


def test_tablestore_parts_semantics(spark, tmp_path):
    """Manifest-of-parts contract: append adds one part, replace_round drops
    only its round's parts, merge_upsert compacts, restore time-travels."""
    import pandas as pd
    from delphi_crawler_spark.storage.tablestore import TableStore

    st = TableStore(spark, str(tmp_path / "ts"))
    df1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    df2 = spark.createDataFrame(pd.DataFrame({"k": [3], "v": ["c"]}))
    snap1 = st.write_snapshot("t", df1)
    st.append("t", df2, round_no=7)
    assert len(st.parts("t")) == 2
    assert sorted((r.k, r.v) for r in st.read("t").collect()) == [(1, "a"), (2, "b"), (3, "c")]
    assert [r.k for r in st.read_parts_range("t", 7, 7).collect()] == [3]

    # replace_round: only round 7's part is swapped
    df2b = spark.createDataFrame(pd.DataFrame({"k": [30, 31], "v": ["c2", "c3"]}))
    st.replace_round("t", df2b, 7)
    assert sorted(r.k for r in st.read("t").collect()) == [1, 2, 30, 31]

    # merge_upsert compacts to one part with MERGE semantics
    src = spark.createDataFrame(pd.DataFrame({"k": [2, 99], "v": ["B", "z"]}))
    st.merge_upsert("t", src, key="k")
    assert len(st.parts("t")) == 1
    got = dict((r.k, r.v) for r in st.read("t").collect())
    assert got == {1: "a", 2: "B", 30: "c2", 31: "c3", 99: "z"}

    # restore: time-travel back to the first manifest
    st.restore("t", snap1)
    assert sorted(r.k for r in st.read("t").collect()) == [1, 2]


# ------------------------------------------------------------- cuckoo seen
def test_cuckoo_core_semantics():
    """No false negatives, bounded FPR, exact delete of inserted keys."""
    from delphi_crawler_spark.operators.cuckoo import CuckooFilter

    rng = np.random.default_rng(7)
    vals = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64).view(np.uint64)
    vals = np.unique(vals)
    cf = CuckooFilter.sized(len(vals))
    cf.add_many(vals)
    assert cf.might_contain_many(vals).all()
    other = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64).view(np.uint64)
    other = np.setdiff1d(other, vals)
    assert cf.might_contain_many(other).mean() < 0.01
    # delete the first half: removed count exact, kept half still all present
    drop, keep = vals[: len(vals) // 2], vals[len(vals) // 2 :]
    assert cf.delete_many(drop) == len(drop)
    assert cf.might_contain_many(keep).all()
    # deleted keys are (almost) all gone — residual hits are fp collisions
    assert cf.might_contain_many(drop).mean() < 0.01


def test_cuckoo_stash_multiset():
    """Two distinct keys sharing (bucket, fp) must occupy two stash entries:
    deleting one may not unsee the other (the multiset-stash guarantee)."""
    from delphi_crawler_spark.operators.cuckoo import SLOTS, CuckooFilter

    # n_buckets=1: every key lands in bucket 0 (alt == primary); same top-16
    # bits -> same fingerprint, so all six values collide on (bucket, fp)
    cf = CuckooFilter(1, np.zeros((1, SLOTS), dtype=np.uint16))
    vals = (np.uint64(5) << np.uint64(48)) | np.arange(6, dtype=np.uint64)
    cf.add_many(vals)
    assert len(cf.stash) == 2  # 4 slots + 2 stashed occurrences, not 1
    assert cf.might_contain_many(vals).all()
    # delete five of the six: 4 slot occurrences + 1 stash occurrence
    assert cf.delete_many(vals[:5]) == 5
    assert len(cf.stash) == 1
    assert cf.might_contain_many(vals[5:]).all()  # survivor still seen


def test_cuckoo_merge_equivalence():
    """treeReduce merge law: merge(A,B) contains exactly A's and B's entries."""
    from delphi_crawler_spark.operators.cuckoo import CuckooFilter

    rng = np.random.default_rng(11)
    a_keys = rng.integers(0, 2**63 - 1, size=5_000, dtype=np.int64).view(np.uint64)
    b_keys = rng.integers(0, 2**63 - 1, size=5_000, dtype=np.int64).view(np.uint64)
    a = CuckooFilter.sized(12_000)
    b = CuckooFilter.sized(12_000)
    a.add_many(a_keys)
    b.add_many(b_keys)
    m = a.merge(b)
    assert m.might_contain_many(a_keys).all()
    assert m.might_contain_many(b_keys).all()


def test_seen_anti_join_cuckoo_property(spark):
    """Cuckoo prefilter must never change the anti-join result; after a
    recrawl-invalidation delete the anti-join admits the unseen rows again."""
    from delphi_crawler_spark.operators.cuckoo import build_cuckoo, seen_anti_join_cuckoo

    pdf = gen_seed_urls(n=4000)
    df = with_url_keys(
        spark.createDataFrame(pdf).withColumn("url", canonicalize_url("url"))
    )
    cand = first_occurrence_dedup(df, key="url")
    seen = cand.filter(F.col("seq") % 3 == 0).select("url", "url_hash64")
    cf = build_cuckoo(seen, expected_items=2000)
    exact = set(r.url for r in cand.join(seen.select("url"), "url", "left_anti").collect())
    got = set(r.url for r in seen_anti_join_cuckoo(cand, seen, cf).select("url").collect())
    assert exact == got

    # recrawl invalidation: unsee every 2nd seen URL; those URLs are admitted
    recrawl = seen.filter(F.col("url_hash64") % 2 == 0)
    keys = np.array([r.url_hash64 for r in recrawl.collect()], dtype=np.int64)
    cf.delete_many(keys.view(np.uint64))
    seen_after = seen.join(recrawl.select("url"), "url", "left_anti")
    exact2 = set(r.url for r in cand.join(seen_after.select("url"), "url", "left_anti").collect())
    got2 = set(
        r.url for r in seen_anti_join_cuckoo(cand, seen_after, cf).select("url").collect()
    )
    assert exact2 == got2
    assert exact < exact2  # strictly more admitted after invalidation


def test_cuckoo_subtract_matches_delete_many():
    """subtract(deletion filter) removes the same occurrence multiset as a
    key-wise delete_many: same removal count, kept keys all present, deleted
    keys gone up to fp-collision noise — including stash-overflow entries."""
    from delphi_crawler_spark.operators.cuckoo import CuckooFilter

    rng = np.random.default_rng(13)
    vals = np.unique(
        rng.integers(-(2**63), 2**63 - 1, size=30_000, dtype=np.int64).view(np.uint64)
    )
    drop, keep = vals[::2], vals[1::2]
    a = CuckooFilter.sized(len(vals), load=0.9)  # high load -> stash in play
    a.add_many(vals)
    b = CuckooFilter(a.n_buckets, a.buckets.copy(), a.stash.copy())
    dcf = CuckooFilter(a.n_buckets, np.zeros_like(a.buckets))
    dcf.add_many(drop)
    n_sub = a.subtract(dcf)
    n_del = b.delete_many(drop)
    assert n_sub == n_del == len(drop)
    assert a.might_contain_many(keep).all()
    assert a.might_contain_many(drop).mean() < 0.01


def test_delete_cuckoo_df_partition_sized(spark):
    """VERDICT r3 #3: recrawl invalidation of a partition-sized key set
    streams through executor-built segments (no driver collect of keys) and
    the two-tier anti-join stays exactly equal to the plain anti-join."""
    from delphi_crawler_spark.operators.cuckoo import (
        build_cuckoo,
        delete_cuckoo_df,
        seen_anti_join_cuckoo,
    )

    n = 50_000
    cand = (
        spark.range(n)
        .repartition(16)  # multi-partition deletion slice
        .selectExpr("concat('u', id) AS url")
        .withColumn("url_hash64", F.xxhash64("url"))
    )
    seen = cand.filter(F.col("url_hash64") % 4 != 0)
    cf = build_cuckoo(seen, expected_items=n)
    recrawl = seen.filter(F.col("url_hash64") % 3 == 0)
    n_recrawl = recrawl.count()
    assert n_recrawl > 5_000
    removed = delete_cuckoo_df(cf, recrawl, "url_hash64")
    assert removed == n_recrawl
    seen_after = seen.join(recrawl.select("url"), "url", "left_anti")
    exact = {
        r.url for r in cand.join(seen_after.select("url"), "url", "left_anti").collect()
    }
    got = {
        r.url
        for r in seen_anti_join_cuckoo(cand, seen_after, cf).select("url").collect()
    }
    assert exact == got


# ------------------------------------------------------------ event operators
def test_host_backoff_schedule(spark):
    """Streak/backoff/retire semantics: exp growth capped at max, streak 0
    when the latest round succeeded, never-succeeded hosts count from their
    first round, retirement past max_restarts; jitter is deterministic."""
    from delphi_crawler_spark.operators.politeness import host_backoff_schedule

    rows = []
    # host A: rounds 0-4, succeeded last round -> streak 0
    rows += [("a", r, 1) for r in range(5)]
    # host B: ok at round 1, failing rounds 2-4 -> streak 3, backoff 90 (cap)
    rows += [("b", 1, 2), ("b", 2, 0), ("b", 3, 0), ("b", 4, 0)]
    # host C: never ok over rounds 10-11 -> streak 2, backoff 60
    rows += [("c", 10, 0), ("c", 11, 0)]
    # host D: 25 straight failing rounds -> retired
    rows += [("d", r, 0) for r in range(25)]
    m = spark.createDataFrame(rows, "host string, round long, n_ok long")
    out = {r.host: r for r in host_backoff_schedule(m).collect()}
    assert (out["a"].fail_streak, out["a"].backoff_s, out["a"].retired) == (0, 0.0, False)
    assert (out["b"].fail_streak, out["b"].backoff_s) == (3, 90.0)
    assert (out["c"].fail_streak, out["c"].backoff_s) == (2, 60.0)
    assert out["d"].fail_streak == 25 and out["d"].retired
    # deterministic jitter: same inputs -> same backoff, within [base, base*(1+f))
    j1 = {r.host: r.backoff_s for r in host_backoff_schedule(m, jitter_factor=0.2).collect()}
    j2 = {r.host: r.backoff_s for r in host_backoff_schedule(m, jitter_factor=0.2).collect()}
    assert j1 == j2
    assert 90.0 <= j1["b"] < 90.0 * 1.2 and j1["a"] == 0.0


def test_parse_robots_txt_group_semantics(spark):
    """RFC 9309 group selection: exact agent beats product-token prefix
    beats '*'; equal-specificity groups COMBINE (§2.2.1); non-matching
    groups yield nothing, orphan rules and empty Disallow are dropped;
    parsed rules feed compile_rules/robots_filter unchanged."""
    from delphi_crawler_spark.operators.robots import parse_robots_txt

    body_a = (
        "# comment\nUser-agent: other-bot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
    )
    body_b = (
        "User-agent: Spark-Crawler\nUser-agent: extra\nDisallow: /x\nAllow: /x/y\n\n"
        "User-agent: *\nDisallow: /\n"
    )
    body_c = "User-agent: someone-else\nDisallow: /\n"
    body_d = "Disallow: /orphan\nUser-agent: *\nDisallow:\nAllow: /ok\n"
    # two exact-matching groups -> rules combine (RFC 9309 §2.2.1)
    body_e = (
        "User-agent: Spark-Crawler\nDisallow: /one\n\n"
        "User-agent: spark-crawler\nDisallow: /two\n\n"
        "User-agent: *\nDisallow: /\n"
    )
    # product-token prefix match ('spark' matches agent 'spark-crawler')
    # outranks '*' but loses to an exact match elsewhere
    body_f = "User-agent: spark\nDisallow: /pre\n\nUser-agent: *\nDisallow: /\n"
    df = spark.createDataFrame(
        [
            ("a.com", body_a),
            ("b.com", body_b),
            ("c.com", body_c),
            ("d.com", body_d),
            ("e.com", body_e),
            ("f.com", body_f),
        ],
        "host string, body string",
    )
    rules = parse_robots_txt(df, agent="spark-crawler")
    got = sorted((r.host, r.rule, r.path_prefix, r.order) for r in rules.collect())
    assert got == [
        ("a.com", "allow", "/private/ok", 1),
        ("a.com", "disallow", "/private", 0),
        ("b.com", "allow", "/x/y", 1),
        ("b.com", "disallow", "/x", 0),
        ("d.com", "allow", "/ok", 0),
        ("e.com", "disallow", "/one", 0),
        ("e.com", "disallow", "/two", 1),
        ("f.com", "disallow", "/pre", 0),
    ]
    # end-to-end: parsed rules drive the existing broadcast filter
    compiled = compile_rules(rules.toPandas())
    assert not allowed_py(compiled, "a.com", "/private/secret")
    assert allowed_py(compiled, "a.com", "/private/ok/page")
    assert allowed_py(compiled, "c.com", "/anything")  # no matching group
    assert not allowed_py(compiled, "b.com", "/x/z")
    assert allowed_py(compiled, "b.com", "/x/y/deep")


# ------------------------------------------------------------- recrawl policy
def test_recrawl_classify_and_intervals(spark):
    from delphi_crawler_spark.operators.recrawl import classify_fetch, revisit_intervals

    prev = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3")], "url string, digest string"
    )
    curr = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX"), ("u4", "d4")], "url string, digest string"
    )
    cls = {r.url: (r.status, r.digest) for r in classify_fetch(prev, curr).collect()}
    assert cls == {
        "u1": ("unchanged", "d1"),
        "u2": ("changed", "dX"),
        "u3": ("gone", "d3"),
        "u4": ("new", "d4"),
    }
    hosted = classify_fetch(prev, curr).withColumn(
        "host", F.when(F.col("url") == "u4", "h2").otherwise("h1")
    )
    iv = {r.host: r for r in revisit_intervals(hosted, min_s=100, max_s=1100).collect()}
    # h1: 1 changed, 1 unchanged -> ratio 0.5 -> 100 + 1000*0.5 = 600
    assert (iv["h1"].n_changed, iv["h1"].n_unchanged, iv["h1"].revisit_interval_s) == (1, 1, 600)
    # h2: only 'new' -> no evidence -> max
    assert iv["h2"].revisit_interval_s == 1100


def test_inlink_priority_refresh(spark):
    from delphi_crawler_spark.operators.recrawl import inlink_priority_refresh

    frontier = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 8)], "url string, priority int"
    )
    links = spark.createDataFrame(
        [("s1", "a"), ("s2", "a"), ("s3", "a"), ("s1", "a"),  # a: indeg 3 -> +2
         ("s1", "c"), ("s2", "c"), ("s3", "c"), ("s4", "c"),
         ("s5", "c"), ("s6", "c"), ("s7", "c")],              # c: indeg 7 -> +3, capped
        "src string, dst string",
    )
    out = {r.url: r for r in inlink_priority_refresh(frontier, links).collect()}
    assert (out["a"].priority, out["a"].indegree) == (3, 3)
    assert (out["b"].priority, out["b"].indegree) == (1, 0)   # no links: unchanged
    assert (out["c"].priority, out["c"].indegree) == (9, 7)   # capped at 9


def test_parse_sitemap_xml_entities_nulls_and_index(spark):
    from delphi_crawler_spark.operators.robots import (
        parse_sitemap_xml,
        sitemap_index_locs,
        sitemap_urls_from_robots,
    )
    from pyspark.sql import functions as F

    xml = (
        '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://h.example/a?x=1&amp;y=2</loc><lastmod>2026-01-05</lastmod>"
        "<priority>0.8</priority></url>"
        "<url><loc>\n  https://h.example/b \n</loc><changefreq>daily</changefreq></url>"
        "<url><loc></loc></url></urlset>"
    )
    df = spark.createDataFrame([("h.example", xml)], "host: string, body: string")
    rows = sorted(parse_sitemap_xml(df).collect(), key=lambda r: r["loc"])
    assert len(rows) == 2  # the empty-loc entry is dropped
    assert rows[0]["loc"] == "https://h.example/a?x=1&y=2"  # entity decoded
    assert rows[0]["lastmod"] == "2026-01-05" and rows[0]["priority"] == 0.8
    assert rows[0]["changefreq"] is None
    assert rows[1]["loc"] == "https://h.example/b"  # whitespace-padded loc trimmed
    assert rows[1]["lastmod"] is None and rows[1]["priority"] is None

    idx = (
        "<sitemapindex><sitemap><loc>https://h.example/sm1.xml</loc></sitemap>"
        "<sitemap><loc>https://h.example/sm2.xml.gz</loc></sitemap></sitemapindex>"
    )
    dfi = spark.createDataFrame([("h.example", idx)], "host: string, body: string")
    locs = sorted(r["loc"] for r in sitemap_index_locs(dfi).collect())
    assert locs == ["https://h.example/sm1.xml", "https://h.example/sm2.xml.gz"]
    # a plain urlset has no index entries, and vice versa
    assert sitemap_index_locs(df).count() == 0
    assert parse_sitemap_xml(dfi).count() == 0

    robots = (
        "User-agent: *\nDisallow: /private\n"
        "Sitemap: https://h.example/sm.xml  # comment\n"
        "sitemap:https://h.example/sm2.xml\n"
    )
    dfr = spark.createDataFrame([("h.example", robots)], "host: string, body: string")
    sm = [r["sitemap_url"] for r in sitemap_urls_from_robots(dfr).orderBy("line_no").collect()]
    assert sm == ["https://h.example/sm.xml", "https://h.example/sm2.xml"]


def test_crawl_delays_group_and_validity(spark):
    """Crawl-delay: winning-group scoping, first-valid-in-line-order pick,
    invalid values dropped, losing-group delays ignored."""
    from pyspark.sql import Row

    from delphi_crawler_spark.operators.robots import crawl_delays

    df = spark.createDataFrame(
        [
            # prefix group (wins over *): two delays -> first in line order
            Row(host="a", body="User-agent: spark\nCrawl-delay: 2\nDisallow: /x\nCrawl-delay: 4\n\nUser-agent: *\nCrawl-delay: 9"),
            # star-only group, fractional delay
            Row(host="b", body="User-agent: *\nAllow: /\nCrawl-delay: 1.5"),
            # winning exact group has no delay; losing group's is ignored
            Row(host="c", body="User-agent: spark-crawler\nDisallow: /a\n\nUser-agent: bing\nCrawl-delay: 7"),
            # invalid value dropped
            Row(host="d", body="User-agent: *\nCrawl-delay: fast\nDisallow: /tmp"),
        ]
    )
    out = {r["host"]: r["crawl_delay_s"] for r in crawl_delays(df).collect()}
    assert out == {"a": 2.0, "b": 1.5}


def test_politeness_from_delays_end_to_end(spark):
    """robots Crawl-delay feeds the token bucket: a 2s delay host emits at
    0.5/s (slower than budget), a 0.1s delay host is capped AT the budget,
    and an absent host keeps the default rate."""
    from pyspark.sql import Row

    from delphi_crawler_spark.operators.politeness import assign_emission_slots
    from delphi_crawler_spark.operators.robots import (
        crawl_delays,
        politeness_from_delays,
    )

    bodies = spark.createDataFrame(
        [
            Row(host="slow", body="User-agent: *\nCrawl-delay: 2"),
            Row(host="fast", body="User-agent: *\nCrawl-delay: 0.1"),
        ]
    )
    pol = politeness_from_delays(crawl_delays(bodies), default_rate=5.0, default_burst=1)
    rates = {r["host"]: r["rate_per_sec"] for r in pol.collect()}
    assert rates == {"slow": 0.5, "fast": 5.0}

    cand = spark.createDataFrame(
        [
            Row(host=h, priority=0, discovery_ts=float(i), seq=i + j * 10)
            for j, h in enumerate(["slow", "fast", "none"])
            for i in range(3)
        ]
    )
    slotted = assign_emission_slots(cand, pol, default_rate=5.0, default_burst=1)
    emit = {
        (r["host"], r["host_rank"]): r["emit_ms"] for r in slotted.collect()
    }
    assert emit[("slow", 2)] == 2000 and emit[("slow", 3)] == 4000
    assert emit[("fast", 2)] == 200
    assert emit[("none", 2)] == 200  # default budget 5/s


# ------------------------------------------------------------------- salting
def test_plan_salts_multimodal_skew(spark):
    """VERDICT r3 #4: two hot hosts at DIFFERENT magnitudes each get their
    own proportional salt, and the plan-driven repartition bounds every
    (host, salt-cell) to ~target share for both — a single global salt
    cannot do both at once."""
    from delphi_crawler_spark.operators.salting import (
        plan_salt,
        plan_salts,
        salted_repartition_by_plan,
    )

    n = 40_000
    # hostA ~40%, hostB ~20%, 100 cold hosts share the rest
    df = spark.range(n).selectExpr(
        "CASE WHEN id % 10 < 4 THEN 'hostA' WHEN id % 10 < 6 THEN 'hostB' "
        "ELSE concat('cold', id % 100) END AS host",
        "concat('https://h/', id) AS url",
    )
    salts = plan_salts(df, n_partitions=16)  # target share 1/16
    assert salts["hostA"] == 7   # ceil(0.4 / 0.0625)
    assert salts["hostB"] == 4   # ceil(0.2 / 0.0625) -- NOT hostA's 7
    assert all(h in ("hostA", "hostB") for h in salts)  # cold hosts absent
    assert plan_salt(df, n_partitions=16) == 7  # global = max of the plan

    out = salted_repartition_by_plan(df, 16, salts)
    assert out.count() == n  # row-preserving
    # bound check on the salted key cells each hot host fans out into
    cells = (
        out.groupBy(
            "host", F.pmod(F.xxhash64("url"), F.lit(0) + F.when(
                F.col("host") == "hostA", 7
            ).when(F.col("host") == "hostB", 4).otherwise(1)).alias("cell")
        )
        .count()
        .collect()
    )
    target = n / 16
    for r in cells:
        if r["host"] in ("hostA", "hostB"):
            assert r["count"] < 1.35 * target, (r["host"], r["cell"], r["count"])


def test_prune_pending_topk_schedule_identical(spark):
    """prune_pending_topk must be invisible in the output: the full
    slot→admit→order pipeline over the pruned pending set is byte-identical
    to the unpruned one (local-then-global per-host top-cap closure), while
    actually pruning the exchange input. Covers budgeted hosts, a
    zero-burst slow host, and hosts absent from the politeness dim
    (default budget)."""
    from delphi_crawler_spark.operators.politeness import (
        admit_round,
        assign_emission_slots,
        emission_order,
        prune_pending_topk,
    )

    n = 20000
    df = spark.range(n).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        (F.col("id") % 5).cast("int").alias("priority"),
        ((F.col("id") * 37) % 1000).cast("long").alias("discovery_ts"),
        F.col("id").alias("seq"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    pol = spark.createDataFrame(
        [("h0", 2.0, 1), ("h1", 50.0, 10), ("h2", 0.5, 0)],
        "host string, rate_per_sec double, max_burst int",
    )
    round_ms = 3000
    cols = ["emit_ms", "host", "priority", "discovery_ts", "seq", "url"]
    base = [
        tuple(r)
        for r in emission_order(
            admit_round(assign_emission_slots(df, pol), round_ms)
        ).select(cols).collect()
    ]
    pruned = prune_pending_topk(df, pol, round_ms)
    got = [
        tuple(r)
        for r in emission_order(
            admit_round(assign_emission_slots(pruned, pol), round_ms)
        ).select(cols).collect()
    ]
    assert got == base
    assert len(base) > 0
    # the prune actually prunes: survivors ≤ partitions x hosts x cap ≪ n
    assert pruned.count() < n
    # politeness=None path (default budget everywhere)
    base_d = [
        tuple(r)
        for r in emission_order(
            admit_round(assign_emission_slots(df, None), round_ms)
        ).select(cols).collect()
    ]
    got_d = [
        tuple(r)
        for r in emission_order(
            admit_round(
                assign_emission_slots(prune_pending_topk(df, None, round_ms), None),
                round_ms,
            )
        ).select(cols).collect()
    ]
    assert got_d == base_d


def test_apportion_budget_properties(spark):
    """Hamilton apportionment: quotas sum exactly to the budget, are within
    1 of the real-valued share, non-positive/null scores get 0, the
    leftover goes to the largest remainders (ties by key asc), and the
    result is identical at different parallelism levels."""
    from delphi_crawler_spark.operators.politeness import apportion_budget

    rows = [("h%03d" % i, float(1 + (i * 7) % 23)) for i in range(200)]
    rows += [("z1", 0.0), ("z2", -3.0), ("z3", None)]
    df = spark.createDataFrame(rows, "host string, score double")
    total = sum(s for _, s in rows[:200])

    for budget in (17, 5000, 123457):
        out = apportion_budget(df, budget)
        got = {r["host"]: r["quota"] for r in out.collect()}
        release = getattr(out, "_release_apportion", None)
        if release:
            release()
        assert sum(got.values()) == budget
        assert got["z1"] == got["z2"] == got["z3"] == 0
        for h, s in rows[:200]:
            share = budget * s / total
            assert int(share) <= got[h] <= int(share) + 1, (budget, h)

    # parallelism invariance: 2-partition and 16-partition inputs agree
    base = {r["host"]: r["quota"] for r in apportion_budget(df.repartition(2), 5000).collect()}
    wide = {r["host"]: r["quota"] for r in apportion_budget(df.repartition(16), 5000).collect()}
    assert base == wide


def test_change_rate_estimate_cgm(spark):
    """Cho/Garcia-Molina estimator: hand-computed lambda on a regular
    revisit grid; X=0 gives lambda 0 with NULL horizon; all-changed stays
    finite (the 0.5 correction); <2 visits or zero span are dropped."""
    import math

    from delphi_crawler_spark.operators.recrawl import change_rate_estimate

    day_us = 86_400_000_000
    rows = []
    # u1: 5 visits, 1/day, 2 changed
    for i in range(5):
        rows.append(("u1", i * day_us, i in (1, 3)))
    # u2: 4 visits, never changed
    for i in range(4):
        rows.append(("u2", i * day_us, False))
    # u3: 3 visits, ALL changed (naive -ln((n-X)/n) would be infinite)
    for i in range(3):
        rows.append(("u3", i * day_us, True))
    rows.append(("u4", 0, True))                      # single visit -> drop
    rows += [("u5", 7 * day_us, False), ("u5", 7 * day_us, True)]  # zero span
    df = spark.createDataFrame(rows, "url string, ts_us long, changed boolean")
    got = {r["url"]: r for r in change_rate_estimate(df).collect()}

    assert set(got) == {"u1", "u2", "u3"}
    lam1 = -math.log((5 - 2 + 0.5) / (5 + 0.5)) / 1.0  # ibar = 1 day
    assert abs(got["u1"]["lambda_per_day"] - round(lam1, 6)) < 1e-12
    assert abs(got["u1"]["horizon_days"] - round(1 / lam1, 6)) < 1e-12
    assert got["u2"]["lambda_per_day"] == 0.0 and got["u2"]["horizon_days"] is None
    lam3 = -math.log(0.5 / 3.5)
    assert abs(got["u3"]["lambda_per_day"] - round(lam3, 6)) < 1e-12
    assert got["u1"]["mean_interval_s"] == 86400.0


def test_robots_wildcard_matching_rfc9309(spark):
    """RFC 9309 §2.2.3 special characters in the gate AND the independent
    python reference: '*' any-run, trailing '$' end-anchor, most-octets
    specificity, allow-on-tie. Vectors adapted from the spec's and
    Google's published matching examples."""
    import pandas as pd

    from delphi_crawler_spark.operators.robots import (
        allowed_py,
        compile_rules,
        robots_filter,
    )

    rules_rows = [
        ("h", "disallow", "/*.gif$", 0),
        ("h", "allow", "/fish*.gif$", 1),
        ("h", "disallow", "/fish*.php", 2),
        ("h", "disallow", "/exact$", 3),
        ("h", "allow", "/", 4),
    ]
    cases = {
        "/a.gif": False,          # /*.gif$
        "/a.gif?x=1": True,       # $ anchor fails past the query
        "/fishy.gif": True,       # longer allow beats /*.gif$
        "/fish/a.php": False,     # mid-pattern * spans the slash
        "/fishxphp": True,        # needs the literal .php
        "/exact": False,          # anchored exact path
        "/exact/sub": True,       # anchor rejects longer paths
        "/": True,
    }
    rules = spark.createDataFrame(
        rules_rows, "host string, rule string, path_prefix string, order int"
    )
    cand = spark.createDataFrame(
        [(f"https://h{p}", "h") for p in cases], "url string, host string"
    )
    got = {r["url"] for r in robots_filter(cand, rules).collect()}
    comp = compile_rules(
        pd.DataFrame(rules_rows, columns=["host", "rule", "path_prefix", "order"])
    )
    for p, want in cases.items():
        assert (f"https://h{p}" in got) == want, p
        assert allowed_py(comp, "h", p) == want, p


def test_attach_global_cumsum_exact_and_invariant(spark):
    """attach_global_cumsum == exclusive window prefix sum at any
    partition count; total matches the corpus weight."""
    from pyspark.sql import Window

    from delphi_crawler_spark.operators.ordering import attach_global_cumsum

    rows = [(i, (i * 31 + 7) % 50, (i * 13 + 3) % 20 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, q long, w long")
    win = Window.orderBy("q", "id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["cb"]
        for r in df.select(
            "id", F.coalesce(F.sum("w").over(win), F.lit(0)).alias("cb")
        ).collect()
    }
    for n in (1, 4, 16):
        out, release = attach_global_cumsum(
            df.repartition(n), ["q", "id"], "w", num_partitions=n
        )
        got = {r["id"]: r["cum_before"] for r in out.collect()}
        assert got == want
        assert out._attached_cumsum_total == sum(w for _, _, w in rows)
        release()


def test_token_budget_select_fill_and_order(spark):
    """Quality-ordered budget selection: best-first walk, crossing doc
    admitted (fill-to-at-least-B), everything below the cut excluded,
    degenerate budgets behave."""
    import pytest as _pytest

    from delphi_crawler_spark.operators.corpus import token_budget_select

    rows = [(1, 0.9, 5), (2, 0.9, 5), (3, 0.8, 4), (4, 0.7, 10), (5, 0.1, 100)]
    df = spark.createDataFrame(rows, "doc_id long, quality double, n_tokens long")

    out = token_budget_select(df, 12, num_partitions=4)
    got = sorted((r["doc_id"], r["cum_before"]) for r in out.collect())
    # walk: d1(cb 0), d2(cb 5), d3(cb 10 < 12 -> admitted, crossing), d4(cb 14 stop)
    assert got == [(1, 0), (2, 5), (3, 10)]
    out._release_budget()

    # budget covers everything -> whole corpus; zero budget -> empty
    full = token_budget_select(df, 1000, num_partitions=2)
    assert full.count() == 5
    full._release_budget()
    empty = token_budget_select(df, 0, num_partitions=2)
    assert empty.count() == 0
    empty._release_budget()

    with _pytest.raises(ValueError):
        token_budget_select(df, -1)


def test_detect_mirrors_groups_hosts_and_filters_singletons(spark):
    """Mirror detection: digests on >=2 distinct hosts surface with the
    sorted host list; single-host digests (even with many copies) do not."""
    from delphi_crawler_spark.operators.snapshot import detect_mirrors

    rows = [
        ("d1", "b.com"), ("d1", "a.com"), ("d1", "a.com"),  # mirror, 2 hosts
        ("d2", "x.org"), ("d2", "x.org"),                   # dup, single host
        ("d3", "solo.net"),                                 # singleton
        ("d4", "c.io"), ("d4", "a.com"), ("d4", "b.com"),   # mirror, 3 hosts
    ]
    df = spark.createDataFrame(rows, "digest: string, host: string")
    got = {
        r["digest"]: (r["n_docs"], r["n_hosts"], r["hosts"])
        for r in detect_mirrors(df).collect()
    }
    assert got == {
        "d1": (3, 2, "a.com,b.com"),
        "d4": (3, 3, "a.com,b.com,c.io"),
    }


def test_kmv_sketch_invariants_and_accuracy(spark):
    """KMV synopsis: (a) sketch is invariant to partitioning and input
    duplication, (b) merge closure — merging two halves' sketches equals
    sketching the whole, (c) the distinct estimate lands within 3/sqrt(k)
    relative error (3x the estimator's standard error) on 20k keys, and
    the intersection estimate is in the right range."""
    from delphi_crawler_spark.operators.kmv import (
        kmv_distinct_estimate,
        kmv_merge,
        kmv_overlap,
        kmv_sketch,
    )

    n, k = 20_000, 256
    df = spark.range(n).select(F.concat(F.lit("u"), F.col("id")).alias("key"))
    s1 = kmv_sketch(df.repartition(3), "key", k=k).collect()
    s2 = kmv_sketch(df.union(df).repartition(17), "key", k=k).collect()
    assert [r["h"] for r in s1] == [r["h"] for r in s2]
    assert len(s1) == k
    assert [r["h"] for r in s1] == sorted(r["h"] for r in s1)

    half_a = df.filter(F.col("key").substr(2, 20).cast("long") < n // 2)
    half_b = df.filter(F.col("key").substr(2, 20).cast("long") >= n // 2)
    merged = kmv_merge(
        kmv_sketch(half_a, "key", k=k), kmv_sketch(half_b, "key", k=k), k=k
    ).collect()
    assert [r["h"] for r in merged] == [r["h"] for r in s1]

    est = kmv_distinct_estimate(kmv_sketch(df, "key", k=k), k=k).collect()[0]["est"]
    assert abs(est - n) / n < 3.0 / (k ** 0.5)

    # overlap: A = [0, 12000), B = [8000, 20000) -> |A∩B| = 4000
    a = spark.range(12_000).select(F.concat(F.lit("u"), F.col("id")).alias("key"))
    b = spark.range(8_000, 20_000).select(F.concat(F.lit("u"), F.col("id")).alias("key"))
    row = kmv_overlap(kmv_sketch(a, "key", k=k), kmv_sketch(b, "key", k=k), k=k).collect()[0]
    assert abs(row["est_union"] - 20_000) / 20_000 < 3.0 / (k ** 0.5)
    assert 2_000 < row["est_intersect"] < 6_000

    with pytest.raises(ValueError, match="k >= 2"):
        kmv_sketch(df, "key", k=1)


def test_kmv_small_set_is_exact(spark):
    """Fewer distinct keys than k: the sketch holds every value and the
    estimate is the exact distinct count."""
    from delphi_crawler_spark.operators.kmv import kmv_distinct_estimate, kmv_sketch

    df = spark.createDataFrame([("a",), ("b",), ("c",), ("a",)], "key: string")
    est = kmv_distinct_estimate(kmv_sketch(df, "key", k=64), k=64).collect()[0]
    assert est["n_kept"] == 3 and est["est"] == 3.0


def test_adaptive_host_delay_clamps_and_percentile(spark):
    """Heritrix-rule adaptive delay: slow host scales by delay_factor,
    ultra-slow host clamps at max, fast host clamps at the min floor;
    p95 uses the family's percentile_disc convention (rank=ceil(.95*n))."""
    from delphi_crawler_spark.operators.politeness import adaptive_host_delay

    rows = (
        [("slow", 900.0 + i) for i in range(100)]       # p95 = 994 -> 1988ms
        + [("glacial", 60_000.0)]                        # 120s -> clamp 15s
        + [("fast", 10.0 + i) for i in range(10)]        # p95 = 19 -> floor 500
        + [("slow", None)]                               # nulls drop
    )
    df = spark.createDataFrame(rows, "host: string, latency_ms: double")
    got = {r["host"]: r for r in adaptive_host_delay(df).collect()}
    assert got["slow"]["p_latency_ms"] == 994.0 and got["slow"]["n"] == 100
    assert got["slow"]["delay_ms"] == 1988.0
    assert abs(got["slow"]["rate_per_sec"] - 1000.0 / 1988.0) < 1e-12
    assert got["glacial"]["delay_ms"] == 15000.0
    assert got["fast"]["delay_ms"] == 500.0 and got["fast"]["rate_per_sec"] == 2.0


def test_keep_best_per_cluster_picks_highest_score(spark):
    """Keep-longest decision rule: exactly one kept per cluster, the max
    score wins, id-asc breaks score ties."""
    from delphi_crawler_spark.operators.dedup import keep_best_per_cluster

    rows = [
        (1, 100, 50), (2, 100, 80), (3, 100, 80),  # cluster 100: 2 wins tie
        (4, 200, 10),                               # singleton
    ]
    df = spark.createDataFrame(rows, "doc_id: long, cluster_id: long, score: long")
    got = {r["doc_id"]: r["kept"] for r in keep_best_per_cluster(df).collect()}
    assert got == {1: 0, 2: 1, 3: 0, 4: 1}


def test_parse_json_records_semantics(spark):
    """Malformed -> all-null + invalid; missing field -> null field but
    valid; pass-through columns carried; bad required name rejected."""
    import pytest as _pytest

    from delphi_crawler_spark.sources.scan import parse_json_records

    rows = [
        (1, '{"id": 7, "lang": "en", "n": 3}'),
        (2, '{"id": 8, "n": 4}'),           # missing lang: valid
        (3, '{"id": 9, "lang": "de"'),       # truncated: malformed
        (4, "not json at all"),              # malformed
        (5, None),                            # null body: malformed
    ]
    df = spark.createDataFrame(rows, "k: long, body: string")
    out = parse_json_records(df, "body", "id BIGINT, lang STRING, n BIGINT", "id")
    got = {r["k"]: (r["id"], r["lang"], r["n"], r["is_valid"]) for r in out.collect()}
    assert got[1] == (7, "en", 3, True)
    assert got[2] == (8, None, 4, True)
    assert got[3] == (None, None, None, False)
    assert got[4] == (None, None, None, False)
    assert got[5] == (None, None, None, False)
    assert set(out.columns) == {"k", "id", "lang", "n", "is_valid"}

    with _pytest.raises(ValueError):
        parse_json_records(df, "body", "id BIGINT", "nope")
