"""Round-4 continuation operators: UCB host scheduling, meta-robots gate,
conditional revalidation planning, corpus-learned template segments."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_ucb_host_priority_hand_computed(spark):
    """3 hosts with different pull counts: the under-sampled host outranks
    a higher-mean heavily-sampled one exactly when the UCB math says so."""
    from delphi_crawler_spark.operators.bandit import ucb_host_priority

    # a: 8 pulls, mean 0.50; b: 1 pull, reward 0.20; c: 3 pulls, mean 0.90
    rows = [("a", 50)] * 8 + [("b", 20)] + [("c", 90)] * 3
    obs = spark.createDataFrame(rows, ["host", "reward_num"])
    out = {r["host"]: r for r in ucb_host_priority(obs, c=1.5).collect()}
    n_total = 12.0
    exp = {
        "a": 0.50 + 1.5 * math.sqrt(math.log(n_total) / 8),
        "b": 0.20 + 1.5 * math.sqrt(math.log(n_total) / 1),
        "c": 0.90 + 1.5 * math.sqrt(math.log(n_total) / 3),
    }
    for h, e in exp.items():
        assert abs(out[h]["ucb"] - round(e, 6)) < 1e-9, h
    # b (one pull, low mean) must outrank a via the exploration bonus
    ranked = sorted(out.values(), key=lambda r: r["rank"])
    assert [r["host"] for r in ranked] == ["b", "c", "a"]
    assert out["a"]["n_obs"] == 8 and out["a"]["mean_reward"] == 0.5
    with pytest.raises(ValueError):
        ucb_host_priority(obs, scale=0)


def test_meta_robots_gate_directives_and_links(spark):
    """Token-exact directive parsing: 'noindexfoo' does not fire noindex;
    meta nofollow zeroes follow-links; rel=nofollow drops only itself."""
    from delphi_crawler_spark.operators.robots import meta_robots_gate

    mk = (
        '<html><head>{meta}</head><body>'
        '<a href="https://a/1">1</a><a href="https://a/2" rel="nofollow">2</a>'
        "</body></html>"
    )
    docs = spark.createDataFrame(
        [
            (1, mk.format(meta='<meta name="robots" content="noindex, nofollow">')),
            (2, mk.format(meta='<meta name="robots" content="NOFOLLOW">')),
            (3, mk.format(meta='<meta name="robots" content="noindexfoo">')),
            (4, mk.format(meta="")),
        ],
        ["doc_id", "html"],
    )
    out = {r["doc_id"]: r for r in meta_robots_gate(docs).collect()}
    assert out[1]["noindex"] and out[1]["nofollow"]
    assert out[1]["action"] == "noindex+nofollow"
    assert out[1]["n_follow_links"] == 0
    # case-insensitive content
    assert not out[2]["noindex"] and out[2]["nofollow"]
    assert out[2]["n_follow_links"] == 0
    # substring must not fire
    assert not out[3]["noindex"] and not out[3]["nofollow"]
    assert out[3]["n_links"] == 2 and out[3]["n_follow_links"] == 1
    # no meta tag at all
    assert out[4]["robots_content"] == "" and out[4]["action"] == "index+follow"
    assert out[4]["n_follow_links"] == 1


def test_conditional_fetch_plan_precedence_and_bytes(spark):
    """ETag beats IMS when both stored; unseen URLs plan full fetches with
    zero revalidatable bytes."""
    from delphi_crawler_spark.operators.recrawl import conditional_fetch_plan

    frontier = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h1"), ("u3", "h1"), ("u4", "h2")],
        ["url", "host"],
    )
    stored = spark.createDataFrame(
        [
            ("u1", 'W/"x"', "2026-01-01", 100),  # both -> etag wins
            ("u2", None, "2026-01-02", 70),      # ims only
            ("u3", None, None, 50),              # stored but no validators -> full
        ],
        ["url", "etag", "last_modified", "content_len"],
    )
    out = {
        (r["host"], r["mode"]): r
        for r in conditional_fetch_plan(frontier, stored).collect()
    }
    assert out[("h1", "etag")]["n_urls"] == 1
    assert out[("h1", "etag")]["revalidatable_bytes"] == 100
    assert out[("h1", "ims")]["revalidatable_bytes"] == 70
    # u3: stored, no validators -> full fetch, bytes not counted
    assert out[("h1", "full")]["n_urls"] == 1
    assert out[("h1", "full")]["revalidatable_bytes"] == 0
    # u4: never stored
    assert out[("h2", "full")]["n_urls"] == 1


def test_template_segments_learns_banner_only(spark):
    """A 5-word banner shared by 3/4 docs of a host is template; unique
    content segments are not; per-doc repetition counts once."""
    from delphi_crawler_spark.operators.scrub import template_segments

    banner = "cookie banner notice host h0"
    docs = spark.createDataFrame(
        [
            (0, "h0", banner + " alpha beta gamma delta epsilon"),
            (1, "h0", banner + " zeta eta theta iota kappa"),
            # banner twice in one doc: distinct-per-doc must count it once
            (2, "h0", banner + " " + banner),
            (3, "h0", "lambda mu nu xi omicron"),
            (4, "h1", "pi rho sigma tau upsilon"),
        ],
        ["doc_id", "host", "text"],
    )
    out = template_segments(docs, seg_words=5, min_ratio=0.5, min_docs=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["host"], r["segment"]) == ("h0", banner)
    assert r["n_docs"] == 3 and r["host_docs"] == 4
    assert abs(r["doc_ratio"] - 0.75) < 1e-12
    with pytest.raises(ValueError):
        template_segments(docs, seg_words=0)


def test_rel_canonical_resolve_folds_identities(spark):
    """Cross/self/none classification and alias-cluster sizes: two docs
    declaring the same canonical target plus the self-declaring target
    fold into one identity of size 3."""
    from delphi_crawler_spark.operators.links import rel_canonical_resolve

    def page(tag):
        return f"<html><head>{tag}</head><body>x</body></html>"

    c = '<link rel="canonical" href="https://a/main">'
    docs = spark.createDataFrame(
        [
            (1, "https://a/main", page(c)),            # self
            (2, "https://a/main?utm=x", page(c)),      # cross -> main
            (3, "https://a/print/main", page(c)),      # cross -> main
            (4, "https://a/other", page("")),          # none
        ],
        ["doc_id", "url", "html"],
    )
    out = {r["doc_id"]: r for r in rel_canonical_resolve(docs).collect()}
    assert out[1]["rel"] == "self" and out[1]["n_aliases"] == 3
    assert out[2]["rel"] == "cross" and out[2]["canonical_url"] == "https://a/main"
    assert out[3]["n_aliases"] == 3
    assert out[4]["rel"] == "none" and out[4]["canonical_url"] == "https://a/other"
    assert out[4]["n_aliases"] == 1


def test_ip_queue_slots_shared_budget(spark):
    """Two hosts on one IP fold into one queue with the min budget; an
    unresolved host keeps its own key and the defaults."""
    from delphi_crawler_spark.operators.politeness import ip_queue_slots

    fr = spark.createDataFrame(
        [("a", 0, 1, 1), ("a", 0, 2, 2), ("b", 0, 3, 3), ("b", 0, 4, 4), ("x", 0, 5, 5)],
        ["host", "priority", "discovery_ts", "seq"],
    )
    host_ip = spark.createDataFrame([("a", "ip1"), ("b", "ip1")], ["host", "ip"])
    pol = spark.createDataFrame(
        [("a", 1.0, 1), ("b", 4.0, 3)], ["host", "rate_per_sec", "max_burst"]
    )
    out = {r["seq"]: r for r in ip_queue_slots(fr, host_ip, pol).collect()}
    # merged queue ip1 ranks by (priority desc, ts, seq): seqs 1,2,3,4
    assert [out[s]["queue_key"] for s in (1, 2, 3, 4)] == ["ip1"] * 4
    assert [out[s]["queue_rank"] for s in (1, 2, 3, 4)] == [1, 2, 3, 4]
    assert out[1]["n_cohosts"] == 2
    # min budget: burst=1, rate=1.0 -> slots 0, 1000, 2000, 3000
    assert [out[s]["emit_ms"] for s in (1, 2, 3, 4)] == [0, 1000, 2000, 3000]
    # unresolved host: own queue, default 5/s burst 5 -> slot 0
    assert out[5]["queue_key"] == "x" and out[5]["emit_ms"] == 0
    assert out[5]["n_cohosts"] == 1


def test_robots_cache_plan_actions(spark):
    """fetch (no row) / refresh (stale) / refresh (5xx even if fresh) /
    use-cache (fresh 200) all classified; age_ms exact."""
    from delphi_crawler_spark.operators.robots import robots_cache_plan

    fr = spark.createDataFrame(
        [("h1",), ("h1",), ("h2",), ("h3",), ("h4",)], ["host"]
    )
    cache = spark.createDataFrame(
        [("h2", 0, 200), ("h3", 90_000_000, 503), ("h4", 95_000_000, 200)],
        ["host", "fetched_ms", "status"],
    )
    out = {r["host"]: r for r in robots_cache_plan(fr, cache, now_ms=100_000_000).collect()}
    assert out["h1"]["action"] == "fetch" and out["h1"]["age_ms"] == -1
    assert out["h1"]["n_pending"] == 2
    assert out["h2"]["action"] == "refresh"  # age 100M >= 86.4M TTL
    assert out["h3"]["action"] == "refresh"  # fresh but 5xx
    assert out["h4"]["action"] == "use-cache" and out["h4"]["age_ms"] == 5_000_000


def test_archive_offsets_exclusive_cumsum(spark):
    """Offsets are header + exclusive running sums in id order per shard;
    routing matches shard_id; rerun is bit-identical."""
    from delphi_crawler_spark.operators.sharding import archive_offsets

    recs = spark.createDataFrame(
        [(i, 100 + i) for i in range(20)], ["rec_id", "nbytes"]
    )
    rows = archive_offsets(recs, "rec_id", "nbytes", n_shards=3, header_bytes=16).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["shard_id"], r["rec_index"])):
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard, rs in by_shard.items():
        off = 16
        for i, r in enumerate(rs):
            assert r["rec_index"] == i
            assert r["offset"] == off
            off += r["rec_len"]
        assert [r["rec_id"] for r in rs] == sorted(r["rec_id"] for r in rs)
    again = archive_offsets(recs, "rec_id", "nbytes", n_shards=3, header_bytes=16).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        archive_offsets(recs, "rec_id", "nbytes", n_shards=0)


def test_soft404_flags_verdicts(spark):
    """Phrase hit, short-stub 404, hard 404/410, and clean 200 verdicts."""
    from delphi_crawler_spark.operators.traps import soft404_flags

    pages = spark.createDataFrame(
        [
            (1, 200, "Sorry, this Page Not Found anywhere."),
            (2, 200, "error 404"),
            (3, 200, "x" * 500 + " 404 " + "y" * 10),  # long, only digit hit
            (4, 404, "gone"),
            (5, 410, "gone forever"),
            (6, 200, "perfectly fine article text"),
        ],
        ["doc_id", "status", "body"],
    )
    out = {r["doc_id"]: r for r in soft404_flags(pages).collect()}
    assert out[1]["verdict"] == "soft-404" and out[1]["phrase_hit"]
    assert out[2]["verdict"] == "soft-404" and out[2]["stub_404"] and not out[2]["phrase_hit"]
    assert out[3]["verdict"] == "ok"  # 404 mention but body too long for a stub
    assert out[4]["verdict"] == "hard-404"
    assert out[5]["verdict"] == "hard-404"
    assert out[6]["verdict"] == "ok" and not out[6]["phrase_hit"]


def test_rate_compliance_audit_range_window(spark):
    """Simultaneous fetches count each other (RANGE not ROWS); window edge
    at exactly window_ms apart does NOT co-count."""
    from delphi_crawler_spark.operators.politeness import rate_compliance_audit

    log = spark.createDataFrame(
        # h1: burst of 3 at t=0 (two simultaneous), one more at 4999 (in
        # window), one at 5000 (out: window is (t-4999, t])
        [("h1", 0), ("h1", 0), ("h1", 100), ("h1", 4999), ("h1", 5000),
         ("h2", 0), ("h2", 10_000)],
        ["host", "ts_ms"],
    )
    out = {r["host"]: r for r in rate_compliance_audit(log, 5000, 3).collect()}
    assert out["h1"]["n_fetches"] == 5
    assert out["h1"]["max_in_window"] == 4  # 0,0,100,4999
    assert out["h1"]["n_violations"] == 1   # only the rank-4 fetch at 4999
    assert out["h2"]["max_in_window"] == 1 and out["h2"]["n_violations"] == 0


def test_retry_after_schedule_max_deadline(spark):
    """MAX deadline wins regardless of log order; success rows and
    header-less errors are not signals; unlisted hosts eligible."""
    from delphi_crawler_spark.operators.politeness import retry_after_schedule

    res = spark.createDataFrame(
        [
            ("h1", 1000, 503, 10),    # deadline 11000
            ("h1", 5000, 429, 2),     # deadline 7000 (earlier, loses)
            ("h1", 9000, 200, None),  # success, ignored
            ("h2", 0, 503, None),     # 5xx without header: not a signal
            ("h3", 0, 200, None),
        ],
        "host string, ts_ms long, status int, retry_after_s long",
    )
    out = {r["host"]: r for r in retry_after_schedule(res, now_ms=10_000).collect()}
    assert out["h1"]["next_eligible_ms"] == 11_000 and not out["h1"]["eligible_now"]
    assert out["h1"]["n_throttle_signals"] == 2
    assert out["h2"]["n_throttle_signals"] == 0 and out["h2"]["eligible_now"]
    assert out["h3"]["next_eligible_ms"] == 0 and out["h3"]["eligible_now"]


def test_age_boosted_priority_cap_and_rerank(spark):
    """Boost floors at per-aging_ms steps, caps at max_boost, never
    negative; an old low-priority URL overtakes a fresh higher one."""
    from delphi_crawler_spark.operators.politeness import age_boosted_priority

    fr = spark.createDataFrame(
        [
            ("h", 3, 10_000, 1),  # fresh (age 0): eff 3
            ("h", 1, 0, 2),       # age 10_000 = 10 steps -> capped +3: eff 4
            ("h", 2, 7_000, 3),   # age 3000 -> +3 steps? 3000/1000=3: eff 5
            ("h", 0, 10_500, 4),  # future discovery (clock skew): boost 0
        ],
        "host string, priority int, discovery_ts long, seq long",
    )
    out = {
        r["seq"]: r
        for r in age_boosted_priority(fr, now_ms=10_000, aging_ms=1000, max_boost=3).collect()
    }
    assert out[1]["age_boost"] == 0 and out[1]["eff_priority"] == 3
    assert out[2]["age_boost"] == 3 and out[2]["eff_priority"] == 4
    assert out[3]["age_boost"] == 3 and out[3]["eff_priority"] == 5
    assert out[4]["age_boost"] == 0 and out[4]["eff_priority"] == 0
    assert [out[s]["host_rank"] for s in (3, 2, 1, 4)] == [1, 2, 3, 4]


def test_pld_graph_contract_folds_and_drops_intra(spark):
    """Subdomains fold to one PLD, intra-domain edges drop, n_src_hosts
    counts distinct linking hosts."""
    from delphi_crawler_spark.operators.graph import pld_graph_contract

    edges = spark.createDataFrame(
        [
            ("www.a.com", "www.b.com"),
            ("api.a.com", "cdn.b.com"),   # same PLD pair, different hosts
            ("www.a.com", "img.b.com"),   # repeat host
            ("www.a.com", "api.a.com"),   # intra-domain: dropped
            ("u1.github.io", "www.a.com"),
        ],
        ["src_host", "dst_host"],
    )
    out = {(r["src_domain"], r["dst_domain"]): r for r in pld_graph_contract(edges).collect()}
    assert out[("a.com", "b.com")]["n_links"] == 3
    assert out[("a.com", "b.com")]["n_src_hosts"] == 2
    assert out[("u1.github.io", "a.com")]["n_links"] == 1
    assert ("a.com", "a.com") not in out


def test_sitemap_delta_plan_actions(spark):
    """fetch-new / refetch (stale + lastmod-absent) / skip, with exact
    sentinel -1 fills."""
    from delphi_crawler_spark.operators.recrawl import sitemap_delta_plan

    sm = spark.createDataFrame(
        [("u1", 100), ("u2", 100), ("u3", None), ("u4", 100)],
        "url string, lastmod_ms long",
    )
    st = spark.createDataFrame(
        [("u2", 50), ("u3", 500), ("u4", 100)], "url string, fetched_ms long"
    )
    out = {r["url"]: r for r in sitemap_delta_plan(sm, st).collect()}
    assert out["u1"]["action"] == "fetch-new" and out["u1"]["fetched_ms"] == -1
    assert out["u2"]["action"] == "refetch"    # 100 > 50
    assert out["u3"]["action"] == "refetch" and out["u3"]["lastmod_ms"] == -1
    assert out["u4"]["action"] == "skip"       # lastmod == fetched


def test_blocklist_gate_suffix_semantics(spark):
    """Subdomains of a blocked entry are blocked; lookalike substrings are
    not; longest matching suffix wins."""
    from delphi_crawler_spark.operators.domains import blocklist_gate

    fr = spark.createDataFrame(
        [(1, "bad.com"), (2, "a.b.bad.com"), (3, "notbad.com"),
         (4, "deep.evil.bad.com"), (5, "clean.org")],
        ["seq", "host"],
    )
    blocked = spark.createDataFrame(
        [("bad.com",), ("evil.bad.com",)], ["domain"]
    )
    out = {r["seq"]: r for r in blocklist_gate(fr, blocked).collect()}
    assert out[1]["is_blocked"] and out[1]["matched_suffix"] == "bad.com"
    assert out[2]["is_blocked"] and out[2]["matched_suffix"] == "bad.com"
    assert not out[3]["is_blocked"] and out[3]["matched_suffix"] is None
    assert out[4]["matched_suffix"] == "evil.bad.com"  # longest wins
    assert not out[5]["is_blocked"]


def test_dust_param_relevance_learns_irrelevant_params(spark):
    """DUST rule learning (Bar-Yossef WWW'07): a param whose multi-member
    residual groups always share one digest is irrelevant; one
    counter-example group (digest changes with the param) marks it
    relevant; params with no multi-member evidence are never marked
    irrelevant; param ORDER in the residual is normalized (sorted)."""
    from delphi_crawler_spark.operators.dust import dust_param_relevance

    rows = [
        # host A: ?sess= never changes content (two clean groups of 2),
        # ?id= does (one dirty group).
        ("a.com", "https://a.com/p1", {"id": "1", "sess": "x"}, "D1"),
        ("a.com", "https://a.com/p1", {"id": "1", "sess": "y"}, "D1"),
        ("a.com", "https://a.com/p2", {"id": "2", "sess": "x"}, "D2"),
        ("a.com", "https://a.com/p2", {"id": "2", "sess": "y"}, "D2"),
        ("a.com", "https://a.com/p3", {"id": "7", "sess": "x"}, "D7"),
        ("a.com", "https://a.com/p3", {"id": "8", "sess": "x"}, "D8"),
        # host B: same param name sess IS content-bearing there — evidence
        # is per-host, so B's verdict must not leak into A's.
        ("b.com", "https://b.com/q", {"sess": "1"}, "B1"),
        ("b.com", "https://b.com/q", {"sess": "2"}, "B2"),
        ("b.com", "https://b.com/q2", {"sess": "1"}, "B3"),
        ("b.com", "https://b.com/q2", {"sess": "2"}, "B4"),
    ]
    pages = spark.createDataFrame(
        rows, "host string, base string, params map<string,string>, digest string"
    )
    out = {
        (r["host"], r["param"]): r
        for r in dust_param_relevance(pages, min_groups=2).collect()
    }

    sess_a = out[("a.com", "sess")]
    assert sess_a["n_groups_multi"] == 2 and sess_a["n_groups_clean"] == 2
    assert sess_a["irrelevant"]

    id_a = out[("a.com", "id")]
    # residual for id strips id and keeps sess: p1/sess=x + p2/sess=x are
    # different bases, so multi groups are (p3, sess=x) only — dirty.
    assert id_a["n_groups_multi"] == 1 and id_a["n_groups_clean"] == 0
    assert not id_a["irrelevant"]

    sess_b = out[("b.com", "sess")]
    assert sess_b["n_groups_multi"] == 2 and sess_b["n_groups_clean"] == 0
    assert not sess_b["irrelevant"]


def test_dust_residual_normalizes_param_order(spark):
    """?a=1&b=2 and ?b=2&a=1 collapse to one residual group: map literals
    with reversed insertion order land in the same group for a third
    param's evidence."""
    from delphi_crawler_spark.operators.dust import dust_param_relevance

    pages = spark.createDataFrame(
        [
            ("h.com", "https://h.com/p", {"a": "1", "b": "2", "t": "x"}, "D"),
            ("h.com", "https://h.com/p", {"b": "2", "a": "1", "t": "y"}, "D"),
        ],
        "host string, base string, params map<string,string>, digest string",
    )
    out = {
        r["param"]: r
        for r in dust_param_relevance(pages, min_groups=1).collect()
    }
    assert out["t"]["n_groups_multi"] == 1 and out["t"]["n_groups_clean"] == 1
    assert out["t"]["irrelevant"]


def test_cdc_chunks_shift_resistance(spark):
    """The CDC property: inserting a prefix only perturbs chunks near
    the edit — the tail of the document keeps its chunk digests, unlike
    fixed-size chunking where every downstream boundary moves."""
    from delphi_crawler_spark.operators.cdc import cdc_chunks
    import hashlib
    import random

    rng = random.Random(7)
    body = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    edited = "INSERTED-PREFIX-" + body
    df = spark.createDataFrame([(1, body), (2, edited)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r["chunks"]
        for r in df.select(
            "doc_id", cdc_chunks("text").alias("chunks")
        ).collect()
    }
    d1 = [hashlib.md5(c.encode()).hexdigest() for c in out[1]]
    d2 = [hashlib.md5(c.encode()).hexdigest() for c in out[2]]
    # reassembly is lossless
    assert "".join(out[1]) == body and "".join(out[2]) == edited
    # the overwhelming majority of original chunks survive the edit
    shared = set(d1) & set(d2)
    assert len(shared) >= 0.9 * len(d1), (len(shared), len(d1))
    # and the suffix of the chunk streams is literally identical
    k = 0
    while k < min(len(d1), len(d2)) and d1[-1 - k] == d2[-1 - k]:
        k += 1
    assert k >= len(d1) - 3


def test_cdc_chunks_short_text_and_min_len(spark):
    """Texts shorter than window+1 come back as one whole chunk; empty
    text yields no chunks; min_len suppresses cut points closer than
    min_len to the previous kept cut (chunks except the last are >= min_len)."""
    from delphi_crawler_spark.operators.cdc import cdc_chunks
    import random

    rng = random.Random(11)
    long = "".join(rng.choice("abcdefgh ") for _ in range(3000))
    df = spark.createDataFrame(
        [(1, "tiny"), (2, ""), (3, long)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["c0"], r["c32"])
        for r in df.select(
            "doc_id",
            cdc_chunks("text").alias("c0"),
            cdc_chunks("text", min_len=32).alias("c32"),
        ).collect()
    }
    assert out[1] == (["tiny"], ["tiny"])
    assert out[2] == ([], [])
    c0, c32 = out[3]
    assert "".join(c0) == long and "".join(c32) == long
    assert all(len(c) >= 32 for c in c32[:-1])
    # min_len=32 must not produce MORE cuts than the raw rule
    assert len(c32) <= len(c0)
    # kept cuts are a subsequence of raw cuts: every c32 boundary is a c0 boundary
    raw_bounds = set()
    pos = 0
    for c in c0:
        pos += len(c)
        raw_bounds.add(pos)
    pos = 0
    for c in c32:
        pos += len(c)
        assert pos in raw_bounds


def test_wfq_proportional_interleave(spark):
    """WFQ with weights 3:1 gives the heavy host ~3/4 of every prefix;
    per-host FIFO is preserved; hosts missing from the weight table (or
    with bad weights) default to 1; duplicate weight rows don't multiply
    frontier rows."""
    from delphi_crawler_spark.operators.politeness import wfq_order

    rows = [("a", i) for i in range(120)] + [("b", 1000 + i) for i in range(120)]
    rows += [("c", 2000 + i) for i in range(40)]  # not in weight table
    frontier = spark.createDataFrame(rows, ["host", "seq"])
    weights = spark.createDataFrame(
        [("a", 3.0), ("b", 1.0), ("b", 1.0), ("x", -5.0)], ["host", "weight"]
    )
    out = wfq_order(frontier, weights)
    rowsc = out.orderBy("emit_seq").collect()
    assert len(rowsc) == 280  # duplicate dim row didn't multiply
    # fairness: in the first 4k emissions restricted to {a,b}, a gets ~3k
    ab = [r for r in rowsc if r["host"] in ("a", "b")]
    for k in (40, 80, 120):
        prefix = ab[:k]
        na = sum(1 for r in prefix if r["host"] == "a")
        assert abs(na - 0.75 * k) <= 2, (k, na)
    # per-host FIFO: seq increases within each host along emit order
    for h in ("a", "b", "c"):
        seqs = [r["seq"] for r in rowsc if r["host"] == h]
        assert seqs == sorted(seqs)
    # default weight for c is 1.0 and negative weight never propagates
    assert all(r["weight"] == 1.0 for r in rowsc if r["host"] == "c")
    # equal-weight degradation: b (w=1) and c (w=1) alternate in their
    # joint substream while both have pending work
    bc = [r["host"] for r in rowsc if r["host"] in ("b", "c")][:80]
    assert bc.count("b") == 40 and bc.count("c") == 40


def test_refresh_allocation_greedy_optimal_and_nonproportional(spark):
    """Cho & Garcia-Molina structure: (1) sum(visits) == budget exactly;
    (2) the allocation matches a brute-force greedy oracle; (3) it is
    NON-proportional — the fastest-changing page gets no more visits
    than a mid-rate page when the budget is tight; (4) lam <= 0 pages
    are excluded with visits 0."""
    import math

    from delphi_crawler_spark.operators.recrawl import refresh_allocation

    rates = [0.1, 0.5, 1.0, 2.0, 8.0, 32.0, 0.0, -1.0]
    pages = spark.createDataFrame(
        [(f"p{i}", r) for i, r in enumerate(rates)], ["url", "change_rate"]
    )
    budget, kmax = 10, 6
    out = {
        r["url"]: r
        for r in refresh_allocation(pages, budget=budget, max_per_page=kmax).collect()
    }

    def fresh(lam, f):
        return 0.0 if f == 0 else (f / lam) * (1 - math.exp(-lam / f))

    # brute-force greedy over the same candidate space
    cands = []
    for i, lam in enumerate(rates):
        if lam <= 0:
            continue
        for k in range(1, kmax + 1):
            cands.append(
                (round(fresh(lam, k) - fresh(lam, k - 1), 9), f"p{i}", k)
            )
    cands.sort(key=lambda t: (-t[0], t[1], t[2]))
    want: dict[str, int] = {}
    for _, u, _k in cands[:budget]:
        want[u] = want.get(u, 0) + 1
    for i, lam in enumerate(rates):
        u = f"p{i}"
        expect = 0 if lam <= 0 else want.get(u, 0)
        assert out[u]["visits"] == expect, (u, lam, out[u]["visits"], expect)
        assert abs(out[u]["freshness"] - round(fresh(lam, out[u]["visits"]), 6)) < 1e-9 or lam <= 0
    assert sum(r["visits"] for r in out.values()) == budget
    # non-proportionality: lam=32 gets fewer visits than lam=1
    assert out["p5"]["visits"] < out["p2"]["visits"]


def test_vocab_coverage_counts(spark):
    """OOV occurrences vs types, case folding, blank handling, and docs
    with all-OOV text."""
    from delphi_crawler_spark.operators.corpus import vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "The cat and the DOG and the cat"),
            (2, "zzz qqq zzz"),
            (3, "   cat   "),
        ],
        ["doc_id", "text"],
    )
    vocab = spark.createDataFrame([("cat",), ("dog",), ("the",)], ["term"])
    out = {r["doc_id"]: r for r in vocab_coverage(docs, vocab).collect()}

    r1 = out[1]  # tokens: the cat and the dog and the cat
    assert r1["n_tokens"] == 8 and r1["n_oov"] == 2  # 'and' twice
    assert r1["n_types"] == 4 and r1["n_oov_types"] == 1
    assert abs(r1["oov_rate"] - 0.25) < 1e-9
    assert abs(r1["type_token_ratio"] - 0.5) < 1e-9

    r2 = out[2]
    assert r2["n_tokens"] == 3 and r2["n_oov"] == 3 and r2["n_oov_types"] == 2
    assert r2["oov_rate"] == 1.0

    r3 = out[3]  # trim + blank-split discipline
    assert r3["n_tokens"] == 1 and r3["n_oov"] == 0


def test_kcore_peeling_cascade(spark):
    """k-core semantics: a 4-clique survives k=3; a pendant chain hanging
    off it peels away over multiple CASCADING rounds (each removal drops
    the next node below k); core degrees are degrees inside the core."""
    from delphi_crawler_spark.operators.graph import kcore_membership

    clique = [("c1", "c2"), ("c1", "c3"), ("c1", "c4"),
              ("c2", "c3"), ("c2", "c4"), ("c3", "c4")]
    # triangle chain: t1 attached to clique via 2 edges, degree 3 at
    # first, but depends on t2/t3 which peel first -> cascade
    tail = [("c1", "t1"), ("c2", "t1"), ("t1", "t2"), ("t2", "t3")]
    edges = spark.createDataFrame(clique + tail, ["src", "dst"])
    out = {r["node"]: r["core_degree"] for r in
           kcore_membership(edges, k=3, max_iter=10).collect()}
    assert out == {"c1": 3, "c2": 3, "c3": 3, "c4": 3}

    # k larger than any degree -> empty core
    assert kcore_membership(edges, k=10, max_iter=4).count() == 0

    # whole graph already a k-core -> unchanged, one round, symmetric
    out2 = {r["node"]: r["core_degree"] for r in
            kcore_membership(spark.createDataFrame(clique, ["src", "dst"]),
                             k=2, max_iter=4).collect()}
    assert out2 == {"c1": 3, "c2": 3, "c3": 3, "c4": 3}


def test_http_cache_plan_rfc9111_precedence(spark):
    """Hand-computed RFC 9111 cases: max-age beats Expires beats the 10%
    heuristic (capped); no-store always refetches even when 'fresh';
    no-cache zeroes the lifetime but allows revalidation; stale without
    a validator refetches; negative Expires clamps to 0."""
    from delphi_crawler_spark.operators.recrawl import http_cache_plan

    now = 1_000_000_000_000
    rows = [
        # url, host, date, max_age, expires, lm, age, no_store, no_cache, validator
        ("u1", "h", now - 50_000, 100, now + 999_000, None, None, False, False, True),   # max-age wins: age 50 < 100 -> fresh
        ("u2", "h", now - 50_000, 30, None, None, None, False, False, True),            # max-age 30 < age 50 -> revalidate
        ("u3", "h", now - 50_000, None, now + 10_000, None, None, False, False, True),  # expires-date = 60s > 50 -> fresh
        ("u4", "h", now - 50_000, None, now - 60_000, None, None, False, False, False), # expires in past -> clamp 0 -> refetch (no validator)
        ("u5", "h", now - 50_000, None, None, now - 50_000 - 2_000_000, None, False, False, True),  # heuristic 200s > 50 -> fresh
        ("u6", "h", now - 50_000, None, None, now - 50_000 - 864_000_000_000, None, False, False, True),  # heuristic capped at 86400
        ("u7", "h", now - 50_000, 100, None, None, 80, False, False, True),             # age header: 50+80=130 > 100 -> revalidate
        ("u8", "h", now - 50_000, 100, None, None, None, True, False, True),            # no-store -> refetch
        ("u9", "h", now - 50_000, 100, None, None, None, False, True, True),            # no-cache -> lifetime 0 -> revalidate
        ("u10", "h", now - 50_000, None, None, None, None, False, False, True),         # no signal -> lifetime 0 -> revalidate
    ]
    schema = ("url string, host string, date_ms long, max_age_s long, "
              "expires_ms long, last_modified_ms long, age_s long, "
              "no_store boolean, no_cache boolean, has_validator boolean")
    out = {r["url"]: r for r in http_cache_plan(
        spark.createDataFrame(rows, schema), now_ms=now).collect()}
    assert out["u1"]["action"] == "use_cache" and out["u1"]["fresh"]
    assert out["u2"]["action"] == "revalidate"
    assert out["u3"]["action"] == "use_cache"
    assert out["u4"]["action"] == "refetch" and out["u4"]["freshness_lifetime_s"] == 0
    assert out["u5"]["action"] == "use_cache" and out["u5"]["freshness_lifetime_s"] == 200
    assert out["u6"]["freshness_lifetime_s"] == 86400
    assert out["u7"]["action"] == "revalidate" and out["u7"]["current_age_s"] == 130
    assert out["u8"]["action"] == "refetch"
    assert out["u9"]["action"] == "revalidate" and out["u9"]["freshness_lifetime_s"] == 0
    assert out["u10"]["action"] == "revalidate"


def test_ccnet_buckets_tercile_structure(spark):
    """Per-language terciles: bucket sizes differ by at most 1 within
    each language; lower avg_nll always lands in an earlier-or-equal
    bucket; languages are bucketed independently."""
    import __spark_entry__ as entry

    out = entry.q_pipeline_ccnet_buckets(spark, "/root/testdata/sf0.001").collect()
    order = {"head": 0, "middle": 1, "tail": 2}
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang) >= 2
    for lang, rows in by_lang.items():
        sizes = [sum(1 for r in rows if r["bucket"] == b) for b in order]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        rows.sort(key=lambda r: (r["avg_nll"], r["doc_id"]))
        buckets = [order[r["bucket"]] for r in rows]
        assert buckets == sorted(buckets), lang


def test_compaction_plan_bin_packing(spark):
    """Bins respect the target (each group's size sum <= target + one
    file overshoot, and >= target/2 utilization for all but the last
    bin); right-sized files and lone candidates stay out; partitions
    pack independently."""
    from delphi_crawler_spark.storage.compaction import compaction_plan

    rows = (
        [("a", f"a{i}", 300) for i in range(10)]   # 10 small files of 300
        + [("a", "big", 5000)]                     # right-sized, left alone
        + [("b", "lone", 10)]                      # lone candidate -> -1
        + [("c", "c1", 400), ("c", "c2", 400), ("c", "c3", 400)]
    )
    out = compaction_plan(
        spark.createDataFrame(rows, ["part", "file_id", "size_bytes"]),
        target_bytes=1000,
    ).collect()
    by = {(r["part"], r["file_id"]): r for r in out}
    assert by[("a", "big")]["compact_group"] == -1
    assert not by[("a", "big")]["is_candidate"]
    assert by[("b", "lone")]["compact_group"] == -1

    # partition a: 10 x 300 packed at 1000 -> exclusive cumsum bins
    groups: dict[int, int] = {}
    for i in range(10):
        g = by[("a", f"a{i}")]["compact_group"]
        assert g >= 0
        groups[g] = groups.get(g, 0) + 300
    # every bin's fill is within one file of the target
    for g, tot in groups.items():
        assert tot <= 1000 + 300
    assert len(groups) == 3  # 3000 bytes / 1000 target

    # partition c packs independently: exclusive sums 0/400/800 all
    # floor to bin 0 -> one bin of 1200 (<= target + one file overshoot,
    # the next-fit guarantee)
    cg = {by[("c", f"c{i}")]["compact_group"] for i in (1, 2, 3)}
    assert cg == {0}


def test_gear_cdc_cut_properties():
    """Driver-side properties of the FastCDC gear path: lossless
    reassembly, min/max chunk bounds (except the final chunk's min),
    shift resistance (suffix chunks survive a prefix edit), and
    determinism of the splitmix gear table."""
    import random

    from delphi_crawler_spark.operators.cdc import (
        _gear_table,
        gear_cut_points,
    )

    table = _gear_table()
    assert len(set(table.tolist())) == 256  # injective enough / no zeros
    rng = random.Random(3)
    data = bytes(rng.randrange(256) for _ in range(20000))
    cuts = gear_cut_points(data, table, bits=8, min_len=64, max_len=1024)
    assert cuts[-1] == len(data)
    last = 0
    for i, c in enumerate(cuts):
        ln = c - last
        assert ln <= 1024
        if i < len(cuts) - 1:
            assert ln >= 64
        last = c
    # shift resistance: prepend 17 bytes; chunk boundary SET of the tail
    # realigns (suffix cut offsets shifted by 17 reappear)
    edited = bytes(rng.randrange(256) for _ in range(17)) + data
    cuts2 = gear_cut_points(edited, table, bits=8, min_len=64, max_len=1024)
    tail1 = {c for c in cuts if c > 2048}
    tail2 = {c - 17 for c in cuts2 if c - 17 > 2048}
    shared = tail1 & tail2
    assert len(shared) >= 0.8 * len(tail1), (len(shared), len(tail1))


def test_gear_chunk_stats_spark(spark):
    """End-to-end gear chunking through mapInPandas: duplicated passages
    across docs surface as shared digests; unique text does not."""
    import random

    from delphi_crawler_spark.operators.cdc import gear_chunk_stats

    rng = random.Random(9)
    shared_passage = "".join(rng.choice("abcdefgh ") for _ in range(3000))
    uniq = lambda: "".join(rng.choice("qrstuvwx ") for _ in range(1500))
    docs = spark.createDataFrame(
        [
            (1, uniq() + shared_passage + uniq()),
            (2, uniq() + shared_passage),
            (3, uniq()),
        ],
        ["doc_id", "text"],
    )
    out = gear_chunk_stats(docs, bits=6, min_len=16, max_len=256).collect()
    assert len(out) > 0
    # every reported duplicate chunk is genuinely multi-doc or multi-occ
    assert all(r["n_occurrences"] >= 2 for r in out)
    both = [r for r in out if r["n_docs"] >= 2]
    # the shared passage yields many cross-doc chunks
    assert sum(r["chunk_len"] for r in both) >= 0.5 * 3000


def test_zone_map_prune_stats_layout_contrast(spark):
    """Overlap math: a disjoint clustered layout prunes everything
    outside the predicate range; a fully-overlapping layout scans
    everything; boundary touch counts as scanned."""
    from delphi_crawler_spark.storage.zorder import zone_map_prune_stats

    man = spark.createDataFrame(
        [("c", "f0", 0, 99), ("c", "f1", 100, 199), ("c", "f2", 200, 299),
         ("o", "f0", 0, 299), ("o", "f1", 0, 299), ("o", "f2", 0, 299)],
        ["layout", "file_id", "min_key", "max_key"],
    )
    preds = spark.createDataFrame(
        [("q1", 150, 160), ("q2", 99, 100), ("q3", 300, 400)],
        ["pred_id", "lo", "hi"],
    )
    out = {(r["layout"], r["pred_id"]): r
           for r in zone_map_prune_stats(man, preds).collect()}
    assert out[("c", "q1")]["n_scanned"] == 1       # only f1
    assert out[("c", "q2")]["n_scanned"] == 2       # boundary touch: f0 AND f1
    assert out[("c", "q3")]["n_scanned"] == 0       # out of range entirely
    assert out[("c", "q3")]["skip_ratio"] == 1.0
    for q in ("q1", "q2"):
        assert out[("o", q)]["n_scanned"] == 3      # overlap layout never prunes
    assert out[("o", "q3")]["n_scanned"] == 0


def test_pq_encode_and_adc_sanity(spark):
    """PQ structure: codes are m=8 values in [0,16); reconstruction error
    is small for unit vectors (avg well under the 2.0 max for unit
    vectors); ADC top-1 for each query is the query itself (its own
    quantized code minimizes the asymmetric distance) on sf0.001."""
    from delphi_crawler_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, m_subspaces=8, n_codes=16)
    assert books.shape == (8, 16, 8)
    enc = pq_encode(emb, books).collect()
    assert len(enc) == emb.count()
    errs = []
    for r in enc:
        parts = [int(c) for c in r["codes"].split("-")]
        assert len(parts) == 8 and all(0 <= c < 16 for c in parts)
        errs.append(r["recon_err"])
    assert sum(errs) / len(errs) < 1.0

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = pq_adc_topk(emb, q, books, k=3).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in top if r["rank"] == 1}
    # the query's own code minimizes ADC except when another vector
    # shares its code AND a smaller vec_id — allow at most 2 such ties
    self_hits = sum(1 for qid, vid in top1.items() if qid == vid)
    assert self_hits >= len(top1) - 2, top1


def test_span_integrity_audit_localizes_violations(spark):
    """Hand-built spans: a clean doc validates; each corruption class is
    counted in its own column and only there; single-span docs can't
    have offset violations."""
    from delphi_crawler_spark.operators.links import span_integrity_audit

    schema = ("doc_id long, spans array<struct<kind string, text string, "
              "media_ref string, offset int>>")
    mk = lambda k, t, r, o: {"kind": k, "text": t, "media_ref": r, "offset": o}
    rows = [
        (1, [mk("text", "a", None, 0), mk("media", "b", "m://1", 1),
             mk("link", "c", None, 2)]),                        # clean
        (2, [mk("text", "a", None, 2), mk("text", "b", None, 1),
             mk("text", "c", None, 1)]),                        # 2 offset viol
        (3, [mk("media", "a", None, 0), mk("text", "b", "m://x", 1)]),  # 2 ref viol
        (4, [mk("weird", "a", None, 0)]),                       # kind viol, single span
    ]
    out = {r["doc_id"]: r for r in span_integrity_audit(
        spark.createDataFrame(rows, schema)).collect()}
    assert out[1]["is_valid"] and out[1]["n_spans"] == 3
    assert (out[1]["n_offset_viol"], out[1]["n_kind_viol"], out[1]["n_mediaref_viol"]) == (0, 0, 0)
    assert out[2]["n_offset_viol"] == 2 and out[2]["n_kind_viol"] == 0
    assert not out[2]["is_valid"]
    assert out[3]["n_mediaref_viol"] == 2 and out[3]["n_offset_viol"] == 0
    assert out[4]["n_kind_viol"] == 1 and out[4]["n_offset_viol"] == 0


def test_triangle_counts_known_graphs(spark):
    """K4 has C(3,2)=3 triangles per node, coefficient 1.0; a path has
    none; a K4 plus one pendant gives the pendant 0 and its anchor a
    reduced coefficient; every triangle counted exactly once."""
    from delphi_crawler_spark.operators.graph import triangle_counts

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    pend = [("a", "p")]
    path = [("x", "y"), ("y", "z")]
    out = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(k4 + pend + path, ["src", "dst"])).collect()}
    for n in ("b", "c", "d"):
        assert out[n]["n_triangles"] == 3 and out[n]["clustering_coeff"] == 1.0
    # a: degree 4, still 3 triangles -> 2*3/(4*3) = 0.5
    assert out["a"]["n_triangles"] == 3 and out["a"]["clustering_coeff"] == 0.5
    assert out["p"]["n_triangles"] == 0 and out["p"]["clustering_coeff"] == 0.0
    assert out["y"]["n_triangles"] == 0 and out["y"]["degree"] == 2
    # global triangle count: sum/3 == 4 (K4's triangles)
    assert sum(r["n_triangles"] for r in out.values()) == 12


def test_winnowing_guarantee_and_density(spark):
    """The SIGMOD'03 guarantee: two docs sharing a run of >= win+gram-1
    words share at least one fingerprint; fingerprints are positionally
    uniform (every window of win shingles contributed one); a doc with
    completely distinct text shares none."""
    import random

    from delphi_crawler_spark.functions.textfns import winnow_fingerprints

    rng = random.Random(5)
    mk = lambda n, pool: " ".join(rng.choice(pool) for _ in range(n))
    vocab_a = [f"a{i}" for i in range(200)]
    vocab_b = [f"b{i}" for i in range(200)]
    shared_run = mk(7, vocab_a)  # win+gram-1 = 7 words
    d1 = mk(50, vocab_a) + " " + shared_run + " " + mk(50, vocab_a)
    d2 = mk(40, vocab_b) + " " + shared_run + " " + mk(60, vocab_b)
    d3 = mk(80, vocab_b)
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    fps = winnow_fingerprints(docs, gram=4, win=4).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 7-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) or len(by_doc[1] & by_doc[3]) == 0
    # density: selected positions cover the doc roughly uniformly — the
    # max gap between consecutive selected positions is <= win
    pos1 = sorted(r["pos"] for r in fps if r["doc_id"] == 1)
    gaps = [b - a for a, b in zip(pos1, pos1[1:])]
    assert max(gaps) <= 4


def test_curriculum_order_tiers_then_shuffle(spark):
    """Tiers stream in order; within a tier the order is the md5 shuffle
    (not doc_id order); train_seq is a 1-based dense total order and is
    identical at different parallelism levels."""
    import hashlib

    from delphi_crawler_spark.operators.corpus import curriculum_order

    docs = spark.createDataFrame(
        [(i, i % 2) for i in range(40)], ["doc_id", "tier"]
    )
    out = sorted(curriculum_order(docs).collect(), key=lambda r: r["train_seq"])
    assert [r["train_seq"] for r in out] == list(range(1, 41))
    tiers = [r["tier"] for r in out]
    assert tiers == sorted(tiers)
    t0 = [r["doc_id"] for r in out if r["tier"] == 0]
    exp0 = sorted(
        (i for i in range(0, 40, 2)),
        key=lambda i: (hashlib.md5(f"0|{i}".encode()).hexdigest(), i),
    )
    assert t0 == exp0 and t0 != sorted(t0)
    # parallelism invariance
    out2 = sorted(
        curriculum_order(docs.repartition(7)).collect(),
        key=lambda r: r["train_seq"],
    )
    assert [(r["doc_id"], r["train_seq"]) for r in out2] == [
        (r["doc_id"], r["train_seq"]) for r in out
    ]


def test_retention_matrix_hand_computed(spark):
    """3 users, 2 cohorts: week-0 retention is 1.0 by construction; later
    offsets count only still-active users."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 4)  # anchor inside some epoch week
    wk = lambda w: base + timedelta(weeks=w)
    rows = [
        (1, wk(0)), (1, wk(1)), (1, wk(2)),
        (2, wk(0)), (2, wk(2)),
        (3, wk(1)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "event_type", F.lit("view")
    )
    import __spark_entry__  # noqa: F401  (query operates on the events table shape)
    wkcol = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp_ltz")) / F.lit(604800000000)
    ).cast("bigint")
    act = ev.select("user_id", wkcol.alias("week")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    joined = act.join(cohort, "user_id").select(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
    )
    ret = joined.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    ).join(sizes, "cohort_week").collect()
    m = {(r["cohort_week"] is not None, r["week_offset"]): r for r in ret}
    # normalize: cohorts keyed by min week value
    weeks = sorted({r["cohort_week"] for r in ret})
    c0, c1 = weeks[0], weeks[1]
    by = {(r["cohort_week"], r["week_offset"]): (r["n_active"], r["cohort_size"]) for r in ret}
    assert by[(c0, 0)] == (2, 2)   # users 1,2
    assert by[(c0, 1)] == (1, 2)   # only user 1
    assert by[(c0, 2)] == (2, 2)   # users 1,2 again
    assert by[(c1, 0)] == (1, 1)   # user 3's own cohort


def test_apply_dust_rules_folds_only_irrelevant(spark):
    """Learned-irrelevant params are stripped per host; other hosts'
    verdicts don't leak; param order is normalized in the folded URL;
    hosts with no rules pass through with all params."""
    from delphi_crawler_spark.operators.dust import apply_dust_rules

    pages = spark.createDataFrame(
        [
            ("a.com", "https://a.com/p", {"sess": "9", "id": "1"}, "D"),
            ("b.com", "https://b.com/q", {"sess": "9", "id": "1"}, "D"),
        ],
        "host string, base string, params map<string,string>, digest string",
    )
    rules = spark.createDataFrame(
        [("a.com", "sess", True), ("a.com", "id", False), ("b.com", "sess", False)],
        "host string, param string, irrelevant boolean",
    )
    out = {r["host"]: r["folded_url"] for r in
           apply_dust_rules(pages, rules).collect()}
    assert out["a.com"] == "https://a.com/p?id=1"
    assert out["b.com"] == "https://b.com/q?id=1&sess=9"


def test_trend_slope_and_gapfill(spark):
    """OLS slope hand-computed on a rising host; flat and single-day
    hosts report 0."""
    from delphi_crawler_spark.operators.recrawl import host_trend_slope

    act = spark.createDataFrame(
        [("up", 0, 1), ("up", 1, 3), ("up", 2, 5),       # slope 2
         ("flat", 5, 4), ("flat", 6, 4), ("flat", 7, 4),  # slope 0
         ("one", 9, 7)],                                  # no evidence
        ["host", "day", "n"],
    )
    out = {r["host"]: r for r in host_trend_slope(act).collect()}
    assert out["up"]["slope"] == 2.0 and out["up"]["rising"]
    assert out["flat"]["slope"] == 0.0 and not out["flat"]["rising"]
    assert out["one"]["slope"] == 0.0 and out["one"]["n_days"] == 1
    assert out["up"]["mean_daily"] == 3.0


def test_consistent_hash_resize_stability(spark):
    """THE consistent-hashing property: resizing 8 -> 9 shards moves a
    small minority of keys (expected ~1/9, vs ~8/9 for hash-mod), and
    the load split across shards is reasonably balanced."""
    from delphi_crawler_spark.operators.sharding import consistent_hash_shards

    hosts = spark.createDataFrame(
        [(f"host{i}.example",) for i in range(2000)], ["host"]
    )
    a = {r["host"]: r["shard"] for r in
         consistent_hash_shards(hosts, n_shards=8, vnodes=64).collect()}
    b = {r["host"]: r["shard"] for r in
         consistent_hash_shards(hosts, n_shards=9, vnodes=64).collect()}
    moved = sum(1 for h in a if a[h] != b[h])
    assert moved / len(a) < 0.25, moved  # ~1/9 expected, hash-mod would be ~0.89
    # every new-shard key moved TO shard 8 (new shards only steal)
    for h in a:
        if a[h] != b[h]:
            assert b[h] == 8, (h, a[h], b[h])
    # balance: no shard above 2.2x the mean at vnodes=64
    from collections import Counter

    c = Counter(a.values())
    assert len(c) == 8
    assert max(c.values()) <= 2.2 * (len(a) / 8)


def test_burn_rate_multiwindow_gating(spark):
    """A dense error burst makes the SHORT window burn hot immediately
    but the alert fires only once the LONG window also exceeds its
    factor; an isolated blip never alerts; simultaneous fetches co-count
    (RANGE frame)."""
    from delphi_crawler_spark.operators.politeness import error_burn_rate

    rows = []
    # host A: healthy for an hour (one ok per 10s), then a hard outage
    for i in range(360):
        rows.append(("a", i * 10_000, True))
    for i in range(200):
        rows.append(("a", 3_600_000 + i * 1_000, False))
    # host B: a single blip among successes
    for i in range(100):
        rows.append(("b", i * 1_000, i != 50))
    log = spark.createDataFrame(rows, ["host", "ts_ms", "ok"])
    out = error_burn_rate(log, slo_error_rate=0.05).collect()
    a_alerts = [r for r in out if r["host"] == "a" and r["alert"]]
    assert a_alerts, "sustained outage must alert"
    # alerts only during the outage phase
    assert all(r["ts_ms"] >= 3_600_000 for r in a_alerts)
    # deep in the outage the short window is mostly errors: burn far
    # above the 14.4x firing factor (window still holds a few pre-outage
    # successes, so below the all-error saturation of 20x)
    deep = [r for r in out if r["host"] == "a" and r["ts_ms"] >= 3_700_000]
    assert deep and all(r["burn_short"] >= 14.4 for r in deep)
    assert not [r for r in out if r["host"] == "b" and r["alert"]]


def test_mm_pack_interleaved_weight_model(spark):
    """Media spans cost 64 tokens in the packer's weight model: a doc's
    packed weight equals its span count plus 63 per media span, and no
    sequence exceeds the budget unless it holds a single oversized doc."""
    import __spark_entry__ as entry

    rows = entry.q_mm_pack_interleaved(spark, "/root/testdata/sf0.001").collect()
    assert rows
    # recompute one doc's weight independently
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").collect()
    byid = {r["doc_id"]: r["text"] for r in docs}
    for r in rows[:20]:
        words = [w for w in __import__("re").split(r"\s+", byid[r["doc_id"]])]
        n_media = sum(1 for w in words if len(w) % 3 == 2)
        assert r["n_tokens"] == len(words) + 63 * n_media
    # budget discipline per sequence
    from collections import defaultdict

    seqs = defaultdict(list)
    for r in rows:
        seqs[(r["shard"], r["seq_id"])].append(r)
    for (_, _), members in seqs.items():
        total = sum(m["n_tokens"] for m in members)
        if len(members) > 1:
            assert total <= 2048
        assert members[0] is not None


def test_xrobots_header_scoping(spark):
    """Agent scoping grammar: unscoped applies to all; a scope prefix
    binds following tokens until the next scope; another agent's group
    is ignored; 'none' expands; unavailable_after's colon is not a
    scope; null header is index+follow."""
    from delphi_crawler_spark.operators.robots import xrobots_header_gate

    rows = [
        (1, "noindex"),
        (2, "otherbot: noindex, nofollow"),              # all scoped away
        (3, "mybot: nofollow, noarchive"),               # both bind to mybot
        (4, "otherbot: noindex, mybot: noarchive"),      # rescope mid-header
        (5, "NONE"),
        (6, "noarchive, unavailable_after: 01 Jan 2030"),
        (7, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, x_robots_tag string")
    out = {r["doc_id"]: r for r in
           xrobots_header_gate(docs, agent="mybot").collect()}
    assert out[1]["noindex"] and not out[1]["nofollow"]
    assert out[2]["action"] == "index+follow"
    assert out[3]["nofollow"] and out[3]["noarchive"] and not out[3]["noindex"]
    assert out[4]["noarchive"] and not out[4]["noindex"]
    assert out[5]["noindex"] and out[5]["nofollow"]
    assert out[6]["noarchive"] and out[6]["action"] == "index+follow"
    assert out[7]["action"] == "index+follow"


def test_char_entropy_known_values(spark):
    """Hand-computed entropies: uniform 4-char alphabet = 2 bits; single
    repeated char = 0; empty = 0; natural-ish text in the pass band;
    base64-ish noise near log2(alphabet) fails the band when > 5.5 only
    for large alphabets (64-char uniform ~ 6 bits)."""
    import math
    import random

    from delphi_crawler_spark.functions.textfns import char_entropy_col

    rng = random.Random(2)
    b64 = "".join(
        rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/")
        for _ in range(4096)
    )
    docs = spark.createDataFrame(
        [
            (1, "abcd" * 100),          # uniform over 4 chars -> exactly 2.0
            (2, "aaaaaaa"),             # 0
            (3, ""),                    # 0 by convention
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, b64),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in spark.createDataFrame(
        docs.select("doc_id", char_entropy_col(F.col("text")).alias("e")).collect()
    ).collect()}
    assert out[1]["e"] == 2.0
    assert out[2]["e"] == 0.0
    assert out[3]["e"] == 0.0
    assert 3.0 < out[4]["e"] < 5.0
    # 64-symbol near-uniform noise: close to 6 bits, outside the band
    assert out[5]["e"] > 5.5
    # cross-check doc 4 against a python implementation
    t = "the quick brown fox jumps over the lazy dog"
    from collections import Counter

    n = len(t)
    exp = math.log2(n) - sum(c * math.log2(c) for c in Counter(t).values()) / n
    assert abs(out[4]["e"] - round(exp, 6)) < 1e-6


def test_wet_record_parsing_and_quarantine(spark):
    """Multi-record blob parsing: bodies survive byte-exact (including
    interior blank-line-free headers), the missing-URI record is flagged
    malformed but still carries its body, record order follows blob
    order."""
    from delphi_crawler_spark.sources.scan import parse_wet_records

    blob = (
        "WARC/1.0\nWARC-Target-URI: https://a/1\nContent-Length: 11\n\n"
        "hello world\n\n"
        "WARC/1.0\nContent-Length: 3\n\nxyz\n\n"           # malformed: no URI
        "WARC/1.0\nWARC-Target-URI: https://a/2\nContent-Length: 7\n\n"
        "goodbye\n\n"
    )
    blobs = spark.createDataFrame([(1, blob)], ["file_id", "content"])
    out = sorted(parse_wet_records(blobs).collect(), key=lambda r: r["record_idx"])
    assert len(out) == 3
    assert out[0]["target_uri"] == "https://a/1" and out[0]["content_length"] == 11
    assert out[0]["body"].strip() == "hello world" and not out[0]["malformed"]
    assert out[1]["malformed"] and out[1]["target_uri"] is None
    assert out[1]["body"].strip() == "xyz" and out[1]["content_length"] == 3
    assert out[2]["target_uri"] == "https://a/2" and not out[2]["malformed"]


def test_bowtie_components_hand_built(spark):
    """Hand-built bow-tie: a 3-cycle core, an IN chain, an OUT chain, a
    disconnected pair — every node classified correctly with the right
    depths from the max-out-degree pivot."""
    from delphi_crawler_spark.operators.graph import bowtie_decomposition

    edges = [
        # core 3-cycle; c1 gets extra out-edges so the pivot is c1
        ("c1", "c2"), ("c2", "c3"), ("c3", "c1"),
        ("c1", "o1"), ("o1", "o2"),              # OUT chain
        ("i2", "i1"), ("i1", "c2"),              # IN chain
        ("x1", "x2"),                            # disconnected
    ]
    out = {r["node"]: r for r in bowtie_decomposition(
        spark.createDataFrame(edges, ["src", "dst"]), max_depth=8).collect()}
    assert {n for n, r in out.items() if r["component"] == "CORE"} == {"c1", "c2", "c3"}
    assert {n for n, r in out.items() if r["component"] == "OUT"} == {"o1", "o2"}
    assert {n for n, r in out.items() if r["component"] == "IN"} == {"i1", "i2"}
    assert {n for n, r in out.items() if r["component"] == "OTHER"} == {"x1", "x2"}
    assert out["o2"]["fwd_depth"] == 2 and out["o2"]["bwd_depth"] is None
    assert out["i2"]["bwd_depth"] == 4  # i2 -> i1 -> c2 -> c3 -> c1
    assert out["c1"]["fwd_depth"] == 0 and out["c1"]["bwd_depth"] == 0


def test_dedup_verdict_priority_order(spark):
    """Signal priority: exact beats neardup beats passage-ratio; the
    smallest doc of an exact pair keeps; a doc sharing a long passage
    (but not the whole text) gets drop_neardup or drop_dup_pass, never
    keep; unrelated docs keep."""
    import __spark_entry__ as entry

    out = {r["doc_id"]: r for r in
           entry.q_pipeline_dedup_verdict(spark, "/root/testdata/sf0.001").collect()}
    # structural checks against independently computed exact duplicates
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    exact = {
        r[0]
        for r in con.execute(
            """SELECT DISTINCT a.doc_id FROM
               (SELECT doc_id, md5(text) dg FROM documents) a
               JOIN (SELECT doc_id, md5(text) dg FROM documents) b
               ON a.dg = b.dg AND a.doc_id > b.doc_id"""
        ).fetchall()
    }
    for d, r in out.items():
        if d in exact:
            assert r["verdict"] == "drop_exact", d
        if r["verdict"] == "keep":
            assert d not in exact
    assert any(r["verdict"] == "keep" for r in out.values())


def test_snapshot_expiry_retention_rules(spark):
    """Keep-last-N and daily-keeper rules: the 5 newest stay 'recent',
    each recent UTC day's last snapshot stays 'daily', old days expire
    entirely; exactly one daily keeper per (table, day) within the
    horizon."""
    from delphi_crawler_spark.storage.compaction import snapshot_expiry_plan

    now = 1_700_000_000_000
    day = 86_400_000
    rows = []
    # table A: 3 snapshots/day for 10 days back
    sid = 0
    for dback in range(10):
        for k in range(3):
            rows.append(("A", sid, now - dback * day - k * 3_600_000))
            sid += 1
    snaps = spark.createDataFrame(rows, ["table_name", "snapshot_id", "committed_ms"])
    out = snapshot_expiry_plan(snaps, now_ms=now, keep_last=5, keep_daily_days=7).collect()
    by = {r["snapshot_id"]: r for r in out}
    # 5 newest: recent
    newest = sorted(rows, key=lambda t: (-t[2], -t[1]))[:5]
    for _, sid_, _ in newest:
        assert by[sid_]["reason"] == "recent"
    # every kept-daily snapshot is the newest of its day and in horizon
    dailies = [r for r in out if r["reason"] == "daily"]
    assert dailies
    for r in dailies:
        assert r["committed_ms"] >= now - 7 * day
    # snapshots older than 7 days all expire
    for _, sid_, ts in rows:
        if ts < now - 7 * day:
            assert by[sid_]["expire"], sid_
    # expire is consistent with reason
    for r in out:
        assert r["expire"] == (r["reason"] == "expire")


def test_heaps_curve_monotone_and_exact(spark):
    """Cumulative distinct grams are monotone, bounded by cumulative
    tokens, and the total equals the exact corpus-wide distinct-gram
    count; a corpus of repeated text flattens after bucket 0."""
    from delphi_crawler_spark.operators.corpus import heaps_curve

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("epsilon" if i < 5 else "")) for i in range(100)],
        ["doc_id", "text"],
    )
    out = sorted(heaps_curve(docs, n_buckets=5, gram=2).collect(),
                 key=lambda r: r["bucket"])
    cds = [r["cum_distinct_grams"] for r in out]
    assert cds == sorted(cds)
    assert all(r["cum_distinct_grams"] <= r["cum_tokens"] for r in out)
    # distinct 2-grams: docs 0-4 have 4 grams ('alpha beta','beta gamma',
    # 'gamma delta','delta epsilon'); docs 5+ have 3 (subset). total = 4
    assert cds[-1] == 4
    # everything new appears in bucket 0 -> flat afterwards
    assert out[0]["n_new_grams"] == 4
    assert all(r["n_new_grams"] == 0 for r in out[1:])


def test_readability_hand_computed(spark):
    """Known sentence: 'The cat sat on the mat. It was happy.' — 9 words,
    2 sentences, syllables by the [aeiouy]+-run rule; empty text nulls
    the scores."""
    from delphi_crawler_spark.functions.textfns import readability_cols

    docs = spark.createDataFrame(
        [(1, "The cat sat on the mat. It was happy."), (2, "   "), (3, "!!!")],
        ["doc_id", "text"],
    )
    c = readability_cols(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in docs.select("doc_id", *[v.alias(k) for k, v in c.items()]).collect()
    }
    r1 = rows[1]
    # the|cat|sat|on|the|mat|it|was|happy -> 1,1,1,1,1,1,1,1,2 = 10 syllables
    assert r1["n_words"] == 9 and r1["n_sentences"] == 2
    assert r1["n_syllables"] == 10
    wps, spw = 9 / 2, 10 / 9
    assert abs(r1["flesch"] - round(206.835 - 1.015 * wps - 84.6 * spw, 6)) < 1e-9
    assert abs(r1["fk_grade"] - round(0.39 * wps + 11.8 * spw - 15.59, 6)) < 1e-9
    for d in (2, 3):  # no letter-bearing words -> null scores, zero counts
        assert rows[d]["n_words"] == 0 and rows[d]["flesch"] is None
        assert rows[d]["fk_grade"] is None and rows[d]["n_syllables"] == 0


def test_code_detect_votes(spark):
    """A python-ish snippet trips all three signals; plain prose trips
    none; an indented poem trips only the indent signal (not code)."""
    from delphi_crawler_spark.functions.textfns import code_detect_cols

    code = (
        "def f(x):\n  return x + 1\n\n"
        "class A:\n  def g(self):\n    import os\n    return os"
    )
    prose = (
        "The quick brown fox jumps over the lazy dog. "
        "It was the best of times, it was the worst of times."
    )
    poem = "  roses are red\n  violets are blue\nplain line\n  indented too"
    docs = spark.createDataFrame(
        [(1, code), (2, prose), (3, poem)], ["doc_id", "text"]
    )
    c = code_detect_cols(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in docs.select("doc_id", *[v.alias(k) for k, v in c.items()]).collect()
    }
    assert rows[1]["is_code"] and rows[1]["code_votes"] == 3
    assert rows[1]["kw_hits"] >= 3 and rows[1]["sym_ratio"] >= 0.05
    assert not rows[2]["is_code"] and rows[2]["code_votes"] == 0
    assert rows[3]["code_votes"] == 1 and not rows[3]["is_code"]
    assert rows[3]["indent_ratio"] == 0.75


def test_zipf_fit_hand_computed(spark):
    """3-term corpus: slope/intercept must equal the closed-form OLS on
    6dp-rounded logs; a 1-term group yields NULL fit."""
    import math

    from delphi_crawler_spark.operators.corpus import zipf_fit

    docs = spark.createDataFrame(
        [(1, "en", "a a a a b b c"), (2, "en", "a a b"), (3, "xx", "solo")],
        ["doc_id", "lang", "text"],
    )
    out = {r["lang"]: r for r in zipf_fit(docs, by="lang", top_n=100).collect()}
    # en counts: a=6 (rank 1), b=3 (rank 2), c=1 (rank 3)
    xs = [round(math.log(r), 6) for r in (1, 2, 3)]
    ys = [round(math.log(c), 6) for c in (6, 3, 1)]
    n = 3.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    icpt = sy / n - slope * sx / n
    en = out["en"]
    assert en["n_terms"] == 3
    assert abs(en["zipf_slope"] - round(slope, 6)) < 1e-9
    assert abs(en["zipf_intercept"] - round(icpt, 6)) < 1e-9
    assert en["zipf_slope"] < 0  # frequency falls with rank
    xx = out["xx"]
    assert xx["n_terms"] == 1 and xx["zipf_slope"] is None
    assert xx["zipf_intercept"] is None


def test_bloom_file_index_no_false_negatives(spark):
    """Every truly-present probe must be bloom-maybe in its file (no false
    negatives, the bloom contract); skipping must actually happen; an
    absent key's maybe-count is pure false positives."""
    from delphi_crawler_spark.storage.bloomindex import (
        bloom_probe_stats,
        build_file_blooms,
    )

    data = spark.range(1, 2001).select(
        (F.col("id") % 8).alias("file_id"), F.col("id").alias("k")
    )
    blooms = build_file_blooms(data, "file_id", "k", bits=8192)
    # probes: 30 present keys + 30 absent (beyond the data range)
    probes = spark.range(1, 61).select(
        F.when(F.col("id") <= 30, F.col("id") * 64)
        .otherwise(F.col("id") * 64 + 100_000)
        .alias("probe_key")
    )
    out = bloom_probe_stats(
        blooms, data, probes, "file_id", "k", bits=8192, n_files=8
    ).collect()
    assert len(out) == 60
    for r in out:
        assert r["n_files_maybe"] + r["n_files_skipped"] == 8
        assert r["n_false_pos"] == r["n_files_maybe"] - r["n_files_true"]
        assert r["n_files_maybe"] >= r["n_files_true"]  # no false negatives
        if r["probe_key"] <= 30 * 64:  # present: its one true file is maybe
            assert r["n_files_true"] == 1
        else:
            assert r["n_files_true"] == 0
    # the index must prune: with 250 keys/file in 8192 bits the average
    # probe must skip most of the 8 files
    total_skipped = sum(r["n_files_skipped"] for r in out)
    assert total_skipped > 60 * 5

    with pytest.raises(ValueError):
        build_file_blooms(data, "file_id", "k", bits=100)


def test_orphan_file_plan_classification(spark):
    """Four-way classification: ok / orphan (old+unreferenced) /
    recent_unreferenced (young, never deletable) / missing (referenced
    but absent from the listing)."""
    from delphi_crawler_spark.storage.compaction import orphan_file_plan

    now = 1_700_000_000_000
    day = 86_400_000
    listing = spark.createDataFrame(
        [
            ("a", now - 10 * day),  # referenced -> ok
            ("b", now - 10 * day),  # unreferenced, old -> orphan
            ("c", now - 1 * day),   # unreferenced, young -> recent
        ],
        ["path", "mtime_ms"],
    )
    referenced = spark.createDataFrame([("a",), ("d",)], ["path"])
    out = {
        r["path"]: r
        for r in orphan_file_plan(listing, referenced, now_ms=now).collect()
    }
    assert out["a"]["status"] == "ok" and not out["a"]["delete"]
    assert out["b"]["status"] == "orphan" and out["b"]["delete"]
    assert out["c"]["status"] == "recent_unreferenced" and not out["c"]["delete"]
    assert out["d"]["status"] == "missing" and not out["d"]["delete"]
    assert out["d"]["mtime_ms"] is None and out["d"]["referenced"]
    assert not out["b"]["referenced"]


def test_soft_dedup_weights_mass_conservation(spark):
    """Each cluster contributes ~1 doc of weight mass; eff_tokens of a
    k-clone cluster equals one clone's tokens."""
    from delphi_crawler_spark.operators.corpus import soft_dedup_weights

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z"), (3, "x y z"), (4, "unique doc here now")],
        ["doc_id", "text"],
    )
    clusters = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3), (4, 4, 1)],
        ["doc_id", "cluster_id", "cluster_size"],
    )
    out = {r["doc_id"]: r for r in soft_dedup_weights(docs, clusters).collect()}
    for d in (1, 2, 3):
        assert out[d]["weight"] == round(1 / 3, 6)
        assert out[d]["eff_tokens"] == round(3 * (1 / 3), 6)
    assert out[4]["weight"] == 1.0 and out[4]["eff_tokens"] == 4.0
    total_w = sum(r["weight"] for r in out.values())
    assert abs(total_w - 2.0) < 1e-5  # 2 clusters -> 2 docs of mass


def test_gini_skew_uniform_vs_concentrated(spark):
    """Uniform keys -> Gini 0; one dominant key -> Gini near 1 and
    top1_share matching; hand value for a known 3-key split."""
    from delphi_crawler_spark.operators.salting import key_skew_gini

    uniform = spark.createDataFrame(
        [(f"h{i}",) for i in range(4) for _ in range(5)], ["host"]
    )
    r = key_skew_gini(uniform).collect()[0]
    assert r["gini"] == 0.0 and r["n_keys"] == 4 and r["total"] == 20
    assert r["top1_share"] == 0.25 and r["top10_share"] == 1.0

    # counts 1, 1, 8: sorted x=[1,1,8], i=[1,2,3]
    # G = (2*(1+2+24) - 4*10) / (3*10) = (54-40)/30
    skewed = spark.createDataFrame(
        [("a",)] + [("b",)] + [("c",)] * 8, ["host"]
    )
    r2 = key_skew_gini(skewed).collect()[0]
    assert r2["gini"] == round(14 / 30, 6)
    assert r2["top1_share"] == 0.8

    one = spark.createDataFrame([("a",), ("a",)], ["host"])
    assert key_skew_gini(one).collect()[0]["gini"] is None


def test_drain_eta_hand_computed(spark):
    """Budget 10s, delay 3s -> 4 fetches/round (t=0,3,6,9); 10 pending
    drain in 27s over 3 rounds with 6 carryover this round; unknown host
    falls back to the default delay."""
    from delphi_crawler_spark.operators.politeness import drain_eta

    pending = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 2 + [("x",)] * 3, ["host"]
    )
    delays = spark.createDataFrame(
        [("a", 3.0), ("b", 0.0)], ["host", "crawl_delay_s"]
    )
    out = {
        r["host"]: r
        for r in drain_eta(pending, delays, round_budget_s=10.0).collect()
    }
    a = out["a"]
    assert a["fetchable_this_round"] == 4 and a["carryover"] == 6
    assert a["drain_eta_s"] == 27.0 and a["rounds_needed"] == 3
    assert a["overflows"]
    b = out["b"]  # zero delay: everything fetchable, one round
    assert b["fetchable_this_round"] == 2 and b["rounds_needed"] == 1
    assert not b["overflows"] and b["drain_eta_s"] == 0.0
    x = out["x"]  # default 1s delay: cap 11 >= 3 pending
    assert x["crawl_delay_s"] == 1.0 and x["carryover"] == 0

    with pytest.raises(ValueError):
        drain_eta(pending, delays, round_budget_s=0)


def test_span_transitions_offset_order(spark):
    """Transitions follow OFFSET order, not array order: a doc stored
    media-first but offset-ordered text->media->text yields exactly
    those transitions; shares normalize per from-kind."""
    from delphi_crawler_spark.operators.multimodal import span_transition_matrix

    mk = lambda k, t, o: {"kind": k, "text": t, "media_ref": None, "offset": o}  # noqa: E731
    rows = [
        (1, [mk("media", "m", 1), mk("text", "a", 0), mk("text", "b", 2)]),
        (2, [mk("text", "x", 0), mk("media", "y", 1)]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = {
        (r["from_kind"], r["to_kind"]): r
        for r in span_transition_matrix(df).collect()
    }
    # doc1 offset order: text(0)->media(1)->text(2); doc2: text->media
    assert out[("text", "media")]["n_transitions"] == 2
    assert out[("text", "media")]["n_docs"] == 2
    assert out[("media", "text")]["n_transitions"] == 1
    assert out[("text", "media")]["share_of_from"] == 1.0  # all text-> go to media
    assert out[("media", "text")]["share_of_from"] == 1.0
    assert set(out) == {("text", "media"), ("media", "text")}


def test_ann_recall_hand_case(spark):
    """Approx top-3 vs exact: hits counted on rank<=k only; underfilled
    approx penalized (recall over k); perfect match scores 1."""
    from delphi_crawler_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12), (2, 1, 20), (2, 2, 21), (2, 3, 22)],
        ["query_id", "rank", "vec_id"],
    )
    approx = spark.createDataFrame(
        [
            (1, 1, 10), (1, 2, 99), (1, 3, 12), (1, 4, 11),  # rank4 ignored
            (2, 1, 20),                                       # underfilled
        ],
        ["query_id", "rank", "vec_id"],
    )
    out = {r["query_id"]: r for r in ann_recall(approx, exact, k=3).collect()}
    assert out[1]["n_hits"] == 2 and out[1]["recall"] == round(2 / 3, 6)
    assert out[1]["n_approx"] == 3
    assert out[2]["n_hits"] == 1 and out[2]["n_approx"] == 1
    assert out[2]["recall"] == round(1 / 3, 6)

    with pytest.raises(ValueError):
        ann_recall(approx, exact, k=0)


def test_staleness_expectation_hand_computed(spark):
    """lambda*T = 1 gives the classic 1 - (1-e^-1) ~ 0.367879 at-revisit
    complement; lambda=0 (no evidence) and NULL both report 0 staleness;
    staleness grows with T."""
    import math

    from delphi_crawler_spark.operators.recrawl import staleness_expectation

    rates = spark.createDataFrame(
        [("a", 1.0, 1.0), ("b", 1.0, 7.0), ("c", 0.0, 3.0), ("d", None, 3.0)],
        "url string, lambda_per_day double, period_days double",
    )
    out = {r["url"]: r for r in staleness_expectation(rates).collect()}
    a = out["a"]
    assert a["lambda_t"] == 1.0
    assert a["p_stale_at_revisit"] == round(1 - math.exp(-1), 6)
    assert a["expected_stale_frac"] == round(1 - (1 - math.exp(-1)) / 1, 6)
    assert out["b"]["expected_stale_frac"] > a["expected_stale_frac"]
    for u in ("c", "d"):
        assert out[u]["expected_stale_frac"] == 0.0
        assert out[u]["p_stale_at_revisit"] == 0.0
    # time-averaged is always below the at-revisit instant
    assert out["b"]["expected_stale_frac"] < out["b"]["p_stale_at_revisit"]


def test_tokenizer_fertility_hand_computed(spark):
    """'don't stop' = 2 words but 4 BPE-ish units (don / ' / t / stop):
    fertility 2.0; empty-text group reports NULL ratios."""
    from delphi_crawler_spark.operators.corpus import tokenizer_fertility

    docs = spark.createDataFrame(
        [(1, "en", "don't stop"), (2, "en", "a b"), (3, "xx", "")],
        ["doc_id", "lang", "text"],
    )
    out = {r["lang"]: r for r in tokenizer_fertility(docs, by="lang").collect()}
    en = out["en"]
    # words: 2 + 2 = 4; subwords: (don,',t,stop)=4 + (a,b)=2 = 6
    assert en["n_words"] == 4 and en["n_subwords"] == 6
    assert en["fertility"] == 1.5
    assert en["n_chars"] == len("don't stop") + len("a b")
    xx = out["xx"]
    assert xx["n_words"] == 0 and xx["fertility"] is None
    assert xx["chars_per_subword"] is None


def test_git_identifier_parse_cases(spark):
    """Canonical remote lowercased, .git stripped; last-@ split survives
    userinfo; short/full hex commits pass, others quarantine."""
    from delphi_crawler_spark.sources.scan import parse_git_identifiers

    rows = [
        (1, "https://Git.HOST.com/Org/Repo.git@ABCDEF1"),
        (2, "ssh://user@host.io/o/r@" + "a" * 40),
        (3, "https://host.com/o/r@xyz"),          # bad commit
        (4, "host.com/o/r@abcdef1"),              # no scheme
        (5, "https://host.com/o/r"),              # no @
        (6, "https://host.com@abcdef1"),          # no path
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ident"])
    out = {r["doc_id"]: r for r in parse_git_identifiers(df).collect()}
    r1 = out[1]
    assert r1["valid"] and r1["repo_url"] == "https://git.host.com/Org/Repo"
    assert r1["commit_id"] == "abcdef1"
    assert r1["repo_key"] == "com.host.git/Org/Repo"
    r2 = out[2]  # userinfo @ must not break the split
    assert r2["valid"] and r2["repo_url"] == "ssh://user@host.io/o/r"
    assert r2["commit_id"] == "a" * 40
    for d in (3, 4, 5, 6):
        assert not out[d]["valid"] and out[d]["repo_url"] is None


def test_host_partition_plan_serpentine(spark):
    """Serpentine placement: ranks 0..7 on 4 partitions go 0,1,2,3,3,2,
    1,0; heavy hosts never co-locate; balance beats hashing on a skewed
    load; host counts per partition differ by at most 1."""
    from delphi_crawler_spark.operators.salting import (
        host_partition_plan,
        partition_loads,
    )

    loads = [100, 90, 80, 70, 60, 50, 40, 30]
    rows = [(f"h{i:02d}", c) for i, c in enumerate(loads)]
    df = spark.createDataFrame(rows, ["host", "cnt"])
    plan = host_partition_plan(df, 4, count_col="cnt")
    got = {r["rank"]: r["partition"] for r in plan.collect()}
    assert [got[i] for i in range(8)] == [0, 1, 2, 3, 3, 2, 1, 0]
    pl = {r["partition"]: r for r in partition_loads(plan).collect()}
    # serpentine pairs: 100+30, 90+40, 80+50, 70+60 -> all 130
    assert all(pl[p]["part_load"] == 130 for p in range(4))
    assert all(pl[p]["balance_ratio"] == 1.0 for p in range(4))
    assert all(pl[p]["n_hosts"] == 2 for p in range(4))

    with pytest.raises(ValueError):
        host_partition_plan(df, 0, count_col="cnt")


def test_lsh_eval_clean_separation(spark):
    """Two identical docs and one disjoint: the pair is both candidate
    and truth (precision = recall = 1); disjoint text produces neither."""
    from delphi_crawler_spark.operators.dedup_fuzzy import lsh_candidate_eval

    same = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words nothing shared here at all today ok"
    docs = spark.createDataFrame(
        [(1, same), (2, same), (3, other)], ["doc_id", "text"]
    )
    r = lsh_candidate_eval(docs, threshold=0.5).collect()[0]
    assert r["n_true_pairs"] == 1 and r["n_hits"] == 1
    assert r["n_candidates"] == 1
    assert r["precision"] == 1.0 and r["recall"] == 1.0

    # no dups at all: zero denominators -> NULL ratios, not a crash
    solo = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        ["doc_id", "text"],
    )
    r2 = lsh_candidate_eval(solo, threshold=0.5).collect()[0]
    assert r2["n_true_pairs"] == 0 and r2["recall"] is None


def test_overlap_depth_sweep_line(spark):
    """Three files: [0,9], [5,14] overlap on [5,9] (depth 2); [20,29]
    disjoint after a gap (depth 0 on [15,19]); past the end depth 0."""
    from pyspark.sql import functions as F

    from delphi_crawler_spark.storage.zorder import key_overlap_depth

    files = spark.createDataFrame(
        [("a", 0, 9), ("b", 5, 14), ("c", 20, 29)],
        ["file_id", "min_key", "max_key"],
    )
    prof = key_overlap_depth(files).collect()
    seg = {r["pos"]: (r["next_pos"], r["depth"]) for r in prof}
    assert seg[0] == (5, 1)
    assert seg[5] == (10, 2)    # the overlap region
    assert seg[10] == (15, 1)
    assert seg[15] == (20, 0)   # the gap
    assert seg[20] == (30, 1)
    assert seg[30] == (None, 0)  # past the end
    mx = key_overlap_depth(files).agg(F.max("depth")).collect()[0][0]
    assert mx == 2


def test_change_periodicity_tuesday_page(spark):
    """A page changing only on weekday 2 concentrates there (ratio 1.0 vs
    overall 1/7 -> concentration 7); a uniform changer never flags; a
    never-changer reports zeros."""
    from delphi_crawler_spark.operators.recrawl import change_periodicity

    day_us = 86_400_000_000
    rows = []
    # 21 daily visits starting at a Monday (epoch day such that (d+3)%7==0)
    start_day = 4  # (4+3)%7 == 0 -> Monday
    for i in range(21):
        d = start_day + i
        wd = (d + 3) % 7
        rows.append(("tue", d * day_us, wd == 2))
        rows.append(("uni", d * day_us, i % 7 == (i // 7) % 7))  # scattered
        rows.append(("never", d * day_us, False))
    df = spark.createDataFrame(rows, ["url", "ts_us", "changed"])
    out = {r["url"]: r for r in change_periodicity(df).collect()}
    t = out["tue"]
    assert t["peak_weekday"] == 2 and t["peak_ratio"] == 1.0
    assert t["overall_ratio"] == round(3 / 21, 6)
    assert t["concentration"] == round(1.0 / round(3 / 21, 6), 6)
    assert t["is_periodic"]
    n = out["never"]
    assert n["peak_ratio"] == 0.0 and n["concentration"] == 0.0
    assert not n["is_periodic"]
    assert not out["uni"]["is_periodic"] or out["uni"]["concentration"] < 7


def test_distribution_drift_identical_and_disjoint(spark):
    """Identical samples: KS=0, PSI=0. Disjoint supports: KS=1, PSI large.
    A mean shift lands in between and is direction-symmetric."""
    from delphi_crawler_spark.operators.aggs import distribution_drift

    xs = [float(x) for x in range(100)]
    a = spark.createDataFrame([(v,) for v in xs], ["value"])
    same = distribution_drift(a, a).collect()[0]
    assert same["ks_distance"] == 0.0 and same["psi"] == 0.0
    assert same["n_a"] == 100 and same["n_buckets"] == 100

    b = spark.createDataFrame([(v + 1000.0,) for v in xs], ["value"])
    dis = distribution_drift(a, b).collect()[0]
    assert dis["ks_distance"] == 1.0 and dis["psi"] > 5.0

    c = spark.createDataFrame([(v + 10.0,) for v in xs], ["value"])
    mid = distribution_drift(a, c).collect()[0]
    rev = distribution_drift(c, a).collect()[0]
    assert 0.0 < mid["ks_distance"] < 1.0
    assert mid["ks_distance"] == rev["ks_distance"]
    assert mid["psi"] == rev["psi"]  # PSI is symmetric by construction


def test_table_column_stats_hand_computed(spark):
    """NDV, null fraction, min/max and avg length on a known frame; one
    job (single-pass wide aggregate)."""
    from delphi_crawler_spark.storage.tablestore import table_column_stats

    df = spark.createDataFrame(
        [(1, "aa", None), (2, "bbb", 5.0), (3, "aa", 7.0), (4, None, 5.0)],
        "id long, s string, v double",
    )
    out = {r["column"]: r for r in table_column_stats(df).collect()}
    assert out["id"]["ndv"] == 4 and out["id"]["n_nulls"] == 0
    assert out["id"]["min_str"] == "1" and out["id"]["max_str"] == "4"
    assert out["s"]["ndv"] == 2 and out["s"]["n_nulls"] == 1
    assert out["s"]["null_frac"] == 0.25
    assert out["s"]["avg_len"] == round((2 + 3 + 2) / 3, 2)
    assert out["v"]["ndv"] == 2 and out["v"]["n_nulls"] == 1
    # column subset selection
    sub = table_column_stats(df, ["id"]).collect()
    assert len(sub) == 1 and sub[0]["column"] == "id"


def test_frontier_merge_semantics(spark):
    """Max priority wins, first sighting wins, source lineage sorted and
    deduped; merge is order-independent."""
    from delphi_crawler_spark.operators.dedup import frontier_merge

    seeds = spark.createDataFrame(
        [("u1", 3, 100, "seeds"), ("u2", 1, 50, "seeds")],
        ["url", "priority", "discovery_ts", "source"],
    )
    links = spark.createDataFrame(
        [("u1", 7, 200, "links"), ("u1", 5, 90, "links")],
        ["url", "priority", "discovery_ts", "source"],
    )
    for order in ([seeds, links], [links, seeds]):
        out = {r["url"]: r for r in frontier_merge(order).collect()}
        u1 = out["u1"]
        assert u1["priority"] == 7 and u1["discovery_ts"] == 90
        assert u1["n_proposals"] == 3 and u1["n_sources"] == 2
        assert u1["sources"] == ["links", "seeds"]
        assert out["u2"]["n_sources"] == 1

    import pytest as _p

    with _p.raises(ValueError):
        frontier_merge([])


def test_sitemap_coverage_classes(spark):
    from delphi_crawler_spark.operators.recrawl import sitemap_coverage

    sm = spark.createDataFrame([("a",), ("b",)], ["url"])
    cr = spark.createDataFrame([("b",), ("c",)], ["url"])
    out = {r["url"]: r["status"] for r in sitemap_coverage(sm, cr).collect()}
    assert out == {"a": "sitemap_only", "b": "both", "c": "crawled_only"}


def test_mmr_rerank_diversity(spark):
    """A redundant pair: plain relevance keeps both clones in the top 2;
    MMR demotes the clone below a diverse lower-relevance candidate.
    Rank 1 is always the relevance argmax."""
    from delphi_crawler_spark.operators.similarity import mmr_rerank

    # q=0: c1 (rel .99) and its clone c2 (rel .98, same vector), c3
    # diverse (rel .5, orthogonal-ish)
    v = lambda *xs: [float(x) for x in xs]  # noqa: E731
    rows = [
        (0, 1, 0.99, v(1, 0, 0)),
        (0, 2, 0.98, v(1, 0, 0)),
        (0, 3, 0.50, v(0, 1, 0)),
    ]
    df = spark.createDataFrame(rows, ["query_id", "vec_id", "cosine", "embedding"])
    out = {r["mmr_rank"]: r for r in mmr_rerank(df, k=3, lam=0.7).collect()}
    assert out[1]["vec_id"] == 1
    # clone's MMR score: .7*.98 - .3*1.0 = .386 < diverse: .7*.5 - .3*0 = .35?
    # .386 > .35 -> clone second here; tighten lam to show the flip
    out2 = {r["mmr_rank"]: r for r in mmr_rerank(df, k=3, lam=0.5).collect()}
    # clone: .5*.98-.5*1 = -0.01 ; diverse: .5*.5-0 = .25 -> diverse wins
    assert out2[2]["vec_id"] == 3 and out2[3]["vec_id"] == 2
    assert out2[2]["mmr_score"] == 0.25
    assert out2[3]["mmr_score"] == round(0.5 * 0.98 - 0.5 * 1.0, 6)

    import pytest as _p

    with _p.raises(ValueError):
        mmr_rerank(df, k=0)


def test_robots_drift_flip_classes(spark):
    """A lifted block reads newly_allowed, an added block newly_blocked;
    untouched verdicts are stable in both directions."""
    from delphi_crawler_spark.operators.robots import robots_drift

    cand = spark.createDataFrame(
        [
            (1, "h1.test", "https://h1.test/a/x"),
            (2, "h1.test", "https://h1.test/b/y"),
            (3, "h2.test", "https://h2.test/a/z"),
        ],
        ["key", "host", "url"],
    )
    old = spark.createDataFrame(
        [("h1.test", "disallow", "/a", 0)],
        ["host", "rule", "path_prefix", "order"],
    )
    new = spark.createDataFrame(
        [("h2.test", "disallow", "/a", 0)],
        ["host", "rule", "path_prefix", "order"],
    )
    out = {r["key"]: r["status"] for r in robots_drift(cand, old, new, "key").collect()}
    assert out == {
        1: "newly_allowed",   # h1 /a block lifted
        2: "stable_allowed",  # never matched a rule
        3: "newly_blocked",   # h2 /a block added
    }


def test_script_profile_shares_and_dominance(spark):
    """Pure-Cyrillic flips dominance; half-CJK mixes; letterless text
    profiles 'none'; shares sum to ~1 when letters exist."""
    from delphi_crawler_spark.functions.textfns import script_profile_cols

    rows = [
        (1, "hello world"),
        (2, "Привет мир"),
        (3, "hi 你好"),
        (4, "12345 !!!"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    c = script_profile_cols(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[v.alias(k) for k, v in c.items()]).collect()
    }
    assert out[1]["dominant_script"] == "latin" and out[1]["latin_share"] == 1.0
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[2]["cyrillic_share"] == 1.0 and out[2]["latin_share"] == 0.0
    m = out[3]
    # 'hi' = 2 latin, '你好' = 2 cjk: equal shares — the documented tie
    # rule is first-in-order wins, and latin evaluates first
    assert m["dominant_script"] == "latin"
    assert m["latin_share"] == 0.5 and m["cjk_share"] == 0.5
    n = out[4]
    assert n["dominant_script"] == "none" and n["n_script_chars"] == 0
    assert n["latin_share"] == 0.0


def test_binary_hamming_identical_and_opposite(spark):
    """Identical vectors have Hamming 0 and rank first; a sign-flipped
    vector sits at maximal Hamming; signatures pack exactly 2^i bits."""
    from delphi_crawler_spark.operators.similarity import (
        binary_hamming_topk,
        binary_signature_cols,
    )

    dim = 8
    base = [1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0]
    flip = [-x for x in base]
    near = list(base)
    near[0] = -1.0  # one sign off
    corpus = spark.createDataFrame(
        [(1, base), (2, flip), (3, near)], ["vec_id", "embedding"]
    )
    w0, w1 = binary_signature_cols("embedding", dim)
    sigs = {r["vec_id"]: (r["a"], r["b"]) for r in corpus.select(
        "vec_id", w0.alias("a"), w1.alias("b")).collect()}
    # base signs: + - + + | - + - +  -> w0 bits 0,2,3 = 13 ; w1 bits 1,3 = 10
    assert sigs[1] == (13, 10)
    assert sigs[2] == (16 - 13 + 13 - 13 + 2, 5) or sigs[2] == (2, 5)
    q = spark.createDataFrame([(100, base)], ["query_id", "query_vec"])
    out = binary_hamming_topk(corpus, q, k=3, shortlist=3, dim=dim).collect()
    byrank = {r["rank"]: r for r in out}
    assert byrank[1]["vec_id"] == 1 and byrank[1]["hamming"] == 0
    assert byrank[1]["cosine"] == 1.0
    flip_row = [r for r in out if r["vec_id"] == 2][0]
    assert flip_row["hamming"] == dim and flip_row["cosine"] == -1.0
    near_row = [r for r in out if r["vec_id"] == 3][0]
    assert near_row["hamming"] == 1

    import pytest as _p

    with _p.raises(ValueError):
        binary_signature_cols(dim=7)


def test_backfill_islands_coalescing(spark):
    """Present {0,1,5,6,9}: missing runs [2-4] and [7-8] coalesce into
    two islands; a gapless source emits nothing; gaps outside the span
    are not invented."""
    from delphi_crawler_spark.storage.compaction import backfill_islands

    rows = [("a", p) for p in (0, 1, 5, 6, 9)] + [("b", p) for p in (3, 4, 5)]
    df = spark.createDataFrame(rows, ["source", "part"])
    out = sorted(
        (r["source"], r["start_part"], r["end_part"], r["n_missing"])
        for r in backfill_islands(df).collect()
    )
    assert out == [("a", 2, 4, 3), ("a", 7, 8, 2)]


def test_lexical_diversity_hand_computed(spark):
    """'a b a b' TTR = 0.5; short docs fall back to TTR for MATTR; a
    60-token doc's MATTR(50) averages its 11 window TTRs; repetition
    scores below varied prose."""
    from delphi_crawler_spark.functions.textfns import lexical_diversity_cols

    rep = " ".join(["spam"] * 60)
    varied = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, rep), (3, varied), (4, "  ")],
        ["doc_id", "text"],
    )
    c = lexical_diversity_cols(F.col("text"), window=50)
    out = {
        r["doc_id"]: r
        for r in docs.select("doc_id", *[v.alias(k) for k, v in c.items()]).collect()
    }
    assert out[1]["ttr"] == 0.5 and out[1]["mattr"] == 0.5  # short fallback
    assert out[2]["mattr"] == round(1 / 50, 6)  # every window has 1 type
    assert out[3]["mattr"] == 1.0 and out[3]["ttr"] == 1.0
    assert out[2]["mattr"] < out[3]["mattr"]
    assert out[4]["n_tokens"] == 0 and out[4]["ttr"] is None


def test_compression_ratio_signal(spark):
    """Repetitive text compresses far below varied prose; empty text is
    NULL; the flag fires only under the threshold."""
    from delphi_crawler_spark.functions.textfns import compression_ratio_udf

    rep = "spam " * 400
    import random

    rng = random.Random(7)
    varied = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(400)
    )
    docs = spark.createDataFrame(
        [(1, rep), (2, varied), (3, "")], ["doc_id", "text"]
    )
    r = compression_ratio_udf()(F.col("text"))
    out = {
        row["doc_id"]: row
        for row in docs.select("doc_id", r.alias("zr")).collect()
    }
    assert out[1]["zr"] < 0.05          # pure repetition
    assert out[2]["zr"] > 0.5           # random-ish words
    assert out[3]["zr"] is None
    # determinism: same input -> same stream length on a second pass
    again = {row["doc_id"]: row for row in docs.select("doc_id", r.alias("zr")).collect()}
    assert again[1]["zr"] == out[1]["zr"]


def test_url_density_signal(spark):
    """A URL-block page flags; prose with one link does not; wordless
    text reports NULL density and never flags."""
    from delphi_crawler_spark.functions.textfns import url_density_cols

    farm = "check " + " ".join(f"https://s{i}.com/x" for i in range(9))
    prose = "read the docs at https://example.com for details " * 3
    docs = spark.createDataFrame(
        [(1, farm), (2, prose), (3, "   "), (4, "visit www.example.com now")],
        ["doc_id", "text"],
    )
    c = url_density_cols(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in docs.select("doc_id", *[v.alias(k) for k, v in c.items()]).collect()
    }
    assert out[1]["n_url_mentions"] == 9 and out[1]["linkfarm_flag"]
    assert out[1]["url_density"] == 90.0
    assert out[2]["n_url_mentions"] == 3 and not out[2]["linkfarm_flag"]
    assert out[3]["url_density"] is None and not out[3]["linkfarm_flag"]
    assert out[4]["n_url_mentions"] == 1  # bare www host counts


def test_url_admission_gate_order_and_reasons(spark):
    """First failing gate wins: an ftp URL on a blocklisted host reads
    malformed, not blocklisted; alias folding stops www-dodging; the
    segment trap needs a full run of 3."""
    from delphi_crawler_spark.plans.admission import url_admission

    cand = spark.createDataFrame(
        [
            (1, "ftp://x.bad.example/a"),
            (2, "https://www.spam.bad.example/a"),   # folded, then blocked
            (3, "https://m.site.test/private/p"),    # alias can't dodge robots
            (4, "https://site.test/a/a/a/p"),        # trap run of 3
            (5, "https://site.test/a/a/b/p"),        # run of 2: fine
            (6, "https://site.test/ok"),
        ],
        ["doc_id", "url"],
    )
    out = {
        r["doc_id"]: r
        for r in url_admission(
            cand,
            blocklist_suffixes=(".bad.example",),
            robots_disallow={"site.test": ("/private",)},
        ).collect()
    }
    assert out[1]["reason"] == "malformed" and out[1]["canonical_host"] is None
    assert out[2]["reason"] == "blocklisted"
    assert out[2]["canonical_host"] == "spam.bad.example"
    assert out[3]["reason"] == "robots"
    assert out[4]["reason"] == "trap" and out[4]["verdict"] == "reject"
    assert out[5]["reason"] == "ok" and out[5]["verdict"] == "admit"
    assert out[6]["verdict"] == "admit"


def test_dedup_rate_by_source(spark):
    """Within-source dups raise dup_rate; digests shared across sources
    count into cross_rate on BOTH sides; a clean source reports zeros."""
    from delphi_crawler_spark.operators.dedup import dedup_rate_by_source

    docs = spark.createDataFrame(
        [
            ("A", "x"), ("A", "x"), ("A", "y"),     # within-A dup
            ("B", "y"), ("B", "z"),                 # y crosses A/B
            ("C", "unique"),
        ],
        ["source", "text"],
    )
    out = {r["source"]: r for r in dedup_rate_by_source(docs).collect()}
    a = out["A"]
    assert a["n_docs"] == 3 and a["n_unique"] == 2
    assert a["dup_rate"] == round(1 - 2 / 3, 6)
    assert a["n_cross_source"] == 1  # the y doc
    b = out["B"]
    assert b["dup_rate"] == 0.0 and b["n_cross_source"] == 1
    assert b["cross_rate"] == 0.5
    c = out["C"]
    assert c["dup_rate"] == 0.0 and c["cross_rate"] == 0.0


def test_host_crawl_summary_traffic_light(spark):
    """A mostly-5xx host reads red, a slow host yellow on p95, a clean
    host green; p95 is the exact type-1 quantile."""
    from delphi_crawler_spark.operators.recrawl import host_crawl_summary

    rows = []
    for i in range(10):
        rows.append(("bad", 503 if i < 6 else 200, 100, False))
        rows.append(("slow", 200, 100 if i < 9 else 9000, False))
        rows.append(("good", 200, 50 + i, i % 2 == 0))
    df = spark.createDataFrame(rows, ["host", "status", "latency_ms", "changed"])
    out = {r["host"]: r for r in host_crawl_summary(df).collect()}
    assert out["bad"]["health"] == "red" and out["bad"]["err_rate"] == 0.6
    # p95 of 10 values = element ceil(9.5)=10 -> the 9000ms outlier
    assert out["slow"]["p95_latency_ms"] == 9000
    assert out["slow"]["health"] == "yellow" and out["slow"]["err_rate"] == 0.0
    g = out["good"]
    assert g["health"] == "green" and g["n_ok"] == 10
    assert g["change_rate"] == 0.5
    assert g["p95_latency_ms"] == 59  # sorted 50..59, idx 10


def test_pack_efficiency_report(spark):
    """Perfectly-filled packs report fill 1 / waste 0; an oversized doc's
    own sequence caps waste at 0 (clamped) while fill exceeds 1; a
    half-filled pack shows its padding."""
    from delphi_crawler_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 10), (3, 1, 25), (4, 2, 5)],
        ["doc_id", "shard", "n_tokens"],
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=20)
    seqs = packed.select("shard", "seq_id", "seq_tokens").distinct()
    rows = {
        r["shard"]: r
        for r in seqs.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("seq_tokens").alias("tot"),
            F.sum(F.least(F.col("seq_tokens"), F.lit(20))).alias("cap"),
        )
        .collect()
    }
    # shard 0: one 20-token pack, full
    assert rows[0]["n_seqs"] == 1 and rows[0]["tot"] == 20
    # shard 1: one 25-token oversized sequence; cap clamps to 20
    assert rows[1]["tot"] == 25 and rows[1]["cap"] == 20
    # shard 2: one 5-token pack: 15 tokens of padding
    assert rows[2]["tot"] == 5


def test_weighted_median_hand_computed(spark):
    """One heavy row dominates: values 1,2,3 with weights 1,1,10 put the
    weighted median at 3 (unweighted would say 2); zero weights drop;
    q=1 returns the max."""
    from delphi_crawler_spark.operators.aggs import weighted_quantile_by_group

    rows = [
        ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 10.0),
        ("b", 5.0, 2.0), ("b", 7.0, 2.0),
        ("c", 9.0, 0.0),  # no mass -> group disappears
    ]
    df = spark.createDataFrame(rows, ["host", "v", "w"])
    out = {r["host"]: r for r in weighted_quantile_by_group(df, "host", "v", "w").collect()}
    assert out["a"]["wq"] == 3.0 and out["a"]["total_weight"] == 12.0
    assert out["b"]["wq"] == 5.0  # cum 2 >= 2 at the first value
    assert "c" not in out
    hi = {r["host"]: r for r in weighted_quantile_by_group(df, "host", "v", "w", q=1.0).collect()}
    assert hi["a"]["wq"] == 3.0 and hi["b"]["wq"] == 7.0

    import pytest as _p

    with _p.raises(ValueError):
        weighted_quantile_by_group(df, "host", "v", "w", q=0)


def test_ttl_plan_actions(spark):
    """All-dead file rewrites, lightly-dead file gets a delete vector,
    fresh file untouched; threshold boundary is inclusive."""
    from delphi_crawler_spark.storage.compaction import ttl_expiry_plan

    now, day = 1_700_000_000_000, 86_400_000
    rows = (
        [("dead", now - 100 * day)] * 4
        + [("light", now - 100 * day)] + [("light", now)] * 9
        + [("fresh", now)] * 3
        + [("edge", now - 100 * day)] * 3 + [("edge", now)] * 7
    )
    df = spark.createDataFrame(rows, ["file_id", "created_ms"])
    out = {
        r["file_id"]: r
        for r in ttl_expiry_plan(df, now, ttl_ms=60 * day).collect()
    }
    assert out["dead"]["action"] == "rewrite" and out["dead"]["expired_share"] == 1.0
    assert out["light"]["action"] == "delete_vector"
    assert out["fresh"]["action"] == "none" and out["fresh"]["n_expired"] == 0
    assert out["edge"]["expired_share"] == 0.3  # exactly at threshold
    assert out["edge"]["action"] == "rewrite"   # >= is inclusive

    import pytest as _p

    with _p.raises(ValueError):
        ttl_expiry_plan(df, now, ttl_ms=0)


