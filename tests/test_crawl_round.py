"""End-to-end crawl-round gates (SURVEY.md §5): exact emitted ordering +
URL-seen-set equality vs the independent pure-Python oracle, resume
equivalence after a mid-round kill, and parallelism invariance."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from delphi_crawler_spark.datagen import (
    docs_df,
    gen_docs,
    gen_politeness,
    gen_robots_rules,
    gen_seed_urls,
    politeness_df,
    robots_df,
    seed_urls_df,
)
from delphi_crawler_spark.plans.crawl_round import CrawlConfig, CrawlEngine
from delphi_crawler_spark.plans.oracle import run_oracle

N_SEEDS = 2500
N_DOCS = 400
N_ROUNDS = 3
ROUND_MS = 3000


def _oracle_inputs():
    seeds = gen_seed_urls(n=N_SEEDS)
    seed_rows = [
        {
            "url": r.url,
            "priority": int(r.priority),
            "discovery_ts": r.discovery_ts,
            "seq": int(r.seq),
        }
        for r in seeds.itertuples()
    ]
    pol = {
        r.host: (float(r.rate_per_sec), int(r.max_burst))
        for r in gen_politeness().itertuples()
    }
    robots_rows = gen_robots_rules().to_dict("records")
    docs = gen_docs(n=N_DOCS)
    docs_links = {
        row.doc_id: [s["text"] for s in row.spans if s["kind"] == "link"]
        for row in docs.itertuples()
    }
    return seed_rows, pol, robots_rows, docs_links


@pytest.fixture(scope="module")
def oracle_result():
    seed_rows, pol, robots_rows, docs_links = _oracle_inputs()
    return run_oracle(
        seed_rows, pol, robots_rows, docs_links,
        n_rounds=N_ROUNDS, round_ms=ROUND_MS, n_docs=N_DOCS,
    )


def _run_engine(spark, root, n_rounds=N_ROUNDS) -> CrawlEngine:
    eng = CrawlEngine(
        spark,
        str(root),
        politeness=politeness_df(spark),
        robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
    )
    eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))
    docs = docs_df(spark, n=N_DOCS)
    for rnd in range(n_rounds):
        eng.run_round(rnd, docs=docs)
    return eng


@pytest.fixture(scope="module")
def clean_engine(spark, tmp_path_factory):
    """One uninterrupted N_ROUNDS crawl, shared by the tests that compare
    against it."""
    return _run_engine(spark, tmp_path_factory.mktemp("store_clean"))


def test_ordering_and_seen_match_oracle(clean_engine, oracle_result):
    eng = clean_engine
    got = eng.schedule_rows()
    assert got == oracle_result.schedule, (
        f"first diff at {next(i for i, (a, b) in enumerate(zip(got, oracle_result.schedule)) if a != b) if got != oracle_result.schedule and len(got) == len(oracle_result.schedule) else 'len'}: "
        f"engine {len(got)} rows vs oracle {len(oracle_result.schedule)}"
    )
    assert eng.seen_set() == oracle_result.seen


def test_parallelism_invariance(spark, tmp_path, oracle_result):
    """Same bytes at different shuffle parallelism (the in-process proxy for
    the N vs 4N cluster-size criterion)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        eng = _run_engine(spark, tmp_path / "store_p3")
        assert eng.schedule_rows() == oracle_result.schedule
        assert eng.seen_set() == oracle_result.seen
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_resume_equivalence_mid_round_kill(spark, tmp_path, oracle_result, clean_engine):
    """Kill after the schedule append + frontier mutation of round 1 but
    before its checkpoint; a fresh engine must resume and produce tables
    byte-equal to the uninterrupted run (SURVEY.md §5d)."""
    root = tmp_path / "store_kill"
    eng = CrawlEngine(
        spark, str(root),
        politeness=politeness_df(spark), robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
    )
    eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))
    docs = docs_df(spark, n=N_DOCS)
    eng.run_round(0, docs=docs)

    # simulate the kill: round 1 dies right before its checkpoint write,
    # with every table mutation already committed
    real_checkpoint = eng.store.checkpoint
    def boom(round_no, payload):
        raise RuntimeError("killed before checkpoint")
    eng.store.checkpoint = boom
    with pytest.raises(RuntimeError):
        eng.run_round(1, docs=docs)
    eng.store.checkpoint = real_checkpoint

    # fresh engine on the same store resumes
    eng2 = CrawlEngine(
        spark, str(root),
        politeness=politeness_df(spark), robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
    )
    for rnd in range(1, N_ROUNDS):
        eng2.run_round(rnd, docs=docs)

    assert eng2.schedule_rows() == oracle_result.schedule
    assert eng2.seen_set() == oracle_result.seen
    # full frontier content equality with an uninterrupted run (merge-on-read
    # view: append-only frontier ∪ fetched log)
    clean = clean_engine
    cols = ["url", "priority", "seq", "state", "round"]
    killed_rows = sorted(map(tuple, eng2.frontier_view().select(cols).collect()))
    clean_rows = sorted(map(tuple, clean.frontier_view().select(cols).collect()))
    assert killed_rows == clean_rows
    # the scale-path check: the O(1)-result digest agrees without collecting
    from delphi_crawler_spark.functions.digest import frames_equal

    assert frames_equal(
        eng2.frontier_view().select(cols), clean.frontier_view().select(cols)
    )


def test_bootstrap_kill_at_checkpoint_resumes_exactly(spark, tmp_path, oracle_result):
    """Kill bootstrap at its commit point, the round -1 checkpoint, after
    the frontier snapshot is written: a fresh engine must redo bootstrap
    rather than skip it on the existing frontier, so the crawl still
    matches the oracle and round 0 continues the seed seq, not 0."""
    root = tmp_path / "store_boot_kill"
    eng = CrawlEngine(
        spark, str(root),
        politeness=politeness_df(spark), robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
    )
    def boom(round_no, payload):
        raise RuntimeError("killed at the bootstrap checkpoint")
    eng.store.checkpoint = boom
    with pytest.raises(RuntimeError):
        eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))
    assert eng.store.exists("frontier") and eng.store.last_checkpoint() is None

    eng2 = _run_engine(spark, root)  # fresh engine: bootstrap + every round
    assert eng2.schedule_rows() == oracle_result.schedule
    assert eng2.seen_set() == oracle_result.seen
    seqs = eng2.store.read("frontier").agg(
        F.count("seq").alias("n"), F.count_distinct("seq").alias("d")
    ).collect()[0]
    assert seqs.n == seqs.d


def test_bootstrap_observes_max_seq_without_reading_back(spark, tmp_path):
    """Bootstrap takes the checkpoint's max_seq from its own snapshot write:
    it never reads the frontier back, the value equals the frontier's
    max(seq), and empty seeds checkpoint max_seq = 0."""
    seeds = seed_urls_df(spark, n=N_SEEDS)
    for name, frame in (("seeds", seeds), ("empty", seeds.limit(0))):
        eng = CrawlEngine(
            spark, str(tmp_path / name),
            politeness=politeness_df(spark), robots=robots_df(spark),
            config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
        )
        real_read, reads = eng.store.read, []
        eng.store.read = lambda *a, **kw: reads.append(a) or real_read(*a, **kw)
        eng.bootstrap(frame)
        assert reads == [], name
        max_seq = real_read("frontier").agg(F.max("seq")).collect()[0][0]
        assert eng.store.last_checkpoint()["max_seq"] == (max_seq or 0), name
        assert (max_seq is None) == (name == "empty"), name


def test_rounds_are_idempotent(spark, tmp_path):
    root = tmp_path / "store_idem"
    eng = _run_engine(spark, root, n_rounds=2)
    before = eng.schedule_rows()
    # re-running completed rounds is a no-op (checkpoint guard)
    assert eng.run_round(0)["skipped"] is True
    assert eng.run_round(1)["skipped"] is True
    assert eng.schedule_rows() == before


def test_round_write_volume_independent_of_round(spark, tmp_path):
    """Scale invariant (round-1 scale-killer #1): round k writes O(round k)
    — earlier rounds' part files are NEVER rewritten, the frontier part for
    round k holds exactly that round's new links, and the fetched log part
    holds exactly that round's emissions."""
    import os

    root = tmp_path / "store_vol"
    eng = CrawlEngine(
        spark, str(root),
        politeness=politeness_df(spark), robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
    )
    eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))
    docs = docs_df(spark, n=N_DOCS)

    def part_files(table):
        out = {}
        tdir = os.path.join(str(root), table)
        for p in eng.store.parts(table):
            for d, _dirs, files in os.walk(os.path.join(tdir, p["path"])):
                for f in files:
                    if f.endswith(".parquet"):
                        fp = os.path.join(d, f)
                        out[fp] = os.path.getmtime(fp)
        return out

    stats0 = eng.run_round(0, docs=docs)
    frontier_files_r0 = part_files("frontier")
    fetched_files_r0 = part_files("fetched")
    # the no-rewrite check below is vacuous over an empty file set
    assert frontier_files_r0 and fetched_files_r0
    stats1 = eng.run_round(1, docs=docs)

    # no rewrite: every round-0 data file still exists with the same mtime
    frontier_after = part_files("frontier")
    fetched_after = part_files("fetched")
    for fp, mt in frontier_files_r0.items():
        assert frontier_after.get(fp) == mt, f"rewritten: {fp}"
    for fp, mt in fetched_files_r0.items():
        assert fetched_after.get(fp) == mt, f"rewritten: {fp}"

    # the appended parts hold exactly the round's rows (O(round) volume)
    for rnd, stats in ((0, stats0), (1, stats1)):
        assert eng.store.read_parts_range("frontier", rnd, rnd).count() == stats["new_links"]
        assert eng.store.read_parts_range("fetched", rnd, rnd).count() == stats["emitted"]


def test_write_volume_flat_over_many_rounds(spark, tmp_path):
    """The O(round) claim at a larger k, with compaction in the loop and
    FRESH docs per round (so discovery keeps appending): per-round frontier
    parts hold exactly that round's links at every k, no data file is ever
    rewritten between maintenance runs, and the part + manifest counts stay
    bounded by compact_every instead of growing one-per-round."""
    import os

    n_rounds, compact_every = 12, 3
    root = tmp_path / "store_soak"
    eng = CrawlEngine(
        spark, str(root),
        politeness=politeness_df(spark), robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
    )
    eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))

    def store_bytes() -> int:
        total = 0
        for dirpath, _d, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    stats = []
    bytes_per_row = []
    prev_bytes = store_bytes()
    for rnd in range(n_rounds):
        docs = docs_df(spark, n=N_DOCS, seed=500 + rnd)
        stats.append(eng.run_round(rnd, docs=docs))
        # every round's parts hold exactly that round's rows — O(round)
        assert eng.store.read_parts_range("frontier", rnd, rnd).count() == stats[-1]["new_links"]
        assert eng.store.read_parts_range("fetched", rnd, rnd).count() == stats[-1]["emitted"]
        # write-BYTE independence of round number: bytes appended this round
        # per row written must not trend up as the table grows (measured
        # between maintenance runs; compaction rewrites are off-path)
        now = store_bytes()
        rows = stats[-1]["new_links"] + stats[-1]["emitted"]
        bytes_per_row.append((now - prev_bytes) / max(rows, 1))
        if (rnd + 1) % compact_every == 0:
            eng.maintain()
        prev_bytes = store_bytes()
        n_parts = len(eng.store.parts("frontier"))
        n_manifests = len(
            [f for f in os.listdir(eng.store._tdir("frontier")) if f.startswith("mani-")]
        )
        # bounded: at most compact_every uncompacted round parts on top of
        # the compacted base; manifests bounded by the retention window
        assert n_parts <= compact_every + 2, f"round {rnd}: {n_parts} parts"
        assert n_manifests <= compact_every + 4, f"round {rnd}: {n_manifests} manifests"
    # rounds kept doing real work the whole way (fresh docs -> new links)
    assert all(s["new_links"] > 0 for s in stats)
    assert all(s["emitted"] > 0 for s in stats)
    # last-third vs first-third per-row write cost: flat (2x headroom for
    # parquet footer/metadata granularity on tiny test rounds), while the
    # table itself grew ~n_rounds x — the O(round) byte claim at larger k
    third = n_rounds // 3
    early = sum(bytes_per_row[:third]) / third
    late = sum(bytes_per_row[-third:]) / third
    assert late < 2.0 * early, (early, late, bytes_per_row)


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node) per line of the final adaptive plan of a tree string,
    codegen stage markers stripped."""
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = []
    for line in final.splitlines():
        node = line.lstrip(" :+-")
        if node:
            nodes.append((len(line) - len(node), re.sub(r"^\*\(\d+\) ", "", node)))
    return nodes


def _is_join(node: str) -> bool:
    return node.split(" ", 1)[0].endswith("Join")


def _path_up(nodes: list[tuple[int, str]], i: int, stop) -> list[str]:
    """Nodes from ``nodes[i]`` up through its ancestors to the first one
    matching ``stop`` (inclusive)."""
    path, depth = [nodes[i][1]], nodes[i][0]
    for d, node in reversed(nodes[:i]):
        if d < depth:
            path.append(node)
            depth = d
            if stop(node):
                break
    return path


def test_engine_round_plan_is_o_round(spark, tmp_path):
    """Plan audit on the engine's own round (not a registry query): in the
    executed plan of the frame the round appends to the frontier,
    - the frontier scan feeding the seen confirm reaches its join with no
      Exchange, Python UDF or hash check in between (scanned once by the
      JVM, never shuffled, probed in Python or rehashed), and no
      membership-filter probe (``_might_contain``) runs in that plan;
    - the docs scan is cut by the round's doc_ids (LeftSemi) before any
      Python UDF, so canonicalization sees only the fetched docs.
    Half the docs' links are seeded, so round 0's confirm has true hits and
    AQE cannot prune it away as empty."""
    import pandas as pd

    from delphi_crawler_spark.datagen import SEED_SCHEMA
    from delphi_crawler_spark.plans.crawl_round import FRONTIER

    seeds = gen_seed_urls(n=N_SEEDS)
    linked = [
        s["text"]
        for row in gen_docs(n=N_DOCS).itertuples()
        if int(row.doc_id[4:]) % 2 == 0
        for s in row.spans if s["kind"] == "link"
    ]
    extra = pd.DataFrame({
        "url": linked,
        "priority": 0,
        "discovery_ts": seeds["discovery_ts"].max() + pd.to_timedelta(
            range(1, len(linked) + 1), unit="s"),
        "seq": range(N_SEEDS, N_SEEDS + len(linked)),
    }).astype(seeds.dtypes.to_dict())
    docs_path = str(tmp_path / "docs")
    docs_df(spark, n=N_DOCS).write.parquet(docs_path)

    eng = CrawlEngine(
        spark, str(tmp_path / "store_plan"),
        politeness=politeness_df(spark), robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS),
    )
    eng.bootstrap(spark.createDataFrame(pd.concat([seeds, extra]), schema=SEED_SCHEMA))
    plans = []
    real_append = eng.store.append

    def append(table, df, *args, **kwargs):
        out = real_append(table, df, *args, **kwargs)
        if table == FRONTIER:  # read while the round's cached stages live
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    eng.store.append = append
    stats = eng.run_round(0, docs=spark.read.parquet(docs_path))
    assert stats["new_links"] > 0 and len(plans) == 1
    nodes = _plan_nodes(plans[0])
    assert "_might_contain" not in plans[0]
    # the global seq runs in the JVM: the plan's only Python stage is the
    # canonicalizer
    assert "MapInPandas" not in plans[0]
    python = [n for _, n in nodes if re.match(r"\w*(Python|Pandas|Arrow)\w* ", n)]
    assert python, plans[0]
    for n in python:
        assert set(re.findall(r"(\w+)\(", n)) == {"_canonicalize_url_udf"}, n

    frontier = [i for i, (_, n) in enumerate(nodes)
                if re.match(r"FileScan parquet \[url#\d+,url_hash64#\d+L", n)]
    assert len(frontier) == 1, plans[0]
    path = _path_up(nodes, frontier[0], _is_join)
    assert _is_join(path[-1]), path
    assert not any("Exchange" in n or "ShuffleQueryStage" in n or "ArrowEvalPython" in n
                   for n in path), path
    # the url_hash64 == xxhash64(url) check runs on the hits, never on
    # every frontier row
    assert not any("xxhash64" in n for n in path), path

    docs_scans = [i for i, (_, n) in enumerate(nodes)
                  if re.match(r"FileScan parquet \[doc_id#\d+,spans#\d+\]", n)]
    assert docs_scans, plans[0]
    for i in docs_scans:
        path = _path_up(nodes, i, lambda n: "LeftSemi" in n or "ArrowEvalPython" in n)
        assert "LeftSemi" in path[-1], path
