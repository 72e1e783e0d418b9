"""Table-maintenance gates: compaction bin-packs small parts without
changing table contents, expiry removes only unreferenced manifests/parts/
blobs, and engine-level maintain() is semantically invisible — same
schedule, seen set, and resume behavior as a never-maintained store.

At 10^10-URL scale these are load-bearing: one part per round means a
K-round crawl reads K small parquet directories per scan (file-listing +
task overhead), and every round leaks a manifest. Mirrors
Iceberg ``rewrite_data_files`` (binpack) + ``expire_snapshots``.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from delphi_crawler_spark.datagen import (
    docs_df,
    politeness_df,
    robots_df,
    seed_urls_df,
)
from delphi_crawler_spark.plans.crawl_round import (
    FETCHED,
    FRONTIER,
    FRONTIER_COLS,
    CrawlConfig,
    CrawlEngine,
)
from delphi_crawler_spark.storage.tablestore import TableStore

N_SEEDS = 1500
N_DOCS = 300
N_ROUNDS = 3
ROUND_MS = 3000


# --------------------------------------------------------------- store level
def test_compact_binpacks_small_parts(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"))
    for i in range(5):
        store.append("tbl", spark.range(i * 10, i * 10 + 10), round_no=i)
    before = sorted(map(tuple, store.read("tbl").collect()))
    assert len(store.parts("tbl")) == 5

    real_dir_bytes, walked = store._dir_bytes, []
    store._dir_bytes = lambda t, part: walked.append(part) or real_dir_bytes(t, part)
    mani = store.compact("tbl", target_bytes=1 << 30)
    assert mani is not None
    parts = store.parts("tbl")
    assert len(parts) == 1 and parts[0]["round"] is None
    # the inputs' recorded sizes are used: only the merged part is walked
    assert walked == [parts[0]["path"]]
    assert sorted(map(tuple, store.read("tbl").collect())) == before
    # idempotent: nothing left to merge
    assert store.compact("tbl", target_bytes=1 << 30) is None


def test_compact_respects_protected_rounds_and_target(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"))
    for i in range(4):
        store.append("tbl", spark.range(i * 10, i * 10 + 10), round_no=i)
    before = sorted(map(tuple, store.read("tbl").collect()))
    store.compact("tbl", target_bytes=1 << 30, protect_rounds=frozenset({3}))
    rounds = sorted(
        (p["round"] for p in store.parts("tbl")), key=lambda r: (r is None, r)
    )
    # round 3's part survives untouched (still replaceable by replace_round)
    assert rounds == [3, None]
    assert sorted(map(tuple, store.read("tbl").collect())) == before

    # a part at/above target_bytes is never rewritten: with target=1 byte
    # every part is "large" and compaction is a no-op
    store2 = TableStore(spark, str(tmp_path / "t2"))
    for i in range(3):
        store2.append("tbl", spark.range(i * 10, i * 10 + 10), round_no=i)
    assert store2.compact("tbl", target_bytes=1) is None
    assert len(store2.parts("tbl")) == 3


def test_expire_removes_only_unreferenced(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"))
    for i in range(4):
        store.append("tbl", spark.range(i * 10, i * 10 + 10), round_no=i)
    protected = store.current_snapshot("tbl")
    # replace round 1 -> its original part becomes unreferenced by current,
    # but the protected manifest still references it
    store.replace_round("tbl", spark.range(100, 110), round_no=1)
    before = sorted(map(tuple, store.read("tbl").collect()))

    stats = store.expire("tbl", keep_manifests=1, protect_manifests={protected})
    assert stats["manifests_removed"] >= 1
    # protected manifest's parts all survive: restore to it still reads
    assert sorted(map(tuple, store.read("tbl").collect())) == before
    store.restore("tbl", protected)
    assert store.read("tbl").count() == 40

    # without protection: the orphaned replace-round part gets removed
    store2 = TableStore(spark, str(tmp_path / "u"))
    store2.append("tbl", spark.range(10), round_no=0)
    first_part = store2.parts("tbl")[0]["path"]
    store2.replace_round("tbl", spark.range(5), round_no=0)
    store2.expire("tbl", keep_manifests=1)
    tdir = os.path.join(str(tmp_path / "u"), "tbl")
    assert not os.path.isdir(os.path.join(tdir, first_part))
    assert store2.read("tbl").count() == 5


def test_save_load_blob_roundtrip(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"))
    keep = store.save_blob("bloom", b"live")
    other = store.save_blob("bloom", b"dead1")
    assert keep != other  # blobs are never overwritten
    assert store.load_blob(keep) == b"live"
    assert store.load_blob(other) == b"dead1"


# -------------------------------------------------------------- engine level
def _engine(spark, root, **cfg) -> CrawlEngine:
    return CrawlEngine(
        spark,
        str(root),
        politeness=politeness_df(spark),
        robots=robots_df(spark),
        config=CrawlConfig(round_ms=ROUND_MS, n_docs=N_DOCS, **cfg),
    )


def _run(eng, spark, n_rounds=N_ROUNDS):
    eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))
    docs = docs_df(spark, n=N_DOCS)
    eng.run(n_rounds, docs=docs)  # honors cfg.compact_every
    return eng


def test_maintain_is_semantically_invisible(spark, tmp_path):
    """A crawl that compacts+expires after every round emits the exact same
    schedule and seen set as one that never does, and its store stays O(1)
    parts / manifests instead of O(rounds). Both frontiers are flat: no
    partition spec, no bucket column or directories, and a round's append
    is at most one parquet file per write task."""
    plain = _run(_engine(spark, tmp_path / "plain"), spark)
    kept = _run(_engine(spark, tmp_path / "kept", compact_every=1), spark)

    assert kept.schedule_rows() == plain.schedule_rows()
    assert kept.seen_set() == plain.seen_set()

    # bounded metadata: frontier compacted to far fewer parts than rounds+1,
    # and only the retained manifest window remains on disk
    assert len(kept.store.parts(FRONTIER)) <= 2
    tdir = os.path.join(str(tmp_path / "kept"), FRONTIER)
    manis = [f for f in os.listdir(tdir) if f.startswith("mani-")]
    assert len(manis) <= 4  # keep_manifests=3 + current
    # neither rounds nor maintenance write a blob
    assert not os.path.exists(os.path.join(str(tmp_path / "kept"), "blobs"))
    # no orphan part dirs: everything on disk is referenced by some
    # RETAINED manifest (retained manifests must stay restorable)
    import json

    referenced = set()
    for m in manis:
        with open(os.path.join(tdir, m)) as f:
            referenced |= {p["path"] for p in json.load(f)["parts"]}
    on_disk = {f for f in os.listdir(tdir) if f.startswith("part-")}
    assert on_disk <= referenced

    max_files = spark.sparkContext.defaultParallelism
    round_parts = 0
    for eng in (plain, kept):
        assert eng.store.read(FRONTIER).columns == FRONTIER_COLS
        tdir = eng.store._tdir(FRONTIER)
        for m in (f for f in os.listdir(tdir) if f.startswith("mani-")):
            with open(os.path.join(tdir, m)) as f:
                doc = json.load(f)
            assert "spec" not in doc, m
            assert all("spec" not in p for p in doc["parts"]), m
        for p in eng.store.parts(FRONTIER):
            entries = list(os.scandir(os.path.join(tdir, p["path"])))
            assert not any(e.is_dir() for e in entries), p
            if p["round"] is not None:
                round_parts += 1
                n = sum(e.name.endswith(".parquet") for e in entries)
                assert 1 <= n <= max_files, (p, n)
    assert round_parts >= 1  # the plain crawl's rounds each appended a part


def test_kill_after_maintain_resumes_exactly(spark, tmp_path):
    """The risky ordering: maintain() rewrites the frontier manifest and
    amends the checkpoint; a round killed right after must still resume to
    byte-equality with a clean run (the amended snap is the restore point)."""
    root = tmp_path / "kill"
    eng = _engine(spark, root)
    eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))
    docs = docs_df(spark, n=N_DOCS)
    eng.run_round(0, docs=docs)
    eng.maintain()

    real_checkpoint = eng.store.checkpoint
    def boom(round_no, payload):
        raise RuntimeError("killed before checkpoint")
    eng.store.checkpoint = boom
    with pytest.raises(RuntimeError):
        eng.run_round(1, docs=docs)
    eng.store.checkpoint = real_checkpoint

    eng2 = _engine(spark, root)
    for rnd in range(1, N_ROUNDS):
        eng2.run_round(rnd, docs=docs)
    eng2.maintain()

    clean = _run(_engine(spark, tmp_path / "clean"), spark)
    assert eng2.schedule_rows() == clean.schedule_rows()
    assert eng2.seen_set() == clean.seen_set()
    cols = ["url", "priority", "seq", "state", "round"]
    assert sorted(map(tuple, eng2.frontier_view().select(cols).collect())) == sorted(
        map(tuple, clean.frontier_view().select(cols).collect())
    )


def test_maintain_on_dirty_store_discards_inflight(spark, tmp_path):
    """maintain() on a store a killed round left dirty (uncheckpointed
    frontier/fetched appends) restores to the checkpoint first, so the
    compacted table equals the committed state and the round re-runs
    without duplicates."""
    root = tmp_path / "dirty"
    eng = _engine(spark, root)
    eng.bootstrap(seed_urls_df(spark, n=N_SEEDS))
    docs = docs_df(spark, n=N_DOCS)
    eng.run_round(0, docs=docs)

    real_checkpoint = eng.store.checkpoint
    def boom(round_no, payload):
        raise RuntimeError("killed before checkpoint")
    eng.store.checkpoint = boom
    with pytest.raises(RuntimeError):
        eng.run_round(1, docs=docs)
    eng.store.checkpoint = real_checkpoint

    eng.maintain()  # must roll back the in-flight round-1 appends
    committed = eng.store.last_checkpoint()
    assert committed["round"] == 0
    # the in-flight round-1 frontier/fetched parts were rolled back: the
    # amended snaps ARE current, and no part carries a round-1 tag
    assert all(p.get("round") != 1 for p in eng.store.parts(FRONTIER))
    assert all(p.get("round") != 1 for p in eng.store.parts(FETCHED))
    for rnd in range(1, N_ROUNDS):
        eng.run_round(rnd, docs=docs)

    clean = _run(_engine(spark, tmp_path / "clean2"), spark)
    assert eng.schedule_rows() == clean.schedule_rows()
    assert eng.seen_set() == clean.seen_set()


def test_time_travel_read_at_and_snapshots(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"))
    store.append("tbl", spark.range(0, 10), round_no=0)
    m0 = store.current_snapshot("tbl")
    store.append("tbl", spark.range(10, 25), round_no=1)
    m1 = store.current_snapshot("tbl")

    # read_at looks back without moving the pointer
    assert store.read_at("tbl", m0).count() == 10
    assert store.read("tbl").count() == 25
    assert store.current_snapshot("tbl") == m1

    snaps = store.snapshots("tbl")
    assert [s["manifest"] for s in snaps] == [m0, m1]
    assert [s["is_current"] for s in snaps] == [False, True]
    assert snaps[0]["rounds"] == [0] and snaps[1]["rounds"] == [0, 1]
    assert snaps[1]["n_parts"] == 2 and snaps[1]["bytes"] > snaps[0]["bytes"]

    # expired manifests are gone for time travel, by design
    store.append("tbl", spark.range(25, 30), round_no=2)
    store.expire("tbl", keep_manifests=1)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        store.read_at("tbl", m0)
    assert store.read("tbl").count() == 30


def test_incremental_read_between_manifests(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"))
    store.append("tbl", spark.range(0, 10), round_no=0)
    m0 = store.current_snapshot("tbl")
    store.append("tbl", spark.range(10, 25), round_no=1)
    store.append("tbl", spark.range(25, 30), round_no=2)
    m2 = store.current_snapshot("tbl")

    inc = store.read_between("tbl", m0, m2)
    got = sorted(r["id"] for r in inc.collect())
    assert got == list(range(10, 30))  # only the data appended after m0

    # identical manifests -> empty frame with the table schema
    empty = store.read_between("tbl", m2, m2)
    assert empty.count() == 0 and empty.columns == ["id"]


# --------------------------------------------------------------- z-order layout
def test_morton_key_matches_python_interleave(spark):
    """The JVM bit-arithmetic Morton code equals an independent Python
    bit-interleave on a sample covering low/high/boundary values."""
    from delphi_crawler_spark.storage.zorder import morton_key

    def py_morton(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    vals = [(0, 0), (1, 0), (0, 1), (511, 511), (255, 256), (37, 411), (500, 3)]
    df = spark.createDataFrame(vals, "x: long, y: long")
    got = df.select("x", "y", morton_key("x", "y", bits=9)).collect()
    for r in got:
        assert r["zkey"] == py_morton(r["x"], r["y"], 9)
    with pytest.raises(ValueError, match="bits"):
        morton_key("x", "y", bits=0)


def test_zorder_layout_skips_box_queries_unclustered_does_not(spark, tmp_path):
    """File-skipping evidence for the z-order layout: a 2-D box predicate
    covering 1/64 of the key space touches a small fraction of z-ordered
    files (each file covers a compact rectangle) but EVERY file of the
    unclustered control (every file spans the full x/y range, footer
    min/max prune nothing). This is the read-side payoff the layout buys
    at 100 TB — pruning from parquet footer stats alone, engine-agnostic."""
    from delphi_crawler_spark.storage.zorder import (
        files_touched_by_box,
        write_zordered,
    )

    n = 60_000
    df = spark.range(n).select(
        (F.col("id") % 512).alias("x"),
        ((F.col("id") * 7919) % 512).alias("y"),
        F.col("id").alias("payload"),
    )
    zpath = str(tmp_path / "zordered")
    cpath = str(tmp_path / "control")
    write_zordered(df, zpath, "x", "y", bits=9, n_files=16)
    df.repartition(16).write.parquet(cpath)

    box = ((0, 63), (0, 63))  # 1/64 of the 512x512 space
    z_touched, z_total = files_touched_by_box(zpath, "x", "y", *box)
    c_touched, c_total = files_touched_by_box(cpath, "x", "y", *box)
    assert z_total == 16 and c_total == 16
    assert z_touched <= 2, f"z-order should prune to <=2 files, read {z_touched}"
    assert c_touched == 16, "unclustered control must read every file"

    # layout is lossless: same rows either way
    a = spark.read.parquet(zpath).orderBy("payload").collect()
    b = df.orderBy("payload").collect()
    assert [(r["x"], r["y"], r["payload"]) for r in a] == [
        (r["x"], r["y"], r["payload"]) for r in b
    ]


# ----------------------------------------------------- partition-spec evolution
def test_partition_spec_evolution_reads_and_prunes(spark, tmp_path):
    """Iceberg-style spec evolution: parts written under bucket(host, 4)
    and, after evolve, bucket(host, 8) — read() hides both physical
    bucket columns, prune_read prunes each part under ITS OWN spec and
    returns exactly the key's rows across the boundary."""
    store = TableStore(spark, str(tmp_path / "specs"))
    t = "frontier_b"

    rows1 = [(f"h{i % 10}", i) for i in range(100)]
    rows2 = [(f"h{i % 10}", 100 + i) for i in range(100)]
    df1 = spark.createDataFrame(rows1, "host: string, seq: long")
    df2 = spark.createDataFrame(rows2, "host: string, seq: long")

    store.set_partition_spec(t, "host", 4)
    store.append(t, df1, round_no=1)
    store.set_partition_spec(t, "host", 8)  # metadata-only evolution
    store.append(t, df2, round_no=2)

    # logical schema is spec-free, all rows present
    full = store.read(t)
    assert set(full.columns) == {"host", "seq"}
    assert full.count() == 200

    # per-part recorded specs differ across the boundary
    specs = [p["spec"]["buckets"] for p in store.parts(t)]
    assert sorted(specs) == [4, 8]

    got = sorted(r["seq"] for r in store.prune_read(t, "h3").collect())
    want = sorted([i for i in range(100) if i % 10 == 3]
                  + [100 + i for i in range(100) if i % 10 == 3])
    assert got == want

    # the prune is real: each branch carries a PartitionFilters entry on
    # its own bucket column (constant-folded literal, pre-scan)
    plan = store.prune_read(t, "h3")._jdf.queryExecution().executedPlan().toString()
    assert "host_b4" in plan and "host_b8" in plan

    # a table without a spec gets plain parts and refuses to prune loudly
    store2 = TableStore(spark, str(tmp_path / "specs2"))
    store2.append("nospec", df1)
    assert "spec" not in store2.parts("nospec")[0]
    with pytest.raises(ValueError):
        store2.prune_read("nospec", "h3")


def test_partition_spec_survives_unrelated_commits(spark, tmp_path):
    """The spec is manifest metadata: every write path carries it forward
    and lays its part out under it, so an evolve is never silently lost
    and no write leaves an unbucketed part behind."""
    store = TableStore(spark, str(tmp_path / "specs3"))
    t = "tbl"
    spec = {"col": "host", "buckets": 4, "name": "host_b4"}
    df = spark.createDataFrame([("h1", 1)], "host: string, seq: long")
    store.set_partition_spec(t, "host", 4)
    store.append(t, df)
    store.replace_round(t, df.withColumn("seq", F.lit(2)), round_no=0)
    assert store.partition_spec(t) == spec
    assert [p["spec"] for p in store.parts(t)] == [spec, spec]
    assert sorted(r.seq for r in store.read(t).collect()) == [1, 2]
    store.write_snapshot(t, store.read(t))
    assert [p["spec"] for p in store.parts(t)] == [spec]
    assert store.read(t).columns == ["host", "seq"]
    assert sorted(r.seq for r in store.prune_read(t, "h1").collect()) == [1, 2]


def test_compact_keeps_partition_spec_hidden_and_prunable(spark, tmp_path):
    """compact() across a spec evolution (bucket(host, 4), then
    bucket(host, 8)): no physical bucket column reaches read(),
    read_parts_range() or read_at(); each merged part is written and recorded
    under the table's current spec, so prune_read still prunes it; the
    rows never change."""
    store = TableStore(spark, str(tmp_path / "specs4"))
    t = "tbl"

    def rows(lo):
        return spark.createDataFrame(
            [(f"h{i % 10}", i) for i in range(lo, lo + 50)], "host: string, seq: long"
        )

    def pruned_on(bucket_col):
        plan = store.prune_read(t, "h3")._jdf.queryExecution().executedPlan().toString()
        return re.search(r"PartitionFilters: \[[^\]]*\b" + bucket_col + "#", plan)

    store.set_partition_spec(t, "host", 4)
    store.append(t, rows(0), round_no=1)
    store.append(t, rows(50), round_no=2)
    assert store.read_parts_range(t, 1, 1).columns == ["host", "seq"]
    assert store.read_parts_range(t, 1, 2).columns == ["host", "seq"]
    mani_b4 = store.current_snapshot(t)

    assert store.compact(t, target_bytes=1 << 30) is not None
    (merged,) = store.parts(t)
    assert merged["spec"] == {"col": "host", "buckets": 4, "name": "host_b4"}
    assert store.read(t).columns == ["host", "seq"]
    assert store.read_at(t, mani_b4).columns == ["host", "seq"]
    assert pruned_on("host_b4")

    store.set_partition_spec(t, "host", 8)
    store.append(t, rows(100), round_no=3)
    before = sorted(map(tuple, store.read(t).collect()))
    assert store.compact(t, target_bytes=1 << 30) is not None
    (merged,) = store.parts(t)
    assert merged["spec"] == store.partition_spec(t)
    assert store.read(t).columns == ["host", "seq"]
    assert sorted(map(tuple, store.read(t).collect())) == before
    assert pruned_on("host_b8") and not pruned_on("host_b4")
    got = sorted(r["seq"] for r in store.prune_read(t, "h3").collect())
    assert got == [i for i in range(150) if i % 10 == 3]


def test_read_empty_manifest_raises_naming_table(spark, tmp_path):
    """``set_partition_spec`` on a new table commits a manifest with no
    parts: the table exists, but every scan of it raises the same
    FileNotFoundError as a table with no manifest, naming the table."""
    store = TableStore(spark, str(tmp_path / "empty_spec"))
    store.set_partition_spec("t", "host", 4)
    assert store.exists("t") and store.parts("t") == []
    for scan in (
        lambda: store.read("t"),
        lambda: store.read_parts_range("t", 0, 0),
        lambda: store.read_parts_range("t", 0, 1),
    ):
        with pytest.raises(FileNotFoundError, match="'t'"):
            scan()
