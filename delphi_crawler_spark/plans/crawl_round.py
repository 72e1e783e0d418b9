"""The crawl round — the reference's discovery pipeline as one DataFrame DAG.

Reference plan (MavenDiscoveryProcess.scala:64-103, the live semantics):

    source -> dedup-filter -> exists-filter -> throttle -> [take]
           -> alsoTo(store) -> mapAsync(download) -> successFilter
           -> mapAsync(analyze) -> successFilter -> alsoTo(store) -> Sink

Ours is the same dataflow as **iterated batch over manifest tables**
(SURVEY.md §7.0): each round is

    pending frontier (= frontier ∖ fetched-log, merge-on-read)
      -> politeness slots (P1/P6) -> round admission
      -> schedule table replace-round (the emitted fetch ordering, P3)
      -> fetched-log APPEND (the seen-state transition, S4/S5 — O(round))
      -> fetch (deterministic URL->doc join over the docs corpus — the
         sandbox stand-in for the HTTP fetch UDF, S3)
      -> link extraction in span order (the POM-dependency analogue)
      -> canonicalize -> robots gate -> F1 dedup -> bloom-prefiltered
         anti-join vs frontier (F2/J1) -> frontier APPEND (O(new links))
      -> incremental bloom: OR in a segment built from ONLY the new rows
      -> per-partition metrics replace-round (A5) -> checkpoint row (LAST)

Every emitted ordering is a total order with the ``seq`` tiebreak, so the
output is byte-identical at any parallelism level; every sink is an atomic
manifest commit, and the checkpoint row is written last, so a killed run
resumes exactly (reference restart semantics, IndexProcessing.scala:36-41,
upgraded from lossy to exact).

Scale invariants (100 TB / 10^10 URLs) — each was a round-1 scale-killer,
now structural:
- **No O(table) writes in the loop.** State transitions are an append-only
  fetched log (merge-on-read, like Iceberg MOR deletes); new links are one
  appended part; schedule/metrics replace only their own round's part.
  Round k's write volume is O(round k), independent of k (tested).
- **No unpartitioned windows.** The global seq over discovered links is
  range-partition + partition-local sort + driver prefix-sum offsets
  (operators/ordering.py) — same bytes, no single-task sort.
- **Full bloom rebuilds only at capacity growth and process start.** The
  bloom is in-memory derived state (the exact anti-join confirm is the
  source of truth); the checkpoint keeps only its geometry and counts.
  Each round ORs in a segment built from only that round's appended rows
  (BloomBits segments are OR-mergeable). A full rebuild happens when the
  item count outgrows capacity (amortized, geometric growth) and when a
  process without the carried bloom resumes (one segment over the
  checkpointed frontier's ``url_hash64``, bit-identical to the carry).
- The seen-set anti-join is bloom-prefiltered: steady-state discovered
  links are mostly bloom-negative (no shuffle) or true-seen (dropped).
- The fetch join is an equi-join on the doc key — at production scale the
  docs side is the fetched-content store, bucketed on the same key, so the
  join is shuffle-free on one side; in sandbox it broadcast-joins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delphi_crawler_spark.functions.canonicalize import (
    canonicalize_url,
    complete_url_keys,
    with_url_keys,
)
from delphi_crawler_spark.operators.aggs import partition_metrics
from delphi_crawler_spark.operators.dedup import first_occurrence_dedup
from delphi_crawler_spark.operators.links import extract_links
from delphi_crawler_spark.operators.ordering import attach_global_seq
from delphi_crawler_spark.operators.politeness import (
    admit_round,
    assign_emission_slots,
    emission_order,
    prune_pending_topk,
)
from delphi_crawler_spark.operators.robots import robots_filter
from delphi_crawler_spark.operators.seen import (
    BloomBits,
    build_bloom_segment,
    seen_anti_join,
)
from delphi_crawler_spark.storage.tablestore import TableStore

FRONTIER = "frontier"   # append-only: every URL ever admitted (the seen set)
FETCHED = "fetched"     # append-only log of (url, round) state transitions
SCHEDULE = "schedule"
METRICS = "metrics"

FRONTIER_COLS = [
    "url", "url_hash", "url_hash64", "host", "host_rev",
    "priority", "discovery_ts", "seq", "round",
]


@dataclass
class CrawlConfig:
    round_ms: int = 10_000
    limit: int = 0  # P2: 0 = unlimited (reference Configuration.scala:79)
    bloom_fpp: float = 0.01
    bloom_growth: int = 4  # capacity headroom factor at (re)build
    n_docs: int | None = None  # size of the synthetic fetch corpus
    compact_every: int = 0  # run table maintenance every K rounds (0 = off)
    compact_target_bytes: int = 128 << 20
    # frontier appends are dir-partitioned on pmod(xxhash64(host), N) — the
    # Iceberg `PARTITIONED BY (bucket(N, host))` analogue from the design
    # goal: a host's URLs land in one bucket per part, so per-host
    # maintenance scans prune to 1/N of the data and hot-host parts stay
    # isolated from the long tail. 0 disables.
    host_buckets: int = 16


class CrawlEngine:
    """Driver-side round loop (the ProcessScheduler analogue, P4 — plain
    orchestration; all data-parallel work happens in Spark)."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        politeness: DataFrame | None = None,
        robots: DataFrame | None = None,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.store = TableStore(spark, store_root)
        self.politeness = politeness
        self.robots = robots
        self.cfg = config or CrawlConfig()
        # in-memory carry of the merged bloom between rounds, keyed by the
        # checkpoint bloom meta it corresponds to; the bloom is never
        # persisted — _load_bloom rebuilds it when the key misses
        self._bloom_cache: tuple[dict, BloomBits] | None = None

    def _bucketed(self, df: DataFrame) -> tuple[DataFrame, list[str] | None]:
        """Attach the host-bucket partition column when configured."""
        if not self.cfg.host_buckets:
            return df, None
        return (
            df.withColumn(
                "host_bucket",
                F.pmod(F.xxhash64("host"), F.lit(self.cfg.host_buckets)).cast("int"),
            ),
            ["host_bucket"],
        )

    # ------------------------------------------------------------- bloom
    def _frontier_bloom(self, m_bits: int, k: int) -> BloomBits:
        """One segment over the whole frontier's ``url_hash64``."""
        return build_bloom_segment(
            self.store.read(FRONTIER).select("url_hash64"), m_bits, k
        )

    def _sized_bloom(self, items: int, round_no: int) -> dict:
        """Full build with ``bloom_growth`` headroom over ``items``
        (bootstrap and capacity growth); returns the checkpoint meta."""
        capacity = max(1024, self.cfg.bloom_growth * items)
        proto = BloomBits.sized(capacity, self.cfg.bloom_fpp)
        return self._carry(
            self._frontier_bloom(proto.m_bits, proto.k), round_no, items, capacity
        )

    def _carry(self, bloom: BloomBits, round_no: int, items: int, capacity: int) -> dict:
        """Keep ``bloom`` in memory as the bloom of the returned meta — the
        geometry and counts the checkpoint records in place of the bits."""
        meta = {
            "round": round_no, "m": bloom.m_bits, "k": bloom.k,
            "items": items, "capacity": capacity,
        }
        self._bloom_cache = (meta, bloom)
        return meta

    def _load_bloom(self, meta: dict | None) -> BloomBits | None:
        """The bloom the checkpoint ``meta`` describes: the in-memory carry
        when this process produced it, else one segment over the frontier
        (run_round has restored it to the checkpoint snapshot by now) —
        bit-identical, since segments OR-merge."""
        if not meta:
            return None
        if self._bloom_cache is None or self._bloom_cache[0] != meta:
            self._bloom_cache = (meta, self._frontier_bloom(meta["m"], meta["k"]))
        return self._bloom_cache[1]

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self, seeds: DataFrame) -> None:
        """Seed the frontier: canonicalize -> robots -> F1 dedup. Idempotent
        (skipped when a frontier manifest already exists — resume path).
        Also creates/migrates the declared feature-schema registry (S10,
        reference index bootstrap + version check)."""
        from delphi_crawler_spark.storage.schema_registry import migrate_if_needed

        migrate_if_needed(self.store)
        if self.store.exists(FRONTIER):
            return
        cand = seeds.withColumn("url", canonicalize_url("url")).filter(
            F.col("url").isNotNull()
        )
        # scheduling keys only pre-dedup; append keys attach on survivors
        cand = with_url_keys(cand, minimal=True)
        cand = robots_filter(cand, self.robots)
        cand = cand.drop("host")  # shed before the F1 exchange (see _discover)
        cand = first_occurrence_dedup(cand, key="url", order=["seq"])
        cand = complete_url_keys(cand)
        frontier = cand.select(
            "url", "url_hash", "url_hash64", "host", "host_rev",
            "priority", "discovery_ts", "seq",
            F.lit(-1).alias("round"),
        )
        frontier, part_by = self._bucketed(frontier)
        snap = self.store.write_snapshot(FRONTIER, frontier, partition_by=part_by)
        # one bootstrap-time pass over the written part: max seq (the global
        # monotonic sequence continues from here) + item count (bloom sizing)
        agg = self.store.read(FRONTIER).agg(
            F.max("seq").alias("mx"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        max_seq, n_items = int(agg.mx or 0), int(agg.n)
        bloom_meta = self._sized_bloom(n_items, -1)
        # round -1 checkpoint anchors exact resume of round 0
        self.store.checkpoint(-1, {
            "emitted_total": 0,
            "max_seq": max_seq,
            "frontier_snap": snap,
            "fetched_snap": None,
            "bloom": bloom_meta,
        })

    # -------------------------------------------------------------- a round
    def run_round(self, round_no: int, docs: DataFrame | None = None) -> dict:
        """Execute one crawl round; returns round stats. Idempotent: if the
        checkpoint for ``round_no`` exists the round is skipped (resume)."""
        last = self.store.last_checkpoint()
        if last is not None and last["round"] >= round_no:
            return {"round": round_no, "skipped": True}
        # exact resume: a killed round may have left partial (but manifest-
        # complete) commits — roll frontier + fetched back to the last
        # committed checkpoint, then recompute deterministically; schedule/
        # metrics heal via replace_round (resume-equivalence, SURVEY.md §5d)
        if last is not None:
            for tbl, key in ((FRONTIER, "frontier_snap"), (FETCHED, "fetched_snap")):
                snap = last.get(key)
                if snap and self.store.current_snapshot(tbl) != snap:
                    self.store.restore(tbl, snap)

        frontier = self.store.read(FRONTIER)
        # merge-on-read pending set: discovered minus fetched-log. The join
        # key leads with the 8-byte url_hash64 (durable on the frontier,
        # one narrow xxhash64 recompute on the O(emitted) fetched log) with
        # the url string as an equality residual: SMJ sort/compare cost is
        # fixed-width long compares (strings only break hash ties), and the
        # result is exact — identical to a url-only anti-join — because the
        # url equality is still part of the key. At 10^10 frontier rows
        # this is the single biggest recurring shuffle in the engine.
        if self.store.exists(FETCHED):
            fetched_keys = (
                self.store.read(FETCHED)
                .select("url")
                .withColumn("url_hash64", F.xxhash64("url"))
            )
            pending = frontier.join(
                fetched_keys, ["url_hash64", "url"], "left_anti"
            )
        else:
            pending = frontier

        # O(admittable) scheduling: narrow local top-cap per host, so the
        # emission window's exchange sees survivors, not the table
        pending = prune_pending_topk(pending, self.politeness, self.cfg.round_ms)
        slotted = assign_emission_slots(pending, self.politeness)
        admitted = admit_round(slotted, self.cfg.round_ms)
        if self.cfg.limit and self.cfg.limit > 0:
            already = 0
            if last is not None:
                already = last.get("emitted_total", 0)
            from delphi_crawler_spark.operators.politeness import global_limit

            admitted = global_limit(admitted, max(0, self.cfg.limit - already))

        schedule = emission_order(admitted).select(
            F.lit(round_no).alias("round"),
            "emit_ms", "host", "priority", "discovery_ts", "seq", "url",
        )
        # S7 alsoTo: materialize once, feed both the schedule sink and the
        # fetch stage (write-then-read instead of recompute); replace-by-round
        # keeps re-runs of a killed round idempotent
        self.store.replace_round(SCHEDULE, schedule, round_no)
        scheduled = self.store.read(SCHEDULE).filter(F.col("round") == round_no)
        n_admitted = scheduled.count()

        # S4/S5: seen-state transition as an append-only log — one O(round)
        # part, never a rewrite of the frontier
        if n_admitted:
            self.store.append(
                FETCHED,
                scheduled.select("url", F.lit(round_no).alias("round")),
                round_no=round_no,
            )

        n_new_links = 0
        bloom_meta = (last or {}).get("bloom")
        max_seq = (last or {}).get("max_seq", 0)
        if docs is not None and n_admitted > 0:
            n_new_links, max_seq, bloom_meta = self._discover(
                round_no, scheduled, docs, max_seq, bloom_meta
            )

        # A5 per-partition lineage + metrics
        self.store.replace_round(
            METRICS,
            partition_metrics(scheduled).withColumn("round", F.lit(round_no)),
            round_no,
        )
        stats = {
            "emitted": n_admitted,
            "new_links": n_new_links,
            "emitted_total": (last.get("emitted_total", 0) if last else 0) + n_admitted,
            "max_seq": max_seq,
            "frontier_snap": self.store.current_snapshot(FRONTIER),
            "fetched_snap": self.store.current_snapshot(FETCHED),
            "bloom": bloom_meta,
        }
        self.store.checkpoint(round_no, stats)  # commit point — written LAST
        return {"round": round_no, **stats}

    # ------------------------------------------------------------- discover
    def _discover(
        self,
        round_no: int,
        scheduled: DataFrame,
        docs: DataFrame,
        max_seq: int,
        bloom_meta: dict | None,
    ) -> tuple[int, int, dict | None]:
        """Fetch + extract + admit new links into the frontier. Returns
        (n_new, new_max_seq, new_bloom_meta)."""
        n_docs = self.cfg.n_docs or docs.count()
        # S3 fetch: deterministic URL -> doc mapping (crc32, reproducible in
        # the pure-Python oracle); production swaps this join for the
        # vectorized HTTP-fetch UDF.
        targets = scheduled.select(
            "url", "discovery_ts", "seq",
            F.format_string(
                "doc-%08d", F.pmod(F.crc32(F.col("url")), F.lit(n_docs))
            ).alias("doc_id"),
        )
        links = extract_links(docs)  # (doc_id, span_pos, raw_url) in span order
        raw = targets.join(links, "doc_id", "inner").select(
            F.col("raw_url").alias("url"),
            F.lit(0).alias("priority"),
            F.col("discovery_ts"),
            F.col("seq").alias("parent_seq"),
            "span_pos",
        )

        cand = raw.withColumn("url", canonicalize_url("url")).filter(
            F.col("url").isNotNull()
        )
        # scheduling keys only (host, url_hash64) pre-dedup: the F1 min_by
        # struct and the anti-join carry every attached column through
        # their exchanges, so the frontier-append-only keys (host_rev,
        # murmur3) attach AFTER the survivors are known — O(new) narrow
        # compute instead of O(candidates) shuffled strings
        cand = with_url_keys(cand, minimal=True)
        cand = robots_filter(cand, self.robots)
        # host served the robots gate; shed it before the F1 exchange (a
        # pure regexp of url, restored on survivors by complete_url_keys)
        cand = cand.drop("host")
        # F1: first occurrence in discovery order (parent emission, span pos)
        cand = first_occurrence_dedup(cand, key="url", order=["parent_seq", "span_pos"])

        seen = self.store.read(FRONTIER).select("url", "url_hash64")
        bloom = self._load_bloom(bloom_meta)
        fresh = complete_url_keys(seen_anti_join(cand, seen, bloom))

        # deterministic new seq over the SURVIVORS, continuing the global
        # monotonic sequence in (parent_seq, span_pos) discovery order (S1):
        # range partition + local sort + driver prefix-sum offsets — the
        # exact global rank with no single-task sort (operators/ordering.py)
        seqd, release = attach_global_seq(
            fresh.select(
                "url", "url_hash", "url_hash64", "host", "host_rev",
                "priority", "discovery_ts", "parent_seq", "span_pos",
            ),
            order=["parent_seq", "span_pos"],
            start=max_seq,
        )
        n_new = seqd._attached_seq_total  # counted by the offsets pass
        if n_new:
            new_rows = seqd.select(
                "url", "url_hash", "url_hash64", "host", "host_rev",
                "priority", "discovery_ts", "seq",
                F.lit(round_no).alias("round"),
            )
            new_rows, part_by = self._bucketed(new_rows)
            self.store.append(
                FRONTIER, new_rows, partition_by=part_by, round_no=round_no
            )
            if bloom is not None:
                items = bloom_meta["items"] + n_new
                if items > bloom_meta["capacity"]:
                    # amortized geometric rebuild: full scan, new capacity
                    bloom_meta = self._sized_bloom(items, round_no)
                else:
                    # incremental maintenance: segment over ONLY the
                    # appended part (scanned back from the manifest)
                    seg = build_bloom_segment(
                        self.store.read_parts(FRONTIER, round_no).select("url_hash64"),
                        bloom.m_bits, bloom.k,
                    )
                    bloom_meta = self._carry(
                        bloom.merge(seg), round_no, items, bloom_meta["capacity"]
                    )
        release()
        return n_new, max_seq + n_new, bloom_meta

    # ---------------------------------------------------------- maintenance
    def maintain(
        self, target_bytes: int | None = None, keep_manifests: int = 3
    ) -> dict:
        """Table maintenance between rounds — the 10^10-scale housekeeping a
        per-round-part store needs (Iceberg ``rewrite_data_files`` +
        ``expire_snapshots``): without it, K rounds mean K-part manifests
        (small-files read overhead) and unbounded manifest/orphan disk.

        Resume-safe ordering:
        1. restore frontier/fetched to the last checkpoint (discard any
           in-flight parts a killed round left — run_round would anyway);
        2. ``compact`` each table, protecting the next (possibly in-flight)
           round's replaceable schedule/metrics parts;
        3. ``amend_checkpoint`` so ``*_snap`` names the post-compaction
           manifests (compaction deletes nothing, so a kill before this
           amend still resumes from the old manifest);
        4. ``expire`` old manifests + orphan parts, protecting the amended
           checkpoint's manifests.

        The bloom is untouched: it is in-memory state over the frontier's
        rows, which compaction rewrites but does not change.
        """
        tb = target_bytes or self.cfg.compact_target_bytes
        last = self.store.last_checkpoint()
        snap_keys = {FRONTIER: "frontier_snap", FETCHED: "fetched_snap"}
        if last is not None:
            for tbl, key in snap_keys.items():
                snap = last.get(key)
                if snap and self.store.current_snapshot(tbl) != snap:
                    self.store.restore(tbl, snap)
        protect_rounds = frozenset(
            {last["round"] + 1} if last is not None else set()
        )
        stats: dict = {}
        for tbl in (FRONTIER, FETCHED, SCHEDULE, METRICS):
            if not self.store.exists(tbl):
                continue
            # frontier compaction keeps the host-bucket dir layout so every
            # part stays prunable on the same key
            part_by = (
                ["host_bucket"]
                if tbl == FRONTIER and self.cfg.host_buckets
                else None
            )
            new_mani = self.store.compact(
                tbl, target_bytes=tb, protect_rounds=protect_rounds,
                partition_by=part_by,
            )
            stats[tbl] = {"compacted": new_mani is not None}
            if new_mani and last is not None and tbl in snap_keys:
                self.store.amend_checkpoint(
                    last["round"], {snap_keys[tbl]: new_mani}
                )
        last = self.store.last_checkpoint()  # re-read amended snaps
        for tbl in (FRONTIER, FETCHED, SCHEDULE, METRICS):
            if not self.store.exists(tbl):
                continue
            protect = set()
            if last is not None and last.get(snap_keys.get(tbl, "")):
                protect.add(last[snap_keys[tbl]])
            stats[tbl] = {
                **stats.get(tbl, {}),
                **self.store.expire(tbl, keep_manifests, protect),
            }
        return stats

    # ------------------------------------------------------------ run loop
    def run(self, n_rounds: int, docs: DataFrame | None = None, stop=None) -> list[dict]:
        """Round loop with cooperative graceful stop (reference /stop,
        Server.scala:42-51): the flag is checked BETWEEN rounds, so a stop
        mid-crawl leaves a fully-checkpointed, exactly-resumable store.
        ``stop`` is any object with ``is_set()`` (threading.Event)."""
        out = []
        for rnd in range(n_rounds):
            if stop is not None and stop.is_set():
                break
            out.append(self.run_round(rnd, docs=docs))
            if self.cfg.compact_every and (rnd + 1) % self.cfg.compact_every == 0:
                self.maintain()
        return out

    # ------------------------------------------------------------ accessors
    def frontier_view(self) -> DataFrame:
        """The classic frontier view (url, ..., state, round): append-only
        frontier merged on read with the fetched log — what an Iceberg MOR
        scan materializes."""
        f = self.store.read(FRONTIER)
        if self.store.exists(FETCHED):
            fet = self.store.read(FETCHED).select(
                "url", F.col("round").alias("__fetched_round")
            )
            f = f.join(fet, "url", "left")
        else:
            f = f.withColumn("__fetched_round", F.lit(None).cast("int"))
        return (
            f.withColumn(
                "state",
                F.when(F.col("__fetched_round").isNotNull(), F.lit("fetched"))
                .otherwise(F.lit("pending")),
            )
            .withColumn("round", F.coalesce("__fetched_round", "round"))
            .drop("__fetched_round")
        )

    def schedule_rows(self) -> list[tuple]:
        """(round, emit_ms, host, priority, seq, url) in emission order."""
        df = self.store.read(SCHEDULE).orderBy(
            "round", "emit_ms", F.col("priority").desc(), "discovery_ts", "seq"
        )
        return [
            (r.round, r.emit_ms, r.host, r.priority, r.seq, r.url)
            for r in df.select("round", "emit_ms", "host", "priority", "seq", "url").collect()
        ]

    def seen_set(self) -> set[str]:
        if not self.store.exists(FETCHED):
            return set()
        return {
            r.url for r in self.store.read(FETCHED).select("url").collect()
        }
