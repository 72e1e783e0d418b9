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
      -> canonicalize -> robots gate -> F1 dedup -> hash-probed exact
         anti-join vs frontier (F2/J1) -> frontier APPEND (O(new links))
      -> per-partition metrics replace-round (A5) -> checkpoint row (LAST)

Every emitted ordering is a total order with the ``seq`` tiebreak, so the
output is byte-identical at any parallelism level; every sink is an atomic
manifest commit, and the checkpoint row is written last, so a killed run
resumes exactly (reference restart semantics, IndexProcessing.scala:36-41,
upgraded from lossy to exact). Bootstrap has the same commit point: its
round -1 checkpoint, so a bootstrap killed before it is redone in full.

The frontier is written as plain parts, one flat parquet file per write
task: no engine read prunes by host (the pending set, the seen confirm and
compaction all scan it whole), so a ``bucket(n, host)`` spec would only
multiply its files. Stores that recorded such a spec keep it: the store
carries it forward, and reads hide its bucket column.

Scale invariants (100 TB / 10^10 URLs) — each was a round-1 scale-killer,
now structural:
- **No O(table) writes in the loop.** State transitions are an append-only
  fetched log (merge-on-read, like Iceberg MOR deletes); new links are one
  appended part; schedule/metrics replace only their own round's part.
  Round k's write volume is O(round k), independent of k (tested).
- **No unpartitioned windows.** The global seq over discovered links is
  range-partition + partition-local sort + driver prefix-sum offsets
  (operators/ordering.py) — same bytes, no single-task sort.
- **No derived seen-set state.** The frontier table is the seen set; no
  membership filter is built, carried or rebuilt, so a fresh process
  resumes from the checkpoint with no pass over the frontier.
- **Every per-round Python UDF and shuffle is O(round).** The fetch cuts
  the docs corpus to the round's doc_ids with a broadcast ``left_semi``
  (build side O(admitted)) before link extraction, so canonicalization
  runs on the fetched docs' links only. The seen-set confirm broadcasts
  the candidates' 8-byte ``url_hash64`` into a ``left_semi`` probe of the
  frontier scan, then anti-joins the candidates against those hits,
  broadcast too (both build sides O(candidates of one round)): the
  frontier is scanned once per round by the JVM, never shuffled and never
  sent through Python (operators/seen.py). A round runs two Python
  stages: ``prune_pending_topk`` (a mapInPandas per pending-scan
  partition) and ``canonicalize_url`` (Arrow) on the fetched links; the
  global seq and the admitted count run in the JVM. Reused Python workers
  skip the zip-directory re-read PySpark runs before every task (package
  ``__init__``), a fixed ~0.2 s of CPU each task used to pay.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
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
# imported for perfbench: its tracer wraps the first name in this module
from delphi_crawler_spark.operators.seen import build_bloom_segment, seen_anti_join  # noqa: F401
from delphi_crawler_spark.storage.tablestore import TableStore

FRONTIER = "frontier"   # append-only: every URL ever admitted (the seen set)
FETCHED = "fetched"     # append-only log of (url, round) state transitions
SCHEDULE = "schedule"
METRICS = "metrics"

FRONTIER_COLS = [
    "url", "url_hash", "url_hash64", "host", "host_rev",
    "priority", "discovery_ts", "seq", "round",
]
# the checkpoint key holding each rolled-back table's manifest id
SNAP_KEYS = {FRONTIER: "frontier_snap", FETCHED: "fetched_snap"}


def candidate_urls(
    raw: DataFrame, robots: DataFrame | None, order: list[str]
) -> DataFrame:
    """The admission chain every URL source shares (seeds, discovered
    links, streamed seed batches): canonicalize -> drop malformed ->
    scheduling keys -> robots gate -> F1 first occurrence by ``order``.

    Only the scheduling keys (``host``, ``url_hash64``) attach pre-dedup:
    the F1 min_by struct and the seen anti-join carry every attached
    column through their exchanges, so the frontier-append-only keys
    (``host_rev``, murmur3 ``url_hash``) attach AFTER the survivors are
    known. ``host`` served the robots gate and is shed before the F1
    exchange (a pure regexp of url). Callers restore all three with
    ``complete_url_keys`` on the survivors — after the seen anti-join
    when there is one — an O(new) narrow projection instead of
    O(candidates) shuffled strings.

    The operators are looked up as this module's globals at call time,
    so a wrapper installed on them here sees every caller."""
    cand = raw.withColumn("url", canonicalize_url("url")).filter(
        F.col("url").isNotNull()
    )
    cand = with_url_keys(cand, minimal=True)
    cand = robots_filter(cand, robots)
    return first_occurrence_dedup(cand.drop("host"), key="url", order=order)


@dataclass
class CrawlConfig:
    round_ms: int = 10_000
    limit: int = 0  # P2: 0 = unlimited (reference Configuration.scala:79)
    n_docs: int | None = None  # size of the synthetic fetch corpus
    compact_every: int = 0  # run table maintenance every K rounds (0 = off)
    compact_target_bytes: int = 128 << 20


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

    def _rollback(self, last: dict | None) -> None:
        """Roll FRONTIER and FETCHED back to the snapshots the checkpoint
        ``last`` recorded — discards the partial (but manifest-complete)
        commits a killed round left behind."""
        if last is None:
            return
        for tbl, key in SNAP_KEYS.items():
            snap = last.get(key)
            if snap and self.store.current_snapshot(tbl) != snap:
                self.store.restore(tbl, snap)

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self, seeds: DataFrame) -> None:
        """Seed the frontier: canonicalize -> robots -> F1 dedup, written
        as a plain snapshot (no partition spec: no engine read prunes the
        frontier by host). Its commit point is the round -1 checkpoint:
        skipped once that exists (resume path); a bootstrap killed before
        it rewrites the frontier snapshot from the seeds. Also creates/
        migrates the declared feature-schema registry (S10, reference index
        bootstrap + version check)."""
        from delphi_crawler_spark.storage.schema_registry import migrate_if_needed

        migrate_if_needed(self.store)
        if self.store.last_checkpoint() is not None:
            return
        cand = complete_url_keys(candidate_urls(seeds, self.robots, ["seq"]))
        # the global monotonic sequence continues from the seeds' max seq,
        # observed on the snapshot write itself, not by reading it back
        seq_obs = Observation()
        frontier = cand.select(
            "url", "url_hash", "url_hash64", "host", "host_rev",
            "priority", "discovery_ts", "seq",
            F.lit(-1).alias("round"),
        ).observe(seq_obs, F.max("seq").alias("max_seq"))
        snap = self.store.write_snapshot(FRONTIER, frontier)
        max_seq = seq_obs.get["max_seq"]
        # round -1 checkpoint anchors exact resume of round 0
        self.store.checkpoint(-1, {
            "emitted_total": 0,
            "max_seq": int(max_seq or 0),
            "frontier_snap": snap,
            "fetched_snap": None,
        })

    # -------------------------------------------------------------- a round
    def run_round(self, round_no: int, docs: DataFrame | None = None) -> dict:
        """Execute one crawl round; returns round stats. Idempotent: if the
        checkpoint for ``round_no`` exists the round is skipped (resume)."""
        last = self.store.last_checkpoint()
        if last is not None and last["round"] >= round_no:
            return {"round": round_no, "skipped": True}
        # exact resume: roll frontier + fetched back to the last committed
        # checkpoint, then recompute deterministically; schedule/metrics
        # heal via replace_round (resume-equivalence, SURVEY.md §5d)
        self._rollback(last)

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
        # keeps re-runs of a killed round idempotent. The admitted count is
        # observed on the write itself, not counted by a second job.
        admitted_obs = Observation()
        self.store.replace_round(
            SCHEDULE,
            schedule.observe(admitted_obs, F.count(F.lit(1)).alias("n")),
            round_no,
        )
        n_admitted = admitted_obs.get["n"]
        scheduled = self.store.read(SCHEDULE).filter(F.col("round") == round_no)

        # S4/S5: seen-state transition as an append-only log — one O(round)
        # part, never a rewrite of the frontier
        if n_admitted:
            self.store.append(
                FETCHED,
                scheduled.select("url", F.lit(round_no).alias("round")),
                round_no=round_no,
            )

        n_new_links = 0
        max_seq = (last or {}).get("max_seq", 0)
        if docs is not None and n_admitted > 0:
            n_new_links, max_seq = self._discover(
                round_no, scheduled, docs, max_seq
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
            **{key: self.store.current_snapshot(t) for t, key in SNAP_KEYS.items()},
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
    ) -> tuple[int, int]:
        """Fetch + extract + admit new links into the frontier. Returns
        (n_new, new_max_seq)."""
        n_docs = self.cfg.n_docs or docs.count()
        # S3 fetch: deterministic URL -> doc mapping (crc32, reproducible in
        # the pure-Python oracle); production swaps this join for the
        # vectorized HTTP-fetch UDF. The docs are cut to the round's doc_ids
        # (broadcast left_semi, build side O(admitted)) BEFORE link
        # extraction, so posexplode and canonicalization see only the
        # fetched docs, never the whole corpus.
        targets = scheduled.select(
            "url", "discovery_ts", "seq",
            F.format_string(
                "doc-%08d", F.pmod(F.crc32(F.col("url")), F.lit(n_docs))
            ).alias("doc_id"),
        )
        fetched_docs = docs.join(
            F.broadcast(targets.select("doc_id")), "doc_id", "left_semi"
        )
        # (doc_id, span_pos, raw_url) in span order
        links = extract_links(fetched_docs)
        raw = targets.join(links, "doc_id", "inner").select(
            F.col("raw_url").alias("url"),
            F.lit(0).alias("priority"),
            F.col("discovery_ts"),
            F.col("seq").alias("parent_seq"),
            "span_pos",
        )

        # F1: first occurrence in discovery order (parent emission, span pos)
        cand = candidate_urls(raw, self.robots, ["parent_seq", "span_pos"])

        seen = self.store.read(FRONTIER).select("url", "url_hash64")
        # positional None (no prefilter): the perfbench tracer unpacks three
        fresh = complete_url_keys(seen_anti_join(cand, seen, None))

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
        n_new = seqd._attached_seq_total  # counted by the size pass
        if n_new:
            new_rows = seqd.select(
                "url", "url_hash", "url_hash64", "host", "host_rev",
                "priority", "discovery_ts", "seq",
                F.lit(round_no).alias("round"),
            )
            self.store.append(FRONTIER, new_rows, round_no=round_no)
        release()
        return n_new, max_seq + n_new

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
        """
        tb = target_bytes or self.cfg.compact_target_bytes
        last = self.store.last_checkpoint()
        self._rollback(last)
        protect_rounds = frozenset(
            {last["round"] + 1} if last is not None else set()
        )
        stats: dict = {}
        for tbl in (FRONTIER, FETCHED, SCHEDULE, METRICS):
            if not self.store.exists(tbl):
                continue
            new_mani = self.store.compact(
                tbl, target_bytes=tb, protect_rounds=protect_rounds
            )
            stats[tbl] = {"compacted": new_mani is not None}
            if new_mani and last is not None and tbl in SNAP_KEYS:
                self.store.amend_checkpoint(
                    last["round"], {SNAP_KEYS[tbl]: new_mani}
                )
        last = self.store.last_checkpoint()  # re-read amended snaps
        for tbl in (FRONTIER, FETCHED, SCHEDULE, METRICS):
            if not self.store.exists(tbl):
                continue
            protect = set()
            if last is not None and last.get(SNAP_KEYS.get(tbl, "")):
                protect.add(last[SNAP_KEYS[tbl]])
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
