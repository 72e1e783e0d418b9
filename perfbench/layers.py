"""Per-layer trace of one crawl session, taken from outside the engine.

The tracer wraps the public layer functions under the names
``plans/crawl_round.py`` binds them, and the ``TableStore`` methods of each
engine's store. The wrappers only time calls and keep references to the
frames passed through them, so the traced rounds run the same plans as
untraced ones. After the resumed round the captured inputs are persisted
and each
layer's public function is replayed on them into the noop sink: that gives
the layer's row counts, shuffle bytes and self time (replay minus a scan of
the persisted input). Round stage times are the gaps between the store
calls ``run_round`` makes; job counts and task time come from the status
store (``sparkstats``).

``PER_LAYER`` lists every metric with its unit. Which end-to-end metric
each should move, and on which workload, is in perfbench/README.md.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import delphi_crawler_spark.plans.crawl_round as cr

from sparkstats import StageLedger, dir_bytes

STORE_METHODS = (
    "append", "replace_round", "read", "save_blob", "load_blob",
    "checkpoint", "restore", "compact", "expire",
)
ROUND_STAGES = (
    "schedule", "fetched_append", "discover", "frontier_append",
    "bloom", "metrics", "checkpoint",
)

PER_LAYER = {
    **{f"crawl_round.{s}_s": "s" for s in ROUND_STAGES},
    "crawl_round.jobs": "count",
    "crawl_round.task_s": "s",
    "crawl_round.core_busy_share": "ratio",
    "politeness.pending_rows": "rows",
    "politeness.pruned_rows": "rows",
    "politeness.prune_keep_ratio": "ratio",
    "politeness.admitted_rows": "rows",
    "politeness.shuffle_bytes": "bytes",
    "links.docs_fetched": "docs",
    "links.raw_links": "rows",
    "canonicalize.rows_in": "rows",
    "canonicalize.malformed": "rows",
    "canonicalize.self_s": "s",
    "robots.denied": "rows",
    "robots.self_s": "s",
    "dedup.f1_in": "rows",
    "dedup.f1_dups": "rows",
    "dedup.shuffle_bytes": "bytes",
    "dedup.self_s": "s",
    "seen.candidates": "rows",
    "seen.bloom_negative": "rows",
    "seen.maybe_seen": "rows",
    "seen.confirmed_seen": "rows",
    "seen.bloom_useful_ratio": "ratio",
    "seen.bloom_fpr_observed": "ratio",
    "seen.bloom_fill": "ratio",
    "seen.segment_build_s": "s",
    "seen.confirm_shuffle_bytes": "bytes",
    "seen.tail_rebuild_s": "s",
    "ordering.seq_s": "s",
    "ordering.new_rows": "rows",
    **{
        f"tablestore.{m}.{k}": u
        for m in STORE_METHODS
        for k, u in (("calls", "count"), ("s", "s"), ("bytes", "bytes"))
    },
    "tablestore.parts.frontier": "count",
    "tablestore.parts.fetched": "count",
    "session.bootstrap_s": "s",
    "session.resume_round_s": "s",
    "session.maintain_s": "s",
    "session.round_s": "s",
    "session.urls_per_s": "1/s",
    "session.peak_rss_mb": "MiB",
    "trace.round_s": "s",
    "trace.overhead_s": "s",
}

# crawl_round.py names whose calls inside a round are captured for replay
CAPTURED = (
    "prune_pending_topk", "with_url_keys", "robots_filter",
    "first_occurrence_dedup", "seen_anti_join", "attach_global_seq",
)


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.ledger = StageLedger(spark)
        self.values: dict[str, float] = {}
        self.store_stats = {m: [0, 0.0, 0] for m in STORE_METHODS}
        self.overhead_s = 0.0
        self._originals: dict[str, object] = {}
        self._store_root = ""
        self._round = None  # open round record while run_round executes
        self._rounds: list[dict] = []
        self._captures: dict[str, tuple] = {}
        self._after_parts_range = False

    # ------------------------------------------------------------ install
    def install(self) -> None:
        for name in CAPTURED:
            self._originals[name] = getattr(cr, name)
            setattr(cr, name, self._capturing(name, self._originals[name]))
        self._originals["build_bloom_segment"] = cr.build_bloom_segment
        cr.build_bloom_segment = self._timed_segment(cr.build_bloom_segment)

    def uninstall(self) -> None:
        for name, fn in self._originals.items():
            setattr(cr, name, fn)
        self._originals.clear()

    def reset_store(self, root: str) -> None:
        self._store_root = root

    def _capturing(self, name, fn):
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            if self._round is not None:
                self._captures[name] = (args, kwargs, out)
            return out
        return wrapper

    def _timed_segment(self, fn):
        def wrapper(*args, **kwargs):
            tail = self._after_parts_range
            self._after_parts_range = False
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t
            if self._round is not None:
                self._round["tail_s" if tail else "segment_s"] += dt
            return out
        return wrapper

    # ------------------------------------------------------- engine hooks
    def attach(self, engine) -> None:
        store = engine.store
        for m in STORE_METHODS:
            setattr(store, m, self._store_wrapper(store, m, getattr(store, m)))
        real_range = store.read_parts_range

        def read_parts_range(*args, **kwargs):
            self._after_parts_range = True
            return real_range(*args, **kwargs)

        store.read_parts_range = read_parts_range
        real_round = engine.run_round

        def run_round(round_no, docs=None):
            t0 = time.perf_counter()
            parts = {
                t: len(store.parts(t)) if store.exists(t) else 0
                for t in (cr.FRONTIER, cr.FETCHED)
            }
            self._captures = {}
            self._round = {"no": round_no, "t0": t0, "spans": [], "parts": parts,
                           "segment_s": 0.0, "tail_s": 0.0}
            self.overhead_s += time.perf_counter() - t0
            try:
                out = real_round(round_no, docs=docs)
                self._round["t1"] = time.perf_counter()
                self._round["result"] = out
                self._rounds.append(self._round)
                return out
            finally:
                self._round = None

        engine.run_round = run_round

    def _store_wrapper(self, store, method, fn):
        def wrapper(*args, **kwargs):
            t_in = time.perf_counter()
            before = dir_bytes(self._store_root)
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            t_end = time.perf_counter()
            if method == "read":
                moved = sum(p.get("bytes", 0) for p in store.parts(args[0]))
            elif method == "load_blob":
                moved = len(out)
            else:
                moved = abs(dir_bytes(self._store_root) - before)
            st = self.store_stats[method]
            st[0] += 1
            st[1] += t_end - t
            st[2] += moved
            if self._round is not None:
                self._round["spans"].append((method, args[0] if args else None, t, t_end))
            self.overhead_s += time.perf_counter() - t_in - (t_end - t)
            return out
        return wrapper

    # ------------------------------------------------------------ replay
    def _noop(self, df: DataFrame, group: str, observe=None):
        """Force ``df`` into the noop sink; returns (wall, observed, stats)."""
        obs = Observation()
        if observe is not None:
            df = df.observe(obs, *observe)
        self.ledger.set_group(group)
        t = time.perf_counter()
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            wall = time.perf_counter() - t
            self.ledger.clear_group()
        return wall, (obs.get if observe is not None else {}), self.ledger.collect(group)

    def _pinned(self, df: DataFrame, group: str):
        """Persist ``df`` and return (frame, rows, seconds to scan it)."""
        df = df.persist()
        rows = df.count()
        scan_s, _, _ = self._noop(df, group + "-scan")
        return df, rows, scan_s

    def replay_round(self) -> None:
        """Replay each captured layer of the round just finished."""
        cap, v, fns, pinned = self._captures, self.values, self._originals, []
        n = F.count(F.lit(1))

        def pin(df, group):
            out = self._pinned(df, group)
            pinned.append(out[0])
            return out

        rnd = self._rounds[-1]
        if "prune_pending_topk" in cap:
            (pending, pol, round_ms), _, _ = cap["prune_pending_topk"]
            pending, rows, _ = pin(pending, "politeness")
            pruned_obs = Observation()
            pruned = fns["prune_pending_topk"](pending, pol, round_ms).observe(
                pruned_obs, n.alias("n"))
            chain = cr.emission_order(cr.admit_round(
                cr.assign_emission_slots(pruned, pol), round_ms))
            _, got, st = self._noop(chain, "politeness-chain", [n.alias("n")])
            v["politeness.pending_rows"] = rows
            v["politeness.pruned_rows"] = pruned_obs.get["n"]
            v["politeness.admitted_rows"] = got["n"]
            v["politeness.prune_keep_ratio"] = pruned_obs.get["n"] / max(1, rows)
            v["politeness.shuffle_bytes"] = st.shuffle_write_bytes
        v["links.docs_fetched"] = rnd["result"]["emitted"]

        if "with_url_keys" in cap:
            raw = self._filter_input(cap["with_url_keys"][0][0])
            raw, rows, scan_s = pin(raw.select("url"), "canonicalize")
            canon = cr.canonicalize_url("url")
            wall, got, _ = self._noop(
                raw.select(canon.alias("url")), "canonicalize-replay",
                [F.sum(F.col("url").isNull().cast("long")).alias("bad")])
            v["links.raw_links"] = rows
            v["canonicalize.rows_in"] = rows
            v["canonicalize.malformed"] = got["bad"] or 0
            v["canonicalize.self_s"] = max(0.0, wall - scan_s)

        for name, key, group in (("robots_filter", "robots", "robots"),
                                 ("first_occurrence_dedup", "dedup", "dedup")):
            if name not in cap:
                continue
            args, kwargs, _ = cap[name]
            inp, rows, scan_s = pin(args[0], group)
            wall, got, st = self._noop(fns[name](inp, *args[1:], **kwargs),
                                       group + "-replay", [n.alias("n")])
            if key == "robots":
                v["robots.denied"] = rows - got["n"]
            else:
                v["dedup.f1_in"] = rows
                v["dedup.f1_dups"] = rows - got["n"]
                v["dedup.shuffle_bytes"] = st.shuffle_write_bytes
            v[f"{key}.self_s"] = max(0.0, wall - scan_s)

        if "seen_anti_join" in cap:
            (cand, seen, bloom), kwargs, _ = cap["seen_anti_join"]
            cand, rows, _ = pin(cand, "seen")
            seen = pin(seen, "seen-side")[0]
            _, got, st = self._noop(fns["seen_anti_join"](cand, seen, bloom, **kwargs),
                                    "seen-replay", [n.alias("n")])
            confirmed = rows - got["n"]
            if bloom is not None:
                keys = np.array([r[0] for r in cand.select("url_hash64").collect()],
                                dtype=np.int64).view(np.uint64)
                negative = int((~bloom.might_contain_many(keys)).sum())
                fill = int(np.unpackbits(bloom.words.view(np.uint8)).sum()) / bloom.m_bits
            else:
                negative, fill = 0, 0.0
            maybe = rows - negative
            v["seen.candidates"] = rows
            v["seen.bloom_negative"] = negative
            v["seen.maybe_seen"] = maybe
            v["seen.confirmed_seen"] = confirmed
            v["seen.bloom_useful_ratio"] = negative / max(1, rows)
            v["seen.bloom_fpr_observed"] = (maybe - confirmed) / max(1, rows - confirmed)
            v["seen.bloom_fill"] = fill
            v["seen.confirm_shuffle_bytes"] = st.shuffle_write_bytes

        if "attach_global_seq" in cap:
            args, kwargs, (seqd, _release) = cap["attach_global_seq"]
            inp, _, scan_s = pin(args[0], "ordering")
            replay, release = fns["attach_global_seq"](inp, *args[1:], **kwargs)
            wall, _, _ = self._noop(replay, "ordering-replay")
            release()
            v["ordering.seq_s"] = max(0.0, wall - scan_s)
            v["ordering.new_rows"] = seqd._attached_seq_total
        for df in pinned:
            df.unpersist()

    def _filter_input(self, cand: DataFrame) -> DataFrame:
        """The frame ``canonicalize_url`` ran on: ``cand`` is
        ``raw.withColumn("url", canonicalize_url("url")).filter(...)``, so
        its analyzed plan is Filter(Project(raw))."""
        plan = cand._jdf.queryExecution().analyzed().children().apply(0).children().apply(0)
        jvm = self.spark._jvm
        return DataFrame(
            jvm.org.apache.spark.sql.classic.Dataset.ofRows(self.spark._jsparkSession, plan),
            self.spark,
        )

    # ----------------------------------------------------------- results
    def _stage_times(self, rnd: dict) -> dict[str, float]:
        def first(method, table):
            return next((s for s in rnd["spans"] if s[0] == method and s[1] == table), None)

        fetched = first("append", cr.FETCHED)
        frontier = first("append", cr.FRONTIER)
        metrics = first("replace_round", cr.METRICS)
        ckpt = next(s for s in rnd["spans"] if s[0] == "checkpoint")
        out = dict.fromkeys(ROUND_STAGES, 0.0)
        discover_from = fetched[3] if fetched else metrics[2]
        out["schedule"] = (fetched[2] if fetched else metrics[2]) - rnd["t0"]
        if fetched:
            out["fetched_append"] = fetched[3] - fetched[2]
        if frontier:
            out["discover"] = frontier[2] - discover_from
            out["frontier_append"] = frontier[3] - frontier[2]
            out["bloom"] = metrics[2] - frontier[3]
        else:
            out["discover"] = metrics[2] - discover_from
        out["metrics"] = metrics[3] - metrics[2]
        out["checkpoint"] = ckpt[3] - ckpt[2]
        return out

    def metrics(self, session, peak_rss_mb: float) -> dict:
        v = dict(self.values)
        round0 = next(r for r in self._rounds if r["no"] == 0)
        resumed = self._rounds[-1]
        for stage, secs in self._stage_times(round0).items():
            v[f"crawl_round.{stage}_s"] = secs
        step = session.steps["round0"]
        v["crawl_round.jobs"] = step.jobs
        v["crawl_round.task_s"] = step.task_s
        v["crawl_round.core_busy_share"] = step.task_s / (step.wall_s * self.cores)
        v["seen.segment_build_s"] = round0["segment_s"]
        v["seen.tail_rebuild_s"] = resumed["tail_s"]
        for m, (calls, secs, moved) in self.store_stats.items():
            v[f"tablestore.{m}.calls"] = calls
            v[f"tablestore.{m}.s"] = secs
            v[f"tablestore.{m}.bytes"] = moved
        v["tablestore.parts.frontier"] = round0["parts"][cr.FRONTIER]
        v["tablestore.parts.fetched"] = round0["parts"][cr.FETCHED]
        for name in ("bootstrap", "resume_round", "maintain"):
            v[f"session.{name}_s"] = session.steps[name].wall_s
        v["session.round_s"] = session.per_round("wall_s")
        v["session.urls_per_s"] = session.urls_per("wall_s")
        v["session.peak_rss_mb"] = peak_rss_mb
        v["trace.round_s"] = step.wall_s
        v["trace.overhead_s"] = self.overhead_s
        return {k: {"value": v.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
