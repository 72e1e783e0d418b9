"""The workloads and the crawl session each run drives.

Every workload runs the same session through the engine's public API, one
call at a time (a closed loop with one client):

    bootstrap(seeds) -> run_round(0)
      -> run_round(1), killed right after its FETCHED append
    fresh CrawlEngine (cold bloom cache) -> run_round(1) -> maintain()

The resumed round restores the store to the last checkpoint and rebuilds
the bloom tail (the blob is older than that checkpoint); ``maintain``
then flushes the blob, compacts and expires. So every end-to-end metric
exists on every workload, and the workloads differ only in their inputs
and the regime those put the engine in (see ``WORKLOADS``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from delphi_crawler_spark.plans.crawl_round import (
    FETCHED,
    CrawlConfig,
    CrawlEngine,
)

from fixtures import Fixture, pending_digest, schedule_digest, seen_digest
from sparkstats import StageLedger, dir_bytes, host_steal_s, tree_cpu_s


# rounds 0..KILLED_ROUND-1 run normally; round KILLED_ROUND is killed and resumed
KILLED_ROUND = 1
# the session's steps that commit a round
ROUND_STEPS = ("round0", "resume_round")


@dataclass(frozen=True)
class Workload:
    name: str
    n_seeds: int
    n_docs: int
    round_ms: int
    committed_rounds: int = KILLED_ROUND + 1


# Sizes fit a 4-core host's time budget: every engine call costs ~3-10 s
# of mostly fixed per-job overhead there, whatever the input size. Why each
# workload exists is in BENCHMARK.json; what it stresses in README.md.
WORKLOADS = {
    wl.name: wl
    for wl in (
        # pending >> admitted (~3k of ~35k), seen >> candidates; 2 s rounds,
        # not CrawlConfig's 10 s: a 10 s round would admit ~11k, a quarter
        # of this frontier, and a frontier ten times larger does not fit
        # the run's time budget
        Workload("steady_state", n_seeds=40_000, n_docs=20_000, round_ms=2_000),
        # every round admits the whole frontier
        Workload("young_crawl", n_seeds=4_000, n_docs=4_000, round_ms=600_000),
    )
}


class KillPoint(Exception):
    """Raised by the benchmark's own store hook to simulate a killed round."""


@dataclass
class Inputs:
    seeds: object
    docs: object
    robots: object
    politeness: object


def load_inputs(spark: SparkSession, fx: Fixture) -> Inputs:
    return Inputs(
        seeds=spark.read.parquet(fx.path("seeds")),
        docs=spark.read.parquet(fx.path("docs")),
        robots=spark.read.parquet(fx.path("dims/robots.parquet")),
        politeness=spark.read.parquet(fx.path("dims/politeness.parquet")),
    )


@dataclass
class Step:
    wall_s: float
    cpu_s: float
    jobs: int
    task_s: float
    shuffle_bytes: int
    write_bytes: int
    steal_s: float
    result: object = None


@dataclass
class Session:
    steps: dict[str, Step] = field(default_factory=dict)
    engine: CrawlEngine | None = None
    wall_s: float = 0.0
    cpu_s: float = 0.0

    def per_round(self, key: str) -> float:
        """Mean of a ``Step`` field over the rounds the session commits."""
        return sum(getattr(self.steps[r], key) for r in ROUND_STEPS) / len(ROUND_STEPS)

    def urls_per(self, key: str) -> float:
        """URLs those rounds handled (emitted + new links) per second of
        ``key`` (``wall_s`` or ``cpu_s``)."""
        steps = [self.steps[r] for r in ROUND_STEPS]
        urls = sum(st.result["emitted"] + st.result["new_links"] for st in steps)
        return urls / sum(getattr(st, key) for st in steps)


def _timed(ledger: StageLedger, store_root: str, group: str, fn) -> Step:
    before = dir_bytes(store_root)
    ledger.set_group(group)
    cpu, steal = tree_cpu_s(), host_steal_s()
    t = time.perf_counter()
    try:
        out = fn()
    finally:
        wall = time.perf_counter() - t
        cpu = tree_cpu_s() - cpu
        steal = host_steal_s() - steal
        ledger.clear_group()
    st = ledger.collect(group)
    return Step(wall, cpu, st.jobs, st.task_s, st.shuffle_write_bytes,
                dir_bytes(store_root) - before, steal, out)


def _kill_after_fetched_append(engine: CrawlEngine) -> None:
    real = engine.store.append

    def append_then_die(table, df, *args, **kwargs):
        out = real(table, df, *args, **kwargs)
        if table == FETCHED:
            raise KillPoint(f"killed after {FETCHED} append")
        return out

    engine.store.append = append_then_die


def run_session(
    spark: SparkSession, wl: Workload, inputs: Inputs, store_root: str,
    ledger: StageLedger, tag: str, tracer=None,
) -> Session:
    cfg = CrawlConfig(round_ms=wl.round_ms, n_docs=wl.n_docs)

    def engine() -> CrawlEngine:
        eng = CrawlEngine(spark, store_root, politeness=inputs.politeness,
                          robots=inputs.robots, config=cfg)
        if tracer is not None:
            tracer.attach(eng)
        return eng

    s = Session()
    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    first = engine()
    s.steps["bootstrap"] = _timed(ledger, store_root, f"{tag}-bootstrap",
                                  lambda: first.bootstrap(inputs.seeds))
    for rnd in range(KILLED_ROUND):
        s.steps[f"round{rnd}"] = _timed(ledger, store_root, f"{tag}-round{rnd}",
                                        lambda: first.run_round(rnd, docs=inputs.docs))
    _kill_after_fetched_append(first)
    try:
        first.run_round(KILLED_ROUND, docs=inputs.docs)
    except KillPoint:
        pass
    else:
        raise RuntimeError(f"round {KILLED_ROUND} finished without reaching its kill point")
    s.engine = engine()
    s.steps["resume_round"] = _timed(
        ledger, store_root, f"{tag}-resume",
        lambda: s.engine.run_round(KILLED_ROUND, docs=inputs.docs))
    if tracer is not None:
        tracer.replay_round()
    s.steps["maintain"] = _timed(ledger, store_root, f"{tag}-maintain", s.engine.maintain)
    s.wall_s = time.perf_counter() - t0
    s.cpu_s = tree_cpu_s() - cpu0
    return s


def engine_tables(engine: CrawlEngine) -> dict:
    """The committed schedule (in emission order), seen set and pending
    (url, priority, seq) rows, read through the engine's accessors."""
    pending = (
        engine.frontier_view()
        .filter(F.col("state") == "pending")
        .select("url", "priority", "seq")
        .collect()
    )
    return {
        "schedule": engine.schedule_rows(),
        "seen": engine.seen_set(),
        "pending": [tuple(r) for r in pending],
    }


def oracle_mismatches(tables: dict, expected: dict) -> list[str]:
    """Names of the tables whose digest differs from the oracle's."""
    got = {
        "schedule": schedule_digest(tables["schedule"]),
        "seen": seen_digest(tables["seen"]),
        "pending": pending_digest(tables["pending"]),
    }
    return [k for k, v in got.items() if v != expected[k]]
