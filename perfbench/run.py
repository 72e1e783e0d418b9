"""Engine-round benchmark of the crawl frontier.

    python3 perfbench/run.py --workload steady_state --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout and touches nothing outside it:
fixtures, the crawl store, Spark scratch and temp files all live under
``.perfbench/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``END_TO_END``); with ``--trace 1`` they
are the per-layer ones (``layers.PER_LAYER``) from a traced session.

One run: build or load the (workload, seed) fixture, start the session,
then run whole crawl sessions (``workloads.run_session``) on a fresh store
until ``--seconds`` have passed, checking every session against the oracle
digests. See perfbench/README.md for what each metric means and which layer
should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Times are CPU seconds of the process tree (this process, its JVM, the
# JVM's Python daemon and workers): they do not count the time other
# tenants of a shared host take the CPUs away, which moved the wall times
# of identical runs by 19-35% (IQR/median). Wall times are logged on
# stderr and reported by the traced run (``session.round_s``,
# ``session.urls_per_s``), ungated.
END_TO_END = {
    "round_cpu_s": "s",
    "urls_per_cpu_s": "1/s",
    "session_cpu_s": "s",
    "shuffle_bytes_per_round": "bytes",
    "write_bytes_per_round": "bytes",
    "setup_s": "s",
}
DRIVER_MEMORY = "2g"
# C1 only: a run's JVM lives about a minute, too short for C2 to pay back
# its compile threads. On a 4-core host they took 40% of a session's CPU
# (147 s with C2, 87 s without) and a fifth of a run's wall time, work that
# says nothing about the engine.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into the checkout, and let workers import the engine."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _start_spark(work: str):
    from pyspark.sql import functions as F

    from delphi_crawler_spark.functions.canonicalize import canonicalize_url
    from delphi_crawler_spark.session import get_spark

    cores = os.cpu_count() or 1
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JIT_OPTIONS}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # one Arrow UDF task per core: spawns the Python worker pool and
    # imports the engine's UDF modules in each worker
    spark.range(0, 8 * cores, numPartitions=cores).select(
        canonicalize_url(F.format_string("https://h%d.example/x", "id"))
    ).collect()
    return spark, cores


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _end_to_end(sessions, setup_s: float) -> dict:
    med = statistics.median
    values = {
        "round_cpu_s": med(s.per_round("cpu_s") for s in sessions),
        "urls_per_cpu_s": med(s.urls_per("cpu_s") for s in sessions),
        "session_cpu_s": med(s.cpu_s for s in sessions),
        "shuffle_bytes_per_round": med(s.per_round("shuffle_bytes") for s in sessions),
        "write_bytes_per_round": med(s.per_round("write_bytes") for s in sessions),
        "setup_s": setup_s,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(ROOT, ".perfbench")
    _prepare_env(work)
    try:
        import delphi_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import fixtures
    from sparkstats import StageLedger, describe_tree, tree_cpu_s, tree_peak_rss_mb
    from workloads import WORKLOADS, engine_tables, load_inputs, oracle_mismatches, run_session

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t = time.perf_counter()
    fx = fixtures.load_or_build(os.path.join(work, "fixtures"), wl, args.seed)
    _log(f"fixture {time.perf_counter() - t:.1f} s")
    store_root = os.path.join(work, "store")

    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    spark, cores = _start_spark(work)
    tracer = None
    try:
        ledger = StageLedger(spark)
        shutil.rmtree(store_root, ignore_errors=True)
        inputs = load_inputs(spark, fx)
        setup_s = tree_cpu_s() - cpu0
        _log(f"set-up {time.perf_counter() - t0:.1f} s wall/{setup_s:.1f} s cpu; "
             f"counted {describe_tree()}")

        if args.trace:
            import layers

            tracer = layers.Tracer(spark, cores)
            tracer.install()
        sessions, attempted, failed, problems = [], 0, 0, []
        t_measure = time.perf_counter()
        while not sessions or time.perf_counter() - t_measure < args.seconds:
            shutil.rmtree(store_root, ignore_errors=True)
            if tracer is not None:
                tracer.reset_store(store_root)
            s = run_session(spark, wl, inputs, store_root, ledger,
                            tag=f"s{len(sessions)}", tracer=tracer)
            attempted += len(s.steps) + 1  # engine calls + the oracle check
            _log(", ".join(f"{k} {v.wall_s:.2f} s wall/{v.cpu_s:.2f} s cpu/"
                           f"{v.steal_s:.2f} s stolen/{v.jobs} jobs"
                           for k, v in s.steps.items())
                 + f"; session {s.wall_s:.2f} s wall/{s.cpu_s:.2f} s cpu; "
                 f"counted {describe_tree()}")
            if tracer is not None:
                tracer.uninstall()  # the check's reads are not part of a round
            bad = oracle_mismatches(engine_tables(s.engine), fx.digests)
            if bad:
                failed += 1
                problems.append(f"session {len(sessions)}: {', '.join(bad)} differ from the oracle")
            sessions.append(s)
            if tracer is not None:
                break  # one traced session is the per-layer sample
        if tracer is not None:
            metrics = tracer.metrics(sessions[0], tree_peak_rss_mb())
        else:
            metrics = _end_to_end(sessions, setup_s)
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop_spark(spark)
        shutil.rmtree(store_root, ignore_errors=True)

    for p in problems:
        _log(p)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
