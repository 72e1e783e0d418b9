"""Canonicalizer microbench: ``canonicalize_url`` over the bench synth
frontier mix (~70% already-canonical — the steady-state shape; steady
frontier re-entries are ~100% canonical).

`python tools/_canon_probe.py <cores> <n> <reps>` → one JSON line.
Fresh process per invocation; run on a calm host (see BENCH_probes.md
protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    import bench
    from delphi_crawler_spark.functions.canonicalize import canonicalize_url
    from delphi_crawler_spark.session import get_spark

    spark = get_spark("canon-probe", cores=cores)
    bench.warmup(spark)
    raw = bench.synth_frontier(spark, n).select("url").persist()
    raw.count()

    times = []
    for _ in range(reps):
        t0 = time.time()
        raw.select(canonicalize_url("url").alias("c")).selectExpr(
            "count(c) as n", "sum(length(c)) as b").collect()
        times.append(round(time.time() - t0, 3))
    best = min(times)
    print(json.dumps({"cores": cores, "n": n, "best_sec": best, "reps": times,
                      "urls_per_sec": round(n / best, 1)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
