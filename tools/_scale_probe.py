"""One scaling datapoint in a fresh JVM: `python tools/_scale_probe.py
<job> <cores> <n> <reps> [master]` → one JSON line
{job, cores, n, best_sec, per_sec}.

Jobs:
- minhash: MinHash signature computation over synthetic docs (CPU-dense
           Arrow-UDF stage — the compute-scaling probe)
- spin:    pure-python multiprocessing spin (host-capability control; no
           Spark at all — measures what the shared VM itself can scale)

The optional ``master`` arg (e.g. ``local-cluster[4,4,6144]``) runs the
probe on separate executor JVMs via SPARK_GRAFT_MASTER; ``cores`` stays the
TOTAL core count so shuffle-partition sizing and per_sec normalization are
identical across modes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spin(_):
    t0 = time.time()
    x = 0
    while time.time() - t0 < 3.0:
        x += 1
    return x


def run_spin(cores: int, n: int, reps: int) -> float:
    import multiprocessing as mp

    spin = _spin
    best = 0.0
    for _ in range(reps):
        with mp.Pool(cores) as p:
            total = sum(p.map(spin, range(cores)))
        best = max(best, total / 3.0)  # iterations/sec across the pool
    return best


def main() -> None:
    job, cores, n, reps = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    if len(sys.argv) > 5:
        os.environ["SPARK_GRAFT_MASTER"] = sys.argv[5]
    if job == "spin":
        rate = run_spin(cores, n, reps)
        print(json.dumps({"job": job, "cores": cores, "n": n,
                          "best_sec": None, "per_sec": rate}))
        return

    from pyspark.sql import functions as F

    import bench
    from delphi_crawler_spark.session import get_spark

    spark = get_spark(f"probe-{job}-{cores}", cores=cores)
    bench.CPUS = cores
    bench.FRONTIER_N = n
    bench.warmup(spark)

    if job == "minhash":
        from delphi_crawler_spark.operators.dedup_fuzzy import minhash_signatures

        # pre-materialized (persist + count BEFORE the timer): the probe
        # measures the Arrow-UDF operator, not the synthetic input
        # generation + repartition shuffle (which the r02 probe mistakenly
        # timed too — see BENCH.md "MinHash scaling probe, resolved")
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.array(*[
                    F.concat(F.lit("tok"), F.pmod(F.col("id") * F.lit(97 + i), F.lit(5000)))
                    for i in range(60)
                ]),
            ).alias("text"),
        ).repartition(cores * 2).persist()
        docs.count()

        def make():
            return minhash_signatures(docs, "text")
    else:
        raise SystemExit(f"unknown job {job}")

    best = None
    for _ in range(reps):
        t0 = time.time()
        bench.force(make())
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    spark.stop()
    print(json.dumps({"job": job, "cores": cores, "n": n,
                      "best_sec": round(best, 2), "per_sec": round(n / best, 1)}))


if __name__ == "__main__":
    main()
