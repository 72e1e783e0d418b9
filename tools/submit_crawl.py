"""Cluster entrypoint: run the crawl-round loop under ``spark-submit``.

The north-rule deployment surface (reference analogue: ``Crawler.scala``'s
main wiring the discovery process into the app lifecycle): package the
engine, submit it, point it at a seed list and a store root, and the job
bootstraps (or resumes — ``run_round`` is checkpoint-idempotent) and runs N
rounds, printing one JSON stats line per round.

    zip -r /tmp/delphi_crawler_spark.zip delphi_crawler_spark
    spark-submit --master <cluster> \
        --py-files /tmp/delphi_crawler_spark.zip \
        tools/submit_crawl.py \
        --store hdfs://.../crawl-store --seeds hdfs://.../seeds.parquet \
        --rounds 10 --compact-every 10

No master is forced here: ``getOrCreate()`` inherits whatever topology
spark-submit configured (local[*] in this sandbox, N or 4N executors on a
real cluster — the two-cluster-size scaling protocol in BENCH.md). Seeds
and docs accept either a parquet path or ``synthetic:N`` (the distributed
deterministic generator used by bench.py — no driver-side row lists), so
the same command smoke-tests locally and scales out unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _seeds(spark, spec: str):
    if spec.startswith("synthetic:"):
        import bench

        return bench.synth_frontier(spark, int(spec.split(":", 1)[1]))
    return spark.read.parquet(spec)


def _docs(spark, spec: str):
    if spec == "none":
        return None
    if spec.startswith("synthetic:"):
        from delphi_crawler_spark.datagen import docs_df

        return docs_df(spark, n=int(spec.split(":", 1)[1]))
    return spark.read.parquet(spec)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--store", required=True, help="table-store root (shared fs)")
    ap.add_argument("--seeds", default="synthetic:100000",
                    help="seed parquet path (url,priority,discovery_ts,seq) or synthetic:N")
    ap.add_argument("--docs", default="synthetic:5000",
                    help="fetched-doc parquet path (doc_id,spans), synthetic:N, or none")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--round-ms", type=int, default=10_000,
                    help="politeness budget window per round (P1)")
    ap.add_argument("--limit", type=int, default=0, help="P2 global limit, 0=unlimited")
    ap.add_argument("--compact-every", type=int, default=0,
                    help="run table maintenance every K rounds (0=off)")
    ap.add_argument("--no-politeness", action="store_true",
                    help="skip the synthetic per-host politeness table")
    ap.add_argument("--no-robots", action="store_true",
                    help="skip the synthetic robots rules table")
    return ap


def run_job(spark, args) -> list[dict]:
    """Bootstrap-or-resume, then run the round loop. Separated from main()
    so tests can drive it with an injected session."""
    from delphi_crawler_spark.datagen import politeness_df, robots_df
    from delphi_crawler_spark.plans.crawl_round import CrawlConfig, CrawlEngine

    eng = CrawlEngine(
        spark,
        args.store,
        politeness=None if args.no_politeness else politeness_df(spark),
        robots=None if args.no_robots else robots_df(spark),
        config=CrawlConfig(
            round_ms=args.round_ms,
            limit=args.limit,
            compact_every=args.compact_every,
        ),
    )
    eng.bootstrap(_seeds(spark, args.seeds))
    return eng.run(args.rounds, docs=_docs(spark, args.docs))


def main() -> None:
    args = build_parser().parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("delphi-crawler-spark").getOrCreate()
    if "spark.sql.shuffle.partitions" not in dict(spark.sparkContext.getConf().getAll()):
        spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism)
    for stats in run_job(spark, args):
        print(json.dumps(stats, default=str), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
