"""The spark-submit entrypoint (tools/submit_crawl.py): arg surface, a
tiny end-to-end job, and checkpoint-resume through the same CLI path."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import submit_crawl


def _args(store, extra=()):
    return submit_crawl.build_parser().parse_args(
        ["--store", store, "--seeds", "synthetic:3000", "--docs", "synthetic:400",
         "--rounds", "2", *extra]
    )


def test_submit_job_runs_rounds_and_resumes(spark, tmp_path):
    store = str(tmp_path / "store")
    out = submit_crawl.run_job(spark, _args(store))
    assert [r["round"] for r in out] == [0, 1]
    assert all(not r.get("skipped") for r in out)
    assert out[0]["emitted"] > 0
    assert out[1]["emitted_total"] == out[0]["emitted"] + out[1]["emitted"]

    # resubmitting the same command resumes from the checkpoint: both
    # rounds are recognized as committed and skipped, store untouched
    again = submit_crawl.run_job(spark, _args(store))
    assert [(r["round"], r.get("skipped")) for r in again] == [(0, True), (1, True)]

    # extending --rounds continues from where the job stopped
    more = submit_crawl.run_job(spark, _args(store, extra=["--rounds", "3"]))
    assert more[2].get("skipped") is None
    assert more[2]["round"] == 2


def test_submit_parser_defaults_are_cluster_safe():
    ap = submit_crawl.build_parser()
    args = ap.parse_args(["--store", "/x"])
    # defaults must never force a master or a local path convention
    assert args.rounds == 5
    assert args.limit == 0
