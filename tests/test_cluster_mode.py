"""Multi-executor topology (SPARK_GRAFT_MASTER=local-cluster[N,C,mem]):
separate executor JVMs — the sandbox's closest analogue of the north rule's
N vs 4N executor deployment (reference runs a single JVM; our engine must
not depend on that). Runs in a fresh subprocess because getOrCreate()
inside the test session would reuse the existing local[*] master."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, %(repo)r)
os.environ["SPARK_GRAFT_MASTER"] = "local-cluster[2,2,2048]"
os.environ["SPARK_EXECUTOR_MEM"] = "1g"
from pyspark.sql import functions as F
from delphi_crawler_spark.session import get_spark
from delphi_crawler_spark.functions.canonicalize import (
    canonicalize_url, host_col, host_rev_col, url_hash_col)

spark = get_spark("cluster-mode-test", cores=4)
urls = [
    "HTTP://Example.COM:80/a/../b/./c?x=1",   # dirty -> per-row slow path
    "https://example.com/clean/path",          # already canonical -> batch fast path
    "not a url",                               # malformed -> NULL (F5)
]
df = spark.createDataFrame([(u,) for u in urls], ["url"]).repartition(4)
out = (df.select(canonicalize_url("url").alias("canon"))
         .select("canon",
                 url_hash_col(F.col("canon")).alias("url_hash"),
                 host_rev_col(host_col(F.col("canon"))).alias("host_rev")))
rows = {r.canon: (r.url_hash, r.host_rev) for r in out.collect() if r.canon}
print("RESULT " + json.dumps({
    "master": spark.sparkContext.master,
    "rows": sorted(rows),
    "n_exec_jvm_ok": len(rows) == 2,
}))
spark.stop()
"""


def test_local_cluster_executors_run_the_hot_path(tmp_path):
    script = _SCRIPT % {"repo": REPO}
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=420, cwd=str(tmp_path),  # cwd outside repo: PYTHONPATH must carry
        env={**os.environ, "SPARK_GRAFT_SF_DIR": ""},
    )
    result = None
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    assert result is not None, out.stderr[-2000:]
    assert result["master"] == "local-cluster[2,2,2048]"
    # both the in-batch fast path and the per-row slow path produced
    # canonical rows on executor JVMs, and the malformed row was dropped
    # as NULL
    assert result["rows"] == [
        "http://example.com/b/c?x=1",
        "https://example.com/clean/path",
    ]
