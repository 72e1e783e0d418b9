"""delphi_crawler_spark — a PySpark-native crawl-frontier + fetch-scheduler
analytics engine.

Brand-new engine (NOT a port) with the query/data-processing capabilities of
delphi-hub/delphi-crawler (reference read-only at /root/reference; cited by
file:line in docstrings). The reference is an Akka actor/stream pipeline;
this engine re-expresses every one of its dataflow operators as idiomatic
Spark DataFrame plans (see SURVEY.md §2 for the operator-by-operator map):

- frontier source / dedup / existence anti-join  -> window dedup + hash-
  probed ``left_anti`` join               (reference MavenDiscoveryProcess)
- politeness throttle / priority / limit -> per-host window-rank token
  bucket, pure column math               (reference Configuration.scala:80)
- fetch + per-doc analysis               -> vectorized pandas/Arrow UDFs
  over interleaved text+media spans      (reference MavenDownloadActor,
                                          HermesActor)
- link extraction + first-match joins    -> explode + window-rank ordered
  joins                                  (reference CallGraphStream,
                                          MavenEdgeMappingActor)
- keyed upsert store + resume            -> snapshot-atomic MERGE INTO
  (Iceberg in production; a parquet snapshot store stands in locally, see
  ``storage.tablestore``)                (reference ElasticStoreQueries)

Everything here is public-knowledge PySpark: DataFrame/SQL + Catalyst,
Arrow-vectorized UDFs, zero per-row Python on hot paths.
"""

import os
import sys

__version__ = "0.1.0"

# PySpark's worker calls importlib.invalidate_caches() before every task
# (pyspark/worker_util.py, setup_spark_files). Up to CPython 3.12,
# zipimporter.invalidate_caches re-reads the archive's whole central
# directory (Lib/zipimport.py; 3.13 reads it lazily). A reused worker holds
# a dozen importers on pyspark.zip, the py4j zip and the spark-core jar, so
# that call costs ~0.2 s of CPU per Python task whatever its row count.
# Spark never rewrites those archives under a live worker, and a --py-files
# zip is a new path whose importer reads its directory when created, so in
# a reused worker (Spark sets SPARK_REUSE_WORKER only in its environment,
# never in the driver's) the re-read is skipped. A worker that has not
# imported this package yet pays the old cost.
if "SPARK_REUSE_WORKER" in os.environ and sys.version_info < (3, 13):
    import zipimport

    zipimport.zipimporter.invalidate_caches = lambda self: None
