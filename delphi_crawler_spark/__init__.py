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

__version__ = "0.1.0"
