"""Structured Streaming façade (reference parity: §2.8).

The reference is a continuous Akka stream with processing-time throttling
and no event-time (SURVEY.md §2.8); our engine's core is iterated batch
over snapshot tables (exact ordering + resume proofs live at round
boundaries). This module is the streaming face of the same operators:

- ``seed_stream``            file-source readStream over a drop directory of
                             seed-batch parquet files (the unbounded
                             identifier source, IndexProcessing.scala:45-48)
- ``schedule_stream``        foreachBatch driving the SAME canonicalize →
                             robots → dedup → politeness plan per micro-batch;
                             batch/stream parity is tested (the plan is
                             identical, only the driver loop differs)
- ``windowed_event_metrics`` event-time tumbling windows + watermark for the
                             metrics the north rule checkpoints per batch —
                             the late-data upgrade the reference lacks

Exactly-once: the file source tracks progress in the checkpoint dir;
foreachBatch writes through the snapshot store's idempotent keyed commits
keyed by (stream batch_id), so replays of a failed micro-batch converge —
the streaming twin of the round checkpoint (SURVEY.md §2.8).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

SEED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("discovery_ts", T.TimestampType()),
        T.StructField("seq", T.LongType(), False),
    ]
)


def seed_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """Unbounded seed source: each parquet file dropped into ``drop_dir`` is
    one discovery batch (S1's stream shape; order carried by ``seq``)."""
    return (
        spark.readStream.schema(SEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )


def schedule_batch(
    batch: DataFrame,
    politeness: DataFrame | None = None,
    robots: DataFrame | None = None,
    round_ms: int = 10_000,
) -> DataFrame:
    """One micro-batch through the scheduling core — the engine's own
    admission chain (``crawl_round.candidate_urls``, as ``bootstrap``
    runs it on seeds) then politeness slots and round admission (plan
    parity is what makes the streaming façade honest)."""
    from delphi_crawler_spark.functions.canonicalize import complete_url_keys
    from delphi_crawler_spark.operators.politeness import (
        admit_round,
        assign_emission_slots,
        emission_order,
    )
    from delphi_crawler_spark.plans.crawl_round import candidate_urls

    cand = complete_url_keys(candidate_urls(batch, robots, ["seq"]))
    slotted = assign_emission_slots(cand, politeness)
    return emission_order(admit_round(slotted, round_ms)).select(
        "emit_ms", "host", "priority", "discovery_ts", "seq", "url"
    )


def schedule_stream(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    politeness: DataFrame | None = None,
    robots: DataFrame | None = None,
    round_ms: int = 10_000,
    on_batch: Callable[[DataFrame, int], None] | None = None,
) -> StreamingQuery:
    """readStream → scheduling core → idempotent per-batch parquet commit.

    Each micro-batch lands in ``out_dir/batch_id=N`` (overwrite → replay-
    safe); the source checkpoint makes file admission exactly-once. Run with
    ``trigger(availableNow=True)`` semantics via ``.start()`` + await.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        sched = schedule_batch(batch, politeness, robots, round_ms)
        if on_batch is not None:
            on_batch(sched, batch_id)
        sched.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        seed_stream(spark, drop_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_metrics(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window metrics with late-data handling: counts +
    exact-decimal sums per (window, event_type); state for windows older
    than the watermark is dropped (bounded state at 100 TB/day volumes).
    Works identically on a batch or streaming ``events`` DataFrame —
    the batch twin is oracle-checked (q ``stream_tumbling_window``)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_event_metrics(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time SLIDING (hopping) window metrics — each event lands in
    window/slide overlapping windows (4 for 1h/15min), the standard
    smoothed-rate telemetry read (per-host fetch rate, error rate) a crawl
    dashboard reads. Same watermark state-eviction and exact-decimal sum
    discipline as ``windowed_event_metrics``; identical on batch and
    streaming inputs (parity-pinned), batch twin oracle-checked
    (q ``stream_sliding_window``). State is O(open windows × keys) —
    window/slide× the tumbling state, still watermark-bounded."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def session_metrics(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Event-time SESSION windows via Spark's native ``session_window``:
    dynamic-length windows that merge while consecutive events arrive within
    ``gap``, with watermarked state eviction so a perpetual stream holds
    only open sessions. ``session_window`` closes at ``last_ts + gap``
    exclusive (an event exactly ``gap`` later starts a new session). The
    same function runs on a batch frame; the parity test pins stream ==
    batch."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_close"),
            "n_events",
            "total_value",
        )
    )


def frontier_dedup_stream(
    urls: DataFrame,
    watermark: str = "1 hour",
    key: str = "url",
    ts_col: str = "discovery_ts",
) -> DataFrame:
    """Streaming first-occurrence URL dedup with BOUNDED state — the
    Structured Streaming twin of F1/F2 for a perpetual discovery stream:
    ``dropDuplicatesWithinWatermark`` keeps one state row per key and
    evicts it once the event-time watermark passes, so state is
    O(keys-per-horizon), never O(all URLs ever seen). Re-discoveries
    separated by more than the horizon re-emit by design — the durable
    forever-seen set stays the frontier table in the batch round loop,
    confirmed by the exact anti-join (operators/seen.py); this stage exists
    to keep intra-horizon
    duplicate floods (the common case: a URL re-linked thousands of times
    within minutes) from ever reaching it."""
    return urls.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def schedule_fetch_join(
    schedules: DataFrame,
    fetches: DataFrame,
    horizon: str = "5 minutes",
    watermark: str = "10 minutes",
    url_col: str = "url",
    sched_ts_col: str = "sched_ts",
    fetch_ts_col: str = "fetch_ts",
    status_col: str = "status",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream INNER join: correlate every fetch outcome
    with the schedule record that emitted it — same ``url``, fetch event
    time inside ``[sched_ts, sched_ts + horizon]``. This is the streaming
    completion of the S3 fetch path: the scheduler emits, the fetcher
    reports, and the correlated row (latency, status vs promised slot) is
    what feeds politeness auditing and the p7 backoff loop continuously.

    State discipline at 100 TB/day: BOTH sides carry a watermark and the
    join predicate carries a closed event-time range, so Spark evicts
    buffered rows from each side once the other side's watermark passes
    ``ts + horizon`` — steady state is O(in-flight fetch horizon), never
    O(stream history). The equi-key (`url`) keeps the join a hash
    exchange on both sides, identical to the batch plan shape.

    With ``how="left_outer"`` schedules with NO in-horizon outcome emit a
    null-status row once the fetch-side watermark passes their horizon —
    streaming TIMEOUT detection (a dropped fetch is itself a signal the
    backoff loop needs). The outer row is withheld until eviction time by
    construction, so emission lags one watermark — the price of exactness.

    Works identically on batch frames (a plain range join) — the parity
    test pins streaming == batch on the same input."""
    s = schedules.withWatermark(sched_ts_col, watermark).alias("s")
    f = fetches.withWatermark(fetch_ts_col, watermark).alias("f")
    cond = (
        (F.col(f"s.{url_col}") == F.col(f"f.{url_col}"))
        & (F.col(f"f.{fetch_ts_col}") >= F.col(f"s.{sched_ts_col}"))
        & (
            F.col(f"f.{fetch_ts_col}")
            <= F.col(f"s.{sched_ts_col}") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return s.join(f, cond, how).select(
        F.col(f"s.{url_col}").alias("url"),
        F.col(f"s.{sched_ts_col}").alias("sched_ts"),
        F.col(f"f.{fetch_ts_col}").alias("fetch_ts"),
        F.col(f"f.{status_col}").alias("status"),
        (
            F.unix_micros(F.col(f"f.{fetch_ts_col}").cast("timestamp_ltz"))
            - F.unix_micros(F.col(f"s.{sched_ts_col}").cast("timestamp_ltz"))
        ).alias("latency_us"),
    )
