"""Streaming façade tests (§2.8): batch/stream plan parity, exactly-once
file admission, watermarked windows; plus the sources module."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delphi_crawler_spark.datagen import gen_seed_urls, politeness_df, robots_df, seed_urls_df
from delphi_crawler_spark.sources.scan import (
    attach_seq,
    parse_index_records,
    preflight,
    scan_parquet,
)
from delphi_crawler_spark.streaming.frontier_stream import (
    schedule_batch,
    schedule_stream,
    windowed_event_metrics,
)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_matches_batch(spark, tmp_path):
    """The streaming façade must emit exactly the batch engine's schedule:
    same operators, same ordering keys, per micro-batch."""
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)

    pdf = gen_seed_urls(n=3000)
    b1, b2 = pdf.iloc[:1500], pdf.iloc[1500:]
    pol, rob = politeness_df(spark), robots_df(spark)

    b1.to_parquet(f"{drop}/b1.parquet", coerce_timestamps="us")  # single files
    b2.to_parquet(f"{drop}/b2.parquet", coerce_timestamps="us")

    q = schedule_stream(spark, drop, out, ckpt, politeness=pol, robots=rob)
    q.awaitTermination(120)

    got = spark.read.option("basePath", out).parquet(out)
    cols = ["emit_ms", "host", "priority", "seq", "url"]

    # batch twin: same per-batch plan over the same two admission batches
    exp1 = schedule_batch(spark.createDataFrame(b1), pol, rob)
    exp2 = schedule_batch(spark.createDataFrame(b2), pol, rob)
    exp = _rows(exp1, cols) + _rows(exp2, cols)
    assert sorted(_rows(got, cols)) == sorted(exp)
    assert got.count() > 0


def test_schedule_batch_runs_the_engine_admission_chain(spark, monkeypatch):
    """schedule_batch admits through the engine's ``candidate_urls``: the
    F1 dedup input carries the scheduling hash only, so no host, host_rev
    or murmur3 url_hash rides through its exchange (as in bootstrap)."""
    import delphi_crawler_spark.plans.crawl_round as cr

    f1_inputs = []
    real = cr.first_occurrence_dedup

    def spy(df, **kwargs):
        f1_inputs.append(df.columns)
        return real(df, **kwargs)

    monkeypatch.setattr(cr, "first_occurrence_dedup", spy)
    sched = schedule_batch(seed_urls_df(spark, n=300), politeness_df(spark), robots_df(spark))
    assert len(f1_inputs) == 1 and "url_hash64" in f1_inputs[0]
    assert not {"host", "host_rev", "url_hash"} & set(f1_inputs[0])
    assert sched.count() > 0


def test_stream_resume_is_exactly_once(spark, tmp_path):
    """Restarting the stream with the same checkpoint must not re-emit
    processed files; a new file is picked up exactly once."""
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)
    pdf = gen_seed_urls(n=1200)
    pdf.iloc[:600].to_parquet(f"{drop}/b1.parquet", coerce_timestamps="us")
    q = schedule_stream(spark, drop, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    pdf.iloc[600:].to_parquet(f"{drop}/b2.parquet", coerce_timestamps="us")
    q2 = schedule_stream(spark, drop, out, ckpt)
    q2.awaitTermination(120)
    got = spark.read.option("basePath", out).parquet(out)
    n2 = got.count()
    assert n2 > n1
    # batch 1 rows appear exactly once (no re-emission on resume)
    b1_again = spark.read.parquet(f"{out}/batch_id=0")
    assert b1_again.count() == n1


def test_windowed_metrics_streaming_equals_batch(spark, tmp_path):
    """The watermarked windowed aggregation run as a real stream over the
    events table equals the batch run of the same function."""
    src = str(tmp_path / "events")
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.integers(0, 6 * 3600, 5000), unit="s"),
            "event_type": rng.choice(["a", "b", "c"], 5000),
            "value": rng.random(5000) * 10,
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    batch = windowed_event_metrics(spark.read.parquet(src))

    stream_in = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src)
    q = (
        windowed_event_metrics(stream_in)
        .writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM win_metrics")
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_sources_scan_parse_preflight(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    seed_urls_df(spark, n=500).write.parquet(p)
    df = scan_parquet(spark, p, columns=["url", "seq"], predicate=F.col("seq") < 100)
    assert df.columns == ["url", "seq"]
    assert df.count() == 100
    # pushdown reaches the scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and ("IsNotNull" in plan or "LessThan" in plan)

    seq = attach_seq(df.drop("seq"), order=["url"])
    assert seq.agg(F.max("seq")).collect()[0][0] == 100

    recs = spark.createDataFrame(
        [("a|b|c",), ("bad",), ("x|y|z|extra",)], ["u"]
    )
    parsed = parse_index_records(recs)
    got = sorted((r.grp, r.art, r.ver) for r in parsed.collect())
    assert got == [("a", "b", "c"), ("x", "y", "z")]

    preflight(spark, [p])
    with pytest.raises(Exception):
        preflight(spark, [str(tmp_path / "missing.parquet")])


def test_session_windows_streaming_equals_batch_and_sessionize(spark, tmp_path):
    """Native session_window as a real stream equals its batch run."""
    import numpy as np
    import pandas as pd

    from delphi_crawler_spark.streaming.frontier_stream import session_metrics

    src = str(tmp_path / "events")
    rng = np.random.default_rng(11)
    n = 4000
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.integers(0, 40, n),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 6 * 3600 * 1000, n), unit="ms"),
            "value": rng.random(n) * 10,
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    batch = session_metrics(spark.read.parquet(src))

    stream_in = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(src)
    q = (
        session_metrics(stream_in)
        .writeStream.format("memory")
        .queryName("sess_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sess_metrics")
    cols = ["user_id", "session_start", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_frontier_dedup_stream_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark emits each url once across
    micro-batches within the horizon, and matches batch dropDuplicates on
    the same input."""
    import pandas as pd

    from delphi_crawler_spark.streaming.frontier_stream import frontier_dedup_stream

    drop = str(tmp_path / "ddrop")
    os.makedirs(drop)
    base = pd.Timestamp("2026-01-01 00:00:00")
    b1 = pd.DataFrame(
        {"url": [f"https://h{i % 40}.example/p{i % 200}" for i in range(600)],
         "discovery_ts": [base + pd.Timedelta(seconds=i) for i in range(600)]}
    )
    b2 = pd.DataFrame(
        {"url": [f"https://h{i % 40}.example/p{i % 250}" for i in range(600)],
         "discovery_ts": [base + pd.Timedelta(seconds=600 + i) for i in range(600)]}
    )
    b1.to_parquet(f"{drop}/b1.parquet", coerce_timestamps="us")
    b2.to_parquet(f"{drop}/b2.parquet", coerce_timestamps="us")

    src = (
        spark.readStream.schema("url string, discovery_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        frontier_dedup_stream(src)
        .writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["url"] for r in spark.sql("select url from dedup_mem").collect())

    allb = pd.concat([b1, b2], ignore_index=True)
    exp = sorted(
        spark.createDataFrame(allb).dropDuplicates(["url"]).select("url").toPandas()["url"]
    )
    assert got == exp
    assert len(got) < len(allb)  # the input really contained duplicates


def test_sliding_window_stream_equals_batch(spark, tmp_path):
    """Sliding (hopping) windows: streaming output over a file source
    equals the batch plan over the same rows — every event lands in
    exactly window/slide (=4) overlapping windows."""
    import numpy as np
    import pandas as pd

    from delphi_crawler_spark.streaming.frontier_stream import sliding_event_metrics

    src = str(tmp_path / "slide_src")
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 6 * 3600, 4000), unit="s"),
            "event_type": rng.choice(["a", "b"], 4000),
            "value": rng.random(4000) * 10,
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    batch = sliding_event_metrics(spark.read.parquet(src))
    assert batch.agg(F.sum("n")).collect()[0][0] == 4 * 4000  # 4 windows/event

    stream_in = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src)
    q = (
        sliding_event_metrics(stream_in)
        .writeStream.format("memory")
        .queryName("slide_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM slide_metrics")
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """The watermarked stream-stream schedule↔fetch join (inner, event-time
    range) over file streams equals the batch range join of the same
    function on the same inputs — including fetches outside the horizon
    (dropped) and urls with several schedule records (each matches only its
    own in-horizon outcomes)."""
    import numpy as np
    import pandas as pd

    from delphi_crawler_spark.streaming.frontier_stream import schedule_fetch_join

    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-01-01")
    n = 800
    sched = pd.DataFrame(
        {
            "url": [f"u{i % 120}" for i in range(n)],
            "sched_ts": base + pd.to_timedelta(rng.integers(0, 3600, n), unit="s"),
        }
    )
    # ~2 outcomes per schedule: one inside the 5-min horizon, one far out
    fetch = pd.DataFrame(
        {
            "url": list(sched["url"]) * 2,
            "fetch_ts": list(
                sched["sched_ts"] + pd.to_timedelta(rng.integers(0, 300, n), unit="s")
            )
            + list(
                sched["sched_ts"] + pd.to_timedelta(rng.integers(600, 1200, n), unit="s")
            ),
            "status": list(rng.integers(200, 600, 2 * n)),
        }
    )
    sdir, fdir = str(tmp_path / "sched"), str(tmp_path / "fetch")
    spark.createDataFrame(sched).write.parquet(sdir)
    spark.createDataFrame(fetch).write.parquet(fdir)

    batch = schedule_fetch_join(
        spark.read.parquet(sdir), spark.read.parquet(fdir)
    )
    s_in = spark.readStream.schema("url string, sched_ts timestamp").parquet(sdir)
    f_in = spark.readStream.schema(
        "url string, fetch_ts timestamp, status long"
    ).parquet(fdir)
    q = (
        schedule_fetch_join(s_in, f_in)
        .writeStream.format("memory")
        .queryName("sf_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sf_join")
    cols = ["url", "sched_ts", "fetch_ts", "status", "latency_us"]
    assert sorted(_rows(got, cols)) == sorted(_rows(batch, cols))
    # the far-out outcomes were really dropped by the horizon
    assert batch.count() < 2 * n
    assert batch.where(F.col("latency_us") > 300 * 1_000_000).count() == 0


def test_stream_stream_left_outer_detects_timeouts(spark, tmp_path):
    """left_outer mode: schedules with no in-horizon outcome emit a
    null-status timeout row once the fetch-side watermark passes their
    horizon. Outer rows flush on a LATER micro-batch (eviction uses the
    previous trigger's watermark), so the fetch source is split into two
    files consumed one per trigger — the sentinel file advances the
    watermark past every horizon. Matches the batch left join."""
    import time as _time

    import pandas as pd

    from delphi_crawler_spark.streaming.frontier_stream import schedule_fetch_join

    base = pd.Timestamp("2024-01-01")
    # the global watermark is the MIN across sources, so the schedule
    # stream also carries a late sentinel to let it advance
    sched = pd.DataFrame(
        {
            "url": ["a", "b", "c", "zz-sched-sentinel"],
            "sched_ts": [
                base,
                base,
                base + pd.Timedelta(minutes=1),
                base + pd.Timedelta(hours=2),
            ],
        }
    )
    # a fetched in-horizon; b never fetched (timeout); c fetched late
    # (outside the 5-min horizon => also a timeout row)
    fetch1 = pd.DataFrame(
        {
            "url": ["a", "c"],
            "fetch_ts": [
                base + pd.Timedelta(minutes=2),
                base + pd.Timedelta(minutes=30),
            ],
            "status": [200, 200],
        }
    )
    sentinel = pd.DataFrame(
        {
            "url": ["zz-sentinel"],
            "fetch_ts": [base + pd.Timedelta(hours=2)],
            "status": [200],
        }
    )
    sdir, fdir = str(tmp_path / "s2"), str(tmp_path / "f2")
    spark.createDataFrame(sched).coalesce(1).write.parquet(sdir)
    spark.createDataFrame(fetch1).coalesce(1).write.parquet(fdir)
    _time.sleep(1.1)  # distinct mod-times => deterministic file order
    spark.createDataFrame(sentinel).coalesce(1).write.mode("append").parquet(fdir)

    s_in = spark.readStream.schema("url string, sched_ts timestamp").parquet(sdir)
    f_in = (
        spark.readStream.schema("url string, fetch_ts timestamp, status long")
        .option("maxFilesPerTrigger", 1)
        .parquet(fdir)
    )
    q = (
        schedule_fetch_join(s_in, f_in, watermark="1 minute", how="left_outer")
        .writeStream.format("memory")
        .queryName("sf_timeouts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["url"], r["status"]) for r in spark.sql("SELECT * FROM sf_timeouts").collect()
    }
    assert ("a", 200) in got          # matched in horizon
    assert ("b", None) in got         # never fetched -> timeout row
    assert ("c", None) in got         # fetched too late -> timeout row
    assert ("c", 200) not in got

    batch = schedule_fetch_join(
        spark.read.parquet(sdir), spark.read.parquet(fdir), how="left_outer"
    )
    batch_set = {(r["url"], r["status"]) for r in batch.collect()}
    # the sentinel's own horizon never closes before end-of-stream, so
    # streaming correctly withholds its outer row — the one tail-row
    # divergence exact watermark semantics require
    assert got == batch_set - {("zz-sched-sentinel", None)}


def test_watermark_audit_hand_case(spark):
    """One future-time spike drags the watermark forward and drops the
    old-window rows that arrive after it — counted exactly, including
    across the bucket boundary (prior-bucket prefix max path)."""
    import datetime

    from pyspark.sql import functions as F

    from delphi_crawler_spark.streaming.watermark import watermark_lateness_audit

    t0 = datetime.datetime(2026, 1, 1)
    mk = lambda s: t0 + datetime.timedelta(seconds=s)  # noqa: E731
    rows = [
        (1, mk(5), mk(0)),      # first row: no basis, never drops
        (2, mk(100), mk(1)),    # spike: basis for later rows = 100
        (3, mk(7), mk(2)),      # wm=90 > window_end(7)=10 -> dropped
        (4, mk(50), mk(4000)),  # next bucket: prior_max=100, wm=90 > 60 -> dropped
        (5, mk(95), mk(4001)),  # wm=90 <= window_end(95)=100 -> kept
    ]
    df = spark.createDataFrame(rows, ["event_id", "event_ts", "arrival_ts"])
    out = {
        r["window_start"]: r
        for r in watermark_lateness_audit(
            df, watermark_s=10, window_s=10, bucket_s=3600
        ).collect()
    }
    ep = int(t0.timestamp())
    w0 = out[(ep + 5) // 10 * 10]   # window holding ev=5 and ev=7
    assert w0["n_events"] == 2 and w0["n_dropped"] == 1
    assert w0["n_out_of_order"] == 1
    w5 = out[(ep + 50) // 10 * 10]
    assert w5["n_dropped"] == 1 and w5["n_out_of_order"] == 1
    w9 = out[(ep + 95) // 10 * 10]   # window [90,100) holds only ev=95
    assert w9["n_dropped"] == 0 and w9["n_events"] == 1
    assert w9["drop_ratio"] == 0.0
    w10 = out[(ep + 100) // 10 * 10]  # the spike's own window: kept
    assert w10["n_dropped"] == 0 and w10["n_out_of_order"] == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        watermark_lateness_audit(df, window_s=0)
