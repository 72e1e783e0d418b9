"""Politeness throttle, priority, ordering, limit (reference parity:
P1/P2/P3/P6).

The reference shapes the identifier stream with a token bucket —
``throttle(5 elements / 1 second, maxBurst 5, ThrottleMode.shaping)``
(Configuration.scala:80,101, applied MavenDiscoveryProcess.scala:77) — and
optionally caps it with ``take(limit)`` (MavenDiscoveryProcess.scala:80-82).
Emission order is the index FIFO order after filtering (P3).

Spark-first realization — **pure column math, zero UDFs**:

- rank every candidate within its host by the scheduling order
  ``(priority DESC, discovery_ts ASC, seq ASC)`` (the north rule's host-level
  max-heap P6; with all priorities equal this reduces exactly to the
  reference's FIFO P3);
- a token bucket with rate ρ and burst b emits element k (1-based) at
  ``t=0`` for k ≤ b and ``t=(k-b)/ρ`` after — deterministic replay of
  Akka's shaping mode.  We materialize that as an integer millisecond slot
  ``emit_ms = ceil((k-b)*1000/ρ)`` so ordering keys are exact (no float
  compare ambiguity between engine and oracle);
- per-round admission: only ranks with ``emit_ms < round_ms`` are scheduled
  this round; the remainder stays ``pending`` in the frontier — the
  load-shedding analogue of the reference's 5000-element dropNew buffer
  (CallGraphStream.scala:122) except nothing is lost (recorded in metrics).

Scale note: the window shuffles by host.  Hot hosts skew this exchange, so
callers repartition by a salted key first (``salting.salted_repartition``)
for any *per-row compute* stage; the window itself is cheap (rank only) and
AQE skew-split handles the join side.  Emission ordering stays exact
because the final ``orderBy`` is on explicit total keys with the ``seq``
tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_RATE = 5.0  # reference Configuration.scala:80 — 5 elements / second
DEFAULT_BURST = 5  # reference maxBurst 5


def schedule_order_cols() -> list:
    """The total scheduling order within a host (P6 ⊇ P3)."""
    return [F.col("priority").desc(), F.col("discovery_ts").asc(), F.col("seq").asc()]


def assign_emission_slots(
    candidates: DataFrame,
    politeness: DataFrame | None = None,
    default_rate: float = DEFAULT_RATE,
    default_burst: int = DEFAULT_BURST,
) -> DataFrame:
    """Attach ``host_rank`` (1-based position in the host's queue) and
    ``emit_ms`` (token-bucket emission time in ms from round start).

    ``politeness`` is a small dim table (host, rate_per_sec, max_burst) —
    broadcast-joined (reference's single global constant generalized to
    per-host budgets).
    """
    if politeness is not None:
        candidates = candidates.join(
            F.broadcast(politeness.select("host", "rate_per_sec", "max_burst")),
            "host",
            "left",
        )
    else:
        candidates = candidates.withColumn("rate_per_sec", F.lit(None).cast("double")) \
            .withColumn("max_burst", F.lit(None).cast("int"))
    candidates = candidates.withColumn(
        "rate_per_sec", F.coalesce("rate_per_sec", F.lit(default_rate))
    ).withColumn("max_burst", F.coalesce("max_burst", F.lit(default_burst)))

    w = Window.partitionBy("host").orderBy(*schedule_order_cols())
    ranked = candidates.withColumn("host_rank", F.row_number().over(w))
    return ranked.withColumn(
        "emit_ms",
        F.when(F.col("host_rank") <= F.col("max_burst"), F.lit(0).cast("long")).otherwise(
            F.ceil(
                (F.col("host_rank") - F.col("max_burst")).cast("double")
                * 1000.0
                / F.col("rate_per_sec")
            ).cast("long")
        ),
    )


def prune_pending_topk(
    pending: DataFrame,
    politeness: DataFrame | None,
    round_ms: int,
    default_rate: float = DEFAULT_RATE,
    default_burst: int = DEFAULT_BURST,
) -> DataFrame:
    """Partition-local per-host top-cap prune of the pending set BEFORE the
    global emission window — the step that keeps per-round scheduling cost
    O(admittable), not O(pending).

    ``assign_emission_slots`` window-ranks every pending row by host: an
    exchange of the FULL pending set each round (20M rows to admit ~10k at
    the sf1 soak's scale; 10^10 rows at the north rule's frontier — fatal).
    But a host can admit at most ``cap = burst + ceil(rate*round_ms/1000)``
    rows this round (every later rank gets ``emit_ms >= round_ms`` and is
    dropped by ``admit_round``), and per-host top-cap is closed under
    local-then-global selection: any row in the host's global top-cap is in
    its partition's local top-cap, and pruning only lower-ranked rows never
    changes a survivor's rank. So one NARROW Arrow pass keeps each
    partition's per-host top-cap (+1 rank margin for the ceil boundary) and
    only the survivors — O(partitions x hosts_per_partition x cap), with
    host-bucketed frontier parts a small multiple of the admitted set —
    reach the exchange. Emitted schedule is byte-identical (pinned by the
    crawl-round oracle equality tests and a dedicated property test).

    Measured trade (BENCH.md round-4): on local[32] the unpruned window
    WINS wall time (0.95 s vs 1.48 s at 2M pending, 1.87 vs 2.95 at 8M) —
    a single-JVM exchange is a memory copy, while the Arrow pass prices
    every row. The prune is the CLUSTER-scale shape: it cuts exchange
    volume ~9x here and to O(admittable) in general, which is network
    bytes + executor sort memory on a real deployment, and is what makes a
    10^10-row pending set schedulable at all (an unpruned window must
    globally sort the whole frontier every round). Two prerequisites to
    bite: hosts must be partition-clustered (the frontier store's
    host-bucket layout provides this; over round-robin input the local
    top-cap keeps everything) and pending-per-host must exceed the cap.
    The crawl engine always prunes: the single-JVM wall-time loss is the
    price of a per-round cost bounded by the admitted set, not the frontier.
    """
    import pandas as pd

    if politeness is not None:
        joined = pending.join(
            F.broadcast(politeness.select("host", "rate_per_sec", "max_burst")),
            "host",
            "left",
        )
    else:
        joined = pending.withColumn(
            "rate_per_sec", F.lit(None).cast("double")
        ).withColumn("max_burst", F.lit(None).cast("int"))
    capped = joined.withColumn(
        "__cap",
        (
            F.coalesce("max_burst", F.lit(default_burst))
            + F.ceil(
                F.coalesce("rate_per_sec", F.lit(default_rate))
                * F.lit(round_ms)
                / 1000.0
            )
            + F.lit(1)
        ).cast("long"),
    ).drop("rate_per_sec", "max_burst")

    from pyspark.sql.types import StructType

    out_fields = [f for f in capped.schema.fields if f.name != "__cap"]
    out_schema = StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def _local_topk(batches):
        cur = None
        for pdf in batches:
            both = pd.concat([cur, pdf], ignore_index=True) if cur is not None else pdf
            # the scheduling order within a host (P6 ⊇ P3), then bounded
            # survivors per host — stable mergesort keeps the order total
            both = both.sort_values(
                ["host", "priority", "discovery_ts", "seq"],
                ascending=[True, False, True, True],
                kind="mergesort",
                ignore_index=True,
            )
            keep = both.groupby("host", sort=False).cumcount().to_numpy() < both[
                "__cap"
            ].to_numpy()
            cur = both.loc[keep]
        if cur is not None and len(cur):
            yield cur[out_cols]

    return capped.mapInPandas(_local_topk, schema=out_schema)


def admit_round(slotted: DataFrame, round_ms: int) -> DataFrame:
    """Per-round budget admission (P1 + S9): schedule rows whose bucket slot
    falls inside this round; the rest remain pending for the next round."""
    return slotted.filter(F.col("emit_ms") < F.lit(round_ms))


def emission_order(df: DataFrame) -> DataFrame:
    """The exact global fetch ordering (P3 + P6): by emission slot, then the
    scheduling order, with ``seq`` making it a total order — byte-identical
    run-to-run and across parallelism levels."""
    return df.orderBy(
        F.col("emit_ms").asc(),
        F.col("priority").desc(),
        F.col("discovery_ts").asc(),
        F.col("seq").asc(),
    )


def global_limit(df: DataFrame, n: int) -> DataFrame:
    """P2 ``take(limit)`` — TopK via sort+limit (Spark runs TakeOrdered:
    per-partition top-n, then a single merge on the driver — no full sort)."""
    if n and n > 0:
        return emission_order(df).limit(n)
    return df


def host_backoff_schedule(
    metrics: DataFrame,
    host_col: str = "host",
    round_col: str = "round",
    ok_col: str = "n_ok",
    min_backoff_s: int = 30,
    max_backoff_s: int = 90,
    max_restarts: int = 20,
    jitter_factor: float = 0.0,
) -> DataFrame:
    """Host-level restart-with-backoff (S2 parity at host granularity):
    from per-(host, round) fetch metrics, derive each host's trailing
    failed-round streak and the exponential backoff the next round must
    respect — ``RestartSource.withBackoff(30s, 90s, 0.2, maxRestarts=20)``
    (reference IndexProcessing.scala:36-41) re-expressed as a crawl-frontier
    policy: a host that keeps failing waits ``min(max, min·2^(streak-1))``
    seconds and is retired after ``max_restarts`` consecutive failed rounds.

    One partial-aggregating hash-agg on host — the streak needs only
    (latest round, latest succeeding round, earliest round), all plain
    min/max aggregates; no window, no per-row state. Optional deterministic
    jitter (the reference's randomFactor, made replayable): a [0, factor)
    fraction of the backoff derived from md5(host) — portable column math,
    identical run-to-run and engine-to-engine."""
    agg = metrics.groupBy(host_col).agg(
        F.max(round_col).alias("__last"),
        F.min(round_col).alias("__first"),
        F.max(F.when(F.col(ok_col) > 0, F.col(round_col))).alias("__last_ok"),
    )
    streak = F.col("__last") - F.coalesce(F.col("__last_ok"), F.col("__first") - 1)
    base = F.least(
        F.lit(max_backoff_s).cast("double"),
        min_backoff_s * F.pow(F.lit(2.0), streak - 1),
    )
    jitter = (
        F.conv(F.substring(F.md5(F.col(host_col).cast("string")), 1, 4), 16, 10).cast("long")
        / F.lit(65536.0)
        * jitter_factor
        * base
    )
    backoff = F.when(streak <= 0, F.lit(0.0)).otherwise(F.round(base + jitter, 3))
    return agg.select(
        host_col,
        streak.cast("long").alias("fail_streak"),
        backoff.alias("backoff_s"),
        (streak > max_restarts).alias("retired"),
    )


def apportion_budget(
    hosts: DataFrame,
    budget: int,
    score_col: str = "score",
    key: str = "host",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer crawl
    budget across hosts, proportional to ``score_col`` — the standard way a
    frontier splits a global per-round fetch budget into per-host quotas
    (the per-host analogue of P2's global limit; reference's global cap is
    Defaults.scala's maxBatch). Output: ``(key, score, quota)`` with
    ``sum(quota) == budget`` exactly.

    quota_i = floor(budget * s_i / S) + 1 for the ``budget - sum(floors)``
    largest fractional remainders (ties broken by key asc — deterministic).

    Scale shape: two scalar one-row aggregates (total score, floor sum)
    broadcast via crossJoin — no driver collect of host rows; the remainder
    rank uses ``attach_global_seq`` (range-partition + partition-local sort
    + offset add), NOT a partitionless window, so no single-task funnel and
    the result is parallelism-invariant. Hosts with null/non-positive
    scores get quota 0 and are excluded from the proportional pool.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    from delphi_crawler_spark.operators.ordering import attach_global_seq

    s = F.col(score_col).cast("double")
    pool = hosts.where(s.isNotNull() & (s > 0)).select(
        F.col(key).alias(key), s.alias("_s")
    )
    zeros = hosts.where(s.isNull() | (s <= 0)).select(
        F.col(key).alias(key),
        F.col(score_col).cast("double").alias("score"),
        F.lit(0).cast("bigint").alias("quota"),
    )
    total = pool.agg(F.sum("_s").alias("_total"))
    shared = pool.crossJoin(F.broadcast(total)).select(
        key,
        "_s",
        ((F.lit(float(budget)) * F.col("_s")) / F.col("_total")).alias("_share"),
    )
    floored = shared.select(
        key,
        "_s",
        F.floor("_share").cast("bigint").alias("_floor"),
        (F.col("_share") - F.floor("_share")).alias("_rem"),
        # descending remainder via negation: attach_global_seq sorts asc
        (-(F.col("_share") - F.floor("_share"))).alias("_negrem"),
    )
    fsum = floored.agg(F.sum("_floor").alias("_fsum"))
    ranked, release = attach_global_seq(
        floored, order=["_negrem", key], seq_col="_rank"
    )
    out = (
        ranked.crossJoin(F.broadcast(fsum))
        .select(
            key,
            F.col("_s").alias("score"),
            (
                F.col("_floor")
                + F.when(
                    F.col("_rank") <= (F.lit(int(budget)) - F.col("_fsum")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("quota"),
        )
        .unionByName(zeros)
    )
    out._release_apportion = release  # type: ignore[attr-defined]
    return out


def adaptive_host_delay(
    fetches: DataFrame,
    host_col: str = "host",
    latency_col: str = "latency_ms",
    delay_factor: float = 2.0,
    min_delay_ms: float = 500.0,
    max_delay_ms: float = 15000.0,
    q: float = 0.95,
) -> DataFrame:
    """Adaptive per-host politeness from OBSERVED fetch latency — the
    public Heritrix crawl-delay rule (``delayFactor`` × fetch duration,
    clamped to [min, max]) applied to a latency percentile instead of the
    last sample, so one slow outlier can't freeze a host and one fast
    response can't unleash a hammering burst. A host serving p95=4 s pages
    gets an 8 s delay (0.125 req/s); a fast static host clamps at the
    500 ms floor (2 req/s). The resulting ``rate_per_sec`` feeds
    ``assign_emission_slots`` as the per-host token rate.

    Returns (host, p_latency_ms, delay_ms, rate_per_sec, n) — one row per
    host with at least one non-null latency.

    Scale shape: reuses ``exact_quantiles_keyed`` (one hash-partitioned
    window per host — scales with host COUNT, no driver state, no global
    sort); the clamp/rate arithmetic is a pure JVM projection. One shuffle
    total.

    Reference parity: the reference fetches maven artifacts with a fixed
    throttle (SURVEY §2.4 P1); latency-adaptive delay is the web-tier
    politeness extension every production crawler ships.
    """
    from delphi_crawler_spark.operators.quantiles import exact_quantiles_keyed

    lat = fetches.select(
        F.col(host_col).alias("host"),
        F.col(latency_col).alias("_lat"),
    )
    p = exact_quantiles_keyed(lat, "_lat", [q], by="host")
    delay = F.least(
        F.lit(float(max_delay_ms)),
        F.greatest(F.lit(float(min_delay_ms)), F.col("value") * F.lit(float(delay_factor))),
    )
    return p.select(
        "host",
        F.col("value").alias("p_latency_ms"),
        delay.alias("delay_ms"),
        (F.lit(1000.0) / delay).alias("rate_per_sec"),
        "n",
    )


def ip_queue_slots(
    candidates: DataFrame,
    host_ip: DataFrame,
    politeness: DataFrame | None = None,
    default_rate: float = DEFAULT_RATE,
    default_burst: int = DEFAULT_BURST,
) -> DataFrame:
    """Queue-by-IP politeness: co-hosted vhosts share ONE token bucket.

    Hostname-grained politeness under-throttles shared infrastructure — a
    thousand vhosts on one server each get their own budget and the box
    gets hammered at 1000x the intended rate. The public countermeasure
    (Heritrix ``IPQueueAssignmentPolicy``, Nutch ``partition.url.mode=
    byIP``) keys the work queue by resolved IP instead of hostname.

    Semantics: ``queue_key = ip`` when the host resolves (``host_ip`` dim:
    host → ip), else the host itself (unresolved hosts degrade to
    host-grained politeness, never to unthrottled). The shared budget is
    the MOST CONSERVATIVE of the member hosts' budgets — min rate, min
    burst — so folding queues can only slow a queue down, never speed it
    up past any member's declared limit. Within a queue the scheduling
    order is the same host-level total order (priority DESC, discovery_ts,
    seq), so two URLs of one host keep their relative order when their
    queues merge (FIFO-per-host is preserved inside FIFO-per-IP).

    Output: candidates + ``queue_key``, ``n_cohosts`` (hosts sharing the
    queue), ``queue_rank`` (1-based position in the merged queue) and
    ``emit_ms`` (token-bucket slot at the queue grain).

    Scale shape: the host→ip dim is hosts-sized (broadcast); the budget
    fold is one tiny hash-agg on ip; the only frontier-sized exchange is
    the window on queue_key — same single shuffle as
    ``assign_emission_slots``, just a coarser key. Queue-by-IP
    concentrates skew (one hot IP = many hot hosts), which is exactly when
    shared-budget correctness matters most; ``prune_pending_topk`` composes
    upstream unchanged because per-host top-cap is a superset of any
    merged-queue top-cap.

    Reference parity: the reference throttles one upstream (Maven Central,
    Configuration.scala:80) and never needs multi-host queue assignment;
    this is the web-tier generalization of P1 (SURVEY §2.4/§2.10).
    """
    dim = host_ip.select("host", "ip")
    if politeness is not None:
        budgets = dim.join(
            politeness.select("host", "rate_per_sec", "max_burst"), "host", "left"
        )
    else:
        budgets = dim.withColumn(
            "rate_per_sec", F.lit(None).cast("double")
        ).withColumn("max_burst", F.lit(None).cast("int"))
    budgets = budgets.select(
        "host",
        "ip",
        F.coalesce("rate_per_sec", F.lit(default_rate)).alias("rate_per_sec"),
        F.coalesce("max_burst", F.lit(default_burst)).alias("max_burst"),
    )
    per_ip = budgets.groupBy("ip").agg(
        F.min("rate_per_sec").alias("rate_per_sec"),
        F.min("max_burst").alias("max_burst"),
        F.count_distinct(F.col("host")).alias("n_cohosts"),
    )
    keyed = (
        candidates.join(F.broadcast(budgets.select("host", "ip")), "host", "left")
        .withColumn("queue_key", F.coalesce("ip", F.col("host")))
        .drop("ip")
        .join(
            F.broadcast(per_ip.withColumnRenamed("ip", "queue_key")),
            "queue_key",
            "left",
        )
        .withColumn("rate_per_sec", F.coalesce("rate_per_sec", F.lit(default_rate)))
        .withColumn("max_burst", F.coalesce("max_burst", F.lit(default_burst)))
        .withColumn("n_cohosts", F.coalesce("n_cohosts", F.lit(1)).cast("bigint"))
    )
    w = Window.partitionBy("queue_key").orderBy(*schedule_order_cols())
    ranked = keyed.withColumn("queue_rank", F.row_number().over(w))
    return ranked.withColumn(
        "emit_ms",
        F.when(
            F.col("queue_rank") <= F.col("max_burst"), F.lit(0).cast("long")
        ).otherwise(
            F.ceil(
                (F.col("queue_rank") - F.col("max_burst")).cast("double")
                * 1000.0
                / F.col("rate_per_sec")
            ).cast("long")
        ),
    ).drop("rate_per_sec", "max_burst")


def rate_compliance_audit(
    fetch_log: DataFrame,
    window_ms: int,
    max_per_window: int,
    host_col: str = "host",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Post-hoc politeness audit: did the EMITTED fetch stream actually
    respect "at most k requests per host in any sliding w-ms window"?
    The scheduler promises it (token bucket); production crawlers verify
    it from the fetch log, because retries, redirects and clock skew all
    inject fetches the scheduler never slotted.

    Per fetch, the in-window load is the count of same-host fetches in
    ``(ts - window_ms, ts]`` — a RANGE frame (not ROWS: simultaneous
    fetches at one timestamp must all count each other). Output per host:
    ``n_fetches``, ``max_in_window`` (the worst observed burst) and
    ``n_violations`` (fetches whose window exceeded the budget) — zero
    violations is the compliance certificate.

    Scale shape: one hash exchange on host, per-host sort shared by the
    RANGE window and the final agg (the agg re-groups the already
    host-clustered stream, partial-aggregating). Pure JVM.

    Reference parity: the reference trusts its Akka throttle end-to-end;
    an audited politeness trail is the web-tier operational requirement
    (SURVEY §2.10), dual of ``assign_emission_slots``.
    """
    w = (
        Window.partitionBy(F.col(host_col))
        .orderBy(F.col(ts_col).cast("long"))
        .rangeBetween(-(int(window_ms) - 1), 0)
    )
    loaded = fetch_log.select(
        F.col(host_col).alias("host"), F.col(ts_col).cast("long").alias("ts_ms")
    ).withColumn("in_window", F.count(F.lit(1)).over(w))
    return loaded.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.max("in_window").cast("bigint").alias("max_in_window"),
        F.sum(
            F.when(F.col("in_window") > F.lit(int(max_per_window)), 1).otherwise(0)
        ).cast("bigint").alias("n_violations"),
    )


def retry_after_schedule(
    results: DataFrame,
    now_ms: int,
    host_col: str = "host",
    ts_col: str = "ts_ms",
    status_col: str = "status",
    retry_after_col: str = "retry_after_s",
) -> DataFrame:
    """Server-directed host gating from ``Retry-After`` (RFC 9110 §10.2.3):
    a 429/503 carrying the header is an explicit contract — do not contact
    this host before ts + retry_after. The host's next eligible time is
    the MAX such deadline over all its throttle signals (later promises
    supersede earlier ones regardless of log order), and a host with no
    signal is eligible immediately.

    Output per host: ``n_throttle_signals``, ``next_eligible_ms`` (0 when
    never throttled) and ``eligible_now`` vs the supplied clock — the
    frontier left-joins this dim and defers ineligible hosts before
    emission slotting (it composes upstream of ``assign_emission_slots``
    exactly like the robots gate).

    Scale shape: one partial-aggregating hash-agg on host over the
    signal-filtered log (the filter prunes the huge success majority
    before the exchange). Pure JVM.

    Reference parity: none in the reference (Maven Central never 429s it);
    this is the header-driven half of host backoff —
    ``host_backoff_schedule`` infers delays from failures, this one obeys
    delays the server stated.
    """
    sig = results.select(
        F.col(host_col).alias("host"),
        F.col(ts_col).cast("long").alias("ts_ms"),
        F.col(status_col).cast("int").alias("status"),
        F.col(retry_after_col).cast("long").alias("retry_after_s"),
    ).filter(
        F.col("status").isin(429, 503) & F.col("retry_after_s").isNotNull()
    )
    hosts = results.select(F.col(host_col).alias("host")).distinct()
    agg = sig.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_throttle_signals"),
        F.max(F.col("ts_ms") + F.col("retry_after_s") * 1000).alias(
            "next_eligible_ms"
        ),
    )
    return hosts.join(agg, "host", "left").select(
        "host",
        F.coalesce("n_throttle_signals", F.lit(0)).cast("bigint").alias(
            "n_throttle_signals"
        ),
        F.coalesce("next_eligible_ms", F.lit(0)).cast("bigint").alias(
            "next_eligible_ms"
        ),
        (F.coalesce("next_eligible_ms", F.lit(0)) <= F.lit(int(now_ms))).alias(
            "eligible_now"
        ),
    )


def age_boosted_priority(
    frontier: DataFrame,
    now_ms: int,
    aging_ms: int,
    max_boost: int = 3,
    ts_unit: str = "ms",
) -> DataFrame:
    """Starvation-free frontier priority: a pending URL gains +1 effective
    priority per ``aging_ms`` waited, capped at ``max_boost`` — the public
    frontier-aging rule (URLFrontier / Heritrix wait-cost policies) that
    guarantees every admitted URL is eventually scheduled even under a
    constant stream of higher-priority arrivals (bounded bypass: once at
    the cap, only same-or-higher base priorities can pass it).

    Adds ``age_boost``, ``eff_priority`` and re-ranks per host by
    (eff_priority DESC, discovery_ts ASC, seq ASC) into ``host_rank`` —
    the drop-in replacement for the static rank inside
    ``assign_emission_slots``.

    Scale shape: the boost is a pure JVM projection; the re-rank is the
    same single host-window exchange the static scheduler already pays.
    ``ts_unit='ms'`` treats discovery_ts as epoch-ms long; ``'ts'`` casts
    a timestamp column via unix_millis.
    """
    disc = (
        # NTZ parquet timestamps: LTZ cast under the engine's pinned UTC
        # session tz is value-preserving (same idiom as events.sessionize)
        F.unix_millis(F.col("discovery_ts").cast("timestamp_ltz"))
        if ts_unit == "ts"
        else F.col("discovery_ts").cast("long")
    )
    boost = F.least(
        F.floor((F.lit(int(now_ms)) - disc) / F.lit(int(aging_ms))).cast("int"),
        F.lit(int(max_boost)),
    )
    boosted = frontier.withColumn(
        "age_boost", F.greatest(boost, F.lit(0))
    ).withColumn("eff_priority", F.col("priority") + F.col("age_boost"))
    w = Window.partitionBy("host").orderBy(
        F.col("eff_priority").desc(), F.col("discovery_ts").asc(), F.col("seq").asc()
    )
    return boosted.withColumn("host_rank", F.row_number().over(w))


def wfq_order(
    frontier: DataFrame,
    weights: DataFrame,
    host_col: str = "host",
    seq_col: str = "seq",
    weight_col: str = "weight",
    cost_col: str | None = None,
) -> DataFrame:
    """Weighted fair queueing across hosts (start-time fair queueing for a
    batch arrival: Demers/Keshav/Shenker SIGCOMM'89, Goyal SIGCOMM'96):
    the k-th request of host h (in host-local ``seq`` order) gets virtual
    finish time ``F = C_k / w_h`` where ``C_k`` is the cumulative cost of
    h's first k requests (unit cost unless ``cost_col``) and ``w_h`` is
    h's weight. Emitting by ascending ``F`` interleaves hosts
    proportionally to their weights — the fairness guarantee a frontier
    needs so one high-priority megahost cannot monopolize fetch slots
    while (unlike a hard round-robin) still giving weighted preference.

    Complements the quota-based ``apportion_budget`` (how MANY per host
    per round) by fixing the ORDER within the round; with equal weights
    it degrades to exact round-robin, preserving per-host FIFO (P3).

    Hosts missing from ``weights`` (or with null/non-positive weight)
    default to weight 1.

    Scale shape: one host-partitioned window (cumulative cost), one join
    on host (AQE picks broadcast when the weight side is small), and the
    global emission rank via ``attach_global_seq`` — range partition +
    partition-local sort, NO partitionless window, parallelism-invariant
    because (vfinish, host, seq) is a total order. Returns the frame with
    ``weight``, ``vfinish`` (double) and ``emit_seq`` (1-based global
    rank); ``release()`` hook attached as ``_release_wfq``.
    """
    from delphi_crawler_spark.operators.ordering import attach_global_seq

    w = Window.partitionBy(host_col).orderBy(F.col(seq_col).asc())
    if cost_col is None:
        cum = F.row_number().over(w).cast("double")
    else:
        cum = (
            F.sum(F.col(cost_col).cast("double"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        )
    wt = F.col(weight_col).cast("double")
    safe_w = F.when(wt.isNotNull() & (wt > 0), wt).otherwise(F.lit(1.0))
    # one weight per host even if the weight table carries duplicates
    # (max wins, deterministic) — a duplicated dim row must never
    # multiply frontier rows.
    dim = weights.groupBy(host_col).agg(F.max(wt).alias(weight_col))
    joined = frontier.join(dim, host_col, "left").select(
        *[F.col(c) for c in frontier.columns],
        safe_w.alias("weight"),
    )
    vf = joined.withColumn("vfinish", cum / F.col("weight"))
    ranked, release = attach_global_seq(
        vf, order=["vfinish", host_col, seq_col], seq_col="emit_seq"
    )
    ranked._release_wfq = release  # type: ignore[attr-defined]
    return ranked


def error_burn_rate(
    fetches: DataFrame,
    slo_error_rate: float = 0.05,
    short_ms: int = 300_000,
    long_ms: int = 3_600_000,
    short_factor: float = 14.4,
    long_factor: float = 6.0,
    host_col: str = "host",
    ts_col: str = "ts_ms",
    ok_col: str = "ok",
) -> DataFrame:
    """Multiwindow error-budget burn-rate alerting over the fetch log
    (the SRE-workbook multiwindow/multi-burn-rate pattern applied to
    crawl health): per host and fetch, the error RATE over the trailing
    short and long windows, expressed as a multiple of the SLO rate
    ("burn"). An alert fires only when BOTH windows burn hot — the short
    window gives fast detection, the long window suppresses blips — and
    a firing host is what the scheduler backs off BEFORE politeness
    violations or bans materialize (complements the reactive
    ``retry_after_schedule`` / ``host_backoff_schedule``).

    Output: one row per fetch with short/long burn multiples (round 6)
    and ``alert``. RANGE frames (not ROWS) over the same (host, ts)
    exchange — both windows and the projection share one shuffle, the
    p22 audit's plan shape.
    """
    base = fetches.select(
        F.col(host_col).alias("host"),
        F.col(ts_col).cast("bigint").alias("ts_ms"),
        F.col(ok_col).cast("boolean").alias("ok"),
    )
    err = F.when(F.col("ok"), 0).otherwise(1)

    def burn(window_ms: int):
        w = (
            Window.partitionBy("host")
            .orderBy(F.col("ts_ms"))
            .rangeBetween(-int(window_ms) + 1, 0)
        )
        rate = F.sum(err).over(w) / F.count(F.lit(1)).over(w)
        return rate / F.lit(float(slo_error_rate))

    b_short = burn(short_ms)
    b_long = burn(long_ms)
    return base.select(
        "host",
        "ts_ms",
        "ok",
        F.round(b_short, 6).alias("burn_short"),
        F.round(b_long, 6).alias("burn_long"),
        ((b_short >= F.lit(float(short_factor))) & (b_long >= F.lit(float(long_factor)))).alias(
            "alert"
        ),
    )


def drain_eta(
    pending: DataFrame,
    delays: DataFrame,
    round_budget_s: float,
    host_col: str = "host",
    default_delay_s: float = 1.0,
) -> DataFrame:
    """Per-host frontier drain ETA under the politeness budget: with one
    connection per host and ``crawl_delay_s`` between fetches (RFC 9309
    crawl-delay / the token-bucket rate), a host's queue of n URLs takes
    ``n × delay`` seconds REGARDLESS of cluster size — politeness, not
    compute, is the binding constraint for deep hosts, and this is the
    planner that makes that visible before a round is scheduled.

    Returns per host: (host, n_pending, crawl_delay_s, drain_eta_s,
    fetchable_this_round = min(n, floor(budget/delay) + 1), carryover =
    n - fetchable, rounds_needed = ceil(n*delay / budget), overflows =
    rounds_needed > 1). The +1: the first fetch spends no delay — a
    budget of 10 s at delay 3 s fits fetches at t=0,3,6,9 = 4.

    Shape: one host hash-agg + one broadcastable delay join + JVM
    arithmetic; integer-exact until the final ETA doubles (rounded 6).
    """
    if round_budget_s <= 0:
        raise ValueError("drain_eta() needs round_budget_s > 0")
    p = pending.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pending")
    )
    d = delays.select(
        F.col(host_col).alias("host"),
        F.col("crawl_delay_s").cast("double").alias("crawl_delay_s"),
    )
    j = p.join(F.broadcast(d), "host", "left").select(
        "host",
        "n_pending",
        F.coalesce("crawl_delay_s", F.lit(float(default_delay_s))).alias(
            "crawl_delay_s"
        ),
    )
    n = F.col("n_pending").cast("double")
    delay = F.col("crawl_delay_s")
    cap = F.when(
        delay > 0,
        F.floor(F.lit(float(round_budget_s)) / delay).cast("bigint") + F.lit(1),
    ).otherwise(F.lit(None).cast("bigint"))
    fetchable = F.when(
        cap.isNotNull(), F.least(F.col("n_pending"), cap)
    ).otherwise(F.col("n_pending"))
    eta = F.round((n - F.lit(1.0)) * delay, 6)
    # integer-exact: per-round capacity is cap fetches, so rounds =
    # ceil(n / cap) -- no float epsilon games
    rounds = F.when(
        cap.isNotNull(),
        F.floor((F.col("n_pending") + cap - F.lit(1)) / cap).cast("bigint"),
    ).otherwise(F.lit(1).cast("bigint"))
    return j.select(
        "host",
        "n_pending",
        F.round(delay, 6).alias("crawl_delay_s"),
        eta.alias("drain_eta_s"),
        fetchable.cast("bigint").alias("fetchable_this_round"),
        (F.col("n_pending") - fetchable).cast("bigint").alias("carryover"),
        rounds.alias("rounds_needed"),
        (rounds > 1).alias("overflows"),
    )
