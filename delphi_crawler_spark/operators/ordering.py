"""Distributed global sequence assignment (S1's monotonic ``seq`` at scale).

The engine's determinism discipline requires every emitted ordering to be a
total order keyed by an explicit monotonic ``seq`` (reference: the Maven
index position, IndexProcessing.scala:45-48). Assigning that seq with
``row_number() OVER (ORDER BY ...)`` — a window with no partition key —
funnels every row through ONE task: the #1 scale-killer flagged in round 1.

``attach_global_seq`` computes the exact same global rank with no global
sort:

1. range-partition on the (total) order key — order-CONSISTENT partitioning:
   every row in partition i sorts before every row in partition i+1;
2. sort within partitions (parallel, partition-local);
3. per-partition sizes from a JVM partial aggregate on
   ``spark_partition_id()`` (its exchange carries at most one row per
   partition) -> driver prefix sum;
4. one JVM projection adds the partition's offset to the row's index in
   its partition (the low 33 bits of ``monotonically_increasing_id()``):
   no shuffle, no Python worker.

Because the order key is total (unique per row), the final seq depends ONLY
on the global order, not on where partition boundaries fall — so the output
is byte-identical at any parallelism level (the two-cluster-size criterion).
The partitioned layout is persisted between the size pass and the attach
projection so both jobs see the same physical partitions.

``attach_global_cumsum`` keeps the Arrow-batched shape: a running sum of a
weight column needs a window, not a row index.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def attach_global_seq(
    df: DataFrame,
    order: list[str],
    start: int = 0,
    seq_col: str = "seq",
    num_partitions: int | None = None,
) -> tuple[DataFrame, Callable[[], None]]:
    """Attach ``seq_col`` = start + (1-based global rank in ``order``).

    ``order`` must be a total order (unique key per row) — asserted by the
    caller's schema discipline, required for parallelism-invariance.
    Returns (df_with_seq, release) — call ``release()`` after the result has
    been materialized (it unpersists the partitioned intermediate).
    """
    if seq_col in df.columns:
        raise ValueError(f"column {seq_col!r} already exists")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order]
    d = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    d = d.persist()

    pid = F.spark_partition_id()
    sizes = d.groupBy(pid.alias("pid")).count().collect()
    offsets = []
    acc = int(start)
    for row in sorted(sizes, key=lambda r: r.pid):
        offsets += [F.lit(row.pid), F.lit(acc).cast("long")]
        acc += row["count"]
    total = acc - int(start)

    # an empty partition has no size row and no offset; it has no rows to
    # look one up either
    off = F.create_map(*offsets) if offsets else F.lit(None).cast("map<int,bigint>")
    # monotonically_increasing_id() = (pid << 33) + the row's index in its
    # partition, counted in the persisted (sorted) partition order
    idx = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    out = d.select(*df.columns, (off[pid] + idx + 1).alias(seq_col))
    # stash the exact row count (already paid for by the size pass) so
    # callers don't run a separate .count() action
    out._attached_seq_total = total  # type: ignore[attr-defined]
    return out, lambda: d.unpersist()


def attach_global_cumsum(
    df: DataFrame,
    order: list[str],
    weight_col: str,
    cum_col: str = "cum_before",
    num_partitions: int | None = None,
) -> tuple[DataFrame, Callable[[], None]]:
    """Attach ``cum_col`` = exclusive global running sum of ``weight_col``
    in ``order`` (the weight mass strictly BEFORE each row) — the
    prefix-sum a token-budget cut needs. Same no-global-sort shape as
    ``attach_global_seq``: range-partition on the total order key, sort
    within partitions, one tiny per-partition weight-total pass, driver
    prefix sum over ≤ num_partitions scalars, map-side add. Byte-identical
    at any parallelism level because the order is total and integer weight
    sums are exact. Returns (df_with_cum, release)."""
    if cum_col in df.columns:
        raise ValueError(f"column {cum_col!r} already exists")
    # fail fast on non-integer weights: a silent to_numpy(int64) would turn
    # NaN into INT64_MIN and truncate fractions — garbage prefix sums with
    # no error. Exactness (the parallelism-invariance guarantee) needs
    # integer weight sums.
    wtype = df.schema[weight_col].dataType.simpleString()
    if wtype not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"weight column {weight_col!r} must be integral, got {wtype}"
        )
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order]
    d = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    d = d.persist()

    def _totals(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        w = 0
        for pdf in batches:
            if pdf[weight_col].isna().any():
                raise ValueError(f"null weight in {weight_col!r}")
            w += int(pdf[weight_col].to_numpy(np.int64).sum()) if len(pdf) else 0
        yield pd.DataFrame({"pid": [pid], "w": [w]})

    sizes = d.mapInPandas(_totals, schema="pid int, w long").collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(sizes, key=lambda r: r.pid):
        offsets[row.pid] = acc
        acc += row.w
    total = acc
    bc = spark.sparkContext.broadcast(offsets)

    out_schema = StructType(list(d.schema.fields) + [StructField(cum_col, LongType())])

    def _attach(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        off = bc.value.get(pid, 0)
        for pdf in batches:
            pdf = pdf.copy()
            w = pdf[weight_col].to_numpy(np.int64)
            cum = np.cumsum(w)
            pdf[cum_col] = off + cum - w  # exclusive prefix
            off += int(cum[-1]) if len(w) else 0
            yield pdf

    out = d.mapInPandas(_attach, schema=out_schema).select(*df.columns, cum_col)
    out._attached_cumsum_total = total  # type: ignore[attr-defined]
    return out, lambda: d.unpersist()
