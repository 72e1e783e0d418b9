"""URL-seen membership: partitioned Bloom bitsets + exact anti-join
(reference parity: F1 seen-cache two-tier shape, F2/J1 existence anti-join).

The reference checks candidate identifiers in two tiers: a cheap local
HashSet ("local seen cache to compensate for lags",
MavenDiscoveryProcess.scala:57,71-75) and then an exact remote existence
query per identifier (ArtifactExistsQuery.scala:35-44) — drop if present;
on lookup failure treat as NOT seen (crawl-again bias).

North-rule realization at 10^10-URL scale:

1. **Bloom bitsets built with treeAggregate.** Per-partition numpy bitsets
   over ``xxhash64(url)`` OR-merged tree-wise (depth log(partitions)), then
   **broadcast** to every executor. This is the only RDD-level custom
   aggregate in the engine; bit setting is numpy-vectorized
   (``bitwise_or.at``), not per-row Python.
2. **Vectorized prefilter.** A pandas UDF tests k double-hashed positions
   per Arrow batch. Candidates whose bits are not all set are *definitely
   new* — they skip the join entirely. At steady state the overwhelming
   majority of discovered links are either already-seen (bloom positive,
   cheap confirm) or brand-new (bloom negative, no shuffle at all), so the
   expensive exact join runs only on the "maybe" sliver + true hits.
3. **Exact left_anti ground truth.** The join is on the full canonical URL
   string (not the hash), so a 64-bit collision can never drop a distinct
   URL; the bloom can only *reduce cost*, never change the result — tested
   as a property.

Fail-open: like the reference's crawl-again bias, a missing/empty bloom
degrades to the plain exact anti-join.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


@dataclass
class BloomBits:
    """An OR-mergeable bitset bloom segment (m bits, k probes)."""

    m_bits: int
    k: int
    words: np.ndarray  # uint64[m_bits/64]

    @staticmethod
    def sized(expected_items: int, fpp: float = 0.01) -> "BloomBits":
        n = max(1, expected_items)
        m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = max(64, (m + 63) // 64 * 64)
        k = max(1, round(m / n * math.log(2)))
        return BloomBits(m, k, np.zeros(m // 64, dtype=np.uint64))

    # -- vectorized double hashing (Kirsch–Mitzenmacher): g_i = h1 + i*h2
    def _positions(self, vals: np.ndarray) -> np.ndarray:
        v = vals.astype(np.uint64, copy=False)
        h1 = v % np.uint64(self.m_bits)
        h2 = ((v >> np.uint64(33)) | np.uint64(1)) % np.uint64(self.m_bits)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) % np.uint64(self.m_bits)

    def add_many(self, vals: np.ndarray) -> None:
        pos = self._positions(vals).ravel()
        np.bitwise_or.at(self.words, pos >> np.uint64(6),
                         np.uint64(1) << (pos & np.uint64(63)))

    def might_contain_many(self, vals: np.ndarray) -> np.ndarray:
        if len(vals) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(vals)  # (k, n)
        bits = (self.words[(pos >> np.uint64(6))] >> (pos & np.uint64(63))) & np.uint64(1)
        return bits.all(axis=0)

    def merge(self, other: "BloomBits") -> "BloomBits":
        assert self.m_bits == other.m_bits and self.k == other.k
        return BloomBits(self.m_bits, self.k, np.bitwise_or(self.words, other.words))


def build_bloom(
    df: DataFrame,
    col: str = "url_hash64",
    expected_items: int | None = None,
    fpp: float = 0.01,
    tree_depth: int = 2,
) -> BloomBits:
    """Build the seen-set bloom from a DataFrame of 64-bit keys.

    Per-partition bitset build (Arrow-batched mapInPandas, numpy-vectorized
    bit setting) collapses each partition to ONE binary row of bitset words;
    only those tiny rows cross into the RDD ``treeReduce`` OR-merge — the
    north rule's "partitioned Bloom bitsets merged with treeAggregate" with
    none of the row data ever pickled through Python. A zero segment is
    unioned in so the reduce is never empty (empty input → empty bloom).
    """
    if expected_items is None:
        expected_items = df.count()
    proto = BloomBits.sized(expected_items, fpp)
    return build_bloom_segment(df, proto.m_bits, proto.k, col, tree_depth)


def build_bloom_segment(
    df: DataFrame,
    m: int,
    k: int,
    col: str = "url_hash64",
    tree_depth: int = 2,
) -> BloomBits:
    """Build an OR-mergeable bloom SEGMENT with fixed geometry (m bits, k
    probes) from only ``df``'s rows. This is the incremental-maintenance
    primitive: the engine persists the merged words each round and ORs in a
    segment built from just that round's appends — the bloom build scans
    O(new rows), never the full 10^10-row frontier (round-1 scale-killer #3).
    """
    spark = df.sparkSession

    def build_partition(batches):
        seg = BloomBits(m, k, np.zeros(m // 64, dtype=np.uint64))
        any_rows = False
        for pdf in batches:
            vals = pdf.iloc[:, 0].to_numpy(dtype="int64")
            if len(vals):
                seg.add_many(vals.view(np.uint64))
                any_rows = True
        if any_rows:
            yield pd.DataFrame({"words": [seg.words.tobytes()]})

    def merge_partition(batches):
        acc = None
        for pdf in batches:
            for blob in pdf["words"]:
                arr = np.frombuffer(blob, dtype=np.uint64)
                acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
        if acc is not None:
            yield pd.DataFrame({"words": [acc.tobytes()]})

    # two-level Arrow fold — the treeAggregate shape without the RDD pickle
    # path (the DataFrame→RDD conversion + pickled reduce added ~1 s of
    # fixed overhead per build; segment bytes now stay in Arrow batches):
    # per-partition segments → one coalesced partial OR stage (each task
    # folds ~fan_in segments) → driver OR over the few survivor rows.
    words_df = df.select(F.col(col)).mapInPandas(build_partition, schema="words binary")
    fan_in = max(1, spark.sparkContext.defaultParallelism // (1 << tree_depth))
    rows = (
        words_df.coalesce(fan_in)
        .mapInPandas(merge_partition, schema="words binary")
        .toPandas()
    )
    merged = np.zeros(m // 64, dtype=np.uint64)
    for blob in rows["words"]:
        np.bitwise_or(merged, np.frombuffer(blob, dtype=np.uint64), out=merged)
    return BloomBits(m, k, merged)


def might_contain_col(spark: SparkSession, bloom: BloomBits, key_col: str):
    """Vectorized membership test as a Column (Arrow-batched pandas UDF over
    a broadcast of the bitset — one broadcast per executor, not per task)."""
    bc = spark.sparkContext.broadcast((bloom.m_bits, bloom.k, bloom.words))

    @F.pandas_udf(BooleanType())
    def _might_contain(vals: pd.Series) -> pd.Series:
        m_bits, k, words = bc.value
        b = BloomBits(m_bits, k, words)
        arr = vals.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        return pd.Series(b.might_contain_many(arr))

    return _might_contain(F.col(key_col))


def seen_anti_join(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: BloomBits | None = None,
    url_col: str = "url",
    hash64_col: str = "url_hash64",
) -> DataFrame:
    """Keep candidates NOT in the seen set (F2/J1).

    With a bloom: bloom-negative rows bypass the shuffle entirely, and the
    exact confirm of the (steady-state tiny: true-dups + fpp) bloom-positive
    remainder is join-reshaped so the SEEN side is only scanned, never
    shuffled:

        hits = seen ⋉ maybe   (left_semi — build side is the small maybe)
        new  = maybe ▷ hits   (left_anti — build side is the tiny hit set)

    A direct ``maybe LEFT ANTI seen`` would be forced to shuffle the full
    seen set every round (anti/semi joins can only build on the RIGHT, and
    seen is the right side there) — O(frontier) shuffle per round, ~1.2 GB
    at a 20M-URL frontier and fatal at 10^10. In the reshaped form both
    joins build on maybe-sized inputs (AQE picks broadcast at runtime from
    actual sizes; if maybe degenerates to huge — saturated bloom — AQE
    falls back to SMJ and the cost matches the naive plan). Without a
    bloom: plain exact ``left_anti``. Result is identical in every path
    (property-tested); only the shuffled volume differs.

    Precondition: ``hash64_col`` must equal ``xxhash64(url_col)`` on both
    sides (as ``with_url_keys`` attaches it). The bloom is probed on that
    column and the join key leads with it, so a row whose hash disagrees
    with its url is silently treated as unseen — the result is then no
    longer the url-only anti-join.
    """
    if seen is None:
        return candidates
    # Key layout: when BOTH sides carry the 64-bit key, join on
    # [hash64, url] with the hash FIRST — SMJ sorts/compares fixed-width
    # longs and only falls through to the string on a hash tie, and the
    # result is exactly the url-only anti-join (url equality is still in
    # the key). Falls back to the url-only key when the seen side has no
    # hash column (external callers).
    if hash64_col in candidates.columns and hash64_col in seen.columns:
        join_key = [hash64_col, url_col]
    else:
        join_key = [url_col]
    seen_keys = seen.select(*join_key)
    if bloom is None:
        return candidates.join(seen_keys, join_key, "left_anti")
    spark = candidates.sparkSession
    flagged = candidates.withColumn(
        "__maybe_seen", might_contain_col(spark, bloom, hash64_col)
    )
    definite_new = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    hits = seen_keys.join(
        maybe.select(*join_key).distinct(), join_key, "left_semi"
    )
    confirmed_new = maybe.join(hits, join_key, "left_anti")
    return definite_new.unionByName(confirmed_new)
