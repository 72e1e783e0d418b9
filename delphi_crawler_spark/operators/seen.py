"""URL-seen membership: exact hash-probed anti-join + partitioned Bloom
bitsets (reference parity: F1 seen-cache two-tier shape, F2/J1 existence
anti-join).

The reference checks candidate identifiers in two tiers: a cheap local
HashSet ("local seen cache to compensate for lags",
MavenDiscoveryProcess.scala:57,71-75) and then an exact remote existence
query per identifier (ArtifactExistsQuery.scala:35-44) — drop if present;
on lookup failure treat as NOT seen (crawl-again bias).

North-rule realization at 10^10-URL scale:

1. **Exact confirm that scans the seen side once, never shuffles it.** The
   candidates' 8-byte hashes are broadcast into a ``left_semi`` probe of
   the plain seen-set scan; the rows it keeps are the hits. The result is
   ``candidates LEFT ANTI broadcast(hits)`` on ``[url_hash64, url]``: the
   full URL string is in the key, so a 64-bit collision can never drop a
   distinct URL. Both build sides are O(candidates of one round), so the
   seen set needs no derived membership state; this is the engine's path.
2. **Optional prefilter.** A bloom (or cuckoo, ``operators/cuckoo.py``)
   probe may shrink the first broadcast to the filter-positive candidates;
   a filter-negative candidate's hash is not in the seen set, so it can
   never match a hit, and the result is unchanged (property-tested). The
   probe is a pandas UDF over the candidates only, marked
   nondeterministic, so Catalyst cannot infer a copy of it onto the seen
   side of the confirm's equi-join on ``url_hash64``.
3. **Bloom bitsets built with a tree fold.** Per-partition numpy bitsets
   over ``xxhash64(url)`` OR-merged tree-wise, then **broadcast** to every
   executor; bit setting is numpy-vectorized (``bitwise_or.at``), not
   per-row Python.

A frame without the hash column takes the plain exact anti-join on the url.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
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
    probes) from only ``df``'s rows. Segments of one geometry OR-merge
    (``BloomBits.merge``), so a bloom over an append-only table can grow by
    a segment over just the appended rows instead of a full rebuild.
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
    a broadcast of the bitset — one broadcast per executor, not per task).
    Nondeterministic, so Catalyst never copies the probe across an
    equi-join on ``key_col`` (see ``confirm_anti_join``)."""
    bc = spark.sparkContext.broadcast((bloom.m_bits, bloom.k, bloom.words))

    @F.pandas_udf(BooleanType())
    def _might_contain(vals: pd.Series) -> pd.Series:
        m_bits, k, words = bc.value
        b = BloomBits(m_bits, k, words)
        arr = vals.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        return pd.Series(b.might_contain_many(arr))

    return _might_contain.asNondeterministic()(F.col(key_col))


def _hash_checked(df: DataFrame, url_col: str, hash64_col: str) -> DataFrame:
    """``df`` with ``hash64_col`` re-projected through a
    ``hash64_col == xxhash64(url_col)`` assertion: the value is unchanged,
    and a row that breaks the invariant fails the job instead of silently
    escaping the hash-probed confirm. CollapseProject folds it into the
    neighbouring projection, so it adds no job.

    The trailing ``0`` is never returned (a null hash fails the assertion);
    it makes the column non-nullable, so Catalyst infers no
    ``isnotnull(<check>)`` join filter that it would push through the
    semi-join onto every row of the seen-side scan."""
    h = F.col(hash64_col)
    ok = F.assert_true(h == F.xxhash64(url_col), f"{hash64_col} != xxhash64({url_col})")
    return df.withColumn(hash64_col, F.coalesce(ok, h, F.lit(0)))


def confirm_anti_join(
    candidates: DataFrame,
    seen: DataFrame | None,
    maybe_seen: Column | None,
    url_col: str = "url",
    hash64_col: str = "url_hash64",
) -> DataFrame:
    """Exact ``candidates LEFT ANTI seen``, probed by hash. With
    ``hash64_col`` on both sides the confirm is:

        hits = seen ⋉ broadcast(hash64 of the probing candidates)
        new  = candidates ▷ broadcast(hits)     on [hash64, url]

    The probing candidates are all of them, or only those ``maybe_seen``
    keeps when it is given: a boolean Column over the candidates with no
    false negatives (a bloom or cuckoo probe, marked nondeterministic).
    The seen side is scanned once in the JVM and never shuffled or sent
    through Python; both broadcast build sides are O(candidates of one
    round), the first only 8-byte hashes. Exact: a candidate in the seen
    set probes, so its seen row is a hit; the url is in the anti-join key,
    so a hash collision never drops a distinct URL. The
    ``hash64 == xxhash64(url)`` precondition this relies on is asserted on
    the candidates and the hits.

    When either side has no hash column this is the plain sort-merge
    anti-join on the url.
    """
    if seen is None:
        return candidates
    if hash64_col not in candidates.columns or hash64_col not in seen.columns:
        return candidates.join(seen.select(url_col), url_col, "left_anti")
    join_key = [hash64_col, url_col]
    cand = _hash_checked(candidates, url_col, hash64_col)
    probe = (cand if maybe_seen is None else cand.filter(maybe_seen)).select(hash64_col)
    hits = _hash_checked(
        seen.select(*join_key).join(F.broadcast(probe), hash64_col, "left_semi"),
        url_col, hash64_col,
    )
    return cand.join(F.broadcast(hits), join_key, "left_anti")


def seen_anti_join(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: BloomBits | None = None,
    url_col: str = "url",
    hash64_col: str = "url_hash64",
) -> DataFrame:
    """Keep candidates NOT in the seen set (F2/J1): ``confirm_anti_join``,
    with the bloom probe as its prefilter when ``bloom`` is given. Without
    one every candidate's hash probes the seen scan; the result is
    identical either way (property-tested), only the broadcast volume
    differs.

    Precondition: ``hash64_col`` must equal ``xxhash64(url_col)`` on both
    sides (as ``with_url_keys`` attaches it). With the hash column on both
    sides the job fails on a candidate or hit row that breaks it.
    """
    maybe_seen = None
    if bloom is not None and seen is not None:
        maybe_seen = might_contain_col(candidates.sparkSession, bloom, hash64_col)
    return confirm_anti_join(candidates, seen, maybe_seen, url_col, hash64_col)
