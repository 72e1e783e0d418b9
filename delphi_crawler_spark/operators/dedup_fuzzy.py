"""Deduplication family for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

The reference's dedup is the exact URL-seen set (F1/F2); a 100 TB corpus
additionally needs *content* dedup. Design rules at scale:

- candidate generation NEVER goes quadratic: MinHash banding / SimHash
  block-split / LSH bucketing turn near-dup search into equi-joins on
  bucket keys — plain Spark shuffles Catalyst can plan;
- signatures are computed in one pass with vectorized numpy inside Arrow
  batches (pandas UDFs), never per-row Python;
- verification (exact Jaccard / hamming / cosine) runs only within
  candidate buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

MERSENNE_P = (1 << 61) - 1


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: group on the md5 digest, keep the smallest-id
    row (deterministic representative) via a ``min_by`` hash aggregate —
    map-side partial combine collapses duplicates BEFORE the shuffle and
    nothing sorts (the same scale argument as F1, operators/dedup.py; the
    previous window form shuffled every row and sorted each digest group)."""
    agg = df.groupBy(F.md5(F.col(text_col)).alias("__digest")).agg(
        F.min_by(
            F.struct(*[F.col(c).alias(c) for c in df.columns]), F.col(id_col)
        ).alias("__row")
    )
    return agg.select(
        *[F.col("__row").getField(c).alias(c) for c in df.columns]
    )


# ------------------------------------------------------------- shingling

# 16-byte key for pandas' deterministic vectorized string hashing (siphash
# family via pd.util.hash_pandas_object) — the whole batch hashes in one C
# call instead of per-row python FNV loops.
_HASH_KEY = "delphi_crawl_16b"
_GRAM_MIX = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0xFF51AFD7ED558CCD,
     0xC4CEB9FE1A85EC53, 0x2545F4914F6CDD1D],
    dtype=np.uint64,
)

# Block sizes for the per-batch dense intermediates: the (num_hashes x
# grams) minhash matrix and the (tokens x 64) simhash bit matrix are blocked
# to these many grams/tokens at a time. The blocks are sized for CACHE
# RESIDENCY, not just memory safety: the r02 scaling probe showed the
# original 256 MB blocks streaming through DRAM cost ~10x single-thread
# throughput AND collapsed multi-worker scaling (8 workers contending for
# memory bandwidth). At 16k grams the minhash block is 8 MB (L2/L3-resident,
# measured 10.5x faster); at 2k tokens the simhash bit block is 1 MB
# (measured 25x with the reduceat kernel below). Sweep data in BENCH.md.
_GRAM_BLOCK = 1 << 14   # 16k grams x 64 hashes x 8B = 8 MB per block
_TOKEN_BLOCK = 1 << 11  # 2k tokens x 64 bits x 8B = 1 MB per block


def _gram_mix(n: int) -> np.ndarray:
    """Position multipliers for n-gram mixing. First 8 are fixed constants;
    beyond that they extend deterministically via splitmix64 (odd-forced),
    so shingle_n is unbounded — a plain ``j % 8`` wrap would let tokens 8
    positions apart share a multiplier and XOR-cancel when equal."""
    if n <= len(_GRAM_MIX):
        return _GRAM_MIX[:n]
    j = np.arange(len(_GRAM_MIX), n, dtype=np.uint64)
    z = (j + np.uint64(1)) * np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return np.concatenate([_GRAM_MIX, z | np.uint64(1)])


def _token_hash_frame(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, int]:
    """Explode a text batch into (row_id, token_hash) arrays — ONE vectorized
    hash call for every token in the batch."""
    toks = texts.fillna("").str.lower().str.split()
    exploded = toks.explode()
    mask = exploded.notna()
    exploded = exploded[mask]
    if len(exploded) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint64), len(texts)
    row_pos = pd.Series(np.arange(len(texts)), index=texts.index)
    rows = row_pos[exploded.index].to_numpy(dtype=np.int64)
    th = pd.util.hash_pandas_object(
        exploded.reset_index(drop=True), index=False, hash_key=_HASH_KEY
    ).to_numpy(dtype=np.uint64)
    return rows, th, len(texts)


def _shingle_hash_groups(texts: pd.Series, n: int) -> tuple[np.ndarray, np.ndarray, int]:
    """(row_id, gram_hash) for word n-grams, fully vectorized: hash every
    token once, then combine n consecutive token hashes per row with a
    sliding mix (uint64 wraparound). Rows with fewer than n tokens get one
    gram combining whatever tokens exist."""
    rows, th, n_rows = _token_hash_frame(texts)
    if len(rows) == 0:
        return rows, th, n_rows
    mix = _gram_mix(n)
    counts = np.bincount(rows, minlength=n_rows)
    grams_rows: list[np.ndarray] = []
    grams_vals: list[np.ndarray] = []
    if len(th) >= n:
        valid = rows[: len(rows) - n + 1] == rows[n - 1:]
        g = np.zeros(len(th) - n + 1, dtype=np.uint64)
        for j in range(n):
            g ^= th[j: len(th) - n + 1 + j] * mix[j]
        grams_rows.append(rows[: len(rows) - n + 1][valid])
        grams_vals.append(g[valid])
    # short rows (0 < count < n): one gram mixing all their tokens
    short = np.flatnonzero((counts > 0) & (counts < n))
    if len(short):
        sel = np.isin(rows, short)
        srows, sth = rows[sel], th[sel]
        accum = np.zeros(n_rows, dtype=np.uint64)
        # position of each token within its row (tokens arrive row-ordered)
        change = np.flatnonzero(np.diff(srows, prepend=srows[0] - 1))
        pos_in_row = np.arange(len(srows)) - np.repeat(change, np.diff(np.append(change, len(srows))))
        np.bitwise_xor.at(accum, srows, sth * mix[pos_in_row])
        grams_rows.append(short.astype(np.int64))
        grams_vals.append(accum[short])
    rr = np.concatenate(grams_rows) if grams_rows else np.zeros(0, dtype=np.int64)
    vv = np.concatenate(grams_vals) if grams_vals else np.zeros(0, dtype=np.uint64)
    # distinct grams per row: sort by (row, gram) then drop equal neighbours
    order = np.lexsort((vv, rr))
    rr, vv = rr[order], vv[order]
    keep = np.ones(len(rr), dtype=bool)
    keep[1:] = (rr[1:] != rr[:-1]) | (vv[1:] != vv[:-1])
    return rr[keep], vv[keep], n_rows


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    gram_block: int = _GRAM_BLOCK,
) -> DataFrame:
    """Attach ``minhash: array<long>`` — num_hashes universal-hash minima
    over word-shingle hashes. One Arrow-batched pandas UDF; the whole batch
    is hashed in one vectorized pass and the (num_hashes × grams) min is a
    ``minimum.reduceat`` segment reduction — zero per-row python.
    ``gram_block`` bounds the dense intermediate (see _GRAM_BLOCK)."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(1, MERSENNE_P, size=num_hashes, dtype=np.uint64) | np.uint64(1))
    b = rng.integers(0, MERSENNE_P, size=num_hashes, dtype=np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def _minhash(texts: pd.Series) -> pd.Series:
        rows, grams, n_rows = _shingle_hash_groups(texts, shingle_n)
        sigs = np.full((n_rows, num_hashes), np.iinfo(np.uint64).max, dtype=np.uint64)
        present = np.zeros(n_rows, dtype=bool)
        # blocked over grams so the dense (num_hashes x grams) universal-hash
        # matrix stays bounded (~_GRAM_BLOCK) no matter how long the batch's
        # documents are; a row split across blocks combines via np.minimum.
        for lo in range(0, len(rows), gram_block):
            r = rows[lo: lo + gram_block]
            g = grams[lo: lo + gram_block]
            # (num_hashes, block) universal hash mod 2^64 (odd multiplier)
            v = a[:, None] * g[None, :] + b[:, None]
            starts = np.flatnonzero(np.diff(r, prepend=r[0] - 1))
            mins = np.minimum.reduceat(v, starts, axis=1)  # (num_hashes, n_present)
            pr = r[starts]
            sigs[pr, :] = np.minimum(sigs[pr, :], mins.T)
            present[pr] = True
        sigs[~present, :] = 0  # empty docs keep the all-zero signature
        return pd.Series(list(sigs.view(np.int64)))

    return df.withColumn("minhash", _minhash(F.col(text_col)))


def minhash_lsh_candidates(
    signed: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: equal band-slices become bucket keys; a self-equi-join
    on (band, bucket) yields candidate pairs (id_a < id_b, deduped).

    This is the scale path: no cross join anywhere — the shuffle is on
    bucket keys, and hot buckets split under AQE.
    """
    buckets = band_bucket_rows(signed, id_col, bands, rows_per_band)
    left = buckets.alias("l")
    right = buckets.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def band_bucket_rows(
    signed: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """The persistable LSH bucket INDEX: (id, band, bucket) rows, bucket =
    xxhash64 of the comma-joined signed band slice. This is the table a
    long-lived dedup index checkpoints — incremental rounds equi-join new
    docs' bucket rows against it without ever re-shingling the prior
    corpus (see ``minhash_incremental_candidates``)."""
    band_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("minhash", i * rows_per_band + j + 1).cast("string")
                                for j in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for i in range(bands)
            ]
        )
    ).alias("bb")
    return signed.select(F.col(id_col), band_cols).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_incremental_candidates(
    new_buckets: DataFrame,
    prior_buckets: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Delta maintenance of the LSH dedup index: candidate pairs touching
    at least one NEW document — the daily-increment path a 100-TB corpus
    actually runs (re-running full-corpus LSH per crawl round is O(corpus)
    per day; this is O(delta)).

    new×prior: ONE equi-join of the new docs' bucket rows against the
    persisted (id, band, bucket) index — the prior corpus is never
    re-shingled, re-signed, or re-banded; its index rows were written once
    (``band_bucket_rows``) and live in the table store. new×new: the
    standard self-join within the delta. ID sets must be disjoint.
    Returns (id_a, id_b) with id_a < id_b, deduped; the union of this
    result with the prior rounds' pairs equals a from-scratch
    ``minhash_lsh_candidates`` over the whole corpus (merge==rebuild,
    pinned by test).
    """
    n = new_buckets.alias("n")
    p = prior_buckets.alias("p")
    cross = n.join(
        p,
        (F.col("n.band") == F.col("p.band")) & (F.col("n.bucket") == F.col("p.bucket")),
    ).select(
        F.least(F.col(f"n.{id_col}"), F.col(f"p.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"n.{id_col}"), F.col(f"p.{id_col}")).alias("id_b"),
    )
    n2 = new_buckets.alias("m")
    intra = n.join(
        n2,
        (F.col("n.band") == F.col("m.band"))
        & (F.col("n.bucket") == F.col("m.bucket"))
        & (F.col(f"n.{id_col}") < F.col(f"m.{id_col}")),
    ).select(
        F.col(f"n.{id_col}").alias("id_a"), F.col(f"m.{id_col}").alias("id_b")
    )
    return cross.unionByName(intra).dropDuplicates(["id_a", "id_b"])


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (post-LSH verification).
    Token sets are JVM array ops; the intersection/union sizes come from
    ``array_intersect``/``array_union`` — no Python."""

    def gramset(c):
        words = F.split(F.lower(F.trim(c)), r"\s+")
        n = F.greatest(F.size(words) - F.lit(shingle_n - 1), F.lit(1))
        idx = F.sequence(F.lit(0), n - 1)
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle_n)))
        )

    sets = docs.select(F.col(id_col), gramset(F.col(text_col)).alias("grams"))
    joined = (
        pairs.join(sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
        .join(sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (
        joined.withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signature -> banded candidates ->
    exact Jaccard verify -> keep the smallest id per duplicate cluster
    (union-find collapsed to min-id via iterative smallest-neighbor, one
    round — sufficient for pairwise-threshold clusters at verify level)."""
    # persist: the banded bucket self-join reads the signatures on both
    # sides, and the final anti-join re-reads the chain — without a cache
    # the Arrow signature UDF would run 2-3x
    signed = minhash_signatures(docs, text_col, num_hashes, shingle_n).persist()
    cands = minhash_lsh_candidates(signed, id_col, bands, num_hashes // bands)
    dups = jaccard_verify(cands, docs, id_col, text_col, shingle_n, threshold)
    # min representative per connected component (1-hop: pairs -> min id)
    losers = dups.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


# ----------------------------------------------------------------- simhash


def simhash_signatures(
    df: DataFrame, text_col: str = "text", token_block: int = _TOKEN_BLOCK
) -> DataFrame:
    """Attach ``simhash: long``. Vectorized numpy pandas UDF (a pure-JVM
    higher-order-function expression is exact but compiles 64 aggregates;
    numpy per Arrow batch is the faster production path)."""

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        rows, th, n_rows = _token_hash_frame(texts)
        out = np.zeros(n_rows, dtype=np.uint64)
        if len(rows):
            # bit votes per row: +1 for a set bit, -1 for clear. Since
            # sum(2*bits - 1) = 2*sum(bits) - n_tokens, accumulate plain
            # bit SUMS with a contiguous segment reduce (np.add.reduceat —
            # tokens arrive row-ordered) and fold the token count in once
            # at the end; unpackbits replaces the 64-shift broadcast. This
            # kernel is ~25x the naive scatter-add (np.add.at) version it
            # replaced and is exact-equal by construction (pytest-pinned).
            sums = np.zeros((n_rows, 64), dtype=np.int64)
            for lo in range(0, len(rows), token_block):
                r = rows[lo: lo + token_block]
                t = th[lo: lo + token_block]
                bits = np.unpackbits(
                    t.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                ).astype(np.int64).reshape(len(t), 64)
                starts = np.flatnonzero(np.diff(r, prepend=r[0] - 1))
                sums[r[starts]] += np.add.reduceat(bits, starts, axis=0)
            counts = np.bincount(rows, minlength=n_rows)
            pos = (2 * sums - counts[:, None]) > 0
            powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
            out = (pos * powers[None, :]).sum(axis=1, dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return df.withColumn("simhash", _simhash(F.col(text_col)))


def simhash_near_dup_pairs(
    signed: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by the block trick: split 64 bits into ``blocks``
    chunks; pairs within hamming <= blocks-1 share at least one exact chunk
    (pigeonhole), so with the default ``blocks = max_hamming + 1`` recall at
    the requested radius is GUARANTEED, not probabilistic. Passing a smaller
    ``blocks`` explicitly trades recall for fewer candidates (partial recall
    beyond hamming blocks-1 — candidates-generator mode).

    Plan shape: ONE exploded (block, chunk) self-equi-join — a single
    shuffle on the bucket key — then exact hamming verify via
    ``bit_count(a XOR b)`` (JVM). No cross join at any scale.

    Dedup without a shuffle: a qualifying pair matches in SEVERAL blocks
    (once per intact chunk), so naive emission needs a dropDuplicates —
    a full extra exchange over the candidate set. Instead each join row
    keeps the pair only when its bucket block is the FIRST matching block,
    computed from ``sh_a XOR sh_b`` with pure bit math (chunk i matches iff
    the XOR's chunk-i bits are all zero). Exactly-once emission, zero
    post-join shuffle, all codegen.
    """
    if blocks is None:
        blocks = min(max_hamming + 1, 64)
    if not 1 <= blocks <= 64:
        raise ValueError(f"blocks must be in [1, 64], got {blocks}")
    base, extra = divmod(64, blocks)  # first `extra` blocks get one more bit
    bounds = []
    off = 0
    for i in range(blocks):
        w = base + (1 if i < extra else 0)
        bounds.append((off, w))
        off += w
    entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                F.shiftrightunsigned(F.col("simhash"), o)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("ck"),
            )
            for i, (o, w) in enumerate(bounds)
        ]
    )
    keyed = signed.select(
        F.col(id_col), F.col("simhash"), F.explode(entries).alias("b")
    ).select(
        id_col, "simhash", F.col("b.bi").alias("bi"), F.col("b.ck").alias("ck")
    )
    l = keyed.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "bi", "ck"
    )
    r = keyed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "bi", "ck"
    )
    pairs = l.join(r, ["bi", "ck"]).filter(F.col("id_a") < F.col("id_b"))
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    # first matching block of the pair, from the XOR alone: smallest i whose
    # chunk bits are all zero (at least one exists — we joined on a match)
    first_match = F.lit(blocks)
    for i, (o, w) in reversed(list(enumerate(bounds))):
        chunk_matches = (
            F.shiftrightunsigned(xor, o).bitwiseAND(F.lit((1 << w) - 1)) == 0
        )
        first_match = F.when(chunk_matches, F.lit(i)).otherwise(first_match)
    hamming = F.bit_count(xor)
    return (
        pairs.withColumn("hamming", hamming)
        .filter((F.col("hamming") <= max_hamming) & (F.col("bi") == first_match))
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------------ embedding near-dup


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 42,
    brute_force: bool = False,
) -> DataFrame:
    """Near-duplicate vectors by cosine >= threshold.

    Scale path: BANDED random-hyperplane LSH — ``bands`` independent
    sign-bucket keys of ``n_planes`` planes each; a pair is a candidate if
    it collides in ANY band (P[candidate] = 1-(1-p^n_planes)^bands where
    p = 1 - theta/pi, so recall at the threshold is tunable, unlike a
    single all-or-nothing key). Candidate generation shuffles only
    (id, band, bucket) — vectors join back in for the exact cosine verify.
    ``brute_force=True`` is the small-data oracle path.
    """
    from delphi_crawler_spark.operators.similarity import cosine_col, lsh_band_buckets_udf

    vecs = emb.select(F.col(id_col), F.col(vec_col))
    if brute_force:
        l = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        r = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = l.join(r, F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "va", "vb")
    else:
        bucketed = vecs.withColumn(
            "__bks",
            lsh_band_buckets_udf(emb.sparkSession, bands, n_planes, seed)(F.col(vec_col)),
        ).select(F.col(id_col), F.posexplode("__bks").alias("band", "bucket"))
        l = bucketed.select(F.col(id_col).alias("id_a"), "band", "bucket")
        r = bucketed.select(F.col(id_col).alias("id_b"), "band", "bucket")
        cand = (
            l.join(r, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")), "id_a"
        ).join(
            vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")), "id_b"
        )
    cos = cosine_col(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 3,
    prefix_len: int = 16,
    cap_len: int = 512,
) -> DataFrame:
    """Blocked edit-distance near-dup verification (the record-linkage
    classic: prefix blocking + Levenshtein verify — Gravano et al., VLDB
    2001 use q-gram filters; this is the simpler prefix-key variant every
    entity-resolution pipeline starts from). Returns (id_a, id_b, dist)
    for every same-block pair whose Levenshtein distance is <= max_dist,
    with id_a < id_b.

    Complements the MinHash/SimHash family: those bound TOKEN-level
    similarity, edit distance catches CHARACTER-level revisions (typo
    fixes, template counters, injected dates) that token shingles smear
    out. Semantics are exact WITHIN a block; the blocking key — the first
    ``prefix_len`` characters, the standard trade — bounds the pair space,
    so pairs whose edits touch the prefix are out of scope by contract
    (compose with a second pass on reversed text to cover suffix-stable
    edits).

    Scale shape: one narrow (id, capped-text, block) projection; one
    equi-join on the block key (hash-partitioned, never all-pairs); the
    cheap exact length-difference bound ``|len_a - len_b| <= max_dist``
    prunes BEFORE the quadratic levenshtein (JVM builtin, whole-stage
    codegen) runs. Texts are capped at ``cap_len`` chars so the per-pair
    DP cost is bounded at cap_len² regardless of document size. Hot
    blocks (boilerplate prefixes) are the skew risk — AQE skew-join
    handles moderate cases; degenerate prefixes should move to a longer
    key, exactly like any blocking scheme.

    Parity note: Spark's ``levenshtein`` counts UTF-16 characters while
    DuckDB's counts bytes, so exact-oracle queries over this operator
    stick to ASCII text; the operator itself is fine with any input.
    """
    if max_dist < 0:
        raise ValueError("edit_distance_pairs() needs max_dist >= 0")
    t = df.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, cap_len).alias("t"),
    ).withColumn("blk", F.substring("t", 1, prefix_len))
    a = t.select(F.col("id").alias("id_a"), F.col("t").alias("ta"), "blk")
    b = t.select(F.col("id").alias("id_b"), F.col("t").alias("tb"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("ta") - F.length("tb")) <= F.lit(max_dist)
        )
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .filter(F.col("dist") <= F.lit(max_dist))
        .select("id_a", "id_b", "dist")
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle: int = 2,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — the
    All-Pairs / PPJoin candidate principle (Bayardo WWW'07; Xiao WWW'08)
    in the MapReduce shape of Vernica et al., SIGMOD 2010. Returns every
    pair (id_a < id_b) whose word-``shingle``-gram sets have Jaccard >=
    ``threshold``, with the exact ``jaccard`` (6 dp). Unlike the MinHash
    path (``minhash_lsh_dedup``) there are NO probabilistic misses: the
    candidate filter is provably lossless and the verify step is exact.

    Why it is lossless: under any global token total order, if
    J(A,B) >= t then i = |A∩B| >= ceil(t*|A|) (since |B| >= i forces
    i >= t*(|A|+|B|-i) >= t*|A|), and the MINIMUM shared token must sit
    inside A's first |A| - ceil(t*|A|) + 1 tokens — were it outside, all
    shared tokens would fit in the ceil(t*|A|)-1 suffix slots,
    contradicting i >= ceil(t*|A|). Symmetrically for B, so probing the
    per-doc prefixes with a token equi-join finds every qualifying pair.

    Scale shape (the Vernica map-reduce plan, as Catalyst operators):
    one hash-agg for global document frequency; one (df asc, tok asc)
    array_sort per doc — rarest-first ordering puts LOW-df tokens in the
    prefixes, so the candidate equi-join's per-token buckets stay small
    by construction (the frequent tokens that would explode the join
    live in the suffixes that never join); a token equi-join over
    prefixes only; the exact length prune ``t*na <= nb <= na/t``; then
    one verify join pulling the two sorted arrays and an
    ``array_intersect`` in the JVM. Nothing all-pairs, nothing driver-
    side; residual hot prefix tokens are AQE skew-join territory.

    Float hygiene: prefix length and the length prune subtract a 1e-9
    guard before ceil/compare so binary rounding of ``t*n`` (e.g.
    0.7*10 = 7.000000000000001) can only LENGTHEN a prefix or ADMIT a
    borderline candidate — completeness is never lost and the exact
    verify discards any extras.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("set_similarity_join() needs 0 < threshold <= 1")
    if shingle < 1:
        raise ValueError("set_similarity_join() needs shingle >= 1")
    words = F.split(F.col(text_col), r"\s+")
    if shingle == 1:
        grams = words
    else:
        n_words = F.size(words)
        slices = [
            F.slice(words, j + 1, F.greatest(n_words - F.lit(shingle - 1), F.lit(0)))
            for j in range(shingle)
        ]
        grams = slices[0]
        for s in slices[1:]:
            grams = F.zip_with(grams, s, lambda a, b: F.concat(a, F.lit(" "), b))
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(grams)).alias("tok"),
        )
        .filter((F.col("tok") != "") & F.col("tok").isNotNull())
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("tdf"))
    arrs = (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("tdf", "tok"))).alias("ranked"))
        .select(
            "doc_id",
            F.transform("ranked", lambda s: s["tok"]).alias("toks"),
            F.size("ranked").alias("n"),
        )
    )
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    pe = arrs.select(
        "doc_id", "n", F.explode(F.slice("toks", F.lit(1), prefix_len)).alias("tok")
    )
    eps = F.lit(1e-9)
    cand = (
        pe.alias("a")
        .join(pe.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            (F.col("b.n") >= F.lit(threshold) * F.col("a.n") - eps)
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n") - eps)
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    a_side = arrs.select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"), F.col("n").alias("na")
    )
    b_side = arrs.select(
        F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter).cast("double")
    return (
        cand.join(a_side, "id_a")
        .join(b_side, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_candidate_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_eval_rows: int = 10_000,
) -> DataFrame:
    """LSH tuning eval: precision/recall of the banded candidate set
    against exact all-pairs Jaccard ground truth at ``threshold`` — the
    curve that picks (bands, rows_per_band) before a corpus-scale run
    (more bands → recall up / precision down; the S-curve in plain
    numbers instead of the textbook formula's i.i.d. assumption).

    Ground truth is ALL-PAIRS exact Jaccard — eval-sized corpora only,
    by construction (the production path never does this; that is the
    point of LSH). Returns ONE row: (n_candidates, n_true_pairs,
    n_hits, precision, recall), ratios rounded 6, NULL when their
    denominator is 0. Candidate and truth counts are scalar aggregates
    (the graph.py discipline).

    ``max_eval_rows`` is the guard rail on the intentional crossJoin: the
    quadratic truth pass refuses corpora above the cap instead of silently
    degrading into an all-pairs scan of a production table — sample down
    (corpus_stratified_sample) and re-run the eval on the sample."""
    n_docs = docs.count()
    if n_docs > max_eval_rows:
        raise ValueError(
            f"lsh_candidate_eval ground truth is all-pairs O(n^2): got "
            f"{n_docs} rows > max_eval_rows={max_eval_rows}; sample the "
            "corpus first or raise the cap explicitly for a sized eval."
        )
    signed = minhash_signatures(docs.select(id_col, text_col), text_col,
                                num_hashes, shingle_n, seed)
    cands = minhash_lsh_candidates(signed, id_col, bands, num_hashes // bands)
    a = docs.select(F.col(id_col).alias("id_a"))
    b = docs.select(F.col(id_col).alias("id_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    truth = jaccard_verify(
        pairs, docs, id_col, text_col, shingle_n, threshold
    ).select("id_a", "id_b")
    truth = truth.persist()
    n_cand = cands.count()
    n_true = truth.count()
    n_hits = cands.join(truth, ["id_a", "id_b"], "left_semi").count()
    truth.unpersist()
    spark = docs.sparkSession
    row = [(
        int(n_cand), int(n_true), int(n_hits),
        round(n_hits / n_cand, 6) if n_cand else None,
        round(n_hits / n_true, 6) if n_true else None,
    )]
    return spark.createDataFrame(
        row,
        "n_candidates bigint, n_true_pairs bigint, n_hits bigint, "
        "precision double, recall double",
    )
