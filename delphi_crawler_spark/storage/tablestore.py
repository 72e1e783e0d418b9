"""Manifest-of-parts keyed table store (reference parity: S4-S6, S10, §2.8).

The reference persists everything in one Elasticsearch index with idempotent
keyed upserts — ``indexInto(...).id(uniqueString)`` for inserts
(ElasticStoreQueries.scala:63-75), lookup-then-partial-update for analytics
(ElasticStoreQueries.scala:38-50), and find-or-create-then-update for edges
(ElasticCallGraphActor.scala:31-59,87-93) — with the index schema created
up-front if absent (ElasticIndexPreflightCheck.scala:42-49,
ElasticIndexMaintenance.scala:30-77). Crucially its write cost is
per-DOCUMENT, never per-index: storing one artifact touches one document.

In production this engine targets **Iceberg**; this module is the same
storage contract over plain parquet (the sandbox ships no Iceberg runtime
jar), built the way Iceberg itself is built:

- a table is a set of **immutable part directories** plus a **manifest**
  (JSON list of parts); ``_current`` names the live manifest and is swapped
  with ``os.replace`` (atomic on POSIX) — readers always see a complete
  snapshot and a killed writer leaves the old manifest intact (the
  resume-equivalence property, SURVEY.md §5d);
- ``append`` writes ONE new part and a manifest referencing old parts + new
  part — **write volume is O(appended rows), independent of table size**
  (Iceberg fast-append). This is what keeps a 10^10-row frontier's
  per-round cost proportional to the round, not the table;
- ``replace_round`` drops the parts tagged with a round and adds the
  recomputed one — idempotent re-runs of a killed round without rewriting
  other rounds' data (Iceberg ``overwrite(partition)``);
- ``merge_upsert`` implements MERGE semantics as anti-join + union and
  compacts to a single part — the copy-on-write plan Iceberg's MERGE runs;
  use it for keyed mutation of dimension-sized tables, use append/
  replace_round for fact/log tables;
- partitioning is **hidden**, as in Iceberg: ``set_partition_spec``
  records ``bucket(n, col)`` in the manifest, and every write path lays
  its part out under the current spec through the one part writer
  (``_write_part``). Callers write and read plain frames; each part
  records the spec it was written with, so ``prune_read`` prunes every
  part under its own spec across spec evolutions;
- manifests are retained, so time-travel/rollback for resume is free
  (``restore`` re-points ``_current`` to an older manifest);
- **maintenance** mirrors Iceberg's: ``compact`` bin-packs small parts into
  ~``target_bytes`` parts (``rewrite_data_files`` binpack — a part that
  reaches target size is never rewritten again, so total rewrite cost per
  byte is bounded), and ``expire`` deletes manifests older than the retained
  window plus any part directory no retained manifest references
  (``expire_snapshots`` + orphan-file removal). Without these a 10^10-row
  frontier accrues one part per round — the small-files problem — and
  unreferenced parts/manifests leak disk forever.

The API is deliberately shaped so a production deployment swaps the bodies
for Iceberg calls (``append`` -> fast-append commit, ``replace_round`` ->
``overwritePartitions``, ``merge_upsert`` -> ``MERGE INTO``) without
touching callers.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert: bool = True,
) -> DataFrame:
    """The MERGE INTO plan as a pure DataFrame transform — untouched rows
    (left_anti) ∪ matched-updated rows ∪ (optionally) inserted rows. This is
    exactly the copy-on-write plan Iceberg's MERGE runs; ``TableStore.
    merge_upsert`` commits it as a snapshot (reference keyed upserts,
    ElasticStoreQueries.scala:38-50,63-75; ElasticCallGraphActor.scala:31-59).
    """
    untouched = target.join(source, keys, "left_anti")
    if update_cols is not None:
        src_renamed = source.select(
            *keys, *[F.col(c).alias(f"__src_{c}") for c in update_cols]
        )
        matched = target.join(src_renamed, keys, "inner").select(
            *[
                (F.col(f"__src_{c}") if c in update_cols else F.col(c)).alias(c)
                for c in target.columns
            ]
        )
    else:
        matched = source.join(target.select(*keys), keys, "left_semi").select(
            *target.columns
        )
    merged = untouched.unionByName(matched)
    if insert:
        inserted = source.join(target.select(*keys), keys, "left_anti").select(
            *target.columns
        )
        merged = merged.unionByName(inserted)
    return merged


@dataclass
class TableStore:
    spark: SparkSession
    root: str

    # ------------------------------------------------------------- internals
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _current_file(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_current")

    def _current_snap(self, table: str) -> str | None:
        try:
            with open(self._current_file(table)) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _read_manifest(self, table: str, mani: str) -> list[dict]:
        with open(os.path.join(self._tdir(table), mani)) as f:
            return json.load(f)["parts"]

    def _write_part(self, table: str, df: DataFrame, round_no: int | None) -> dict:
        """Write ``df`` as ONE immutable part and return its manifest entry
        — the single part writer of every write path. On a table with a
        partition spec (``set_partition_spec``) the part is written under
        it: the physical bucket column is computed here, the part directory
        is hive-partitioned by it, and the entry records the spec it was
        written with (the metadata ``prune_read`` needs after any number of
        spec evolutions)."""
        os.makedirs(self._tdir(table), exist_ok=True)
        part = f"part-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        spec = self._current_spec(table)
        writer = df.write
        if spec:
            bucket = self._spec_bucket(spec, F.col(spec["col"]))
            writer = df.withColumn(spec["name"], bucket).write.partitionBy(spec["name"])
        writer.mode("overwrite").parquet(os.path.join(self._tdir(table), part))
        entry = {"path": part, "round": round_no, "bytes": self._dir_bytes(table, part)}
        if spec:
            entry["spec"] = spec
        return entry

    def _dir_bytes(self, table: str, part: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(os.path.join(self._tdir(table), part)):
            for f in files:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    _SPEC_CARRY = object()

    def _current_spec(self, table: str) -> dict | None:
        mani = self._current_snap(table)
        if mani is None:
            return None
        with open(os.path.join(self._tdir(table), mani)) as f:
            return json.load(f).get("spec")

    def _commit(self, table: str, parts: list[dict], spec=_SPEC_CARRY) -> str:
        """Write a manifest naming ``parts`` and atomically point ``_current``
        at it — the single commit point of every write path. The table's
        current partition spec (see ``set_partition_spec``) is carried
        forward unless a new one is passed explicitly."""
        if spec is TableStore._SPEC_CARRY:
            spec = self._current_spec(table)
        mani = f"mani-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}.json"
        doc = {"format": 2, "parts": parts}
        if spec:
            doc["spec"] = spec
        with open(os.path.join(self._tdir(table), mani), "w") as f:
            json.dump(doc, f)
        tmp = self._current_file(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(mani)
        os.replace(tmp, self._current_file(table))  # atomic commit point
        return mani

    # ------------------------------------------------------------------- API
    def exists(self, table: str) -> bool:
        """Preflight existence check (reference
        ElasticIndexPreflightCheck.scala:31-55)."""
        return self._current_snap(table) is not None

    def parts(self, table: str) -> list[dict]:
        """The current manifest's part list (path + optional round tag)."""
        mani = self._current_snap(table)
        if mani is None:
            raise FileNotFoundError(f"table {table!r} has no committed manifest")
        return self._read_manifest(table, mani)

    def _scan(self, table: str, parts: list[dict], prune=None) -> DataFrame:
        """Union of the given part entries — every reader's scan plan.
        Parts may be dir-partitioned (key=value subdirs). Spark's multi-
        path partition discovery refuses sibling partitioned roots
        (CONFLICTING_DIRECTORY_STRUCTURES), so each immutable part is its
        own self-consistent scan and the table view is their union — the
        manifest-of-parts read plan. Predicate pushdown and partition
        pruning apply per branch; compaction keeps the branch count O(1).
        A part written under a partition spec drops its recorded physical
        bucket column here, so the logical schema is spec-independent —
        the Iceberg hidden-partitioning contract that makes
        ``set_partition_spec`` evolution invisible to readers. With
        ``prune`` set, such a part is first filtered to the bucket of that
        key value under ITS OWN spec (``prune_read``). A manifest with no
        parts (``set_partition_spec`` on a new table commits one) has no
        schema to scan, so it raises like a table with no manifest."""
        if not parts:
            raise FileNotFoundError(f"table {table!r} has no committed parts")
        frames = []
        for p in parts:
            f = self.spark.read.parquet(os.path.join(self._tdir(table), p["path"]))
            sp = p.get("spec")
            if sp and sp["name"] in f.columns:
                if prune is not None:
                    f = f.where(F.col(sp["name"]) == self._spec_bucket(sp, F.lit(prune)))
                f = f.drop(sp["name"])
            frames.append(f)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read(self, table: str) -> DataFrame:
        """Current-table scan (logical schema, see ``_scan``)."""
        return self._scan(table, self.parts(table))

    # -------------------------------------------- partition-spec evolution
    @staticmethod
    def _spec_bucket(spec: dict, expr):
        """The spec's transform: bucket(n) = pmod(xxhash64(col), n) — the
        same JVM hash at write and prune time, foldable over literals so
        prune filters constant-fold into partition pruning."""
        return F.pmod(F.xxhash64(expr), F.lit(spec["buckets"])).cast("int")

    def partition_spec(self, table: str) -> dict | None:
        """The table's current partition spec, or None (Iceberg
        ``table.spec()`` analogue)."""
        return self._current_spec(table)

    def set_partition_spec(self, table: str, col: str, buckets: int) -> dict:
        """Declare (or EVOLVE) the table's partition spec: bucket(col, n),
        the Iceberg ``PARTITIONED BY (bucket(n, col))`` analogue. Every
        later write (``write_snapshot``, ``append``, ``replace_round``,
        ``merge_upsert``, ``compact``) lays its part out under it; callers
        write plain frames. Iceberg partition-spec-evolution semantics — a
        metadata-only commit: existing parts keep the layout (and recorded
        spec) they were written with. Reads stay correct across the
        boundary because every part is pruned under its OWN recorded spec
        (``prune_read``) and the physical bucket column never reaches the
        logical schema (``read``)."""
        if buckets < 1:
            raise ValueError("set_partition_spec() needs buckets >= 1")
        spec = {"col": col, "buckets": int(buckets), "name": f"{col}_b{buckets}"}
        parts = self.parts(table) if self.exists(table) else []
        os.makedirs(self._tdir(table), exist_ok=True)
        self._commit(table, parts, spec=spec)
        return spec

    def prune_read(self, table: str, value) -> DataFrame:
        """Point-lookup scan with per-part spec-aware pruning (Iceberg
        split planning across spec evolutions): each part is filtered on
        ITS OWN recorded bucket transform of ``value`` — a foldable
        literal, so Spark prunes the part's directories before listing
        files — then the exact key filter applies on top. Parts written
        before any spec fall back to the key filter alone (parquet
        row-group pushdown still applies). At 10^10 rows this turns a
        frontier host lookup into O(files-in-one-bucket) per part instead
        of O(table)."""
        parts = self.parts(table)
        specs = [p["spec"] for p in parts if p.get("spec")]
        spec = specs[-1] if specs else self._current_spec(table)
        if spec is None:
            raise ValueError(f"table {table!r} has no partition spec to prune on")
        return self._scan(table, parts, prune=value).where(
            F.col(spec["col"]) == F.lit(value)
        )

    def read_parts_range(self, table: str, lo_round: int, hi_round: int) -> DataFrame:
        """Scan only the parts tagged with a round in [lo_round, hi_round] —
        manifest-level partition pruning: O(those rounds' data), e.g. one
        round's frontier append with ``lo_round == hi_round``."""
        parts = [
            p for p in self.parts(table)
            if p.get("round") is not None and lo_round <= p["round"] <= hi_round
        ]
        if not parts:
            return self.read(table).limit(0)
        return self._scan(table, parts)

    def write_snapshot(self, table: str, df: DataFrame) -> str:
        """Commit ``df`` as the table's full new contents (one part, laid
        out under the table's partition spec if it has one), atomically."""
        return self._commit(table, [self._write_part(table, df, None)])

    def append(self, table: str, df: DataFrame, round_no: int | None = None) -> str:
        """Append rows as ONE new immutable part (under the table's
        partition spec if it has one) — never reads or rewrites existing
        data (Iceberg fast-append). O(len(df)) write volume."""
        entry = self._write_part(table, df, round_no)
        old = self.parts(table) if self.exists(table) else []
        return self._commit(table, old + [entry])

    def replace_round(self, table: str, df: DataFrame, round_no: int) -> str:
        """Idempotent per-round write: drop any parts a killed run left
        tagged with this round, add the recomputed one. Other rounds' parts
        are untouched (no rewrite)."""
        entry = self._write_part(table, df, round_no)
        old = self.parts(table) if self.exists(table) else []
        kept = [p for p in old if p.get("round") != round_no]
        return self._commit(table, kept + [entry])

    def merge_upsert(
        self,
        table: str,
        source: DataFrame,
        key: str | list[str],
        update_cols: list[str] | None = None,
        insert: bool = True,
    ) -> str:
        """MERGE INTO table USING source ON key — idempotent keyed upsert.

        - matched + ``update_cols``: target row keeps its identity, listed
          columns replaced from source (reference partial update,
          ElasticStoreQueries.scala:38-50)
        - matched + no ``update_cols``: whole row replaced
        - not matched + ``insert``: source row inserted (reference
          insert-if-new, ElasticStoreQueries.scala:63-75; S6's
          upsert-or-create is both branches at once)

        Copy-on-write: compacts the table to one part. Production body: one
        ``spark.sql("MERGE INTO ...")`` on Iceberg.
        """
        keys = [key] if isinstance(key, str) else list(key)
        if not self.exists(table):
            merged = source if insert else source.limit(0)
            return self.write_snapshot(table, merged)
        target = self.read(table)
        merged = merge_frames(target, source, keys, update_cols, insert)
        return self.write_snapshot(table, merged)

    # ---------------------------------------------------------- maintenance
    def compact(
        self,
        table: str,
        target_bytes: int = 128 << 20,
        protect_rounds: frozenset[int] | set[int] = frozenset(),
    ) -> str | None:
        """Bin-pack small parts into ~``target_bytes`` parts (Iceberg
        ``rewrite_data_files`` binpack). Parts already >= target and parts
        whose round tag is in ``protect_rounds`` (rounds that may still be
        re-run/pruned by ``replace_round``/``read_parts_range``) are untouched.
        A merged part gets ``round=None``. On a table with a partition
        spec, a merged part is written and recorded under the CURRENT spec
        (its inputs may span spec evolutions), so it stays prunable by
        ``prune_read``. Returns the new manifest id, or None if nothing
        needed merging.

        Amortization: a part produced at target size is never rewritten
        again, so every byte is rewritten O(target_bytes / part_bytes)
        times over the table's lifetime — bounded, unlike read-everything
        compaction. Run it every K rounds to keep the part count O(1)."""
        parts = self.parts(table)
        # (part, bytes): a part's directory is walked only if no size is recorded
        sized = [
            (p, p["bytes"] if "bytes" in p else self._dir_bytes(table, p["path"]))
            for p in parts if p.get("round") not in protect_rounds
        ]
        small = [(p, b) for p, b in sized if b < target_bytes]
        if len(small) < 2:
            return None
        groups: list[list[dict]] = []
        cur: list[dict] = []
        cur_b = 0
        for p, b in small:
            if cur and cur_b + b > target_bytes:
                groups.append(cur)
                cur, cur_b = [], 0
            cur.append(p)
            cur_b += b
        groups.append(cur)
        merged_away: list[str] = []
        new_entries: list[dict] = []
        for g in groups:
            if len(g) < 2:
                continue
            new_entries.append(self._write_part(table, self._scan(table, g), None))
            merged_away.extend(p["path"] for p in g)
        if not new_entries:
            return None
        kept = [p for p in parts if p["path"] not in merged_away]
        return self._commit(table, kept + new_entries)

    def expire(
        self,
        table: str,
        keep_manifests: int = 3,
        protect_manifests: frozenset[str] | set[str] = frozenset(),
    ) -> dict:
        """Iceberg ``expire_snapshots`` + orphan-file removal: retain the
        newest ``keep_manifests`` manifests, the current one, and any in
        ``protect_manifests`` (pass every manifest a checkpoint still needs
        for ``restore``); delete older manifest files and every part
        directory no retained manifest references. Time-travel to expired
        manifests is gone afterwards — by design."""
        tdir = self._tdir(table)
        cur = self._current_snap(table)
        manis = sorted(f for f in os.listdir(tdir) if f.startswith("mani-"))
        retained = set(manis[-keep_manifests:]) | set(protect_manifests)
        if cur:
            retained.add(cur)
        referenced = {
            p["path"] for m in retained if m in manis
            for p in self._read_manifest(table, m)
        }
        dropped_manis, dropped_parts = 0, 0
        for m in manis:
            if m not in retained:
                os.remove(os.path.join(tdir, m))
                dropped_manis += 1
        for entry in os.listdir(tdir):
            if entry.startswith("part-") and entry not in referenced:
                shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)
                dropped_parts += 1
        return {"manifests_removed": dropped_manis, "parts_removed": dropped_parts}

    # ----------------------------------------------------------- blob store
    def save_blob(self, name: str, data: bytes) -> str:
        """Persist an immutable sidecar blob (bloom bitsets, centroids);
        returns its store-relative path. Never overwritten — referenced from
        checkpoints the way manifests are."""
        d = os.path.join(self.root, "blobs")
        os.makedirs(d, exist_ok=True)
        fname = f"{name}-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}.bin"
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(d, fname))
        return os.path.join("blobs", fname)

    def load_blob(self, rel_path: str) -> bytes:
        with open(os.path.join(self.root, rel_path), "rb") as f:
            return f.read()

    # ------------------------------------------------------- checkpoint API
    def checkpoint(self, round_no: int, payload: dict) -> None:
        """Record a completed round. Written LAST in a round — a round is
        resumable iff its checkpoint row exists (SURVEY.md §2.8: snapshot-
        atomic batch commit -> exact resume equivalence)."""
        os.makedirs(self._tdir("checkpoints"), exist_ok=True)
        rec = {"round": round_no, **payload}
        tmp = os.path.join(self._tdir("checkpoints"), f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, os.path.join(self._tdir("checkpoints"), f"round-{round_no:06d}.json"))

    def amend_checkpoint(self, round_no: int, updates: dict) -> None:
        """Atomically rewrite round ``round_no``'s checkpoint with updated
        keys — used by maintenance to re-point ``*_snap`` at post-compaction
        manifests BEFORE ``expire`` may delete the pre-compaction ones (the
        compaction commit itself never deletes data, so a kill between
        compact and amend resumes fine from the old manifest)."""
        path = os.path.join(self._tdir("checkpoints"), f"round-{round_no:06d}.json")
        with open(path) as f:
            rec = json.load(f)
        rec.update(updates)
        tmp = os.path.join(self._tdir("checkpoints"), f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, path)

    def last_checkpoint(self) -> dict | None:
        d = self._tdir("checkpoints")
        if not os.path.isdir(d):
            return None
        rounds = sorted(f for f in os.listdir(d) if f.startswith("round-"))
        if not rounds:
            return None
        with open(os.path.join(d, rounds[-1])) as f:
            return json.load(f)

    def current_snapshot(self, table: str) -> str | None:
        """Current manifest id (recorded in checkpoints for exact resume)."""
        return self._current_snap(table)

    def snapshots(self, table: str) -> list[dict]:
        """Retained manifest history, oldest first (Iceberg
        ``table.snapshots()`` analogue): manifest id, part/byte counts, the
        round tags it covers, and whether it is the current pointer. Only
        manifests ``expire`` has retained appear — history is bounded by
        ``keep_manifests``, not by table age."""
        tdir = self._tdir(table)
        cur = self._current_snap(table)
        out = []
        for m in sorted(f for f in os.listdir(tdir) if f.startswith("mani-")):
            parts = self._read_manifest(table, m)
            out.append(
                {
                    "manifest": m,
                    "n_parts": len(parts),
                    "bytes": sum(p.get("bytes", 0) for p in parts),
                    "rounds": sorted(
                        {p["round"] for p in parts if p.get("round") is not None}
                    ),
                    "is_current": m == cur,
                }
            )
        return out

    def read_at(self, table: str, mani: str) -> DataFrame:
        """Time-travel read (Iceberg ``VERSION AS OF`` analogue): scan the
        table exactly as manifest ``mani`` committed it, WITHOUT moving the
        ``_current`` pointer — ``restore`` rolls the table back,
        ``read_at`` only looks back. Works for any retained manifest;
        per-part predicate pushdown and partition pruning apply as in
        ``read``. Raises FileNotFoundError once ``expire`` has dropped it."""
        if not os.path.isfile(os.path.join(self._tdir(table), mani)):
            raise FileNotFoundError(f"manifest {mani!r} of {table!r} not found")
        return self._scan(table, self._read_manifest(table, mani))

    def read_between(self, table: str, from_mani: str, to_mani: str) -> DataFrame:
        """Incremental scan (Iceberg incremental-read analogue): only the
        part directories ``to_mani`` references that ``from_mani`` does not
        — i.e. the data appended between the two commits. Downstream
        incremental consumers (index deltas, bloom segments, re-dedup of
        changed rows) read O(new data), never the whole table. Parts are
        immutable and content-addressed by path, so the set difference IS
        the row difference for append-only tables; after a compaction the
        rewritten parts appear new by path (callers diff across compaction
        boundaries via round tags instead — ``read_parts_range``)."""
        for m in (from_mani, to_mani):
            if not os.path.isfile(os.path.join(self._tdir(table), m)):
                raise FileNotFoundError(f"manifest {m!r} of {table!r} not found")
        old = {p["path"] for p in self._read_manifest(table, from_mani)}
        new_parts = [
            p for p in self._read_manifest(table, to_mani) if p["path"] not in old
        ]
        if not new_parts:
            return self.read_at(table, to_mani).limit(0)
        return self._scan(table, new_parts)

    def restore(self, table: str, mani: str) -> None:
        """Roll the table's pointer back to an earlier manifest (Iceberg
        time-travel / rollback analogue) — used on resume to discard the
        uncommitted mutations of a killed round."""
        if not os.path.isfile(os.path.join(self._tdir(table), mani)):
            raise FileNotFoundError(f"manifest {mani!r} of {table!r} not found")
        tmp = self._current_file(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(mani)
        os.replace(tmp, self._current_file(table))

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)


def table_column_stats(
    df: "DataFrame",
    columns: list[str] | None = None,
) -> "DataFrame":
    """ANALYZE-style per-column statistics — the table profile a
    cost-based optimizer (and a data engineer eyeballing a new dump)
    needs: exact NDV, null fraction, min/max (as strings, so one schema
    serves every type), and average serialized length.

    The reference bootstraps its ES mappings with per-field stats
    implicitly; Spark's `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS` is the engine-native twin — this operator is the
    DataFrame-level version that works on ANY frame (not just catalog
    tables) and returns the stats AS DATA for assertions and drift
    gates (pair with ``aggs.distribution_drift`` for the value-level
    check).

    One wide aggregate per column batched into a single pass (Catalyst
    collapses the per-column expressions into one Aggregate — the scan
    happens once), then a metadata-sized unpivot. Exact NDV is a
    count-distinct per column in the same pass; swap in the HLL segments
    (``operators/hll.py``) when a 10^10-row profile can tolerate ±2%.

    Returns (column, n_rows, n_nulls, null_frac, ndv, min_str, max_str,
    avg_len): ``avg_len`` = mean length of the string form, rounded 2;
    ratios rounded 6.
    """
    from pyspark.sql import functions as F  # local: keep module header lean

    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        s = col.cast("string")
        aggs += [
            F.sum(col.isNull().cast("bigint")).alias(f"__null_{c}"),
            F.count_distinct(col).alias(f"__ndv_{c}"),
            F.min(s).alias(f"__min_{c}"),
            F.max(s).alias(f"__max_{c}"),
            F.avg(F.length(s)).alias(f"__len_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    n = int(row["__n"])
    out = []
    for c in cols:
        nn = int(row[f"__null_{c}"] or 0)
        avg_len = row[f"__len_{c}"]
        out.append(
            (
                c,
                n,
                nn,
                round(nn / n, 6) if n else None,
                int(row[f"__ndv_{c}"] or 0),
                row[f"__min_{c}"],
                row[f"__max_{c}"],
                round(float(avg_len), 2) if avg_len is not None else None,
            )
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        out,
        "column string, n_rows bigint, n_nulls bigint, null_frac double, "
        "ndv bigint, min_str string, max_str string, avg_len double",
    )
