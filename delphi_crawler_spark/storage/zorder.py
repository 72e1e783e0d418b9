"""Z-order (Morton-curve) clustered table layout for multi-column file skipping.

Directory partitioning (the tablestore's hidden bucket(n, host) spec)
prunes on ONE axis; bucketing (storage/bucketing.py) co-locates ONE join
key. A 100-TB crawl store is also range-queried on TWO axes at once —
(host bucket, discovery_round), (url_hash, ts), (doc length, quality score) — and a sort
on either axis alone leaves the other scattered across every file, so
min/max footer stats prune nothing. Z-ORDERING interleaves the bits of
both keys into one Morton code and range-partitions + sorts files by it:
points close in (x, y) land in the same files, every file covers a small
(x, y) rectangle, and a 2-D box predicate skips most files from parquet
footer min/max stats alone. This is the same layout Delta OPTIMIZE ZORDER
BY and Iceberg's zorder sort-order rewrite apply (public algorithm:
Morton 1966; Orenstein & Merrett 1984); implemented here from scratch as
pure JVM bit arithmetic — no UDF, whole-stage-codegen all the way.

Scale shape: the key is a narrow integer expression (codegen, no shuffle
of its own); the write is ONE repartitionByRange on the key (sampled range
boundaries — the same exchange any sorted write pays) + partition-local
sort. Reads stay plain parquet: skipping comes from footer stats, so ANY
engine (Spark, DuckDB, Trino) benefits with no catalog dependency.

Reference parity: the reference's Elasticsearch store gets multi-field
pruning from inverted indexes per field (ElasticStoreQueries.scala); this
is the columnar-lake equivalent for its two hottest compound reads.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer columns
    into a single Morton (Z-order) code: bit i of x lands at position 2i,
    bit i of y at 2i+1. Pure JVM expression (shift/and/sum — the summed
    terms occupy disjoint bit positions, so + is |); stays inside
    whole-stage codegen, no UDF, no shuffle.

    Inputs are masked to ``bits`` bits (callers hash-or-mod into range
    first); 2*bits must fit a signed 64-bit long, so bits <= 31.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"morton_key bits must be in [1, 31], got {bits}")
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a + b, terms).alias("zkey")


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = 16,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered on the Morton code of (x, y):
    one range-exchange on the z-key (sampled boundaries — the exchange any
    clustered write pays once), partition-local sort, ``n_files`` output
    files each covering a compact (x, y) rectangle. The z-key itself is
    NOT persisted — skipping reads only the x/y footer min/max stats, so
    readers need no knowledge of the layout.
    """
    key = morton_key(x, y, bits=bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def files_touched_by_box(
    path: str,
    x: str,
    y: str,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
) -> tuple[int, int]:
    """Footer-stats skipping audit: (files a 2-D box predicate must read,
    total files), decided EXACTLY the way a parquet reader prunes — from
    per-file column min/max statistics, no row data touched. Driver-side
    metadata read only (one footer per file; at 100 TB this is the
    manifest scan every lake engine does)."""
    import os

    import pyarrow.parquet as pq

    touched = 0
    total = 0
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        xmin = ymin = None
        xmax = ymax = None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                cname = col.path_in_schema
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                if cname == x:
                    xmin = st.min if xmin is None else min(xmin, st.min)
                    xmax = st.max if xmax is None else max(xmax, st.max)
                elif cname == y:
                    ymin = st.min if ymin is None else min(ymin, st.min)
                    ymax = st.max if ymax is None else max(ymax, st.max)
        if xmin is None or ymin is None:
            touched += 1  # no stats: must read
            continue
        if xmax < x_range[0] or xmin > x_range[1]:
            continue
        if ymax < y_range[0] or ymin > y_range[1]:
            continue
        touched += 1
    return touched, total


def zone_map_prune_stats(
    manifest: DataFrame,
    predicates: DataFrame,
    layout_col: str = "layout",
    min_col: str = "min_key",
    max_col: str = "max_key",
) -> DataFrame:
    """File-skipping effectiveness of a layout's zone maps (the min/max
    per-file stats every parquet/Iceberg manifest carries): for each
    range predicate ``[lo, hi]``, a file must be scanned iff
    ``min_key <= hi AND max_key >= lo`` — otherwise the scan planner
    prunes it without opening it. The skip ratio per (layout, predicate)
    is THE number that justifies clustering work (``zorder_key``,
    ``compaction_plan``): a clustered layout skips ~(1 - selectivity) of
    files, an append-order layout with wide overlapping ranges skips
    ~nothing for the same data.

    Inputs: ``manifest`` (layout, file_id, min_key, max_key) and
    ``predicates`` (pred_id, lo, hi). Predicates are a handful of rows —
    broadcast cross join against the manifest, then one (layout, pred)
    hash-agg. Pure JVM comparisons.
    """
    p = predicates.select("pred_id", "lo", "hi")
    j = manifest.crossJoin(F.broadcast(p))
    scanned = (F.col(min_col) <= F.col("hi")) & (F.col(max_col) >= F.col("lo"))
    return (
        j.groupBy(layout_col, "pred_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(scanned, 1).otherwise(0)).cast("bigint").alias("n_scanned"),
        )
        .select(
            layout_col,
            "pred_id",
            "n_files",
            "n_scanned",
            (F.col("n_files") - F.col("n_scanned")).cast("bigint").alias("n_skipped"),
            F.round(
                (F.col("n_files") - F.col("n_scanned")) / F.col("n_files"), 6
            ).alias("skip_ratio"),
        )
    )


def key_overlap_depth(
    files: DataFrame,
    file_col: str = "file_id",
    min_col: str = "min_key",
    max_col: str = "max_key",
) -> DataFrame:
    """Key-range overlap-depth profile over a file manifest — THE
    clustering-health metric (LSM compaction triggers and Iceberg
    rewrite_data_files both key off it): for every point of the key
    space, how many files' [min,max] ranges cover it. Depth 1 everywhere
    = perfectly clustered (a point lookup reads one file); depth ~ n =
    fully overlapping (every lookup reads everything, zone maps
    useless, time to re-sort).

    Sweep-line over the boundary-event table: +1 at each file's min,
    -1 at max+1 (closed integer intervals), running sum over the sorted
    distinct boundaries. The window runs over the BOUNDARY table (≤ 2
    rows per file — manifest-sized, the key_skew_gini discipline), never
    the data. Returns one row per boundary segment: (pos, next_pos,
    depth) — next_pos NULL on the last segment (depth 0 past the end).
    Feed ``F.max("depth")`` / a depth-weighted avg off this profile for
    the alert scalar."""
    lo = files.select(F.col(min_col).cast("bigint").alias("pos"), F.lit(1).alias("d"))
    hi = files.select(
        (F.col(max_col).cast("bigint") + 1).alias("pos"), F.lit(-1).alias("d")
    )
    ev = lo.unionByName(hi).groupBy("pos").agg(F.sum("d").alias("dd"))
    from pyspark.sql import Window

    w = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("pos")
    return ev.select(
        "pos",
        F.lead("pos").over(wl).alias("next_pos"),
        F.sum("dd").over(w).cast("bigint").alias("depth"),
    )
