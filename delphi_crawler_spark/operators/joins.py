"""Ordered / resolution joins (reference parity: J1-J5).

The reference does all of its joins procedurally — lookup loops against the
store or sequential walks over dependency lists. Each maps to one Spark
join shape:

- J1 existence anti-join      -> ``seen.seen_anti_join`` (hash-probed)
- J2 identity lookup          -> ``left_semi`` (implicit inside MERGE)
- J3 edge-in-store semi-join  -> ``semi_anti_split`` below
- J4 first-match ordered join -> ``first_match_join`` below
- J5 version-range resolution -> ``resolve_versions`` below
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from delphi_crawler_spark.functions.versions import version_sort_key


def semi_anti_split(
    probe: DataFrame, build: DataFrame, on: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Partition ``probe`` into (hits, misses) against ``build`` — the
    reference's batched multi-search that splits calls into (mapped,
    unmapped) (ElasticEdgeSearchActor.scala:39-52,65-77). Its batch-of-100
    segmentation is exactly what Spark partitioning gives for free."""
    hits = probe.join(build, on, "left_semi")
    misses = probe.join(build, on, "left_anti")
    return hits, misses


def first_match_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_key: str,
    order_col: str | list[str],
    valid_col: str | None = None,
) -> DataFrame:
    """Ordered first-match join (J4): join produces ALL matches, then the
    first by ``order_col`` per ``left_key`` claims the row — the reference's
    sequential "first library that resolves a call wins" walk
    (MavenEdgeMappingActor.scala:36-83) without the sequential scan.

    ``valid_col`` is the failure-cascade channel (MavenEdgeMappingActor.
    scala:41-44: a library whose processing fails is SKIPPED and the walk
    cascades to the next candidate): matches where the boolean ``valid_col``
    is false/null are excluded BEFORE ranking, so the next-ordered candidate
    wins; a left row whose every candidate failed drops out entirely (the
    reference's unmapped-edge outcome).

    ``order_col`` must be a total order per ``left_key`` (pass a list with a
    tiebreak column otherwise) — the determinism discipline: a tie here would
    make the pick shuffle-dependent.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    matched = left.join(right, on, "inner")
    if valid_col is not None:
        matched = matched.filter(F.coalesce(F.col(valid_col), F.lit(False)))
    w = Window.partitionBy(left_key).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def resolve_versions(
    dep_specs: DataFrame,
    available: DataFrame,
    group_cols: list[str],
    spec_col: str = "version_spec",
    version_col: str = "version",
) -> DataFrame:
    """Version-range resolution (J5): for each dependency spec, pick the
    concrete version — the spec itself when the artifact publishes it, else
    the smallest available version >= spec in Maven version order, else the
    largest available (MavenDependencyActor.scala:60-91).

    Both sides get a sort-key column (C6 pandas UDF) once; the pick is pure
    window math on the key, so the comparator never runs row-at-a-time in
    a join condition.
    """
    avail = available.withColumn("__vk", version_sort_key(F.col(version_col)))
    specs = dep_specs.withColumn("__sk", version_sort_key(F.col(spec_col)))
    joined = specs.join(avail, group_cols, "left")
    exact = F.col(version_col) == F.col(spec_col)
    gte = F.col("__vk") >= F.col("__sk")
    w = Window.partitionBy(*group_cols, spec_col)
    picked = (
        joined.withColumn("__has_exact", F.max(exact.cast("int")).over(w))
        .withColumn("__has_gte", F.max(gte.cast("int")).over(w))
        .withColumn(
            "__pick_rank",
            F.when(F.col("__has_exact") == 1, F.when(exact, F.lit(0)).otherwise(F.lit(None)))
            .when(F.col("__has_gte") == 1, F.when(gte, F.row_number().over(
                w.orderBy(F.col("__vk").asc(), F.col(version_col).asc()))).otherwise(F.lit(None)))
            .otherwise(F.row_number().over(
                w.orderBy(F.col("__vk").desc(), F.col(version_col).desc()))),
        )
    )
    w2 = Window.partitionBy(*group_cols, spec_col).orderBy(
        F.col("__pick_rank").asc_nulls_last(), F.col(version_col).asc()
    )
    return (
        picked.filter(F.col("__pick_rank").isNotNull())
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .select(*group_cols, spec_col, F.col(version_col).alias("resolved_version"))
    )
