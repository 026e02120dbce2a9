"""Hot-bucket routing for every quadratic band join.

Every corpus join on a bucket key (SimHash bands, MinHash bands, LSH
sketch bands, the repo-fork bands) has the same skew hazard: one
over-populated bucket serializes its |bucket|^2 comparison into a
single task.  `salted_join` is the one remedy, used by every band
join in the package.  Keys whose build-side bucket holds more than
`cap` rows (a tiny histogram tail, cut once and broadcast) are hot;
the join runs on keys + salt, where

  * hot build rows take salt pmod(xxhash64(build_id), salt_partitions),
  * hot probe rows are replicated once per salt value,
  * cold rows take salt 0 on both sides.

Each (build, probe) pair meets in exactly one salt: a bucket is
entirely hot or entirely cold, so a salt-0 cold row never meets a hot
replica.  Routing therefore never changes the join's result, only how
its work spreads: one exchange pair, each side evaluated once, and a
hot bucket's block split across `salt_partitions` tasks.

SemDeDup's within-cluster screen is a grouped pass, not a join; it
salts its hot clusters with the same `hot_keys`, `salt_of` and
`all_salts`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The `keys` tuples holding more than `cap` rows of `df`: a tiny
    histogram tail, lineage-cut so the aggregation runs once however
    many sides read it."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > int(cap))
        .select(*keys)
        .localCheckpoint(eager=False)
    )


def salt_of(id_col: str, salt_partitions: int) -> Column:
    """A hot row's salt: pmod(xxhash64(id), salt_partitions)."""
    return F.pmod(F.xxhash64(id_col), F.lit(int(salt_partitions))).cast("int")


def all_salts(salt_partitions: int) -> Column:
    """Every salt value, for the replicated side of a hot bucket."""
    return F.array(*[F.lit(i) for i in range(int(salt_partitions))])


def salted_join(
    build: DataFrame,
    probe: DataFrame,
    keys: list[str],
    build_id: str,
    cap: int,
    salt_partitions: int,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Inner equi-join of `build` and `probe` on `keys` (plus a `salt`
    column the caller may ignore), hot keys spread by salt.

    hot: precomputed frame of the hot `keys` tuples (e.g. a layout's
    stats table); by default the build side's over-`cap` histogram."""
    if hot is None:
        hot = hot_keys(build, keys, cap)
    flag = F.broadcast(hot.select(*keys, F.lit(True).alias("_hot")))
    is_hot = F.col("_hot").isNotNull()
    build = build.join(flag, keys, "left").withColumn(
        "salt",
        F.when(is_hot, salt_of(build_id, salt_partitions)).otherwise(F.lit(0)),
    ).drop("_hot")
    probe = probe.join(flag, keys, "left").withColumn(
        "salt",
        F.explode(
            F.when(is_hot, all_salts(salt_partitions)).otherwise(F.array(F.lit(0)))
        ),
    ).drop("_hot")
    return build.join(probe, [*keys, "salt"])
