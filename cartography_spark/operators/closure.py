"""Bounded transitive closure — the one genuinely "graph" operator the
reference uses: variable-length patterns ``[:REL*1..k]`` (14 use sites, e.g.
intel/googleworkspace/groups.py, intel/keycloak/inheritance.py,
analysis/ontology/analysis.py ``*0..6``; SURVEY §2.3).

Spark-first: iterative self-join to a fixed point with a hop bound and a
visited-set dedup each round (cycle protection). Each iteration is one
shuffle on the join key; frontier-only expansion keeps work proportional to
newly discovered pairs, and reached pairs are dropped from the frontier so
cycles terminate. The reference caps at 6 hops; we default the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.operators.iterate import frontier_fixpoint


def transitive_closure(
    edges: DataFrame,
    max_hops: int = 6,
    src: str = "src_id",
    dst: str = "dst_id",
    include_zero: bool = False,
) -> DataFrame:
    """All (src, dst, hops) pairs reachable in 1..max_hops steps, with
    ``hops`` = minimum hop count. ``include_zero`` adds (v, v, 0) for every
    vertex (the ``*0..`` variant); ``max_hops=0`` reaches nothing beyond
    those zero-hop rows.

    Each round joins the frontier (pairs found last round) against the base
    edge set and anti-joins out already-reached pairs; the frontier driver
    checkpoints only the new chunk and stops at the first empty round
    (:func:`~cartography_spark.operators.iterate.frontier_fixpoint`): one
    job per hop, total materialized bytes O(result), not O(result x hops).
    """
    if max_hops < 0:
        raise ValueError(f"transitive_closure requires max_hops >= 0, got {max_hops}")
    base = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    base = base.localCheckpoint(eager=True)  # probed every round (join + anti)

    def _expand(frontier: DataFrame, reached: DataFrame, k: int) -> DataFrame:
        grown = (
            frontier.alias("f")
            .join(base.alias("b"), F.col("f.dst") == F.col("b.src"))
            .select(F.col("f.src").alias("src"), F.col("b.dst").alias("dst"))
            .distinct()
            .withColumn("hops", F.lit(k + 1))
        )
        return grown.join(reached.select("src", "dst"), ["src", "dst"], "left_anti")

    one_hop = base.withColumn("hops", F.lit(1)).filter(F.lit(max_hops > 0))
    reached = frontier_fixpoint(one_hop, _expand, max_rounds=max_hops - 1)

    if include_zero:
        verts = base.select("src").union(base.select(F.col("dst").alias("src"))).distinct()
        zero = verts.select(F.col("src"), F.col("src").alias("dst")).withColumn("hops", F.lit(0))
        # min-hop semantics: a vertex reaching itself via a cycle keeps hops=0
        reached = zero.unionByName(reached.join(zero.select("src", "dst"), ["src", "dst"], "left_anti"))
    return reached.select(F.col("src").alias(src), F.col("dst").alias(dst), "hops")
