"""Round barrier and fixpoint drivers shared by the converging iterative
operators (closure, BFS, connected components, HITS, near-dup clustering).

Every round of these loops ends the same way: the round's frame is
materialized with an eager ``localCheckpoint`` (flat lineage for the next
round), and a scalar the driver branches on (rows changed, frontier size,
a renorm divisor) is gathered by ``Dataset.observe`` DURING that same
job — one Spark action per round, never a separate ``count()``.
:func:`round_barrier` is the only place that happens; the two drivers
below build the two loop shapes on it.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def round_barrier(df: DataFrame, metric: Column) -> tuple[DataFrame, object]:
    """Materialize one round: returns the checkpointed ``df`` and the
    value of the aggregate ``metric`` over its rows, both from ONE job."""
    obs = Observation()
    df = df.observe(obs, metric.alias("__m")).localCheckpoint(eager=True)
    return df, obs.get["__m"]


def label_fixpoint(
    labels: DataFrame,
    hop: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    label: str = "lbl",
) -> DataFrame:
    """Iterate ``labels = hop(labels)`` until no label changes, at most
    ``max_rounds`` times, one barrier per hop (two hops per barrier
    measured 15-20% slower on the dedup graphs; SCALE.md round 5).

    ``hop`` returns the next labels with the input label carried as a
    ``prev`` column in its own final select, so the changed-count is a
    row-local predicate — no join of the new labels against the old.
    Breaking at the first unchanged round keeps the result identical to
    running all ``max_rounds``.
    """
    for _ in range(max_rounds):
        stepped, changed = round_barrier(
            hop(labels), F.count_if(F.col(label) != F.col("prev"))
        )
        labels = stepped.drop("prev")
        if changed == 0:
            break
    return labels


def frontier_fixpoint(
    seed: DataFrame,
    expand: Callable[[DataFrame, DataFrame, int], DataFrame],
    max_rounds: int,
) -> DataFrame:
    """Grow a reached set one frontier at a time: round ``k`` (1-based)
    materializes ``expand(frontier, reached, k)`` — the rows first found in
    that round, which become the next frontier — and stops early on an
    empty round.

    Only the new chunk is checkpointed; ``reached`` stays a lazy union of
    the per-round chunks (each leaf a checkpoint scan), so no round
    rewrites the whole reached set and total materialized bytes are
    O(result), not O(result x rounds).
    """
    chunks = [seed]
    for k in range(1, max_rounds + 1):
        reached = reduce(DataFrame.unionByName, chunks)
        new, n = round_barrier(expand(chunks[-1], reached, k), F.count("*"))
        if n == 0:
            break
        chunks.append(new)
    return reduce(DataFrame.unionByName, chunks)
