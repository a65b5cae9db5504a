"""The shared round barrier and fixpoint drivers (operators/iterate.py):
one job per round, and no round past the fixed point."""

from __future__ import annotations

from pyspark.sql import functions as F


def _jobs_run(spark, action):
    """``(jobs, result)``: the Spark jobs submitted while ``action()`` runs
    (scheduler job-id delta), and what it returned."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    result = action()
    return scheduler.nextJobId() - before, result


def test_round_barrier_is_one_job(spark):
    from cartography_spark.operators.iterate import round_barrier

    df = spark.range(10).withColumn("x", F.col("id") % 3)
    jobs, (out, m) = _jobs_run(spark, lambda: round_barrier(df, F.max("x")))
    assert jobs == 1 and m == 2
    assert sorted(r.id for r in out.collect()) == list(range(10))


def test_fixpoint_drivers_stop_at_convergence(spark):
    """On a 6-node chain every driver reaches its fixed point within a
    bound of 6; raising the bound must add no Spark job (a driver that
    lost its early exit would run one more barrier per extra round)."""
    from cartography_spark.operators.closure import transitive_closure
    from cartography_spark.operators.dedup import cluster_min_label, cluster_min_label_bipartite

    chain = [(i, i + 1) for i in range(1, 6)]
    pairs = spark.createDataFrame(chain, "a long, b long")
    mem = spark.createDataFrame(
        [(d, f"b{a}") for a, b in chain for d in (a, b)], "doc_id long, bucket string"
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in chain], "src_id string, dst_id string"
    )
    runs = {
        "cluster_min_label": lambda k: cluster_min_label(pairs, verts, max_iter=k),
        "cluster_min_label_bipartite": lambda k: cluster_min_label_bipartite(mem, verts, max_iter=k),
        "transitive_closure": lambda k: transitive_closure(edges, max_hops=k),
    }
    for name, build in runs.items():
        jobs, rows = zip(*(
            _jobs_run(spark, lambda: {tuple(r) for r in build(k).collect()}) for k in (6, 7, 8)
        ))
        assert len(set(jobs)) == 1, (name, jobs)
        assert rows[0] == rows[1] == rows[2], name
    assert rows[0] == {(str(a), str(b), b - a) for a in range(1, 7) for b in range(a + 1, 7)}
