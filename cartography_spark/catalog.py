"""GraphCatalog — the stored property graph as a catalog of DataFrames.

Reference: the graph lives in Neo4j; here it is
``nodes[label] -> DataFrame`` and ``edges[(src_label, rel, dst_label)] ->
DataFrame`` (SURVEY §1.4). Node tables always carry the engine-managed
columns ``id``, ``firstseen``, ``lastupdated`` (reference nodes.py:48-70);
edge tables carry ``(src_id, dst_id, firstseen, lastupdated, ...props)``.

Scale design: tables are plain DataFrames so they can be parquet- or
Delta-backed; ``save``/``load`` round-trips through parquet partitioned by
the tenant column when one is declared — the Spark analogue of the
reference's tenant-scoped cleanup indexes (partition pruning replaces
index seeks, SURVEY §4).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.session import run_concurrently

EdgeKey = tuple[str, str, str]  # (src_label, rel_label, dst_label)

ENGINE_NODE_COLS = ("id", "firstseen", "lastupdated")
ENGINE_EDGE_COLS = ("src_id", "dst_id", "firstseen", "lastupdated")


def _table_dirs(path: str) -> list[str]:
    """Sorted table directory names under ``path``, skipping the ``_``- and
    ``.``-prefixed entries (``_SUCCESS``, ``_temporary``, ``.DS_Store``) that
    Spark's own file index treats as hidden."""
    if not os.path.isdir(path):
        return []
    return sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))


@dataclass
class GraphCatalog:
    spark: SparkSession
    nodes: dict[str, DataFrame] = field(default_factory=dict)
    edges: dict[EdgeKey, DataFrame] = field(default_factory=dict)
    # partition column per label (e.g. tenant id) for parquet layout
    partition_cols: dict[str, str] = field(default_factory=dict)

    def node(self, label: str) -> DataFrame:
        if label not in self.nodes:
            raise KeyError(f"unknown node label {label!r}; have {sorted(self.nodes)}")
        return self.nodes[label]

    def edge(self, src_label: str, rel: str, dst_label: str) -> DataFrame:
        key = (src_label, rel, dst_label)
        if key not in self.edges:
            raise KeyError(f"unknown edge {key!r}; have {sorted(self.edges)}")
        return self.edges[key]

    def set_node(self, label: str, df: DataFrame) -> None:
        missing = [c for c in ENGINE_NODE_COLS if c not in df.columns]
        if missing:
            raise ValueError(f"node table {label!r} missing engine columns {missing}")
        self.nodes[label] = df

    def set_edge(self, key: EdgeKey, df: DataFrame) -> None:
        missing = [c for c in ENGINE_EDGE_COLS if c not in df.columns]
        if missing:
            raise ValueError(f"edge table {key!r} missing engine columns {missing}")
        self.edges[key] = df

    def copy(self) -> GraphCatalog:
        """Shallow copy: DataFrames are immutable, so copying the dicts gives
        an independently mutable catalog sharing the underlying plans."""
        return GraphCatalog(
            self.spark,
            dict(self.nodes),
            dict(self.edges),
            dict(self.partition_cols),
        )

    def checkpoint(self) -> None:
        """Truncate plan lineage on every table. Each sync stage chains a
        full-outer merge over the previous table; after many stages Catalyst
        replans the whole chain per action (quadratic). Call between stages
        (or rely on ``save``/``load`` which truncates via parquet) — the
        reference gets this implicitly because Neo4j persists every write."""
        for label, df in list(self.nodes.items()):
            self.nodes[label] = df.localCheckpoint(eager=True)
        for key, df in list(self.edges.items()):
            self.edges[key] = df.localCheckpoint(eager=True)

    # -- persistence ---------------------------------------------------------

    def save(self, path: str) -> None:
        """Write every table as parquet under ``path`` (tenant-partitioned
        when a partition column is registered). The writes run concurrently;
        a failed write is raised after the others finish."""
        writes = []
        for label, df in self.nodes.items():
            w = df.write.mode("overwrite")
            part = self.partition_cols.get(label)
            if part and part in df.columns:
                w = w.partitionBy(part)
            writes.append(partial(w.parquet, f"{path}/nodes/{label}"))
        for (sl, rl, dl), df in self.edges.items():
            writes.append(partial(df.write.mode("overwrite").parquet, f"{path}/edges/{sl}__{rl}__{dl}"))
        run_concurrently(self.spark, writes)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> GraphCatalog:
        """Read back a catalog written by ``save``. Tables are registered in
        sorted name order; their reads (and schema inference) run
        concurrently."""
        node_dir, edge_dir = f"{path}/nodes", f"{path}/edges"
        labels, names = _table_dirs(node_dir), _table_dirs(edge_dir)
        frames = run_concurrently(
            spark,
            [partial(spark.read.parquet, f"{node_dir}/{label}") for label in labels]
            + [partial(spark.read.parquet, f"{edge_dir}/{name}") for name in names],
        )
        cat = cls(spark)
        for label, df in zip(labels, frames):
            cat.nodes[label] = df
        for name, df in zip(names, frames[len(labels):]):
            sl, rl, dl = name.split("__")
            cat.edges[(sl, rl, dl)] = df
        return cat

    # -- test helpers (ports of reference integration-test asserts,
    #    tests/integration/util.py:11-80) -----------------------------------

    def check_nodes(self, label: str, attrs: list[str]) -> set[tuple]:
        return {tuple(r) for r in self.node(label).select(*attrs).collect()}

    def check_rels(
        self,
        src_label: str,
        src_attr: str,
        dst_label: str,
        dst_attr: str,
        rel: str,
    ) -> set[tuple]:
        e = self.edge(src_label, rel, dst_label).select("src_id", "dst_id")
        s = self.node(src_label).select(F.col("id").alias("src_id"), F.col(src_attr).alias("_src_attr"))
        d = self.node(dst_label).select(F.col("id").alias("dst_id"), F.col(dst_attr).alias("_dst_attr"))
        joined = e.join(s, "src_id").join(d, "dst_id").select("_src_attr", "_dst_attr")
        return {tuple(r) for r in joined.collect()}
