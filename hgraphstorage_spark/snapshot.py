"""Immutable graph snapshot — the engine's unit of state.

The reference mutates fixed-length records in place and threads adjacency
through linked lists (``HGraphStorage/src/.../Types.hs:62-111``). On Spark
the natural equivalent is an immutable triple of DataFrames; every mutation
produces a *new* snapshot (SURVEY.md §7 design stance), which is what makes
MVCC/snapshot isolation (``LowLevelDB/src/.../MVCC.hs:271-298``) free.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hgraphstorage_spark import schemas


@dataclass(frozen=True)
class GraphSnapshot:
    """nodes(id,label) / edges(id,src,dst,label) / props(long format).

    ``version`` is the MVCC commit id of this snapshot (reference
    ``txCommittedID``, ``MVCC.hs:220-225``): snapshot N is what a
    transaction started after commit N sees.
    """

    nodes: DataFrame
    edges: DataFrame
    props: DataFrame
    version: int = 0
    # index registry: name -> (labels tuple, prop names tuple); index data
    # is derived from it in `indexes`
    index_registry: tuple = field(default_factory=tuple)
    # ID high-water marks (reference ``MaxIDs`` singleton record,
    # ``Types.hs:296-304``): deleted ids are never reused (divergence from
    # the reference's free lists — SURVEY.md §7). None = unknown (bulk
    # load); computed lazily on first row-level insert.
    max_node_id: int | None = None
    max_edge_id: int | None = None
    # Optional derived-label rule: a callable (id Column) -> label Column,
    # set by sources whose id scheme encodes the node type (the Spark
    # analogue of the reference packing ``oType`` into every fixed record,
    # ``Types.hs:62-68``). When present, hydrating a hop frontier's labels
    # is a projection instead of a join against the full nodes table — at
    # 100 TB that join is the difference between probing an id range and
    # shuffling the node set. Mutations that can break the encoding
    # (adding/relabeling nodes) must clear it.
    label_from_id: object = None
    # the driver-side delta these tables were built from by row-level
    # writes (``mutations.apply_op``); None = the tables are their own base
    _overlay: object = field(default=None, compare=False, repr=False)

    @cached_property
    def indexes(self) -> dict:
        """name -> index DataFrame (INDEX_SCHEMA) for every registered
        index, derived from this snapshot's own tables on first access and
        cached on this object. Every mutation makes a new snapshot
        (``replace``), so an index never outlives the tables it was built
        from; building is plan construction only, no Spark job."""
        from hgraphstorage_spark.engine import build_index

        return {name: build_index(self, labels, props) for name, labels, props in self.index_registry}

    # -- reference A1: maintained counters (STMGraph nbNodes/nbEdges,
    # STMGraph/src/.../API.hs:49-53). Spark-side these are actions.
    def nb_nodes(self) -> int:
        return self.nodes.count()

    def nb_edges(self) -> int:
        return self.edges.count()

    def node_props(self) -> DataFrame:
        return self.props.filter(F.col("owner_kind") == schemas.NODE_KIND)

    def edge_props(self) -> DataFrame:
        return self.props.filter(F.col("owner_kind") == schemas.EDGE_KIND)

    def with_version(self, version: int) -> "GraphSnapshot":
        return replace(self, version=version)

    def cache(self) -> "GraphSnapshot":
        """Pin all three tables in memory (reference S5 bulk `load`)."""
        self.nodes.cache()
        self.edges.cache()
        self.props.cache()
        return self

    def unpersist(self) -> "GraphSnapshot":
        self.nodes.unpersist()
        self.edges.unpersist()
        self.props.unpersist()
        return self

    # -- persistence (reference S1 open/close + S7 checkpoint): parquet dirs
    def write(self, path: str, mode: str = "overwrite") -> None:
        """Persist the snapshot. At scale: nodes/edges partitioned by label so
        type-whitelist traversals prune files; props partitioned by
        (owner_kind, name) so a ``Has``/``Values`` on one property name reads
        only that name's files (SURVEY.md §4 partition pruning). Property
        names are schema-like (low cardinality), so the file count stays
        bounded.
        """
        self.nodes.write.mode(mode).partitionBy("label").parquet(f"{path}/nodes")
        self.edges.write.mode(mode).partitionBy("label").parquet(f"{path}/edges")
        self.props.write.mode(mode).partitionBy("owner_kind", "name").parquet(f"{path}/props")

    @staticmethod
    def _read_table(spark: SparkSession, path: str, schema, cols):
        """Read one snapshot table; an EMPTY table written partitioned
        leaves a schema-less directory (no part files), which parquet
        cannot infer — fall back to the canonical empty DataFrame, but
        only when the directory really exists (a wrong path must still
        raise, not silently read as empty)."""
        import os

        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(path).select(*cols)
        except AnalysisException:
            if not os.path.isdir(path.removeprefix("file:")):
                raise
            return spark.createDataFrame([], schema)

    @staticmethod
    def read(spark: SparkSession, path: str, version: int = 0) -> "GraphSnapshot":
        prop_cols = [f.name for f in schemas.PROPS_SCHEMA.fields]
        # reselect: partition columns come back last and as read-schema
        # strings; restore canonical order
        return GraphSnapshot(
            nodes=GraphSnapshot._read_table(
                spark, f"{path}/nodes", schemas.NODES_SCHEMA, ["id", "label"]
            ),
            edges=GraphSnapshot._read_table(
                spark, f"{path}/edges", schemas.EDGES_SCHEMA, ["id", "src", "dst", "label"]
            ),
            props=GraphSnapshot._read_table(
                spark, f"{path}/props", schemas.PROPS_SCHEMA, prop_cols
            ),
            version=version,
        )

    @staticmethod
    def empty(spark: SparkSession) -> "GraphSnapshot":
        return GraphSnapshot(
            nodes=spark.createDataFrame([], schemas.NODES_SCHEMA),
            edges=spark.createDataFrame([], schemas.EDGES_SCHEMA),
            props=spark.createDataFrame([], schemas.PROPS_SCHEMA),
            version=0,
        )
