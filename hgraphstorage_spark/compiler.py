"""Traversal → DataFrame compiler.

The reference interprets a traversal by folding steps over a ``TState``
(``SUnknown → SAllNodes → SNodes → SEdges → SProperties``,
``STMGraph/src/Database/Graph/STMGraph/API.hs:252-346``), pointer-chasing
edge linked lists per step. Here each step contributes lazy DataFrame
transformations and Catalyst plans the *whole* chain at once — the
reference's ``SAllNodes`` laziness / filter-streaming
(``API.hs:278-283``) is subsumed by predicate pushdown, and the per-edge
``getObject`` N+1 pattern (``HGraphStorage/src/.../Query.hs:70-79``)
collapses into one hash join.

Scale design:
- node hydration (attaching ``label``) is deferred until a step actually
  needs it, so an N-hop chain is N joins against ``edges``, not 2N;
- small frontiers (``NID`` with few ids) mark the frontier side
  broadcastable so a 100 TB edge table is probed, not shuffled;
- ``Has`` compiles to a semi-join against the props table, whether or not
  an index is registered on the name: the props predicate matches on the
  value's dtype, and a checkpointed snapshot's props are partitioned by
  (owner_kind, name), so the scan is already pruned to that name;
- everything else (pushdown, empty-relation propagation, join strategy)
  is left to Catalyst + AQE on purpose.
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgraphstorage_spark import schemas
from hgraphstorage_spark import traversal as tr
from hgraphstorage_spark.snapshot import GraphSnapshot

# frontier sizes up to this many explicit ids get a broadcast hint
_BROADCAST_ID_LIMIT = 100_000

KIND_UNKNOWN = "unknown"
KIND_NODES = "nodes"
KIND_EDGES = "edges"
KIND_PROPERTIES = "properties"
KIND_EMPTY = "empty"
KIND_ERROR = "error"

def value_str() -> F.Column:
    """Canonical projection of a property value to one string column."""
    return F.coalesce(
        F.col("text_v"),
        F.col("int_v").cast("string"),
        F.lower(F.hex(F.col("bin_v"))),
        F.col("json_v"),
    )


class TraversalError(Exception):
    """Reference ``SError`` / ``Error`` result (``APITypes.hs:149-150``) —
    unhandled (state, step) combination, absorbed by composition."""


@dataclass
class TraversalResult:
    """Reference ``Result`` (``APITypes.hs:189-197``): Nodes | Edges |
    Properties names infos | Empty | Unknown | Error — as a typed
    DataFrame.

    - nodes: (id, label)
    - edges: (id, src, dst, label)
    - properties: long format (id, kind, label, name, seq, dtype, value)
    - empty: empty DataFrame with the schema of ``empty_as`` kind
    - error: ``kind == KIND_ERROR`` with the message in ``error`` — the
      reference's ``SError`` absorbed through composition and surfaced as
      an ``Error`` *result* (``APITypes.hs:149-150``, ``API.hs:346``),
      not an exception
    """

    kind: str
    df: DataFrame
    names: tuple | None = None  # requested names for Values; None = all
    error: str | None = None  # set iff kind == KIND_ERROR

    @property
    def is_error(self) -> bool:
        return self.kind == KIND_ERROR

    def ids(self) -> list:
        return [r["id"] for r in self.df.select("id").collect()]

    def count(self) -> int:
        return self.df.count()

    def collect(self):
        return self.df.collect()


class _State:
    def __init__(self, snapshot: GraphSnapshot):
        self.snapshot = snapshot
        self.kind = KIND_UNKNOWN
        self.df: DataFrame | None = None
        self.has_label_col = False
        self.small_frontier = False
        self.names: tuple | None = None

    # -- helpers ---------------------------------------------------------
    def ensure_label(self) -> None:
        """Hydrate node labels: a pure projection when the snapshot's id
        scheme encodes the type (``label_from_id``), else a deferred join
        against the nodes table."""
        if self.kind == KIND_NODES and not self.has_label_col:
            if self.snapshot.label_from_id is not None:
                self.df = self.df.select(
                    "id", self.snapshot.label_from_id(F.col("id")).alias("label")
                )
            else:
                frontier = self.df
                if self.small_frontier:
                    frontier = F.broadcast(frontier)
                self.df = frontier.join(self.snapshot.nodes, "id", "inner").select("id", "label")
            self.has_label_col = True

    def to_empty(self, as_kind: str) -> None:
        spark = self.snapshot.nodes.sparkSession
        if as_kind == KIND_NODES:
            self.df = spark.createDataFrame([], schemas.NODES_SCHEMA)
        elif as_kind == KIND_EDGES:
            self.df = spark.createDataFrame([], schemas.EDGES_SCHEMA)
        else:
            self.df = spark.createDataFrame(
                [], "id long, kind string, label string, name string, seq int, dtype string, value string"
            )
        self.kind = KIND_EMPTY
        self.has_label_col = True


def _value_predicate(value):
    """Equality on (dtype, typed value column) — ``Has`` matches value AND
    type (``nodeHasNamedValue``, ``STMGraph/src/.../API.hs:237-246``)."""
    dt = schemas.infer_dtype(value)
    cond = F.col("dtype") == dt
    if dt == schemas.DT_TEXT:
        return cond & (F.col("text_v") == F.lit(value))
    if dt == schemas.DT_INTEGER:
        return cond & (F.col("int_v") == F.lit(Decimal(value)))
    if dt == schemas.DT_BINARY:
        return cond & (F.col("bin_v") == F.lit(bytes(value)))
    return cond & (F.col("json_v") == F.lit(schemas.value_columns(value)["json_v"]))


def _label_filter(df: DataFrame, labels: tuple) -> DataFrame:
    if tr.WILDCARD in labels:
        return df
    if len(labels) == 1:
        return df.filter(F.col("label") == labels[0])
    return df.filter(F.col("label").isin(list(labels)))


def compile_traversal(
    snapshot: GraphSnapshot, t: tr.Traversal, strict: bool = False
) -> TraversalResult:
    """Compile a traversal to a typed DataFrame result.

    Error contract follows the reference monoid: an invalid (state, step)
    combination ABSORBS the rest of the composition and returns an
    ``Error``-kind result carrying the message (``SError`` absorption,
    ``APITypes.hs:149-150``; surfaced by ``stateToResult`` as ``Error``,
    ``:196``). ``strict=True`` opts into raising ``TraversalError``
    instead — the fail-fast mode for programmatic callers that prefer
    exceptions over sentinel results.
    """
    st = _State(snapshot)
    try:
        for step in t.steps:
            if st.kind == KIND_EMPTY:
                break  # reference SEmpty short-circuit (API.hs:253)
            _apply(st, step)
    except TraversalError as e:
        if strict:
            raise
        return TraversalResult(
            KIND_ERROR, snapshot.nodes.limit(0).select("id", "label"), error=str(e)
        )

    if st.kind == KIND_UNKNOWN:
        # reference stateToResult SUnknown = Unknown (APITypes.hs:194)
        if strict:
            raise TraversalError("traversal produced no result (start with ns()/es())")
        return TraversalResult(KIND_UNKNOWN, snapshot.nodes.limit(0).select("id", "label"))
    if st.kind == KIND_NODES:
        st.ensure_label()
        return TraversalResult(KIND_NODES, st.df.select("id", "label"))
    if st.kind == KIND_EDGES:
        return TraversalResult(KIND_EDGES, st.df.select("id", "src", "dst", "label"))
    if st.kind == KIND_PROPERTIES:
        return TraversalResult(KIND_PROPERTIES, st.df, names=st.names)
    # empty
    return TraversalResult(KIND_EMPTY, st.df, names=st.names)


def _apply(st: _State, step: tr.Step) -> None:
    snap = st.snapshot

    if isinstance(step, tr.Ns):
        st.kind, st.df, st.has_label_col = KIND_NODES, snap.nodes, True
        st.small_frontier = False
    elif isinstance(step, tr.Es):
        st.kind, st.df, st.has_label_col = KIND_EDGES, snap.edges, True
        st.small_frontier = False
    elif isinstance(step, tr.NID):
        if not step.ids:
            st.to_empty(KIND_NODES)
            return
        base = snap.nodes if st.kind == KIND_UNKNOWN else st.df
        if st.kind == KIND_UNKNOWN:
            st.has_label_col = True
        st.df = base.filter(F.col("id").isin(list(step.ids)))
        st.kind = KIND_NODES
        st.small_frontier = len(step.ids) <= _BROADCAST_ID_LIMIT
    elif isinstance(step, tr.EID):
        if not step.ids:
            st.to_empty(KIND_EDGES)
            return
        base = snap.edges if st.kind == KIND_UNKNOWN else st.df
        if st.kind not in (KIND_UNKNOWN, KIND_EDGES):
            raise TraversalError(f"EID applied to {st.kind}")
        st.df = base.filter(F.col("id").isin(list(step.ids)))
        st.kind = KIND_EDGES
    elif isinstance(step, tr.HasLabel):
        if st.kind not in (KIND_NODES, KIND_EDGES):
            raise TraversalError(f"HasLabel applied to {st.kind}")
        if not step.labels:
            st.to_empty(st.kind)
            return
        if st.kind == KIND_NODES:
            st.ensure_label()
        st.df = _label_filter(st.df, step.labels)
    elif isinstance(step, tr.Has):
        _apply_has(st, step)
    elif isinstance(step, (tr.Out, tr.In, tr.Both, tr.OutE, tr.InE, tr.BothE)):
        _apply_hop(st, step)
    elif isinstance(step, tr.Values):
        _apply_values(st, step.names)
    elif isinstance(step, tr.AllValues):
        _apply_values(st, None)
    elif isinstance(step, tr.Limit):
        st.df = st.df.limit(step.n)
    else:
        raise TraversalError(f"unknown step {step!r}")


def _apply_has(st: _State, step: tr.Has) -> None:
    snap = st.snapshot
    if st.kind not in (KIND_NODES, KIND_EDGES):
        raise TraversalError(f"Has applied to {st.kind}")
    kind = schemas.NODE_KIND if st.kind == KIND_NODES else schemas.EDGE_KIND

    owners = (
        snap.props.filter(
            (F.col("owner_kind") == kind) & (F.col("name") == step.name) & _value_predicate(step.value)
        )
        .select(F.col("owner_id").alias("id"))
    )
    st.df = st.df.join(owners, "id", "left_semi")


def _apply_hop(st: _State, step) -> None:
    snap = st.snapshot
    if not step.labels:
        st.to_empty(KIND_EDGES if isinstance(step, (tr.OutE, tr.InE, tr.BothE)) else KIND_NODES)
        return

    edges = _label_filter(snap.edges, step.labels)

    if st.kind == KIND_EDGES:
        # reference edgesToNodes (STMGraph/src/.../API.hs:367-374): an edge
        # set hops to its endpoints (dst for Out, src for In)
        if isinstance(step, tr.Out):
            st.df = st.df.select(F.col("dst").alias("id"))
        elif isinstance(step, tr.In):
            st.df = st.df.select(F.col("src").alias("id"))
        elif isinstance(step, tr.Both):
            st.df = st.df.select(F.col("dst").alias("id")).unionAll(st.df.select(F.col("src").alias("id")))
        else:
            raise TraversalError(f"{type(step).__name__} applied to edges")
        st.kind, st.has_label_col = KIND_NODES, False
        return

    if st.kind != KIND_NODES:
        raise TraversalError(f"{type(step).__name__} applied to {st.kind}")

    # fresh aliases per hop — a multi-hop chain self-joins the edges table
    frontier = st.df.select(F.col("id").alias("__fid")).alias("__f")
    if st.small_frontier:
        frontier = F.broadcast(frontier)
    e = edges.alias("__e")

    def hop_out(result_nodes: bool) -> DataFrame:
        j = frontier.join(e, F.col("__fid") == F.col("__e.src"), "inner")
        return (
            j.select(F.col("__e.dst").alias("id"))
            if result_nodes
            else j.select("__e.id", "__e.src", "__e.dst", "__e.label")
        )

    def hop_in(result_nodes: bool) -> DataFrame:
        j = frontier.join(e, F.col("__fid") == F.col("__e.dst"), "inner")
        return (
            j.select(F.col("__e.src").alias("id"))
            if result_nodes
            else j.select("__e.id", "__e.src", "__e.dst", "__e.label")
        )

    if isinstance(step, tr.Out):
        st.df, st.kind, st.has_label_col = hop_out(True), KIND_NODES, False
    elif isinstance(step, tr.In):
        st.df, st.kind, st.has_label_col = hop_in(True), KIND_NODES, False
    elif isinstance(step, tr.Both):
        # In <> Out concatenation, duplicates preserved (API.hs:308-313)
        st.df, st.kind, st.has_label_col = hop_in(True).unionAll(hop_out(True)), KIND_NODES, False
    elif isinstance(step, tr.OutE):
        st.df, st.kind, st.has_label_col = hop_out(False), KIND_EDGES, True
    elif isinstance(step, tr.InE):
        st.df, st.kind, st.has_label_col = hop_in(False), KIND_EDGES, True
    elif isinstance(step, tr.BothE):
        st.df, st.kind, st.has_label_col = hop_in(False).unionAll(hop_out(False)), KIND_EDGES, True
    st.small_frontier = False


def _apply_values(st: _State, names: tuple | None) -> None:
    snap = st.snapshot
    if st.kind not in (KIND_NODES, KIND_EDGES):
        raise TraversalError(f"Values applied to {st.kind}")
    kind = schemas.NODE_KIND if st.kind == KIND_NODES else schemas.EDGE_KIND

    if st.kind == KIND_NODES:
        st.ensure_label()
        owners = st.df.select("id", "label")
    else:
        owners = st.df.select("id", "label")

    props = snap.props.filter(F.col("owner_kind") == kind)
    if names is not None:
        props = props.filter(F.col("name").isin(list(names)) if len(names) != 1 else (F.col("name") == names[0]))

    # left join: an owner with none of the requested names still appears
    # (reference echoes requested names with empty value lists,
    # APISpec.hs Values semantics) — with a NULL name row here
    joined = owners.join(
        props.select(
            F.col("owner_id").alias("id"),
            "name",
            "seq",
            "dtype",
            value_str().alias("value"),
        ),
        "id",
        "left",
    ).select("id", F.lit(kind).alias("kind"), "label", "name", "seq", "dtype", "value")

    st.df = joined
    st.kind = KIND_PROPERTIES
    st.names = names
