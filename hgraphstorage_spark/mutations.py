"""Batch-functional mutation operators: ``GraphSnapshot -> GraphSnapshot``.

The reference's OLTP mutation surface (SURVEY.md §2.7: createObject /
updateObject / createRelation / deleteRelation / deleteObject /
create/deleteProperties) rewrites fixed records and patches adjacency
linked lists in place. Per-call row writes would be pathological on Spark,
so the public surface is batch-first (SURVEY.md §7 "what's hard"): each
operator takes rows/DataFrames and produces a new immutable snapshot —
matching STMGraph's write-behind queue design (``Raw.hs:253-306``) where a
mutation batch becomes one atomic state change.

ID semantics: the reference recycles ids via free lists
(``FreeList.hs:38-62``; pinned by ``APITest.hs:105-111``). We assign dense
monotonically increasing ids and never reuse — documented divergence
(SURVEY.md §7), required for distributed correctness.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgraphstorage_spark import schemas
from hgraphstorage_spark.snapshot import GraphSnapshot


def _prop_rows(owner_id: int, owner_kind: str, props: Mapping[str, object]) -> list[dict]:
    """Flatten a {name: value | [values]} mapping to long-format rows.

    Multi-valued properties (reference ``Map Text [PropertyValue]``,
    ``API.hs:111-115``) are passed as lists; ``seq`` preserves their order.
    """
    rows = []
    for name, value in props.items():
        values = value if isinstance(value, list) else [value]
        for seq, v in enumerate(values):
            row = {"owner_id": owner_id, "owner_kind": owner_kind, "name": name, "seq": seq}
            row.update(schemas.value_columns(v))
            rows.append(row)
    return rows


def max_id(df: DataFrame) -> int:
    """The largest ``id`` in ``df`` (0 when empty): one aggregation job."""
    return df.agg(F.max("id")).collect()[0][0] or 0


def _merged_max(known: int | None, ids: list[int]) -> int | None:
    """The id high-water mark after inserting ``ids``: a known mark merges
    with them; an unknown one stays unknown (explicit ids below the real
    maximum must not lower it)."""
    return None if known is None else max([known, *ids])


def add_nodes(
    snap: GraphSnapshot, rows: Iterable[tuple[str, Mapping[str, object]]], ids: list[int] | None = None
) -> tuple[GraphSnapshot, list[int]]:
    """createObject batch (reference M1, ``API.hs:157-167``).

    ``rows`` is an iterable of (label, props). Returns (snapshot, new ids).
    Index maintenance: none here — the new snapshot derives its indexes
    from its own tables (``GraphSnapshot.indexes``). Uniqueness is checked
    in ``Transaction.commit``, the one commit path, on the index keys the
    rows wrote (``engine.written_index_keys``).
    """
    rows = list(rows)
    spark = snap.nodes.sparkSession
    known = snap.max_node_id
    if ids is None:
        known = known if known is not None else max_id(snap.nodes)
        ids = list(range(known + 1, known + 1 + len(rows)))
    node_rows = [{"id": i, "label": label} for i, (label, _) in zip(ids, rows)]
    prop_rows = [r for i, (_, props) in zip(ids, rows) for r in _prop_rows(i, schemas.NODE_KIND, props)]
    new_nodes = spark.createDataFrame(node_rows, schemas.NODES_SCHEMA)
    new_props = spark.createDataFrame(prop_rows, schemas.PROPS_SCHEMA) if prop_rows else None
    out = replace(
        snap,
        nodes=snap.nodes.unionByName(new_nodes),
        props=snap.props.unionByName(new_props) if new_props is not None else snap.props,
        max_node_id=_merged_max(known, ids),
        label_from_id=None,  # new ids need not follow the source's encoding
    )
    return out, ids


def add_nodes_df(snap: GraphSnapshot, nodes: DataFrame, props: DataFrame | None = None) -> GraphSnapshot:
    """Bulk form: caller provides conforming DataFrames (the scale path —
    mirrors the reference's Hackage bulk loader, S8)."""
    return replace(
        snap,
        nodes=snap.nodes.unionByName(nodes.select("id", "label")),
        props=snap.props.unionByName(props) if props is not None else snap.props,
        max_node_id=None,  # unknown until recomputed
        label_from_id=None,
    )


def add_edges(
    snap: GraphSnapshot,
    rows: Iterable[tuple[int, int, str, Mapping[str, object]]],
    ids: list[int] | None = None,
) -> tuple[GraphSnapshot, list[int]]:
    """createRelation batch (reference M3, ``API.hs:305-335``).

    ``rows``: iterable of (src, dst, label, props). The reference *prepends*
    each new edge to both endpoints' linked lists — adjacency order is a
    storage artifact we don't replicate (bag semantics)."""
    rows = list(rows)
    spark = snap.edges.sparkSession
    known = snap.max_edge_id
    if ids is None:
        known = known if known is not None else max_id(snap.edges)
        ids = list(range(known + 1, known + 1 + len(rows)))
    edge_rows = [
        {"id": i, "src": src, "dst": dst, "label": label} for i, (src, dst, label, _) in zip(ids, rows)
    ]
    prop_rows = [r for i, (_, _, _, props) in zip(ids, rows) for r in _prop_rows(i, schemas.EDGE_KIND, props)]
    new_edges = spark.createDataFrame(edge_rows, schemas.EDGES_SCHEMA)
    new_props = spark.createDataFrame(prop_rows, schemas.PROPS_SCHEMA) if prop_rows else None
    out = replace(
        snap,
        edges=snap.edges.unionByName(new_edges),
        props=snap.props.unionByName(new_props) if new_props is not None else snap.props,
        max_edge_id=_merged_max(known, ids),
        label_from_id=None,  # new edges may reference out-of-scheme endpoints
    )
    return out, ids


def add_edges_df(snap: GraphSnapshot, edges: DataFrame, props: DataFrame | None = None) -> GraphSnapshot:
    return replace(
        snap,
        edges=snap.edges.unionByName(edges.select("id", "src", "dst", "label")),
        props=snap.props.unionByName(props) if props is not None else snap.props,
        max_edge_id=None,  # unknown until recomputed
        label_from_id=None,
    )


def update_node(snap: GraphSnapshot, node_id: int, label: str, props: Mapping[str, object]) -> GraphSnapshot:
    """updateObject (reference M2, ``API.hs:170-180``): replace label and
    property set wholesale. The reference orphans the old property chain;
    we drop the old rows — same observable state
    (props-diff pinned by ``APITest.hs:112-127``)."""
    spark = snap.nodes.sparkSession
    new_node = spark.createDataFrame([{"id": node_id, "label": label}], schemas.NODES_SCHEMA)
    prop_rows = _prop_rows(node_id, schemas.NODE_KIND, props)
    kept_props = snap.props.filter(
        ~((F.col("owner_id") == node_id) & (F.col("owner_kind") == schemas.NODE_KIND))
    )
    new_props = (
        kept_props.unionByName(spark.createDataFrame(prop_rows, schemas.PROPS_SCHEMA))
        if prop_rows
        else kept_props
    )
    return replace(
        snap,
        nodes=snap.nodes.filter(F.col("id") != node_id).unionByName(new_node),
        props=new_props,
        label_from_id=None,  # relabel can break the id->label encoding
    )


def delete_nodes(snap: GraphSnapshot, node_ids: list[int]) -> GraphSnapshot:
    """deleteObject + cascade (reference M5, ``API.hs:410-429``): deleting a
    node removes all incident edges and all properties of both. The
    reference walks both adjacency chains carefully (double-clean guard,
    ``API.hs:421-429``); here the cascade is three filters in one plan.
    Behavior pinned by ``APITest.hs:55-68``."""
    ids = list(node_ids)
    surviving_edges = snap.edges.filter(~(F.col("src").isin(ids) | F.col("dst").isin(ids)))
    node_props_gone = ~((F.col("owner_kind") == schemas.NODE_KIND) & F.col("owner_id").isin(ids))
    edge_props = snap.props.filter(F.col("owner_kind") == schemas.EDGE_KIND)
    surviving_edge_props = edge_props.join(
        surviving_edges.select(F.col("id").alias("owner_id")), "owner_id", "left_semi"
    )
    return replace(
        snap,
        nodes=snap.nodes.filter(~F.col("id").isin(ids)),
        edges=surviving_edges,
        props=snap.props.filter(F.col("owner_kind") == schemas.NODE_KIND)
        .filter(node_props_gone)
        .unionByName(surviving_edge_props),
    )


def delete_edges(snap: GraphSnapshot, edge_ids: list[int]) -> GraphSnapshot:
    """deleteRelation (reference M4, ``API.hs:355-407``): the reference
    unlinks from two adjacency chains + frees the id; here one filter,
    plus dropping the edge's properties."""
    ids = list(edge_ids)
    return replace(
        snap,
        edges=snap.edges.filter(~F.col("id").isin(ids)),
        props=snap.props.filter(
            ~((F.col("owner_kind") == schemas.EDGE_KIND) & F.col("owner_id").isin(ids))
        ),
    )


def set_properties(
    snap: GraphSnapshot, owner_id: int, owner_kind: str, props: Mapping[str, object]
) -> GraphSnapshot:
    """nodeProperties/edgeProperties read-modify-write (reference M6,
    ``STMGraph/src/.../API.hs:111-120,181-190``): replace the owner's
    property set for the given names (absent names untouched; a name mapped
    to [] deletes it — createProperties/deleteProperties, M7)."""
    spark = snap.props.sparkSession
    names = list(props.keys())
    kept = snap.props.filter(
        ~(
            (F.col("owner_id") == owner_id)
            & (F.col("owner_kind") == owner_kind)
            & F.col("name").isin(names)
        )
    )
    rows = _prop_rows(owner_id, owner_kind, {k: v for k, v in props.items() if v not in ([],)})
    if rows:
        kept = kept.unionByName(spark.createDataFrame(rows, schemas.PROPS_SCHEMA))
    return replace(snap, props=kept)


def apply_op(snap: GraphSnapshot, op: list) -> GraphSnapshot:
    """Apply one mutation op descriptor — the one encoding of a row-level
    write, applied at stage time, in commit-time replay onto a moved head
    and on reopen of a durable store. The seven shapes:

    - ``["add_nodes", [[label, props], ...], ids]``
    - ``["add_edges", [[src, dst, label, props], ...], ids]``
    - ``["update_node", node_id, label, props]``
    - ``["delete_nodes", ids]`` / ``["delete_edges", ids]``
    - ``["set_properties", owner_id, owner_kind, props]``
    - ``["add_index", name, labels, prop_names]`` — registers only; each
      snapshot derives the index DataFrame, and the commit checks
      uniqueness over the whole index.

    Ids are pinned in the descriptor, so replay onto a different head
    produces the same delta."""
    name, args = op[0], op[1:]
    if name == "add_nodes":
        return add_nodes(snap, *args)[0]
    if name == "add_edges":
        return add_edges(snap, *args)[0]
    if name == "update_node":
        return update_node(snap, *args)
    if name == "delete_nodes":
        return delete_nodes(snap, *args)
    if name == "delete_edges":
        return delete_edges(snap, *args)
    if name == "set_properties":
        return set_properties(snap, *args)
    if name == "add_index":
        registry = snap.index_registry + ((args[0], tuple(args[1]), tuple(args[2])),)
        return replace(snap, index_registry=registry)
    raise ValueError(f"unknown mutation op {name!r}")
