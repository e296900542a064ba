"""Row-level writes as a fold of op descriptors into one overlay per table.

The reference's OLTP mutation surface (SURVEY.md §2.7) rewrites fixed
records and patches adjacency linked lists in place. Here ``apply_op``
folds each write's op descriptor into a driver-side overlay: per table,
the live rows the ops added plus the keys that exclude base rows. A
snapshot's tables are its base filtered by those keys, unioned with one
local relation per table, so a read plans the same whatever the number of
writes before it — as in STMGraph's in-memory state fed by a write-behind
log (``Raw.hs:112-175``, ``:253-306``). Bulk DataFrame writes (``add_df``)
are plain unions over the current tables, which become the next base.

ID semantics: the reference recycles ids via free lists
(``FreeList.hs:38-62``; pinned by ``APITest.hs:105-111``). We assign dense
monotonically increasing ids and never reuse — documented divergence
(SURVEY.md §7), required for distributed correctness.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field, replace
from functools import reduce
from operator import or_
from typing import Mapping

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

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


def add_df(snap: GraphSnapshot, table: str, rows: DataFrame, props: DataFrame | None = None) -> GraphSnapshot:
    """Bulk form of a ``table`` ("nodes" or "edges") write: the caller
    provides conforming DataFrames (the scale path — mirrors the
    reference's Hackage bulk loader, S8). The union over the current
    tables is the next base, with an empty overlay."""
    cols = ["id", "label"] if table == "nodes" else ["id", "src", "dst", "label"]
    return replace(
        snap,
        **{table: getattr(snap, table).unionByName(rows.select(*cols)), f"max_{table[:-1]}_id": None},
        props=snap.props.unionByName(props) if props is not None else snap.props,
        label_from_id=None,
    )


@dataclass
class _Overlay:
    """A snapshot's driver-side delta over its ``base`` tables: the row
    dicts the folded ops added and the keys that exclude base rows.
    ``head`` is the tables built from both; ``parts`` caches their pieces."""

    base: tuple
    head: tuple
    nodes: list = field(default_factory=list)
    edges: list = field(default_factory=list)
    props: list = field(default_factory=list)
    # edge props left on no overlay edge by a delete_nodes: they survive
    # only with a surviving base edge
    on_base: list = field(default_factory=list)
    gone_nodes: set = field(default_factory=set)  # base nodes and their props
    gone_edges: set = field(default_factory=set)  # base edges and their props
    cut_nodes: set = field(default_factory=set)  # base edges touching these
    gone_names: set = field(default_factory=set)  # base props as (kind, id, name)
    parts: dict = field(default_factory=dict)

    def copy(self) -> "_Overlay":
        return _Overlay(**{name: copy.copy(value) for name, value in vars(self).items()})

    def drop_props(self, kind: str, ids, names=None) -> None:
        """Drop overlay props of the ``kind`` owners in ``ids`` (only the
        ``names``, when given)."""

        def keep(r):
            return not (r["owner_kind"] == kind and r["owner_id"] in ids and (names is None or r["name"] in names))

        self.props = [r for r in self.props if keep(r)]
        self.on_base = [r for r in self.on_base if keep(r)]


def _overlay_of(snap: GraphSnapshot) -> _Overlay:
    """The snapshot's overlay; a snapshot whose tables were not built from
    one (read, bulk-written, replaced by a caller) is its own base."""
    tables = (snap.nodes, snap.edges, snap.props)
    ov = snap._overlay
    if ov is not None and all(a is b for a, b in zip(ov.head, tables)):
        return ov
    return _Overlay(base=tables, head=tables)


def max_id(snap: GraphSnapshot, kind: str) -> int:
    """The largest ``kind`` id in the snapshot's base table — deleted rows
    included — and its overlay (0 when empty): one aggregation job."""
    ov = _overlay_of(snap)
    i = 0 if kind == schemas.NODE_KIND else 1
    return max([ov.base[i].agg(F.max("id")).collect()[0][0] or 0, *(r["id"] for r in (ov.nodes, ov.edges)[i])])


def _in(col: str, keys) -> Column | None:
    return F.col(col).isin(sorted(keys)) if keys else None


def _without(df: DataFrame, conds: list) -> DataFrame:
    conds = [c for c in conds if c is not None]
    return df.filter(~reduce(or_, conds)) if conds else df


def _head(ov: _Overlay) -> tuple:
    """The (nodes, edges, props): per table, the base without the rows the
    overlay's keys exclude, unioned with the overlay's rows as one
    Arrow-built ``LocalRelation``. Each piece is rebuilt only when what it
    is built from changed, so a write builds about the DataFrames of one
    per-op plan step."""
    base_nodes, base_edges, base_props = ov.base
    gone_nodes, gone_edges, cut = map(frozenset, (ov.gone_nodes, ov.gone_edges, ov.cut_nodes))
    names = frozenset(ov.gone_names)
    edge_keys = (("id", gone_edges), ("src", cut), ("dst", cut))

    def gone_props() -> list:
        kind, owner = F.col("owner_kind"), F.col("owner_id")
        by_owner: dict = {(schemas.NODE_KIND, None): gone_nodes, (schemas.EDGE_KIND, None): gone_edges}
        for k, i, name in names:
            by_owner.setdefault((k, i), set()).add(name)
        # (kind, None): every property of those owners; (kind, id): the names
        return [
            (kind == k) & (owner.isin(sorted(keys)) if i is None else (owner == i) & _in("name", keys))
            for (k, i), keys in by_owner.items()
            if keys
        ]

    def part(name: str, key, build):
        hit = ov.parts.get(name)
        if hit is None or hit[0] != key:
            hit = ov.parts[name] = (key, build())
        return hit[1]

    def local(rows: list, schema) -> DataFrame | None:  # one LocalRelation
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        return base_nodes.sparkSession.createDataFrame(table, schema) if rows else None

    def rows(name: str, rows: list, schema) -> tuple:
        return name, tuple(rows), lambda: local(rows, schema)

    def union(name: str, *pieces) -> DataFrame:
        def build():
            return reduce(DataFrame.unionByName, [df for df in (part(*p) for p in pieces) if df is not None])

        return part(name, tuple(key for _, key, _ in pieces), build)

    # the delete_nodes cascade, applied once: base edge props, and overlay
    # ones left on no overlay edge, survive only with a surviving base edge
    def uncut() -> DataFrame:
        kept = _without(base_edges, [_in(c, ids) for c, ids in edge_keys[1:]])
        return kept.select(F.col("id").alias("owner_id"))

    def cascade() -> DataFrame:
        if not cut:
            return base_props
        kind = F.col("owner_kind")
        edge_props = base_props.filter(kind == schemas.EDGE_KIND).join(part("uncut", cut, uncut), "owner_id", "left_semi")
        return base_props.filter(kind == schemas.NODE_KIND).unionByName(edge_props)

    def stray() -> DataFrame | None:
        props = local(ov.on_base, schemas.PROPS_SCHEMA)
        return None if props is None else props.join(part("uncut", cut, uncut), "owner_id", "left_semi")

    return (
        union(
            "nodes",
            ("nodes.kept", gone_nodes, lambda: _without(base_nodes, [_in("id", gone_nodes)])),
            rows("nodes.rows", ov.nodes, schemas.NODES_SCHEMA),
        ),
        union(
            "edges",
            ("edges.kept", (gone_edges, cut), lambda: _without(base_edges, [_in(c, ids) for c, ids in edge_keys])),
            rows("edges.rows", ov.edges, schemas.EDGES_SCHEMA),
        ),
        union(
            "props",
            ("props.kept", (cut, gone_nodes, gone_edges, names), lambda: _without(part("cascade", cut, cascade), gone_props())),
            ("props.on_base", (cut, tuple(ov.on_base)), stray),
            rows("props.rows", ov.props, schemas.PROPS_SCHEMA),
        ),
    )


def apply_op(snap: GraphSnapshot, *ops: list) -> GraphSnapshot:
    """Apply mutation op descriptors in order — the one encoding of a
    row-level write, applied at stage time, in commit-time replay onto a
    moved head and on reopen of a durable store. The ops fold into the
    snapshot's overlay on the driver; ids are pinned in the descriptor, so
    replay onto a different head produces the same delta. The shapes, with
    the reference operation (SURVEY.md §2.7) each one maps:

    - ``["add_nodes", [[label, props], ...], ids]`` (createObject, M1) and
      ``["add_edges", [[src, dst, label, props], ...], ids]``
      (createRelation, M3, without its adjacency order): an id already
      present gives a second row.
    - ``["update_node", node_id, label, props]`` (updateObject, M2): label
      and properties replaced wholesale; a missing id is inserted.
    - ``["delete_nodes", ids]`` (deleteObject, M5, ``API.hs:410-429``):
      the nodes, every incident edge and the properties of both go, as
      does any edge property whose edge no longer exists. Edges and
      properties written after the delete stay.
    - ``["delete_edges", ids]`` (deleteRelation, M4): edges and properties.
    - ``["set_properties", owner_id, owner_kind, props]`` (M6/M7): the
      named properties replaced, a name mapped to ``[]`` deleted.
    - ``["add_index", name, labels, prop_names]``: registers only; each
      snapshot derives its indexes (``GraphSnapshot.indexes``) and
      ``Transaction.commit`` checks uniqueness."""
    ov = _overlay_of(snap).copy()
    fields: dict = {}
    for op in ops:
        name, args = op[0], op[1:]
        if name in ("add_nodes", "add_edges"):
            rows, ids = args
            kind = schemas.NODE_KIND if name == "add_nodes" else schemas.EDGE_KIND
            cols = (schemas.NODES_SCHEMA if name == "add_nodes" else schemas.EDGES_SCHEMA).names
            getattr(ov, f"{kind}s").extend(dict(zip(cols, (i, *row[:-1]))) for i, row in zip(ids, rows))
            ov.props += [r for i, row in zip(ids, rows) for r in _prop_rows(i, kind, row[-1])]
            key = f"max_{kind}_id"
            known = fields.get(key, getattr(snap, key))
            # an unknown mark stays unknown: explicit ids below it must not lower it
            fields[key] = None if known is None else max([known, *ids])
            fields["label_from_id"] = None  # new ids need not follow the source's encoding
        elif name == "update_node":
            node_id, label, props = args
            ov.gone_nodes.add(node_id)
            ov.nodes = [r for r in ov.nodes if r["id"] != node_id] + [{"id": node_id, "label": label}]
            ov.drop_props(schemas.NODE_KIND, {node_id})
            ov.props += _prop_rows(node_id, schemas.NODE_KIND, props)
            fields["label_from_id"] = None  # relabel can break the id->label encoding
        elif name == "delete_nodes":
            gone = set(args[0])
            ov.gone_nodes |= gone
            ov.cut_nodes |= gone
            cut = {e["id"] for e in ov.edges if e["src"] in gone or e["dst"] in gone}
            ov.nodes = [r for r in ov.nodes if r["id"] not in gone]
            ov.edges = [e for e in ov.edges if e["id"] not in cut]
            ov.drop_props(schemas.NODE_KIND, gone)
            ov.drop_props(schemas.EDGE_KIND, cut)
            live = {e["id"] for e in ov.edges}
            props, ov.props = ov.props, []
            for r in props:
                stray = r["owner_kind"] == schemas.EDGE_KIND and r["owner_id"] not in live
                (ov.on_base if stray else ov.props).append(r)
        elif name == "delete_edges":
            gone = set(args[0])
            ov.gone_edges |= gone
            ov.edges = [e for e in ov.edges if e["id"] not in gone]
            ov.drop_props(schemas.EDGE_KIND, gone)
        elif name == "set_properties":
            owner_id, owner_kind, props = args
            ov.gone_names |= {(owner_kind, owner_id, n) for n in props}
            ov.drop_props(owner_kind, {owner_id}, props)
            ov.props += _prop_rows(owner_id, owner_kind, {k: v for k, v in props.items() if v != []})
        elif name == "add_index":
            registry = fields.get("index_registry", snap.index_registry)
            fields["index_registry"] = registry + ((args[0], tuple(args[1]), tuple(args[2])),)
        else:
            raise ValueError(f"unknown mutation op {name!r}")
    if any(op[0] != "add_index" for op in ops):
        nodes, edges, props = ov.head = _head(ov)
        fields.update(nodes=nodes, edges=edges, props=props, _overlay=ov)
    return replace(snap, **fields)
