"""Model-based test of the engine's one write path (hypothesis stateful).

Random implicit writes (``add_node`` / ``set_properties`` /
``update_node`` / ``delete_nodes``, ``add_edge`` / ``delete_edges`` /
edge ``set_properties``, a cascade of an edge property then a delete of
its endpoint, and one unique-index registration), over an indexed and an
unindexed label and property, ended by ``commit`` or ``rollback``, with
one-op ``begin()`` transactions committed while implicit staging is open,
run against a pure-Python model of the committed head. After every
commit the engine's head (nodes, edges and the properties of both) must
equal the model's, and every ``WriteConflict`` / ``DuplicateIndexKey``
must be exactly the one the model predicts: first-committer-wins on
write-set intersection, uniqueness over the merged state. The delete
cascade follows op order: a ``delete_nodes`` drops the incident edges and
every edge property whose edge no longer exists; edges and properties
written after it stay. The durable variant runs the same rules on
``open_graph`` with a checkpoint every other commit, adds a reopen and a
``compact`` between transactions, and finally compares a reopened store
with the model. Grounding: the reference's interleaving specs
(``LowLevelDB/test/.../MVCCSpec.hs``, ``STMGraph/test/.../RawSpec.hs``).
"""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    precondition,
    rule,
    run_state_machine_as_test,
)

from hgraphstorage_spark import GraphEngine, open_graph
from hgraphstorage_spark.engine import DuplicateIndexKey, WriteConflict

KEYS = st.sampled_from(["a", "b", "c", "d"])
PICK = st.integers(0, 1000)
INDEX = ("by_k", ["N"], ["k"])
LABELS = st.sampled_from(["N", "M"])  # M is not indexed
NAMES = st.sampled_from(["k", "j"])  # j is not indexed


def head_state(snap) -> tuple[dict, dict, dict, dict]:
    nodes = {r["id"]: r["label"] for r in snap.nodes.collect()}
    edges = {r["id"]: (r["src"], r["dst"]) for r in snap.edges.collect()}
    props: dict = {"node": {}, "edge": {}}
    for r in snap.props.collect():
        props[r["owner_kind"]].setdefault(r["owner_id"], {})[r["name"]] = r["text_v"]
    return nodes, props["node"], edges, props["edge"]


class State:
    """The oracle: a committed head as dicts plus the registry flag."""

    def __init__(self, nodes=None, props=None, edges=None, eprops=None, indexed=False):
        self.nodes: dict[int, str] = dict(nodes or {})
        self.props: dict[int, dict] = {i: dict(p) for i, p in (props or {}).items()}
        self.edges: dict[int, tuple[int, int]] = dict(edges or {})
        self.eprops: dict[int, dict] = {i: dict(p) for i, p in (eprops or {}).items()}
        self.indexed = indexed

    def copy(self) -> "State":
        return State(self.nodes, self.props, self.edges, self.eprops, self.indexed)

    def view(self) -> tuple[dict, dict, dict, dict]:
        return self.nodes, self.props, self.edges, self.eprops

    def apply(self, op: tuple) -> None:
        kind, *args = op
        if kind in ("add", "update"):
            nid, label, name, k = args
            self.nodes[nid] = label
            self.props[nid] = {name: k}
        elif kind == "set":
            nid, name, k = args
            self.props.setdefault(nid, {})[name] = k
        elif kind == "delete":
            (nid,) = args
            self.nodes.pop(nid, None)
            self.props.pop(nid, None)
            self.edges = {e: ends for e, ends in self.edges.items() if nid not in ends}
            self.eprops = {e: p for e, p in self.eprops.items() if e in self.edges}
        elif kind == "edge":
            eid, src, dst, name, k = args
            self.edges[eid] = (src, dst)
            self.eprops[eid] = {name: k}
        elif kind == "unedge":
            (eid,) = args
            self.edges.pop(eid, None)
            self.eprops.pop(eid, None)
        elif kind == "set_edge":
            eid, name, k = args
            self.eprops.setdefault(eid, {})[name] = k
        elif kind == "index":
            self.indexed = True

    def violates_unique(self) -> bool:
        if not self.indexed:
            return False
        keys = [
            self.props[i]["k"] for i, label in self.nodes.items() if label == "N" and "k" in self.props.get(i, {})
        ]
        return len(keys) != len(set(keys))


def written(ops) -> set[int]:
    return {op[1] for op in ops if op[0] != "index"}


class WritePathMachine(RuleBasedStateMachine):
    def __init__(self, spark):
        super().__init__()
        self.spark = spark
        self.eng = self.make_engine()
        self.head = State()
        self.version = 0
        self.trail: list[tuple[int, set[int]]] = []  # (version, write-set)
        self.implicit: dict | None = None  # {"start", "ops"}
        self.ids: list[int] = []  # every node id the engine minted
        self.edge_ids: list[int] = []  # every edge id the engine minted
        self.edge_ends: dict[int, tuple[int, int]] = {}  # minted edge -> (src, dst)

    def make_engine(self):
        return GraphEngine(self.spark)

    # -- helpers -------------------------------------------------------------
    def stage(self, op: tuple) -> None:
        if self.implicit is None:
            self.implicit = {"start": self.version, "ops": []}
        self.implicit["ops"].append(op)

    def publish(self, state: State, writes: set[int]) -> None:
        self.version += 1
        self.head = state
        self.trail.append((self.version, writes))

    def expected_commit(self, start: int, ops) -> tuple[str, State | None]:
        mine = written(ops)
        if any(v > start and w & mine for v, w in self.trail):
            return "conflict", None
        merged = self.head.copy()
        for op in ops:
            merged.apply(op)
        if merged.violates_unique():
            return "duplicate", None
        return "ok", merged

    def run_commit(self, commit, start: int, ops) -> bool:
        outcome, merged = self.expected_commit(start, ops)
        try:
            version = commit()
        except WriteConflict:
            assert outcome == "conflict"
            return False
        except DuplicateIndexKey:
            assert outcome == "duplicate"
            return False
        assert outcome == "ok", outcome
        self.publish(merged, written(ops))
        assert version == self.version
        self.check_head()
        return True

    def check_head(self) -> None:
        assert self.eng.committed.version == self.version
        assert head_state(self.eng.committed) == self.head.view()

    def target(self, pick: int, ids=None) -> int:
        ids = self.ids if ids is None else ids
        return ids[pick % len(ids)]

    def mint(self, nid: int, ids=None) -> int:
        ids = self.ids if ids is None else ids
        assert nid not in ids  # the engine-wide allocator never re-mints
        ids.append(nid)
        return nid

    # -- rules ---------------------------------------------------------------
    @initialize(k=KEYS)
    def seed_node(self, k):
        self.write("add", 0, k, "N", "k")
        self.end(rollback=False)

    @rule(
        kind=st.sampled_from(["add", "set", "update", "delete", "edge", "unedge", "set_edge", "index"]),
        pick=PICK,
        k=KEYS,
        label=LABELS,
        name=NAMES,
    )
    def write(self, kind, pick, k, label, name):
        """One implicit write. Edge endpoints and targets are any minted
        id, live or deleted. The unique index registers once: on a clean
        engine it commits at once, with writes staged it joins them."""
        if kind == "add":
            self.stage(("add", self.mint(self.eng.add_node(label, {name: k})), label, name, k))
        elif kind == "set":
            nid = self.target(pick)
            self.eng.set_properties(nid, "node", {name: k})
            self.stage(("set", nid, name, k))
        elif kind == "update":
            nid = self.target(pick)
            self.eng.update_node(nid, label, {name: k})
            self.stage(("update", nid, label, name, k))
        elif kind == "delete":
            nid = self.target(pick)
            self.eng.delete_nodes([nid])
            self.stage(("delete", nid))
        elif kind == "edge":
            src, dst = self.target(pick), self.target(pick // 7)
            eid = self.mint(self.eng.add_edge(src, dst, "r", {name: k}), self.edge_ids)
            self.edge_ends[eid] = (src, dst)
            self.stage(("edge", eid, src, dst, name, k))
        elif kind in ("unedge", "set_edge"):
            if not self.edge_ids:
                return
            eid = self.target(pick, self.edge_ids)
            if kind == "unedge":
                self.eng.delete_edges([eid])
                self.stage(("unedge", eid))
            else:
                self.eng.set_properties(eid, "edge", {name: k})
                self.stage(("set_edge", eid, name, k))
        elif self.head.indexed or (self.implicit and ("index",) in self.implicit["ops"]):
            return
        elif self.implicit is None:
            self.run_commit(lambda: self.eng.add_index(*INDEX) or self.version + 1, self.version, [("index",)])
        else:
            self.eng.add_index(*INDEX)
            self.stage(("index",))

    @precondition(lambda self: self.edge_ids)
    @rule(pick=PICK, k=KEYS, end=st.sampled_from([0, 1]))
    def cascade(self, pick, k, end):
        """Set a property on a minted edge (often a committed, checkpointed
        one), then delete one of its endpoints in the same transaction."""
        eid = self.target(pick, self.edge_ids)
        self.eng.set_properties(eid, "edge", {"j": k})
        self.stage(("set_edge", eid, "j", k))
        nid = self.edge_ends[eid][end]
        self.eng.delete_nodes([nid])
        self.stage(("delete", nid))

    @precondition(lambda self: self.implicit is not None)
    @rule(kind=st.sampled_from(["add", "set", "set_edge", "delete"]), pick=PICK, k=KEYS)
    def concurrent_tx(self, kind, pick, k):
        """A one-op begin() transaction committed while implicit staging
        is open."""
        tx = self.eng.begin()
        if kind == "add":
            op = ("add", self.mint(tx.add_node("N", {"k": k})), "N", "k", k)
        elif kind == "set":
            op = ("set", self.target(pick), "k", k)
            tx.set_properties(op[1], "node", {"k": k})
        elif kind == "set_edge" and self.edge_ids:
            op = ("set_edge", self.target(pick, self.edge_ids), "k", k)
            tx.set_properties(op[1], "edge", {"k": k})
        else:
            op = ("delete", self.target(pick))
            tx.delete_nodes([op[1]])
        if not self.run_commit(tx.commit, self.version, [op]):
            tx.rollback()

    @precondition(lambda self: self.implicit is not None)
    @rule(rollback=st.booleans())
    def end(self, rollback):
        """End the implicit transaction: commit (rolled back if it loses)
        or roll back."""
        if rollback or not self.run_commit(self.eng.commit, self.implicit["start"], self.implicit["ops"]):
            self.eng.rollback()
            self.check_head()
        self.implicit = None

    def teardown(self):
        if self.implicit is not None:
            self.end(rollback=False)


class DurableWritePathMachine(WritePathMachine):
    def make_engine(self):
        self.root = tempfile.mkdtemp(prefix="hgs_model_")
        return self.open()

    def open(self):
        return open_graph(self.spark, self.root, checkpoint_every=2)

    @precondition(lambda self: self.implicit is None)
    @rule()
    def reopen(self):
        """Reopen the store between transactions: the head is the latest
        checkpoint plus one fold of the later entries' ops."""
        self.eng = self.open()
        # a reopened allocator starts above the largest live id, and the
        # id of a deleted entity above it is not persisted; carry the
        # session's high-water marks over so no id is minted twice
        self.eng._id_high = {"node": max(self.ids), "edge": max(self.edge_ids, default=0)}
        self.check_head()

    @precondition(lambda self: self.implicit is None)
    @rule()
    def compact(self):
        """Drop the ledger entries below the newest checkpoint: the head,
        and the head after a reopen, are unchanged."""
        self.eng.compact()
        self.check_head()
        assert head_state(self.open().committed) == self.head.view()

    def teardown(self):
        try:
            super().teardown()
            reopened = self.open()
            assert reopened.committed.version == self.version
            assert head_state(reopened.committed) == self.head.view()
        finally:
            shutil.rmtree(self.root, ignore_errors=True)


SETTINGS = settings(
    max_examples=5,
    stateful_step_count=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)


def test_write_path_matches_model(spark):
    run_state_machine_as_test(lambda: WritePathMachine(spark), settings=SETTINGS)


def test_durable_write_path_matches_model_after_reopen(spark):
    run_state_machine_as_test(lambda: DurableWritePathMachine(spark), settings=SETTINGS)
