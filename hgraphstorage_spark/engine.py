"""GraphEngine — the session object: version ledger, transactions, indexes.

Maps the reference's transaction/session machinery onto immutable
snapshots:

- ``withTxManager`` / ``withTransaction`` (``LowLevelDB/src/Database/
  LowLevelDB.hs:33-89``) → ``GraphEngine`` holding a ledger of committed
  snapshot versions; every write runs in a ``Transaction`` — one opened
  by ``begin()``, or the engine's implicit one, which its own write
  methods stage into and ``commit()`` / ``rollback()`` end. One write
  path: each mutation is one op descriptor folded by
  ``mutations.apply_op`` into a driver-side overlay per table, and
  ``Transaction.commit`` is the one commit;
- MVCC visibility (``MVCC.hs:271-298``, the PostgreSQL rule) → a reader
  pins a committed snapshot version: everything in it is "committed before
  my start", everything staged by others simply isn't in it. Uncommitted
  writes are visible only through the transaction's own staged snapshot —
  the two halves of the reference's visibility predicate;
- commit (``MVCC.hs:220-225``) → fold the op log onto the ledger head
  (first-committer-wins) and publish it as a new version; rollback →
  discard staged state;
- index registry + retroactive build + uniqueness (``HGraphStorage/src/
  .../API.hs:494-516``) → each snapshot derives its index DataFrames from
  its own tables on first access (``GraphSnapshot.indexes``), so staged
  reads see their own writes. The reference keeps unique indexes current
  per written record and raises ``DuplicateIndexKey`` at the write that
  breaks one (``API.hs:184-238``, ``:217-229``); here a commit checks only
  the (name, key) pairs its ops wrote, against the merged state — every
  published head was itself checked, so no other key can have become a
  duplicate. Registering an index (the retroactive build,
  ``APITest.hs:158-165``) or a bulk DataFrame write checks the whole index.
"""

from __future__ import annotations

from dataclasses import replace
from functools import reduce
from operator import or_
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hgraphstorage_spark import mutations, schemas
from hgraphstorage_spark.compiler import TraversalResult, compile_traversal
from hgraphstorage_spark.snapshot import GraphSnapshot
from hgraphstorage_spark.traversal import Traversal


class DuplicateIndexKey(Exception):
    """Unique-index violation (reference ``DuplicateIndexKey`` throw,
    ``HGraphStorage/src/.../API.hs:217-229``)."""


class WriteConflict(Exception):
    """First-committer-wins: a concurrent transaction committed a write to
    the same entity after this transaction started (the write-lock
    outcome of the reference's per-record version chains,
    ``LowLevelDB/src/.../MVCC.hs:200-225``)."""


def build_index(snap: GraphSnapshot, labels: Sequence[str], prop_names: Sequence[str]) -> DataFrame:
    """Retroactive index build (reference ``addIndex`` full fold,
    ``API.hs:494-516``): scan props once, project canonical string keys.

    Scale: one filtered scan + narrow projection — no shuffle. It backs
    uniqueness and ``index_lookup``/``index_prefix``; ``has()`` reads props,
    as a key carries neither the index's label scope nor the value dtype."""
    props = snap.props.filter(F.col("owner_kind") == schemas.NODE_KIND)
    props = props.filter(F.col("name").isin(list(prop_names)))
    owners = snap.nodes
    if labels:  # empty = all labels (reference API.hs:543-546)
        owners = owners.filter(F.col("label").isin(list(labels)))
    from hgraphstorage_spark.compiler import value_str

    return (
        props.join(owners.select(F.col("id").alias("owner_id"), "label"), "owner_id", "inner")
        .select("owner_id", "label", "name", value_str().alias("key"))
    )


def written_index_keys(ops: Iterable[list], registry) -> dict[str, set[tuple[str, str]]]:
    """The (name, key) pairs each registered index may have gained from
    row-level op descriptors: node properties written by ``add_nodes``
    rows, ``update_node`` and node ``set_properties``, keyed like
    ``build_index`` (``schemas.canonical_string`` of each value, each
    element of a multi-valued list). Deletes, edge properties and
    unindexed names write no key. ``set_properties`` carries no label, so
    its pairs go to every index on the name: the index holds only owners
    with an indexed label, so probing them cannot find a false duplicate.
    Indexes that gained no pair are left out."""
    written = []  # (label, props); label None = unknown
    for op in ops:
        if op[0] == "add_nodes":
            written += [(label, props) for label, props in op[1]]
        elif op[0] == "update_node":
            written.append((op[2], op[3]))
        elif op[0] == "set_properties" and op[2] == schemas.NODE_KIND:
            written.append((None, op[3]))
    out = {}
    for reg_name, labels, prop_names in registry:
        pairs = {
            (name, schemas.canonical_string(v))
            for label, props in written
            if label is None or not labels or label in labels
            for name, value in props.items()
            if name in prop_names
            for v in (value if isinstance(value, list) else [value])
        }
        if pairs:
            out[reg_name] = pairs
    return out


def check_unique(index_df: DataFrame, index_name: str, keys: set[tuple[str, str]] | None = None) -> None:
    """Uniqueness enforcement (reference ``checkDuplicates``): a unique
    index admits one owner per (name, key). ``keys`` restricts the check
    to those (name, key) pairs — a commit passes the pairs its ops wrote
    (``written_index_keys``), one filtered job; ``None`` checks the whole
    index (index registration, bulk writes)."""
    if keys is not None:
        by_name: dict[str, list[str]] = {}
        for name, key in sorted(keys):
            by_name.setdefault(name, []).append(key)
        index_df = index_df.filter(
            reduce(or_, [(F.col("name") == name) & F.col("key").isin(ks) for name, ks in by_name.items()])
        )
    dup = (
        index_df.groupBy("name", "key")
        .agg(F.countDistinct("owner_id").alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise DuplicateIndexKey(
            f"index {index_name!r}: duplicate key {dup[0]['key']!r} for property {dup[0]['name']!r}"
        )


class Transaction:
    """A transaction over a ``GraphEngine`` (reference
    ``newTx``/``commit``/``rollback``, ``LowLevelDB/src/.../MVCC.hs`` and
    the interleavings of ``MVCCSpec.hs:102-165``). ``engine.begin()``
    opens one explicitly; the engine's own write methods stage into an
    implicit one, begun at the first write and ended by
    ``engine.commit()`` / ``engine.rollback()``.

    Snapshot isolation, the reference's visibility rule mapped to
    immutable snapshots:

    - reads come from the committed version pinned at ``begin()`` plus the
      transaction's OWN staged writes — commits by other transactions
      after start are never visible (``"doesn't see data added committed
      after it started"``), and rows they delete remain visible
      (``"still sees data deleted and committed after it started"``);
    - each write is recorded once, as its op descriptor, and folded by
      ``mutations.apply_op`` into the staged snapshot's driver-side
      overlay (for reads-own-writes), so a staged read plans the same
      however many writes are staged;
    - ``commit()`` folds the op log onto the CURRENT ledger head's overlay,
      so non-conflicting concurrent committers all land (the Wikipedia
      example's tx1/tx3). Conflicts resolve first-committer-wins:
      a write-set intersection with any commit that landed after this
      transaction started raises ``WriteConflict``, and the index keys the
      ops wrote are checked for uniqueness against the merged state
      (``DuplicateIndexKey``). A bulk
      DataFrame write has no op descriptor, so a transaction holding one
      raises ``WriteConflict`` whenever the head moved.
    """

    def __init__(self, engine: "GraphEngine"):
        self._engine = engine
        self.start_version = engine.committed.version
        self._staged: GraphSnapshot = engine.committed
        self._ops: list = []  # op descriptors: the replay log a durable ledger persists
        self._bulk = False  # a bulk DataFrame write is staged (no descriptor)
        self.written_ids: set[int] = set()
        self._done: str | None = None

    # -- reads -------------------------------------------------------------
    @property
    def snapshot(self) -> GraphSnapshot:
        """Pinned base + own staged writes (both halves of the reference
        visibility predicate, ``MVCC.hs:271-298``)."""
        self._check_open()
        return self._staged

    def traverse(self, t: Traversal) -> TraversalResult:
        return compile_traversal(self.snapshot, t)

    # -- writes ------------------------------------------------------------
    def _check_open(self) -> None:
        if self._done is not None:
            raise RuntimeError(f"transaction already {self._done}")

    def _stage(self, op: list, written_ids) -> None:
        """Fold one op descriptor into the staged snapshot's overlay and log
        it for commit-time replay. The overlay buffers row-level writes on
        the driver — the Spark analogue of the reference's write buffering
        (GraphSettings buffer modes, ``HGraphStorage/src/.../Types.hs:430-439``):
        the Nth single-row write adds rows to one local relation per table,
        not a branch to the plan."""
        self._check_open()
        self._staged = mutations.apply_op(self._staged, op)
        self._ops.append(op)
        self.written_ids.update(written_ids)

    def add_nodes(self, rows, ids=None) -> list[int]:
        # ids come from the ENGINE-wide allocator (the reference's shared
        # TxManager counter): two live transactions can never mint the same
        # id, so their inserts are non-conflicting by construction. The
        # reservation is pinned in the descriptor, making replay stable.
        rows = [[label, dict(props or {})] for label, props in rows]
        if ids is None:
            self._staged, ids = self._engine._reserve_ids("node", len(rows), self._staged)
        new_ids = list(ids)
        self._stage(["add_nodes", rows, new_ids], new_ids)
        return new_ids

    def add_node(self, label: str, props: Mapping[str, object] | None = None) -> int:
        return self.add_nodes([(label, props)])[0]

    def add_edges(self, rows, ids=None) -> list[int]:
        rows = [[src, dst, label, dict(props or {})] for src, dst, label, props in rows]
        if ids is None:
            self._staged, ids = self._engine._reserve_ids("edge", len(rows), self._staged)
        new_ids = list(ids)
        self._stage(["add_edges", rows, new_ids], new_ids)
        return new_ids

    def add_edge(self, src: int, dst: int, label: str, props: Mapping[str, object] | None = None) -> int:
        return self.add_edges([(src, dst, label, props)])[0]

    def update_node(self, node_id: int, label: str, props: Mapping[str, object]) -> None:
        self._stage(["update_node", node_id, label, dict(props)], [node_id])

    def delete_nodes(self, node_ids: list[int]) -> None:
        self._stage(["delete_nodes", list(node_ids)], node_ids)

    def delete_edges(self, edge_ids: list[int]) -> None:
        self._stage(["delete_edges", list(edge_ids)], edge_ids)

    def set_properties(self, owner_id: int, owner_kind: str, props: Mapping[str, object]) -> None:
        self._stage(["set_properties", owner_id, owner_kind, dict(props)], [owner_id])

    def add_nodes_df(self, nodes: DataFrame, props: DataFrame | None = None) -> None:
        """Bulk form (the scale path): its write-set is unenumerated and it
        has no op descriptor — the durable ledger materializes it."""
        self._check_open()
        self._staged = mutations.add_df(self._staged, "nodes", nodes, props)
        self._bulk = True

    def add_edges_df(self, edges: DataFrame, props: DataFrame | None = None) -> None:
        self._check_open()
        self._staged = mutations.add_df(self._staged, "edges", edges, props)
        self._bulk = True

    # -- outcome -----------------------------------------------------------
    def commit(self) -> int:
        """First-committer-wins publish (reference ``commit``,
        ``MVCC.hs:220-225``). Raises ``WriteConflict`` if an intervening
        commit wrote any entity this transaction wrote; raises
        ``DuplicateIndexKey`` if the merged state violates a unique index
        (both leave the transaction open for rollback/inspection)."""
        self._check_open()
        eng = self._engine
        if not self._ops and not self._bulk:
            self._done = "committed"
            return eng.committed.version
        while True:
            # pull commits other engines/processes published (durable
            # ledger); in-memory engines are already current
            eng._refresh()
            head = eng.committed
            merged = self._staged
            if head.version != self.start_version:
                if self._bulk:
                    raise WriteConflict(
                        f"version {head.version} was committed after this transaction "
                        f"started at version {self.start_version}, and its staged bulk "
                        "DataFrame write cannot be replayed onto the new head"
                    )
                for version, written in eng._entries_after(self.start_version):
                    if written is None:
                        # a bulk DataFrame ingest published after we
                        # started; its write-set is unenumerated
                        # (collecting it would defeat the bulk path), so
                        # conservatively conflict
                        raise WriteConflict(
                            f"version {version} was a bulk ingest with an unenumerated "
                            f"write-set, committed after this transaction started at "
                            f"version {self.start_version}"
                        )
                    if written & self.written_ids:
                        raise WriteConflict(
                            f"entities {sorted(written & self.written_ids)[:5]} were written by "
                            f"version {version} after this transaction started at "
                            f"version {self.start_version}"
                        )
                merged = mutations.apply_op(head, *self._ops)
            # the head was checked when it was published, so only keys
            # these ops wrote can be new duplicates; an index registration
            # or a bulk write can duplicate any key
            if self._bulk or any(op[0] == "add_index" for op in self._ops):
                checks = {reg_name: None for reg_name, _labels, _props in merged.index_registry}
            else:
                checks = written_index_keys(self._ops, merged.index_registry)
            for reg_name, keys in checks.items():
                check_unique(merged.indexes[reg_name], reg_name, keys)
            new_version = head.version + 1
            writes, ops = (None, None) if self._bulk else (set(self.written_ids), self._ops)
            kind = "implicit" if self is eng._implicit else "tx"
            if eng._try_publish(merged.with_version(new_version), writes, ops, kind):
                break
            # CAS lost: someone claimed new_version between our conflict
            # check and publish — loop re-checks against the new entries
        # M8 upsert in first-use order; rolled-back transactions never
        # touch the shared dictionary
        for op in self._ops:
            if op[0] in ("add_nodes", "add_edges"):
                for *_ends, label, props in op[1]:
                    eng.model.note("node_type" if op[0] == "add_nodes" else "edge_type", label)
                    for name, value in props.items():
                        for v in value if isinstance(value, list) else [value]:
                            eng.model.note_property(name, v)
        if self._bulk:
            eng.model.dirty = True  # labels live in the DataFrame; fold lazily
        self._done = "committed"
        return new_version

    def rollback(self) -> None:
        self._check_open()
        self._done = "rolled back"


class GraphEngine:
    """Engine session: a ledger of committed snapshots. The engine's own
    write methods stage into one implicit :class:`Transaction`, begun at
    the first write; ``commit()`` / ``rollback()`` end it."""

    def __init__(self, spark: SparkSession, snapshot: GraphSnapshot | None = None):
        self.spark = spark
        base = snapshot if snapshot is not None else GraphSnapshot.empty(spark)
        # a pre-loaded snapshot keeps its version id (a durable engine
        # reopens at the persisted head, not at 0)
        self._ledger: list[GraphSnapshot] = [base if snapshot is not None else base.with_version(0)]
        self._implicit: Transaction | None = None
        # (version, written entity ids) per commit — the conflict-detection
        # trail for first-committer-wins. ``None`` = unenumerated write-set
        # (bulk DataFrame ingest): conflicts with every later transaction.
        self._commit_writes: list[tuple[int, set[int] | None]] = []
        # engine-wide id high-water marks spanning live transactions
        self._id_high: dict[str, int] = {}
        # maintained type dictionary (reference M8 upsert — ids in
        # first-use order, not derived lexicographically after the fact)
        from hgraphstorage_spark.model import ModelDict

        self.model = ModelDict()
        if snapshot is not None:
            self.model.dirty = True  # fold pre-loaded types in on access

    def begin(self) -> Transaction:
        """Open a concurrent transaction pinned at the current committed
        version (reference ``newTx``). Any number may be live at once;
        each stages privately and commits first-committer-wins."""
        self._refresh()
        return Transaction(self)

    def _tx(self) -> Transaction:
        """The implicit transaction the engine's own writes stage into."""
        if self._implicit is None:
            self._implicit = self.begin()
        return self._implicit

    # -- publish hooks (overridden by the durable ledger, store.py) --------
    def _refresh(self) -> None:
        """Pull commits published by other engine instances. In-memory
        engines are single-process: nothing to pull."""

    def _entries_after(self, version: int) -> list[tuple[int, set[int] | None]]:
        """The first-committer-wins conflict trail: (version, write-set)
        for every commit after ``version``."""
        return [(v, w) for v, w in self._commit_writes if v > version]

    def _try_publish(self, snapshot: GraphSnapshot, writes, ops, kind: str) -> bool:
        """Claim ``snapshot.version`` as the next committed version.
        In-memory: single-process, the claim always succeeds. Durable
        engines CAS against the file ledger and may lose the race."""
        self._ledger.append(snapshot)
        self._commit_writes.append((snapshot.version, writes))
        return True

    # -- engine-wide id allocation (shared across live transactions) -------
    def _reserve_ids(self, kind: str, count: int, snap: GraphSnapshot) -> tuple[GraphSnapshot, list[int]]:
        """Reserve ``count`` ids above both this engine's high-water mark
        and the largest ``kind`` id in ``snap``. A snapshot whose largest
        id is unknown (reopened, bulk-loaded) is scanned once, deleted rows
        included; it comes back with the mark recorded."""
        field = f"max_{kind}_id"
        known = getattr(snap, field)
        if known is None:
            known = mutations.max_id(snap, kind)
            snap = replace(snap, **{field: known})
        base = max(self._id_high.get(kind, 0), known)
        self._id_high[kind] = base + count
        return snap, list(range(base + 1, base + count + 1))

    # -- snapshot access (MVCC reads) -------------------------------------
    @property
    def current(self) -> GraphSnapshot:
        """Latest committed snapshot + own staged writes (the reference's
        "created by me" visibility half, ``MVCC.hs:287-298``)."""
        return self._implicit.snapshot if self._implicit is not None else self._ledger[-1]

    @property
    def committed(self) -> GraphSnapshot:
        return self._ledger[-1]

    def snapshot_at(self, version: int) -> GraphSnapshot:
        """Time travel: pinned read of an old committed version (reference
        repeatable-read semantics, ``MVCCSpec.hs:120-133``)."""
        for s in self._ledger:
            if s.version == version:
                return s
        raise KeyError(f"no committed snapshot version {version}")

    @property
    def versions(self) -> list[int]:
        return [s.version for s in self._ledger]

    # -- the implicit transaction -----------------------------------------
    def commit(self) -> int:
        """Commit the engine's implicit transaction (T5): first-committer-
        wins like any ``begin()`` transaction, so a concurrent commit with
        a disjoint write-set is kept and these writes replay onto it.
        Raises ``WriteConflict`` / ``DuplicateIndexKey`` and stays open
        for ``rollback()`` on failure."""
        if self._implicit is None:
            return self.committed.version
        version = self._implicit.commit()
        self._implicit = None
        return version

    def rollback(self) -> None:
        if self._implicit is not None:
            self._implicit.rollback()
            self._implicit = None

    def checkpoint(self, path: str) -> None:
        """Reference S7 ``checkpoint``: force-materialize the committed
        snapshot to storage."""
        self.committed.write(path)

    def model_df(self) -> DataFrame:
        """The maintained type dictionary as a DataFrame (reference M8);
        folds in any bulk-ingested types first."""
        if self.model.dirty:
            self.model.fold_snapshot(self.committed)
        return self.model.to_df(self.spark)

    # -- writes: staged in the implicit transaction until commit -----------
    def add_nodes(self, rows, ids=None) -> list[int]:
        return self._tx().add_nodes(rows, ids)

    def add_node(self, label: str, props: Mapping[str, object] | None = None) -> int:
        return self._tx().add_node(label, props)

    def add_edges(self, rows, ids=None) -> list[int]:
        return self._tx().add_edges(rows, ids)

    def add_edge(self, src: int, dst: int, label: str, props: Mapping[str, object] | None = None) -> int:
        return self._tx().add_edge(src, dst, label, props)

    def add_nodes_df(self, nodes: DataFrame, props: DataFrame | None = None) -> None:
        self._tx().add_nodes_df(nodes, props)

    def add_edges_df(self, edges: DataFrame, props: DataFrame | None = None) -> None:
        self._tx().add_edges_df(edges, props)

    def update_node(self, node_id: int, label: str, props: Mapping[str, object]) -> None:
        self._tx().update_node(node_id, label, props)

    def delete_nodes(self, node_ids: list[int]) -> None:
        self._tx().delete_nodes(node_ids)

    def delete_edges(self, edge_ids: list[int]) -> None:
        self._tx().delete_edges(edge_ids)

    def set_properties(self, owner_id: int, owner_kind: str, props: Mapping[str, object]) -> None:
        self._tx().set_properties(owner_id, owner_kind, props)

    # -- indexes -----------------------------------------------------------
    def add_index(self, name: str, labels: Sequence[str] = (), prop_names: Sequence[str] = ()) -> None:
        """Register + retroactively build an index (reference X1). On a
        clean engine the registration commits at once (the reference
        persists the registry on addIndex, ``API.hs:509``) and raises
        DuplicateIndexKey if existing data violates uniqueness
        (``APITest.hs:158-165`` retroactive-indexing scenario); with writes
        staged it joins them and is checked at their commit."""
        clean = self._implicit is None
        self._tx()._stage(["add_index", name, list(labels), list(prop_names)], ())
        if clean:
            try:
                self.commit()
            except DuplicateIndexKey:
                self.rollback()
                raise

    def index_lookup(self, index_name: str, value) -> DataFrame:
        """Point lookup (reference trie ``lookup``, X3)."""
        idx = self.current.indexes[index_name]
        return idx.filter(F.col("key") == schemas.canonical_string(value)).select("owner_id", "label", "name", "key")

    def index_prefix(self, index_name: str, prefix: str, ordered: bool = False) -> DataFrame:
        """Prefix scan (reference trie ``prefix``/``prefixF``, X4).

        ``ordered=True`` returns rows in depth-first trie order — i.e.
        lexicographic key order, the enumeration the reference's trie
        traversal produces (``LowLevelDB/test/.../TrieSpec.hs:89-95``);
        ties on equal keys break by owner_id for determinism. The default
        unordered bag is the declared divergence (SURVEY.md §7): on a
        cluster an orderBy is a real sort, so callers opt in."""
        idx = self.current.indexes[index_name]
        out = idx.filter(F.col("key").startswith(prefix)).select("owner_id", "label", "name", "key")
        return out.orderBy("key", "owner_id") if ordered else out

    # -- queries -----------------------------------------------------------
    def traverse(self, t: Traversal, version: int | None = None) -> TraversalResult:
        snap = self.current if version is None else self.snapshot_at(version)
        return compile_traversal(snap, t)

    def register_views(self, prefix: str = "graph", version: int | None = None) -> None:
        """Expose the (pinned) snapshot as SQL temp views —
        ``{prefix}_nodes`` / ``{prefix}_edges`` / ``{prefix}_props`` — so
        the whole Spark SQL surface works over the graph directly
        (``spark.sql("SELECT label, count(*) FROM graph_nodes GROUP BY
        label")``). Views capture the snapshot's lazy plan, so Catalyst
        still prunes/pushes down through them; re-register after commits
        to move the views forward (MVCC: a registered view is a pinned
        read, like any snapshot reference)."""
        snap = self.current if version is None else self.snapshot_at(version)
        snap.nodes.createOrReplaceTempView(f"{prefix}_nodes")
        snap.edges.createOrReplaceTempView(f"{prefix}_edges")
        if snap.props is not None:
            snap.props.createOrReplaceTempView(f"{prefix}_props")

    def sql(self, query: str, prefix: str = "graph", version: int | None = None):
        """Run a SQL query against the snapshot's views (registering them
        first). The HGraphStorage surface is programmatic (Traversal /
        query_step); this is the Spark-native extension of it."""
        self.register_views(prefix=prefix, version=version)
        return self.spark.sql(query)


def snapshot_diff(a: GraphSnapshot, b: GraphSnapshot) -> dict[str, DataFrame]:
    """What changed between two committed versions — the MVCC surface a
    version-chain store owes its users (the reference keeps per-record
    version chains, ``LowLevelDB MVCC.hs``; on immutable snapshots the
    chain is recovered by set difference).

    Returns six DataFrames keyed: nodes_added / nodes_removed (id,
    label), edges_added / edges_removed (id, src, dst, label), and
    props_added / props_removed — each carrying the FULL props columns
    of rows present on one side only. An updated property value appears
    as one props_removed row + one props_added row (long-format props
    have no identity beyond their value).

    All six are exceptAll set differences keyed on stable ids — plain
    shuffles Catalyst plans as hash joins; nothing is collected."""
    node_cols = ["id", "label"]
    edge_cols = ["id", "src", "dst", "label"]
    prop_cols = [c for c in a.props.columns]
    return {
        "nodes_added": b.nodes.select(node_cols).exceptAll(a.nodes.select(node_cols)),
        "nodes_removed": a.nodes.select(node_cols).exceptAll(b.nodes.select(node_cols)),
        "edges_added": b.edges.select(edge_cols).exceptAll(a.edges.select(edge_cols)),
        "edges_removed": a.edges.select(edge_cols).exceptAll(b.edges.select(edge_cols)),
        "props_added": b.props.select(prop_cols).exceptAll(a.props.select(prop_cols)),
        "props_removed": a.props.select(prop_cols).exceptAll(b.props.select(prop_cols)),
    }


def entity_history(engine: "GraphEngine", owner_id: int) -> list[dict]:
    """The version-chain view for ONE entity: for every committed version,
    the entity's property state if it changed at that version — the
    reference's per-record chain walk (``readRecord`` following
    ``recordPrev``), reconstructed from the snapshot ledger.

    Intended for point debugging (one entity, V versions): each step is
    a broadcast-filtered props lookup on a pinned snapshot, collected as
    a tiny list of {version, props} dicts; versions where nothing about
    the entity changed are skipped."""
    out: list[dict] = []
    prev: dict | None = None
    for v in engine.versions:
        if v == 0:
            continue
        snap = engine.snapshot_at(v)
        from hgraphstorage_spark.compiler import value_str

        rows = (
            snap.props.filter(F.col("owner_id") == owner_id)
            .select("name", value_str().alias("v"))
            .collect()
        )
        state: dict = {}
        for r in rows:
            state.setdefault(r["name"], []).append(r["v"])
        state = {k: sorted(vs) for k, vs in state.items()}
        exists = bool(rows) or snap.nodes.filter(F.col("id") == owner_id).limit(1).count() > 0
        entry = {"version": v, "exists": exists, "props": state}
        key = (exists, tuple(sorted((k, tuple(v)) for k, v in state.items())))
        if prev != key:
            out.append(entry)
            prev = key
    return out
