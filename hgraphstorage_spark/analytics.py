"""Graph analytics over a snapshot: degrees, components, PageRank,
traversal distances, centralities, cohesion — the GraphX/Pregel-style
layer (SURVEY.md §7 M5).

The reference has no analytics surface (it is an OLTP traversal engine);
these are the north-star extension. Implemented as DataFrame-Pregel loops
rather than the graphframes package (an extra JVM dependency) — the same
iterated-join shape GraphX lowers to. Three shared loops carry the
iterative algorithms:

- :func:`pregel`, one superstep = edge ⋈ state → aggregate → update over
  one state column: ``connected_components`` (HashMin) and
  ``label_propagation``;
- ``_frontier_bfs``, the layered frontier expansion (expand, anti-join
  the visited set, tag the hop): ``shortest_paths`` — and through it
  ``bfs``, ``harmonic_centrality`` and ``diameter_estimate`` — and the
  sigma-counting forward phase of ``betweenness``;
- ``_hyperball_registers``, the HLL register rounds of ``hyperball`` and
  ``hyperball_centrality``.

PageRank (dangling mass), alternating-star CC, SCC, k-core, k-truss, the
weighted Bellman-Ford relaxation and HITS keep their own loops: their
rounds are not a message → aggregate → update step over one state
column. ``_edge_view`` is the one edge prologue (label filter,
projection, reverse direction when undirected, persist). Every loop ends
its round in ``localCheckpoint`` to truncate lineage (SURVEY.md §7
"Pregel lineage blowup"); a convergence check is one ``limit(1).count()``
that also materializes the round's lazy checkpoint.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgraphstorage_spark.snapshot import GraphSnapshot


def _edge_view(
    snap: GraphSnapshot,
    labels=(),
    directed: bool = True,
    weight=None,
    persist: bool = True,
) -> DataFrame:
    """The edge prologue of the iterative algorithms: keep the edges whose
    label is in ``labels`` (empty or None = all labels), project
    (src, dst[, w = ``weight``]) and add the reverse direction when
    undirected. Persisted by default — the static input every round joins (persist:
    evictable, spills at scale, the GraphX idiom); uncached, each round
    would re-scan the edge source."""
    edges = snap.edges
    if labels:
        edges = edges.filter(F.col("label").isin(list(labels)))
    ed = edges.select("src", "dst", *([weight.alias("w")] if weight is not None else []))
    if not directed:
        ed = ed.unionAll(ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *ed.columns[2:]))
    return ed.persist() if persist else ed


def degrees(snap: GraphSnapshot) -> DataFrame:
    """(id, label, out_deg, in_deg, deg) per node. ONE partial-aggregated
    shuffle + one join; isolated nodes report 0.

    Both endpoints explode from a single edge pass — the two-aggregate
    form (out over src, in over dst, joined back) scanned the edge
    source twice and shuffled twice for the same 2|E| rows, and when the
    edges are a derivation (tables -> typed edges) the whole derivation
    replayed per direction."""
    both = (
        snap.edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("id"), F.lit(1).alias("_out")),
                    F.struct(F.col("dst").alias("id"), F.lit(0).alias("_out")),
                )
            ).alias("m")
        )
        .groupBy(F.col("m.id").alias("id"))
        .agg(
            F.sum("m._out").alias("out_deg"),
            F.sum(1 - F.col("m._out")).alias("in_deg"),
        )
    )
    return snap.nodes.join(both, "id", "left").select(
        "id",
        "label",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        (F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0))).alias("deg"),
    )


def connected_components(snap: GraphSnapshot, max_iter: int = 50) -> DataFrame:
    """Undirected connected components by iterative min-id propagation
    (the classic Pregel formulation; HashMin) on :func:`pregel`. Returns
    (id, component) where component = min node id in the component.

    Each superstep: component ← min(component, min over neighbors'
    components). Converges in O(diameter) supersteps of one Spark job
    each; warns when ``max_iter`` runs out first.
    """
    return pregel(
        snap,
        initial=lambda nodes: F.col("id"),
        message=lambda s: s,
        aggregate=F.min,
        update=lambda old, agg: F.least(old, F.coalesce(agg, old)),
        max_iter=max_iter,
        directed=False,
    ).withColumnRenamed("state", "component")


def connected_components_alternating(snap: GraphSnapshot, max_iter: int = 30) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the 100 TB path: converges in O(log n) rounds regardless of
    graph diameter, vs HashMin's O(diameter), and the edge set *shrinks*
    toward stars as it runs (later rounds shuffle less data).

    large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u});
    small-star: with edges oriented large→small, every neighbor (and u)
    links to the minimum. Fixpoint = star forests; component id = root.
    Returns (id, component), identical to `connected_components` output.
    """
    edges = (
        snap.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = snap.nodes.select("id").localCheckpoint()

    def dedup(e: DataFrame) -> DataFrame:
        return e.filter(F.col("u") != F.col("v")).distinct()

    def large_star(e: DataFrame) -> DataFrame:
        und = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return dedup(
            und.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient each edge from the larger endpoint to the smaller
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = d.groupBy("u").agg(F.min("v").alias("m"))
        linked = d.join(m, "u")
        return dedup(
            linked.select(F.col("v").alias("u"), F.col("m").alias("v")).unionAll(
                m.select(F.col("u"), F.col("m").alias("v"))
            )
        )

    def fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),  # overflow-free under ANSI
        ).collect()[0]
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint()
        cur = fingerprint(edges)
        if cur == prev:
            break
        prev = cur

    # at fixpoint each non-root points at its component root; roots and
    # isolated nodes map to themselves
    assign = edges.groupBy("u").agg(F.min("v").alias("component"))
    return nodes.join(assign.withColumnRenamed("u", "id"), "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def pagerank(
    snap: GraphSnapshot,
    alpha: float = 0.85,
    iterations: int = 10,
    dangling: bool = True,
    reset_to: list | None = None,
) -> DataFrame:
    """PageRank with fixed iteration count (deterministic). Returns
    (id, rank DOUBLE), ranks summing to ~1.

    ``reset_to`` personalizes: the (1-α) teleport and the dangling mass
    return to the given seed node ids (uniformly across them) instead of
    all nodes — ranks become proximity-to-seeds scores (PPR). ``None`` =
    classic uniform PageRank.

    Per iteration: contributions shuffle on dst, and the dangling-mass
    aggregate is folded into the same plan as a broadcast 1-row crossJoin
    — one Spark job per iteration, no driver-side collect in the loop.
    Out-degrees are computed once and cached; lineage is truncated per
    iteration.
    """
    nodes = snap.nodes.select("id").localCheckpoint()
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank"))
    edges = snap.edges.select("src", "dst")
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_deg"))
    # (src, dst, out_deg) resolved once
    links = edges.join(out_deg.withColumnRenamed("id", "src"), "src").localCheckpoint()

    if reset_to is None:
        p = F.lit(1.0 / n)
    else:
        p = F.when(F.col("id").isin(reset_to), F.lit(1.0 / len(reset_to))).otherwise(F.lit(0.0))
    ranks = nodes.select("id", p.alias("rank"))
    for _ in range(iterations):
        contribs = (
            links.join(ranks.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("in_mass"))
        )
        joined = nodes.join(contribs, "id", "left")
        if dangling:
            # 1-row dangling aggregate stays in-plan: broadcast crossJoin
            # instead of a driver collect, so each iteration is one job
            dm = (
                ranks.join(out_deg, "id", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
            )
            joined = joined.crossJoin(F.broadcast(dm))
            dm_col = F.col("_dm")
        else:
            dm_col = F.lit(0.0)
        in_term = F.lit(alpha) * F.coalesce("in_mass", F.lit(0.0))
        if reset_to is None:
            # same IEEE op order as the scalar form: (1-a)/n + (a*dm)/n
            base = F.lit((1.0 - alpha) / n) + F.lit(alpha) * dm_col / F.lit(float(n))
        else:
            base = (F.lit(1.0 - alpha) + F.lit(alpha) * dm_col) * p
        ranks = (
            joined.select("id", (base + in_term).alias("rank"))
            .localCheckpoint()
        )
    return ranks


def pregel(
    snap: GraphSnapshot,
    initial,
    message,
    aggregate,
    update,
    max_iter: int = 20,
    directed: bool = True,
    check_convergence: bool = True,
) -> DataFrame:
    """Generic DataFrame-Pregel (the GraphX ``Pregel`` operator shape,
    re-expressed over (nodes, edges) DataFrames).

    - ``initial(nodes) -> Column``: initial vertex state
    - ``message(state_col) -> Column``: message sent along each edge from
      the source's state (directed) — evaluated against the joined
      (edge ⋈ src-state) row
    - ``aggregate(msg_col) -> Column``: aggregate expression combining
      inbound messages per vertex (e.g. ``F.min``, ``F.sum``)
    - ``update(old_col, agg_col) -> Column``: new state from old state +
      aggregated message (agg is NULL when no messages arrived)

    Each superstep = one join + one aggregate + one state join, with
    ``localCheckpoint`` truncating lineage. With ``check_convergence`` a
    superstep is ONE Spark job: the new state is checkpointed lazily and
    the "any state changed" ``limit(1).count()`` materializes it; the loop
    stops at the first superstep that changes nothing and emits a
    ``RuntimeWarning`` if ``max_iter`` runs out while the state is still
    changing. Without it (fixed-iteration algorithms) every superstep
    checkpoints eagerly. Returns (id, state).
    """
    edges = _edge_view(snap, directed=directed)
    state = snap.nodes.select("id", initial(snap.nodes).alias("state")).localCheckpoint()
    changed = 0
    for _ in range(max_iter):
        msgs = (
            edges.join(state.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), message(F.col("state")).alias("msg"))
            .groupBy("id")
            .agg(aggregate(F.col("msg")).alias("agg_msg"))
        )
        new_state = state.join(msgs, "id", "left").select(
            "id", F.col("state").alias("old"), update(F.col("state"), F.col("agg_msg")).alias("state")
        )
        if not check_convergence:
            state = new_state.select("id", "state").localCheckpoint()
            continue
        new_state = new_state.localCheckpoint(eager=False)  # materialized by the count below
        changed = new_state.filter(~F.col("state").eqNullSafe(F.col("old"))).limit(1).count()
        state = new_state.select("id", "state")
        if changed == 0:
            break
    else:
        if changed:
            warnings.warn(
                f"pregel: state still changing after max_iter={max_iter} supersteps — "
                "the result is not a fixpoint. Raise max_iter (propagation needs one "
                "superstep per hop of the longest path it must cross).",
                RuntimeWarning,
                stacklevel=2,
            )
    edges.unpersist()
    return state


def _oriented_triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the undirected simple graph exactly once, as
    (a, b, c), via degree-ordered orientation (Suri-Vassilvitskii):
    orient each edge from the lower-(deg, id) endpoint to the higher,
    enumerate wedges at the low vertex, keep those whose closing edge
    exists. Bounds per-node oriented out-degree by O(sqrt(m)) — the skew
    guarantee triangle_count documents; shared with ``k_truss``.
    Input: und (a<b pairs as u, v), deg (id, deg)."""
    with_deg = (
        und.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
    )
    lo_first = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = with_deg.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.struct("dv", "v")).otherwise(F.struct(F.col("du").alias("dv"), F.col("u").alias("v"))).alias("b"),
    ).select("a", F.col("b.v").alias("b"), F.col("b.dv").alias("rank_b"))
    # wedges at a: unordered pairs (b, c) of a's oriented neighbors,
    # ordered by the same (deg, id) rank so the closing edge (b -> c)
    # can only be oriented one way
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, "a").filter(
        (F.col("e1.rank_b") < F.col("e2.rank_b"))
        | ((F.col("e1.rank_b") == F.col("e2.rank_b")) & (F.col("e1.b") < F.col("e2.b")))
    ).select("a", F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    return wedges.join(closing, ["b", "c"], "left_semi")


def triangle_count(snap: GraphSnapshot) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph, by
    degree-ordered edge orientation (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11).

    Orienting every edge from the lower-(degree, id) endpoint to the
    higher bounds each node's oriented out-degree by O(sqrt(m)), so the
    wedge join materializes O(m^1.5) rows worst-case instead of
    sum(deg^2) — the difference between feasible and not on a skewed
    100 TB graph (a celebrity node with 10^7 neighbors would otherwise
    produce 10^14 wedges). Returns (id, triangles) for every node in the
    snapshot, 0 for triangle-free nodes.
    """
    und = (
        snap.edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tris = _oriented_triangles(und, deg)
    roles = (
        tris.select(F.col("a").alias("id"))
        .unionAll(tris.select(F.col("b").alias("id")))
        .unionAll(tris.select(F.col("c").alias("id")))
    )
    counts = roles.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    return snap.nodes.select("id").join(counts, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def _frontier_bfs(seeds: DataFrame, expand, keys: list, max_hops: int):
    """The layered frontier loop shared by ``shortest_paths`` and the
    forward phase of ``betweenness``. ``seeds`` is hop 0 and carries a
    ``dist`` column; ``expand(frontier)`` returns the next layer's
    candidate rows (every seeds column but ``dist``). Candidates already
    visited (anti-join on ``keys``) drop, the rest are tagged
    ``dist = hop``. Each hop is one Spark job: the layer is checkpointed
    lazily and its ``limit(1).count()`` emptiness check materializes it.

    Returns (visited, frontier, depth): every reached row, the deepest
    layer if ``max_hops`` ran out (None after a clean fixpoint — no
    unvisited successors remain) and that layer's hop."""
    visited = frontier = seeds.localCheckpoint()
    depth = 0
    for hop in range(1, max_hops + 1):
        nxt = (
            expand(frontier)
            .join(visited.select(*keys), keys, "left_anti")
            .select(*[F.lit(hop).alias("dist") if c == "dist" else c for c in seeds.columns])
            .localCheckpoint(eager=False)  # materialized by the count below
        )
        if nxt.limit(1).count() == 0:
            return visited, None, depth
        visited = visited.unionAll(nxt).localCheckpoint(eager=False)
        frontier, depth = nxt, hop
    return visited, frontier, depth


def shortest_paths(
    snap: GraphSnapshot,
    landmarks: list,
    max_hops: int = 10,
    labels: tuple = (),
    directed: bool = False,
) -> DataFrame:
    """Hop distance from every reachable node to each landmark (the
    GraphFrames ``shortestPaths`` shape). Returns (id, landmark, dist);
    unreachable (node, landmark) pairs are absent.

    All landmarks run in ONE multi-source BFS (``_frontier_bfs``): state
    rows are (id, landmark, dist) and each hop expands the whole frontier
    with a single edge join, so the edge table is scanned once per hop
    rather than once per landmark per hop."""
    edges = _edge_view(snap, labels, directed)
    spark = snap.nodes.sparkSession
    seeds = spark.createDataFrame([(x, x, 0) for x in landmarks], "id long, landmark long, dist int")
    visited, _, _ = _frontier_bfs(
        seeds,
        lambda f: f.withColumnRenamed("id", "src")
        .join(edges, "src")
        .select(F.col("dst").alias("id"), "landmark")
        .distinct(),
        ["id", "landmark"],
        max_hops,
    )
    edges.unpersist()
    return visited


def label_propagation(snap: GraphSnapshot, max_iter: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007; the GraphFrames ``labelPropagation`` shape) on
    :func:`pregel`. Each round every node adopts the most frequent label
    among its (undirected) neighbors, ties broken by the smallest label
    (``mode(deterministic=True)``) — deterministic, unlike the randomized
    original. Fixed iteration count (sync LPA may oscillate on bipartite
    structures rather than converge). Returns (id, community)."""
    return pregel(
        snap,
        initial=lambda nodes: F.col("id"),
        message=lambda s: s,
        aggregate=lambda m: F.mode(m, deterministic=True),
        update=lambda old, agg: F.coalesce(agg, old),
        max_iter=max_iter,
        directed=False,
        check_convergence=False,
    ).withColumnRenamed("state", "community")


def bfs(snap: GraphSnapshot, source_id: int, max_hops: int = 10, labels: tuple = ()) -> DataFrame:
    """Multi-hop BFS: (id, hops) for nodes reachable from source within
    max_hops along (optionally label-filtered) out-edges — the
    single-landmark directed :func:`shortest_paths`."""
    sp = shortest_paths(snap, [source_id], max_hops=max_hops, labels=labels, directed=True)
    return sp.select("id", F.col("dist").alias("hops"))


def k_core(snap: GraphSnapshot, k: int = 3, max_rounds: int = 100) -> DataFrame:
    """The k-core: the maximal subgraph in which every node has undirected
    degree >= k (over the simple graph — distinct neighbor pairs, edge
    direction and multiplicity ignored). Returns (id, deg) of the
    surviving nodes with their within-core degree.

    Iterative peeling: drop all nodes with degree < k, recompute, repeat.
    The fixpoint is unique regardless of peel order, so the result is
    deterministic and SQL-oracle-able by unrolling rounds. Peeling all
    violating nodes per round (not one at a time) converges in few
    synchronized rounds — the standard distributed formulation.

    Per round: one partial-aggregated degree shuffle + two anti-joins to
    drop edges with a peeled endpoint; ``localCheckpoint`` truncates the
    per-round lineage. At 100 TB the edge set shrinks monotonically, so
    round cost decreases; AQE picks broadcast for the late small rounds.
    """
    e = (
        snap.edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("a").alias("id"))
            .unionAll(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=False)  # materialized by the count below
        )
        bad = deg.filter(F.col("deg") < k).select("id")
        if bad.limit(1).count() == 0:
            return deg
        e = (
            e.join(bad.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(bad.withColumnRenamed("id", "b"), "b", "left_anti")
            .localCheckpoint(eager=False)  # materialized by next round's count
        )
    return deg


def aggregate_messages(
    snap: GraphSnapshot,
    agg_exprs: dict,
    msg_to_dst: F.Column | None = None,
    msg_to_src: F.Column | None = None,
) -> DataFrame:
    """The GraphX ``aggregateMessages`` primitive (GraphFrames
    ``AggregateMessages`` shape): build the triplet view — ``src`` /
    ``edge`` / ``dst`` structs — send a Column-expressed message along each
    edge to either endpoint, and aggregate arriving messages per node.

    ``msg_to_dst`` / ``msg_to_src`` are Columns over the struct fields
    (``F.col("src.id")``, ``F.col("edge.label")``, ``F.col("dst.id")``);
    ``agg_exprs`` maps output names to functions of the message column,
    e.g. ``{"n_msgs": F.count, "min_nbr": F.min}``. Returns (id, *aggs)
    for nodes that received at least one message.

    Shape at scale: two hash joins to hydrate the triplet view (only the
    node columns the messages actually reference survive pruning), then
    one shuffle keyed by receiving node id with map-side partial
    aggregation. It is a one-round primitive: no algorithm here loops
    over it. :func:`pregel` runs the same send → aggregate step per
    superstep over the bare (src, dst) edge view (no triplet hydration),
    and ``degrees``/``pagerank`` write their own joins."""
    if msg_to_dst is None and msg_to_src is None:
        raise ValueError("at least one of msg_to_dst / msg_to_src is required")
    from hgraphstorage_spark.pipeline.state import track

    # the node frame is consumed by BOTH triplet joins (src + dst
    # hydration); unpersisted, each join replays the 6-way dimension-table
    # union — every node table scanned once per reference (r12 sweep's one
    # residual duplicate-compute lead). Nodes are narrow (id, label), so
    # persisting costs little width while both joins read one
    # materialization.
    nodes = track(snap.nodes)
    edges = snap.edges
    triplet = (
        edges.select(F.struct(*edges.columns).alias("edge"))
        .join(
            nodes.select(F.struct(*nodes.columns).alias("src")),
            F.col("edge.src") == F.col("src.id"),
        )
        .join(
            nodes.select(F.struct(*nodes.columns).alias("dst")),
            F.col("edge.dst") == F.col("dst.id"),
        )
    )
    if msg_to_dst is not None and msg_to_src is not None:
        # both directions: sending via unionAll of two triplet selects
        # replays the full two-join hydration once PER DIRECTION
        # (measured: every node table scanned twice as often as needed).
        # One triplet pass exploding a 2-element (receiver, msg) array
        # sends both messages from the same hydrated row — half the join
        # work, identical rows. array() requires both messages to have
        # the SAME type; the rare mixed-type send keeps the coercing
        # unionAll path (probe via schema analysis, no execution).
        probe = triplet.select(msg_to_dst.alias("a"), msg_to_src.alias("b")).schema
        if probe[0].dataType == probe[1].dataType:
            inbox = triplet.select(
                F.explode(
                    F.array(
                        F.struct(F.col("dst.id").alias("id"), msg_to_dst.alias("msg")),
                        F.struct(F.col("src.id").alias("id"), msg_to_src.alias("msg")),
                    )
                ).alias("m")
            ).select("m.id", "m.msg")
        else:
            inbox = triplet.select(
                F.col("dst.id").alias("id"), msg_to_dst.alias("msg")
            ).unionAll(
                triplet.select(F.col("src.id").alias("id"), msg_to_src.alias("msg"))
            )
    elif msg_to_dst is not None:
        inbox = triplet.select(F.col("dst.id").alias("id"), msg_to_dst.alias("msg"))
    else:
        inbox = triplet.select(F.col("src.id").alias("id"), msg_to_src.alias("msg"))
    return inbox.groupBy("id").agg(
        *[fn(F.col("msg")).alias(name) for name, fn in agg_exprs.items()]
    )


def random_walks(
    snap: GraphSnapshot,
    start_nodes: DataFrame,
    walk_len: int = 3,
    labels: tuple = (),
    salt: str = "walk",
) -> DataFrame:
    """Graph sampling by deterministic random walks (the DeepWalk/node2vec
    corpus-generation step, with the RNG replaced by a content hash so
    runs are reproducible and engine-verifiable). One walk per start
    node; at each step the walker moves to the out-neighbor minimizing
    md5(walk_id:step:neighbor) — a uniform-ish choice that needs no
    seeded RNG state, is independent of partitioning, and unrolls to SQL.
    Walks at a sink node simply stop. Returns (walk_id, step, node),
    step 0 = the start node.

    Shape at scale: per step one equi-join frontier↔edges (frontier
    shrinks or holds; edges scanned via the src-keyed join) and one
    min-by aggregate keyed by walk_id. No windows, no driver loops;
    walk_len is the only sequential dimension."""
    # not persisted: the returned walks stay lazy and still read the edges
    edges = _edge_view(snap, labels, persist=False)
    frontier = start_nodes.select(
        F.col("id").alias("walk_id"), F.col("id").alias("node")
    )
    out = [frontier.select("walk_id", F.lit(0).alias("step"), "node")]
    for step in range(1, walk_len + 1):
        score = F.md5(
            F.concat(
                F.col("walk_id").cast("string"),
                F.lit(f":{salt}:{step}:"),
                F.col("dst").cast("string"),
            )
        )
        picked = (
            frontier.join(edges, frontier.node == edges.src)
            .groupBy("walk_id")
            .agg(F.min(F.struct(score.alias("s"), F.col("dst").alias("d"))).alias("c"))
            .select("walk_id", F.col("c.d").alias("node"))
            .localCheckpoint(eager=False)
        )
        out.append(picked.select("walk_id", F.lit(step).alias("step"), "node"))
        frontier = picked
    res = out[0]
    for part in out[1:]:
        res = res.unionAll(part)
    return res


def strongly_connected_components(
    snap: GraphSnapshot, max_outer: int = 20, max_prop: int = 50
) -> DataFrame:
    """Strongly connected components of the directed graph by the
    forward-coloring / backward-marking algorithm (Orzan 2004; the shape
    GraphX's SCC uses). Returns (id, scc) with scc = min node id of the
    component.

    Outer round: (1) propagate ``color = max id of any node that can
    reach v`` forward to fixpoint — O(diameter) rounds of one join + one
    max-aggregate; (2) each color class has exactly one root (color(r)=r);
    mark everything that reaches its root backward *within its color
    class* — those marked form whole SCCs; (3) assign, remove, repeat on
    the residual. Every step is an id-keyed join/agg (partial-aggregated,
    skew bounded by in-degree); per-round state is localCheckpointed with
    the convergence count as the materializing action."""
    spark = snap.nodes.sparkSession
    edges_all = snap.edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    remaining = snap.nodes.select("id").localCheckpoint()
    assigned = spark.createDataFrame([], "id long, scc long")
    for _ in range(max_outer):
        if remaining.limit(1).count() == 0:
            break
        e = (
            edges_all.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint()
        )
        # (1) forward max-color propagation to fixpoint
        color = remaining.select("id", F.col("id").alias("color"))
        for _p in range(max_prop):
            pushed = (
                e.join(color.withColumnRenamed("id", "src").withColumnRenamed("color", "c_src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max("c_src").alias("c_in"))
            )
            nxt = (
                color.join(pushed, "id", "left")
                .select(
                    "id",
                    F.greatest(F.col("color"), F.coalesce("c_in", F.col("color"))).alias("new_color"),
                    "color",
                )
                .localCheckpoint(eager=False)
            )
            changed = nxt.filter(F.col("new_color") != F.col("color")).limit(1).count()
            color = nxt.select("id", F.col("new_color").alias("color"))
            if changed == 0:
                break
        # (2) backward marking from each root within its color class
        marked = color.filter(F.col("id") == F.col("color")).localCheckpoint()
        while True:
            pre = (
                e.join(marked.withColumnRenamed("id", "dst"), "dst")
                .select(F.col("src").alias("id"), "color")
                .distinct()
                .join(color.withColumnRenamed("color", "own_color"), "id")
                .filter(F.col("own_color") == F.col("color"))
                .select("id", "color")
                .join(marked, "id", "left_anti")
                .localCheckpoint(eager=False)
            )
            if pre.limit(1).count() == 0:
                break
            marked = marked.unionAll(pre).localCheckpoint(eager=False)
        # (3) an SCC's members share the root's color; scc id = min member id
        scc_min = marked.groupBy("color").agg(F.min("id").alias("scc"))
        assigned = assigned.unionAll(marked.join(scc_min, "color").select("id", "scc")).localCheckpoint()
        remaining = remaining.join(marked.select("id"), "id", "left_anti").localCheckpoint()
    return assigned


def link_prediction(
    snap: GraphSnapshot, max_hub_degree: int | None = None
) -> DataFrame:
    """Common-neighbor link-prediction scores for every non-adjacent node
    pair at distance 2 in the undirected simple graph: common-neighbor
    count, Jaccard coefficient, and Adamic-Adar (sum over common
    neighbors w of 1/ln deg(w)) — the classic unsupervised features for
    edge-completion / recommendation training sets. A north-star
    extension (the reference's only join-shaped ops are one-hop
    traversals, SURVEY.md §2.3); semantics follow Liben-Nowell & Kleinberg
    2003.

    Returns (u, v, common_neighbors, jaccard, adamic_adar) with u < v.

    Scale shape: wedge enumeration through the common neighbor w — one
    self-join of the adjacency list keyed on w, then one (u, v)-keyed
    aggregation; no per-pair set intersection. A hub of degree d emits
    d^2/2 wedges, so at 100 TB pass ``max_hub_degree`` to drop
    celebrity-node wedge centers (standard practice: a common neighbor
    of degree 10^7 contributes 1/ln(10^7) ~= 0.06 signal but 10^14
    wedges); exact by default so the oracle can reproduce it.

    Determinism: each Adamic-Adar term 1/ln(deg) is rounded to 12 decimal
    places and summed as DECIMAL(28,12) — the one rounding happens on a
    per-row double (bit-identical everywhere) and the decimal sum is
    exact, so the result is independent of partitioning / summation
    order. Jaccard is a single double division rounded to 6.
    """
    und = (
        snap.edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("w"), F.col("v").alias("n")).unionAll(
        und.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg if max_hub_degree is None else deg.filter(F.col("deg") <= max_hub_degree)
    term = F.round(F.lit(1.0) / F.log(F.col("deg")), 12).cast("decimal(28,12)")
    adj_t = adj.join(centers.select("w", term.alias("aa_term")), "w")
    a1, a2 = adj_t.alias("a1"), adj_t.alias("a2")
    wedges = a1.join(a2, "w").filter(F.col("a1.n") < F.col("a2.n")).select(
        F.col("a1.n").alias("u"), F.col("a2.n").alias("v"), F.col("a1.aa_term").alias("aa_term")
    )
    scores = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("aa_term").cast("decimal(28,12)").alias("adamic_adar"),
    )
    cand = scores.join(und, ["u", "v"], "left_anti")
    du = deg.select(F.col("w").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("w").alias("v"), F.col("deg").alias("dv"))
    return cand.join(du, "u").join(dv, "v").select(
        "u",
        "v",
        "common_neighbors",
        F.round(
            F.col("common_neighbors") / (F.col("du") + F.col("dv") - F.col("common_neighbors")), 6
        )
        .cast("decimal(18,6)")
        .alias("jaccard"),
        "adamic_adar",
    )


def harmonic_centrality(
    snap: GraphSnapshot,
    landmarks: list,
    max_hops: int = 10,
    labels: tuple = (),
    directed: bool = False,
) -> DataFrame:
    """Landmark-approximated harmonic centrality: for every node, the sum
    of 1/dist over the landmark set (self-distance-0 contributes 0) —
    the standard scalable stand-in for exact closeness, which would need
    all-pairs BFS. Exact when ``landmarks`` is every node. Returns
    (id, harmonic DECIMAL(28,12)).

    Each 1/dist term is rounded once to 12 decimals and summed as
    DECIMAL so the result is summation-order-independent (same
    determinism contract as ``link_prediction``); the distances come
    from the one-pass multi-source BFS of ``shortest_paths``.
    """
    sp = shortest_paths(snap, landmarks, max_hops=max_hops, labels=labels, directed=directed)
    term = F.when(
        F.col("dist") > 0,
        F.round(F.lit(1.0) / F.col("dist"), 12).cast("decimal(28,12)"),
    ).otherwise(F.lit(0).cast("decimal(28,12)"))
    return sp.groupBy("id").agg(F.sum(term).cast("decimal(28,12)").alias("harmonic"))


def weighted_shortest_paths(
    snap: GraphSnapshot,
    landmarks: list,
    weight_col=None,
    rounds: int = 4,
    labels: tuple = (),
    directed: bool = False,
) -> DataFrame:
    """Weighted single/multi-source shortest paths by synchronous
    Bellman-Ford relaxation: ``rounds`` rounds of
    state ⋈ edges → cost + w → min per (node, landmark).

    Exact for every shortest path using <= ``rounds`` edges (the
    fixed-round form that keeps the operator deterministic and
    SQL-oracle-able, like ``k_core``/``label_propagation``); run with
    rounds >= the graph diameter for full convergence. All landmarks
    relax in ONE frame — the edge table is scanned once per round, not
    once per landmark. Costs stay integral (LONG) when the weight column
    is integral, so no float-order concerns. State is localCheckpointed
    per round to truncate lineage; unreachable pairs are absent.

    ``weight_col``: Column over the edge rows (default 1 = hop count).
    Returns (id, landmark, cost)."""
    w = (weight_col if weight_col is not None else F.lit(1)).cast("long")
    ed = _edge_view(snap, labels, directed, weight=w)
    spark = snap.nodes.sparkSession
    state = spark.createDataFrame(
        [(x, x, 0) for x in landmarks], "id long, landmark long, cost long"
    ).localCheckpoint()
    for _ in range(rounds):
        relaxed = (
            state.withColumnRenamed("id", "src")
            .join(ed, "src")
            .select(F.col("dst").alias("id"), "landmark", (F.col("cost") + F.col("w")).alias("cost"))
        )
        state = (
            state.unionAll(relaxed)
            .groupBy("id", "landmark")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=False)
        )
    ed.unpersist()
    return state


def betweenness(
    snap: GraphSnapshot,
    landmarks: list,
    max_hops: int = 10,
    labels: tuple = (),
    directed: bool = False,
) -> DataFrame:
    """Landmark-sampled betweenness centrality (Brandes 2001): exact
    source-dependency accumulation for the given ``landmarks``; summing
    over a uniform landmark sample is the standard unbiased estimator of
    full betweenness (Brandes-Pich 2007) — exact when ``landmarks`` is
    every node.

    Forward phase: one layered multi-source BFS (``_frontier_bfs``)
    carrying shortest-path COUNTS (sigma) — per hop, one edge join + a
    (landmark, node) keyed sum, all landmarks in one frame. Backward phase: dependency
    delta(v) = sum over successors w of sigma_v/sigma_w * (1 + delta_w),
    processed one DISTANCE LAYER at a time from the deepest layer in —
    each layer is one join against the successor layer's deltas. Rounds
    are bounded by the reached diameter; every layer frame is
    localCheckpointed. Betweenness = sum of deltas over landmarks,
    endpoints excluded (unreached nodes are absent).

    Ratios are doubles rounded to 9 decimals at the final sum
    (deterministic per-(landmark, node) addition order is NOT required:
    the per-landmark delta is computed layer-local before the final
    keyed sum, whose float-order variance is absorbed by round-6 canon
    in callers that need cross-engine equality).

    Truncation semantics: when ``max_hops`` cuts a BFS short while
    reachable nodes remain, the result is a truncated-horizon estimate
    (paths longer than max_hops contribute nothing, and upstream deltas
    are accordingly smaller) and a ``RuntimeWarning`` is emitted; with
    ``max_hops`` >= the reached diameter the accumulation is exact.

    Returns (id, betweenness DECIMAL(18,6))."""
    # SIMPLE-graph semantics (the textbook definition): parallel edges
    # collapse, self-loops drop — otherwise sigma counts each parallel
    # edge as a distinct shortest path
    ed = (
        _edge_view(snap, labels, directed, persist=False)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    spark = snap.nodes.sparkSession
    seeds = spark.createDataFrame(
        [(x, x, 0, 1) for x in landmarks], "lm long, id long, dist int, sigma long"
    )
    visited, frontier, depth = _frontier_bfs(
        seeds,
        lambda f: f.withColumnRenamed("id", "src")
        .join(ed, "src")
        .groupBy("lm", F.col("dst").alias("id"))
        .agg(F.sum("sigma").alias("sigma")),
        ["lm", "id"],
        max_hops,
    )
    if frontier is not None:
        # max_hops exhausted with a live frontier: if it still has
        # unvisited successors, the deepest layer's deltas seed at 0
        # despite real downstream paths, silently UNDERCOUNTING every
        # upstream delta — surface the truncation instead (ADVICE r3)
        more = (
            frontier.withColumnRenamed("id", "src")
            .join(ed, "src")
            .select("lm", F.col("dst").alias("id"))
            .join(visited.select("lm", "id"), ["lm", "id"], "left_anti")
            .limit(1)
            .count()
        )
        if more:
            warnings.warn(
                f"betweenness: BFS truncated at max_hops={max_hops} with reachable "
                "nodes beyond — deltas are a TRUNCATED-HORIZON estimate (upstream "
                "dependencies undercounted). Raise max_hops to cover the diameter "
                "for the exact Brandes accumulation.",
                RuntimeWarning,
                stacklevel=2,
            )
    # backward: deltas per layer, deepest first
    delta = (
        visited.filter(F.col("dist") == depth)
        .select("lm", "id", F.lit(0.0).alias("delta"))
        .localCheckpoint(eager=False)
    )
    acc = delta
    for d in range(depth - 1, -1, -1):
        layer = visited.filter(F.col("dist") == d)
        succ = (
            visited.filter(F.col("dist") == d + 1)
            .withColumnRenamed("id", "sid")
            .withColumnRenamed("sigma", "ssigma")
            .join(
                delta.select("lm", F.col("id").alias("sid"), F.col("delta").alias("sdelta")),
                ["lm", "sid"],
            )
        )
        contrib = (
            layer.withColumnRenamed("id", "src")
            .join(ed, "src")
            .join(
                succ.select("lm", F.col("sid").alias("dst"), "ssigma", "sdelta"),
                ["lm", "dst"],
            )
            .groupBy("lm", F.col("src").alias("id"))
            .agg(
                F.sum(
                    F.col("sigma").cast("double")
                    / F.col("ssigma")
                    * (F.lit(1.0) + F.col("sdelta"))
                ).alias("c")
            )
        )
        delta = (
            layer.select("lm", "id", "sigma")
            .join(contrib, ["lm", "id"], "left")
            .select("lm", "id", F.coalesce("c", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=False)
        )
        acc = acc.unionAll(delta)
    return (
        acc.filter(F.col("id") != F.col("lm"))
        .groupBy("id")
        .agg(F.round(F.sum("delta"), 6).cast("decimal(18,6)").alias("betweenness"))
    )


def clustering_coefficient(snap: GraphSnapshot) -> DataFrame:
    """Per-node local clustering coefficient over the undirected simple
    graph: triangles / C(deg, 2) — the standard cohesion metric next to
    triangle counts (same Suri-Vassilvitskii wedge machinery underneath,
    so the skew bound carries over; the extra work is one broadcast-size
    degree join). Nodes with deg < 2 score 0. Returns
    (id, triangles, deg, coeff DECIMAL(18,6))."""
    tri = triangle_count(snap)
    und = (
        snap.edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    pairs = (F.col("deg") * (F.col("deg") - 1) / 2).cast("double")
    return (
        tri.join(deg, "id", "left")
        .select(
            "id",
            "triangles",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.round(F.col("triangles").cast("double") / pairs, 6),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
            .alias("coeff"),
        )
    )


def k_truss(snap: GraphSnapshot, k: int = 3, max_rounds: int = 50) -> DataFrame:
    """The k-truss: the maximal subgraph in which every EDGE participates
    in >= k-2 triangles (Cohen 2008) — the edge-level cohesion measure
    beside the node-level k-core (strictly stronger: the k-truss is a
    subgraph of the (k-1)-core). Returns (a, b, support) for surviving
    edges over the undirected simple graph, support measured within the
    final subgraph.

    Synchronized peeling, the same distributed formulation as ``k_core``:
    per round, count each edge's triangles via the degree-ordered
    oriented enumeration (shared ``_oriented_triangles`` — the
    O(sqrt(m)) skew bound applies every round), drop all edges below
    k-2, repeat to the unique fixpoint (order-independent, hence
    deterministic and SQL-oracle-able by unrolling rounds). The edge set
    shrinks monotonically, so later rounds cost less; lineage is
    truncated per round."""
    e = (
        snap.edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    need = k - 2
    merged, converged = None, False
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        tris = _oriented_triangles(e, deg)
        tri_edges = (
            tris.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .unionAll(tris.select(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v")))
            .unionAll(tris.select(F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v")))
        )
        sup = tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))
        merged = (
            e.join(sup, ["u", "v"], "left")
            .select("u", "v", F.coalesce("support", F.lit(0)).cast("long").alias("support"))
            .localCheckpoint(eager=False)  # materialized by the count below
        )
        if merged.filter(F.col("support") < need).limit(1).count() == 0:
            converged = True
            break
        e = merged.filter(F.col("support") >= need).select("u", "v").localCheckpoint()
    if not converged:
        # the last merged frame still holds sub-threshold edges (supports
        # were counted BEFORE the final filter) — returning it would
        # silently violate the k-truss invariant the docstring promises
        raise RuntimeError(
            f"k_truss did not reach its fixpoint within max_rounds={max_rounds}; "
            "raise max_rounds (peeling needs at most one round per removed layer)"
        )
    return merged.select(F.col("u").alias("a"), F.col("v").alias("b"), "support")


def diameter_estimate(
    snap: GraphSnapshot,
    max_hops: int = 20,
    labels: tuple = (),
    directed: bool = False,
) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien-Latapy-Habib 2009):
    BFS from a deterministic seed (min node id), re-BFS from the node
    found farthest, and report that sweep's eccentricity — on real
    graphs the bound is exact or within 1-2 of the true diameter at the
    cost of TWO BFS runs instead of all-pairs.

    Both sweeps ride :func:`shortest_paths` (one edge join + min-agg
    per hop, lineage checkpointed); between sweeps one single-row
    ``collect`` picks the peripheral node — the same materializing
    action a CC convergence round performs. Ties break to the smallest
    node id, so the estimate is deterministic.

    Returns one row (seed_id, peripheral_id, far_id,
    diameter_estimate): the seed, the first sweep's farthest node, the
    second sweep's farthest node, and the hop distance between the two
    peripheral nodes (the lower bound). ``diameter_estimate`` is -1
    when the seed has no neighbors within ``max_hops``."""
    spark = snap.nodes.sparkSession
    seed_row = snap.nodes.orderBy("id").limit(1).collect()
    if not seed_row:
        return spark.createDataFrame(
            [], "seed_id long, peripheral_id long, far_id long, diameter_estimate int"
        )
    seed = seed_row[0]["id"]

    def farthest(source: int):
        sp = shortest_paths(
            snap, [source], max_hops=max_hops, labels=labels, directed=directed
        )
        rows = sp.orderBy(F.col("dist").desc(), "id").limit(1).collect()
        return (rows[0]["id"], rows[0]["dist"]) if rows else (source, -1)

    peripheral, d1 = farthest(seed)
    if d1 <= 0:
        return spark.createDataFrame(
            [(seed, peripheral, peripheral, int(d1))],
            "seed_id long, peripheral_id long, far_id long, diameter_estimate int",
        )
    far, d2 = farthest(peripheral)
    return spark.createDataFrame(
        [(seed, peripheral, far, int(d2))],
        "seed_id long, peripheral_id long, far_id long, diameter_estimate int",
    )


def hits(snap: GraphSnapshot, iterations: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 46(5) 1999) with a fixed
    iteration count and L1 normalization — the query-independent form:
    auth(v) = Σ hub(u) over in-edges, hub(u) = Σ auth(v) over out-edges,
    each vector rescaled to sum 1 after its update (authorities first,
    then hubs from the UPDATED authorities, per Kleinberg's alternating
    sweep). On a crawl link graph this separates directories/portals
    (hubs) from cited content (authorities) — the complement to
    PageRank's single score.

    Determinism: the mutual-reinforcement sums run in exact DECIMAL
    (order-independent under any partitioning — a double Σ would depend
    on shuffle order), and each normalization is ONE double division
    rounded to 12 dp, so an unrolled SQL oracle replays every iteration
    bit-for-bit. Per iteration: two edge joins shuffling on dst/src, two
    map-side-combined aggs, two 1-row L1-mass broadcasts; lineage
    truncated per iteration; no collect.

    Returns (id, hub DECIMAL(28,12), authority DECIMAL(28,12)).
    Parallel edges reinforce (multigraph semantics); isolated nodes hold
    score 0 after the first round.
    """
    dec = "decimal(28,12)"
    nodes = snap.nodes.select("id").localCheckpoint()
    edges = snap.edges.select("src", "dst").localCheckpoint()

    def l1_normalized(raw: DataFrame, out_name: str) -> DataFrame:
        # raw: (id, x DECIMAL) over a subset of nodes; missing ids -> 0
        full = nodes.join(raw, "id", "left").select(
            "id", F.coalesce("x", F.lit(0).cast(dec)).alias("x")
        )
        mass = full.agg(F.sum("x").alias("_s"))  # exact decimal, 1 row
        return full.crossJoin(F.broadcast(mass)).select(
            "id",
            F.when(
                F.col("_s") > 0,
                F.round(F.col("x").cast("double") / F.col("_s").cast("double"), 12),
            )
            .otherwise(F.lit(0.0))
            .cast(dec)
            .alias(out_name),
        )

    scores = nodes.select(
        "id", F.lit(1).cast(dec).alias("hub"), F.lit(1).cast(dec).alias("authority")
    )
    for _ in range(iterations):
        a_raw = (
            edges.join(scores.select(F.col("id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("x"))
        )
        # checkpoint: auth feeds BOTH h_raw and the round's final join —
        # uncheckpointed, its plan (including the mass broadcast) would
        # execute once per consumer
        auth = l1_normalized(a_raw, "authority").localCheckpoint()
        h_raw = (
            edges.join(auth.select(F.col("id").alias("dst"), "authority"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("x"))
        )
        hub = l1_normalized(h_raw, "hub")
        scores = auth.join(hub, "id").select("id", "hub", "authority").localCheckpoint()
    return scores


def modularity(snap: GraphSnapshot, communities: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment (Newman & Girvan
    2004) over the UNDIRECTED view of the snapshot's edges — the quality
    score that turns ``label_propagation`` / ``connected_components`` /
    ``kmeans``-style partitions into a comparable number (Q ≈ 0: no
    better than random; Q > 0.3: strong structure).

        Q = Σ_c [ l_c / m − (d_c / 2m)² ]

    with m the stored-edge count, l_c the intra-community edge count,
    d_c the community's (in+out) degree sum. ``communities`` is
    (id, community); nodes absent from any edge contribute degree 0.

    Determinism: every per-community term rounds to 12 decimals and
    sums as exact DECIMAL (order-independent — a plain double Σ over
    communities would depend on partitioning), then rounds to 6; the
    inner arithmetic is identical IEEE double ops in any engine, so the
    score is SQL-replayable.

    Returns one row (n_communities, modularity DECIMAL(18,6)).

    Shape at scale: two id-keyed joins to tag edge endpoints, one
    union-degree aggregate, two community-keyed partial aggs, and the
    1-row edge count broadcast — no window, no collect."""
    # `e` has four plan references (edge count, intra-community join,
    # both undirected-degree union sides) and `comm` three (both
    # endpoint tags + the degree-sum join); unpersisted, every reference
    # replays the snapshot's edge/community derivation from the raw
    # tables (r12 duplicate-compute sweep — this op is
    # derivation-dominated). Both frames are narrow (two 8-byte ids /
    # id+community). track(persist) rather than localCheckpoint (r12
    # ADVICE): these frames are not iterative state, so lineage
    # truncation buys nothing, while the registry makes the blocks
    # deterministically releasable by a long-lived service (and a
    # recomputable persist survives executor decommission, which a
    # localCheckpoint does not).
    from hgraphstorage_spark.pipeline.state import track

    e = track(snap.edges.select("src", "dst"))
    m_frame = e.agg(F.count(F.lit(1)).alias("_m"))
    comm = track(communities.select("id", "community"))
    ca = comm.select(F.col("id").alias("src"), F.col("community").alias("_ca"))
    cb = comm.select(F.col("id").alias("dst"), F.col("community").alias("_cb"))
    lc = (
        e.join(ca, "src")
        .join(cb, "dst")
        .filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("_l"))
    )
    und = e.select(F.col("src").alias("id")).unionAll(e.select(F.col("dst").alias("id")))
    deg = und.groupBy("id").agg(F.count(F.lit(1)).alias("_d"))
    dc = (
        comm.join(deg, "id", "left")
        .groupBy("community")
        .agg(F.sum(F.coalesce("_d", F.lit(0))).alias("_dsum"))
    )
    md = F.col("_m").cast("double")
    terms = (
        dc.join(lc, "community", "left")
        .crossJoin(F.broadcast(m_frame))
        .select(
            F.round(
                F.coalesce("_l", F.lit(0)).cast("double") / md
                - (F.col("_dsum").cast("double") / (F.lit(2.0) * md))
                * (F.col("_dsum").cast("double") / (F.lit(2.0) * md)),
                12,
            )
            .cast("decimal(28,12)")
            .alias("_t"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.round(F.sum("_t"), 6).cast("decimal(18,6)").alias("modularity"),
    )


def _hyperball_registers(snap: GraphSnapshot, rounds: int, p: int, labels):
    """The HyperBall register loop shared by :func:`hyperball` and
    :func:`hyperball_centrality`: yields the (id, bucket, reg) HLL
    registers of every ball B_0..B_rounds. B_0 sketches each node's own
    id; round t merges each node's registers with its out-neighbors'
    B_{t-1} — an HLL union is a per-(node, bucket) MAX, so a round is one
    join + one map-side-combined agg, checkpointed eagerly."""
    from hgraphstorage_spark.functions.stats import hll_sketch

    edges = _edge_view(snap, labels)
    regs = hll_sketch(snap.nodes.select("id"), "id", group_cols=["id"], p=p).localCheckpoint(eager=True)
    yield regs
    for _ in range(rounds):
        flowed = (
            edges.join(regs.withColumnRenamed("id", "_w"), F.col("dst") == F.col("_w"))
            .select(F.col("src").alias("id"), "bucket", "reg")
        )
        regs = (
            regs.unionByName(flowed)
            .groupBy("id", "bucket")
            .agg(F.max("reg").alias("reg"))
            .localCheckpoint(eager=True)
        )
        yield regs
    edges.unpersist()


def hyperball(
    snap: GraphSnapshot,
    rounds: int = 3,
    p: int = 4,
    labels=None,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2011, "In-core computation of geometric
    centralities with HyperBall"): the neighborhood function NF(t) —
    how many ordered (v, w) pairs lie within distance <= t — estimated
    with per-node MERGEABLE HLL registers instead of per-node reachable
    SETS. Ball update: B_t(v) = B_{t-1}(v) merged with the out-
    neighbors' B_{t-1}(w), and an HLL merge is a per-(node, bucket) MAX
    — so each round is ONE join + one map-side-combined agg, with
    per-node state bounded at 2^p registers regardless of graph size.
    That is the 100 TB diameter/centrality shape: exact ball sets are
    O(n²) state, HyperBall is O(n·2^p). The effective-diameter reading
    is the smallest t with NF(t) >= 0.9 · NF(t_max).

    Returns one row per round 0..rounds: (round, nf_est DECIMAL(28,4))
    — the sum over nodes of the per-node ball estimate
    (functions/stats.py:hll_estimate — md5-portable registers, the
    canonical bucket-order IEEE fold), an exact DECIMAL sum, so a
    DuckDB oracle replays every round bit-for-bit. Small p gives
    coarse per-node estimates (±1.04/sqrt(2^p)); p >= 7 for production
    readings, p = 4 keeps the certified-arithmetic oracle frame small.

    Shape: register init is one narrow hash projection; each round
    shuffles |E|·<=2^p register rows (bounded by the sketch, not the
    ball sizes) + one keyed max agg, localCheckpoint-truncated; the
    per-round NF is a 1-row sum action (the convergence-action
    pattern)."""
    from hgraphstorage_spark.functions.stats import hll_estimate

    def nf(r: DataFrame):
        est = hll_estimate(r, group_cols=["id"], p=p)
        return est.agg(
            F.sum("n_distinct_est").cast("decimal(28,4)").alias("nf_est")
        ).collect()[0]["nf_est"]

    out = [(t, nf(regs)) for t, regs in enumerate(_hyperball_registers(snap, rounds, p, labels))]
    return snap.nodes.sparkSession.createDataFrame(out, "round int, nf_est decimal(28,4)")


def hyperball_centrality(
    snap: GraphSnapshot,
    rounds: int = 3,
    p: int = 8,
    labels=None,
) -> DataFrame:
    """Per-node harmonic centrality from the HyperBall rounds — the
    Boldi & Vigna 2011 paper's headline application: H_out(v) =
    Σ_{w≠v} 1/d(v, w) ≈ Σ_t (|B_t(v)| − |B_{t−1}(v)|)/t, because every
    node first entering the ball at round t sits at distance t. Runs
    the same register loop as :func:`hyperball` but keeps the PER-NODE
    ball estimate per round; ``rounds`` must reach the graph's
    effective radius for a full reading (beyond it the diffs are 0).
    Ball-size diffs clamp at >= 0 — the estimator can dip slightly
    where the linear-counting branch hands over to the raw estimator
    (registers only grow, but the branch switch is not monotone; the
    paper notes the same and takes the nonnegative part). The diff/t
    terms accumulate in fixed round order — one deterministic IEEE
    chain, so the oracle replays it bit-for-bit. Returns
    (id, harmonic_est DECIMAL(18,4)).

    Scale shape: identical to :func:`hyperball` (per-round join + keyed
    max, state O(n·2^p)) plus `rounds` id-keyed joins of n-row estimate
    frames — this is how closeness/harmonic rankings are computed on
    graphs where all-pairs BFS is unthinkable."""
    from hgraphstorage_spark.functions.stats import hll_estimate

    acc = None
    for t, regs in enumerate(_hyperball_registers(snap, rounds, p, labels)):
        est = hll_estimate(regs, group_cols=["id"], p=p).select("id", F.col("n_distinct_est").alias(f"b{t}"))
        acc = est if acc is None else acc.join(est, "id")
    expr = None
    for t in range(1, rounds + 1):
        diff = F.col(f"b{t}").cast("double") - F.col(f"b{t - 1}").cast("double")
        term = F.greatest(F.lit(0.0), diff) / F.lit(float(t))
        expr = term if expr is None else expr + term
    return acc.select(
        "id", F.round(expr, 4).cast("decimal(18,4)").alias("harmonic_est")
    )


def effective_diameter(nf: DataFrame, q: float = 0.9) -> DataFrame:
    """Effective diameter from a :func:`hyperball` neighborhood-function
    frame — the OTHER headline number of Boldi & Vigna 2011 (and the
    standard HyperANF report): the smallest t such that NF(t) >=
    q·NF(t_max), i.e. the distance within which a q-fraction of all
    reachable ordered pairs lie. Returns ONE row:

    * ``q`` — the requested quantile (0.9 is the literature default);
    * ``t_max`` / ``nf_max`` — the last computed round and its NF (the
      caller must run :func:`hyperball` to convergence — NF(t_max) ==
      NF(t_max − 1) — for nf_max to be the true NF(∞); short of that
      this reads the q-radius of what was computed);
    * ``effective_diameter`` — the integer report (smallest
      qualifying t);
    * ``effective_diameter_interp`` — the HyperANF linear
      interpolation between t−1 and t ((t−1) + (q·NF(t_max) −
      NF(t−1)) / (NF(t) − NF(t−1))), the fractional convention the ANF
      paper introduced (0 when round 0 already qualifies).

    Shape: the input is rounds+1 rows — the fold is one lag over that
    tiny frame plus a broadcast 1-row max, nothing scales with the
    graph (the heavy lifting already happened inside hyperball's
    register loop)."""
    from pyspark.sql import Window

    w = Window.orderBy("round")
    mx = nf.agg(
        F.max("round").alias("t_max"),
        F.max_by("nf_est", "round").alias("nf_max"),
    )
    lagged = nf.select(
        "round", "nf_est", F.lag("nf_est").over(w).alias("_prev")
    )
    j = lagged.crossJoin(F.broadcast(mx))
    target = F.lit(float(q)) * F.col("nf_max").cast("double")
    cand = j.filter(F.col("nf_est").cast("double") >= target)
    best = cand.agg(
        F.min("round").alias("effective_diameter"),
        F.min_by(
            F.struct("round", "nf_est", "_prev", "t_max", "nf_max"), "round"
        ).alias("_r"),
    )
    r = F.col("_r")
    prev = r["_prev"].cast("double")
    cur = r["nf_est"].cast("double")
    tgt = F.lit(float(q)) * r["nf_max"].cast("double")
    interp = F.when(r["round"] == 0, F.lit(0.0)).otherwise(
        (r["round"] - 1).cast("double") + (tgt - prev) / (cur - prev)
    )
    return best.select(
        F.lit(float(q)).alias("q"),
        r["t_max"].alias("t_max"),
        r["nf_max"].alias("nf_max"),
        F.col("effective_diameter"),
        F.round(interp, 6).cast("decimal(18,6)").alias("effective_diameter_interp"),
    )
