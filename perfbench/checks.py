"""Reference answers the benchmark checks the program's outputs against.

None of this runs inside a timer. Reads of the graph store are answered
from a model of the committed transactions; connected components and
BFS by networkx; PageRank, degrees and label propagation by numpy/pandas
transcriptions of the documented formulas; the LLM pipeline by the
generator's planted ground truth.
"""

from __future__ import annotations

from collections import Counter

import networkx as nx
import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import gen
from perfbench.gen import NODE_BASE

NODE_CODE = {"Region": 1, "Nation": 2, "Customer": 3, "Supplier": 4, "Part": 5, "Order": 6}


def nid(label: str, key):
    """Node id(s) of the TPC-H id scheme for a natural key or key array."""
    return NODE_CODE[label] * NODE_BASE + key


def cust_name(key: int) -> str:
    return f"Customer#{key:09d}"


# -- graph store ---------------------------------------------------------------


class StoreModel:
    """The state committed transactions should leave in the store, applied
    only after the program acknowledged each commit, and the answers the
    read mix should get from it."""

    def __init__(self):
        self.nodes: dict[int, str] = {}  # id -> label
        self.props: dict[int, dict[str, list[str]]] = {}  # owner id -> name -> values
        self.edges: dict[int, tuple[int, int, str]] = {}  # id -> (src, dst, label)

    def apply(self, ops) -> None:
        for op in ops:
            if op[0] == "add_customer":
                _, k, name, bal, seg = op
                c = gen.customer_id(k)
                self.nodes[c] = "Customer"
                self.props[c] = {"c_name": [name], "c_acctbal": [str(bal)], "c_mktsegment": [seg]}
            elif op[0] == "add_part":
                _, k, name = op
                self.nodes[gen.part_id(k)] = "Part"
                self.props[gen.part_id(k)] = {"p_name": [name]}
            elif op[0] == "add_order":
                _, n, cust, total, parts = op
                o = gen.order_id(n)
                self.nodes[o] = "Order"
                self.props[o] = {"o_total": [str(total)], "o_lines": [str(len(parts))]}
                self.edges[gen.placed_id(n)] = (gen.customer_id(cust), o, "placed")
                for j, p in enumerate(parts):
                    self.edges[gen.contains_id(n, j)] = (o, gen.part_id(p), "contains")
            elif op[0] == "set_acctbal":
                self.props[gen.customer_id(op[1])]["c_acctbal"] = [str(op[2])]
            elif op[0] == "delete_contains":
                del self.edges[gen.contains_id(op[1], op[2])]
            elif op[0] == "delete_order":
                o = gen.order_id(op[1])
                del self.nodes[o]
                del self.props[o]
                self.edges = {e: v for e, v in self.edges.items() if o not in v[:2]}

    def _out(self, src: int, label: str) -> list[tuple[int, int]]:
        return [(e, d) for e, (s, d, lab) in self.edges.items() if s == src and lab == label]

    def answer(self, kind: str, key: int):
        c = gen.customer_id(key)
        if kind == "query_step":
            return sorted(
                (e, "OUT", lab, d, self.nodes[d]) for e, (s, d, lab) in self.edges.items() if s == c
            )
        if kind == "traverse_2hop":
            return sorted((p, "Part") for _, o in self._out(c, "placed") for _, p in self._out(o, "contains"))
        if kind == "index_lookup":
            return [(c, "Customer", "c_name", cust_name(key))] if c in self.nodes else []
        raise ValueError(f"unknown read kind {kind!r}")


def normalize(rows) -> list[tuple]:
    """Spark rows of one read, in the shape ``StoreModel.answer`` uses."""
    return sorted(tuple(r) for r in rows)


# -- graph analytics -----------------------------------------------------------


def graph_arrays(tables: dict[str, pa.Table]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The TPC-H property graph as (node ids, edge sources, edge
    destinations), built from the generated tables with the program's id
    scheme (``sources.tpch_graph``)."""
    col = lambda t, c: tables[t].column(c).to_numpy().astype(np.int64)  # noqa: E731
    ids = [
        nid("Region", col("region", "r_regionkey")),
        nid("Nation", col("nation", "n_nationkey")),
        nid("Customer", col("customer", "c_custkey")),
        nid("Supplier", col("supplier", "s_suppkey")),
        nid("Part", col("part", "p_partkey")),
        nid("Order", col("orders", "o_orderkey")),
    ]
    edges = [
        (nid("Customer", col("customer", "c_custkey")), nid("Nation", col("customer", "c_nationkey"))),
        (nid("Supplier", col("supplier", "s_suppkey")), nid("Nation", col("supplier", "s_nationkey"))),
        (nid("Nation", col("nation", "n_nationkey")), nid("Region", col("nation", "n_regionkey"))),
        (nid("Customer", col("orders", "o_custkey")), nid("Order", col("orders", "o_orderkey"))),
        (nid("Order", col("lineitem", "l_orderkey")), nid("Part", col("lineitem", "l_partkey"))),
        (nid("Part", col("lineitem", "l_partkey")), nid("Supplier", col("lineitem", "l_suppkey"))),
    ]
    return (
        np.concatenate(ids),
        np.concatenate([s for s, _ in edges]),
        np.concatenate([d for _, d in edges]),
    )


def components(ids, src, dst) -> dict[int, int]:
    """node id -> min node id of its undirected component (networkx)."""
    g = nx.Graph()
    g.add_nodes_from(ids.tolist())
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def bfs_hops(src, dst, source: int, max_hops: int) -> dict[int, int]:
    g = nx.DiGraph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    return dict(nx.single_source_shortest_path_length(g, source, cutoff=max_hops))


def degrees(ids, src, dst) -> dict[int, tuple[int, int]]:
    out_c, in_c = Counter(src.tolist()), Counter(dst.tolist())
    return {v: (out_c.get(v, 0), in_c.get(v, 0)) for v in ids.tolist()}


def pagerank(ids, src, dst, alpha: float, iterations: int) -> dict[int, float]:
    """Fixed-iteration PageRank with uniform dangling redistribution, the
    formula ``analytics.pagerank`` documents."""
    index = {v: i for i, v in enumerate(ids.tolist())}
    n = len(ids)
    s = np.array([index[v] for v in src.tolist()])
    d = np.array([index[v] for v in dst.tolist()])
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        in_mass = np.bincount(d, weights=rank[s] / out_deg[s], minlength=n)
        dm = rank[dangling].sum()
        rank = (1.0 - alpha) / n + alpha * dm / n + alpha * in_mass
    return dict(zip(ids.tolist(), rank.tolist()))


def label_propagation(ids, src, dst, iterations: int) -> dict[int, int]:
    """Synchronous LPA: each node takes the most frequent label among its
    undirected neighbours (edge multiplicity counts), ties to the
    smallest label; nodes without neighbours keep theirs."""
    pairs = pd.DataFrame(
        {"a": np.concatenate([src, dst]), "b": np.concatenate([dst, src])}
    )
    comm = pd.Series(ids, index=ids)
    for _ in range(iterations):
        votes = pairs.assign(c=comm.reindex(pairs["b"]).to_numpy()).groupby(["a", "c"]).size()
        votes = votes.reset_index(name="n").sort_values(["a", "n", "c"], ascending=[True, False, True])
        winner = votes.drop_duplicates("a").set_index("a")["c"]
        comm = winner.reindex(comm.index).fillna(comm).astype(np.int64)
    return comm.to_dict()


# -- LLM pipeline ----------------------------------------------------------------


def quality_expected(texts: dict[int, str]) -> dict[int, tuple[int, bool]]:
    """doc id -> (n_tokens, passes) under ``quality_filter_narrow``'s
    default thresholds, for the generator's single-space lowercase text."""
    out = {}
    for i, t in texts.items():
        toks = t.split()
        n = len(toks)
        mean = round(sum(len(x) for x in toks) / n, 6) if n else None
        top = round(max(Counter(toks).values()) / n, 6) if n else None
        ok = n >= 10 and mean is not None and 2.0 <= mean <= 12.0 and top <= 0.25
        out[i] = (n, ok)
    return out


def shingle_jaccard(a: str, b: str, n: int = 5) -> float:
    """Jaccard of the word-``n``-gram sets, the similarity
    ``minhash_lsh_pairs`` estimates and verifies."""
    sa = {tuple(w) for w in zip(*(a.split()[i:] for i in range(n)))}
    sb = {tuple(w) for w in zip(*(b.split()[i:] for i in range(n)))}
    return len(sa & sb) / len(sa | sb)


def exact_survivors(texts: dict[int, str], kept: set[int]) -> set[int]:
    first: dict[str, int] = {}
    for i in sorted(kept):
        first.setdefault(texts[i], i)
    return set(first.values())


def precision_recall(found: set, truth: set) -> tuple[float, float]:
    hit = len(found & truth)
    precision = hit / len(found) if found else 1.0
    recall = hit / len(truth) if truth else 1.0
    return precision, recall


def cosine_topk(vecs: np.ndarray, query: int, k: int) -> list[tuple[int, float]]:
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    scores = (v @ v[query]) / (norms * norms[query])
    order = sorted((i for i in range(len(v)) if i != query), key=lambda i: (-round(scores[i], 6), i))
    return [(i, round(float(scores[i]), 6)) for i in order[:k]]
