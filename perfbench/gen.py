"""Seeded input generators for the benchmark.

Everything a workload feeds the program is made here from ``--seed``:
the TPC-H-shaped tables behind the property graph, the read-parameter
stream, the BFS source, the planted-duplicate corpus with its ground truth
and the transaction stream. The program under test only ever sees the
generated files and parameters. Same seed, same inputs: the functions use
one ``numpy.random.Generator`` each and no other source of randomness.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NODE_BASE = 10**12
EDGE_BASE = 10**14

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "bright", "dark", "smooth", "rough", "light"]
PART_NOUN = ["widget", "gadget", "bolt", "panel", "valve", "gear", "spring", "lever"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "fr", "es", "de", "zh"]


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 7 * 365, n)
    us = (np.datetime64("1993-01-01", "D") + days).astype("datetime64[us]")
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale factor ``sf`` (row counts follow the
    TPC-H ratios; every customer key not divisible by 3 places orders,
    as in dbgen). Column names and types match what
    ``sources.load_tpch_graph`` reads."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(30, int(1_500_000 * sf))

    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 56, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
        }
    )
    buyers = ck[ck % 3 != 0]
    ok = np.arange(n_ord, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.choice(buyers, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 800.0, 400_000.0, n_ord),
            "o_orderdate": _ts(rng, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    l_no = np.concatenate([np.arange(1, m + 1) for m in lines]).astype(np.int32)
    n_li = len(l_ok)
    lineitem = pa.table(
        {
            "l_orderkey": l_ok,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(l_no, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(rng, n_li),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write one parquet file per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def graph_summary(tables: dict[str, pa.Table]) -> dict:
    n_nodes = 30 + sum(tables[t].num_rows for t in ("customer", "supplier", "part", "orders"))
    li = tables["lineitem"].num_rows
    n_edges = tables["customer"].num_rows + tables["supplier"].num_rows + 25 + tables["orders"].num_rows + 2 * li
    return {"nodes": n_nodes, "edges": n_edges, "lineitems": li}


# -- graph reads ----------------------------------------------------------

def _buyer(rng: np.random.Generator, n_customers: int) -> int:
    """A customer key not divisible by 3, i.e. one that places orders."""
    return 3 * int(rng.integers(0, (n_customers - 2) // 3 + 1)) + 1


# one read per layer of the read path: query_step, compiler, engine index
READ_KINDS = ("query_step", "traverse_2hop", "index_lookup")


def read_stream(seed: int, n_customers: int, length: int) -> list[tuple[str, int]]:
    """The read-parameter stream: the read kinds in a fixed rotation, each
    starting at a customer key drawn uniformly. A workload that reads all
    kinds after every commit sees each kind at every log depth."""
    rng = np.random.default_rng([seed, 2])
    return [(READ_KINDS[i % len(READ_KINDS)], int(rng.integers(0, n_customers))) for i in range(length)]


def bfs_source(seed: int, n_customers: int) -> int:
    """A buyer customer key: its BFS reaches orders, parts, suppliers,
    nations and regions, so the hop count is the same for every seed."""
    return _buyer(np.random.default_rng([seed, 3]), n_customers)


# -- LLM corpus -----------------------------------------------------------


@dataclass
class Corpus:
    docs: pa.Table
    embeddings: pa.Table
    exact_dups: dict = field(default_factory=dict)  # dup doc id -> original id
    near_dup_pairs: set = field(default_factory=set)  # (a, b), a < b, text near-dups
    vec_dup_pairs: set = field(default_factory=set)  # (a, b), a < b, embedding near-dups
    low_quality: set = field(default_factory=set)
    query_vec_id: int = 0


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do", "fe", "gi", "hu", "ja"]
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), n)))
    return sorted(words)


def corpus(seed: int, n_docs: int, dup_share: float = 0.1, dims: int = 64) -> Corpus:
    """A corpus of ``n_docs`` documents plus planted duplicates.

    Of the planted rows, one third are exact copies of a base document
    and two thirds are near-duplicates: a copy with two words replaced,
    which keeps its word-5-shingle Jaccard with the base at ~0.55-0.9
    (longer documents keep more).
    Each near-duplicate document also gets an embedding near-duplicate
    (base vector plus small noise, cosine ~0.99). A further 3% of base
    documents are low quality (one word repeated) and fail the quality
    filter. ``vec_id`` equals ``doc_id``.
    """
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, 4000)
    texts: list[str] = []
    words_of: list[list[str]] = []
    low: set[int] = set()
    for i in range(n_docs):
        n = int(rng.integers(40, 120))
        if rng.random() < 0.03:
            words = [vocab[int(rng.integers(0, len(vocab)))]] * n
            low.add(i)
        else:
            words = [vocab[j] for j in rng.integers(0, len(vocab), n)]
        words_of.append(words)
        texts.append(" ".join(words))
    base_vecs = rng.normal(0.0, 1.0, (n_docs, dims)).astype(np.float32)

    n_planted = int(round(n_docs * dup_share))
    clean = [i for i in range(n_docs) if i not in low]
    originals = rng.choice(clean, n_planted, replace=False)
    exact: dict[int, int] = {}
    near: set = set()
    vec_pairs: set = set()
    extra_vecs = []
    for j, orig in enumerate(originals):
        new_id = n_docs + j
        orig = int(orig)
        if j % 3 == 0:
            texts.append(texts[orig])
            exact[new_id] = orig
            extra_vecs.append(rng.normal(0.0, 1.0, dims).astype(np.float32))
        else:
            words = list(words_of[orig])
            for pos in rng.choice(np.arange(5, len(words) - 5), 2, replace=False):
                words[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            near.add((orig, new_id))
            noise = rng.normal(0.0, 0.08, dims).astype(np.float32)
            extra_vecs.append(base_vecs[orig] + noise)
            vec_pairs.add((orig, new_id))
    vecs = np.vstack([base_vecs] + ([np.vstack(extra_vecs)] if extra_vecs else []))
    ids = np.arange(len(texts), dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, len(texts)),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = pa.table(
        {
            "vec_id": ids,
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array((ids % 10).astype(np.int32)),
        }
    )
    return Corpus(docs, emb, exact, near, vec_pairs, low, int(rng.choice(clean)))


# -- transaction stream ---------------------------------------------------

# ids of the store graph, in the TPC-H id scheme's label codes
CUSTOMER_CODE, PART_CODE, ORDER_CODE = 3, 5, 6
PLACED_CODE, CONTAINS_CODE = 4, 5


def customer_id(k: int) -> int:
    return CUSTOMER_CODE * NODE_BASE + k


def part_id(k: int) -> int:
    return PART_CODE * NODE_BASE + k


def order_id(n: int) -> int:
    return ORDER_CODE * NODE_BASE + n


def placed_id(n: int) -> int:
    return PLACED_CODE * EDGE_BASE + n


def contains_id(n: int, j: int) -> int:
    return CONTAINS_CODE * EDGE_BASE + n * 8 + j


def initial_txn(n_customers: int, n_parts: int) -> list[tuple]:
    """The store's first transaction: the customers and parts that the
    stream's orders refer to."""
    rng = np.random.default_rng([0, 6])
    ops = [
        ("add_customer", k, f"Customer#{k:09d}", int(rng.integers(-99_999, 999_999)), SEGMENTS[k % 5])
        for k in range(n_customers)
    ]
    ops += [("add_part", k, f"{PART_ADJ[k % 8]} {PART_NOUN[(k // 8) % 8]}") for k in range(n_parts)]
    return ops


# the op of each transaction, in rotation, so the mix is the same for
# every seed and the seed only picks the parameters
TXN_OPS = ("add_order", "set_acctbal", "add_order", "delete_contains", "add_order", "delete_order")


def txn_stream(seed: int, n_customers: int, n_parts: int, length: int) -> list[list[tuple]]:
    """Seeded single-op transactions, ops in the ``TXN_OPS`` rotation:

    - ``("add_order", n, cust, total, parts)``: node ``order_id(n)`` with
      two properties, edge ``placed_id(n)`` customer -> order and one
      ``contains_id(n, j)`` edge order -> part per listed part (two);
    - ``("set_acctbal", cust, cents)``: replace one customer property;
    - ``("delete_contains", n, j)``: delete one line of an earlier order;
    - ``("delete_order", n)``: delete an earlier order (cascades to its
      edges).

    Deletes only name orders and lines that an earlier transaction
    created and no later one deleted, so every op succeeds. Mix: 50%
    add_order, one sixth each of the others.
    """
    rng = np.random.default_rng([seed, 5])
    live_orders: list[int] = []
    live_lines: list[tuple[int, int]] = []
    out = []
    for i in range(length):
        kind = TXN_OPS[i % len(TXN_OPS)]
        if kind == "add_order":
            n = len(out)
            parts = [int(p) for p in rng.choice(n_parts, 2, replace=False)]
            op = ("add_order", n, int(rng.integers(0, n_customers)), int(rng.integers(100, 100_000)), parts)
            live_orders.append(n)
            live_lines += [(n, 0), (n, 1)]
        elif kind == "set_acctbal":
            op = ("set_acctbal", int(rng.integers(0, n_customers)), int(rng.integers(-99_999, 999_999)))
        elif kind == "delete_contains":
            n, j = live_lines.pop(int(rng.integers(0, len(live_lines))))
            op = ("delete_contains", n, j)
        else:
            n = live_orders.pop(int(rng.integers(0, len(live_orders))))
            live_lines = [x for x in live_lines if x[0] != n]
            op = ("delete_order", n)
        out.append([op])
    return out
