"""The benchmark's workloads and the harness they share.

Each workload sets up, measures a closed loop with one client for
``--seconds`` seconds (and at least its minimum work), checks every
output outside the timers, sets up twice more for ``setup_s`` and returns
its metrics. Every measured operation runs under one top-level span named
after the layer it calls into (``metrics.LAYERS``); README.md says what
each end-to-end metric means on each workload.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hgraphstorage_spark import T, analytics, get_spark, open_graph
from hgraphstorage_spark import query_step as qs
from hgraphstorage_spark.compiler import compile_traversal
from hgraphstorage_spark.pipeline import (
    cosine_topk,
    embedding_near_dup_lsh,
    exact_dedup,
    minhash_lsh_pairs,
)
from hgraphstorage_spark.pipeline.similarity import semantic_dedup
from hgraphstorage_spark.pipeline.state import release_tracked
from hgraphstorage_spark.pipeline.text import quality_filter_narrow
from hgraphstorage_spark.sources import load_tpch_graph

from perfbench import checks, gen
from perfbench.metrics import CHECKPOINT_EVERY, END_TO_END, LAYERS, PER_LAYER
from perfbench.trace import RssSampler, Tracer

# input sizes: small enough that 4 + 22 runs per workload fit in under
# an hour on 4 cores; every run pays a JVM start and cold plan execution
ANALYTICS_SF = 0.001
RW_CUSTOMERS = 100
RW_PARTS = 50
READS_PER_COMMIT = len(gen.READ_KINDS)
CORPUS_DOCS = 1000
DUP_SHARE = 0.1
PR_ITERATIONS = 2
LPA_ITERATIONS = 2
BFS_MAX_HOPS = 10
SETUP_REPS = 3
RECOVERIES = 3
# a loop whose minimum work keeps failing still ends in time
LOOP_CAP_S = 90
INDEX = "customer_name"
MINHASH_THRESHOLD = 0.6
# floors for the approximate dedup operators, checked against the
# planted duplicates
MIN_PRECISION = 0.9
MIN_RECALL = 0.8


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def p90(xs):
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def cpu_times() -> list[int]:
    """Machine-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Bench:
    """State shared by one benchmark run: arguments, tracer, memory
    sampler, the Spark session and the failure count."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self.rss = RssSampler().start()
        self.marks = {"start": time.perf_counter()}
        self.spark = None
        self._build = None
        self.attempted = 0
        self.failed = 0
        self.setup_times: list[float] = []
        self.setup_s = 0.0
        self.window = (0.0, 0.0)

    def info(self, **fields) -> None:
        """One line of run information on stdout (never the last line)."""
        print(json.dumps({"workload": self.workload, **fields}, sort_keys=True), flush=True)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr, flush=True)
        return ok

    def attempt(self, fn, what: str):
        """Run one measured operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the loop must go on and report it
            self.check(False, f"{what} raised:\n{traceback.format_exc()}")
            return None

    def setup(self, build):
        """The first set-up: a SparkSession (this one launches the JVM),
        then ``build(spark, rep)``, which loads the inputs and serves the
        first request. The workload runs on the state it returns."""
        self._build = build
        state = self._set_up(0)
        self.tracer.attach(self.spark)
        self.marks["setup_end"] = time.perf_counter()
        return state

    def _set_up(self, rep: int):
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        state = self._build(self.spark, rep)
        self.setup_times.append(time.perf_counter() - t0)
        return state

    def repeat_setup(self) -> None:
        """Set up SETUP_REPS - 1 more times, each in a fresh session, once
        the workload and its checks are done (their session ends here):
        ``setup_s`` is the median over all set-ups."""
        for rep in range(1, SETUP_REPS):
            self._set_up(rep)
        self.setup_s = median(self.setup_times)
        self.info(setup_s=self.setup_times)

    def measure(self, step, min_done=None) -> None:
        """Closed loop: call ``step(i)`` until ``seconds`` have passed and
        ``min_done(i)`` (if given) holds, or LOOP_CAP_S have passed."""
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        i = 0
        while True:
            step(i)
            i += 1
            elapsed = time.perf_counter() - t0
            if elapsed >= LOOP_CAP_S or (elapsed >= self.seconds and (min_done is None or min_done(i))):
                break
        self.window = (t0, time.perf_counter())
        self.marks["measure_start"], self.marks["measure_end"] = self.window
        # host CPU time stolen by other guests slows a run as a whole;
        # printed so a slow run can be told from a slow program
        d = [b - a for a, b in zip(cpu0, cpu_times())]
        self.info(loop_cpu_share={"busy": round(1 - (d[3] + d[4] + d[7]) / sum(d), 3), "steal": round(d[7] / sum(d), 3)})

    @property
    def wall(self) -> float:
        return self.window[1] - self.window[0]

    def close(self) -> float:
        if self.spark is not None:
            self.spark.stop()
        return self.rss.stop()

    # -- output --------------------------------------------------------------
    def result(self, e2e: dict, layer: dict) -> dict:
        """The final JSON object: end-to-end metrics untraced, per-layer
        metrics traced. A metric a workload does not exercise reads 0."""
        peak = self.close()
        self.marks["end"] = time.perf_counter()
        t0 = self.marks.pop("start")
        self.info(elapsed_s={k: round(v - t0, 2) for k, v in self.marks.items()})
        e2e = dict(e2e, peak_rss_mb=peak, setup_s=self.setup_s)
        if self.tracer.enabled:
            self.info(traced_end_to_end=e2e)
            layer = dict(layer, **self._common_layer())
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u, _ in END_TO_END}
        return {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed, "metrics": metrics}

    def _common_layer(self) -> dict:
        tr = self.tracer
        t0, t1 = self.window
        tops = tr.top_level(t0, t1)
        out = {f"layer.{name}_s": sum(s.dur for s in tops if s.name == name) for name in LAYERS}
        tot = lambda key: sum(s.spark.get(key, 0) for s in tops)  # noqa: E731
        busy_s = tot("task_ms") / 1000.0
        cores = len(os.sched_getaffinity(0))
        out.update(
            {
                "trace.wall_s": self.wall,
                "trace.unattributed_s": self.wall - sum(s.dur for s in tops),
                "trace.overhead_s": tr.overhead_s,
                "spark.task_busy_s": busy_s,
                "spark.gc_s": tot("gc_ms") / 1000.0,
                "spark.core_util": busy_s / (self.wall * cores) if self.wall else 0.0,
                "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
                "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
                "spark.failed_tasks": tot("failed_tasks"),
                "spark.spill_bytes": tot("memory_spill_bytes") + tot("disk_spill_bytes"),
                "failed_frac": self.failed / max(self.attempted, 1),
            }
        )
        return out


# -- graph reads ------------------------------------------------------------------

# read kind -> (top-level layer span, call span)
READ_LAYER = {
    "query_step": ("query_step", "query_step.call"),
    "traverse_2hop": ("compiler", "compiler.compile"),
    "index_lookup": ("engine", "engine.index_lookup"),
}


def build_read(snap, eng, kind: str, key: int):
    """The public call behind one read; returns a DataFrame."""
    c = gen.customer_id(key)
    if kind == "query_step":
        return qs.query_step(snap, c, qs.Direction.OUT)
    if kind == "traverse_2hop":
        return compile_traversal(snap, T().nid(c).out("placed").out("contains")).df
    if kind == "index_lookup":
        return eng.index_lookup(INDEX, checks.cust_name(key))
    raise ValueError(kind)


def timed_read(b: Bench, snap, eng, kind: str, key: int, **attrs):
    """One read under its layer span: the call, then the collect. Returns
    the rows and the span."""
    layer, call = READ_LAYER[kind]
    with b.tracer.span(layer, kind=kind, **attrs) as top:
        with b.tracer.span(call):
            df = build_read(snap, eng, kind, key)
        with b.tracer.span("spark.exec"):
            rows = df.collect()
    if b.tracer.enabled:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        plan_ms = 0
        while it.hasNext():
            kv = it.next()
            if kv._1() in ("analysis", "optimization", "planning"):
                plan_ms += kv._2().durationMs()
        top.attrs["plan_ms"] = plan_ms
    return rows, top


def read_layer_metrics(b: Bench) -> dict:
    tr = b.tracer
    reads = [s for s in tr.spans if s.parent is None and "kind" in s.attrs]
    ms = lambda name: [s.dur * 1000 for s in tr.named(name)]  # noqa: E731
    return {
        "compiler.compile_ms": median(ms("compiler.compile")),
        "query_step.call_ms": median(ms("query_step.call")),
        "engine.index_lookup_ms": median(ms("engine.index_lookup")),
        "spark.exec_ms": median(ms("spark.exec")),
        "spark.plan_ms": median([s.attrs.get("plan_ms", 0) for s in reads]),
        "spark.jobs_per_query": mean([s.jobs for s in reads]),
        "spark.tasks_per_query": mean([s.spark.get("tasks", 0) + s.spark.get("failed_tasks", 0) for s in reads]),
    }


# -- analytics_pipeline ------------------------------------------------------------


def op_layer_metrics(b: Bench, layer: str, attr: str) -> dict:
    """``<layer>.<op>.call_s`` / ``.sink_s`` / ``.jobs``: medians over the
    run's calls of each op."""
    by_op: dict[str, list] = {}
    for s in b.tracer.spans:
        if s.name == layer and s.parent is None:
            by_op.setdefault(s.attrs[attr], []).append(s)
    out = {}
    for op, tops in by_op.items():
        kids = [c for c in b.tracer.spans if c.parent is not None and b.tracer.spans[c.parent] in tops]
        out[f"{layer}.{op}.call_s"] = median([c.dur for c in kids if c.name.endswith(".call")])
        out[f"{layer}.{op}.sink_s"] = median([c.dur for c in kids if c.name.endswith(".sink")])
        out[f"{layer}.{op}.jobs"] = median([t.jobs for t in tops])
    return out


def timed_op(b: Bench, layer: str, attr: str, name: str, fn, sink):
    """One batch op under its layer span: the call, then the sink."""

    def op():
        with b.tracer.span(layer, **{attr: name}) as top:
            with b.tracer.span(f"{layer}.call"):
                df = fn()
            with b.tracer.span(f"{layer}.sink"):
                rows = sink(df)
        return df, rows, top

    return b.attempt(op, f"{layer}.{name}")


def noop_sink(df):
    df.write.format("noop").mode("overwrite").save()


def check_analytics(b: Bench, tables: dict, results: dict, source: int) -> None:
    full = checks.graph_arrays(tables)

    def got(name, cols):
        return {r[0]: tuple(r[1:]) if len(r) > 2 else r[1] for r in results[name].select(*cols).collect()}

    if "degrees" in results:
        want = checks.degrees(*full)
        b.check(got("degrees", ["id", "out_deg", "in_deg"]) == want, "degrees vs counts")
    if "connected_components" in results:
        want = checks.components(*full)
        b.check(got("connected_components", ["id", "component"]) == want, "connected_components vs networkx")
    if "pagerank" in results:
        have, want = got("pagerank", ["id", "rank"]), checks.pagerank(*full, alpha=0.85, iterations=PR_ITERATIONS)
        ok = have.keys() == want.keys() and all(abs(have[k] - want[k]) <= 1e-12 + 1e-9 * want[k] for k in want)
        b.check(ok, "pagerank vs power iteration")
    if "label_propagation" in results:
        want = checks.label_propagation(*full, iterations=LPA_ITERATIONS)
        b.check(got("label_propagation", ["id", "community"]) == want, "label_propagation vs pandas")
    if "bfs" in results:
        want = checks.bfs_hops(full[1], full[2], source, BFS_MAX_HOPS)
        b.check(got("bfs", ["id", "hops"]) == want, "bfs vs networkx")


def check_pipeline(b: Bench, corpus: gen.Corpus, outputs: list[dict]) -> None:
    texts = dict(zip(corpus.docs.column("doc_id").to_pylist(), corpus.docs.column("text").to_pylist()))
    qual = checks.quality_expected(texts)
    survivors = checks.exact_survivors(texts, {i for i, (_, ok) in qual.items() if ok})
    text_pairs = {
        (a, b)
        for a, b in corpus.near_dup_pairs
        if a in survivors and b in survivors and checks.shingle_jaccard(texts[a], texts[b]) >= MINHASH_THRESHOLD
    }
    vecs = np.array(corpus.embeddings.column("embedding").to_pylist(), dtype=np.float32)
    topk = checks.cosine_topk(vecs, corpus.query_vec_id, 10)
    vec_drops = {p[1] for p in corpus.vec_dup_pairs}

    def floors(found, truth):
        precision, recall = checks.precision_recall(found, truth)
        return precision >= MIN_PRECISION and recall >= MIN_RECALL

    expect = {
        "quality_filter_narrow": lambda rows: {r["doc_id"]: (r["n_tokens"], r["passes"]) for r in rows} == qual,
        "exact_dedup": lambda rows: {r["doc_id"] for r in rows} == survivors,
        "minhash_lsh_pairs": lambda rows: floors({(r["doc_a"], r["doc_b"]) for r in rows}, text_pairs),
        "semantic_dedup": lambda rows: floors({r["vec_id"] for r in rows if not r["keep"]}, vec_drops),
        "embedding_near_dup_lsh": lambda rows: floors({(r["vec_a"], r["vec_b"]) for r in rows}, corpus.vec_dup_pairs),
        "cosine_topk": lambda rows: [(r["vec_id"], float(r["score"])) for r in rows] == topk,
    }
    for rows_by_op in outputs:
        for name, rows in rows_by_op.items():
            # later passes must also reproduce the first pass's rows
            same = sorted(map(tuple, rows)) == sorted(map(tuple, outputs[0].get(name, rows)))
            b.check(expect[name](rows) and same, f"pipeline.{name} output")


def write_corpus(b: Bench, corpus: gen.Corpus) -> str:
    cdir = os.path.join(b.work, "corpus")
    os.makedirs(cdir)
    pq.write_table(corpus.docs, os.path.join(cdir, "documents.parquet"))
    pq.write_table(corpus.embeddings, os.path.join(cdir, "embeddings.parquet"))
    return cdir


def analytics_pipeline(b: Bench) -> dict:
    tables = gen.tpch_tables(b.seed, ANALYTICS_SF)
    table_dir = os.path.join(b.work, "tpch")
    tpch_disk = gen.write_tables(tables, table_dir)
    source = gen.customer_id(gen.bfs_source(b.seed, tables["customer"].num_rows))
    corpus = gen.corpus(b.seed, CORPUS_DOCS, DUP_SHARE)
    cdir = write_corpus(b, corpus)
    n = corpus.docs.num_rows
    b.info(
        inputs={
            "graph": dict(gen.graph_summary(tables), sf=ANALYTICS_SF, bfs_source=source),
            "corpus": {
                "rows": n,
                "dup_share": round((n - CORPUS_DOCS) / n, 4),
                "exact_dups": len(corpus.exact_dups),
                "near_dup_pairs": len(corpus.near_dup_pairs),
                "low_quality": len(corpus.low_quality),
            },
            "writes": 0,
        }
    )

    def load(spark):
        snap = load_tpch_graph(spark, table_dir)
        docs = spark.read.parquet(os.path.join(cdir, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(cdir, "embeddings.parquet"))
        snap.nodes.count()
        docs.count()
        return snap, docs, emb

    snap, docs, emb = b.setup(lambda spark, rep: load(spark))
    jobs = {
        "degrees": lambda: analytics.degrees(snap),
        "connected_components": lambda: analytics.connected_components(snap),
        "pagerank": lambda: analytics.pagerank(snap, iterations=PR_ITERATIONS),
        "label_propagation": lambda: analytics.label_propagation(snap, max_iter=LPA_ITERATIONS),
        "bfs": lambda: analytics.bfs(snap, source, max_hops=BFS_MAX_HOPS),
    }
    q = corpus.query_vec_id
    state: dict = {}

    def stages():
        """The pipeline chain; later stages read earlier stages' frames."""
        yield "quality_filter_narrow", lambda: quality_filter_narrow(docs)
        kept = docs.join(state["quality_filter_narrow"].filter("passes").select("doc_id"), "doc_id", "left_semi")
        yield "exact_dedup", lambda: exact_dedup(kept)
        yield "minhash_lsh_pairs", lambda: minhash_lsh_pairs(state["exact_dedup"], threshold=MINHASH_THRESHOLD)
        yield "semantic_dedup", lambda: semantic_dedup(emb, nlist=8, iterations=2, threshold=0.9)
        # md5 planes: the default xxhash64 planes are fetched from the JVM
        # once per process at ~4 s per table, which would swamp the pass
        yield "embedding_near_dup_lsh", lambda: embedding_near_dup_lsh(
            emb, threshold=0.9, bits=5, tables=8, plane_mode="md5"
        )
        yield "cosine_topk", lambda: cosine_topk(emb, q, k=10)

    passes: list[float] = []
    pass_marks: list[tuple[float, float]] = []
    results: dict = {}
    outputs: list[dict] = []

    def run_pass(i):
        t0 = time.perf_counter()
        for name, fn in jobs.items():
            out = timed_op(b, "analytics", "job", name, fn, noop_sink)
            if out is not None:
                results.setdefault(name, out[0])
        rows = {}
        for name, fn in stages():
            out = timed_op(b, "pipeline", "op", name, fn, lambda df: df.collect())
            if out is None:
                break  # later stages read this one's output
            state[name], rows[name], _ = out
        passes.append(time.perf_counter() - t0)
        pass_marks.append((t0, passes[-1]))
        outputs.append(rows)
        release_tracked()

    b.measure(run_pass)
    check_analytics(b, tables, results, source)
    check_pipeline(b, corpus, outputs)
    # recovery: a restarted job reloads its inputs and answers its first
    # request; timed RECOVERIES times in this session
    recoveries = []
    for _ in range(RECOVERIES):
        t0 = time.perf_counter()
        load(b.spark)
        recoveries.append(time.perf_counter() - t0)
    b.repeat_setup()

    tops = [s for s in b.tracer.spans if s.parent is None and s.name in ("analytics", "pipeline")]
    # a pass's results land through its sinks: time per pass, and results
    sinks = [s for s in b.tracer.spans if s.name in ("analytics.sink", "pipeline.sink")]
    sink_s_per_pass = [sum(s.dur for s in sinks if t0 <= s.t0 < t0 + d) for t0, d in pass_marks]
    user = sum(t.nbytes for t in tables.values()) + corpus.docs.nbytes + corpus.embeddings.nbytes
    e2e = {
        "query_p50_ms": median([s.dur for s in tops]) * 1000,
        "query_p90_ms": p90([s.dur for s in tops]) * 1000,
        "queries_per_s": len(tops) / b.wall,
        "job_s": median(passes),
        "commit_p50_ms": median(sink_s_per_pass) * 1000,
        "commits_per_s": len(sinks) / b.wall,
        "recovery_s": median(recoveries),
        "bytes_per_user_byte": (tpch_disk + tree_bytes(cdir)) / user,
    }
    b.info(samples=len(tops), passes=passes)
    layer = op_layer_metrics(b, "analytics", "job")
    layer.update(op_layer_metrics(b, "pipeline", "op"))
    return b.result(e2e, layer)


# -- graph_mixed_rw -----------------------------------------------------------------------


def apply_txn(tx, ops) -> None:
    """Stage one generated transaction through the public write API."""
    nodes = [
        (gen.customer_id(op[1]), ("Customer", {"c_name": op[2], "c_acctbal": op[3], "c_mktsegment": op[4]}))
        for op in ops
        if op[0] == "add_customer"
    ] + [(gen.part_id(op[1]), ("Part", {"p_name": op[2]})) for op in ops if op[0] == "add_part"]
    if nodes:
        tx.add_nodes([row for _, row in nodes], ids=[i for i, _ in nodes])
    for op in ops:
        if op[0] == "add_order":
            _, n, cust, total, lines = op
            o = gen.order_id(n)
            tx.add_nodes([("Order", {"o_total": total, "o_lines": len(lines)})], ids=[o])
            rows = [(gen.customer_id(cust), o, "placed", {})] + [(o, gen.part_id(p), "contains", {}) for p in lines]
            ids = [gen.placed_id(n)] + [gen.contains_id(n, j) for j in range(len(lines))]
            tx.add_edges(rows, ids=ids)
        elif op[0] == "set_acctbal":
            tx.set_properties(gen.customer_id(op[1]), "node", {"c_acctbal": op[2]})
        elif op[0] == "delete_contains":
            tx.delete_edges([gen.contains_id(op[1], op[2])])
        elif op[0] == "delete_order":
            tx.delete_nodes([gen.order_id(op[1])])


def read_head(store) -> "checks.StoreModel":
    """The whole committed head of ``store`` as a model, read with one
    collect of the three tables' rows in a common shape."""
    head = store.current
    null = F.lit(None).cast("string")
    rows = (
        head.nodes.select(F.lit("n").alias("t"), "id", F.col("label").alias("a"), null.alias("b"), null.alias("c"), F.lit(0).alias("seq"))
        .unionByName(
            head.edges.select(
                F.lit("e").alias("t"), "id", F.col("src").cast("string").alias("a"),
                F.col("dst").cast("string").alias("b"), F.col("label").alias("c"), F.lit(0).alias("seq"),
            )
        )
        .unionByName(
            head.props.filter(F.col("owner_kind") == "node").select(
                F.lit("p").alias("t"), F.col("owner_id").alias("id"), F.col("name").alias("a"),
                F.coalesce(F.col("text_v"), F.col("int_v").cast("string")).alias("b"), null.alias("c"), "seq",
            )
        )
        .collect()
    )
    m = checks.StoreModel()
    props: dict = {}
    for t, i, a, b, c, seq in rows:
        if t == "n":
            m.nodes[i] = a
        elif t == "e":
            m.edges[i] = (int(a), int(b), c)
        else:
            props.setdefault(i, {}).setdefault(a, []).append((seq, b))
    m.props = {o: {n: [v for _, v in sorted(vs)] for n, vs in p.items()} for o, p in props.items()}
    return m


def graph_mixed_rw(b: Bench) -> dict:
    first = gen.initial_txn(RW_CUSTOMERS, RW_PARTS)
    txns = gen.txn_stream(b.seed, RW_CUSTOMERS, RW_PARTS, 10_000)
    reads = gen.read_stream(b.seed, RW_CUSTOMERS, 10_000)
    b.info(
        inputs={
            "customers": RW_CUSTOMERS,
            "parts": RW_PARTS,
            "checkpoint_every": CHECKPOINT_EVERY,
            "reads_per_commit": READS_PER_COMMIT,
            "ops_per_txn": 1,
            "write_mix": {k: gen.TXN_OPS.count(k) / len(gen.TXN_OPS) for k in set(gen.TXN_OPS)},
        }
    )
    def build(spark, rep):
        store = open_graph(spark, os.path.join(b.work, f"store{rep}"), checkpoint_every=CHECKPOINT_EVERY)
        tx = store.begin()
        apply_txn(tx, first)
        tx.commit()
        store.add_index(INDEX, ["Customer"], ["c_name"])
        return store

    # the first transaction and the index are versions 1 and 2, so the
    # loop's first commit (version 3) checkpoints and the loop's first
    # CHECKPOINT_EVERY commits are one cycle
    store = b.setup(build)
    root = os.path.join(b.work, "store0")
    model = checks.StoreModel()
    model.apply(first)
    user_bytes = len(json.dumps(first))
    commits = []  # (seconds, version)
    done = []  # (kind, key, rows, seconds, depth, expected)
    cycle_ends: dict[int, float] = {}  # cycles completed -> time
    at_min = {}
    min_commits = CHECKPOINT_EVERY

    def step(i):
        nonlocal user_bytes
        ops = txns[i]

        def commit():
            with b.tracer.span("store", txn=i) as top:
                tx = store.begin()
                with b.tracer.span("mutations.stage"):
                    apply_txn(tx, ops)
                with b.tracer.span("store.commit"):
                    version = tx.commit()
            return top, version

        out = b.attempt(commit, f"commit txn {i}")
        if out is not None:
            top, version = out
            commits.append((top.dur, version))
            model.apply(ops)
            user_bytes += len(json.dumps(ops))
            if len(commits) == min_commits:
                at_min.update(store=tree_bytes(root), user=user_bytes)
        depth = store.committed.version % CHECKPOINT_EVERY
        for kind, key in reads[READS_PER_COMMIT * i : READS_PER_COMMIT * (i + 1)]:
            res = b.attempt(
                lambda: timed_read(b, store.current, store, kind, key, depth=depth), f"{kind}({key})"
            )
            if res is not None:
                rows, top = res
                done.append((kind, key, rows, top.dur, depth, model.answer(kind, key)))
        if len(commits) % CHECKPOINT_EVERY == 0:
            cycle_ends.setdefault(len(commits) // CHECKPOINT_EVERY, time.perf_counter())

    cycle_ends[0] = time.perf_counter()
    b.measure(step, min_done=lambda i: len(commits) >= min_commits)
    for kind, key, rows, _, _, want in done:
        b.check(checks.normalize(rows) == want, f"head {kind}({key})")

    # recovery: reopen the store and read at the head, RECOVERIES times;
    # then every acknowledged commit must be readable. Each reopen and
    # the read-back count as one operation.
    kind, key = "traverse_2hop", reads[0][1]
    recoveries = []
    for _ in range(RECOVERIES):
        b.attempted += 1
        t0 = time.perf_counter()
        with b.tracer.span("store.open"):
            reopened = open_graph(b.spark, root, checkpoint_every=CHECKPOINT_EVERY)
        rows = build_read(reopened.current, reopened, kind, key).collect()
        recoveries.append(time.perf_counter() - t0)
        b.check(checks.normalize(rows) == model.answer(kind, key), "first read after reopen")
    b.attempted += 1
    head = read_head(reopened)
    b.check(
        (head.nodes, head.edges, head.props) == (model.nodes, model.edges, model.props),
        "acknowledged commits readable after reopen",
    )
    store_bytes = tree_bytes(root)
    b.repeat_setup()

    lat = [d[3] for d in done]
    cdur = [c[0] for c in commits]
    e2e = {
        "query_p50_ms": median(lat) * 1000,
        "query_p90_ms": p90(lat) * 1000,
        "queries_per_s": len(done) / b.wall,
        "job_s": median([cycle_ends[c] - cycle_ends[c - 1] for c in sorted(cycle_ends)[1:]]) or b.wall,
        "commit_p50_ms": median(cdur) * 1000,
        "commits_per_s": len(commits) / b.wall,
        "recovery_s": median(recoveries),
        "bytes_per_user_byte": at_min.get("store", store_bytes) / at_min.get("user", user_bytes),
    }
    ckpt = [c[0] for c in commits if c[1] % CHECKPOINT_EVERY == 0]
    log = [c[0] for c in commits if c[1] % CHECKPOINT_EVERY != 0]
    layer = read_layer_metrics(b)
    layer.update(
        {
            "mutations.stage_ms": median([s.dur for s in b.tracer.named("mutations.stage")]) * 1000,
            "store.log_commit_ms": median(log) * 1000,
            "store.checkpoint_commit_s": median(ckpt),
            "store.open_s": median([s.dur for s in b.tracer.named("store.open")]),
            "store.bytes_on_disk": at_min.get("store", store_bytes),
        }
    )
    for d in range(CHECKPOINT_EVERY):
        layer[f"store.read_ms_depth{d}"] = median([x[3] for x in done if x[4] == d]) * 1000
    b.info(samples=len(done), commits=len(commits), checkpoints=len(ckpt), commit_s=cdur, read_s=lat)
    return b.result(e2e, layer)


WORKLOADS = {
    "analytics_pipeline": analytics_pipeline,
    "graph_mixed_rw": graph_mixed_rw,
}
