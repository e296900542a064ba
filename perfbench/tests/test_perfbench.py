"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The end-to-end test starts Spark and runs one workload (about a minute
on 4 cores); the rest run without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SF = 0.001


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- the generator is deterministic for a fixed seed -------------------------------


def test_tpch_tables_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = gen.tpch_tables(7, SF), gen.tpch_tables(7, SF), gen.tpch_tables(8, SF)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert a["customer"].num_rows == 150 and a["orders"].num_rows == 1500


def test_streams_and_corpus_repeat_for_a_seed():
    assert gen.txn_stream(3, 200, 100, 50) == gen.txn_stream(3, 200, 100, 50)
    assert gen.txn_stream(3, 200, 100, 50) != gen.txn_stream(4, 200, 100, 50)
    assert gen.read_stream(3, 200, 30) == gen.read_stream(3, 200, 30)
    assert gen.bfs_source(3, 150) == gen.bfs_source(3, 150)
    a, b = gen.corpus(3, 300), gen.corpus(3, 300)
    assert a.docs.equals(b.docs) and a.embeddings.equals(b.embeddings)
    assert a.near_dup_pairs == b.near_dup_pairs and a.exact_dups == b.exact_dups
    assert not a.docs.equals(gen.corpus(4, 300).docs)


def test_txn_stream_only_deletes_what_exists():
    model = checks.StoreModel()
    model.apply(gen.initial_txn(50, 20))
    for ops in gen.txn_stream(11, 50, 20, 200):
        model.apply(ops)  # a delete of a missing entity raises KeyError


def test_bfs_source_places_orders():
    tables = gen.tpch_tables(5, SF)
    key = gen.bfs_source(5, tables["customer"].num_rows)
    assert key in set(tables["orders"].column("o_custkey").to_pylist())


# -- every named metric is printed with its unit ------------------------------------


def test_benchmark_json_lists_the_printed_metrics():
    spec = _benchmark_json()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["analytics_pipeline", "graph_mixed_rw"]
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _bench(trace: bool, tmp_path):
    from perfbench.workloads import Bench

    b = Bench("graph_mixed_rw", 1, 1.0, trace, str(tmp_path))
    b.window = (0.0, 1.0)
    return b


@pytest.mark.parametrize("trace", [False, True])
def test_result_prints_every_metric_with_its_unit(trace, tmp_path):
    b = _bench(trace, tmp_path)
    e2e = {name: 1.5 for name, _, _ in END_TO_END if name not in ("setup_s", "peak_rss_mb")}
    out = b.result(e2e, {"store.open_s": 2.0})
    want = [(n, u) for n, u, _ in END_TO_END] if not trace else PER_LAYER
    assert [(n, m["unit"]) for n, m in out["metrics"].items()] == want
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    if trace:
        assert out["metrics"]["store.open_s"]["value"] == 2.0


# -- failures are counted ---------------------------------------------------------------------


def test_failures_are_counted(tmp_path):
    b = _bench(False, tmp_path)

    def boom():
        raise RuntimeError("lost")

    assert b.attempt(lambda: 41 + 1, "ok") == 42
    assert b.attempt(boom, "raises") is None
    b.attempt(lambda: None, "wrong answer")
    b.check(False, "wrong answer")
    out = b.result({name: 1.0 for name, _, _ in END_TO_END}, {})
    assert (out["attempted"], out["failed"], out["correct"]) == (3, 2, False)


# -- oracles and spans --------------------------------------------------------------------------


def test_store_model_answers_reads():
    m = checks.StoreModel()
    m.apply(gen.initial_txn(3, 2))
    m.apply([("add_order", 0, 1, 500, [0, 1]), ("set_acctbal", 1, -7)])
    c, o = gen.customer_id(1), gen.order_id(0)
    assert m.props[c]["c_acctbal"] == ["-7"]
    assert m.answer("traverse_2hop", 1) == [(gen.part_id(0), "Part"), (gen.part_id(1), "Part")]
    assert m.answer("query_step", 1) == [(gen.placed_id(0), "OUT", "placed", o, "Order")]
    m.apply([("delete_order", 0)])
    assert m.answer("query_step", 1) == [] and m.answer("traverse_2hop", 1) == [] and o not in m.nodes
    assert m.answer("index_lookup", 1) == [(c, "Customer", "c_name", "Customer#000000001")]


def test_graph_oracles_on_a_small_graph():
    import numpy as np

    ids = np.array([1, 2, 3, 4, 5])
    src, dst = np.array([2, 3, 5]), np.array([1, 2, 4])
    assert checks.components(ids, src, dst) == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert checks.bfs_hops(src, dst, 3, 10) == {3: 0, 2: 1, 1: 2}
    ranks = checks.pagerank(ids, src, dst, alpha=0.85, iterations=20)
    assert abs(sum(ranks.values()) - 1.0) < 1e-12 and ranks[1] > ranks[3]
    assert checks.label_propagation(ids, src, dst, 1) == {1: 2, 2: 1, 3: 2, 4: 5, 5: 4}


def test_spans_nest_and_time_without_spark():
    tr = Tracer(enabled=False)
    with tr.span("store") as top:
        with tr.span("store.commit") as child:
            pass
    assert child.parent == 0 and top.parent is None
    assert top.t0 <= child.t0 <= child.t1 <= top.t1
    assert tr.top_level(top.t0, top.t1) == [top]


# -- end to end ---------------------------------------------------------------------------------


def _processes_in(path) -> list[int]:
    """Pids of the processes whose working directory is ``path``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if os.readlink(f"/proc/{pid}/cwd") == str(path):
                pids.append(int(pid))
        except OSError:
            continue  # ended, or not ours to inspect
    return pids


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    cmd = [sys.executable, "perfbench/run.py", "--workload", "graph_mixed_rw", "--seed", "1", "--seconds", "1", "--trace", "0"]
    run = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert run.returncode != 0
    assert '"metrics"' not in run.stdout


def test_run_prints_checked_metrics(tmp_path):
    """One real traced run (the graph at sf0.001) in a copy of the
    checkout: the last line is the result, the outputs checked correct,
    and nothing is left behind, no process either. The output goes to
    files, not pipes, so the run counts as over when its own process
    exits, not when the last process holding a pipe does."""
    checkout = tmp_path / "checkout"
    checkout.mkdir()
    for name in ("BENCHMARK.json", "hgraphstorage_spark", "perfbench"):
        src = os.path.join(ROOT, name)
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, checkout / name)
    cmd = [sys.executable, "perfbench/run.py", "--workload", "analytics_pipeline", "--seed", "2", "--seconds", "1", "--trace", "1"]
    with open(tmp_path / "stdout", "w+") as out, open(tmp_path / "stderr", "w+") as err:
        code = subprocess.run(cmd, cwd=checkout, stdout=out, stderr=err, timeout=300).returncode
        left = _processes_in(checkout)
        out.seek(0), err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert code == 0, stderr[-2000:]
    assert left == []
    result = json.loads(stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 11
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == PER_LAYER
    assert result["metrics"]["analytics.connected_components.jobs"]["value"] > 0
    assert result["metrics"]["pipeline.minhash_lsh_pairs.sink_s"]["value"] > 0
    assert sorted(os.listdir(checkout)) == ["BENCHMARK.json", "hgraphstorage_spark", "perfbench"]
    assert not list(checkout.glob("hs_err_pid*.log"))
