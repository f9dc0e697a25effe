"""Tests of the benchmark itself (not of the engine).

Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import types

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


# -- percentile rule ----------------------------------------------------

@pytest.mark.parametrize("n,p", [(200, 95), (100, 90), (1000, 99), (5000, 99), (21, 52), (20, None), (0, None)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert metrics.tail_percentile(n) == p


@pytest.mark.parametrize("n", [21, 37, 100, 200, 451, 2000])
def test_tail_value_has_at_least_ten_samples_above(n):
    values = list(np.random.default_rng(n).exponential(1.0, n))
    p, v = metrics.tail(values)
    assert sum(x > v for x in values) >= 10
    # and it is the highest whole percentile that does
    if p < 99:
        higher = float(np.percentile(values, p + 1, method="lower"))
        assert sum(x > higher for x in values) < 10 or metrics.tail_percentile(n) == p


# -- generator determinism ----------------------------------------------

def _inputs_hash(seed: int) -> str:
    rng = np.random.default_rng(seed)
    log = gen.InputLog()
    events = gen.events_table(rng, 5000, gen.EPOCH_2024_US, 3 * gen.DAY_US, n_streams=50, hostile_share=0.05)
    log.add("events", events)
    log.add("documents", gen.documents_table(rng, 200))
    log.add("embeddings", gen.embeddings_table(rng, 100))
    for s in gen.dashboard_specs(rng, 60, 3, events.column("user_id").to_numpy()[:100]):
        log.add_obj("request", s)
    return log.digest()


def test_same_seed_same_inputs_hash():
    assert _inputs_hash(7) == _inputs_hash(7)


def test_other_seed_other_inputs_hash():
    assert _inputs_hash(7) != _inputs_hash(8)


def test_generated_tables_keep_the_engine_schemas(tmp_path):
    rng = np.random.default_rng(1)
    t = gen.events_table(rng, 1000, gen.EPOCH_2024_US, gen.DAY_US, n_streams=10, hostile_share=0.1)
    path = gen.write_table(t, str(tmp_path), "events", 256)
    assert path == os.path.join(str(tmp_path), "events.parquet")
    assert t.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ts = t.column("ts").cast("int64").to_numpy()
    assert (np.diff(ts) > 0).all()
    props = [json.loads(p) for p in t.column("props").to_pylist()]
    assert any(p["k"] in gen.HOSTILE_TAGS for p in props)


def test_request_mix_follows_the_slots():
    specs = gen.dashboard_specs(np.random.default_rng(3), 200, 30, np.arange(100))
    kinds = [s["kind"] for s in specs]
    assert kinds.count("events") == 30  # the two event slots and their refreshes
    assert all(specs[i] is specs[i - 2] for i in range(200) if i % 20 in gen.REPEAT_SLOTS)
    aggs = {a for s in specs if s["kind"] == "data" for _, a in s["numeric"]}
    assert set(gen.NUMERIC_AGGS) | {"None"} <= aggs
    interps = {s["gbt"][1] for s in specs if s["kind"] == "data" and s["gbt"]}
    assert interps == set(gen.INTERPOLATIONS)
    ops = {t[1] for s in specs for t in s["tags"]}
    assert ops == {"Equal", "NotEqual", "Like", "NotLike"}
    # list-valued Like/NotLike is left out: its semantics are undefined
    assert not any(isinstance(t[2], list) for s in specs for t in s["tags"] if t[1].endswith("Like"))


# -- checks --------------------------------------------------------------

def test_wrong_row_is_a_mismatch():
    want = pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 0.25, 0.125]})
    assert check.mismatch(want.iloc[::-1], want) is None
    wrong = want.copy()
    wrong.loc[1, "b"] = 0.2502
    assert check.mismatch(wrong, want) is not None
    tie = want.copy()
    tie.loc[1, "b"] = 0.2501  # one unit in the 4th decimal: a tie rounded the other way
    assert check.mismatch(tie, want) is None
    assert check.mismatch(want.iloc[:2], want) is not None


def test_injected_wrong_row_counts_as_failed(tmp_path):
    """A corpus job whose output carries one wrong row is failed by the
    DuckDB check and counted in error_rate; the right output passes."""
    import duckdb
    import workloads

    ctx = types.SimpleNamespace(seed=5, work=str(tmp_path), trace=False, log=gen.InputLog())
    wl = workloads.Corpus(ctx, docs=300, vectors=50)
    wl.eng = workloads.Engine()
    oracle = wl.eng.registry.all_oracles()["text_quality_features"]
    ops = []
    for i, corrupt in enumerate((False, True)):
        d, _, _ = wl._shard(3 * i + 1, "text_quality_features")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')")
        out = con.execute(oracle).df()
        if corrupt:
            out.loc[0, out.columns[1]] = out.loc[1, out.columns[1]]
        ops.append({"dir": d, "query": "text_quality_features", "result": out, "error": None})
    wl.warm_ops, wl.ops = ops[:1], ops[1:]
    wl.verify()
    assert ops[0]["error"] is None and ops[1]["error"]
    assert metrics.account(ops) == (2, 1)


def test_spark_order_uses_code_points_and_null_placement():
    df = pd.DataFrame({"t": ["日本", "16", None, "zürich"], "v": [1, 2, 3, 4]})
    asc = check.spark_order(df, [["t", "Asc"]], None)
    assert asc["t"].tolist()[1:] == ["16", "zürich", "日本"] and asc["t"].isna().tolist()[0]
    desc = check.spark_order(df, [["t", "Desc"]], [0, 2])
    assert desc["t"].tolist() == ["日本", "zürich"]


# -- tracing ---------------------------------------------------------------

def test_slowed_layer_shows_in_its_self_time():
    mod = types.SimpleNamespace()

    def load():
        time.sleep(0.005)
        return 1

    def evaluate(x):
        time.sleep(0.06)  # the layer slowed on purpose
        return x

    mod.load, mod.evaluate = load, evaluate
    tracer = Tracer()
    tracer.wrap(mod, "load", "io.load", counter="io.load_calls")
    tracer.wrap(mod, "evaluate", "queryspec.evaluate")
    ops = []
    for traced in (True, False, True, False):
        op = {"traced": traced, "latency_s": 0.0}
        t0 = time.perf_counter()
        if traced:
            with tracer.op("op") as tid:
                op["trace"] = tid
                with tracer.span("driver.build"):
                    mod.evaluate(mod.load())
        else:
            mod.evaluate(mod.load())
        op["latency_s"] = time.perf_counter() - t0
        ops.append(op)
    tracer.unwrap_all()
    assert mod.evaluate is evaluate
    wl = types.SimpleNamespace(ops=ops, layer_ops=lambda: ops)
    ctx = types.SimpleNamespace(tracer=tracer)
    layers = metrics._layer_metrics(wl, ctx, get_spark_s=1.0)
    assert layers["queryspec.evaluate_ms"] >= 55
    assert layers["io.load_ms"] < 30
    assert layers["driver.build_ms"] >= layers["queryspec.evaluate_ms"] + layers["io.load_ms"] - 1
    assert layers["io.load_calls"] == 1
    # untraced calls recorded nothing
    assert len({s["trace"] for s in tracer.spans}) == 2


def test_self_time_subtracts_children():
    spans = [
        {"trace": 1, "id": 1, "parent": None, "name": "op", "start": 0.0, "end": 1.0},
        {"trace": 1, "id": 2, "parent": 1, "name": "a", "start": 0.1, "end": 0.5},
        {"trace": 1, "id": 3, "parent": 2, "name": "b", "start": 0.2, "end": 0.3},
    ]
    st = self_times(spans)[1]
    assert st["op"] == pytest.approx(600)
    assert st["a"] == pytest.approx(300)
    assert st["b"] == pytest.approx(100)


# -- benchmark file and CLI ------------------------------------------------

def test_benchmark_json_matches_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.LAYERS
    assert [w["name"] for w in spec["workloads"]] == ["dashboard", "jobs"]


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "jobs", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return metrics.parse_report(proc.stdout)


@pytest.mark.parametrize("workload", ["dashboard", "jobs"])
def test_smoke_run_is_correct(workload):
    rep = _run(workload, 0)
    res = rep["result"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(metrics.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert "error_rate" in rep["e2e"] and "pinned_storage_mb" in rep["e2e"]


def test_traced_smoke_run_reports_every_layer():
    rep = _run("jobs", 1)
    res = rep["result"]
    assert res["correct"]
    assert set(res["metrics"]) == set(metrics.LAYERS)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trades.events_as_option_trades_ms"] > 0 and m["exec.jobs"] >= 1
    assert m["driver.py4j_calls"] > 0 and m["io.load_calls"] >= 1
    assert m["stream.triggers_per_chunk"] >= 1 and m["state.instances"] >= 1
    assert m["llmdata.dedup_minhash_lsh.exec_ms"] > 0 or m["llmdata.text_quality_features.exec_ms"] > 0
