"""Smoke test of the benchmark at tiny sizes (TPC-H sf0.001, a 20k-edge
Zipf graph, 100 sites). Each run must print every metric BENCHMARK.json
names, with its unit, and must have checked its answers.

    python3 -m pytest perfbench/test_smoke.py -q

Takes several minutes: every case starts its own Spark JVM.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run as bench  # noqa: E402
import stamp as stamp_mod  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, seed: int = 5) -> tuple[dict, list[str]]:
    cmd = [
        sys.executable, str(HERE / "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _assert_result(result: dict, lines: list[str], workload: str, trace: int) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    # the cold pass and at least two warm passes check every analytic
    assert result["attempted"] >= 3 * len(bench.ANALYTICS[workload])
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    table = {ln.split()[1]: ln.split()[3] for ln in lines if ln.split()[0] == workload}
    for m in SPEC["end_to_end"]:
        assert table[m["name"]] == m["unit"]
    assert table["failed_frac"] == "ratio"
    stamp = json.loads(next(ln for ln in lines if ln.startswith("stamp "))[6:])
    assert set(stamp_mod.IDENTITY) <= set(stamp)
    assert stamp["seed"] == 5 and stamp["canonical_edges"] > 0


@pytest.mark.parametrize("workload", ["copurchase", "zipf", "web_pipeline"])
def test_traced_run_prints_every_layer(workload):
    result, lines = _run(workload, trace=1)
    _assert_result(result, lines, workload, trace=1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "zipf":
        # both broadcast routes are off at this size: cogroup TC, many blocks
        assert m["triangles.tc.shuffle_write_mb"] > 0 and m["blocking.n_blocks"] > 1
    if workload == "copurchase":
        assert m["blocking.n_blocks"] == 1
        assert m["supersteps.pagerank.rounds"] > 0 and m["supersteps.lp.rounds"] > 0
        # the traced pass's write path
        assert m["sources.commit.write_mb"] > 0 and m["supersteps.lp.checkpoint_mb"] > 0
    if workload in ("copurchase", "web_pipeline"):
        assert m["pipeline.resume_s"] > 0 and m["supersteps.cc.checkpoint_mb"] > 0
        assert m["sources.extract_links.links"] > 0


def test_untraced_run_prints_end_to_end():
    result, lines = _run("copurchase", trace=0)
    _assert_result(result, lines, "copurchase", trace=0)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_numpy_expectations_match_oracle_sql():
    """The expected PageRank and label propagation vectors follow the
    repo's DuckDB oracle queries exactly (ranks to their 6 places)."""
    import duckdb
    import numpy as np

    sys.path.insert(0, str(ROOT))
    import inputs
    from accelerating_tc_spark.operators import labelprop, pagerank
    from accelerating_tc_spark.sources import tpch_graph

    con = duckdb.connect()
    con.execute("CALL dbgen(sf=0.001)")
    con.execute(f"CREATE TABLE graph AS {tpch_graph.COPURCHASE_EDGES_SQL}")
    arr = con.execute("SELECT src, dst FROM graph").fetchnumpy()
    src, dst = arr["src"].astype(np.int64), arr["dst"].astype(np.int64)
    cte = "WITH edges AS (SELECT src, dst FROM graph)"
    want = con.execute(pagerank.pagerank_oracle_sql(cte, 10)).fetchnumpy()
    vertex, rank = inputs.pagerank(src, dst, 10)
    assert np.array_equal(vertex, want["vertex"])
    assert np.abs(rank - want["rank"]).max() <= 5e-7 + 1e-12
    want = con.execute(labelprop.label_propagation_oracle_sql(cte, 5)).fetchnumpy()
    vertex, label = inputs.label_propagation(src, dst, 5)
    assert np.array_equal(vertex, want["vertex"]) and np.array_equal(label, want["label"])


def test_compare_refuses_mismatched_stamps(tmp_path):
    machine = {"cores": 4, "driver_memory": "2g", "mem_total_mb": 16000}
    base = stamp_mod.make_stamp(
        machine=machine, cal_pre=10.0, cal_post=10.2, workload="zipf", size="default",
        seed=1, trace=0, spark_version="4.1.2", canonical_edges=100, budgets={},
    )
    table = {"e2e_s": {"value": 2.0, "unit": "s"}}
    cases = {
        "same": (base, 0),
        "seed": (base | {"seed": 2}, 2),
        "cores": (base | {"cores": 8}, 2),
        "drift": (base | {"calibration_gflops": {"pre": 6.0, "post": 6.1}}, 2),
    }
    stamp_mod.write_record(str(tmp_path / "base.json"), base, {}, table)
    for name, (other, code) in cases.items():
        path = tmp_path / f"{name}.json"
        stamp_mod.write_record(str(path), other, {}, table)
        proc = subprocess.run(
            [sys.executable, str(HERE / "compare.py"), str(tmp_path / "base.json"), str(path)],
            capture_output=True, text=True, timeout=60,
        )
        assert proc.returncode == code, (name, proc.stderr)
