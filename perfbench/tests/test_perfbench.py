"""Schema pins and smoke runs of the benchmark.

    python -m pytest perfbench/tests -q

The smoke runs start a real local Spark session per workload at the
``tiny`` scale (fixture sf0.001 sizes), a few seconds each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import spans  # noqa: E402
from probes import CpuMeter, CpuSample, InvalidMeasurement  # noqa: E402
from run import percentile  # noqa: E402

with open(os.path.join(BENCH, "spec.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)


def test_contract_matches_spec():
    assert set(CONTRACT) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert CONTRACT["paths"] == ["perfbench"]
    assert {w["name"]: w["why"] for w in CONTRACT["workloads"]} == {
        k: v["why"] for k, v in SPEC["workloads"].items() if v["in_rotation"]
    }
    for key, fields in (
        ("end_to_end", ("name", "unit", "better", "bound")),
        ("per_layer", ("name", "unit", "better")),
    ):
        assert [
            {k: m[k] for k in fields} for m in SPEC[key]
        ] == CONTRACT[key]
    e2e = {m["name"]: m for m in CONTRACT["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_spec_records_loop_and_repeat_share():
    for w in SPEC["workloads"].values():
        assert w["clients"] == 1 and w["loop"] == "closed"
        assert w["repeat_share"] and w["unit"] and w["work_item"]
    for m in SPEC["per_layer"]:
        assert m["layer"] and m["moves"]


def test_cpu_delta_refuses_to_go_backwards():
    a = CpuSample(1.0, 10.0, 5.0)
    assert CpuMeter.delta(a, CpuSample(1.5, 12.0, 5.0)).jvm == 2.0
    with pytest.raises(InvalidMeasurement):
        CpuMeter.delta(a, CpuSample(1.5, 12.0, 4.0))


def test_percentile_and_span_union():
    assert percentile(list(range(1, 11)), 0.9) == 9
    assert percentile([3.0], 0.9) == 3.0
    assert spans._union([(0, 2), (1, 3), (5, 6)]) == 4


def test_plan_span_ends_at_the_first_job():
    tr = spans.Tracer(None, False)
    action = spans.Span(0, "x:collect", "action", 10.0, 12.0, None, "g")
    # a job of another action (13.0) is not this action's
    assert tr._plan_span(action, [11.5, 10.4, 13.0]) == pytest.approx(0.4)
    assert tr.spans[-1].kind == "plan" and tr.spans[-1].parent == 0
    assert tr._plan_span(action, []) == 2.0  # no job: planning only
    assert tr._plan_span(action, [9.9995]) == 0.0  # millisecond stamp


def test_exact_topk_breaks_ties_by_id():
    mat = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    import numpy as np

    got = checks.exact_topk(np.array([7, 3, 5]), np.array(mat), [1.0, 0.0], 2)
    assert got == [(3, 1.0), (7, 1.0)]


def test_pairwise_replays_equal_duckdb_oracles(tmp_path):
    import datagen
    import pyarrow.parquet as pq

    import conversadocs_spark.plans  # noqa: F401
    from conversadocs_spark.plans.registry import ORACLES

    datagen.write_tables(str(tmp_path), seed=3, n_docs=200, n_vecs=10)
    d = pq.read_table(tmp_path / "documents.parquet")
    for name, replay in checks.PAIRWISE.items():
        want = checks.duckdb_oracle(ORACLES[name], str(tmp_path), ["documents"])
        assert replay(d["doc_id"].to_pylist(), d["text"].to_pylist()) == want
        assert want[1], name  # planted near-duplicates exist


def _run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_smoke_end_to_end_record(workload):
    code, rec = _run(workload, 0)
    assert code == 0
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert rec["correct"] is True and rec["failed"] == 0 and rec["attempted"] >= 1
    assert {
        k: v["unit"] for k, v in rec["metrics"].items()
    } == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in rec["metrics"].values())


def test_smoke_traced_record():
    code, rec = _run("ingest", 1)
    assert code == 0 and rec["correct"] is True
    assert sorted(rec["metrics"]) == sorted(m["name"] for m in SPEC["per_layer"])
    m = {k: v["value"] for k, v in rec["metrics"].items()}
    assert m["trace.coverage"] >= 0.9
    assert m["ingest.docs_per_file"] == 1.0
    assert m["sources.ingest.scan_documents_s"] > 0


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run fails fast."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rag_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
