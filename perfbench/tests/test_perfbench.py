"""Self-tests of the benchmark, at sf0.001 with a few ops per workload.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each end-to-end test starts its own Spark session (about half a minute
per run) on the test suite's tables (``tests/conftest.py``; set
SPARK_GRAFT_TEST_SF_DIR to use others).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT / "tests"))
from conftest import SF_DIR  # noqa: E402  (the test suite's tables)
import run  # noqa: E402
from layers import union_length  # noqa: E402
from workloads import WORKLOADS, OpStream, Workload  # noqa: E402

needs_data = pytest.mark.skipif(
    not Path(SF_DIR, "lineitem.parquet").exists(), reason=f"no input tables in {SF_DIR}"
)


def bench(workload: str, trace: int, seed: int = 1) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--sf-dir", SF_DIR],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def test_spec_names_every_workload():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


def op_sequence(queries: tuple[str, ...], seed: int, n: int) -> list[str]:
    stream = OpStream(queries, seed)
    return [stream.next() for _ in range(n)]


def test_same_seed_same_op_sequence():
    queries = WORKLOADS["dashboard"].queries
    a = op_sequence(queries, 7, 3 * len(queries))
    assert a == op_sequence(queries, 7, 3 * len(queries))
    assert a != op_sequence(queries, 8, 3 * len(queries))
    # every pass deals each query exactly once
    for k in range(3):
        assert sorted(a[k * len(queries):(k + 1) * len(queries)]) == sorted(queries)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5) == 2.5
    assert union_length([]) == 0


def test_rss_leaves_out_just_spawned_children():
    """A child shares its parent's memory until it execs, so a process
    younger than a second does not count."""
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert run.rss_mb([child.pid]) == 0
        assert run.rss_mb([child.pid], min_age_s=0) > 0
    finally:
        child.kill()
        child.wait()


def test_compare_catches_a_corrupted_row():
    import test_oracle_parity as rules

    expected = {"cols": ["k", "v"], "arrow": {"k": "int64", "v": "string"},
                "rows": [list(r) for r in rules.rows_canon(["k", "v"], [(1, "a"), (2, "b")])]}
    dtypes = [("k", "bigint"), ("v", "string")]
    assert run.compare(rules, ["k", "v"], dtypes, [(2, "b"), (1, "a")], expected) is None
    assert "rows differ" in run.compare(rules, ["k", "v"], dtypes, [(1, "a"), (2, "c")], expected)
    assert "row count" in run.compare(rules, ["k", "v"], dtypes, [(1, "a")], expected)
    assert "types" in run.compare(rules, ["k", "v"], [("k", "double"), ("v", "string")],
                                  [(1.0, "a"), (2.0, "b")], expected)


@needs_data
def test_corrupted_results_and_unknown_names_fail_the_run(monkeypatch, capsys):
    """Corrupt what Spark returns for every query and add a name the
    registry does not have: every op of each must count as failed, and
    none may be dropped."""
    real = run.compare

    def corrupted(rules, cols, dtypes, rows, expected):
        rows = [tuple(r) for r in rows] + [tuple([None] * len(cols))]
        return real(rules, cols, dtypes, rows, expected)

    monkeypatch.setattr(run, "compare", corrupted)
    w = WORKLOADS["curation_batch"]
    monkeypatch.setitem(WORKLOADS, w.name, Workload(w.name, w.queries + ("no_such_query",), 1))
    rc = run.main(["--workload", w.name, "--seed", "1", "--seconds", "0", "--sf-dir", SF_DIR])
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert rc == 0
    assert result["correct"] is False
    # cold ops: all fail (oracle mismatch or unknown name); the one warm
    # pass: only the unknown name fails
    assert result["attempted"] == 2 * (len(w.queries) + 1)
    assert result["failed"] == len(w.queries) + 2
    for q in w.queries:
        assert any(line.strip().startswith(f"FAILED {q}: oracle mismatch") for line in lines)
    assert any(line.strip().startswith("FAILED no_such_query: cold op: KeyError") for line in lines)


@needs_data
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    lines, result = bench(workload, trace=0)
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2 * len(WORKLOADS[workload].queries)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, unit in want.items():
        assert result["metrics"][name]["value"] > 0, name
        assert any(line.split()[:1] == [name] and line.split()[-1] == unit for line in lines)
    assert any(line.split()[:1] == ["error_rate"] for line in lines)


@needs_data
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_attributes_every_job_to_a_span(workload):
    lines, result = bench(workload, trace=1)
    assert result["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["trace.orphan_jobs"]["value"] == 0
    assert not [line for line in lines if "ORPHAN" in line]
    spans = json.loads((ROOT / ".perfbench_run" / "results" / f"{workload}-spans.json").read_text())
    ids = {s["id"] for s in spans}
    jobs = [s for s in spans if s["name"] == "spark.job"]
    assert jobs and all(s["parent"] in ids for s in jobs)
    assert all(s["parent"] in ids for s in spans if s["name"] == "spark.stage")
    ops = [s for s in spans if s["name"].startswith("op:")]
    assert len(ops) == result["attempted"]
    assert any(line.strip().startswith("self.") for line in lines)
