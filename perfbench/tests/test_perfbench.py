"""Self-tests of the flight-pipeline benchmark.

    python -m pytest perfbench/tests -q

The smoke runs start one Spark JVM per workload and take several minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
from run import WORKLOADS  # noqa: E402


def _tree(path: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), path) for d, _, fs in os.walk(path) for f in fs)


def _generate(root: str, seed: int) -> None:
    w = gen.make_world(seed)
    gen.write_landing(w, os.path.join(root, "landing"), n_polls=2, n_vectors=300)
    gen.write_lake(w, os.path.join(root, "lake"), days=1, rows_per_hour=20)
    for h in range(2):
        gen.write_versioned_hour(w, os.path.join(root, "versioned"), h, rows_per_hour=100)


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _generate(a, 7)
    _generate(b, 7)
    _generate(c, 8)
    files = _tree(a)
    assert files == _tree(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors and len(match) == len(files)
    assert _tree(c) != files or filecmp.cmpfiles(a, c, files, shallow=False)[1]


def test_polls_plant_every_kind_of_bad_record():
    doc, st = gen.poll_document(gen.make_world(3), gen.EPOCH, 2000, salt=0)
    assert st.vectors == len(doc["states"]) == 2000 + st.duplicates
    assert min(st.bad_icao, st.bad_position, st.bad_altitude, st.duplicates) > 0
    callsigns = [s[1] for s in doc["states"]]
    assert sum(c.startswith(gen.BAD_ICAO) for c in callsigns) == st.bad_icao


def test_tail_level_keeps_ten_samples_beyond():
    assert stats.tail_level(25) == 60.0
    assert stats.tail_level(100) == 90.0
    assert stats.tail_level(19) == 100.0
    values = [float(i) for i in range(1, 26)]
    p = stats.percentile(values, stats.tail_level(len(values)))
    assert sum(v > p for v in values) == 10
    assert stats.percentile(values[:8], 100.0) == 8.0
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_tree_cpu_counts_child_processes():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ntime.sleep(3)"
    before = harness.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        deadline = time.time() + 10
        while harness.tree_cpu_s() - before < 0.4 and time.time() < deadline:
            time.sleep(0.1)
        assert harness.tree_cpu_s() - before >= 0.4
    finally:
        child.kill()
        child.wait()


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(harness.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(harness.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run(workload):
    p = _run(ROOT, workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [name for name, _ in harness.END_TO_END]
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_smoke_run(workload):
    p = _run(ROOT, workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert list(result["metrics"]) == [name for name, _ in harness.PER_LAYER]
    assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
    assert result["metrics"]["spark.jobs"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(str(tmp_path), "lake", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
