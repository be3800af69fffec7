"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark tests use smoke mode (sf0.001, tiny batches) and take about
two minutes together.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from argparse import Namespace
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import datagen, reference, run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# per-layer metrics each workload's layers must move off 0 in a traced
# smoke run; a broken span/event-log join reads 0 and fails here.  Left
# out: layers the workload never calls, and figures that a correct run
# may report as 0 (spill, failed tasks, GC, shuffle bytes).
COMMON = ["session.start_s", "engine.init_s", "language.parse_dnf_ms",
          "language.clauses_per_query", "spark.jobs", "spark.tasks", "process.peak_rss_mb"]
EXERCISED = {
    "efo_interactive": COMMON + [
        "exact.plan_ms", "exact.exec_s", "exact.jobs_per_query", "exact.stages_per_query",
        "exact.tasks_per_query", "exact.answers_per_query",
    ],
    "neural_eval": COMMON + [
        "kg.aug_view_s", "oracle.densify_s", "oracle.num_entities",
        "exact_batched.exec_s", "exact_batched.tasks", "exact_batched.rows_examined_per_answer",
        "kge.python_s", "kge.python_bytes_in", "kge.python_bytes_out",
        "cqd.exec_s", "cqd.jobs", "cqd.stages", "cqd.kernel_rows_per_beam_row",
        "lmpnn.forward_s", "lmpnn.score_s", "lmpnn.jobs", "lmpnn.python_s", "lmpnn.deserialize_s",
        "metric.rank_s", "metric.pairs_per_answer",
    ],
}

# SHA-1 of the KG key columns of the repository's test tables
# (TESTDATA.md), as _key_digest computes it over the parquet files
TEST_TABLE_KEYS = {
    0.001: "20ab997d8f0d6fdcb52b159275c14b14edcd5d0c",
    0.01: "8a5a71bef8b2df4f82666d5333850f48c5063525",
    0.1: "aa4443d1b0ac4ba6687ec16ff6e19db3a808b672",
}
KG_KEYS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
}


def _smoke(name: str, trace: int, corrupt: bool = False):
    run.pin_environment()
    args = Namespace(workload=name, seed=7, seconds=0.0, trace=trace, smoke=True, corrupt=corrupt)
    return run.run_one(args, name)


@pytest.mark.parametrize("name", [w["name"] for w in SPEC["workloads"]])
def test_smoke_reports_every_named_metric_with_its_unit(name):
    report, result = _smoke(name, trace=1)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert report["metrics"][m["name"]]["unit"] == m["unit"]
        assert report["metrics"][m["name"]]["value"] > 0
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    zero = [k for k in EXERCISED[name] if not result["metrics"][k]["value"] > 0]
    assert zero == []
    assert report["metrics"]["failed_frac"]["value"] == 0.0


@pytest.mark.parametrize("name", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_answer_counts_as_failed(name):
    _, result = _smoke(name, trace=0, corrupt=True)
    assert result["failed"] >= 1
    assert result["correct"] is False


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "efo_interactive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_leaves_no_process_running():
    # the wrapper adopts whatever run.py orphans and lists it right after
    # run.py exits; the JVM and its Python workers must be gone by then
    wrapper = (
        "import subprocess, sys\n"
        "from perfbench import procs\n"
        "procs.become_subreaper()\n"
        "rc = subprocess.run([sys.executable, 'perfbench/run.py', '--workload', 'efo_interactive',\n"
        "                     '--smoke'], stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode\n"
        "left = procs.children()\n"
        "procs.stop_descendants()\n"
        "print(rc, len(left))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", wrapper], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.stdout.split() == ["0", "0"], proc.stderr


def test_filtered_rank_matches_brute_force():
    rng = np.random.default_rng(0)
    ent = np.arange(50)
    score = rng.integers(0, 8, 50).astype(float)  # many ties
    easy, hard = [1, 2, 3], [4, 5, 6, 7]
    got = reference.filtered_rank_bounds(ent, score, easy, hard, eps=0.0)
    for a in hard:
        # the package's protocol: rank minus easy and other hard answers ranked better
        rank = int(np.sum(score > score[a]))
        better_easy = sum(int(np.sum(score > score[e])) < rank for e in easy)
        better_hard = sum(int(np.sum(score > score[h])) < rank for h in hard if h != a)
        assert got[a] == (rank - better_easy - better_hard,) * 2


def _key_digest(tables) -> str:
    h = hashlib.sha1()
    for table, cols in KG_KEYS.items():
        for c in cols:
            h.update(c.encode())
            h.update(tables[table].column(c).to_numpy().astype("<i8").tobytes())
    return h.hexdigest()


@pytest.mark.parametrize("sf", sorted(TEST_TABLE_KEYS))
def test_generated_kg_keys_equal_the_test_tables(sf):
    assert _key_digest(datagen.build_tables(sf)) == TEST_TABLE_KEYS[sf]
