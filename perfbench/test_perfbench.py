"""Tests of the benchmark itself (not part of the repository's test suite).

    python3 -m pytest perfbench -q

The end-to-end tests start the benchmark as a subprocess, each with its
own Spark JVM, so they take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics, run  # noqa: E402
from perfbench.workloads import OLAP_QUERIES, WORKLOADS, Olap, Sync  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", [Sync, Olap])
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, b, c = (workload(seed, str(tmp_path / name)) for seed, name in ((5, "a"), (5, "b"), (6, "c")))
    stats_a, stats_b = a.generate(), b.generate()
    c.generate()
    da = _tree_digest(str(tmp_path / "a"))
    assert da and da == _tree_digest(str(tmp_path / "b"))
    assert stats_a == stats_b
    assert da != _tree_digest(str(tmp_path / "c"))


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert run.timed_passes(spec["run_seconds"]) == 2


def test_operator_layers_follow_the_query_list():
    from mongodb_iceberg_sync_spark.registry import all_specs

    specs = all_specs()
    modules = {specs[q].func.__module__.rsplit(".", 1)[-1] for q in OLAP_QUERIES}
    assert modules == set(metrics.OPERATOR_MODULES)
    assert all(specs[q].oracle for q in OLAP_QUERIES)


def test_tail_uses_the_highest_percentile_with_ten_samples_beyond():
    assert set(run.tail([1.0] * 9)) == {"n", "p50"}
    assert "p90" in run.tail([float(i) for i in range(100)])
    assert "p99" in run.tail([float(i) for i in range(1000)])


def _bench(cwd, workload: str, trace: int, seed: int = 3, prelude: str = ""):
    """Run the benchmark in a subprocess; ``prelude`` is Python run
    before ``run.main`` (used to inject faults)."""
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import run\n"
        f"{prelude}\n"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '{seed}', "
        f"'--seconds', '20', '--trace', '{trace}']))\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result


def test_without_the_program_the_run_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sync", "--seed", "1",
         "--seconds", "20", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not (tmp_path / ".perfbench_work").exists()


CORRUPT_TABLE = """
import glob, os
from mongodb_iceberg_sync_spark.sync.table_store import MorTable
_compact = MorTable.compact
def compact(self, *a, **k):
    _compact(self, *a, **k)
    os.remove(sorted(glob.glob(self.base_dir + '/*.parquet'))[0])  # lose rows
MorTable.compact = compact
"""

WRONG_RESULT = """
import dataclasses
from pyspark.sql import functions as F
from mongodb_iceberg_sync_spark.registry import REGISTRY, all_specs
spec = all_specs()['q_dedup_exact']
REGISTRY['q_dedup_exact'] = dataclasses.replace(
    spec, func=lambda spark, d: spec.func(spark, d).filter(F.col('n_copies') == 1))
"""


@pytest.mark.parametrize("workload,fault", [("sync", CORRUPT_TABLE), ("olap", WRONG_RESULT)])
def test_a_wrong_result_fails_the_run(tmp_path, workload, fault):
    code, result = _bench(tmp_path, workload, trace=0, prelude=fault)
    assert code != 0
    assert result is not None and result["correct"] is False
    assert result["failed"] > 0
    assert result["metrics"]["ok_ratio"]["value"] < 1


# Counts a traced run reports that must repeat exactly for one seed.
COUNTS = [
    name
    for name, unit in metrics.PER_LAYER.items()
    if unit in ("count", "B") and not name.startswith("machine.")
]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_counts_repeat_exactly(tmp_path, workload):
    runs = []
    for i in range(2):
        code, result = _bench(tmp_path, workload, trace=1)
        assert code == 0 and result["correct"], result
        runs.append({k: result["metrics"][k]["value"] for k in COUNTS})
    assert runs[0] == runs[1]
    if workload == "sync":
        assert runs[0]["sync.apply.jobs"] > 0
        assert runs[0]["sync.table_store.prune.dirs_kept"] > 0
        assert 0 <= result["metrics"]["sync.table_store.prune.skip_ratio"]["value"] <= 1
        assert runs[0]["sync.table_store.snapshot.rows_read"] > 0
        assert runs[0]["sync.table_store.commit.bytes_written"] > 0
    else:
        assert runs[0]["operators.graph.jobs"] > 0
