"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

import inputs
import run
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _lake_inputs(seed: int, n: int = 6):
    return ([inputs.lineitem_batch(seed, i) for i in range(n)],
            [inputs.read_predicate(seed, i) for i in range(n)],
            [inputs.delete_predicate(seed, c) for c in range(3)])


def _same_batches(a, b) -> bool:
    return all(x.keys() == y.keys() and all(np.array_equal(x[k], y[k]) for k in x)
               for x, y in zip(a, b))


def test_same_seed_same_inputs():
    a, b = inputs.tree_plan(7), inputs.tree_plan(7)
    assert a.steps == b.steps and a.zipf_s == b.zipf_s
    assert inputs.command_cycles(7, 40) == inputs.command_cycles(7, 40)
    (ba, ra, da), (bb, rb, db) = _lake_inputs(7), _lake_inputs(7)
    assert _same_batches(ba, bb)
    assert ra == rb and da == db


def test_different_seed_different_inputs():
    assert inputs.tree_plan(7).steps != inputs.tree_plan(8).steps
    assert inputs.command_cycles(7, 40) != inputs.command_cycles(8, 40)
    (ba, ra, _), (bb, rb, _) = _lake_inputs(7), _lake_inputs(8)
    assert not _same_batches(ba, bb)
    assert ra != rb


def test_tree_plan_shape():
    plan = inputs.tree_plan(3)
    kinds = [k for k, _ in plan.steps]
    assert kinds.count("append") + kinds.count("remove") == inputs.N_COMMITS
    assert kinds.count("schema") == 2
    live: set[str] = set()
    for kind, payload in plan.steps:
        if kind == "append":
            live.update(f["file_path"] for f in payload)
        elif kind == "remove":
            assert set(payload) <= live
            live.difference_update(payload)
    assert 1000 < len(live) < 1300


def test_command_cycles_cover_every_kind():
    cycles = inputs.command_cycles(5, 40)[:4]
    for cycle in cycles:
        assert sorted(c[0] for c in cycle) == sorted(inputs.INSPECT_KINDS + ("health",))
    assert all(c[1] < c[2] for cycle in cycles for c in cycle if c[0] == "diff")


def test_ground_truth_helpers():
    def f(path, part, size, lo, hi):
        return {"file_path": path, "partition": {"region": part},
                "file_size_in_bytes": size, "record_count": 1,
                "lower_bounds": {2: lo}, "upper_bounds": {2: hi}}

    files = {p["file_path"]: p for p in (
        f("a", "x", 60 << 20, 0, 10),    # not small
        f("b", "x", 10 << 20, 5, 20),    # overlaps a
        f("c", "x", 10 << 20, 30, 40),
        f("d", "y", 10 << 20, 40, 50),   # touches c's upper bound
    )}
    assert inputs.compaction_groups(files, 8 << 20) == 3    # x: [b], [c]; y: [d]
    assert inputs.compaction_groups(files, 64 << 20) == 2
    assert inputs.overlapping_files(files) == 2


def test_metric_names_match_benchmark_json():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == tracing.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["meta_inspect", "lake_commit"]
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in spec["end_to_end"])
               for m in spec["end_to_end"])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "out", "__pycache__"))
    shutil.copy(BENCHMARK_JSON, tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "meta_inspect",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
