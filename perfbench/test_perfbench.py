"""Tests of the benchmark itself: its arithmetic, its inputs and a small
end-to-end smoke of every workload.

    python3 -m pytest perfbench -q

The smoke runs the benchmark command as ``BENCHMARK.json`` gives it, at sf0.001.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs
from perfbench.sparkstats import union_length
from perfbench.stats import tail_percentile
from perfbench.trace import Span, descendants, self_times
from perfbench.twins import history_from_sets

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (19, None), (20, 50), (39, 50), (40, 75), (100, 90), (200, 95), (1000, 99), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    got = tail_percentile(list(range(1, n + 1)))
    assert (got[0] if got else None) == want
    if got:
        assert sum(v > got[1] for v in range(1, n + 1)) >= 10


def _span(i, parent, start, end):
    return Span(i, parent, 0, f"s{i}", f"g{i}", False, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1
        _span(3, 0, 8.0, 12.0),  # runs past its parent's end
        _span(4, 1, 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 - 1) - (10 - 8))
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert sorted(descendants(spans)[0]) == [0, 1, 2, 3, 4]
    assert sorted(descendants(spans)[1]) == [1, 4]


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    names = [f"n{i}" for i in range(50)]
    a, b, c = (inputs.query_blocks(s, names) for s in (7, 7, 8))
    first = [next(a) for _ in range(3)]
    assert first == [next(b) for _ in range(3)]
    assert first != [next(c) for _ in range(3)]
    for block in first:
        assert sorted((r["degree"], r["include_history"]) for r in block) == sorted(inputs.QUERY_BLOCK)
        for r in block:
            assert 1 <= len(r["seed_entities"]) <= 3 and r["top_k"] in inputs.TOP_KS


def test_ingest_batch_permutes_content_among_its_documents():
    batch = next(inputs.ingest_batches(3, list(range(500))))
    targets = [t for t, _ in batch]
    donors = [d for _, d in batch]
    assert len(set(targets)) == inputs.INGEST_BATCH
    assert sorted(targets) == sorted(donors)
    assert all(t != d for t, d in batch)


def test_history_follows_the_new_entities_rule():
    sets = {"ent_0": {"e1"}, "rel_0": {"r1", "r2"}, "new_ent_1": {"e2"}, "hop_rel_1": {"r2", "r3"}}
    h = history_from_sets(sets, 1)
    assert h[0]["added_relation_ids"] == ["r1", "r2"] and h[0]["total_entities"] == 1
    assert h[1]["added_entity_ids"] == ["e2"] and h[1]["added_relation_ids"] == ["r3"]
    assert (h[1]["total_entities"], h[1]["total_relations"]) == (2, 3)


def _run(cwd, workload, trace, seconds="1", sf="sf0.001"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", seconds, "--trace", str(trace), "--sf", sf]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced_run_reports_every_layer_metric(workload):
    proc = _run(ROOT, workload, 1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, proc.stderr[-2000:]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["trace.extra_jobs"]["value"] == 0 or workload == "graph_ingest"
    assert not os.path.exists(os.path.join(ROOT, ".perfbench-run"))


def test_smoke_pipeline_batch_traces_every_row():
    proc = _run(ROOT, "pipeline_batch", 1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"], proc.stderr[-4000:]
    metrics = out["metrics"]
    for row in inputs.PIPELINE_ROWS:
        assert metrics[f"queries.{row}.action.jobs"]["value"] >= 1
    assert metrics["sources.tables.load_table.calls"]["value"] >= len(inputs.PIPELINE_ROWS)


def test_smoke_untraced_run_reports_exactly_the_end_to_end_metrics():
    proc = _run(ROOT, "graphrag_query", 0)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "graphrag_query", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
