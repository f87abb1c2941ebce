"""Smoke test: every workload at a tiny size prints every metric that
BENCHMARK.json names, with its unit, and checks its outputs.

    python3 -m pytest perfbench/tests -q      (from the checkout root; about four minutes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# Per-layer metrics each workload exercises (the README layer map's "on"
# column): these must read above 0 in a traced run, so a wrapper that no
# longer matches its call site shows here instead of reading 0 unnoticed.
EXERCISED = {
    "serve_read": [
        "serving.local_ratio", "qast.snapshot_match_ms", "qast.snapshot_match_us_per_row",
        "findsql.find_ms", "findsql.cache_hit_ratio", "store.fetch_ms", "session.start_s",
        "serving.self_ms_per_op", "qast.self_ms_per_op", "findsql.self_ms_per_op",
        "store.self_ms_per_op",
    ],
    "ingest_cycle": [
        "store.add_ms", "catalog.commit_ms.upsert_content", "catalog.commit_ms.add_dataset",
        "catalog.commit_ms.update_dataset", "catalog.commit_ms.set_schema", "catalog.write_amp",
        "catalog.space_amp", "catalog.snapshot_rebuild_ms", "catalog.find_ms", "qast.compile_ms",
        "extract.first_row_ms", "extract.rows_per_s", "extract.schema_ms", "session.start_s",
        "spark.jobs", "spark.tasks", "server.self_ms_per_op", "catalog.self_ms_per_op",
        "extract.self_ms_per_op",
    ],
    "batch_mix": ["session.start_s", "spark.jobs", "spark.tasks"] + [
        f"{prefix}.{q}.{stat}"
        for q in ("dedup_containment_prefix", "sparse_cosine_topk_docs", "jaccard_topk_similar_docs",
                  "orders_rfm_segmentation", "multimodal_y4m_frame_sample")
        for prefix, stat in (("workloads", "build_s"), ("workloads", "exec_s"), ("spark", "tasks"))
    ],
}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    doc = _run(workload, trace)
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["correct"] is True and doc["failed"] == 0 and doc["attempted"] >= 1
    named = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(doc["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = doc["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(doc["metrics"][m["name"]]["value"] > 0 for m in named)
    else:
        unexercised = [k for k in EXERCISED[workload] if not doc["metrics"][k]["value"] > 0]
        assert not unexercised, f"{workload}: read 0 in a traced run: {unexercised}"


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
