"""The benchmark's own tests: seeded inputs, the printed record, and
count metrics that repeat across traced runs of one seed.

The record tests run the command itself (a JVM per run), so the file
takes a few minutes:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from spans import parse_dot, parse_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# counts whose value depends on timing, not on the seed (see README)
TIMING_DEPENDENT = {
    "nvd_refresh_read": {"query_layer.jobs_per_read",
                         "query_layer.files_read_per_row_returned",
                         "spark.failed_tasks"},
    "llm_dedup_admit": {"spark.failed_tasks"},
}


def _landing(root: str, seed: int, tag: str) -> str:
    """A backfill landing dir plus one refresh cycle under ``next/``."""
    c = gen.NvdCorpus(seed, 300)
    d = os.path.join(root, tag)
    c.write_landing(d)
    os.makedirs(os.path.join(d, "next"))
    c.refresh_cycle(os.path.join(d, "next"), 20, 5, 1)
    return d


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, s), os.path.join(b, s)) for s in cmp.common_dirs)


def test_nvd_generator_is_deterministic(tmp_path):
    root = str(tmp_path)
    a, b = _landing(root, 5, "a"), _landing(root, 5, "b")
    assert _same_tree(a, b)
    assert not _same_tree(a, _landing(root, 6, "c"))


def test_nvd_model_tracks_rejects_and_updates(tmp_path):
    c = gen.NvdCorpus(3, 500)
    c.write_landing(str(tmp_path))
    assert 0 < sum(x.rejected for x in c.state.values()) < 30
    mid, final = c.refresh_cycle(str(tmp_path), 40, 10, 2)
    newly = set(mid) - set(final)
    assert len(newly) == 2 and all(mid[k].rejected for k in newly)
    assert not any(x.rejected for x in final.values())


def test_doc_generator_is_deterministic(tmp_path):
    runs = []
    for k in range(2):
        c = gen.DocCorpus(9, 300)
        path = os.path.join(str(tmp_path), f"d{k}", "documents.parquet")
        gen.write_documents(path, c.rows)
        runs.append((path, c.arrivals(3)))
    assert filecmp.cmp(runs[0][0], runs[1][0], shallow=False)
    assert runs[0][1] == runs[1][1]
    stream, dups = runs[0][1]
    assert 0 < len(dups) < len(stream)


def test_metric_parsing():
    assert parse_metric("total (min, med, max)\n1.5 KiB (1 B, 2 B, 3 B)") == 1536
    assert parse_metric("1,234") == 1234
    dot = ('  1 [id="node1" labelType="html" label="<b>Scan json </b><br><br>'
           'size of files read: 2.0 KiB<br>number of files read: 3" tooltip="x"];')
    assert parse_dot(dot) == [("Scan json", {"size of files read": 2048.0,
                                             "number of files read": 3.0})]


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, os.path.join(str(tmp_path), "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), str(tmp_path))
    p = _run("nvd_refresh_read", 1, 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_command_prints_every_metric_and_counts_repeat(workload):
    e2e = _run(workload, 4, 0)
    assert e2e.returncode == 0, e2e.stderr[-2000:]
    rec = json.loads(e2e.stdout.strip().splitlines()[-1])
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert rec["correct"] is True and rec["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in rec["metrics"].items()} == want
    assert all(v["value"] > 0 for v in rec["metrics"].values())

    traced = []
    for _ in range(2):
        p = _run(workload, 4, 1)
        assert p.returncode == 0, p.stderr[-2000:]
        traced.append(json.loads(p.stdout.strip().splitlines()[-1]))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for t in traced:
        assert {k: v["unit"] for k, v in t["metrics"].items()} == want
    # byte totals follow compressed shuffle and file sizes, which move by
    # a few bytes between runs; jobs, stages, tasks, rows and files repeat
    counts = [k for k, u in want.items()
              if u in ("count", "ratio") and k not in TIMING_DEPENDENT[workload]]
    a, b = ({k: t["metrics"][k]["value"] for k in counts} for t in traced)
    assert a == b
