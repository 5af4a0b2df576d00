"""Tests of the benchmark itself (not collected by the repository's
``pytest tests/`` run). From the repository root:

    python3 -m pytest txbench/test_txbench.py -q -p no:cacheprovider

The end-to-end tests run the benchmark (about a minute each)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import datagen  # noqa: E402


def _bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.generate(a, 3, 0.001)
    datagen.generate(b, 3, 0.001)
    datagen.generate(c, 4, 0.001)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a)["events.parquet"] != _bytes(c)["events.parquet"]


def test_split_files_keep_arrival_order(tmp_path):
    datagen.generate(str(tmp_path / "d"), 1, 0.001)
    t = pq.read_table(str(tmp_path / "d" / "events.parquet"))
    paths = datagen.split_files(t, str(tmp_path / "s"), 3, align=8)
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    parts = [pq.read_table(p) for p in paths]
    assert sum(p.num_rows for p in parts) == t.num_rows
    assert all(p.num_rows % 8 == 0 for p in parts[:-1])
    ids = [i for p in parts for i in p.column("event_id").to_pylist()]
    assert ids == t.column("event_id").to_pylist()


def test_digest_ignores_row_order_and_spelling():
    a = pd.DataFrame({"x": [1, 2, None], "y": [b"\x01", b"\x02", b"\x03"]})
    b = pd.DataFrame({"y": [b"\x03", b"\x02", b"\x01"], "x": [float("nan"), 2.0, 1.0]})
    assert checks.digest(a) == checks.digest(b)
    assert checks.ordered_rows(a) != checks.ordered_rows(b)
    assert checks.digest(a) != checks.digest(a.assign(x=[1, 3, None]))


def _run(cwd, *extra):
    return subprocess.run(
        [sys.executable, "txbench/run.py", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _git_status():
    return subprocess.run(
        ["git", "status", "--porcelain", "--ignored"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout


@pytest.mark.skipif(shutil.which("git") is None, reason="needs git")
def test_run_prints_metrics_and_leaves_the_tree_as_it_was():
    before = _git_status()
    r = _run(ROOT, "--workload", "stream_ingest", "--seed", "5",
             "--seconds", "1", "--trace", "0")
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(result["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    for m in bench["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    info = json.loads(lines[-2])["txbench"]
    assert info["cpus"] >= 1 and info["seed"] == 5
    assert _git_status() == before


def test_run_refuses_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "txbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _run(str(tmp_path), "--workload", "stream_ingest", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert r.returncode != 0
    assert '"correct"' not in r.stdout
