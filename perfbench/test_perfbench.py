"""Tests of the benchmark itself, on tiny inputs (``--smoke``).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOAD_TABLE, WORKLOADS, benchmark_json  # noqa: E402


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_declarations():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        text = f.read()
    assert text == benchmark_json()
    doc = json.loads(text)
    assert 2 <= len(doc["workloads"]) <= 8 and 1 <= len(doc["per_layer"]) <= 128
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "repo_encode", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


def _printed(stdout: str, workload: str, name: str, unit: str) -> bool:
    pat = rf"^\[{re.escape(workload)}\] {re.escape(name)} = \S+ {re.escape(unit)}$"
    return re.search(pat, stdout, re.M) is not None


def test_smoke_end_to_end_metrics_printed_with_units():
    p = _run("--workload", "all", "--smoke", "--seed", "3", "--trace", "0")
    out = _result(p)
    for wl in WORKLOADS:
        for name, unit, _better, _bound in END_TO_END:
            m = out["metrics"][f"{wl}.{name}"]
            assert m["unit"] == unit and m["value"] > 0, (wl, name, m)
        for name, unit in WORKLOAD_TABLE[wl]:
            assert _printed(p.stdout, wl, name, unit), (wl, name)
        assert _printed(p.stdout, wl, "ops_failed_frac", "frac")


def test_smoke_per_layer_metrics_and_trace_coverage():
    out = _result(_run("--workload", "all", "--smoke", "--seed", "3", "--trace", "1"))
    for wl in WORKLOADS:
        for name, unit, _better, _moves in PER_LAYER:
            m = out["metrics"][f"{wl}.{name}"]
            assert m["unit"] == unit and m["value"] == m["value"], (wl, name, m)
        assert 0 <= out["metrics"][f"{wl}.trace.unaccounted_frac"]["value"] <= 0.1
    layer = out["metrics"]
    assert layer["repo_encode.engine.skew_sample.s"]["value"] > 0
    assert layer["lineitem_persist.engine.skew_sample.s"]["value"] == 0
    assert layer["repo_scan.engine.decode_stage.s"]["value"] > 0
    assert layer["repo_encode.engine.decode_stage.s"]["value"] == 0
    assert layer["lineitem_persist.lineage.encode_and_stage_write_s"]["value"] > 0


@pytest.mark.parametrize("table", ["repo_table", "lineitem_table"])
def test_seed_changes_rows(table):
    from perfbench import inputs

    gen = getattr(inputs, table)
    assert gen(64, 1).equals(gen(64, 1))
    assert not gen(64, 1).equals(gen(64, 2))


class _Plan:
    """Stands in for a DataFrame: only the analyzed plan text is read."""

    def __init__(self, text: str) -> None:
        self._jdf = self
        self.text = text

    def queryExecution(self):
        return self

    def analyzed(self):
        return self

    def toString(self) -> str:
        return self.text


def test_salt_buckets_read_from_the_repartition():
    from perfbench.workloads import salt_buckets

    salted = (
        "MapInArrow encode(...)\n"
        "+- RepartitionByExpression [lang#1, repo#0, pmod(xxhash64(path#2, content#4, 42), "
        "coalesce(map(python\x1forg0/repo0, 4, go\x1forg3/repo3, 2)[concat_ws(\x1f, "
        "coalesce(cast(lang#1 as string), \x00<NULL>))], 1))], 8\n"
        "   +- Relation [repo#0,lang#1,path#2] parquet\n"
    )
    assert salt_buckets(_Plan(salted)) == 6
    assert salt_buckets(_Plan("+- RepartitionByExpression [lang#1, repo#0, 0], 8\n")) == 0
