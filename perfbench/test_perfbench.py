"""Self-tests of the benchmark (not of the program).

    python3 -m pytest perfbench/ -q

Tiny-size runs of every workload check that each metric named in
BENCHMARK.json is reported with its unit and that the outputs check
clean; a corrupted output must turn ``error_rate`` non-zero; scripts
must depend on the seed alone; and a directory holding only the
benchmark must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

TINY = ["--seconds", "1", "--scale", "0.02"]


def _run(cwd, *args) -> tuple[subprocess.CompletedProcess, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p, (json.loads(lines[-1]) if p.returncode == 0 and lines else None)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_reports_every_metric(tmp_path, workload, trace):
    p, res = _run(tmp_path, "--workload", workload, "--seed", "7", "--trace", trace, *TINY)
    assert p.returncode == 0, p.stderr[-3000:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, p.stderr[-3000:]
    want = BENCH["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in res["metrics"].items()}
    if trace == "0":
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        spans = json.load(open(tmp_path / ".perfbench_run" / f"{workload}-spans.json"))
        assert spans and all(s["end"] >= s["start"] for s in spans)
    assert not (tmp_path / ".perfbench_run" / workload).exists()  # scratch removed


def test_corrupted_output_is_an_error(tmp_path):
    p, res = _run(tmp_path, "--workload", "editor", "--seed", "7", "--trace", "0", "--corrupt", *TINY)
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] is False and res["failed"] >= 1
    rate = [ln for ln in p.stderr.splitlines() if ln.strip().startswith("error_rate")]
    assert rate and float(rate[-1].split()[1]) > 0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_script_depends_on_seed_only(tmp_path, workload):
    def scripts(seed, sub):
        d = tmp_path / sub
        d.mkdir()
        wl = WORKLOADS[workload](None, str(d), seed, 0.02, None)
        wl.generate()
        return [wl.script(r) for r in range(3)]

    a, b, c = scripts(5, "a"), scripts(5, "b"), scripts(6, "c")
    assert a == b
    # another seed changes arguments, never the sequence of action kinds
    assert [[op for _, op, _ in r] for r in a] == [[op for _, op, _ in r] for r in c]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        BENCH["command"] + ["--workload", "editor", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
