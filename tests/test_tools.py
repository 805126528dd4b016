"""tools/measure.py: the time and plans modes in-process over entries and
bench rows, one A/B round over stub checkouts, and a guard against tools
that hard-code a checkout path."""

import ast
import os
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import measure  # noqa: E402

#: bench.py's rows in the order its JSON reports them
BENCH_ROWS = [
    "scan_lineitem", "scan_events", "pivot_mean", "groupby_q1", "join_star",
    "topk_orders", "window_running", "dedup_minhash", "text_quality",
    "topk_cosine", "windowed_events", "sink_parquet", "sink_csv", "sink_json",
]


def _time_and_plans(spark, sf_dir, tmp_path, names):
    targets, clear = measure.select(spark, names, sf_dir, str(tmp_path))
    runs, errors = measure.run(spark, targets, clear, 2, (str(tmp_path), "t"))
    assert errors == {}
    payload = measure.time_report(sf_dir, runs, errors)
    assert set(payload["times"]) == set(targets)
    assert payload["total"] == round(sum(payload["times"].values()), 2)
    for name, st in payload["stats"].items():
        assert st["n"] == 2 and st["min"] <= st["median"] <= st["max"]
        assert payload["times"][name] == st["min"]
        plan = (tmp_path / f"{name}_t.txt").read_text()
        assert "== Physical Plan ==" in plan


def test_time_and_plans_modes_over_entries(spark, sf_dir, tmp_path):
    _time_and_plans(spark, sf_dir, tmp_path, ["probe_ts_subus", "probe_double_repr"])


def test_time_and_plans_modes_over_bench_rows(spark, sf_dir, tmp_path):
    _time_and_plans(spark, sf_dir, tmp_path, ["bench"])


def test_bench_rows_are_frame_action_pairs(spark, sf_dir, tmp_path):
    """Every row builds its frame without running its action, so the
    plans mode can explain exactly what the timed runs execute."""
    from pyspark.sql import DataFrame

    targets, clear = measure.select(spark, ["bench"], sf_dir, str(tmp_path))
    assert list(targets) == BENCH_ROWS
    try:
        for frame, action in targets.values():
            assert isinstance(frame(), DataFrame) and callable(action)
    finally:
        clear(spark)


_STUB_SESSION = """
from types import SimpleNamespace as NS


def get_spark(app_name="", extra_conf=None):
    return NS(
        sparkContext=NS(setJobDescription=lambda desc: None),
        catalog=NS(clearCache=lambda: None),
        stop=lambda: None,
    )
"""

_STUB_ENTRY = """
import time
from types import SimpleNamespace as NS


def queries():
    def stub_only_entry(spark, sf_dir):
        save = lambda: time.sleep({delay})
        return NS(write=NS(mode=lambda m: NS(format=lambda f: NS(save=save))))

    return {{"stub_only_entry": stub_only_entry}}
"""


def _stub_checkout(path, delay):
    """A checkout with no tools/ whose package and entry module are
    fakes: a child that imported anything but this checkout's own code
    would start a JVM and find no ``stub_only_entry``."""
    (path / "parquet_editor_spark").mkdir(parents=True)
    (path / "parquet_editor_spark" / "__init__.py").write_text("")
    (path / "parquet_editor_spark" / "session.py").write_text(textwrap.dedent(_STUB_SESSION))
    (path / "__spark_entry__.py").write_text(_STUB_ENTRY.format(delay=delay))
    return str(path)


def test_ab_round_times_each_checkouts_own_code(tmp_path):
    a = _stub_checkout(tmp_path / "a", 0.0)
    b = _stub_checkout(tmp_path / "b", 0.3)
    mins = measure.ab(a, b, str(tmp_path), 1, 1, ["stub_only_entry"])
    assert mins["A"]["stub_only_entry"] < 0.3 <= mins["B"]["stub_only_entry"]


def _checkout_paths(path):
    """String literals in ``path`` naming a directory that holds a
    checkout of this repo, or a path inside one."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.startswith("/"):
            parts = node.value.split("/")
            for i in range(2, len(parts) + 1):
                if os.path.isfile(os.path.join("/".join(parts[:i]), "__spark_entry__.py")):
                    found.append(node.value)
                    break
    return found


def test_tools_hard_code_no_checkout_path():
    """A tool must measure or check the checkout it runs from, never a
    fixed one."""
    tools = sorted(p for p in os.listdir(os.path.join(ROOT, "tools")) if p.endswith(".py"))
    files = [os.path.join(ROOT, "tools", p) for p in tools] + [os.path.join(ROOT, "bench.py")]
    assert {f: _checkout_paths(f) for f in files if _checkout_paths(f)} == {}
