"""The measurement harness: the ``bench.py --one`` timing child, the
``tools/ab.py`` A/B driver, and that every tool module still imports.

A tool is run by hand, not by the suite, so a tool left calling a removed
engine name would otherwise fail only when someone next needs it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import py_compile
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_compiles_and_imports(path, tmp_path):
    # every tool keeps its work under a __main__ guard, so an import has
    # no side effects beyond resolving the names it uses
    py_compile.compile(str(path), cfile=str(tmp_path / "t.pyc"), doraise=True)
    spec = importlib.util.spec_from_file_location(f"tool_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_bench_one_records_build_exec_and_stages(sf_dir):
    """A non-headline name resolves; each sample splits into build + exec;
    the stage totals cover what the timed samples ran."""
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_BENCH_RUNS": "1",
        # the child JVM runs beside the test session's
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    }
    env.pop("SPARK_GRAFT_BENCH_SET", None)
    env.pop("SPARK_GRAFT_BENCH_ONLY", None)
    r = subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), "--one", "keyed_scan_orders"],
        capture_output=True, text=True, timeout=600, env=env, cwd=ROOT,
    )
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("BENCH_ONE ")]
    assert r.returncode == 0 and lines, r.stderr[-2000:]
    rec = json.loads(lines[0].removeprefix("BENCH_ONE "))
    assert rec["name"] == "keyed_scan_orders"
    assert len(rec["build"]) == len(rec["exec"]) == len(rec["samples"]) >= 1
    for b, e, s in zip(rec["build"], rec["exec"], rec["samples"]):
        assert abs(b + e - s) <= 0.002
    stages = rec["stages"]
    assert all(isinstance(v, int) and v >= 0 for v in stages.values()), stages
    assert stages["run_ms"] > 0 and stages["n_stages"] > 0


def test_ab_records_error_rows_with_absolute_trees(tmp_path):
    """Trees without bench.py: every run is an error row, the loop goes on,
    and each row names its tree by absolute path (no JVM starts)."""
    for d in ("a", "b"):
        (tmp_path / d).mkdir()
    out = tmp_path / "ab.jsonl"
    r = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "ab.py"), "a", "b", "q", "1", str(out)],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = [json.loads(ln) for ln in out.read_text().splitlines()]
    assert [(row["arm"], row["tree"]) for row in rows] == [
        ("A", str((tmp_path / "a").resolve())),
        ("B", str((tmp_path / "b").resolve())),
    ]
    assert all(row["error"] and "bw_before" in row for row in rows)
