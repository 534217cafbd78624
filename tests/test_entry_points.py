"""bench.py and tools/ stay runnable: they compile, `bench.py --help`
needs no Spark, and no Python file names a tool that bench.py replaced."""

from __future__ import annotations

import glob
import os
import py_compile
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_POINTS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
)
REPLACED = ["qbench.py", "benchdrift.py", "capture_plans_r06.py", "capture_plans_r07.py"]


@pytest.mark.parametrize("path", ENTRY_POINTS, ids=os.path.basename)
def test_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_bench_help_without_spark():
    # pyspark made unimportable: --help must exit before any Spark import
    code = (
        "import runpy, sys; sys.modules['pyspark'] = None; "
        "sys.argv = ['bench.py', '--help']; runpy.run_path('bench.py', run_name='__main__')"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=60
    )
    assert r.returncode == 0, r.stderr
    assert "--plans" in r.stdout


def test_no_file_names_a_replaced_tool():
    hits = []
    for path in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True):
        if os.path.samefile(path, __file__):
            continue
        with open(path, encoding="utf-8") as f:
            text = f.read()
        hits += [f"{path}: {t}" for t in REPLACED if t in text]
        if "scale_evidence_r07.py bench" in text:
            hits.append(f"{path}: scale_evidence_r07.py bench")
    assert not hits
