"""Guard for deletions: every `from tokcodec... import name` in the
scripts, the benchmark harnesses and the driver entry point must still
resolve, so removing a helper cannot leave a broken script or
benchmark behind. Reads the files only."""

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, "bench.py"),
       os.path.join(ROOT, "__spark_entry__.py")])


def _tokcodec_imports(path):
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and (
                node.module == "tokcodec"
                or node.module.startswith("tokcodec.")):
            for alias in node.names:
                yield node.module, alias.name, node.lineno


@pytest.mark.parametrize(
    "src", SOURCES, ids=[os.path.relpath(p, ROOT) for p in SOURCES])
def test_tokcodec_imports_resolve(src):
    missing = []
    for module, name, line in _tokcodec_imports(src):
        mod = importlib.import_module(module)
        if name != "*" and not hasattr(mod, name):
            try:  # a submodule imported by name
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{module}.{name} (line {line})")
    assert not missing, f"{os.path.relpath(src, ROOT)}: {missing}"


def test_task_wave_probe_is_covered_and_starts():
    """scripts/probe_task_wave.py gives the fixed cost of a Python task
    wave that the placement rules rest on: its imports are checked
    above, and it parses its arguments without starting Spark."""
    import subprocess
    import sys

    probe = os.path.join(ROOT, "scripts", "probe_task_wave.py")
    assert probe in SOURCES
    out = subprocess.run([sys.executable, probe, "--help"],
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "--reps" in out.stdout


def test_run_growth_probe_is_covered_and_starts():
    """scripts/probe_run_growth.py measures how a lookup's cost grows
    with the number of appended runs: its imports are checked above,
    and it parses its arguments without starting Spark."""
    import subprocess
    import sys

    probe = os.path.join(ROOT, "scripts", "probe_run_growth.py")
    assert probe in SOURCES
    out = subprocess.run([sys.executable, probe, "--help"],
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "--appends" in out.stdout
