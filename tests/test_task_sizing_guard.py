"""Guard for the one task-sizing rule: every stage that runs Python
over buckets sizes itself through io_tables._task_slots (one task per
core). A `defaultParallelism` anywhere else in the package is a stage
growing its own sizing rule again. Only two places may read it: the
rule itself and session.warm_python_workers, which must reach every
core's Python worker. Reads the files only."""

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = sorted(glob.glob(os.path.join(ROOT, "tokcodec", "**", "*.py"),
                           recursive=True))
ALLOWED = {("io_tables.py", "_task_slots"),
           ("session.py", "warm_python_workers")}


def _allowed_lines(src, tree):
    base = os.path.basename(src)
    lines = set()
    for node in ast.walk(tree):
        if (isinstance(node, ast.FunctionDef)
                and (base, node.name) in ALLOWED):
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


@pytest.mark.parametrize(
    "src", MODULES, ids=[os.path.relpath(p, ROOT) for p in MODULES])
def test_one_task_sizing_rule(src):
    with open(src, encoding="utf-8") as f:
        text = f.read()
    ok = _allowed_lines(src, ast.parse(text))
    hits = [n for n, line in enumerate(text.splitlines(), 1)
            if "defaultParallelism" in line and n not in ok]
    assert not hits, f"{os.path.relpath(src, ROOT)}: lines {hits}"

