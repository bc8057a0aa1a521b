"""Lint: the engine's invariant is NO per-row Python in any hot path
(BASELINE.json north_star: 'All encode/decode paths run as vectorized
pandas/Arrow UDFs ... no per-row Python'). The usual regression shapes
are a `for ... in range(len(` loop and direct iteration over a chunk's
per-row arrays (`for x in lengths:`, likewise offsets/offs/seg_ends);
bounded non-row loops must carry a 'bounded' comment on the line above
or the line itself."""

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ["tokcodec", "__spark_entry__.py", "bench.py"]
PAT = re.compile(
    r"for\s+\w+\s+in\s+(range\(len\(|(lengths|offsets|offs|seg_ends)\s*:)")


def _py_files():
    for s in SOURCES:
        p = os.path.join(ROOT, s)
        if os.path.isfile(p):
            yield p
        else:
            for root, _dirs, files in os.walk(p):
                for f in files:
                    if f.endswith(".py"):
                        yield os.path.join(root, f)


def test_no_per_row_python_loops():
    offenders = []
    for path in _py_files():
        with open(path) as fh:
            lines = fh.readlines()
        for i, line in enumerate(lines):
            if PAT.search(line):
                ctx = (lines[i - 1] if i else "") + line
                if "bounded" not in ctx:
                    offenders.append(f"{path}:{i + 1}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
