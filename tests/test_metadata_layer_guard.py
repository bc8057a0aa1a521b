"""Guard for the one filesystem layer: no tokcodec module reaches the
Hadoop FileSystem API. Metadata and lineage IO go through pyarrow
(io_tables._task_fs), so a Hadoop configuration lookup or a
org.apache.hadoop class anywhere in the package is a second filesystem
layer coming back. Reads the files only."""

import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = sorted(glob.glob(os.path.join(ROOT, "tokcodec", "**", "*.py"),
                           recursive=True))
FORBIDDEN = ("hadoopConfiguration", "org.apache.hadoop")


@pytest.mark.parametrize(
    "src", MODULES, ids=[os.path.relpath(p, ROOT) for p in MODULES])
def test_no_hadoop_filesystem_api(src):
    with open(src, encoding="utf-8") as f:
        text = f.read()
    hits = [(n, w) for n, line in enumerate(text.splitlines(), 1)
            for w in FORBIDDEN if w in line]
    assert not hits, f"{os.path.relpath(src, ROOT)}: {hits}"
