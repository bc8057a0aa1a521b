"""Guard for the one block-metadata reader and the one filesystem
layer: no tokcodec module puts block files in a Spark scan, and none
reads or writes table files through Spark. Pruning and every metadata
answer read block rows with pyarrow, in the slice prune phase
(tokcodec.scan._index_slice / chunk_index), so a Spark DataFrame over
block files (``spark.read…schema(BLOCK_DDL)``, ``_blocks_df``,
``blocks_df(``) is a second pruner coming back.

Every table file — block files, metadata and the removal lists of
merge-on-read deletes — is read and written through pyarrow
(io_tables._task_fs), so ALLOWED_TABLE_READS is empty: a ``spark.read``
in a tokcodec module fails the guard, and so does a Spark
DataFrameWriter call (``df.write…parquet(…)``, ``.save(…)``,
``.json(…)``, …), whose Hadoop paths resolve a percent-encoded
``file:`` URI to another directory than _task_fs does. sources.py's
JDBC read is not a table path and stays outside the guard. The checks
parse the code, so docstrings and comments never trip them. Reads the
files only."""

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = sorted(glob.glob(os.path.join(ROOT, "tokcodec", "**", "*.py"),
                           recursive=True))
OUTSIDE = {os.path.join("tokcodec", "sources.py")}  # JDBC, not a table

# (module, function) -> Spark reads allowed on table paths: none
ALLOWED_TABLE_READS: set = set()

# a DataFrameWriter's (or DataStreamWriter's) terminal calls
WRITER_SINKS = {"parquet", "save", "json", "csv", "orc", "text",
                "saveAsTable", "insertInto", "start", "toTable"}


def _rel(p: str) -> str:
    return os.path.relpath(p, ROOT)


def _chain(node):
    """The attribute names and call arguments along a call chain
    (``spark.read.schema(X).parquet(p)`` -> its names and args)."""
    names, args = [], []
    while True:
        if isinstance(node, ast.Call):
            args += node.args
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names, args


def _spark_reads(tree):
    """(enclosing function, line) of every ``spark.read`` in ``tree``."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name if fn is None else fn
            if isinstance(child, ast.Attribute) and child.attr == "read" \
                    and isinstance(child.value, ast.Name) \
                    and child.value.id == "spark":
                out.append((name, child.lineno))
            visit(child, name)

    visit(tree, None)
    return out


def _spark_writes(tree):
    """(enclosing function, line) of every Spark DataFrameWriter call in
    ``tree``: a call chain through ``.write``, ``.writeStream`` or
    ``.writeTo`` that ends in a sink (``df.write.mode(m).parquet(p)``).
    A file object's ``out.write(data)`` is no writer: nothing is called
    on its result."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name if fn is None else fn
            if isinstance(child, ast.Call) \
                    and isinstance(child.func, ast.Attribute) \
                    and child.func.attr in WRITER_SINKS:
                names, _args = _chain(child)
                if {"write", "writeStream", "writeTo"} & set(names[1:]):
                    out.append((name, child.lineno))
            visit(child, name)

    visit(tree, None)
    return out


def _parse(src):
    with open(src, encoding="utf-8") as f:
        return ast.parse(f.read())


def _block_scans(tree) -> list:
    """(line, what) of every Spark scan of block files in ``tree``."""
    hits = []
    for node in ast.walk(tree):
        name = (node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else node.name if isinstance(node, ast.FunctionDef)
                else None)
        if name in ("_blocks_df", "blocks_df"):
            hits.append((node.lineno, name))
        if isinstance(node, ast.Call):
            names, args = _chain(node)
            if "read" in names and any(isinstance(a, ast.Name)
                                       and a.id == "BLOCK_DDL"
                                       for a in args):
                hits.append((node.lineno, "spark.read of BLOCK_DDL"))
    return sorted(set(hits))


@pytest.mark.parametrize("src", MODULES, ids=[_rel(p) for p in MODULES])
def test_no_spark_scan_of_block_files(src):
    hits = _block_scans(_parse(src))
    assert not hits, f"{_rel(src)}: {hits}"


def test_table_reads_are_the_listed_removal_lists():
    found = {(_rel(src), fn) for src in MODULES if _rel(src) not in OUTSIDE
             for fn, _line in _spark_reads(_parse(src))}
    assert found == ALLOWED_TABLE_READS, (
        f"new Spark reads on table paths: "
        f"{sorted(found - ALLOWED_TABLE_READS)}; gone from the code "
        f"(drop them from the list): "
        f"{sorted(ALLOWED_TABLE_READS - found)}")


def test_no_spark_writes_of_table_files():
    found = sorted((_rel(src), fn, line) for src in MODULES
                   if _rel(src) not in OUTSIDE
                   for fn, line in _spark_writes(_parse(src)))
    assert not found, f"Spark writes of table files: {found}"


def test_guard_sees_a_block_scan():
    """The checks above fire on the shapes they forbid."""
    bad = ast.parse(
        "def f(spark, snap, paths):\n"
        "    snap.blocks_df(spark)\n"
        "    return spark.read.schema(BLOCK_DDL).parquet(*paths)\n")
    assert _block_scans(bad) == [(2, "blocks_df"),
                                 (3, "spark.read of BLOCK_DDL")]
    assert _spark_reads(bad) == [("f", 3)]
    writes = ast.parse(
        'def g(kdf, path, out, data):\n'
        '    """kdf.write.parquet(path) in a docstring is no call"""\n'
        '    kdf.write.mode("error").parquet(path)\n'
        '    kdf.write.format("tokcodec").save(path)\n'
        '    out.write(data)\n')
    assert _spark_writes(writes) == [("g", 3), ("g", 4)]
