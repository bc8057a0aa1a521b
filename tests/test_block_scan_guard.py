"""Guard for the one block-metadata reader: no tokcodec module puts
block files in a Spark scan. Pruning and every metadata answer read
block rows with pyarrow, in the slice prune phase
(tokcodec.scan._index_slice / chunk_index), so a Spark DataFrame over
block files (``spark.read…schema(BLOCK_DDL)``, ``_blocks_df``,
``blocks_df(``) is a second pruner coming back.

The Spark reads that remain on table paths are the removal lists of
merge-on-read deletes. They are listed here, exactly, and go when the
deletes move into the slice scan task (ROADMAP G, its deletes half);
that change empties ALLOWED_TABLE_READS. sources.py's JDBC read is not
a table path and stays outside the guard. Reads the files only."""

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = sorted(glob.glob(os.path.join(ROOT, "tokcodec", "**", "*.py"),
                           recursive=True))
OUTSIDE = {os.path.join("tokcodec", "sources.py")}  # JDBC, not a table

# (module, function) -> the Spark reads of removal lists that ROADMAP
# G's deletes half moves into the slice scan task
ALLOWED_TABLE_READS = {
    (os.path.join("tokcodec", "io_tables.py"), "read_encoded_as"),
    (os.path.join("tokcodec", "io_tables.py"), "delete_encoded"),
    (os.path.join("tokcodec", "io_tables.py"), "_delete_keys_df"),
}


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


def test_guard_sees_a_block_scan():
    """The checks above fire on the shapes they forbid."""
    bad = ast.parse(
        "def f(spark, snap, paths):\n"
        "    snap.blocks_df(spark)\n"
        "    return spark.read.schema(BLOCK_DDL).parquet(*paths)\n")
    assert _block_scans(bad) == [(2, "blocks_df"),
                                 (3, "spark.read of BLOCK_DDL")]
    assert _spark_reads(bad) == [("f", 3)]
