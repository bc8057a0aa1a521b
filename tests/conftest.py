from __future__ import annotations

import contextlib
import sys

import pytest

sys.path.insert(0, "/root/repo")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "both_placements: also run the test as "
        "'<name>[tasks]' with the task placement of reads and writes "
        "forced")
    config.addinivalue_line(
        "markers", "task_placement: run the test with the task "
        "placement of reads and writes forced "
        "(tokcodec.io_tables._DRIVER_MAX_BYTES = 0)")


def pytest_collection_modifyitems(items):
    """A both_placements test keeps its own id and runs under the
    default placement (at test sizes nearly every read, and every
    write of a local relation, lands on the driver); its twin,
    '<name>[tasks]' (or '<name>[<params>-tasks]'), runs the same
    function with the task placement forced."""
    out = []
    for item in items:
        out.append(item)
        if not isinstance(item, pytest.Function) \
                or not item.get_closest_marker("both_placements"):
            continue
        spec = getattr(item, "callspec", None)
        name = (f"{item.originalname}[{spec.id}-tasks]" if spec
                else f"{item.name}[tasks]")
        twin = pytest.Function.from_parent(
            item.parent, name=name, callspec=spec, callobj=item.obj,
            fixtureinfo=item._fixtureinfo, originalname=item.originalname)
        twin.add_marker("task_placement")
        out.append(twin)
    items[:] = out


@contextlib.contextmanager
def placed(placement: str):
    """Reads and writes inside the block take ``placement``: "tasks"
    sets io_tables._DRIVER_MAX_BYTES to 0, so every read and every
    write with data runs mapInArrow tasks; "driver" leaves the cap as
    it is. Module-scoped fixtures use it to build one table per
    placement, so that a both_placements test which changes its table
    changes its own copy."""
    with pytest.MonkeyPatch.context() as m:
        if placement == "tasks":
            from tokcodec import io_tables

            m.setattr(io_tables, "_DRIVER_MAX_BYTES", 0)
        yield


@pytest.fixture(autouse=True)
def placement(request) -> str:
    """The placement this test's reads and writes may take
    (tokcodec.scan.scan_frame, tokcodec.io_tables._write_run): "tasks"
    under the task_placement marker, "driver" otherwise (see
    placed)."""
    name = "driver" if request.node.get_closest_marker(
        "task_placement") is None else "tasks"
    with placed(name):
        yield name


def local_frame(df):
    """``df`` as a LocalRelation, the input the driver placement of a
    write takes (io_tables._driver_input): its rows collected as JVM
    Rows and handed back to SparkSession.createDataFrame, every type
    kept. spark.createDataFrame of a Python list makes an RDD-backed
    frame, which always writes through the tasks."""
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(df._jdf.collectAsList(),
                                               df._jdf.schema())
    return DataFrame(jdf, spark)


@pytest.fixture(scope="session")
def spark():
    from tokcodec.session import get_spark

    s = get_spark(master="local[8]", app_name="tokcodec-tests",
                  shuffle_partitions=8, driver_memory="8g")
    yield s
    s.stop()
