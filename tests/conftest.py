from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "both_placements: also run the test as "
        "'<name>[tasks]' with the scan's task placement forced")
    config.addinivalue_line(
        "markers", "task_placement: run the test with the scan's task "
        "placement forced (tokcodec.scan._DRIVER_SCAN_MAX_BYTES = 0)")


def pytest_collection_modifyitems(items):
    """A both_placements test keeps its own id and runs under the
    default placement (at test sizes nearly every read lands on the
    driver); its twin, '<name>[tasks]' (or '<name>[<params>-tasks]'),
    runs the same function with the task placement forced."""
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


@pytest.fixture(autouse=True)
def placement(request, monkeypatch) -> str:
    """The scan placement this test's reads may take
    (tokcodec.scan.scan_frame): "tasks" under the task_placement
    marker, which sets _DRIVER_SCAN_MAX_BYTES to 0 so every read with
    data runs mapInArrow tasks; "driver" otherwise, with the cap left
    as it is."""
    if request.node.get_closest_marker("task_placement") is None:
        return "driver"
    from tokcodec import scan

    monkeypatch.setattr(scan, "_DRIVER_SCAN_MAX_BYTES", 0)
    return "tasks"


@pytest.fixture(scope="session")
def spark():
    from tokcodec.session import get_spark

    s = get_spark(master="local[8]", app_name="tokcodec-tests",
                  shuffle_partitions=8, driver_memory="8g")
    yield s
    s.stop()
