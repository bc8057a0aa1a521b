#!/usr/bin/env python
"""Fixed cost of one wave of Python tasks, the number the placement
rules rest on (io_tables._task_slots, io_tables._DRIVER_MAX_BYTES).

On a warmed session (session.warm_python_workers) it times, as medians
over ``--reps`` alternating runs:

- ``jvm_ms``: a JVM-only job over the same range as the wider wave
  (``spark.range(0, k, 1, k).count()``, k = _task_slots tasks);
- ``wave_1_ms``: a no-op mapInArrow wave of 1 task;
- ``wave_k_ms``: a no-op mapInArrow wave of k tasks;
- ``invalidate_ms``: what one ``importlib.invalidate_caches()`` takes
  inside a warmed worker, the call every PySpark task starts with
  (median over the k tasks of each rep).

``wave_k_ms - jvm_ms`` is the Python tasks' own fixed cost. Prints one
JSON line. Usage:

    python scripts/probe_task_wave.py [--master local[4]] [--reps 8]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the workers import the same tokcodec tree as the driver
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from tokcodec.io_tables import _task_slots  # noqa: E402
from tokcodec.session import get_spark, warm_python_workers  # noqa: E402


def _noop(batches):
    yield from batches


def _time_invalidate(batches):
    import importlib

    import pyarrow as pa

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict(
        {"ms": [(time.perf_counter() - t0) * 1e3]})


def _ms(job) -> float:
    t0 = time.perf_counter()
    job()
    return (time.perf_counter() - t0) * 1e3


def probe(spark, reps: int) -> dict:
    k = _task_slots(spark, 1 << 30)

    def wave(n):
        return lambda: spark.range(0, n, 1, n).mapInArrow(
            _noop, "id long").count()

    jobs = {"jvm_ms": lambda: spark.range(0, k, 1, k).count(),
            "wave_1_ms": wave(1), "wave_k_ms": wave(k)}
    for job in jobs.values():  # one untimed run of each
        job()
    times: dict = {name: [] for name in jobs}
    inval: list = []
    for _ in range(reps):
        for name, job in jobs.items():
            times[name].append(_ms(job))
        inval.append(statistics.median(
            r.ms for r in spark.range(0, k, 1, k).mapInArrow(
                _time_invalidate, "ms double").collect()))
    out = {"tasks": k, "reps": reps,
           "python": ".".join(map(str, sys.version_info[:3]))}
    out.update({name: round(statistics.median(v), 1)
                for name, v in times.items()})
    out["invalidate_ms"] = round(statistics.median(inval), 2)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--master", default=None,
                    help="Spark master (default: get_spark's local[N])")
    ap.add_argument("--reps", type=int, default=8)
    args = ap.parse_args()
    spark = get_spark(master=args.master, driver_memory="2g")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        warm_python_workers(spark)
        print(json.dumps(probe(spark, args.reps)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
