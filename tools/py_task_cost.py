"""Fixed cost of a Python task in a ``session.get_spark`` session.

    python tools/py_task_cost.py [--cores N] [--repeats R]

Prints the median wall time of a trivial 1,000-row ``mapInPandas`` stage at
1, cores, 2 x cores and 4 x cores partitions (the stage does no work, so the
time is the per-task cost of the Python boundary), then the median time of
one ``importlib.invalidate_caches()`` inside a Python worker, the call every
Python task starts with.  Run from the root of a source checkout.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _identity(it):
    yield from it


def _invalidate_ms(it):
    import importlib

    import pandas as pd
    for _ in it:
        pass
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        times.append((time.perf_counter() - t0) * 1e3)
    yield pd.DataFrame({"ms": [statistics.median(times)]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cores", type=int,
                    default=min(len(os.sched_getaffinity(0)), 4))
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args()

    from city2graph_spark.session import get_spark
    spark = get_spark("py_task_cost", master=f"local[{args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for parts in (1, args.cores, 2 * args.cores, 4 * args.cores):
            stage = spark.range(1000, numPartitions=parts) \
                .mapInPandas(_identity, "id long")
            times = []
            for _ in range(args.repeats + 1):       # first run warms up
                t0 = time.perf_counter()
                stage.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            print(f"trivial mapInPandas, {parts:3d} partitions: "
                  f"{statistics.median(times[1:]):.3f} s median")
        probe = spark.range(1, numPartitions=1) \
            .mapInPandas(_invalidate_ms, "ms double")
        ms = statistics.median(probe.collect()[0].ms
                               for _ in range(args.repeats))
        print(f"in-worker importlib.invalidate_caches(): {ms:.2f} ms median")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
