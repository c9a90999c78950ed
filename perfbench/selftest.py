"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (default: all) once and shows, for every call, that its check passes on the real output and fails when one
output row is dropped: the first row and the middle one.  Exits 1 if any
check misbehaves.
"""

from __future__ import annotations

import os
import shutil
import sys

import run


def main(argv: list[str]) -> int:
    sys.path[:0] = [run.ROOT, run.HERE]
    import procs
    import workloads
    names = argv or list(workloads.WORKLOADS)
    procs.adopt_orphans()
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run._environment(work)
    bad = 0
    bench = None
    try:
        for name in names:
            bench = run.Bench(name, 1, os.path.join(work, name))
            wl, _ = bench.setup(warmups=0)
            for call in wl.calls:
                bench.release()
                table = call.run(bench.spark).toArrow()
                clean = call.check(table)
                drops = sorted({0, table.num_rows // 2})
                print(f"{name:18s} {call.name:32s} rows={table.num_rows:<8d} "
                      f"clean: {'pass' if clean is None else 'FAIL ' + clean}")
                bad += clean is not None
                for r in drops:
                    cut = _drop_row(table, r)
                    why = call.check(cut)
                    print(f"{'':51s} drop row {r}: "
                          f"{'caught: ' + why if why else 'NOT CAUGHT'}")
                    bad += why is None
            bench.shutdown()
            bench = None
    finally:
        if bench is not None:
            bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("selftest", "passed" if bad == 0 else f"FAILED ({bad})")
    return 1 if bad else 0


def _drop_row(table, r: int):
    import pyarrow as pa
    return pa.concat_tables([table.slice(0, r), table.slice(r + 1)])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
