#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (one Spark session, ~2 min).

    python3 perfbench/selftest.py

Checks that
  * every workload emits exactly the end-to-end metrics (``--trace 0``) and
    the per-layer metrics (``--trace 1``) that BENCHMARK.json names, with
    the units it names, and passes its output checks;
  * corrupting one decoded value, or dropping one committed block file,
    fails the output check and pushes the failed-op share above 0.
Exits 1 on the first violated expectation.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys

import run

N_CONV = 400
SECONDS = 1.0


def expect(ok: bool, what: str) -> None:
    if not ok:
        print(f"SELFTEST FAILED: {what}")
        sys.exit(1)
    print(f"ok  {what}")


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        False: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        True: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    expect(sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS),
           "BENCHMARK.json lists exactly the workloads run.py implements")

    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    try:
        spark = run.start_session(run.configure_process(work))
        try:
            for name in sorted(run.WORKLOADS):
                for trace in (False, True):
                    res = run.run(spark, name, 7, SECONDS, trace, work, n_conv=N_CONV)
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    expect(got == want[trace],
                           f"{name} trace={int(trace)} emits every named metric with its unit"
                           + ("" if got == want[trace] else
                              f" (extra {sorted(got.items() - want[trace].items())},"
                              f" missing {sorted(want[trace].items() - got.items())})"))
                    expect(res["correct"] and res["failed"] == 0,
                           f"{name} trace={int(trace)} passes its output checks")
            faults = [("scan_lookup", "corrupt_value"), ("scan_lookup", "drop_block"),
                      ("bulk_encode", "drop_block")]
            for name, fault in faults:
                res = run.run(spark, name, 7, SECONDS, False, work, n_conv=N_CONV, fault=fault)
                frac = 1.0 - res["metrics"]["ops_ok_frac"]["value"]
                expect(not res["correct"] and res["failed"] > 0 and frac > 0,
                       f"{name} with {fault}: check fails, ops_failed_frac={frac:.3f}")
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(run.WORK_ROOT)  # only if no other run is using it
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
