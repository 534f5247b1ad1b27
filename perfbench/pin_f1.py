#!/usr/bin/env python3
"""Pin the er_batch pair F1 (tp, fp, fn) per seed into pinned_f1.json.

er_batch's correctness check requires a run's pair F1 counts to equal the
pinned counts of its seed.  Re-pin only when a change to the program is
meant to change clustering results, and say so in that change.

Usage, from the root of a checkout:

    python3 perfbench/pin_f1.py --seeds 0-63
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-63")
    args = ap.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))

    import run

    run_dir = os.path.join(run.WORK_ROOT, "runs", f"pin-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run.isolate(run_dir)
    import tracer as tr
    import workloads
    from levsim.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench-pin", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    pins = {}
    try:
        for seed in range(lo, hi + 1):
            w = workloads.ERBatch(spark, seed, run_dir, cores, tr.Tracer(spark, "pin"))
            w.load(0)
            w.prepare()
            w.round()
            pins[str(seed)] = w.pair_f1_counts()
            print(seed, pins[str(seed)], f"f1 {w.f1:.6f}", flush=True)
            w.scrub()
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    rows = ",\n".join(f'  "{k}": {json.dumps(v)}' for k, v in pins.items())
    with open(workloads.PINNED_F1, "w") as f:
        f.write(f'{{\n "entities": {workloads.ERBatch.entities},\n'
                f' "pages": {workloads.ERBatch.pages},\n "seeds": {{\n{rows}\n }}\n}}\n')
    return 0


if __name__ == "__main__":
    sys.exit(main())
