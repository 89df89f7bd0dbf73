#!/usr/bin/env python3
"""Record each seed's removed-row count and digest into expected.json.

    python3 perfbench/record_expected.py --workload fuzzy_ref --seeds 0-31

Run from the repository root, on the commit whose outputs are the reference.
One Spark session; per seed it generates the workload's input, runs the
workload once and stores ``[removed rows, digest]`` under the workload's
name and input size. ``run.py`` then fails any run whose removed set
differs from the recorded one for its seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main(argv=None) -> int:
    sys.path[:0] = [run.HERE, run.ROOT]
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = p.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    wl = WORKLOADS[args.workload]
    path = os.path.join(run.HERE, "expected.json")
    with open(path) as f:
        rec = json.load(f).get(wl.name, {})
    if rec.get("rows") != wl.rows:
        rec = {"rows": wl.rows, "seeds": {}}
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    b = run.Bench(wl, lo, work)
    try:
        b.spark = run.start_session(run.isolated_env(work))
        for seed in range(lo, hi + 1):
            src = b.path(f"input{seed}")
            wl.generate(b.spark, wl.rows, seed, run.cores()).write.parquet(src)
            b.df = b.spark.read.parquet(src)
            ckpt, out = b.new_run()
            wl.execute(wl.pipeline(b.spark, ckpt), b.df, out)
            rec["seeds"][str(seed)] = list(b.check(out))
            run.log(f"seed={seed} removed,digest={rec['seeds'][str(seed)]}")
            for p in (src, ckpt, out):
                shutil.rmtree(p)
    finally:
        run.stop_spark(b.spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(path) as f:  # re-read: another workload may have been recorded meanwhile
        expected = json.load(f)
    expected[wl.name] = rec
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
