"""Regenerate reference_counts.json: per-zoom (tiles, features) of every
input variant of the workloads checked against a reference file.

    python3 perfbench/make_reference.py [workload ...]

Run from the repository root, at a commit whose output is known good.
Only rerun it when a change is meant to alter which tiles exist or how
many features they hold, and say so in the change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main(argv: list) -> int:
    names = argv or ["osm_city"]
    sys.path.insert(0, run.ROOT)
    nproc = len(os.sched_getaffinity(0))
    master, tmp = run._configure_env(nproc)
    from tilemaker_spark.plans.pipeline import TilePipeline
    from tilemaker_spark.session import get_spark

    spark = get_spark("perfbench-reference", master=master,
                      shuffle_partitions=2 * nproc)
    spark.sparkContext.setLogLevel("ERROR")
    ref = checks.load_reference()
    work = os.path.join(run.STATE, "work", f"reference-{os.getpid()}")
    try:
        for name in names:
            cfg = workloads.config_for(name)
            for v in range(workloads.REFERENCE_VARIANTS):
                inputs = workloads.make_inputs(spark, name, v,
                                               os.path.join(work, "inputs"))
                pipe = TilePipeline(spark, cfg, workdir=os.path.join(work, "b"))
                stats = checks.per_zoom(pipe.run(**inputs, force=True))
                ref.setdefault(name, {})[str(v)] = {
                    str(z): [n, f] for z, (n, f, _b) in sorted(stats.items())}
                print(name, v, sum(n for n, _f, _b in stats.values()),
                      "tiles", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    with open(checks.REFERENCE_FILE, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
