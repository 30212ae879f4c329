"""Pin the fused_frontier output fingerprints for a range of seeds.

Usage (from the repository root):

    python3 perfbench/pin.py 0 20 20261017

writes ``pinned.json`` with the row count and fingerprints of the fused
pipeline's output for seeds 0..19 and the held-out seed 20261017, at the
size ``run.py`` measures. Re-pin only when an intended change alters the
pipeline's output, and say so with the change.
"""

from __future__ import annotations

import json
import os
import sys

import run  # sets up sys.path for the modules below

import host


def main(argv: list[str]) -> int:
    lo, hi, *extra = (int(a) for a in argv)
    host.pin_environment()
    import fused

    spark = run.start_session()
    run.warm_workers(spark)
    pinned = {}
    for seed in [*range(lo, hi), *extra]:
        fused.materialize_frontier(spark, run.FUSED_ROWS, seed)
        df, obs = fused.observed(fused.build(spark, run.FUSED_ROWS, seed))
        df.write.format("noop").mode("overwrite").save()
        got = obs.get
        errors = fused.check(got, fused.reference(spark, run.FUSED_ROWS, seed), None)
        if errors:
            print(f"seed {seed}: output check failed: {errors}", file=sys.stderr)
            return 1
        pinned[f"{run.FUSED_ROWS}:{seed}"] = {"rows": got["rows"], "fp": got["fp"]}
        print(seed, pinned[f"{run.FUSED_ROWS}:{seed}"], flush=True)
    host.stop_spark(spark)
    with open(os.path.join(run.HERE, "pinned.json"), "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
