"""Benchmark command for the encode engine.

    python3 perfbench/run.py --workload corpus --seed 42 --seconds 8 --trace 0

Runs from the root of a source checkout, on ``local[<cores>]``, and prints
one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a traced
run. Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's (the smoke test uses a tiny one)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "engine")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        from perfbench.harness import run_workload

        result = run_workload(
            WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
            workdir, args.scale,
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
