"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Logs go to stderr;
the last line of stdout is the JSON result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json,
or with ``--trace 1`` its per-layer metrics). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    "blog_top_tcp": "wl_blog",
    "always_on_top_tcp": "wl_always_on",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    import common as C

    if not os.path.isfile(os.path.join(C.REPO, "ramen_spark", "__init__.py")):
        print(f"no engine to measure: {C.REPO}/ramen_spark is missing",
              file=sys.stderr)
        return 2
    C.pin_deployment()
    wl = importlib.import_module(WORKLOADS[a.workload])
    run = C.Run(a.workload, a.seed, a.seconds, bool(a.trace))
    correct, attempted, failed, values = wl.run(run)
    C.emit(correct, attempted, failed, values, run.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
