"""The benchmark command.

    python3 perfbench/run.py --workload {feed_etl,catalog_mix} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds the workload's inputs from the
seed, sets up, measures for about ``--seconds`` (always whole
operations: four-load feed cycles or catalog passes),
checks the program's outputs, and prints one JSON line as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a separate traced run and
writes its spans to ``.bench_out/``. Exits non-zero when a check
fails, and without a result line when the run cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("feed_etl", "catalog_mix")

E2E_UNITS = {"setup_s": "s", "retained_mem_mb": "MB", "op_p50_s": "s",
             "op_geomean_s": "s", "rows_per_s": "1/s"}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, CHECKOUT]
    try:
        import importlib

        import layers
        from harness import Run

        module = importlib.import_module(args.workload)
        with Run(CHECKOUT, args.workload, args.seed, args.seconds, bool(args.trace)) as run:
            out = module.run_workload(run)
            run.stop_session()
    except Exception:  # no result line: the run could not complete
        traceback.print_exc()
        return 2
    for problem in out.problems:
        print(f"check failed: {problem}", file=sys.stderr)
    if args.trace:
        out.layers["session.start_s"] = run.session_s
        metrics = {k: {"value": out.layers[k], "unit": u} for k, u in layers.METRICS.items()}
        os.makedirs(os.path.join(CHECKOUT, ".bench_out"), exist_ok=True)
        with open(os.path.join(CHECKOUT, ".bench_out", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": out.layers,
                       "e2e_traced": out.e2e, "spans": run.trace_dump}, f)
    else:
        metrics = {k: {"value": out.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
