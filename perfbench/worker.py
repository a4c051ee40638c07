"""Child process of ``run.py``: runs one workload and writes its result.

Each workload module exposes ``run(args) -> WorkloadResult``. The worker
checks that the workload reported every end-to-end metric of
BENCHMARK.json, and fills the per-layer metrics a workload does not reach
(a layer it never calls) with 0.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

from perfbench.harness import HERE, WorkloadResult, declared_metrics


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    e2e_units, layer_units = declared_metrics()
    mod = importlib.import_module(f"perfbench.{args.workload}")
    res: WorkloadResult = mod.run(args)

    missing = sorted(set(e2e_units) - set(res.end_to_end))
    if missing:
        raise RuntimeError(f"{args.workload} did not report {missing}")
    unknown = sorted(set(res.per_layer) - set(layer_units))
    if unknown:
        raise RuntimeError(f"{args.workload} reported undeclared metrics {unknown}")
    if args.trace:
        chosen = {n: (res.per_layer.get(n, 0.0), u) for n, u in layer_units.items()}
    else:
        chosen = {n: (res.end_to_end[n], u) for n, u in e2e_units.items()}
    result = {
        "correct": res.failed == 0,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in chosen.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "context": res.context,
        "failures": res.failures, "end_to_end": res.end_to_end,
        "per_layer": res.per_layer, "spans": res.spans,
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("# context " + json.dumps(res.context), file=sys.stderr)
    units = {**e2e_units, **layer_units}
    figures = {**res.per_layer, **res.end_to_end}
    print("# figures " + ", ".join(
        f"{n}={figures[n]:.6g} {units[n]}" for n in units if n in figures
    ), file=sys.stderr)
    for failure in res.failures[:20]:
        print(f"# FAIL {failure}", file=sys.stderr)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
