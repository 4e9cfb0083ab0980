"""Child process of run.py: runs one workload and writes its result file.

Not meant to be started by hand; ``run.py`` sets up the per-run root, the
environment and the working directory this process relies on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import E2E_UNITS, Ctx, tmp_dirs_left  # noqa: E402


def per_layer_units() -> dict:
    """Every per-layer metric, in BENCHMARK.json order. A layer a workload
    does not load reports 0 there."""
    from perfbench.analytics import QUERIES
    from perfbench.trace import BROKER_METRICS, MICROBATCH_PHASES

    units = {"session.start_s": "s", "loadgen.late_p99_ms": "ms"}
    units.update(BROKER_METRICS)
    units.update({"microbatch.count": "count", "microbatch.rows_p50": "count"})
    units.update({f"microbatch.{p}_ms": "ms" for p in MICROBATCH_PHASES})
    units.update({
        "microbatch.state_rows": "count",
        "kinesis_source.self_ms": "ms",
        "kinesis_partitioned.self_ms": "ms",
        "kinesis_writer.save_s": "s",
        "kinesis_writer.self_s": "s",
        "kinesis.seek.get_records_per_seek": "count",
        "kinesis.seek.records_read_per_seek": "count",
        "operators.build_s": "s",
        "operators.build_jobs": "count",
        "operators.exec_s": "s",
        "operators.jobs": "count",
        "operators.tmp_dirs_left": "count",
    })
    for name in QUERIES:
        units[f"query.{name}.build_s"] = "s"
        units[f"query.{name}.exec_s"] = "s"
    units["host.loadavg_1m"] = "load"
    units.update({f"traced.{k}": u for k, u in E2E_UNITS.items()})
    return units


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(args.root)
    ctx = Ctx(root=args.root, seed=args.seed, seconds=args.seconds, tracer=tracer)
    if args.workload == "tail":
        from perfbench import tail as workload
    elif args.workload == "replay":
        from perfbench import replay as workload
    else:
        from perfbench import analytics as workload
    res = workload.run(ctx)

    e2e = res["e2e"]
    detail = res["detail"]
    detail["tmp_dirs_left"] = tmp_dirs_left(ctx)
    missing = [k for k in E2E_UNITS if not e2e.get(k, 0) > 0]
    if missing:  # every end-to-end metric must be measured and non-zero
        detail["unmeasured"] = missing
        res["correct"] = False
    if args.trace:
        layers = dict.fromkeys(per_layer_units(), 0)
        layers.update(res["layers"])
        layers["operators.tmp_dirs_left"] = detail["tmp_dirs_left"]
        layers["host.loadavg_1m"] = os.getloadavg()[0]
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        units = per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items() if k in e2e}
    with open(args.out, "w") as f:
        json.dump({
            "correct": res["correct"] and res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
            "detail": detail,
        }, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
