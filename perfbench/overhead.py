"""Tracing overhead: the traced-vs-untraced difference per end-to-end metric.

    python3 perfbench/overhead.py --workload tail --seed 1 [--seconds 6] [--runs 1]

Runs ``run.py`` untraced and traced on the same seed, alternating, and
prints one JSON line: for each end-to-end metric the untraced median, the
traced median (the traced run reports it as ``traced.<metric>``) and their
relative difference. peak_rss_mb is untraced only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for i in range(args.runs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            metrics = _run(args.workload, args.seed + i, args.seconds, trace)
            for name, m in metrics.items():
                if trace == 0:
                    plain.setdefault(name, []).append(m["value"])
                elif name.startswith("traced."):
                    traced.setdefault(name[len("traced."):], []).append(m["value"])
    report = {}
    for name, vals in plain.items():
        if name not in traced:
            continue
        a, b = statistics.median(vals), statistics.median(traced[name])
        report[name] = {"untraced": a, "traced": b, "overhead": (b - a) / a if a else None}
    print(json.dumps({"workload": args.workload, "runs": args.runs, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
