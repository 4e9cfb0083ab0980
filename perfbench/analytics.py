"""analytics: closed-loop batch queries and MessiLog-backed topologies.

One query at a time over the checked-in fixture tables
(``perfbench/fixtures/sf0.01``, a copy of the synthetic sf0.01 tables),
each forced end to end through the ``noop`` sink as ``bench.py`` does. The
set mixes ROADMAP targets, light batch queries from ``bench.HEADLINE``
(fixed-cost signal) and a stateful streaming topology that stages the events
table into a MessiLog and drains it. Planning, eager builder jobs inside
``fn()``, shuffles, the state store and MessiLog staging do the work here;
the Kinesis layers sit idle.

Warm passes at sf0.001 and sf0.01 run first; the measured passes follow
until the run's seconds are spent (at least two), with the cache cleared
between passes. Each query's row
count (taken with an ``Observation`` on the written frame) must equal the
golden count in ``golden_rows.json``.
"""

from __future__ import annotations

import json
import os
import time

from perfbench.common import median, percentile, timed_setups

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
WARM_FIXTURE = os.path.join(HERE, "fixtures", "sf0.001")  # bench.py's warm-up scale
GOLDEN = os.path.join(HERE, "golden_rows.json")

TARGETS = [  # ROADMAP optimisation target (dedup family)
    "dedup_minhash_lsh",
]
LIGHT = [  # batch entries of bench.HEADLINE that run in well under a second
    "flagship_events_last_day",
    "tz_local_activity",
]
TOPOLOGIES = [
    "streaming_dedup_within_watermark",
]
QUERIES = TARGETS + LIGHT + TOPOLOGIES
MIN_PASSES = 2


def run_query(spark, spec, group: str | None, sf_dir: str = FIXTURE) -> tuple[float, float, int, int, int]:
    """(build s, exec s, rows, build jobs, exec jobs) of one query."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    if group:
        sc.setJobGroup(f"{group}/build", spec.name)
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    t1 = time.perf_counter()
    if group:
        sc.setJobGroup(f"{group}/exec", spec.name)
    obs = Observation(f"rows_{spec.name}")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    rows = int(obs.get["n"])
    jobs = (0, 0)
    if group:
        tracker = sc.statusTracker()
        jobs = tuple(len(tracker.getJobIdsForGroup(f"{group}/{leg}")) for leg in ("build", "exec"))
    return t1 - t0, t2 - t1, rows, jobs[0], jobs[1]


def run(ctx) -> dict:
    from messikinesisprovider_spark.registry import all_specs

    with open(GOLDEN) as f:
        golden = json.load(f)

    def prepare(spark, i):
        specs = all_specs()
        spark.range(1).count()  # the first job of the context
        return specs

    spark, specs, setup_times = timed_setups(ctx, prepare, lambda state: None)
    trace = ctx.tracer is not None
    events_rows = spark.read.parquet(os.path.join(FIXTURE, "events.parquet")).count()

    attempted = failed = 0
    mismatched: list[str] = []

    def one_pass(p: int) -> dict:
        nonlocal attempted, failed
        spark.catalog.clearCache()
        out = {}
        for name in QUERIES:
            res = run_query(spark, specs[name], f"perfbench/{p}/{name}" if trace else None)
            out[name] = res
            attempted += 1
            if res[2] != golden.get(name):
                failed += 1
                mismatched.append(f"{name}: {res[2]} rows, golden {golden.get(name)}")
        return out

    # warm passes, untimed and unchecked: after one at bench.py's warm-up
    # scale alone, measured passes still fell 10.2 -> 8.5 -> 7.1 s
    for sf_dir in (WARM_FIXTURE, FIXTURE):
        for name in QUERIES:
            run_query(spark, specs[name], None, sf_dir)
    passes = []
    t_window = time.time()
    while len(passes) < MIN_PASSES or time.time() - t_window < ctx.seconds:
        passes.append(one_pass(len(passes)))
    t_window_end = time.time()

    # latency over the batch queries; the topology has its own rate
    query_ms = [1000.0 * (p[n][0] + p[n][1]) for p in passes for n in TARGETS + LIGHT]
    pass_s = [sum(r[0] + r[1] for r in p.values()) for p in passes]
    topo_s = [sum(p[n][0] + p[n][1] for n in TOPOLOGIES) for p in passes]
    batch_s = [a - b for a, b in zip(pass_s, topo_s)]
    e2e = {
        "setup_s": median(setup_times),
        "mean_ms": sum(query_ms) / len(query_ms),
        "p90_ms": percentile(query_ms, 90),
        "rate_rps": events_rows * len(TOPOLOGIES) / median(topo_s),
        "work_s": median(pass_s),
    }
    detail = {
        "workload": "analytics",
        "passes": len(passes),
        "pass_s": pass_s,
        "queries": len(QUERIES),
        "batch_s": median(batch_s),
        "topology_s": median(topo_s),
        "query_s": {n: median([p[n][0] + p[n][1] for p in passes]) for n in QUERIES},
        "query_s_by_pass": [[p[n][0] + p[n][1] for n in QUERIES] for p in passes],
        "mismatched": mismatched,
        "setup_s_each": setup_times,
    }
    layers = {}
    if trace:
        layers = _layers(ctx, passes, setup_times, t_window, t_window_end)
    spark.stop()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "detail": detail,
        "layers": layers,
    }


def _layers(ctx, passes, setup_times, lo, hi) -> dict:
    from perfbench.trace import microbatch_summary

    time.sleep(1.0)  # let the listener bus deliver the last progress events
    out = {
        "session.start_s": setup_times[0],
        "operators.build_s": median([sum(r[0] for r in p.values()) for p in passes]),
        "operators.exec_s": median([sum(r[1] for r in p.values()) for p in passes]),
        "operators.build_jobs": median([sum(r[3] for r in p.values()) for p in passes]),
        "operators.jobs": median([sum(r[3] + r[4] for r in p.values()) for p in passes]),
    }
    for name in QUERIES:
        out[f"query.{name}.build_s"] = median([p[name][0] for p in passes])
        out[f"query.{name}.exec_s"] = median([p[name][1] for p in passes])
    out.update(microbatch_summary(ctx.tracer.batches(lo, hi)))
    return out
