"""Shared pieces of the workloads: session start, repeated set-up, stats.

Nothing here starts Spark at import time: ``run.py`` imports this module in
the parent process, which never touches Spark.
"""

from __future__ import annotations

import os
import tempfile
import time
from dataclasses import dataclass

WORKLOADS = ("tail", "replay", "analytics")

# Spark runs local[CPUS] whatever the host's core count, so figures from a
# 4-core and a 32-core box measure the same plan shapes (shuffle partitions
# follow the core count in session.get_spark).
CPUS = 4
# A fixed, pre-touched driver heap: lazily committed heap regions made
# peak_rss_mb read 1143-1507 MB on identical replay runs; pre-touched, the
# heap's share is constant and the metric moves with native memory and the
# Python processes.
DRIVER_MEM = "1g"
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
# set-up is repeated this many times per run and its median reported; the
# first repetition also launches the JVM
SETUP_REPS = 3

# End-to-end metrics: every workload reports every one (see README.md for
# what each means on each workload). peak_rss_mb is added by run.py.
E2E_UNITS = {
    "setup_s": "s",
    "mean_ms": "ms",
    "p90_ms": "ms",
    "rate_rps": "1/s",
    "work_s": "s",
}

SIM_FACTORY = "messikinesisprovider_spark.sources.kinesis_sim:client_from_options"
TRACED_FACTORY = "perfbench.trace:traced_client"


@dataclass
class Ctx:
    """One run: where it may write, its seed and length, and its tracer."""

    root: str
    seed: int
    seconds: float
    tracer: object | None  # perfbench.trace.Tracer when --trace 1
    tmp_after_setup: frozenset = frozenset()  # TMPDIR entries Spark itself made

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, "work", *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def kinesis_options(self, statedir: str, stream: str) -> dict:
        """Reader/writer options for the file-backed broker; the traced run
        swaps in the benchmark's span-recording client factory."""
        opts = {"streamname": stream, "statedir": statedir, "clientfactory": SIM_FACTORY}
        if self.tracer is not None:
            opts.update(clientfactory=TRACED_FACTORY, tracedir=self.tracer.dir)
        return opts

    def kinesis_client(self, statedir: str):
        from messikinesisprovider_spark.sources.kinesis_sim import FakeKinesisClient

        client = FakeKinesisClient(statedir)
        if self.tracer is not None:
            from perfbench.trace import TracedKinesisClient

            client = TracedKinesisClient(client, self.tracer.dir)
        return client


def start_session(ctx: Ctx):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{DRIVER_JAVA_OPTIONS}" pyspark-shell'

    from messikinesisprovider_spark.session import get_spark
    from messikinesisprovider_spark.sources import kinesis_source

    spark = get_spark("perfbench", cpus=CPUS)
    kinesis_source.register(spark)
    if ctx.tracer is not None:
        ctx.tracer.attach(spark)
    return spark


def timed_setups(ctx: Ctx, prepare, release):
    """Start a fresh SparkContext and run ``prepare(spark, i)``, SETUP_REPS
    times; every repetition but the last is released with ``release(state)``
    and its context stopped. Returns (spark, state, seconds per repetition)."""
    spark = state = None
    times = []
    for i in range(SETUP_REPS):
        if spark is not None:
            release(state)
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(ctx)
        state = prepare(spark, i)
        times.append(time.perf_counter() - t0)
    ctx.tmp_after_setup = frozenset(os.listdir(tempfile.gettempdir()))
    return spark, state, times


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def tmp_dirs_left(ctx: Ctx) -> int:
    """Entries the workload left in TMPDIR after set-up (temp dirs the
    engine made and did not remove)."""
    return len(set(os.listdir(tempfile.gettempdir())) - ctx.tmp_after_setup)
