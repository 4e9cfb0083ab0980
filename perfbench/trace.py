"""Outside-in tracer for the traced run (``--trace 1``).

Nothing in the engine is instrumented. Spans come from three places the
benchmark owns:

- ``TracedKinesisClient`` wraps ``kinesis_sim.FakeKinesisClient``. The
  readers and the writer build it in every process that talks to the broker
  (driver, planner and executor Python workers) through the
  ``clientfactory`` option ``perfbench.trace:traced_client``. Each call
  appends one span line to a file of its own under the run's trace dir;
  ``Tracer.spans`` merges the files at the end. A span line is written as
  the call returns, because Spark may kill a Python worker without running
  its exit hooks.
- ``ProgressLog``, a ``StreamingQueryListener``, keeps every microbatch's
  ``durationMs`` phases, input rows and state rows.
- the analytics workload puts each query's ``fn()`` and its execution under
  their own job group and counts the jobs with the status tracker.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import datetime

from pyspark.sql.streaming.listener import StreamingQueryListener


class TracedKinesisClient:
    """FakeKinesisClient with a span per data-plane call. Spans carry the
    API name, start and end (epoch seconds), pid, the streaming query id
    when the call runs inside a task, and the records moved."""

    def __init__(self, inner, tracedir: str):
        self._inner = inner
        self._path = os.path.join(tracedir, f"spans-{os.getpid()}-{uuid.uuid4().hex[:8]}.jsonl")
        self._file = None
        self._query = None
        try:
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None:
                self._query = tc.getLocalProperty("sql.streaming.queryId")
        except ImportError:
            pass

    def __getattr__(self, name):
        return getattr(self._inner, name)  # admin calls stay untraced

    def _span(self, name: str, fn, kwargs: dict, count):
        t0 = time.time()
        resp = None
        try:
            resp = fn(**kwargs)
            return resp
        finally:
            t1 = time.time()
            if self._file is None:
                self._file = open(self._path, "a", buffering=1)
            self._file.write(json.dumps({
                "n": name, "t0": t0, "t1": t1, "pid": os.getpid(), "q": self._query,
                "r": count(resp, kwargs) if resp is not None else None,
            }) + "\n")

    def get_records(self, **kwargs):
        return self._span("get_records", self._inner.get_records, kwargs,
                          lambda r, kw: len(r["Records"]))

    def put_records(self, **kwargs):
        return self._span("put_records", self._inner.put_records, kwargs,
                          lambda r, kw: len(kw["Records"]))

    def get_shard_iterator(self, **kwargs):
        return self._span("get_shard_iterator", self._inner.get_shard_iterator, kwargs,
                          lambda r, kw: None)

    def describe_stream(self, **kwargs):
        # only sources.kinesis.list_shards pages DescribeStream on these paths
        return self._span("list_shards", self._inner.describe_stream, kwargs,
                          lambda r, kw: len(r["StreamDescription"]["Shards"]))


def traced_client(options: dict) -> TracedKinesisClient:
    """``clientfactory`` entry point: the simulator plus span recording."""
    from messikinesisprovider_spark.sources.kinesis_sim import FakeKinesisClient

    return TracedKinesisClient(FakeKinesisClient(options["statedir"]), options["tracedir"])


def epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Every microbatch's progress, kept in memory."""

    def __init__(self):
        self.rows: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 (Spark API names)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        start = epoch_s(p.timestamp)
        ms = {k: float(v) for k, v in dict(p.durationMs).items()}
        self.rows.append({
            "query": str(p.id),
            "batch": int(p.batchId),
            "start": start,
            "end": start + ms.get("triggerExecution", 0.0) / 1000.0,
            "rows": int(p.numInputRows),
            "ms": ms,
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
        })

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Tracer:
    def __init__(self, root: str):
        self.dir = os.path.join(root, "trace")
        os.makedirs(self.dir, exist_ok=True)
        self.progress = ProgressLog()

    def attach(self, spark) -> None:
        """Register the listener on a (re)started session."""
        spark.streams.addListener(self.progress)

    def spans(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            with open(os.path.join(self.dir, name)) as f:
                for line in f:
                    if line.endswith("\n"):  # a torn last line is dropped
                        out.append(json.loads(line))
        return out

    def batches(self, lo: float, hi: float) -> list[dict]:
        """Microbatches with input rows that started inside [lo, hi)."""
        return [b for b in self.progress.rows if lo <= b["start"] < hi and b["rows"] > 0]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of (t0, t1) intervals, clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for t0, t1 in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if t1 <= max(t0, end):
            continue  # empty after clipping, or already covered
        total += t1 - max(t0, end)
        end = t1
    return total


BROKER_METRICS = {
    "kinesis_sim.get_records.calls": "count",
    "kinesis_sim.get_records.busy_ms": "ms",
    "kinesis_sim.get_records.empty_frac": "fraction",
    "kinesis_sim.get_records.records_per_call": "count",
    "kinesis_sim.put_records.calls": "count",
    "kinesis_sim.put_records.busy_ms": "ms",
    "kinesis_sim.get_shard_iterator.calls": "count",
    "kinesis_sim.list_shards.calls": "count",
    "kinesis_sim.list_shards.busy_ms": "ms",
}


def broker_summary(spans: list[dict]) -> dict:
    """The kinesis_sim.* per-layer metrics over a set of spans."""
    by = {}
    for s in spans:
        by.setdefault(s["n"], []).append(s)
    gr = by.get("get_records", [])
    done = [s for s in gr if s["r"] is not None]

    def busy(name):
        return 1000.0 * sum(s["t1"] - s["t0"] for s in by.get(name, []))

    return {
        "kinesis_sim.get_records.calls": len(gr),
        "kinesis_sim.get_records.busy_ms": busy("get_records"),
        "kinesis_sim.get_records.empty_frac": (
            sum(1 for s in done if s["r"] == 0) / len(done) if done else 0.0
        ),
        "kinesis_sim.get_records.records_per_call": (
            sum(s["r"] for s in done) / len(done) if done else 0.0
        ),
        "kinesis_sim.put_records.calls": len(by.get("put_records", [])),
        "kinesis_sim.put_records.busy_ms": busy("put_records"),
        "kinesis_sim.get_shard_iterator.calls": len(by.get("get_shard_iterator", [])),
        "kinesis_sim.list_shards.calls": len(by.get("list_shards", [])),
        "kinesis_sim.list_shards.busy_ms": busy("list_shards"),
    }


MICROBATCH_PHASES = (
    "latestOffset", "addBatch", "walCommit", "commitOffsets", "queryPlanning", "triggerExecution",
)


def microbatch_summary(batches: list[dict]) -> dict:
    """microbatch.* per-layer metrics: a count, then per-batch medians."""
    from perfbench.common import median

    out = {"microbatch.count": len(batches)}
    out["microbatch.rows_p50"] = median([b["rows"] for b in batches]) if batches else 0
    for phase in MICROBATCH_PHASES:
        vals = [b["ms"].get(phase, 0.0) for b in batches]
        out[f"microbatch.{phase}_ms"] = median(vals) if vals else 0.0
    out["microbatch.state_rows"] = median([b["state_rows"] for b in batches]) if batches else 0
    return out
