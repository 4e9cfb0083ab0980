"""tail: open-loop delivery latency at the shard tip.

One generator thread in this process sends 1000 records/s on a fixed 20 ms
schedule into an 8-shard ``kinesis_sim`` stream (``put_records``, one call
of 20 records per tick). Each record is a ~200 B ``wire.encode_message``
envelope whose ``timestamp_ms`` and ULID time are its *due* time; keys are
drawn uniformly from 10k with the run's seed.

One ``readStream.format("kinesismessi")`` query reads it with default reader
options (no ``metadatadir``: the driver-side simple reader), the
``REFERENCE_POLICY`` poll settings and its 1 s ``processingTime`` trigger. A
``foreachBatch`` sink collects each batch and stamps the emission time.

Latency is emission minus due time, per record, over the records due in
the measured window; the warm-up traffic before it is excluded. Every
record due in the window must be delivered exactly once, in strictly
increasing sequence order per shard, before the drain deadline.
"""

from __future__ import annotations

import random
import threading
import time

from perfbench.common import median, percentile, timed_setups

RATE = 1000  # records/s
TICK_S = 0.02
PER_TICK = int(RATE * TICK_S)
SHARDS = 8
KEYS = 10_000
PAYLOAD_BYTES = 140  # envelope ~200 B
WARMUP_S = 6.0
DRAIN_S = 15.0  # deadline after the window for its last records
STREAM = "tail"


def _record(rng: random.Random, ext_id: str, due_ms: int) -> dict:
    from messikinesisprovider_spark import wire
    from messikinesisprovider_spark.ulid import Ulid

    key = f"k{rng.randrange(KEYS):05d}"
    u = Ulid.of(due_ms, rng.getrandbits(80))
    payload = wire.encode_message({
        "ulid_msb": u.msb,
        "ulid_lsb": u.lsb,
        "partition_key": key,
        "external_id": ext_id,
        "timestamp_ms": due_ms,
        "data": {"p": rng.randbytes(PAYLOAD_BYTES)},
    })
    return {"PartitionKey": key, "Data": payload}


class _Sink:
    """foreachBatch target: keeps (emission time, rows) per batch."""

    def __init__(self):
        self.batches: list[tuple[float, list[tuple[str, str, int]]]] = []
        self.rows = 0

    def __call__(self, df, batch_id):
        rows = [
            (r.external_id, r.shard_id, int(r.sequence_number))
            for r in df.select("external_id", "shard_id", "sequence_number").collect()
        ]
        self.batches.append((time.time(), rows))
        self.rows += len(rows)


def _by_quarter(lat_idx, lo: int, hi: int) -> list[float]:
    """p50 latency (ms) of each quarter of the window: the in-run drift."""
    width = (hi - lo) / 4
    return [
        1000.0 * median([x for i, x in lat_idx if lo + k * width <= i < lo + (k + 1) * width] or [0])
        for k in range(4)
    ]


def run(ctx) -> dict:
    from messikinesisprovider_spark.streaming.policy import REFERENCE_POLICY

    from perfbench.trace import epoch_s

    def prepare(spark, i):
        statedir = ctx.path(f"setup{i}", "broker")
        client = ctx.kinesis_client(statedir)
        client.create_stream(StreamName=STREAM, ShardCount=SHARDS)
        spark.range(1).count()  # the first job of the context
        return statedir, client

    spark, (statedir, client), setup_times = timed_setups(ctx, prepare, lambda state: None)

    # -- warm-up: start the query, then run the same traffic before the window
    sink = _Sink()
    q = (
        spark.readStream.format("kinesismessi")
        .options(**ctx.kinesis_options(statedir, STREAM))
        .options(**REFERENCE_POLICY.source_options())
        .option("pollintervalms", str(REFERENCE_POLICY.poll_interval_ms))
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ctx.path("checkpoint"))
        .trigger(**REFERENCE_POLICY.trigger())
        .start()
    )

    # -- open-loop load -----------------------------------------------------
    rng = random.Random(ctx.seed)
    k_window = int(round(WARMUP_S / TICK_S))
    k_end = k_window + int(round(ctx.seconds / TICK_S))
    t_start = time.time() + 0.05
    lateness: list[float] = []  # per tick in the window, seconds

    def generate():
        for k in range(k_end):
            due = t_start + k * TICK_S
            now = time.time()
            if now < due:
                time.sleep(due - now)
            due_ms = int(round(due * 1000))
            recs = [_record(rng, str(k * PER_TICK + j), due_ms) for j in range(PER_TICK)]
            if k >= k_window:
                lateness.append(time.time() - due)
            client.put_records(StreamName=STREAM, Records=recs)

    gen = threading.Thread(target=generate, name="loadgen")
    gen.start()
    gen.join()
    window_lo, window_hi = k_window * PER_TICK, k_end * PER_TICK
    t_window = t_start + k_window * TICK_S
    t_window_end = t_start + k_end * TICK_S
    deadline = t_window_end + DRAIN_S

    def delivered_in_window() -> int:
        return sum(
            1 for _, rows in list(sink.batches) for ext, _, _ in rows
            if ext.isdigit() and window_lo <= int(ext) < window_hi
        )

    while time.time() < deadline and delivered_in_window() < window_hi - window_lo:
        time.sleep(0.2)
    q.stop()
    progress = q.recentProgress  # the engine's own progress (dicts)

    # -- output checks --------------------------------------------------------
    seen: dict[int, int] = {}
    latency_s: list[float] = []
    lat_idx: list[tuple[int, float]] = []
    last_seq: dict[str, int] = {}
    out_of_order = 0
    batches_in_window = 0
    last_emit = t_window
    for emitted, rows in sink.batches:
        in_window = False
        for ext, shard, seq in rows:
            if seq <= last_seq.get(shard, -1):
                out_of_order += 1
            last_seq[shard] = seq
            if not ext.isdigit() or not window_lo <= int(ext) < window_hi:
                continue
            idx = int(ext)
            seen[idx] = seen.get(idx, 0) + 1
            if seen[idx] == 1 and emitted <= deadline:
                latency_s.append(emitted - (t_start + (idx // PER_TICK) * TICK_S))
                lat_idx.append((idx, latency_s[-1]))
                last_emit = max(last_emit, emitted)
            in_window = True
        batches_in_window += in_window
    attempted = window_hi - window_lo
    once = sum(1 for n in seen.values() if n == 1)
    failed = attempted - once + out_of_order
    lat_ms = [1000.0 * x for x in latency_s]

    window_batches = [
        p for p in progress
        if t_window <= epoch_s(p["timestamp"]) < t_window_end and p["numInputRows"] > 0
    ]
    e2e = {
        "setup_s": median(setup_times),
        "mean_ms": sum(lat_ms) / len(lat_ms) if lat_ms else 0.0,
        "p90_ms": percentile(lat_ms, 90) if lat_ms else 0.0,
        "rate_rps": len(lat_ms) / (last_emit - t_window) if last_emit > t_window else 0.0,
        "work_s": median([p["durationMs"]["triggerExecution"] / 1000.0 for p in window_batches])
        if window_batches else 0.0,
    }
    detail = {
        "workload": "tail",
        "tail_mean_ms": e2e["mean_ms"],
        "tail_p50_ms": percentile(lat_ms, 50) if lat_ms else None,
        "tail_p99_ms": percentile(lat_ms, 99) if lat_ms else None,
        "tail_delivered_rps": e2e["rate_rps"],
        "records": len(lat_ms),
        "microbatches": batches_in_window,
        "p50_ms_by_quarter": _by_quarter(lat_idx, window_lo, window_hi),
        "duplicates": sum(1 for n in seen.values() if n > 1),
        "out_of_order": out_of_order,
        "loadgen_late_p99_ms": 1000.0 * percentile(lateness, 99) if lateness else None,
        "setup_s_each": setup_times,
    }
    layers = {}
    if ctx.tracer is not None:
        layers = _layers(ctx, setup_times, lateness, t_window, t_window_end)
    spark.stop()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "detail": detail,
        "layers": layers,
    }


def _layers(ctx, setup_times, lateness, lo, hi) -> dict:
    import os

    from perfbench.trace import broker_summary, covered, microbatch_summary

    time.sleep(1.0)  # let the listener bus deliver the last progress events
    spans = [s for s in ctx.tracer.spans() if lo <= s["t0"] < hi]
    batches = ctx.tracer.batches(lo, hi)
    me = os.getpid()
    engine = [(s["t0"], s["t1"]) for s in spans if s["pid"] != me]
    self_ms = [
        b["ms"].get("latestOffset", 0.0)
        - 1000.0 * covered(engine, b["start"], b["start"] + b["ms"].get("latestOffset", 0.0) / 1000)
        for b in batches
    ]
    out = {
        "session.start_s": setup_times[0],
        "loadgen.late_p99_ms": 1000.0 * percentile(lateness, 99) if lateness else 0.0,
        "kinesis_source.self_ms": median(self_ms) if self_ms else 0.0,
    }
    out.update(broker_summary(spans))
    out.update(microbatch_summary(batches))
    return out
