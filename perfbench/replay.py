"""replay: closed-loop bulk write, bulk read, checkpoint resume and seeks.

One client repeats four legs on a fresh 8-shard ``kinesis_sim`` stream:

1. publish a backlog of ~1 KB records through
   ``df.write.format("kinesismessi")``; the frame is encoded by
   ``wire.encode_column`` and published executor-side through
   ``streaming.sink.publish_with_retry``;
2. drain the backlog from TRIM_HORIZON with the executor-parallel reader
   (``metadatadir`` set) under ``availableNow``;
3. append a 10% delta and restart the query on the same checkpoint;
4. seek a ``sources.kinesis.KinesisShardConsumer`` with each of the six
   cursor types, AT_PROVIDER_SEQUENCE cursors round-tripped through
   ``checkpoint()``/``from_checkpoint()``; each seek is timed until
   ``receive()`` returns the first message.

The seeks are a fixed plan on a backlog stream of their own, put
driver-side before the window. The whole plan runs in a burst after the
publish, the drain and the resume of every repetition, so every burst does
the same work and the bursts sample the host at many moments of the window.

The seed sets keys, payload bytes and seek positions. A small publish and
drain warm the path before the measured repetitions. Checks: each leg's
count is right and its ULIDs are unique (count, distinct count and a
checksum against the published frame), the resume delivers exactly the
delta, and each seek's first message is the expected one (read back from
the broker's own API).
"""

from __future__ import annotations

import random
import shutil
import time
from datetime import datetime, timezone

from perfbench.common import CPUS, median, percentile, timed_setups

BACKLOG = 8_000  # records per repetition
WARM_BACKLOG = 1_000
SEEK_BACKLOG = 12_000  # 1500 a shard: a full GetRecords page after every seek position
SHARDS = 8
KEYS = 10_000
PAYLOAD_BYTES = 900  # envelope ~1 KB
SEEKS_PER_TYPE = 3  # seeks of each cursor type in the plan
CHECKSUM_MOD = 2_147_483_647
MIN_REPS = 2
SEEK_TYPES = ("OLDEST_RETAINED", "AT_PROVIDER_TIME", "AT_PROVIDER_SEQUENCE",
              "AT_ULID", "AT_EXTERNAL_ID", "NOW")


def _frame(spark, seed: int, tag: str, lo: int, n: int, base_ms: int):
    """Backlog rows lo..lo+n: envelope columns derived from (seed, id)."""
    from pyspark.sql import functions as F

    ids = F.col("id")
    h = lambda salt: F.xxhash64(F.lit(seed), F.lit(salt), ids)  # noqa: E731
    text = F.repeat(F.sha2(F.concat_ws("-", F.lit(seed), ids), 512), 8)
    return spark.range(lo, lo + n, numPartitions=CPUS).select(
        (F.shiftleft(F.lit(base_ms) + ids, 16) + F.pmod(h(1), F.lit(1 << 16))).alias("ulid_msb"),
        h(2).alias("ulid_lsb"),
        F.concat(F.lit("k"), F.pmod(h(3), F.lit(KEYS)).cast("string")).alias("partition_key"),
        F.concat(F.lit(f"{tag}-"), ids.cast("string")).alias("external_id"),
        F.create_map(F.lit("p"), F.substring(text, 1, PAYLOAD_BYTES).cast("binary")).alias("data"),
    )


def _tally(df) -> tuple[int, int]:
    """(rows, ULID checksum) of a frame. Equal counts and checksums mean the
    same set of ULIDs w.h.p.: a duplicate that replaced a lost record would
    have to collide on the checksum."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64("ulid_msb", "ulid_lsb"), F.lit(CHECKSUM_MOD))),
    ).first()
    return int(r[0]), int(r[1] or 0)


class _TallySink:
    def __init__(self):
        self.parts: list[tuple[int, int]] = []

    def __call__(self, df, batch_id):
        self.parts.append(_tally(df))

    def total(self) -> tuple[int, int]:
        return sum(p[0] for p in self.parts), sum(p[1] for p in self.parts)


class Rep:
    """One repetition of the four legs on its own stream."""

    def __init__(self, ctx, spark, name: str, backlog: int, seed: int):
        self.ctx, self.spark, self.name = ctx, spark, name
        self.backlog = backlog
        self.seed = seed
        self.statedir = ctx.path(name, "broker")
        self.stream = "replay"
        self.opts = ctx.kinesis_options(self.statedir, self.stream)
        self.client = ctx.kinesis_client(self.statedir)
        self.client.create_stream(StreamName=self.stream, ShardCount=SHARDS)
        from messikinesisprovider_spark.sources.kinesis_sim import FakeKinesisClient

        self.oracle = FakeKinesisClient(self.statedir)  # untraced broker reads for checks
        self.failed = 0
        self.attempted = 0
        self.out: dict = {}

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def publish(self, lo: int, n: int) -> tuple[float, tuple, float, float]:
        from messikinesisprovider_spark import wire

        from pyspark.sql import functions as F

        frame = _frame(self.spark, self.seed, self.name, lo, n, int(time.time() * 1000)).persist()
        expect = _tally(frame)  # also materializes the cached frame
        self.check(frame.select(F.count_distinct("ulid_msb", "ulid_lsb")).first()[0] == n)
        t0 = time.time()
        (
            wire.encode_column(frame, "payload").select("partition_key", "payload")
            .write.format("kinesismessi").options(**self.opts).mode("append").save()
        )
        t1 = time.time()
        frame.unpersist()
        return t1 - t0, expect, t0, t1

    def fill(self, n: int) -> None:
        """Put n ~1 KB envelopes driver-side, 500 a call (untimed)."""
        from messikinesisprovider_spark import wire
        from messikinesisprovider_spark.ulid import Ulid

        rng = random.Random(self.seed)
        base_ms = int(time.time() * 1000)
        for lo in range(0, n, 500):
            recs = []
            for i in range(lo, min(n, lo + 500)):
                key = f"k{rng.randrange(KEYS)}"
                u = Ulid.of(base_ms + i, rng.getrandbits(80))
                recs.append({"PartitionKey": key, "Data": wire.encode_message({
                    "ulid_msb": u.msb, "ulid_lsb": u.lsb, "partition_key": key,
                    "external_id": f"{self.name}-{i}", "data": {"p": rng.randbytes(PAYLOAD_BYTES)},
                })})
            self.oracle.put_records(StreamName=self.stream, Records=recs)

    def drain(self) -> tuple[float, tuple]:
        sink = _TallySink()
        t0 = time.time()
        q = (
            self.spark.readStream.format("kinesismessi").options(**self.opts)
            .option("metadatadir", self.ctx.path(self.name, "meta"))
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.ctx.path(self.name, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.time() - t0, sink.total()

    def run(self, burst=None) -> None:
        """The four legs, with `burst()` (a seek burst, timed) after the
        publish, the drain and the resume; without it, publish and drain
        only."""
        publish_s, expect, t0, t1 = self.publish(0, self.backlog)
        self.out["publish"] = (publish_s, t0, t1)
        if burst is None:
            self.check(self.drain()[1] == expect)
            return
        self.out["burst_s"] = [burst()]
        drain_s, got = self.drain()
        self.out["drain_s"] = drain_s
        self.check(got == expect)
        self.out["burst_s"].append(burst())
        _, expect_delta, _, _ = self.publish(self.backlog, self.backlog // 10)
        resume_s, got = self.drain()
        self.out["resume_s"] = resume_s
        self.check(got == expect_delta)
        self.out["burst_s"].append(burst())

    def close(self) -> None:
        shutil.rmtree(self.ctx.path(self.name), ignore_errors=True)


class SeekPlan:
    """Leg 4: a fixed plan of cursor seeks on the backlog stream of `rep`,
    run whole in every burst; the plan's expected first messages are read
    back from the broker's own API when it is made."""

    def __init__(self, rep: Rep, seed: int):
        from messikinesisprovider_spark.streaming.policy import REFERENCE_POLICY
        from messikinesisprovider_spark.ulid import Ulid

        self.rep = rep
        self.bursts = 0
        rng = random.Random(seed)
        shards = [str(i) for i in range(SHARDS)]
        tips = {s: self._tip(s) for s in shards}
        self.plan: list[dict] = []
        for j in range(SEEKS_PER_TYPE):
            for kind in SEEK_TYPES:
                # stratified positions, each with a full GetRecords page after it
                shard = shards[(j * len(SEEK_TYPES) + SEEK_TYPES.index(kind)) % SHARDS]
                span = max(1, tips[shard] - REFERENCE_POLICY.fetch_limit - 1)
                seq = int(span * (j + rng.random()) / SEEKS_PER_TYPE)
                target, after = self._read(shard, ShardIteratorType="AT_SEQUENCE_NUMBER",
                                           StartingSequenceNumber=f"{seq:012d}")
                inclusive = j % 2 == 0
                expect = (target if inclusive else after)["provider"]["sequence_number"]
                at = datetime.fromtimestamp(target["arrival_ms"] / 1000, tz=timezone.utc)
                if kind == "OLDEST_RETAINED":
                    expect = f"{0:012d}"
                elif kind == "AT_PROVIDER_TIME":
                    expect = self._read(shard, ShardIteratorType="AT_TIMESTAMP",
                                        Timestamp=at)[0]["provider"]["sequence_number"]
                self.plan.append({
                    "kind": kind, "shard": shard, "seq": seq, "inclusive": inclusive,
                    "at": at, "target": target, "expect": expect,
                    "ulid": Ulid.from_parts(target["ulid_msb"], target["ulid_lsb"]),
                    "ms": [], "requests": [], "fetched": [],
                })

    def _tip(self, shard: str) -> int:
        it = self.rep.oracle.get_shard_iterator(
            StreamName=self.rep.stream, ShardId=shard, ShardIteratorType="LATEST"
        )["ShardIterator"]
        return int(it.split(";")[1])  # the simulator's iterator carries the position

    def _read(self, shard: str, **args) -> list[dict]:
        from messikinesisprovider_spark.sources.kinesis import decode_record

        oracle = self.rep.oracle
        it = oracle.get_shard_iterator(StreamName=self.rep.stream, ShardId=shard, **args)
        recs = oracle.get_records(ShardIterator=it["ShardIterator"], Limit=2)["Records"]
        return [decode_record(r, shard) for r in recs]

    def burst(self) -> float:
        """Run every seek of the plan once; returns the burst's seconds."""
        from messikinesisprovider_spark import wire
        from messikinesisprovider_spark.cursor import MessiCursor
        from messikinesisprovider_spark.sources.kinesis import KinesisShardConsumer

        rep = self.rep
        t_burst = time.perf_counter()
        for s in range(SHARDS):
            self._tip(str(s))  # NOW seeks appended: re-read each shard untimed
        for i, seek in enumerate(self.plan):
            kind, shard, ulid, target = seek["kind"], seek["shard"], seek["ulid"], seek["target"]
            expect = seek["expect"]
            if kind == "NOW":
                expect = f"{rep.name}-now-{self.bursts}-{i}"  # external id of the record put below
            t0 = time.perf_counter()
            if kind == "OLDEST_RETAINED":
                cursor = MessiCursor.oldest()
            elif kind == "AT_PROVIDER_TIME":
                cursor = MessiCursor.at_time(seek["at"])
            elif kind == "AT_PROVIDER_SEQUENCE":
                saved = MessiCursor.at_sequence(shard, seek["seq"], inclusive=seek["inclusive"]).checkpoint()
                cursor = MessiCursor.from_checkpoint(saved)
            elif kind == "AT_ULID":
                cursor = MessiCursor.at_ulid(ulid, inclusive=seek["inclusive"])
            elif kind == "AT_EXTERNAL_ID":
                near = datetime.fromtimestamp(ulid.timestamp_ms / 1000, tz=timezone.utc)
                cursor = MessiCursor.at_external_id(target["external_id"], near,
                                                    inclusive=seek["inclusive"])
            else:
                cursor = MessiCursor.now()
            consumer = KinesisShardConsumer(rep.client, rep.stream, shard, cursor=cursor)
            put_s = 0.0
            if kind == "NOW":  # one record after positioning; the put is not timed
                t_put = time.perf_counter()
                rep.oracle.put_records(StreamName=rep.stream, Records=[{
                    "PartitionKey": target["partition_key"],
                    "Data": wire.encode_message({"partition_key": target["partition_key"],
                                                 "external_id": expect}),
                }])
                put_s = time.perf_counter() - t_put
            msg = consumer.receive(timeout_s=5.0)
            seek["ms"].append(1000.0 * (time.perf_counter() - t0 - put_s))
            if kind == "NOW":
                ok = msg is not None and msg.get("external_id") == expect
            else:
                ok = msg is not None and msg["provider"]["sequence_number"] == expect
            rep.check(ok)
            seek["requests"].append(consumer.requests)
            seek["fetched"].append(consumer.total_fetched)
            consumer.close()
        self.bursts += 1
        return time.perf_counter() - t_burst


def run(ctx) -> dict:
    def prepare(spark, i):
        rep = Rep(ctx, spark, f"setup{i}", 0, ctx.seed)  # creates the stream
        spark.range(1).count()  # the first job of the context
        return rep

    spark, rep, setup_times = timed_setups(ctx, prepare, lambda r: r.close())
    rep.close()

    # warm-up: the first publish and drain start the Python workers and the
    # planner; a query restart needs no separate warming
    warm = Rep(ctx, spark, "warm", WARM_BACKLOG, ctx.seed + 1000)
    warm.run()
    warm.close()
    seek_rep = Rep(ctx, spark, "seek", 0, ctx.seed + 2000)
    seek_rep.fill(SEEK_BACKLOG)
    seeks = SeekPlan(seek_rep, ctx.seed)
    reps = []
    t_window = time.time()
    while len(reps) < MIN_REPS or time.time() - t_window < ctx.seconds:
        rep = Rep(ctx, spark, f"rep{len(reps)}", BACKLOG, ctx.seed * 7919 + len(reps))
        rep.run(seeks.burst)
        rep.close()
        reps.append(rep)
    t_window_end = time.time()
    seek_rep.close()

    seek_ms = [ms for s in seeks.plan for ms in s["ms"]]
    publish_s = [r.out["publish"][0] for r in reps]
    drain_s = [r.out["drain_s"] for r in reps]
    rep_s = [r.out["publish"][0] + r.out["drain_s"] + r.out["resume_s"] + sum(r.out["burst_s"])
             for r in reps]
    e2e = {
        "setup_s": median(setup_times),
        "mean_ms": sum(seek_ms) / len(seek_ms),
        "p90_ms": percentile(seek_ms, 90),
        "rate_rps": BACKLOG / median(drain_s),
        "work_s": median(rep_s),
    }
    detail = {
        "workload": "replay",
        "reps": len(reps),
        "backlog_records": BACKLOG,
        "publish_rps": BACKLOG / median(publish_s),
        "replay_rps": e2e["rate_rps"],
        "resume_s": median([r.out["resume_s"] for r in reps]),
        "seek_mean_ms": e2e["mean_ms"],
        "seek_p50_ms": percentile(seek_ms, 50),
        "seek_p90_ms": e2e["p90_ms"],
        "seeks": len(seek_ms),
        "seek_bursts": seeks.bursts,
        "seek_burst_p50_ms": [percentile([s["ms"][b] for s in seeks.plan], 50)
                              for b in range(seeks.bursts)],
        "seek_p50_ms_by_type": {
            k: percentile([ms for s in seeks.plan if s["kind"] == k for ms in s["ms"]], 50)
            for k in SEEK_TYPES
        },
        "rep_legs_s": [[r.out["publish"][0], r.out["drain_s"], r.out["resume_s"],
                        sum(r.out["burst_s"])] for r in reps],
        "setup_s_each": setup_times,
    }
    layers = {}
    if ctx.tracer is not None:
        layers = _layers(ctx, reps, seeks, setup_times, t_window, t_window_end)
    spark.stop()
    checked = [warm, seek_rep] + reps
    return {
        "correct": all(r.failed == 0 for r in checked),
        "attempted": sum(r.attempted for r in checked),
        "failed": sum(r.failed for r in checked),
        "e2e": e2e,
        "detail": detail,
        "layers": layers,
    }


def _layers(ctx, reps, seeks, setup_times, lo, hi) -> dict:
    import os

    from perfbench.trace import broker_summary, covered, microbatch_summary

    time.sleep(1.0)  # let the listener bus deliver the last progress events
    spans = [s for s in ctx.tracer.spans() if lo <= s["t0"] < hi]
    batches = ctx.tracer.batches(lo, hi)
    me = os.getpid()
    fetch = [(s["t0"], s["t1"]) for s in spans
             if s["pid"] != me and s["n"] in ("get_records", "get_shard_iterator")]
    puts = [(s["t0"], s["t1"]) for s in spans if s["pid"] != me and s["n"] == "put_records"]
    part_self = [b["ms"].get("addBatch", 0.0) - 1000.0 * covered(fetch, b["start"], b["end"])
                 for b in batches]
    saves = [r.out["publish"] for r in reps]
    runs = sum(len(s["ms"]) for s in seeks.plan)
    out = {
        "session.start_s": setup_times[0],
        "kinesis_partitioned.self_ms": median(part_self) if part_self else 0.0,
        "kinesis_writer.save_s": median([s[0] for s in saves]),
        "kinesis_writer.self_s": median([s[0] - covered(puts, s[1], s[2]) for s in saves]),
        "kinesis.seek.get_records_per_seek": sum(sum(s["requests"]) for s in seeks.plan) / runs,
        "kinesis.seek.records_read_per_seek": sum(sum(s["fetched"]) for s in seeks.plan) / runs,
    }
    out.update(broker_summary(spans))
    out.update(microbatch_summary(batches))
    return out
