"""Spark Structured Streaming source over the Kinesis GetRecords API.

``spark.readStream.format("kinesismessi")`` — the Spark-native packaging of
the reference's consumer stack (KinesisStreamingBuffer.java polling loop +
KinesisMessiStreamingConsumer positioning): one `KinesisShardConsumer` per
shard does the fetching, so every flow-control behavior (F1 bounded prefetch,
F3 adaptive poll, F4 rate-limit 3x backoff, F5 expired-iterator recovery)
is wired into the reader via `PollPolicy`, not just declared.

Options
-------
streamname           required — Kinesis stream to read
clientfactory        "module.path:callable" returning a boto3-shaped client
                     from the options dict. Default: real boto3
                     (``boto3.client("kinesis")``); tests use
                     ``...sources.kinesis_sim:client_from_options`` with
                     ``statedir`` for the file-backed broker simulator.
startingposition     TRIM_HORIZON (default) | LATEST | AT_TIMESTAMP
startingtimestamp    ISO timestamp, with startingposition=AT_TIMESTAMP
maxrecordspershard   GetRecords page size / per-shard admission (F1),
                     default 1000 (KinesisStreamingBuffer.java:41)
pollintervalms       poll pacing base, default 1000
                     (KinesisMessiClientFactory.java:64)
topic                logical topic stamped on rows (default = streamname)
metadatadir          directory shared by driver and executors; setting it
                     selects the executor-parallel reader (below), whose
                     tasks report consumed sequences there

Offsets are ``{shard_id: last_sequence_number}`` ("" = shard not yet read) —
the same checkpoint shape as the reference (KinesisMessiCursor.java:59-68).
Restart resumes AFTER_SEQUENCE_NUMBER per shard; `readBetweenOffsets` replays
a write-ahead-logged batch deterministically for failure recovery. Every read
path builds its consumer with `shard_consumer`, so the microbatch, the replay
and the partitioned reader's slices share one GetRecords loop and one
F4/F5/F6 error ladder.

Two readers live behind this format. The default here is a
`SimpleDataSourceStreamReader`: fetching happens in the driver-side planning
process — adequate for tens of shards (Kinesis caps reads at 1000 records /
5 req/s per shard, so per-shard throughput is API-bound), and its per-shard
consumers keep poll pacing and backoff state across microbatches. For wide
streams, `option("metadatadir", ...)` selects the EXECUTOR-PARALLEL reader
in kinesis_partitioned.py: one InputPartition per shard, GetRecords in
executor workers, sidecar-reported sequence offsets. Checkpoints are not portable between the two.

Sequence numbers stay opaque strings end-to-end (real Kinesis sequence
numbers exceed int64), so this source's schema is the message envelope plus
string `sequence_number` — unlike the file-backed messilog source, whose
sequences are dense per-shard longs.
"""

from __future__ import annotations

import importlib
from datetime import datetime, timezone

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from ..cursor import MessiCursor
from ..schema import MESSAGE_SCHEMA

KINESIS_SCHEMA = T.StructType(
    # every envelope field is nullable here: unlike MessiLog (which stamps
    # identity at publish), a Kinesis consumer reads streams whose producers
    # may not have set ulid/ordering fields in the wire envelope
    [T.StructField(f.name, f.dataType, True) for f in MESSAGE_SCHEMA.fields]
    + [
        T.StructField("shard_id", T.StringType(), False),
        T.StructField("sequence_number", T.StringType(), False),  # opaque wire form
        T.StructField("arrival_ts", T.TimestampType(), False),
    ]
)

_COLS = [f.name for f in KINESIS_SCHEMA.fields]


def _make_client(options: dict):
    spec = options.get("clientfactory")
    if spec:
        mod, _, fn = spec.partition(":")
        return getattr(importlib.import_module(mod), fn)(dict(options))
    from .kinesis import HAVE_BOTO3, KinesisUnavailable

    if not HAVE_BOTO3:
        raise KinesisUnavailable()
    import boto3

    return boto3.client("kinesis")


def _starting_cursor(options: dict) -> MessiCursor:
    pos = options.get("startingposition", "TRIM_HORIZON").upper()
    if pos == "LATEST":
        return MessiCursor.now()
    if pos == "AT_TIMESTAMP":
        ts = datetime.fromisoformat(options["startingtimestamp"])
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        return MessiCursor.at_time(ts)
    return MessiCursor.oldest()


def shard_consumer(client, options: dict, shard_id: str, after_seq: str):
    """The KinesisShardConsumer of every read path: it resumes strictly
    after `after_seq` (P4 exclusive) or, for "", at the configured
    startingposition, and paces itself by pollintervalms /
    maxrecordspershard."""
    from ..streaming.policy import PollPolicy
    from .kinesis import KinesisShardConsumer

    if after_seq:
        cursor = MessiCursor.at_sequence(shard_id, int(after_seq), inclusive=False)
    else:
        cursor = _starting_cursor(options)
    policy = PollPolicy(
        poll_interval_ms=int(options.get("pollintervalms", 1000)),
        fetch_limit=int(options.get("maxrecordspershard", 1000)),
    )
    return KinesisShardConsumer(
        client, options["streamname"], shard_id, cursor=cursor, policy=policy
    )


def _naive(ms: int | None):
    if ms is None:
        return None
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).replace(tzinfo=None)


def _to_row(msg: dict, topic: str) -> tuple:
    """Decoded message dict (kinesis.decode_record) → KINESIS_SCHEMA tuple."""
    prov = msg.get("provider") or {}
    first = msg.get("first_provider") or {}

    def prov_tuple(p):
        return (
            p.get("technology"),
            p.get("published_ts"),
            p.get("shard_id"),
            p.get("sequence_number"),
        )

    return (
        msg.get("ulid_msb"),
        msg.get("ulid_lsb"),
        msg.get("ulid"),
        msg.get("partition_key"),
        topic,
        msg.get("external_id"),
        msg.get("ordering_group"),
        msg.get("ordering_seq"),
        _naive(msg.get("timestamp_ms")),
        msg.get("data") or {},
        msg.get("attributes") or {},
        prov_tuple(first),
        prov_tuple(prov),
        msg.get("source_client_id"),
        prov.get("shard_id"),
        prov.get("sequence_number"),
        _naive(msg.get("arrival_ms")),
    )


class KinesisStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.options = dict(options)
        self.stream_name = options["streamname"]
        self.topic = options.get("topic", self.stream_name)
        self._client = None
        self._consumers: dict[str, object] = {}

    # lazily constructed so the reader pickles cleanly into the planning proc
    def client(self):
        if self._client is None:
            self._client = _make_client(self.options)
        return self._client

    def _shard_ids(self) -> list[str]:
        # Paginated: DescribeStream pages shards 10 at a time
        # (KinesisUtils.java:63-96); a single-page read silently drops
        # shards 11+ on wide streams.
        from .kinesis import list_shard_ids

        return list_shard_ids(self.client(), self.stream_name)

    def initialOffset(self) -> dict:
        return {sid: "" for sid in self._shard_ids()}

    def _consumer(self, shard_id: str, last_seq: str):
        """One KinesisShardConsumer per shard, kept across microbatches so
        NextShardIterator chaining, poll pacing and backoff state all carry
        over. A consumer is (re)built when Spark's start offset diverges from
        the consumer's own position (checkpoint restart)."""
        c = self._consumers.get(shard_id)
        if c is not None and c._spark_offset == last_seq:
            return c
        c = shard_consumer(self.client(), self.options, shard_id, last_seq)
        c._spark_offset = last_seq
        self._consumers[shard_id] = c
        return c

    def read(self, start: dict):
        """One microbatch. Resharding (parent-before-child): a split/merge
        child is held back until EVERY parent still present in the listing
        is drained to its null NextShardIterator (consumer.shard_ended).
        Eligibility is decided inside a worklist pass — a parent that
        reaches its end during THIS batch unlocks its children in the same
        batch, and the pass order never matters (the worklist re-scans until
        no shard makes progress). A parent absent from the listing was
        trimmed by retention and cannot block (the KCL rule). Drained
        parents stay listed but cost nothing: their consumers are
        shard_ended no-ops. A shard whose GetRecords has failed more than
        MAX_FAILED_CALLS times in a row fails the batch with the last error,
        the bound `to_tip()` puts on the replay and the partitioned slices."""
        from .kinesis import MAX_FAILED_CALLS, list_shards

        shards = list_shards(self.client(), self.stream_name)
        present = {s["ShardId"] for s in shards}

        def drained(pid: str | None) -> bool:
            if not pid or pid not in present:
                return True
            c = self._consumers.get(pid)
            return c is not None and c.shard_ended

        rows: list[tuple] = []
        end = dict(start)
        pending = list(shards)
        progress = True
        while pending and progress:
            progress = False
            held = []
            for s in pending:
                sid = s["ShardId"]
                if not (
                    drained(s.get("ParentShardId"))
                    and drained(s.get("AdjacentParentShardId"))
                ):
                    held.append(s)
                    continue
                progress = True
                last = start.get(sid, "")
                c = self._consumer(sid, last)
                c.fill_once()  # respects F1 space, F3 pacing, F4/F5 backoff
                if c.failed_calls > MAX_FAILED_CALLS:
                    raise c.last_error
                for msg in c.drain():
                    rows.append(_to_row(msg, self.topic))
                    last = msg["provider"]["sequence_number"]
                end[sid] = last
                c._spark_offset = last
            pending = held
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay for failure recovery: each shard's consumer
        reads AFTER its start sequence through its end sequence, on the same
        F4/F5/F6 ladder as a microbatch — replay never loses records."""
        out: list[tuple] = []
        for sid, end_seq in end.items():
            start_seq = start.get(sid, "")
            if not end_seq or end_seq == start_seq:
                continue
            for msg in shard_consumer(self.client(), self.options, sid, start_seq).to_tip():
                seq = int(msg["provider"]["sequence_number"])
                if seq > int(end_seq):
                    break
                out.append(_to_row(msg, self.topic))
                if seq == int(end_seq):
                    break
        return iter(out)

    def commit(self, end: dict) -> None:
        pass  # engine checkpoint log is the source of truth


class KinesisMessiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesismessi"

    def schema(self):
        return KINESIS_SCHEMA

    def streamReader(self, schema):
        """Executor-parallel reader (one InputPartition per shard,
        kinesis_partitioned.py) when `metadatadir` is configured; otherwise
        raises PySparkNotImplementedError so the engine falls back to the
        driver-side simple reader below. Checkpoints are not portable
        between the two readers."""
        if "metadatadir" not in self.options:
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED", messageParameters={"feature": "streamReader"}
            )
        from .kinesis_partitioned import KinesisPartitionedStreamReader

        return KinesisPartitionedStreamReader(self.options)

    def simpleStreamReader(self, schema):
        return KinesisStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        """Batch write path: df.write.format("kinesismessi").save() —
        executor-side chunked PutRecords with the failed-subset retry loop
        (S1/S2); rows need partition_key + payload columns."""
        from .kinesis_writer import KinesisBatchWriter

        return KinesisBatchWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        """Streaming write path: df.writeStream.format("kinesismessi") —
        one chunked publish per microbatch partition; checkpointed replay +
        downstream ULID dedup gives effectively-once."""
        from .kinesis_writer import KinesisStreamWriter

        return KinesisStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(KinesisMessiDataSource)
