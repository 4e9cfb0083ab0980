"""Kinesis API-conformance skin over ``kinesis_sim`` (real AWS wire shapes).

``kinesis_sim.FakeKinesisClient`` is the package's one broker, but its errors
are plain Python exceptions with an ``error_code`` attribute and its ids,
sequence numbers and iterators are bare strings, so the botocore half of
``sources.kinesis.error_code`` (the ``exc.response["Error"]["Code"]`` path)
and the transports' tolerance of the REAL response shapes would go
unexercised. ``MockKinesisClient`` runs that same broker over a private
temporary state directory and changes only what boto3 hands back, per the
public AWS API reference
(https://docs.aws.amazon.com/kinesis/latest/APIReference/):

- errors are ``MockClientError`` — the exact botocore ``ClientError``
  contract: ``.response = {"Error": {"Code", "Message"}, "ResponseMetadata":
  {"RequestId", "HTTPStatusCode"}}``, ``.operation_name``, and the
  "An error occurred (Code) when calling the Op operation: Message" string;
- real shard ids ``shardId-000000000000`` and 21-digit sequence numbers (so
  nothing in the engine can depend on the simulator's bare ``"0"`` ids);
- opaque base64 shard iterators (nothing can cheat by parsing the
  simulator's ``shard;seq;epoch`` structure) with the real 5-minute expiry
  (ExpiredIteratorException) on an injectable clock;
- PutRecords partial-failure entries carry ``ErrorCode`` + ``ErrorMessage``
  per failed record with ``FailedRecordCount`` (the shape
  KinesisMessiProducer.java:103-160 retries against): ``arm_partial_failure(k)``
  fails every k-th record of the next PutRecords;
- CreateStream on an existing stream raises ``ResourceInUseException`` and
  an empty PutRecords raises ``ValidationException``;
- every response carries ``ResponseMetadata``, and DescribeStream the
  stream's ARN, retention and encryption fields.

Routing, lineage, paging, AT_TIMESTAMP resolution and the other fault hooks
(``arm_rate_limit`` is the simulator's rate-limit trigger,
``expire_all_iterators``) are the simulator's own.
"""

from __future__ import annotations

import base64
import json
import tempfile
import uuid
import weakref
from contextlib import contextmanager
from datetime import datetime, timezone

from ..schema import format_sequence
from .kinesis_sim import FakeKinesisClient, SimulatorError

ITERATOR_TTL_S = 300  # real service: iterators expire after 5 minutes
SHARD_ID_FMT = "shardId-{:012d}"


class MockClientError(Exception):
    """botocore.exceptions.ClientError's documented contract, minus botocore."""

    def __init__(self, operation_name: str, code: str, message: str, status: int = 400):
        self.operation_name = operation_name
        self.response = {
            "Error": {"Code": code, "Message": message},
            "ResponseMetadata": {
                "RequestId": str(uuid.uuid4()),
                "HTTPStatusCode": status,
            },
        }
        super().__init__(
            f"An error occurred ({code}) when calling the {operation_name} "
            f"operation: {message}"
        )


def _meta() -> dict:
    return {"RequestId": str(uuid.uuid4()), "HTTPStatusCode": 200}


def _wire_shard(sid: str) -> str:
    return SHARD_ID_FMT.format(int(sid))


def _wire_seq(seq: str) -> str:
    return str(int(seq)).zfill(21)


class MockKinesisClient(FakeKinesisClient):
    """In-process boto3-`client("kinesis")` twin with real wire shapes; its
    state directory lives (and is removed) with the client."""

    arm_rate_limit = FakeKinesisClient.trigger_rate_limit_on_next_get_records

    def __init__(self, clock=None):
        self._tmp = tempfile.TemporaryDirectory(prefix="kinesis_mock_")
        weakref.finalize(self, self._tmp.cleanup)  # explicit: no ResourceWarning
        super().__init__(self._tmp.name, clock=clock)
        self._partial_failure_every: int | None = None

    def arm_partial_failure(self, every: int) -> None:
        self._partial_failure_every = every

    # -- translation -----------------------------------------------------------
    @contextmanager
    def _op(self, op: str):
        try:
            yield
        except SimulatorError as e:
            raise MockClientError(op, e.error_code, str(e)) from None

    def _sim_shard(self, op: str, shard_id: str) -> str:
        prefix, _, num = shard_id.partition("-")
        if prefix != "shardId" or not num.isdigit():
            raise MockClientError(op, "ValidationException", f"Invalid ShardId: {shard_id}")
        return str(int(num))

    def _pack_iterator(self, sim_iterator: str | None) -> str | None:
        if sim_iterator is None:
            return None
        stream, rest = sim_iterator.split("|", 1)
        sid, seq, epoch = rest.split(";")
        payload = {"s": stream, "i": int(sid), "q": int(seq), "e": int(epoch), "t": self.clock()}
        return base64.b64encode(json.dumps(payload).encode()).decode()

    def _unpack_iterator(self, op: str, token: str) -> str:
        try:
            p = json.loads(base64.b64decode(token))
            sim_iterator = f"{p['s']}|{p['i']};{format_sequence(p['q'])};{p['e']}"
            age = self.clock() - p["t"]
        except Exception:
            raise MockClientError(op, "ValidationException", "Invalid ShardIterator.")
        if age > ITERATOR_TTL_S:
            raise MockClientError(
                op,
                "ExpiredIteratorException",
                "Iterator expired. The iterator was created at a time that is "
                "past its TTL.",
            )
        return sim_iterator

    # -- control plane -----------------------------------------------------------
    def create_stream(self, StreamName: str, ShardCount: int = 1) -> dict:
        if StreamName in self._streams():
            raise MockClientError(
                "CreateStream",
                "ResourceInUseException",
                f"Stream {StreamName} under account 000000000000 already exists.",
            )
        super().create_stream(StreamName, ShardCount)
        return {"ResponseMetadata": _meta()}

    def list_streams(self, Limit: int = 100, ExclusiveStartStreamName: str | None = None) -> dict:
        resp = super().list_streams(Limit, ExclusiveStartStreamName)
        return {**resp, "ResponseMetadata": _meta()}

    def split_shard(self, StreamName: str, ShardToSplit: str, NewStartingHashKey: str) -> dict:
        op = "SplitShard"
        with self._op(op):
            super().split_shard(StreamName, self._sim_shard(op, ShardToSplit), NewStartingHashKey)
        return {"ResponseMetadata": _meta()}

    def merge_shards(self, StreamName: str, ShardToMerge: str, AdjacentShardToMerge: str) -> dict:
        op = "MergeShards"
        with self._op(op):
            super().merge_shards(
                StreamName,
                self._sim_shard(op, ShardToMerge),
                self._sim_shard(op, AdjacentShardToMerge),
            )
        return {"ResponseMetadata": _meta()}

    def describe_stream(
        self,
        StreamName: str,
        Limit: int = 10,
        ExclusiveStartShardId: str | None = None,
    ) -> dict:
        op = "DescribeStream"
        with self._op(op):
            if ExclusiveStartShardId is not None:
                ExclusiveStartShardId = self._sim_shard(op, ExclusiveStartShardId)
            desc = super().describe_stream(StreamName, Limit, ExclusiveStartShardId)
        desc = desc["StreamDescription"]
        for shard in desc["Shards"]:
            for key in ("ShardId", "ParentShardId", "AdjacentParentShardId"):
                if key in shard:
                    shard[key] = _wire_shard(shard[key])
            seq_range = shard["SequenceNumberRange"]
            for key in seq_range:
                seq_range[key] = _wire_seq(seq_range[key])
        desc.update(
            StreamARN=f"arn:aws:kinesis:us-east-1:000000000000:stream/{StreamName}",
            RetentionPeriodHours=24,
            StreamCreationTimestamp=datetime.fromtimestamp(0, tz=timezone.utc),
            EnhancedMonitoring=[{"ShardLevelMetrics": []}],
            EncryptionType="NONE",
        )
        return {"StreamDescription": desc, "ResponseMetadata": _meta()}

    # -- data plane --------------------------------------------------------------
    def put_records(self, StreamName: str, Records: list[dict]) -> dict:
        op = "PutRecords"
        if not Records:
            raise MockClientError(
                op,
                "ValidationException",
                "1 validation error detected: Value '[]' at 'records' failed "
                "to satisfy constraint: Member must have length greater than "
                "or equal to 1",
            )
        every, self._partial_failure_every = self._partial_failure_every, None
        failed = {i for i in range(len(Records)) if every and (i + 1) % every == 0}
        with self._op(op):
            resp = super().put_records(
                StreamName, [r for i, r in enumerate(Records) if i not in failed]
            )
        throttled = {
            "ErrorCode": "ProvisionedThroughputExceededException",
            "ErrorMessage": f"Rate exceeded for shard {SHARD_ID_FMT.format(0)} "
            f"in stream {StreamName} under account 000000000000.",
        }
        stored = (
            {"SequenceNumber": _wire_seq(r["SequenceNumber"]), "ShardId": _wire_shard(r["ShardId"])}
            for r in resp["Records"]
        )
        return {
            "FailedRecordCount": len(failed),
            "Records": [dict(throttled) if i in failed else next(stored) for i in range(len(Records))],
            "EncryptionType": "NONE",
            "ResponseMetadata": _meta(),
        }

    def get_shard_iterator(
        self,
        StreamName: str,
        ShardId: str,
        ShardIteratorType: str,
        StartingSequenceNumber: str | None = None,
        Timestamp=None,
    ) -> dict:
        op = "GetShardIterator"
        with self._op(op):
            resp = super().get_shard_iterator(
                StreamName, self._sim_shard(op, ShardId), ShardIteratorType,
                StartingSequenceNumber, Timestamp,
            )
        return {
            "ShardIterator": self._pack_iterator(resp["ShardIterator"]),
            "ResponseMetadata": _meta(),
        }

    def get_records(self, ShardIterator: str, Limit: int = 1000) -> dict:
        op = "GetRecords"
        sim_iterator = self._unpack_iterator(op, ShardIterator)
        with self._op(op):
            resp = super().get_records(sim_iterator, Limit)
        for r in resp["Records"]:
            r["SequenceNumber"] = _wire_seq(r["SequenceNumber"])
        return {
            **resp,
            "NextShardIterator": self._pack_iterator(resp["NextShardIterator"]),
            "ResponseMetadata": _meta(),
        }
