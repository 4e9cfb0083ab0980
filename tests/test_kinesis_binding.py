"""Kinesis binding unit tests (pure translation functions + fake client —
no AWS). Mirrors the iterator-type mapping the reference implements
(KinesisStreamingBuffer.java:247-281)."""

import os
import subprocess
import sys
from datetime import datetime, timedelta, timezone

import pytest

from messikinesisprovider_spark.cursor import MessiCursor
from messikinesisprovider_spark.sources import kinesis, kinesis_source
from messikinesisprovider_spark.sources.kinesis import (
    KinesisTransport,
    KinesisUnavailable,
    cursor_to_iterator_args,
    wait_stream_active,
)
from messikinesisprovider_spark.streaming.sink import PartialFailure, publish_with_retry
from messikinesisprovider_spark.ulid import Ulid

T = datetime(2026, 1, 1, tzinfo=timezone.utc)


def test_iterator_type_mapping():
    assert cursor_to_iterator_args(MessiCursor.now()) == {"ShardIteratorType": "LATEST"}
    assert cursor_to_iterator_args(MessiCursor.oldest()) == {"ShardIteratorType": "TRIM_HORIZON"}
    at_time = cursor_to_iterator_args(MessiCursor.at_time(T))
    assert at_time["ShardIteratorType"] == "AT_TIMESTAMP" and at_time["Timestamp"] == T


def test_sequence_cursor_inclusive_exclusive():
    inc = cursor_to_iterator_args(MessiCursor.at_sequence("0", 7, inclusive=True))
    exc = cursor_to_iterator_args(MessiCursor.at_sequence("0", 7, inclusive=False))
    assert inc["ShardIteratorType"] == "AT_SEQUENCE_NUMBER"
    assert exc["ShardIteratorType"] == "AFTER_SEQUENCE_NUMBER"
    assert inc["StartingSequenceNumber"] == "000000000007"  # 12-digit wire form


def test_ulid_cursor_seeks_one_minute_early():
    u = Ulid.of(int(T.timestamp() * 1000), 5)
    args = cursor_to_iterator_args(MessiCursor.at_ulid(u))
    assert args["ShardIteratorType"] == "AT_TIMESTAMP"
    assert args["Timestamp"] == T - timedelta(minutes=1)  # ±60 s slack


def test_external_id_cursor_seeks_tolerance_early():
    cur = MessiCursor.at_external_id("k", T, tolerance=timedelta(minutes=5))
    args = cursor_to_iterator_args(cur)
    assert args["Timestamp"] == T - timedelta(minutes=5)


class FakeKinesisClient:
    def __init__(self, fail_indices_once=()):
        self.fail_once = list(fail_indices_once)
        self.put_calls = []
        self.describe_calls = 0

    def put_records(self, StreamName, Records):
        self.put_calls.append(list(Records))
        failed = self.fail_once
        self.fail_once = []
        return {
            "FailedRecordCount": len(failed),
            "Records": [
                {"ErrorCode": "X"} if i in failed else {"SequenceNumber": str(i)}
                for i in range(len(Records))
            ],
        }

    def describe_stream(self, StreamName):
        self.describe_calls += 1
        status = "ACTIVE" if self.describe_calls >= 2 else "CREATING"
        return {"StreamDescription": {"StreamStatus": status}}


def test_transport_partial_failure_retry_loop():
    client = FakeKinesisClient(fail_indices_once=[0, 2])
    transport = KinesisTransport("s", client=client)
    records = [{"partition_key": f"k{i}", "payload": b"x"} for i in range(4)]
    rounds = publish_with_retry(records, transport)
    assert rounds == 2
    assert len(client.put_calls[0]) == 4
    # second round re-sent exactly the 2 failed entries
    assert [e["PartitionKey"] for e in client.put_calls[1]] == ["k0", "k2"]


def test_wait_stream_active_polls_until_ready():
    client = FakeKinesisClient()
    wait_stream_active(client, "s", poll_s=0, timeout_s=5)
    assert client.describe_calls == 2


def test_import_defers_boto3():
    """boto3 is imported only when a real AWS client is built; importing the
    binding (as every Kinesis streaming query's planner process does) must
    not pay for it."""
    code = (
        "import sys\n"
        "import messikinesisprovider_spark.sources.kinesis_source\n"
        "import messikinesisprovider_spark.sources.kinesis\n"
        "assert 'boto3' not in sys.modules\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], check=True, cwd=repo)


def test_missing_boto3_raises_unavailable(monkeypatch):
    monkeypatch.setattr(kinesis, "HAVE_BOTO3", False)
    with pytest.raises(KinesisUnavailable):
        KinesisTransport("s")
    with pytest.raises(KinesisUnavailable):
        kinesis_source._make_client({"streamname": "s"})
