"""TCK-style tests for the real-Kinesis consumer stack, driven end-to-end
through the fake-boto3 read/write broker simulator (behavioral spec:
simulator/KinesisAsyncClientSimulator.java:39-254). Covers cursor
positioning, per-shard FIFO, provenance stamping, F1 bounded prefetch,
F4 rate-limit backoff, F5 expired-iterator recovery — all without loss —
plus stream admin (list/create/wait) and the Spark streaming source."""

import uuid
from datetime import datetime, timedelta, timezone

import pytest

from messikinesisprovider_spark import wire
from messikinesisprovider_spark.cursor import CursorType, MessiCursor
from messikinesisprovider_spark.sources import kinesis_sim, kinesis_source
from messikinesisprovider_spark.sources.kinesis import (
    KinesisShardConsumer,
    KinesisTransport,
    create_stream,
    decode_record,
    ensure_stream,
    list_shard_ids,
    list_stream_names,
    wait_stream_active,
)
from messikinesisprovider_spark.streaming.policy import PollPolicy
from messikinesisprovider_spark.streaming.sink import publish_with_retry
from messikinesisprovider_spark.ulid import Ulid

T0 = datetime(2026, 3, 1, tzinfo=timezone.utc)
T0_MS = int(T0.timestamp() * 1000)


class ManualClock:
    """Deterministic clock: sleep() advances time instead of waiting."""

    def __init__(self, start=1000.0):
        self.t = start

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += max(0.0, s)


def make_stream(tmp_path, n=10, shard_count=1, name="s"):
    """Stream with n wire-encoded messages; arrival time = T0 + i seconds."""
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "broker"))
    client.create_stream(StreamName=name, ShardCount=shard_count)
    for i in range(n):
        client.clock = lambda i=i: T0.timestamp() + i
        payload = wire.encode_message(
            {
                "ulid_msb": Ulid.of(T0_MS + i * 1000, i).msb,
                "ulid_lsb": Ulid.of(T0_MS + i * 1000, i).lsb,
                "partition_key": f"k{i}",
                "external_id": f"ext{i}",
                "timestamp_ms": T0_MS + i * 1000,
                "attributes": {"n": str(i)},
            }
        )
        client.put_records(
            StreamName=name,
            Records=[{"PartitionKey": f"k{i}", "Data": payload}],
        )
    client.clock = lambda: T0.timestamp() + 3600
    return client


def consumer(client, cursor=None, **kw):
    clock = ManualClock()
    pol = PollPolicy(poll_interval_ms=1000, fetch_limit=kw.pop("fetch_limit", 1000))
    c = KinesisShardConsumer(
        client, "s", "0", cursor=cursor, policy=pol, clock=clock, sleep=clock.sleep
    )
    return c, clock


# -- stream admin (KinesisUtils.java:24-96) ---------------------------------


def test_list_streams_paginates_at_20(tmp_path):
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    for i in range(45):
        client.create_stream(StreamName=f"s{i:03d}")
    names = list_stream_names(client)
    assert len(names) == 45 and names == sorted(names)


def test_create_and_wait_active(tmp_path):
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    create_stream(client, "t1", shard_count=2)
    wait_stream_active(client, "t1", poll_s=0, timeout_s=5)
    desc = client.describe_stream(StreamName="t1")
    assert len(desc["StreamDescription"]["Shards"]) == 2


def test_ensure_stream_idempotent(tmp_path):
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    ensure_stream(client, "t2", poll_s=0)
    ensure_stream(client, "t2", poll_s=0)
    assert list_stream_names(client) == ["t2"]


# -- publish path through the simulator -------------------------------------


def test_transport_roundtrip_through_simulator(tmp_path):
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="s")
    transport = KinesisTransport("s", client=client)
    records = [
        {"partition_key": f"k{i}", "payload": wire.encode_message({"external_id": str(i)})}
        for i in range(5)
    ]
    assert publish_with_retry(records, transport) == 1
    c, _ = consumer(client)
    got = [c.receive(1.0) for _ in range(5)]
    assert [m["external_id"] for m in got] == [str(i) for i in range(5)]


def test_put_counts_only_routed_shards(tmp_path, monkeypatch):
    """put_records reads the record count of the shards it routes to only."""
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="s", ShardCount=8)
    calls = []
    real = client._shard_count
    monkeypatch.setattr(client, "_shard_count", lambda *a: calls.append(a) or real(*a))
    for seq in range(2):
        resp = client.put_records(StreamName="s", Records=[{"PartitionKey": "k", "Data": b"x"}])
        assert resp["Records"][0]["SequenceNumber"] == kinesis_sim.format_sequence(seq)
    assert len(calls) == 2  # one per call: the routed shard, not all 8


# -- cursor positioning through GetShardIterator (P1-P6 over the wire) ------


def test_position_trim_horizon_and_fifo(tmp_path):
    client = make_stream(tmp_path)
    c, _ = consumer(client, MessiCursor.oldest())
    seqs = [c.receive(1.0)["provider"]["sequence_number"] for _ in range(10)]
    assert seqs == sorted(seqs)  # per-shard FIFO (O2)
    assert c.receive(0.5) is None  # drained


def test_position_latest_skips_existing(tmp_path):
    client = make_stream(tmp_path)
    c, _ = consumer(client, MessiCursor.now())
    assert c.receive(0.5) is None
    payload = wire.encode_message({"external_id": "fresh"})
    client.put_records(StreamName="s", Records=[{"PartitionKey": "k", "Data": payload}])
    assert c.receive(2.0)["external_id"] == "fresh"


def test_position_at_timestamp(tmp_path):
    client = make_stream(tmp_path)
    c, _ = consumer(client, MessiCursor.at_time(T0 + timedelta(seconds=5)))
    assert c.receive(1.0)["external_id"] == "ext5"


def test_position_at_sequence_inclusive_exclusive(tmp_path):
    client = make_stream(tmp_path)
    inc, _ = consumer(client, MessiCursor.at_sequence("0", 3, inclusive=True))
    assert inc.receive(1.0)["external_id"] == "ext3"
    exc, _ = consumer(client, MessiCursor.at_sequence("0", 3, inclusive=False))
    assert exc.receive(1.0)["external_id"] == "ext4"


def test_position_at_ulid_exact_and_exclusive(tmp_path):
    client = make_stream(tmp_path)
    u = Ulid.of(T0_MS + 6000, 6)  # message 6's exact ulid
    c, _ = consumer(client, MessiCursor.at_ulid(u))
    assert c.receive(1.0)["external_id"] == "ext6"
    c2, _ = consumer(client, MessiCursor.at_ulid(u, inclusive=False))
    assert c2.receive(1.0)["external_id"] == "ext7"


def test_position_at_ulid_fallback_replay(tmp_path):
    """Target ulid absent from the stream: once the +tolerance bound passes,
    delivery replays from the lookahead buffer (P5 fallback, no loss)."""
    client = make_stream(tmp_path)
    ghost = Ulid.of(T0_MS + 4500, 999)  # between messages 4 and 5, not present
    c, _ = consumer(client, MessiCursor.at_ulid(ghost, inclusive=True))
    c.cursor = MessiCursor(
        c.cursor.type, ulid=ghost, inclusive=True, tolerance=timedelta(seconds=2)
    )
    got = [c.receive(1.0)["external_id"] for _ in range(3)]
    assert got == ["ext5", "ext6", "ext7"]  # replay from first ulid >= target


def test_position_at_external_id(tmp_path):
    client = make_stream(tmp_path)
    cur = MessiCursor.at_external_id("ext7", T0 + timedelta(seconds=7), inclusive=True)
    c, _ = consumer(client, cur)
    assert c.receive(1.0)["external_id"] == "ext7"
    cur2 = MessiCursor.at_external_id("ext7", T0 + timedelta(seconds=7), inclusive=False)
    c2, _ = consumer(client, cur2)
    assert c2.receive(1.0)["external_id"] == "ext8"


def test_provenance_stamped_on_read(tmp_path):
    client = make_stream(tmp_path, n=1)
    c, _ = consumer(client)
    m = c.receive(1.0)
    assert m["provider"]["technology"] == "Kinesis"
    assert m["provider"]["shard_id"] == "0"
    assert m["first_provider"] == m["provider"]  # first hop == this hop
    assert m["arrival_ms"] == T0_MS


def test_seek_repositions(tmp_path):
    client = make_stream(tmp_path)
    c, _ = consumer(client)
    assert c.receive(1.0)["external_id"] == "ext0"
    c.seek(T0_MS + 8000)
    assert c.receive(1.0)["external_id"] == "ext8"


# -- decode on delivery -----------------------------------------------------


@pytest.fixture(scope="module")
def stream_1000(tmp_path_factory):
    """1000-record shard (record i: arrival and ULID time T0 + i s) and its
    eager reference: decode_record over a TRIM_HORIZON read."""
    client = make_stream(tmp_path_factory.mktemp("s1000"), n=1000)
    it = client.get_shard_iterator(
        StreamName="s", ShardId="0", ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    recs = client.get_records(ShardIterator=it, Limit=10_000)["Records"]
    return client, [decode_record(r, "0") for r in recs]


def test_sequence_seek_decodes_one_record(stream_1000, monkeypatch):
    client, eager = stream_1000
    calls = []
    real = wire.decode_message
    monkeypatch.setattr(wire, "decode_message", lambda b: calls.append(1) or real(b))
    c, _ = consumer(client, MessiCursor.at_sequence("0", 300))
    assert c.receive(1.0) == eager[300]
    assert len(calls) == 1
    assert c.total_fetched == 700  # the whole page is fetched, not decoded


_TOL = timedelta(seconds=2)
_AT_500 = Ulid.of(T0_MS + 500_000, 500)  # record 500's exact ulid
_GHOST = Ulid.of(T0_MS + 500_500, 999)  # between records 500 and 501, absent
_NEAR_500 = T0 + timedelta(seconds=500)
_NEAR_GHOST = T0 + timedelta(milliseconds=500_500)

# cursor, eager index of the first delivery, and the (requests, total_fetched)
# of the consumer that decoded every fetched record, at fetch limits 1000 / 50
_POSITIONED = {
    "ulid_inclusive": (MessiCursor.at_ulid(_AT_500), 500, (1, 560), (2, 100)),
    "ulid_exclusive": (MessiCursor.at_ulid(_AT_500, inclusive=False), 501, (1, 560), (2, 100)),
    "external_id_inclusive": (
        MessiCursor.at_external_id("ext500", _NEAR_500), 500, (1, 560), (2, 100),
    ),
    "external_id_exclusive": (
        MessiCursor.at_external_id("ext500", _NEAR_500, inclusive=False), 501, (1, 560), (2, 100),
    ),
    # missing target: fallback replay from the lookahead, then live polling
    "ulid_fallback": (
        MessiCursor(CursorType.AT_ULID, ulid=_GHOST, tolerance=_TOL), 501, (1, 501), (1, 50),
    ),
    "external_id_fallback": (
        MessiCursor.at_external_id("ghost", _NEAR_GHOST, tolerance=_TOL),
        499, (1, 501), (1, 50),
    ),
}


@pytest.mark.parametrize("fetch_limit", [1000, 50])
@pytest.mark.parametrize("case", sorted(_POSITIONED))
def test_positioned_delivery_matches_eager_decode(stream_1000, case, fetch_limit):
    client, eager = stream_1000
    cursor, first, counts_1000, counts_50 = _POSITIONED[case]
    c, _ = consumer(client, cursor, fetch_limit=fetch_limit)
    got = [c.receive(1.0) for _ in range(20)]
    assert got == eager[first : first + 20]
    expected = counts_1000 if fetch_limit == 1000 else counts_50
    assert (c.requests, c.total_fetched) == expected


def test_bad_payload_stays_at_head(tmp_path):
    """A record that fails to decode is not skipped: every delivery raises
    on it again, and the records behind it stay buffered."""
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="s")
    datas = [
        wire.encode_message({"external_id": "good0"}),
        b"\x07",  # field 0, wire type 7: no protobuf decoder accepts it
        wire.encode_message({"external_id": "good1"}),
    ]
    client.put_records(StreamName="s", Records=[{"PartitionKey": "k", "Data": d} for d in datas])
    c, _ = consumer(client)
    assert c.receive(1.0)["external_id"] == "good0"
    for _ in range(2):
        with pytest.raises(ValueError, match="wire type"):
            c.poll(1.0)
        assert len(c.buffer) == 2
    assert c.requests == 1
    # the positioning scan peeks at the same bytes and stops there too
    c2, _ = consumer(client, MessiCursor.at_external_id("good1", T0 + timedelta(hours=1)))
    with pytest.raises(ValueError, match="wire type"):
        c2.receive(1.0)


# -- flow control: F1 / F3 / F4 / F5 ----------------------------------------


def test_f1_bounded_prefetch(tmp_path):
    client = make_stream(tmp_path, n=30)
    c, _ = consumer(client, fetch_limit=8)
    c.fill_once()
    assert len(c.buffer) == 8  # one page, LIMIT-bounded
    assert c.fill_once() is False  # size >= limit: fetch refused (F1, ref :91-94)
    c.buffer.popleft()  # size 7 < limit: space for a full page again
    assert c.fill_once() is True
    assert len(c.buffer) == 15  # 7 + 8 <= 2x-limit buffer cap


def test_f3_idle_poll_pacing(tmp_path):
    client = make_stream(tmp_path, n=0)
    c, clock = consumer(client)
    t0 = clock()
    assert c.receive(0.5) is None
    # empty response at the tip: next fetch deferred ~one poll interval
    assert c._next_fetch_at >= t0 + 0.9


def test_f4_rate_limit_backoff_3x_no_loss(tmp_path):
    client = make_stream(tmp_path, n=5)
    c, clock = consumer(client)
    client.trigger_rate_limit_on_next_get_records()
    t0 = clock()
    m = c.receive(10.0)  # first fetch hits the rate limit, then recovers
    # the consumer waited out the 3x-poll-interval backoff (reference :133)
    assert clock() - t0 >= 3.0
    assert m["external_id"] == "ext0"
    rest = [c.receive(1.0)["external_id"] for _ in range(4)]
    assert rest == ["ext1", "ext2", "ext3", "ext4"]  # nothing lost


def test_f5_expired_iterator_recovery_no_loss(tmp_path):
    client = make_stream(tmp_path, n=6)
    c, clock = consumer(client, fetch_limit=3)
    first = [c.receive(1.0)["external_id"] for _ in range(3)]
    assert first == ["ext0", "ext1", "ext2"]
    client.expire_all_iterators()  # outstanding NextShardIterator now dead
    rest = [c.receive(10.0)["external_id"] for _ in range(3)]
    # re-resolved AFTER_SEQUENCE_NUMBER of the last buffered record: no loss,
    # no duplicates (improves on KinesisStreamingBuffer.java:121-127)
    assert rest == ["ext3", "ext4", "ext5"]
    assert c.responses_handled >= 3


def test_f5_expiry_before_first_fetch_uses_cursor(tmp_path):
    client = make_stream(tmp_path, n=3)
    c, _ = consumer(client, MessiCursor.at_sequence("0", 1))
    client.expire_all_iterators()
    assert c.receive(10.0)["external_id"] == "ext1"  # cursor re-resolved


# -- the to_tip() pump: bounded reads (replay, partitioned slices) ----------

_MID = str(1 << 127)  # midpoint of the 128-bit hash space


def _source_options(tmp_path, **extra):
    """Reader options over the make_stream broker of `tmp_path`."""
    return {
        "streamname": "s",
        "clientfactory": "messikinesisprovider_spark.sources.kinesis_sim:client_from_options",
        "statedir": str(tmp_path / "broker"),
        "pollintervalms": "10",
        **extra,
    }


def test_to_tip_stops_at_first_empty_page_at_tip(tmp_path):
    client = make_stream(tmp_path, n=10)
    c, clock = consumer(client, fetch_limit=4)
    t0 = clock()
    got = [m["external_id"] for m in c.to_tip()]
    assert got == [f"ext{i}" for i in range(10)]
    assert c.requests == 4  # pages of 4, 4, 2, then one empty page at the tip
    assert c.at_tip and not c.shard_ended
    assert clock() == t0  # behind the tip every refetch is immediate


def test_to_tip_stops_at_closed_shard_end(tmp_path):
    client = make_stream(tmp_path, n=10)
    client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=_MID)
    c, _ = consumer(client, fetch_limit=4)
    got = [m["external_id"] for m in c.to_tip()]
    assert got == [f"ext{i}" for i in range(10)]
    assert c.requests == 3  # the page of 2 carries the null NextShardIterator
    assert c.shard_ended and not c.buffer


def test_to_tip_recovers_from_one_rate_limit(tmp_path):
    client = make_stream(tmp_path, n=5)
    c, clock = consumer(client)
    client.trigger_rate_limit_on_next_get_records()
    t0 = clock()
    assert [m["external_id"] for m in c.to_tip()] == [f"ext{i}" for i in range(5)]
    assert clock() - t0 == 3.0  # one F4 backoff of 3x the poll interval


class _AlwaysFailing:
    """Broker whose every GetRecords call raises `error`."""

    def __init__(self, client, error):
        self.client, self.error, self.calls = client, error, 0

    def __getattr__(self, name):
        return getattr(self.client, name)

    def get_records(self, **kw):
        self.calls += 1
        raise self.error


@pytest.mark.parametrize(
    "error, wait_s",
    [
        (kinesis_sim.ProvisionedThroughputExceeded("throttled"), 3.0),  # F4
        (RuntimeError("broker down"), 1.0),  # F6
    ],
)
def test_to_tip_raises_after_six_failed_calls(tmp_path, error, wait_s):
    broker = _AlwaysFailing(make_stream(tmp_path, n=3), error)
    c, clock = consumer(broker)
    t0 = clock()
    with pytest.raises(type(error)):
        list(c.to_tip())
    assert broker.calls == 6  # bounded: a task fails instead of hanging
    assert clock() - t0 == 5 * wait_s  # backoff before each retry


def test_microbatch_raises_after_six_failed_calls(tmp_path):
    """The simple reader's microbatch fails once a shard's GetRecords has
    failed more than MAX_FAILED_CALLS times in a row, instead of returning
    empty batches at an unchanged offset forever."""
    import time

    broker = _AlwaysFailing(make_stream(tmp_path, n=3), RuntimeError("broker down"))
    reader = kinesis_source.KinesisStreamReader(_source_options(tmp_path, pollintervalms="1"))
    reader._client = broker
    start = reader.initialOffset()
    with pytest.raises(RuntimeError, match="broker down"):
        for _ in range(100):
            rows, end = reader.read(start)
            assert list(rows) == [] and end == start
            time.sleep(0.002)  # past the 1 ms F6 retry delay
    assert broker.calls == 6


def test_slice_closed_early_reports_yielded_sequence_only(tmp_path):
    """A slice stopped after its first row reports that row to its gen=N
    sidecar and writes no closed/ marker, although the consumer already saw
    the closed shard's null NextShardIterator; a full read records it."""
    import json
    import os

    from messikinesisprovider_spark.sources.kinesis_partitioned import (
        KinesisShardSlice,
        _read_shard_slice,
    )

    client = make_stream(tmp_path, n=10)
    client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=_MID)
    meta = str(tmp_path / "meta")
    opts = _source_options(tmp_path, metadatadir=meta)

    def report(*parts):
        with open(os.path.join(meta, *parts)) as f:
            return json.load(f)["last_seq"]

    rows = _read_shard_slice(KinesisShardSlice("0", "", 3, opts))
    next(rows)
    rows.close()
    assert report("gen=3", "shard-0.json") == kinesis_sim.format_sequence(0)
    assert not os.path.exists(os.path.join(meta, "closed"))

    assert len(list(_read_shard_slice(KinesisShardSlice("0", "", 4, opts)))) == 10
    assert report("gen=4", "shard-0.json") == kinesis_sim.format_sequence(9)
    assert report("closed", "shard-0.json") == kinesis_sim.format_sequence(9)


# -- readBetweenOffsets: the simple reader's failure-recovery replay ---------


def _replay(tmp_path, start_seq, end_seq):
    rows = kinesis_source.KinesisStreamReader(_source_options(tmp_path)).readBetweenOffsets(
        {"0": start_seq}, {"0": end_seq}
    )
    col = kinesis_source._COLS.index("external_id")
    return [r[col] for r in rows]


def test_replay_between_offsets(tmp_path):
    make_stream(tmp_path, n=10)
    got = _replay(tmp_path, "000000000002", "000000000006")
    assert got == ["ext3", "ext4", "ext5", "ext6"]


def test_replay_survives_rate_limit(tmp_path):
    client = make_stream(tmp_path, n=10)
    client.trigger_rate_limit_on_next_get_records()
    got = _replay(tmp_path, "000000000002", "000000000006")
    assert got == ["ext3", "ext4", "ext5", "ext6"]  # F4 backoff, then the rows


def test_replay_from_starting_position(tmp_path):
    make_stream(tmp_path, n=10)
    assert _replay(tmp_path, "", "000000000003") == ["ext0", "ext1", "ext2", "ext3"]


# -- Spark streaming source --------------------------------------------------


@pytest.fixture(params=["simple", "partitioned"])
def reader_mode(request):
    """Every Spark-source TCK case runs against BOTH the driver-side simple
    reader and the executor-parallel partitioned reader."""
    return request.param


@pytest.fixture()
def spark_stream(spark, tmp_path):
    kinesis_source.register(spark)
    client = make_stream(tmp_path, n=10, name="s")
    return spark, client, str(tmp_path / "broker")


def _reader(spark, statedir, mode="simple", meta=None, **opts):
    r = (
        spark.readStream.format("kinesismessi")
        .option("streamname", "s")
        .option(
            "clientfactory",
            "messikinesisprovider_spark.sources.kinesis_sim:client_from_options",
        )
        .option("statedir", statedir)
        .option("pollintervalms", "10")
    )
    if mode == "partitioned":
        r = r.option("metadatadir", meta)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_spark_source_delivers_all(spark_stream, tmp_path, reader_mode):
    spark, client, statedir = spark_stream
    name = "k" + uuid.uuid4().hex[:10]
    q = (
        _reader(spark, statedir, reader_mode, str(tmp_path / "meta1"))
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    assert out.count() == 10
    rows = out.orderBy("sequence_number").collect()
    assert [r["external_id"] for r in rows] == [f"ext{i}" for i in range(10)]
    assert rows[0]["provider"]["technology"] == "Kinesis"
    assert rows[0]["topic"] == "s"
    assert rows[0]["ts"] is not None


def test_spark_source_incremental_restart_exactly_once(spark_stream, tmp_path, reader_mode):
    spark, client, statedir = spark_stream
    ckpt, out_dir = str(tmp_path / "ck2"), str(tmp_path / "out2")

    def drain():
        q = (
            _reader(spark, statedir, reader_mode, str(tmp_path / "meta2"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    assert drain().count() == 10
    payload = wire.encode_message({"external_id": "after-restart"})
    client.put_records(StreamName="s", Records=[{"PartitionKey": "z", "Data": payload}])
    out = drain()
    assert out.count() == 11  # only the new record was appended
    assert out.filter(out.external_id == "after-restart").count() == 1


def test_spark_source_survives_rate_limit_fault(spark_stream, tmp_path, reader_mode):
    spark, client, statedir = spark_stream
    ckpt, out_dir = str(tmp_path / "ck3"), str(tmp_path / "out3")
    client.trigger_rate_limit_on_next_get_records()

    def drain():
        q = (
            _reader(spark, statedir, reader_mode, str(tmp_path / "meta3"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    drain()  # batch 1 hits the rate limit: delivers nothing, loses nothing
    import time

    time.sleep(0.1)  # > 3x pollintervalms (10 ms) backoff
    out = drain()
    assert out.count() == 10  # full recovery, no loss


def test_list_shard_ids_paginates_at_10(tmp_path):
    """DescribeStream pages shards 10 at a time (KinesisUtils.java:63-96);
    the helper must follow HasMoreShards/ExclusiveStartShardId to the end."""
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="w", ShardCount=25)
    ids = list_shard_ids(client, "w")
    assert len(ids) == 25 and len(set(ids)) == 25
    assert set(ids) == {str(i) for i in range(25)}
    # single-page read would have stopped at 10
    one_page = client.describe_stream(StreamName="w")["StreamDescription"]["Shards"]
    assert len(one_page) == 10


def test_spark_source_wide_stream_no_shard_loss(spark, tmp_path, reader_mode):
    """25-shard stream: an unpaginated shard listing reads only the first
    DescribeStream page and silently never consumes shards 11+ — permanent
    data loss. Every record put on every shard must come back (VERDICT r2 #1)."""
    kinesis_source.register(spark)
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "wb"))
    client.create_stream(StreamName="s", ShardCount=25)
    put_shards = set()
    for i in range(200):
        payload = wire.encode_message({"external_id": f"w{i}"})
        resp = client.put_records(
            StreamName="s", Records=[{"PartitionKey": f"pk{i}", "Data": payload}]
        )
        put_shards.add(resp["Records"][0]["ShardId"])
    assert len(put_shards) > 10  # the fixture really spans multiple pages
    name = "k" + uuid.uuid4().hex[:10]
    q = (
        _reader(spark, str(tmp_path / "wb"), reader_mode, str(tmp_path / "metaw"))
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    assert out.count() == 200
    got_shards = {r["shard_id"] for r in out.select("shard_id").distinct().collect()}
    assert got_shards == put_shards


def test_spark_source_multishard_fifo(spark, tmp_path, reader_mode):
    kinesis_source.register(spark)
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "mb"))
    client.create_stream(StreamName="s", ShardCount=4)
    for i in range(40):
        payload = wire.encode_message({"external_id": f"e{i}", "attributes": {"i": str(i)}})
        client.put_records(
            StreamName="s", Records=[{"PartitionKey": f"pk{i}", "Data": payload}]
        )
    name = "k" + uuid.uuid4().hex[:10]
    q = (
        _reader(spark, str(tmp_path / "mb"), reader_mode, str(tmp_path / "meta4"))
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    assert out.count() == 40
    # per-shard FIFO: sequence numbers dense and sorted within each shard
    for row in out.groupBy("shard_id").count().collect():
        seqs = [
            r["sequence_number"]
            for r in out.filter(out.shard_id == row["shard_id"])
            .orderBy("sequence_number")
            .collect()
        ]
        assert seqs == sorted(seqs)
    assert out.select("shard_id").distinct().count() == 4


def test_partitioned_reader_picks_up_new_shard(spark, tmp_path):
    """Resharding: latestOffset re-enumerates shards every batch, so a shard
    added between drains enters at the initial position ("" start) and its
    records are delivered by the next batch — no restart required."""
    kinesis_source.register(spark)
    statedir = str(tmp_path / "rb")
    client = kinesis_sim.FakeKinesisClient(statedir)
    client.create_stream(StreamName="s", ShardCount=2)
    for i in range(10):
        payload = wire.encode_message({"external_id": f"a{i}"})
        client.put_records(StreamName="s", Records=[{"PartitionKey": f"pk{i}", "Data": payload}])
    ckpt, out_dir = str(tmp_path / "ckr"), str(tmp_path / "outr")

    def drain():
        q = (
            _reader(spark, statedir, "partitioned", str(tmp_path / "metar"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    assert drain().count() == 10

    # reshard: a third shard appears (split); new records land on it
    streams = client._streams()
    streams["s"].append("2")
    client._store(client._streams_path(), streams)
    payload = wire.encode_message({"external_id": "on-new-shard"})
    with open(client._shard_path("s", "2"), "a") as f:
        import base64 as b64, json as js

        f.write(js.dumps({
            "seq": kinesis_sim.format_sequence(0),
            "partition_key": "pk-new",
            "data": b64.b64encode(payload).decode(),
            "arrival_ms": int(client.clock() * 1000),
        }) + "\n")

    out = drain()
    assert out.count() == 11
    row = out.filter(out.external_id == "on-new-shard").collect()
    assert len(row) == 1 and row[0]["shard_id"] == "2"
