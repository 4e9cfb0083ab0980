"""Resharding (SplitShard / MergeShards) semantics — round-5 verdict item 5.

The reference sidesteps resharding (its simulator is single-shard:
simulator/KinesisAsyncClientSimulator.java:85-87,113-115), but any real
Kinesis user resharding a stream hits three contracts, all from the public
API reference:

1. broker: a split/merge CLOSES the parents (SequenceNumberRange gains an
   EndingSequenceNumber; no new records route there), creates children with
   ParentShardId (+ AdjacentParentShardId for merges), and GetRecords on a
   drained closed shard returns a null NextShardIterator;
2. consumer: KinesisShardConsumer stops fetching at the null iterator
   (shard_ended) instead of reusing the stale one (which would re-deliver
   the final page);
3. source: both Spark readers deliver parent records BEFORE child records
   (parent-before-child, the per-key ordering rule) and deliver everything
   exactly once across the reshard boundary.
"""

import uuid

import pytest

from messikinesisprovider_spark import wire
from messikinesisprovider_spark.sources import kinesis_sim, kinesis_source
from messikinesisprovider_spark.sources.kinesis import (
    KinesisShardConsumer,
    list_shards,
)
from messikinesisprovider_spark.sources.kinesis_mock import (
    MockClientError,
    MockKinesisClient,
)
from messikinesisprovider_spark.streaming.policy import PollPolicy

MID = str(1 << 127)  # midpoint of the 128-bit hash space


def _payload(tag: str) -> bytes:
    return wire.encode_message({"external_id": tag, "attributes": {"t": tag}})


def _put(client, stream, tags, pk=None):
    client.put_records(
        StreamName=stream,
        Records=[{"PartitionKey": pk or t, "Data": _payload(t)} for t in tags],
    )


# ---------------------------------------------------------------------------
# 1. broker shapes (simulator + conformance mock)
# ---------------------------------------------------------------------------


def test_sim_split_closes_parent_and_links_children(tmp_path):
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="s", ShardCount=1)
    _put(client, "s", ["a0", "a1", "a2"])
    client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=MID)
    shards = {s["ShardId"]: s for s in list_shards(client, "s")}
    assert set(shards) == {"0", "1", "2"}
    # parent closed: sequence range has an end
    assert "EndingSequenceNumber" in shards["0"]["SequenceNumberRange"]
    # children carry lineage + the split hash ranges
    for sid in ("1", "2"):
        assert shards[sid]["ParentShardId"] == "0"
        assert "EndingSequenceNumber" not in shards[sid]["SequenceNumberRange"]
    assert shards["1"]["HashKeyRange"]["EndingHashKey"] == str((1 << 127) - 1)
    assert shards["2"]["HashKeyRange"]["StartingHashKey"] == MID
    # new records route to the children only
    _put(client, "s", [f"b{i}" for i in range(8)])
    assert client._shard_count("s", "0") == 3
    assert client._shard_count("s", "1") + client._shard_count("s", "2") == 8
    # drained closed parent → null NextShardIterator
    it = client.get_shard_iterator(
        StreamName="s", ShardId="0", ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    resp = client.get_records(ShardIterator=it)
    assert len(resp["Records"]) == 3
    assert resp["NextShardIterator"] is None


def test_sim_merge_validates_adjacency_and_routes_to_child(tmp_path):
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="s", ShardCount=4)
    # shards 0 and 2 are not adjacent in the hash space
    with pytest.raises(kinesis_sim.InvalidArgument):
        client.merge_shards(StreamName="s", ShardToMerge="0", AdjacentShardToMerge="2")
    client.merge_shards(StreamName="s", ShardToMerge="0", AdjacentShardToMerge="1")
    shards = {s["ShardId"]: s for s in list_shards(client, "s")}
    child = shards["4"]
    assert child["ParentShardId"] == "0"
    assert child["AdjacentParentShardId"] == "1"
    # a closed shard cannot be split or merged again
    with pytest.raises(kinesis_sim.InvalidArgument):
        client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=MID)
    # new records avoid the two closed parents
    _put(client, "s", [f"m{i}" for i in range(16)])
    assert client._shard_count("s", "0") == 0
    assert client._shard_count("s", "1") == 0


def test_sim_key_stays_on_one_lineage_across_split(tmp_path):
    """A key is routed by its hash range from CreateStream on, so a split
    moves it only from the parent to a child — never to an unrelated shard,
    which would leave parent-before-child unable to order its records."""
    import hashlib

    key = "user-2"
    digest = hashlib.md5(key.encode()).digest()
    # the hash range puts the key on shard 0; an md5[:8] % 2 rule would not
    assert int.from_bytes(digest, "big") < 1 << 127
    assert int.from_bytes(digest[:8], "big") % 2 == 1
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="s", ShardCount=2)

    def put() -> str:
        resp = client.put_records(
            StreamName="s", Records=[{"PartitionKey": key, "Data": _payload(key)}]
        )
        return resp["Records"][0]["ShardId"]

    before = put()
    client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=str(1 << 126))
    after = put()
    parents = {s["ShardId"]: s.get("ParentShardId") for s in list_shards(client, "s")}
    assert after == before or parents[after] == before


def test_mock_split_merge_botocore_shapes():
    client = MockKinesisClient()
    client.create_stream(StreamName="s", ShardCount=2)
    sid0, sid1 = "shardId-000000000000", "shardId-000000000001"
    # split key outside the shard's range → InvalidArgumentException
    with pytest.raises(MockClientError) as ei:
        client.split_shard(StreamName="s", ShardToSplit=sid0, NewStartingHashKey=str((1 << 127) + 5))
    assert ei.value.response["Error"]["Code"] == "InvalidArgumentException"
    # unknown shard → ResourceNotFoundException
    with pytest.raises(MockClientError) as ei:
        client.split_shard(StreamName="s", ShardToSplit="shardId-000000000009", NewStartingHashKey="10")
    assert ei.value.response["Error"]["Code"] == "ResourceNotFoundException"
    # valid split of shard 0 at the quarter point
    client.split_shard(StreamName="s", ShardToSplit=sid0, NewStartingHashKey=str(1 << 126))
    desc = client.describe_stream(StreamName="s")["StreamDescription"]
    by_id = {s["ShardId"]: s for s in desc["Shards"]}
    assert "EndingSequenceNumber" in by_id[sid0]["SequenceNumberRange"]
    assert by_id["shardId-000000000002"]["ParentShardId"] == sid0
    # split parent is closed → further split is InvalidArgument
    with pytest.raises(MockClientError) as ei:
        client.split_shard(StreamName="s", ShardToSplit=sid0, NewStartingHashKey=str(1 << 125))
    assert ei.value.response["Error"]["Code"] == "InvalidArgumentException"
    # merge requires adjacency
    with pytest.raises(MockClientError) as ei:
        client.merge_shards(StreamName="s", ShardToMerge="shardId-000000000002", AdjacentShardToMerge=sid1)
    assert ei.value.response["Error"]["Code"] == "InvalidArgumentException"
    client.merge_shards(
        StreamName="s", ShardToMerge="shardId-000000000003", AdjacentShardToMerge=sid1
    )
    desc = client.describe_stream(StreamName="s")["StreamDescription"]
    by_id = {s["ShardId"]: s for s in desc["Shards"]}
    child = by_id["shardId-000000000004"]
    assert child["ParentShardId"] == "shardId-000000000003"
    assert child["AdjacentParentShardId"] == sid1
    # drained closed parent → null NextShardIterator (records preserved)
    client.put_records(
        StreamName="s", Records=[{"PartitionKey": "x", "Data": b"d"}]
    )  # routes to an open shard without error
    it = client.get_shard_iterator(
        StreamName="s", ShardId=sid0, ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    resp = client.get_records(ShardIterator=it)
    assert resp["Records"] == [] and resp["NextShardIterator"] is None


# ---------------------------------------------------------------------------
# 2. consumer contract
# ---------------------------------------------------------------------------


def test_consumer_stops_at_shard_end_without_redelivery(tmp_path):
    client = kinesis_sim.FakeKinesisClient(str(tmp_path / "b"))
    client.create_stream(StreamName="s", ShardCount=1)
    _put(client, "s", [f"r{i}" for i in range(5)])
    client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=MID)
    c = KinesisShardConsumer(
        client, "s", "0", policy=PollPolicy(poll_interval_ms=1, fetch_limit=3)
    )
    got = []
    while True:
        m = c.poll(timeout_s=0.05)
        if m is None:
            break
        got.append(m["external_id"])
    assert got == [f"r{i}" for i in range(5)]  # every record exactly once
    assert c.shard_ended
    # ended consumer never fetches again (the stale final iterator would
    # re-read the last page)
    reqs = c.requests
    assert c.fill_once() is False
    assert c.poll(timeout_s=0.01) is None
    assert c.requests == reqs


# ---------------------------------------------------------------------------
# 3. Spark readers: exactly-once + parent-before-child across a reshard
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("reader_mode", ["simple", "partitioned"])
def test_spark_reader_delivers_across_split(spark, tmp_path, reader_mode):
    kinesis_source.register(spark)
    statedir = str(tmp_path / "rb")
    client = kinesis_sim.FakeKinesisClient(statedir)
    client.create_stream(StreamName="s", ShardCount=1)
    _put(client, "s", [f"pre{i}" for i in range(6)])

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
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
        if reader_mode == "partitioned":
            r = r.option("metadatadir", str(tmp_path / "meta"))
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    assert drain().count() == 6

    # reshard mid-stream: some pre-split records are still unread? No — all
    # were drained; now split and write post-split records to the children.
    client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=MID)
    _put(client, "s", [f"post{i}" for i in range(6)])

    # first post-split drain: the parent must be read to closure before the
    # children unlock; with single-batch availableNow triggers the children
    # may land in the next drain — run until counts stop growing.
    for _ in range(4):
        n = drain().count()
        if n == 12:
            break
    out = drain()
    assert out.count() == 12  # exactly once: nothing lost, nothing doubled
    post = out.filter(out.external_id.startswith("post"))
    assert post.count() == 6
    assert {r["shard_id"] for r in post.collect()} <= {"1", "2"}


@pytest.mark.parametrize("reader_mode", ["simple", "partitioned"])
def test_spark_reader_parent_records_precede_children(spark, tmp_path, reader_mode):
    """Records written to the parent BEFORE the split must be delivered even
    though new records already wait on the children, and a key that moved
    parent→child keeps its order (parent copy in an earlier or equal batch)."""
    kinesis_source.register(spark)
    statedir = str(tmp_path / "rb2")
    client = kinesis_sim.FakeKinesisClient(statedir)
    client.create_stream(StreamName="s", ShardCount=1)
    # same partition key before and after the split: order must hold
    _put(client, "s", ["k-old"], pk="hotkey")
    client.split_shard(StreamName="s", ShardToSplit="0", NewStartingHashKey=MID)
    _put(client, "s", ["k-new"], pk="hotkey")

    out_dir, ckpt = str(tmp_path / "out2"), str(tmp_path / "ck2")
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
    if reader_mode == "partitioned":
        r = r.option("metadatadir", str(tmp_path / "m2"))

    batches: list[set[str]] = []  # cumulative external_ids after each drain
    for _ in range(5):
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {row["external_id"] for row in spark.read.parquet(out_dir).collect()}
        batches.append(got)
        if got == {"k-old", "k-new"}:
            break

    assert batches[-1] == {"k-old", "k-new"}
    # the parent copy was delivered in a drain at or before the child copy
    first_old = next(i for i, b in enumerate(batches) if "k-old" in b)
    first_new = next(i for i, b in enumerate(batches) if "k-new" in b)
    assert first_old <= first_new
    # exactly once: two rows total, the moved key's copies on distinct shards
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 2
    assert {row["shard_id"] for row in rows if row["external_id"] == "k-new"} <= {"1", "2"}
