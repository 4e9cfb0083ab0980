"""Structured-Streaming layer tests: source positioning, effectively-once
dedup, windows, and the retrying publish sink (SURVEY.md §7.1 M3)."""

import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from messikinesisprovider_spark import wire
from messikinesisprovider_spark.cursor import MessiCursor
from messikinesisprovider_spark.log import MessiLog
from messikinesisprovider_spark.sources.kinesis import KinesisTransport
from messikinesisprovider_spark.sources.kinesis_mock import SHARD_ID_FMT, MockKinesisClient
from messikinesisprovider_spark.streaming import consume
from messikinesisprovider_spark.streaming.sink import (
    PartialFailure,
    SinkError,
    publish_with_retry,
)

T0 = datetime(2026, 2, 1, 8, 0, 0, tzinfo=timezone.utc)


def fresh_name():
    return "t" + uuid.uuid4().hex[:12]


def drain(spark, df, tmp_path, output_mode="append"):
    name = fresh_name()
    consume.run_available_now(
        df, str(tmp_path / f"ckpt_{name}"), table=name, output_mode=output_mode
    )
    return spark.table(name)


@pytest.fixture()
def seeded_log(spark, tmp_path):
    log = MessiLog(spark, str(tmp_path / "slog"), n_shards=1)
    for i, e in enumerate(["a", "b", "c", "d"]):
        log.publish(
            "s-topic",
            [{"partition_key": "pk", "external_id": e, "ts": T0 + timedelta(minutes=i)}],
            now=T0 + timedelta(milliseconds=10 * i),
        )
    return log


def test_stream_delivers_all_in_order(spark, seeded_log, tmp_path):
    out = drain(spark, consume.stream_log(spark, seeded_log.root), tmp_path)
    rows = out.orderBy("sequence_number").collect()
    assert [r["external_id"] for r in rows] == ["a", "b", "c", "d"]
    # provenance intact through the stream
    assert all(r["provider"]["technology"] == "MessiLog" for r in rows)


def test_stream_from_sequence_cursor(spark, seeded_log, tmp_path):
    cur = MessiCursor.at_sequence("0", 2, inclusive=True)
    out = drain(spark, consume.stream_log(spark, seeded_log.root, cur), tmp_path)
    assert sorted(r["external_id"] for r in out.collect()) == ["c", "d"]


def test_stream_from_time_cursor(spark, seeded_log, tmp_path):
    cur = MessiCursor.at_time(T0 + timedelta(milliseconds=15))
    out = drain(spark, consume.stream_log(spark, seeded_log.root, cur), tmp_path)
    assert sorted(r["external_id"] for r in out.collect()) == ["c", "d"]


def test_stream_unresolvable_cursor_raises(spark, seeded_log):
    cur = MessiCursor.at_external_id("c", T0, tolerance=timedelta(minutes=1))
    with pytest.raises(ValueError, match="batch position resolution"):
        consume.stream_log(spark, seeded_log.root, cur)


def test_stream_log_over_empty_root_names_missing_partitions(spark, tmp_path):
    with pytest.raises(ValueError, match="shard_id="):
        consume.stream_log(spark, str(tmp_path))


def test_effectively_once_drops_replayed_ulids(spark, tmp_path):
    log = MessiLog(spark, str(tmp_path / "dlog"), n_shards=1)
    [m] = log.publish("t", [{"partition_key": "pk", "external_id": "dup"}], now=T0)
    # simulate at-least-once replay: same ULID appended again (the reference's
    # checkpoint-debounce replay window, FileBasedProgressTracker.java:94)
    log.publish(
        "t",
        [
            {
                "partition_key": "pk",
                "external_id": "dup",
                "ulid_msb": m["ulid_msb"],
                "ulid_lsb": m["ulid_lsb"],
            }
        ],
        now=T0 + timedelta(seconds=1),
    )
    raw = drain(spark, consume.stream_log(spark, log.root), tmp_path)
    assert raw.count() == 2
    deduped = drain(
        spark, consume.effectively_once(consume.stream_log(spark, log.root)), tmp_path
    )
    assert deduped.count() == 1


def test_windowed_counts(spark, seeded_log, tmp_path):
    agg = consume.windowed_counts(
        consume.stream_log(spark, seeded_log.root), window="2 minutes"
    )
    out = drain(spark, agg, tmp_path, output_mode="complete")
    rows = {r["window_start"]: r["n_messages"] for r in out.collect()}
    # ts = T0, T0+1m, T0+2m, T0+3m → windows [08:00, 08:02) = 2, [08:02, 08:04) = 2
    assert sum(rows.values()) == 4
    assert len(rows) == 2


def test_session_windows(spark, tmp_path):
    log = MessiLog(spark, str(tmp_path / "sesslog"), n_shards=1)
    # two bursts 2 h apart → two sessions for one key
    for off in [0, 1, 2, 120, 121]:
        log.publish(
            "t",
            [{"partition_key": "u1", "external_id": f"m{off}", "ts": T0 + timedelta(minutes=off)}],
            now=T0 + timedelta(minutes=off),
        )
    agg = consume.session_windows(
        consume.stream_log(spark, log.root), gap="30 minutes"
    )
    out = drain(spark, agg, tmp_path, output_mode="complete")
    rows = sorted(out.collect(), key=lambda r: r["session_start"])
    assert [r["n_messages"] for r in rows] == [3, 2]


# --- sink retry loop (KinesisMessiProducer.java:103-160) --------------------


def _broker(n_shards: int) -> MockKinesisClient:
    client = MockKinesisClient()
    client.create_stream(StreamName="s", ShardCount=n_shards)
    return client


def _wire(records: list[dict]) -> list[dict]:
    return [
        {"partition_key": r["partition_key"], "payload": wire.encode_message(r)}
        for r in records
    ]


def _stored_ids(client: MockKinesisClient, n_shards: int) -> list[str]:
    """External ids on the broker, shard by shard in sequence order."""
    ids = []
    for i in range(n_shards):
        it = client.get_shard_iterator(
            StreamName="s", ShardId=SHARD_ID_FMT.format(i), ShardIteratorType="TRIM_HORIZON"
        )["ShardIterator"]
        records = client.get_records(ShardIterator=it)["Records"]
        ids += [wire.decode_message(r["Data"])["external_id"] for r in records]
    return ids


def test_publish_retry_resends_only_failed_subset():
    client = _broker(1)
    records = _wire([{"partition_key": "pk", "external_id": str(i)} for i in range(5)])
    client.arm_partial_failure(every=2)  # the first round fails indices 1 and 3
    rounds = publish_with_retry(records, KinesisTransport("s", client=client))
    assert rounds == 2
    stored = _stored_ids(client, 1)
    # 0,2,4 landed first; 1,3 landed on retry — reordering hazard is the
    # documented contract (KinesisMessiProducer.java:112)
    assert sorted(stored) == ["0", "1", "2", "3", "4"]
    assert stored == ["0", "2", "4", "1", "3"]


def test_publish_retry_gives_up_after_max_rounds():
    calls = {"n": 0}

    def always_fail(batch):
        calls["n"] += 1
        raise PartialFailure(list(range(len(batch))))

    with pytest.raises(SinkError):
        publish_with_retry([{"partition_key": "p"}], always_fail, max_rounds=3)
    assert calls["n"] == 3


def test_foreach_batch_publisher_end_to_end(spark, seeded_log, tmp_path):
    from messikinesisprovider_spark.streaming.sink import foreach_batch_publisher

    client = _broker(2)
    transport = KinesisTransport("s", client=client)
    q = (
        consume.stream_log(spark, seeded_log.root)
        .writeStream.foreachBatch(
            foreach_batch_publisher(lambda: lambda batch: transport(_wire(batch)))
        )
        .option("checkpointLocation", str(tmp_path / "sink_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(_stored_ids(client, 2)) == ["a", "b", "c", "d"]


def test_foreach_partition_publisher_executor_side(spark, seeded_log, tmp_path):
    import glob
    import json
    import os
    import uuid

    from messikinesisprovider_spark.streaming.sink import foreach_partition_publisher

    out_dir = str(tmp_path / "sunk")
    os.makedirs(out_dir)

    def make_transport():
        # executor-side transport: append each batch as one JSON file
        def send(records):
            path = os.path.join(out_dir, f"batch-{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                json.dump([r["external_id"] for r in records], f)

        return send

    q = (
        consume.stream_log(spark, seeded_log.root)
        .writeStream.foreachBatch(foreach_partition_publisher(make_transport, batch_size=2))
        .option("checkpointLocation", str(tmp_path / "fp_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sent = []
    for path in glob.glob(os.path.join(out_dir, "*.json")):
        with open(path) as f:
            sent += json.load(f)
    assert sorted(sent) == ["a", "b", "c", "d"]
    # chunking honored: no file carries more than batch_size records
    for path in glob.glob(os.path.join(out_dir, "*.json")):
        with open(path) as f:
            assert len(json.load(f)) <= 2


def test_streaming_enrich_join_matches_batch(spark):
    from messikinesisprovider_spark.operators.relational import events_tbl, tbl
    from messikinesisprovider_spark.streaming.verified import streaming_enrich_join
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {
        (r["segment"], r["event_type"]): r["n_events"]
        for r in streaming_enrich_join(spark, sf).collect()
    }
    batch = (
        events_tbl(spark, sf)
        .join(
            tbl(spark, sf, "customer"),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r["segment"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert got == want


def test_late_data_beyond_watermark_is_dropped(spark, tmp_path):
    """Append-mode windowed aggregation: once the watermark finalizes a
    window, a straggler for that window is DISCARDED — the emitted row never
    changes and no duplicate row appears. This is the late-data contract the
    watermark exists to enforce."""
    log = MessiLog(spark, str(tmp_path / "latelog"), n_shards=1)

    def pub(eid, hours):
        log.publish(
            "t",
            [{"partition_key": "u", "external_id": eid, "ts": T0 + timedelta(hours=hours)}],
            now=T0,
        )

    for i in range(3):  # hours 0, 1, 2
        pub(f"on{i}", i)

    agg = consume.windowed_counts(
        consume.stream_log(spark, log.root), window="1 hour", watermark="30 minutes"
    )
    out_dir, ckpt = str(tmp_path / "lateout"), str(tmp_path / "lateck")

    def drain_parquet():
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
        return {
            r["window_start"]: r["n_messages"]
            for r in spark.read.parquet(out_dir).collect()
        }

    first = drain_parquet()  # watermark -> 1.5h: window [0,1) finalized
    assert first.get(T0.replace(tzinfo=None)) == 1

    pub("late", 0.25)  # straggler into the already-finalized [0,1) window
    pub("fresh", 5)  # advances the watermark to 4.5h

    final = drain_parquet()
    # [0,1) unchanged (late row dropped), [1,2) and [2,3) finalized with
    # exactly their on-time rows, nothing double-emitted
    naive = T0.replace(tzinfo=None)
    assert final[naive] == 1
    assert final[naive + timedelta(hours=1)] == 1
    assert final[naive + timedelta(hours=2)] == 1
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == len({r["window_start"] for r in rows})  # no dup windows
