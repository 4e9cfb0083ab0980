"""CDC upsert materializer: log stream → latest-state snapshot."""

from datetime import datetime, timedelta, timezone

from messikinesisprovider_spark.log import MessiLog
from messikinesisprovider_spark.streaming import consume
from messikinesisprovider_spark.streaming.materialize import upsert_snapshot

T0 = datetime(2026, 6, 1, tzinfo=timezone.utc)


def test_snapshot_keeps_latest_per_key(spark, tmp_path):
    log = MessiLog(spark, str(tmp_path / "log"), n_shards=1)
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ck")

    def drain():
        upsert_snapshot(consume.stream_log(spark, log.root), snap, ckpt)
        return {
            r["external_id"]: dict(r["attributes"] or {})
            for r in spark.read.parquet(snap).collect()
        }

    log.publish("t", [
        {"partition_key": "p", "external_id": "k1", "attributes": {"v": "1"}},
        {"partition_key": "p", "external_id": "k2", "attributes": {"v": "2"}},
    ], now=T0)
    assert drain() == {"k1": {"v": "1"}, "k2": {"v": "2"}}

    # update k1, insert k3 — k2 untouched
    log.publish("t", [
        {"partition_key": "p", "external_id": "k1", "attributes": {"v": "10"}},
        {"partition_key": "p", "external_id": "k3", "attributes": {"v": "3"}},
    ], now=T0 + timedelta(seconds=1))
    assert drain() == {"k1": {"v": "10"}, "k2": {"v": "2"}, "k3": {"v": "3"}}

    # in-batch ordering: two updates to the same key in ONE batch → higher seq wins
    log.publish("t", [
        {"partition_key": "p", "external_id": "k2", "attributes": {"v": "20"}},
        {"partition_key": "p", "external_id": "k2", "attributes": {"v": "21"}},
    ], now=T0 + timedelta(seconds=2))
    assert drain()["k2"] == {"v": "21"}


def test_crash_between_swap_renames_recovers_staging(spark, tmp_path):
    """Crash after rmtree(snapshot) but before rename(staging): the staged
    dir holds the complete merged state (_SUCCESS present) and must be
    recovered — NOT fall through to the first-batch branch, which would
    rebuild from the delta alone and lose every previously materialized key."""
    import os
    import shutil

    log = MessiLog(spark, str(tmp_path / "log"), n_shards=1)
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ck")

    def drain():
        upsert_snapshot(consume.stream_log(spark, log.root), snap, ckpt)
        return {
            r["external_id"]: dict(r["attributes"] or {})
            for r in spark.read.parquet(snap).collect()
        }

    log.publish("t", [
        {"partition_key": "p", "external_id": "k1", "attributes": {"v": "1"}},
    ], now=T0)
    assert drain() == {"k1": {"v": "1"}}

    # simulate the crash window: completed staging exists, snapshot gone
    os.rename(snap, snap + ".staging")
    assert os.path.exists(snap + ".staging/_SUCCESS")

    log.publish("t", [
        {"partition_key": "p", "external_id": "k2", "attributes": {"v": "2"}},
    ], now=T0 + timedelta(seconds=1))
    out = drain()
    assert out == {"k1": {"v": "1"}, "k2": {"v": "2"}}  # k1 survived
    assert not os.path.exists(snap + ".staging")


def test_incomplete_first_batch_staging_is_discarded(spark, tmp_path):
    """A staging dir WITHOUT _SUCCESS is an interrupted first-batch write —
    it must be discarded, not promoted to a (corrupt) snapshot."""
    import os

    log = MessiLog(spark, str(tmp_path / "log"), n_shards=1)
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ck")
    os.makedirs(snap + ".staging")
    with open(snap + ".staging/part-incomplete.parquet", "wb") as f:
        f.write(b"not parquet")

    log.publish("t", [
        {"partition_key": "p", "external_id": "k1", "attributes": {"v": "1"}},
    ], now=T0)
    upsert_snapshot(consume.stream_log(spark, log.root), snap, ckpt)
    rows = {r["external_id"] for r in spark.read.parquet(snap).collect()}
    assert rows == {"k1"}
