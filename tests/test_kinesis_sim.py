"""The broker simulator's decoded shard cache and count sidecar
(sources/kinesis_sim.py): appends parse only the appended lines, rewrites
parse the whole file again, torn lines are never cached, eviction is LRU,
and pages read through the cache equal pages read cold."""

from __future__ import annotations

import base64
import json
import os
from collections import OrderedDict
from datetime import datetime, timezone

import pytest

from messikinesisprovider_spark.sources import kinesis_sim
from messikinesisprovider_spark.sources.kinesis_sim import FakeKinesisClient, format_sequence

T0 = 1_772_323_200.0  # 2026-03-01T00:00:00Z


@pytest.fixture(autouse=True)
def fresh_cache(monkeypatch):
    cache = OrderedDict()
    monkeypatch.setattr(kinesis_sim, "_SHARD_PARSE_CACHE", cache)
    return cache


class CountingJson:
    """Stands in for the `json` module inside kinesis_sim and counts the
    `json.loads` calls the shard parser makes (one per line it parses)."""

    def __init__(self):
        self.loads_calls = 0

    def __getattr__(self, name):
        return getattr(json, name)

    def loads(self, s):
        self.loads_calls += 1
        return json.loads(s)


@pytest.fixture
def counting_json(monkeypatch):
    counter = CountingJson()
    monkeypatch.setattr(kinesis_sim, "json", counter)
    return counter


def make_client(tmp_path, shards=1, name="s"):
    client = FakeKinesisClient(str(tmp_path / "broker"), clock=lambda: T0)
    client.create_stream(StreamName=name, ShardCount=shards)
    return client


def put(client, payloads, name="s", key="k"):
    return client.put_records(
        StreamName=name,
        Records=[{"PartitionKey": f"{key}{i}", "Data": p} for i, p in enumerate(payloads)],
    )


def line(seq: int, data: bytes, pk: str = "k", arrival_ms: int = int(T0 * 1000)) -> str:
    """One shard-file line, in the format put_records appends."""
    return json.dumps({
        "seq": format_sequence(seq),
        "partition_key": pk,
        "data": base64.b64encode(data).decode(),
        "arrival_ms": arrival_ms,
    }) + "\n"


def read_all(client, shard="0", name="s"):
    it = client.get_shard_iterator(
        StreamName=name, ShardId=shard, ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    return client.get_records(ShardIterator=it, Limit=10000)["Records"]


def datas(records):
    return [r["Data"] for r in records]


def test_append_parses_only_appended_lines(tmp_path, counting_json):
    client = make_client(tmp_path)
    put(client, [b"r%d" % i for i in range(20)])
    assert len(read_all(client)) == 20
    counting_json.loads_calls = 0
    put(client, [b"new%d" % i for i in range(3)])
    got = read_all(client)
    assert counting_json.loads_calls == 3
    assert datas(got) == [b"r%d" % i for i in range(20)] + [b"new%d" % i for i in range(3)]
    assert [r["SequenceNumber"] for r in got] == [format_sequence(i) for i in range(23)]
    counting_json.loads_calls = 0
    read_all(client)
    assert counting_json.loads_calls == 0  # unchanged file: served from the cache


def test_torn_trailing_line_is_not_served_or_cached(tmp_path, fresh_cache):
    client = make_client(tmp_path)
    put(client, [b"a", b"b"])
    path = client._shard_path("s", "0")
    assert datas(read_all(client)) == [b"a", b"b"]
    size = os.path.getsize(path)

    whole = line(2, b"c")
    with open(path, "a") as f:
        f.write(whole[:25])  # a writer mid-append, outside the lock
    assert datas(read_all(client)) == [b"a", b"b"]
    key, _, records = fresh_cache[path]
    assert key[1] == size and len(records) == 2  # the torn state was not cached

    with open(path, "a") as f:
        f.write(whole[25:])
    assert datas(read_all(client)) == [b"a", b"b", b"c"]
    assert fresh_cache[path][0][1] == os.path.getsize(path)


def test_torn_line_on_a_cold_read_is_not_cached(tmp_path, fresh_cache):
    client = make_client(tmp_path)
    path = client._shard_path("s", "0")
    with open(path, "w") as f:
        f.write(line(0, b"a") + line(1, b"b")[:10])
    assert datas(read_all(client)) == [b"a"]
    assert path not in fresh_cache


def _rewrite(path, text):
    ino = os.stat(path).st_ino
    with open(path, "w") as f:  # in place: same inode
        f.write(text)
    assert os.stat(path).st_ino == ino


@pytest.mark.parametrize("shape", ["truncate", "same_size", "longer_new_last_line"])
def test_rewrite_forces_full_parse(tmp_path, counting_json, shape):
    client = make_client(tmp_path)
    path = client._shard_path("s", "0")
    with open(path, "w") as f:
        f.write("".join(line(i, b"old-%d" % i) for i in range(4)))
    assert len(read_all(client)) == 4
    size = os.path.getsize(path)

    new = {
        "truncate": [b"new-0", b"new-1"],
        "same_size": [b"NEW-%d" % i for i in range(4)],
        "longer_new_last_line": [b"old-0", b"old-1", b"old-2", b"changed", b"new-4"],
    }[shape]
    _rewrite(path, "".join(line(i, d) for i, d in enumerate(new)))
    grown = os.path.getsize(path)
    assert {"truncate": grown < size, "same_size": grown == size,
            "longer_new_last_line": grown > size}[shape]

    counting_json.loads_calls = 0
    assert datas(read_all(client)) == new
    assert counting_json.loads_calls == len(new)  # every line parsed again


def test_new_inode_forces_full_parse(tmp_path, counting_json):
    client = make_client(tmp_path)
    put(client, [b"a", b"b"])
    path = client._shard_path("s", "0")
    read_all(client)
    tmp = path + ".new"
    with open(tmp, "w") as f:
        f.write(line(0, b"a") + line(1, b"b") + line(2, b"c"))
    os.replace(tmp, path)
    counting_json.loads_calls = 0
    assert datas(read_all(client)) == [b"a", b"b", b"c"]
    assert counting_json.loads_calls == 3


def _pages(client, iterator, limit=4):
    pages = []
    while iterator and len(pages) < 20:
        resp = client.get_records(ShardIterator=iterator, Limit=limit)
        pages.append((resp["Records"], resp["MillisBehindLatest"]))
        if not resp["Records"]:
            break
        iterator = resp["NextShardIterator"]
    return pages


def test_cached_pages_equal_cold_pages(tmp_path, fresh_cache):
    client = make_client(tmp_path, shards=3)
    for batch in range(4):
        client.clock = lambda batch=batch: T0 + 10 * batch
        put(client, [b"%d-%d-%s" % (batch, i, b"x" * i) for i in range(12)], key=f"b{batch}-")
        for sid in "012":
            read_all(client, sid)  # the cache grows append by append
    latest = {
        sid: client.get_shard_iterator(
            StreamName="s", ShardId=sid, ShardIteratorType="LATEST"
        )["ShardIterator"]
        for sid in "012"
    }
    client.clock = lambda: T0 + 40
    put(client, [b"after-latest-%d" % i for i in range(9)], key="late-")

    def resolve(sid):
        args = {
            "TRIM_HORIZON": {},
            "AT_TIMESTAMP": {"Timestamp": datetime.fromtimestamp(T0 + 20, tz=timezone.utc)},
            "AFTER_SEQUENCE_NUMBER": {"StartingSequenceNumber": format_sequence(2)},
        }
        its = {
            t: client.get_shard_iterator(
                StreamName="s", ShardId=sid, ShardIteratorType=t, **kw
            )["ShardIterator"]
            for t, kw in args.items()
        }
        its["LATEST"] = latest[sid]
        return its

    def read_everything():
        out = {}
        for sid in "012":
            for t, it in resolve(sid).items():
                out[sid, t] = (it, _pages(client, it))
        return out

    warm = read_everything()
    assert fresh_cache  # served through the cache
    fresh_cache.clear()
    cold = read_everything()
    assert warm == cold

    served = 0
    for _, pages in warm.values():
        for records, _ in pages:
            for r in records:
                served += 1
                assert type(r["Data"]) is bytes
                assert r["ApproximateArrivalTimestamp"].tzinfo == timezone.utc
    assert served > 0
    assert sum(len(r) for _, pages in
               (warm[sid, "LATEST"] for sid in "012") for r, _ in pages) == 9


def test_lru_keeps_a_shard_read_again(tmp_path, monkeypatch, fresh_cache):
    monkeypatch.setattr(kinesis_sim, "_SHARD_PARSE_CACHE_MAX", 3)
    client = FakeKinesisClient(str(tmp_path / "broker"), clock=lambda: T0)
    names = ["s0", "s1", "s2", "s3"]
    for n in names:
        client.create_stream(StreamName=n, ShardCount=1)
        put(client, [n.encode()], name=n)
    path = {n: client._shard_path(n, "0") for n in names}
    for n in names[:3]:
        read_all(client, name=n)
    read_all(client, name="s0")  # a hit moves s0 to the most recent end
    read_all(client, name="s3")
    assert list(fresh_cache) == [path["s2"], path["s0"], path["s3"]]


def test_count_sidecar_catches_same_length_rewrite(tmp_path):
    client = make_client(tmp_path)
    put(client, [b"aaaa", b"bbbb", b"cccc", b"dddd"])
    path = client._shard_path("s", "0")
    size = os.path.getsize(path)
    three = line(0, b"aaaa") + line(1, b"bbbb")
    pad = size - len(three) - len(line(2, b"", pk=""))
    three += line(2, b"", pk="p" * pad)
    _rewrite(path, three)
    assert os.path.getsize(path) == size
    resp = put(client, [b"next"])
    assert resp["Records"][0]["SequenceNumber"] == format_sequence(3)
    assert client._shard_count("s", "0") == 4
