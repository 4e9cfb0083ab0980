"""Streaming throughput bench: records/sec through the full Kinesis path.

Publishes N wire-encoded messages into the file-backed broker simulator
across S shards, then drains them end-to-end through the executor-parallel
Spark stream reader (GetRecords paging -> protobuf-envelope decode ->
provenance enrichment -> sink), and prints ONE JSON line with records/sec
for each leg.

Context for the numbers (BASELINE.md): the reference engine is AWS-API
bound by design — 1,000 records/s/shard sustained write and 5 GetRecords
calls/s/shard — so its single-node ceiling on an S-shard stream is
S x 1,000 rec/s sustained. Both legs here run against a local JSON-file
broker, so the measured rates are LOWER bounds on what the Spark machinery
itself sustains (since round 7 the simulator caches the parsed shard per
file size, so paging is O(records) rather than O(records^2) characters);
clearing the API envelope anyway demonstrates the engine side is not the
bottleneck.

Usage: python tools/stream_bench.py [n_records] [n_shards]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from messikinesisprovider_spark import wire
from messikinesisprovider_spark.session import get_spark
from messikinesisprovider_spark.sources import kinesis_sim, kinesis_source
from messikinesisprovider_spark.ulid import Ulid

N = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
SHARDS = int(sys.argv[2]) if len(sys.argv) > 2 else 8
T0_MS = 1767225600000  # 2026-01-01
PUT_CHUNK = 500  # the sink's chunk size (streaming/sink.py)


def main():
    workdir = tempfile.mkdtemp(prefix="stream_bench_")
    statedir = os.path.join(workdir, "broker")
    client = kinesis_sim.FakeKinesisClient(statedir)
    client.create_stream(StreamName="bench", ShardCount=SHARDS)

    # Pre-encode outside the timed window: the encode leg is Spark executor
    # work in production (sink.py encode_column) and is benched by bench.py's
    # UDF paths; here we time the broker legs.
    records = []
    for i in range(N):
        u = Ulid.of(T0_MS + i, i)
        payload = wire.encode_message(
            {
                "ulid_msb": u.msb,
                "ulid_lsb": u.lsb,
                "partition_key": f"k{i}",
                "external_id": f"ext{i}",
                "timestamp_ms": T0_MS + i,
                "attributes": {"n": str(i)},
            }
        )
        records.append({"PartitionKey": f"k{i}", "Data": payload})

    t0 = time.time()
    for lo in range(0, N, PUT_CHUNK):
        client.put_records(StreamName="bench", Records=records[lo : lo + PUT_CHUNK])
    publish_s = time.time() - t0

    spark = get_spark("stream_bench")
    kinesis_source.register(spark)
    name = "sb_" + uuid.uuid4().hex[:8]
    t0 = time.time()
    q = (
        spark.readStream.format("kinesismessi")
        .option("streamname", "bench")
        .option(
            "clientfactory",
            "messikinesisprovider_spark.sources.kinesis_sim:client_from_options",
        )
        .option("statedir", statedir)
        .option("metadatadir", os.path.join(workdir, "meta"))
        .option("maxrecordspershard", "10000")
        .option("pollintervalms", "10")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(workdir, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    consume_s = time.time() - t0
    delivered = spark.table(name).count()

    shutil.rmtree(workdir, ignore_errors=True)
    out = {
        "metric": "stream_throughput",
        "n_records": N,
        "n_shards": SHARDS,
        "delivered": delivered,
        "publish_rps": round(N / publish_s),
        "consume_e2e_rps": round(delivered / consume_s),
        "reference_envelope_rps": 1000 * SHARDS,
        "unit": "records/sec",
    }
    assert delivered == N, f"lost records: {delivered} != {N}"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
