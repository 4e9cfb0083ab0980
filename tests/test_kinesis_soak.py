"""Wide-stream soak for the executor-parallel partitioned reader (round 4).

The sidecar-offset design (sources/kinesis_partitioned.py) was TCK-tested at
25 shards / 200 records; this soaks it at 32 shards / tens of thousands of
records with a kill/restart mid-stream, exercising:

- max-merge under volume: many sidecar files per generation, every
  latestOffset fold picking the true per-shard maximum,
- restart-safety: the second query run resumes from the checkpoint and
  appends ONLY the records published after the first run (exactly-once),
- sidecar GC: committed generations get pruned, so metadata stays bounded
  no matter how long the stream runs,
- per-shard FIFO at volume.

Batched publishes keep the soak inside the CI budget (<60 s).
"""

from __future__ import annotations

from messikinesisprovider_spark import wire
from messikinesisprovider_spark.sources import kinesis_sim, kinesis_source

N_SHARDS = 32
PHASE1 = 25_000
PHASE2 = 25_000


def _publish(client, start: int, n: int) -> None:
    batch = []
    for i in range(start, start + n):
        batch.append(
            {
                "PartitionKey": f"pk{i}",
                "Data": wire.encode_message({"external_id": f"s{i}"}),
            }
        )
        if len(batch) == 500:  # the AWS PutRecords batch limit
            client.put_records(StreamName="s", Records=batch)
            batch = []
    if batch:
        client.put_records(StreamName="s", Records=batch)


def test_partitioned_reader_soak_32_shards_restart(spark, tmp_path):
    import os

    kinesis_source.register(spark)
    broker = str(tmp_path / "soakb")
    meta = str(tmp_path / "soakmeta")
    ckpt, out_dir = str(tmp_path / "soakck"), str(tmp_path / "soakout")
    client = kinesis_sim.FakeKinesisClient(broker)
    client.create_stream(StreamName="s", ShardCount=N_SHARDS)

    def drain():
        q = (
            spark.readStream.format("kinesismessi")
            .option("streamname", "s")
            .option(
                "clientfactory",
                "messikinesisprovider_spark.sources.kinesis_sim:client_from_options",
            )
            .option("statedir", broker)
            .option("pollintervalms", "10")
            .option("metadatadir", meta)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    # phase 1: first half of the stream, first query lifetime
    _publish(client, 0, PHASE1)
    out1 = drain()
    assert out1.count() == PHASE1

    # the "kill": the first query is gone; publish continues while no
    # consumer is running, then a NEW query resumes from the checkpoint
    _publish(client, PHASE1, PHASE2)
    out2 = drain()
    total = PHASE1 + PHASE2
    assert out2.count() == total  # appended exactly the new half — no replay

    # every shard took traffic and was consumed
    assert out2.select("shard_id").distinct().count() == N_SHARDS

    # exactly-once at the record level, not just the count
    assert out2.select("external_id").distinct().count() == total

    # per-shard FIFO under volume: within each shard the write order
    # (publish index) must be ordered by sequence number
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    viol = (
        out2.select(
            "shard_id",
            "sequence_number",
            F.regexp_extract("external_id", r"s(\d+)", 1).cast("long").alias("idx"),
        )
        .withColumn(
            "prev_idx",
            F.lag("idx").over(W.partitionBy("shard_id").orderBy("sequence_number")),
        )
        .filter(F.col("prev_idx").isNotNull() & (F.col("idx") <= F.col("prev_idx")))
        .count()
    )
    assert viol == 0

    # sidecar GC: only the last couple of generations survive the commits
    gens = [g for g in os.listdir(meta) if g.startswith("gen=")]
    assert 0 < len(gens) <= 4, f"sidecar GC left {len(gens)} generations: {gens}"
    # max-merge sanity: the surviving sidecar fold covers every shard
    from messikinesisprovider_spark.sources.kinesis_partitioned import _sidecar_scan

    _, seqs = _sidecar_scan(meta)
    assert len(seqs) == N_SHARDS
