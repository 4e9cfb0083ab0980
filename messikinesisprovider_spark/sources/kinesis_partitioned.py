"""Executor-parallel Kinesis streaming source: one InputPartition per shard.

The `SimpleDataSourceStreamReader` in kinesis_source.py fetches every shard
in the driver-side planning process — fine for tens of shards (per-shard
throughput is API-capped), but the reference's model is consumers on
independent threads (KinesisMessiShard.java:27-29), and a wide stream wants
the fetching spread across executors. This reader is the scale-correct
shape: the driver plans OFFSETS only; each microbatch fans out one
`InputPartition` per shard, and the GetRecords paging, rate-limit backoff
(F4) and expired-iterator recovery (F5) all run inside executor Python
workers — through the same `KinesisShardConsumer.to_tip()` loop and error
ladder as the simple reader's replay. Rows stream out of `read` as an
iterator — never materialized whole — so per-task memory is bounded by one
GetRecords page (F1).

Offset design — sequence offsets with an executor-written sidecar
-----------------------------------------------------------------
Kinesis has no "tip sequence" API: the driver cannot know a batch's end
sequence without fetching the data itself (which is exactly the simple
reader). The partitioned reader therefore follows the shape of the public
qubole/kinesis-sql connector (its HDFSMetadataCommitter): each batch's
tasks read from their start sequence to the shard tip *at read time*, and
report the last sequence actually consumed into a metadata directory
(`option("metadatadir", ...)`, one file per (generation, shard), written
atomically). The driver's `latestOffset` folds the sidecar back in:

    offset_n = {"gen": n, "shards": {shard: max sidecar seq so far}}

Sequences only grow, so max-merging across generations is restart-safe: a
replayed batch re-reads from its recorded start and simply extends through
anything that arrived since — the rewritten batch output and the next
batch's start stay consistent (no loss, no duplicates with a
batch-idempotent sink). `commit` garbage-collects old generations.

Caveats (documented, inherent to executor-reported offsets): a speculative
task attempt that out-read the committed attempt can advance the sidecar
past the committed output (max-wins); the sidecar needs a filesystem all
tasks and the driver share (local[n], NFS, or fuse-mounted object store);
and the metadatadir is offset state — pair it 1:1 with one query's
checkpointLocation, never reused or shared.

Reader selection: ``format("kinesismessi")`` uses this reader when
`metadatadir` is set; otherwise it falls back to the driver-side simple
reader, whose per-shard consumers carry poll pacing across microbatches.
Checkpoints are NOT interchangeable between the two readers.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Iterator

from pyspark.sql.datasource import DataSourceStreamReader, InputPartition

from .kinesis_source import _make_client, _to_row, shard_consumer


class KinesisShardSlice(InputPartition):
    """One shard's read assignment: AFTER start_seq ("" = initial position)
    through the shard tip at read time, reporting the end to the sidecar."""

    def __init__(self, shard_id: str, start_seq: str, gen: int, options: dict):
        self.shard_id = shard_id
        self.start_seq = start_seq
        self.gen = gen
        self.options = options


def _publish(directory: str, shard_id: str, last_seq: str, keep_first: bool = False) -> None:
    """Atomically publish `directory`/shard-<id>.json (temp file +
    os.replace). `keep_first` leaves an existing file alone: the first
    closure a shard records wins."""
    os.makedirs(directory, exist_ok=True)
    final = os.path.join(directory, f"shard-{shard_id}.json")
    if keep_first and os.path.exists(final):
        return
    tmp = final + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"shard_id": shard_id, "last_seq": last_seq}, f)
    os.replace(tmp, final)


def _scan(directory: str) -> Iterator[tuple[str, str]]:
    """(shard_id, last_seq) of every shard file `_publish` left in
    `directory`; a missing directory or a crashed task's torn write is
    skipped."""
    try:
        names = os.listdir(directory)
    except FileNotFoundError:
        return
    for fname in names:
        if not fname.endswith(".json"):
            continue
        try:
            with open(os.path.join(directory, fname)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if rec.get("shard_id"):
            yield rec["shard_id"], rec.get("last_seq", "")


def _generations(metadatadir: str) -> dict[int, str]:
    """generation number -> its gen=N directory."""
    try:
        names = os.listdir(metadatadir)
    except FileNotFoundError:
        return {}
    gens = {}
    for name in names:
        if name.startswith("gen=") and name[4:].isdecimal():
            gens[int(name[4:])] = os.path.join(metadatadir, name)
    return gens


def _closed(metadatadir: str) -> dict[str, str]:
    """shard_id -> final sequence of every shard read to closure. The
    closed/ directory lives OUTSIDE the gen=N directories so commit()'s
    generation GC never erases it — a GC'd closure would resurrect the
    drained parent in latestOffset with an empty start and replay it from
    the initial position."""
    return dict(_scan(os.path.join(metadatadir, "closed")))


def _sidecar_scan(metadatadir: str) -> tuple[int, dict[str, str]]:
    """(max generation seen, per-shard max last_seq across ALL generations).

    Max-merging is safe because sequences only grow; scanning every
    generation (rather than the newest) tolerates a crashed batch whose
    generation directory is missing some shards."""
    gens = _generations(metadatadir)
    seqs: dict[str, str] = {}
    for gen_dir in gens.values():
        for sid, seq in _scan(gen_dir):
            if seq and (not seqs.get(sid) or int(seq) > int(seqs[sid])):
                seqs[sid] = seq
    return max(gens, default=0), seqs


def _read_shard_slice(part: KinesisShardSlice) -> Iterator[tuple]:
    """Executor-side read AFTER start_seq to the shard tip: the consumer's
    to_tip() loop, with its F4 rate-limit backoff, F5 iterator recovery and
    F6 retry — no loss, no duplicates. The sidecar gets the last sequence
    actually yielded, also when Spark stops the iterator early."""
    options = part.options
    c = shard_consumer(_make_client(options), options, part.shard_id, part.start_seq)
    topic = options.get("topic", options["streamname"])
    last_seq = part.start_seq
    try:
        for msg in c.to_tip():
            last_seq = msg["provider"]["sequence_number"]
            yield _to_row(msg, topic)
    finally:
        # report the end of this slice — also when nothing was read, so the
        # sidecar stays a complete per-shard map for latestOffset
        metadatadir = options["metadatadir"]
        _publish(os.path.join(metadatadir, f"gen={part.gen}"), part.shard_id, last_seq)
        if c.shard_ended and not c.buffer:
            # every record of the closed shard was yielded: record the
            # durable closure so latestOffset retires it and unlocks its
            # children (the consumer learns of the closure on fetching the
            # final page, before that page's records are yielded)
            _publish(os.path.join(metadatadir, "closed"), part.shard_id, last_seq, keep_first=True)


class KinesisPartitionedStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.options = dict(options)
        self.stream_name = self.options["streamname"]
        # The sidecar is offset state: it must pair 1:1 with ONE query's
        # checkpointLocation. Reusing a metadatadir with a fresh checkpoint
        # (or sharing it between two queries) folds another run's consumed
        # sequences into latestOffset and skips their data.
        self.metadatadir = self.options["metadatadir"]
        self._client = None

    def client(self):
        if self._client is None:
            self._client = _make_client(self.options)
        return self._client

    def _eligible_shards(self, closed: dict[str, str]) -> list[str]:
        """Shard ids this batch may read, honoring resharding semantics:

        - a shard already read to closure (split/merge parent, durable
          `closed/` marker) is retired — its slice would only rewrite an
          empty sidecar entry forever;
        - a child shard is held back until EVERY parent still present in the
          listing is drained (parent-before-child, the per-key ordering
          contract). A parent absent from the listing was trimmed by
          retention — it cannot be read, so it does not block (the KCL
          behavior).
        """
        from .kinesis import list_shards  # paginated (HasMoreShards loop)

        shards = list_shards(self.client(), self.stream_name)
        present = {s["ShardId"] for s in shards}
        out = []
        for s in shards:
            sid = s["ShardId"]
            if sid in closed:
                continue
            parents = [
                p
                for p in (s.get("ParentShardId"), s.get("AdjacentParentShardId"))
                if p and p in present
            ]
            if any(p not in closed for p in parents):
                continue
            out.append(sid)
        return out

    def initialOffset(self) -> dict:
        return {
            "gen": 0,
            "shards": {sid: "" for sid in self._eligible_shards(_closed(self.metadatadir))},
        }

    def latestOffset(self) -> dict:
        # Tip discovery happens in executors, so "latest" = what the sidecar
        # reports + a new generation that makes the next batch visit every
        # eligible shard (re-enumerated, so resharding is picked up; new and
        # newly-unlocked child shards enter at "" = the initial position).
        max_gen, seqs = _sidecar_scan(self.metadatadir)
        eligible = self._eligible_shards(_closed(self.metadatadir))
        return {
            "gen": max_gen + 1,
            "shards": {sid: seqs.get(sid, "") for sid in eligible},
        }

    def partitions(self, start: dict, end: dict):
        # Every shard is visited every batch: executors find the tip.
        # The batch's data begins AFTER what the previous batch consumed,
        # which is exactly the sequence map captured in the END offset at
        # planning time (offset_n = consumed-through-batch n-1); the start
        # offset's map is one batch older. Replay re-plans from the same
        # end offset, so the range start is stable.
        return [
            KinesisShardSlice(sid, seq, end["gen"], self.options)
            for sid, seq in end.get("shards", {}).items()
        ]

    def read(self, partition: KinesisShardSlice) -> Iterator[tuple]:
        return _read_shard_slice(partition)

    def commit(self, end: dict) -> None:
        # GC sidecar generations older than the committed one minus one
        # (the max-merge scan needs no history once a newer gen is complete)
        keep_from = int(end.get("gen", 0)) - 1
        for gen, gen_dir in _generations(self.metadatadir).items():
            if gen < keep_from:
                shutil.rmtree(gen_dir, ignore_errors=True)
