"""Read/write Kinesis broker simulator with a boto3-shaped API.

The reference tests its consumer stack against an in-process fake broker
implementing getShardIterator/getRecords with fault injection
(simulator/KinesisAsyncClientSimulator.java:39-254, KinesisShardStream.java).
This is its twin, and the only broker in the package (``kinesis_mock`` is a
wire-shape skin over it), with two deliberate differences:

* **File-backed state.** Spark's Python DataSource planning and reading run
  in separate forked worker processes, so an in-memory fake would be invisible
  to them. All broker state lives under a state directory: any process that
  constructs ``FakeKinesisClient(statedir)`` sees the same streams — which is
  exactly how the real broker behaves across a cluster.
* **Multi-shard streams with resharding.** The reference simulator supports a
  single shard (KinesisAsyncClientSimulator.java:85-87). Here CreateStream
  splits the 128-bit hash space into equal ranges, put_records routes each
  record by the md5 point of its partition key over the OPEN shards' ranges
  (the real service's contract), and SplitShard / MergeShards close parents
  and hand their ranges to children, so every key stays on one lineage.

Iterator format: ``"<shard_id>;<seq12>;<epoch>"`` (reference's
``shardId;sequenceNumber`` plus an epoch, KinesisAsyncClientSimulator.java:
208-212). ``expire_all_iterators()`` bumps the epoch so every outstanding
iterator raises ``ExpiredIterator`` on next use — the test hook for the F5
recovery path. ``trigger_rate_limit_on_next_get_records()`` is the armed-once
fault flag of the reference (:60-62,183-189).

Sequence numbers are zero-padded 12-digit strings (KinesisShardStream.java:
30-33); AT_TIMESTAMP resolves to the first record whose arrival is >= the
timestamp, falling through to the next sequence (= LATEST) when none is
(KinesisShardStream.java:77-87).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import time
from datetime import datetime, timezone

from ..schema import format_sequence


class SimulatorError(Exception):
    """Base for simulated AWS service errors. `error_code` mirrors the AWS
    error code string so callers can classify us and botocore.ClientError
    with the same logic (sources/kinesis.py:error_code)."""

    error_code = "InternalFailure"


class ProvisionedThroughputExceeded(SimulatorError):
    error_code = "ProvisionedThroughputExceededException"


class ExpiredIterator(SimulatorError):
    error_code = "ExpiredIteratorException"


class ResourceNotFound(SimulatorError):
    error_code = "ResourceNotFoundException"


class InvalidArgument(SimulatorError):
    error_code = "InvalidArgumentException"


class ValidationError(SimulatorError):
    error_code = "ValidationException"


MAX_HASH_KEY = (1 << 128) - 1


# Per-process parsed-shard cache for _read_shard (size-validated; see its
# docstring). Process-local by construction, like the client itself.
_SHARD_PARSE_CACHE: dict[str, tuple[int, list[dict]]] = {}
_SHARD_PARSE_CACHE_MAX = 16


def _route(open_ranges: list[tuple[int, int, str]], pk: str) -> str:
    """The open shard whose hash range covers the 128-bit md5 point of a
    partition key — the documented PutRecords contract."""
    point = int.from_bytes(hashlib.md5((pk or "").encode()).digest(), "big")
    for lo, hi, sid in open_ranges:
        if lo <= point <= hi:
            return sid
    raise InvalidArgument(f"no open shard covers hash point of '{pk}'")


class FakeKinesisClient:
    """boto3-`client("kinesis")`-shaped sync client over a state directory."""

    def __init__(self, statedir: str, clock=None):
        self.statedir = statedir
        self.clock = clock or time.time  # epoch seconds; injectable for tests
        os.makedirs(statedir, exist_ok=True)

    # -- cross-process serialization ---------------------------------------
    # The real service serializes writes server-side (per-shard sequence
    # assignment is atomic). This broker's state is shared FILES, and since
    # round 6 the DataSourceWriter publishes from PARALLEL executor worker
    # processes — so every mutating API takes an exclusive flock on the
    # state directory: sequence numbers stay dense and unique, appends
    # never interleave mid-line, and the count sidecar can't be torn.
    # Readers take the same lock (cheap here) so they never observe a
    # half-flushed append.
    def _lock(self):
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def held():
            with open(os.path.join(self.statedir, ".lock"), "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)

        return held()

    # -- state files -------------------------------------------------------
    def _streams_path(self) -> str:
        return os.path.join(self.statedir, "streams.json")

    def _faults_path(self) -> str:
        return os.path.join(self.statedir, "faults.json")

    def _shard_path(self, stream: str, shard_id: str) -> str:
        return os.path.join(self.statedir, f"stream_{stream}", f"shard_{shard_id}.jsonl")

    def _load(self, path: str, default):
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return default

    def _store(self, path: str, obj) -> None:
        tmp = f"{path}.tmp-{os.getpid()}"  # per-process: parallel writers
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    def _store_sidecar(self, path: str, obj) -> None:
        """Plain (non-atomic) write for derived caches like the .count
        sidecar: writers hold the flock, and readers (_load tolerates
        ValueError; _shard_count validates size) treat a torn file as a
        miss and recount — so the tempfile+os.replace dance (the dominant
        cost of the publish path: 1.5 s of a 4.2 s 100k-record publish)
        buys nothing here. Authoritative state (streams.json, faults,
        reshard metadata) keeps the atomic _store."""
        with open(path, "w") as f:
            json.dump(obj, f)

    def _streams(self) -> dict:
        return self._load(self._streams_path(), {})

    # -- shard metadata ------------------------------------------------------
    # streams.json keeps its {name: [shard_id, ...]} shape (tests append to
    # it directly); each shard's lineage, closure and hash range live in the
    # reshard_<stream>.json sidecar that create_stream writes. A shard listed
    # in streams.json but absent from the sidecar (a test poking a shard in)
    # is readable, parentless and open, but receives no routed records.
    def _reshard_path(self, stream: str) -> str:
        return os.path.join(self.statedir, f"reshard_{stream}.json")

    def _reshard(self, stream: str) -> dict:
        return self._load(self._reshard_path(stream), {})

    def _next_shard_ids(self, shards: list[str], k: int) -> list[str]:
        base = max(int(s) for s in shards) + 1
        return [str(base + i) for i in range(k)]

    def _faults(self) -> dict:
        return self._load(self._faults_path(), {"rate_limit_next": False, "epoch": 0})

    # -- fault injection (test hooks) --------------------------------------
    def trigger_rate_limit_on_next_get_records(self) -> None:
        f = self._faults()
        f["rate_limit_next"] = True
        self._store(self._faults_path(), f)

    def expire_all_iterators(self) -> None:
        f = self._faults()
        f["epoch"] = f.get("epoch", 0) + 1
        self._store(self._faults_path(), f)

    # -- admin API (KinesisAsyncClientSimulator.java:74-127) ---------------
    def create_stream(self, StreamName: str, ShardCount: int = 1) -> dict:
        streams = self._streams()
        if StreamName not in streams:
            # the real service's layout: equal slices of the 128-bit hash
            # space, open and parentless (sidecar before the stream appears)
            width = (MAX_HASH_KEY + 1) // ShardCount
            self._store(self._reshard_path(StreamName), {
                str(i): {"parents": [], "end_count": None, "hash": [
                    str(i * width),
                    str((i + 1) * width - 1 if i < ShardCount - 1 else MAX_HASH_KEY),
                ]}
                for i in range(ShardCount)
            })
            streams[StreamName] = [str(i) for i in range(ShardCount)]
            self._store(self._streams_path(), streams)
            os.makedirs(os.path.join(self.statedir, f"stream_{StreamName}"), exist_ok=True)
        return {}

    def list_streams(self, Limit: int = 100, ExclusiveStartStreamName: str | None = None) -> dict:
        names = sorted(self._streams())
        if ExclusiveStartStreamName is not None:
            names = [n for n in names if n > ExclusiveStartStreamName]
        page = names[:Limit]
        return {"StreamNames": page, "HasMoreStreams": len(names) > len(page)}

    # -- resharding (SplitShard / MergeShards, AWS API reference shapes) -----
    # The reference simulator sidesteps resharding entirely (single shard,
    # KinesisAsyncClientSimulator.java:85-87,113-115); real streams reshard,
    # and the consumer contract is parent-before-child delivery. The closed
    # parent keeps its records (readable until retention) but accepts no new
    # ones; GetRecords returns NextShardIterator=None once a closed shard is
    # drained — the signal consumers use to fail over to the children.
    # Like the real service we skip nothing else: status transitions
    # (UPDATING) are elided — streams are immediately ACTIVE, same as
    # create_stream.
    def split_shard(self, StreamName: str, ShardToSplit: str, NewStartingHashKey: str) -> dict:
        with self._lock():
            return self._split_shard_locked(StreamName, ShardToSplit, NewStartingHashKey)

    def _split_shard_locked(
        self, StreamName: str, ShardToSplit: str, NewStartingHashKey: str
    ) -> dict:
        streams = self._streams()
        if StreamName not in streams:
            raise ResourceNotFound(f"streamName does not exist: '{StreamName}'")
        shards = streams[StreamName]
        meta = self._reshard(StreamName)
        if ShardToSplit not in meta:
            raise ResourceNotFound(f"stream does not contain shardId: '{ShardToSplit}'")
        ent = meta[ShardToSplit]
        if ent["end_count"] is not None:
            raise InvalidArgument(f"Shard {ShardToSplit} is not OPEN")
        lo, hi = int(ent["hash"][0]), int(ent["hash"][1])
        try:
            key = int(NewStartingHashKey)
        except (TypeError, ValueError):
            raise ValidationError(f"Invalid NewStartingHashKey: {NewStartingHashKey}")
        if not lo < key <= hi:
            raise InvalidArgument(
                f"NewStartingHashKey {NewStartingHashKey} is not within the "
                f"hash key range of shard {ShardToSplit} ({lo}..{hi})"
            )
        child_lo, child_hi = self._next_shard_ids(shards, 2)
        ent["end_count"] = self._shard_count(StreamName, ShardToSplit)
        meta[child_lo] = {"parents": [ShardToSplit], "end_count": None,
                          "hash": [str(lo), str(key - 1)]}
        meta[child_hi] = {"parents": [ShardToSplit], "end_count": None,
                          "hash": [str(key), str(hi)]}
        shards.extend([child_lo, child_hi])
        self._store(self._reshard_path(StreamName), meta)
        self._store(self._streams_path(), streams)
        return {}

    def merge_shards(self, StreamName: str, ShardToMerge: str, AdjacentShardToMerge: str) -> dict:
        with self._lock():
            return self._merge_shards_locked(StreamName, ShardToMerge, AdjacentShardToMerge)

    def _merge_shards_locked(
        self, StreamName: str, ShardToMerge: str, AdjacentShardToMerge: str
    ) -> dict:
        streams = self._streams()
        if StreamName not in streams:
            raise ResourceNotFound(f"streamName does not exist: '{StreamName}'")
        shards = streams[StreamName]
        meta = self._reshard(StreamName)
        for sid in (ShardToMerge, AdjacentShardToMerge):
            if sid not in meta:
                raise ResourceNotFound(f"stream does not contain shardId: '{sid}'")
        a, b = meta[ShardToMerge], meta[AdjacentShardToMerge]
        if a["end_count"] is not None or b["end_count"] is not None:
            raise InvalidArgument("both shards must be OPEN to merge")
        a_lo, a_hi = int(a["hash"][0]), int(a["hash"][1])
        b_lo, b_hi = int(b["hash"][0]), int(b["hash"][1])
        if a_hi + 1 != b_lo and b_hi + 1 != a_lo:
            raise InvalidArgument(
                f"shards {ShardToMerge} and {AdjacentShardToMerge} are not "
                "adjacent in the hash key space"
            )
        (child,) = self._next_shard_ids(shards, 1)
        a["end_count"] = self._shard_count(StreamName, ShardToMerge)
        b["end_count"] = self._shard_count(StreamName, AdjacentShardToMerge)
        meta[child] = {
            # parents[0] = ParentShardId, parents[1] = AdjacentParentShardId
            "parents": [ShardToMerge, AdjacentShardToMerge],
            "end_count": None,
            "hash": [str(min(a_lo, b_lo)), str(max(a_hi, b_hi))],
        }
        shards.append(child)
        self._store(self._reshard_path(StreamName), meta)
        self._store(self._streams_path(), streams)
        return {}

    def describe_stream(
        self,
        StreamName: str,
        Limit: int = 10,
        ExclusiveStartShardId: str | None = None,
    ) -> dict:
        # Honors Limit / ExclusiveStartShardId / HasMoreShards like real
        # Kinesis, so TCK tests with >10 shards exercise the pagination loop
        # (KinesisUtils.java:63-96). Shard ids order numerically — the order
        # of the real service's zero-padded ids.
        streams = self._streams()
        if StreamName not in streams:
            raise ResourceNotFound(f"Stream does not exist: {StreamName}")
        shards = sorted(streams[StreamName], key=int)
        if ExclusiveStartShardId is not None:
            shards = [sid for sid in shards if int(sid) > int(ExclusiveStartShardId)]
        page = shards[:Limit]
        meta = self._reshard(StreamName)
        out = []
        for sid in page:
            ent = meta.get(sid)
            d: dict = {"ShardId": sid}
            if ent:
                if ent["parents"]:
                    d["ParentShardId"] = ent["parents"][0]
                if len(ent["parents"]) > 1:
                    d["AdjacentParentShardId"] = ent["parents"][1]
                d["HashKeyRange"] = {
                    "StartingHashKey": ent["hash"][0],
                    "EndingHashKey": ent["hash"][1],
                }
                seq_range = {"StartingSequenceNumber": format_sequence(0)}
                if ent["end_count"] is not None:
                    # closed shard: the range has an end (the AWS closure marker)
                    seq_range["EndingSequenceNumber"] = format_sequence(
                        max(0, ent["end_count"] - 1)
                    )
                d["SequenceNumberRange"] = seq_range
            out.append(d)
        return {
            "StreamDescription": {
                "StreamName": StreamName,
                "StreamStatus": "ACTIVE",
                "Shards": out,
                "HasMoreShards": len(shards) > len(page),
            }
        }

    # -- data plane --------------------------------------------------------
    def _read_shard(self, stream: str, shard_id: str) -> list[dict]:
        """Parsed shard records, through a size-validated cache.

        get_records pages a shard Limit records at a time, so a consumer
        draining an n-record shard used to re-parse the whole JSONL n/Limit
        times — O(n²) characters parsed, and the dominant cost of the
        end-to-end reshard/merge pipelines (measured 10.6 s of a 17 s run at
        sf0.1). Stronger contract than the ``_shard_count`` sidecar: the
        cache is keyed on (size, mtime_ns), so both appends (put_records or
        a test poking the file directly) AND same-size in-place rewrites
        invalidate it; callers never mutate the returned rows (get_records
        builds fresh dicts per page). A torn read — a concurrent writer
        appending between our stat and our read, leaving a partial final
        JSON line — surfaces as ValueError; treated as a miss (returns the
        complete-line prefix without caching, so the next call re-reads).
        """
        path = self._shard_path(stream, shard_id)
        try:
            st = os.stat(path)
        except OSError:
            return []
        key = (st.st_size, st.st_mtime_ns)
        hit = _SHARD_PARSE_CACHE.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]
        records: list[dict] = []
        torn = False
        try:
            with open(path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    try:
                        records.append(json.loads(line))
                    except ValueError:
                        torn = True  # partial trailing line mid-append
                        break
        except OSError:
            return []
        if torn:
            return records  # complete prefix, uncached — next call re-reads
        while len(_SHARD_PARSE_CACHE) >= _SHARD_PARSE_CACHE_MAX:
            _SHARD_PARSE_CACHE.pop(next(iter(_SHARD_PARSE_CACHE)))
        _SHARD_PARSE_CACHE[path] = (key, records)
        return records

    def _shard_count(self, stream: str, shard_id: str) -> int:
        """Record count of a shard in O(1) via a size-validated sidecar.

        put_records only needs the count (for the next sequence number), and
        re-parsing the whole JSONL per call made publishing O(n²). The
        sidecar caches (count, file_size); any out-of-band append (tests
        write shard files directly to simulate resharding) changes the file
        size and forces a recount, so the cache can never go silently stale.
        """
        path = self._shard_path(stream, shard_id)
        try:
            size = os.path.getsize(path)
        except OSError:
            return 0
        meta = self._load(path + ".count", None)
        if isinstance(meta, dict) and meta.get("size") == size:
            return int(meta["count"])
        with open(path) as f:
            return sum(1 for line in f if line.strip())

    def put_records(self, StreamName: str, Records: list[dict]) -> dict:
        with self._lock():
            return self._put_records_locked(StreamName, Records)

    def _put_records_locked(self, StreamName: str, Records: list[dict]) -> dict:
        if StreamName not in self._streams():
            raise ResourceNotFound(f"streamName does not exist: '{StreamName}'")
        # closed parents accept no new records — the AWS contract
        open_ranges = [
            (int(ent["hash"][0]), int(ent["hash"][1]), sid)
            for sid, ent in self._reshard(StreamName).items()
            if ent["end_count"] is None
        ]
        now_ms = int(self.clock() * 1000)
        results = []
        appends: dict[str, list[dict]] = {}
        counts: dict[str, int] = {}  # only the shards this call routes to
        for rec in Records:
            data = rec["Data"]
            if isinstance(data, str):
                data = data.encode()
            sid = _route(open_ranges, rec["PartitionKey"])
            if sid not in counts:
                counts[sid] = self._shard_count(StreamName, sid)
            seq = format_sequence(counts[sid])
            counts[sid] += 1
            appends.setdefault(sid, []).append(
                {
                    "seq": seq,
                    "partition_key": rec["PartitionKey"],
                    "data": base64.b64encode(data).decode(),
                    "arrival_ms": now_ms,
                }
            )
            results.append({"ShardId": sid, "SequenceNumber": seq})
        for sid, rows in appends.items():
            path = self._shard_path(StreamName, sid)
            with open(path, "a") as f:
                f.write("".join(json.dumps(r) + "\n" for r in rows))
            self._store_sidecar(
                path + ".count", {"count": counts[sid], "size": os.path.getsize(path)}
            )
        return {"FailedRecordCount": 0, "Records": results}

    def get_shard_iterator(
        self,
        StreamName: str,
        ShardId: str,
        ShardIteratorType: str,
        StartingSequenceNumber: str | None = None,
        Timestamp=None,
    ) -> dict:
        with self._lock():
            return self._get_shard_iterator_locked(
                StreamName, ShardId, ShardIteratorType,
                StartingSequenceNumber, Timestamp,
            )

    def _get_shard_iterator_locked(
        self,
        StreamName: str,
        ShardId: str,
        ShardIteratorType: str,
        StartingSequenceNumber: str | None = None,
        Timestamp=None,
    ) -> dict:
        streams = self._streams()
        if StreamName not in streams:
            raise ResourceNotFound(f"streamName does not exist: '{StreamName}'")
        if ShardId not in streams[StreamName]:
            raise ResourceNotFound(f"stream does not contain shardId: '{ShardId}'")
        records = self._read_shard(StreamName, ShardId)
        if ShardIteratorType in ("AT_SEQUENCE_NUMBER", "AFTER_SEQUENCE_NUMBER"):
            if StartingSequenceNumber is None:
                raise ValidationError(
                    f"StartingSequenceNumber is required for iterator type {ShardIteratorType}"
                )
            seq = int(StartingSequenceNumber) + (ShardIteratorType == "AFTER_SEQUENCE_NUMBER")
        elif ShardIteratorType == "TRIM_HORIZON":
            seq = 0
        elif ShardIteratorType == "LATEST":
            seq = len(records)
        elif ShardIteratorType == "AT_TIMESTAMP":
            if Timestamp is None:
                raise ValidationError("Timestamp is required for iterator type AT_TIMESTAMP")
            ts = Timestamp
            if isinstance(ts, datetime):
                if ts.tzinfo is None:
                    ts = ts.replace(tzinfo=timezone.utc)
                ts_ms = int(ts.timestamp() * 1000)
            else:
                ts_ms = int(float(ts) * 1000)
            seq = len(records)  # falls through to LATEST if none at/after ts
            for i, r in enumerate(records):
                if r["arrival_ms"] >= ts_ms:
                    seq = i
                    break
        else:
            raise ValidationError(f"shardIteratorType unknown: {ShardIteratorType}")
        epoch = self._faults().get("epoch", 0)
        return {"ShardIterator": f"{StreamName}|{ShardId};{format_sequence(seq)};{epoch}"}

    def get_records(self, ShardIterator: str, Limit: int = 1000) -> dict:
        if not 1 <= Limit <= 10000:
            raise ValidationError(f"limit must be between 1 and 10000, got {Limit}")
        with self._lock():
            return self._get_records_locked(ShardIterator, Limit)

    def _get_records_locked(self, ShardIterator: str, Limit: int) -> dict:
        stream, rest = ShardIterator.split("|", 1)
        shard_id, seq_s, epoch_s = rest.split(";")
        faults = self._faults()
        if int(epoch_s) != faults.get("epoch", 0):
            raise ExpiredIterator("Iterator expired")
        if faults.get("rate_limit_next"):
            faults["rate_limit_next"] = False
            self._store(self._faults_path(), faults)
            raise ProvisionedThroughputExceeded(
                f"Rate exceeded for shard {shard_id} in stream {stream}"
            )
        records = self._read_shard(stream, shard_id)
        start = int(seq_s)
        page = records[start : start + Limit]
        next_seq = int(page[-1]["seq"]) + 1 if page else start
        out = [
            {
                "SequenceNumber": r["seq"],
                "PartitionKey": r["partition_key"],
                "Data": base64.b64decode(r["data"]),
                "ApproximateArrivalTimestamp": datetime.fromtimestamp(
                    r["arrival_ms"] / 1000, tz=timezone.utc
                ),
            }
            for r in page
        ]
        # Closed shard fully drained → NextShardIterator null (the AWS
        # end-of-shard signal consumers fail over to the children on).
        ent = self._reshard(stream).get(shard_id)
        if ent and ent["end_count"] is not None and next_seq >= ent["end_count"]:
            next_it = None
        else:
            next_it = f"{stream}|{shard_id};{format_sequence(next_seq)};{faults.get('epoch', 0)}"
        return {
            "Records": out,
            "NextShardIterator": next_it,
            "MillisBehindLatest": 1000 * max(0, len(records) - next_seq),
        }


def client_from_options(options: dict) -> FakeKinesisClient:
    """Client factory entry point for the Spark source (see kinesis_source.py):
    option ``clientfactory=messikinesisprovider_spark.sources.kinesis_sim:client_from_options``
    plus ``statedir=...`` reconstructs the simulator in any worker process."""
    return FakeKinesisClient(options["statedir"])
