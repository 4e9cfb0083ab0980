"""Kinesis binding: cursor mapping, the GetRecords consumer, stream admin.

Maps the engine's cursor/publish contract onto actual Kinesis primitives, the
way the reference does natively:

- cursors → ShardIteratorType (the switch at KinesisStreamingBuffer.java:
  247-281): NOW→LATEST, OLDEST_RETAINED→TRIM_HORIZON, AT_PROVIDER_TIME→
  AT_TIMESTAMP, AT_PROVIDER_SEQUENCE→AT/AFTER_SEQUENCE_NUMBER; AT_ULID and
  AT_EXTERNAL_ID seek AT_TIMESTAMP at (t − tolerance) and apply the residual
  client-side, exactly like the reference (KinesisMessiStreamingConsumer.java
  :81-148).
- reads → `KinesisShardConsumer`, the one GetRecords polling loop every read
  path in the package runs on (both stream readers and the replay).
- publish → PutRecords batches with the failed-subset retry loop
  (streaming/sink.publish_with_retry is transport-agnostic; this module
  provides the boto3 transport).
- stream admin → create/describe/wait-active (KinesisUtils.java:24-96).

Everything here takes a boto3-shaped client: a real ``boto3.client
("kinesis")`` in deployment, the file-backed `kinesis_sim` broker in tests
and benchmarks. boto3 itself is imported only where a real client is built
(`KinesisTransport` without a client, `kinesis_source._make_client` without
a clientfactory); without boto3 installed those raise `KinesisUnavailable`.
Both stream readers (kinesis_source.py, kinesis_partitioned.py) and the
writer (kinesis_writer.py) import this module.
"""

from __future__ import annotations

import importlib.util

from ..cursor import CursorType, MessiCursor

# boto3 takes ~0.2 s to import; it is imported only where a real AWS client is
# built (KinesisTransport, kinesis_source._make_client without clientfactory)
HAVE_BOTO3 = importlib.util.find_spec("boto3") is not None


class KinesisUnavailable(RuntimeError):
    def __init__(self):
        super().__init__(
            "boto3 is not installed in this environment; the Kinesis binding "
            "is a deployment-time feature. Use the messilog DataSource or the "
            "parquet file stream for local development."
        )


def cursor_to_iterator_args(cursor: MessiCursor) -> dict:
    """Translate a cursor into GetShardIterator kwargs (pure function —
    unit-testable without AWS)."""
    t = cursor.type
    if t is CursorType.NOW:
        return {"ShardIteratorType": "LATEST"}
    if t is CursorType.OLDEST_RETAINED:
        return {"ShardIteratorType": "TRIM_HORIZON"}
    if t is CursorType.AT_PROVIDER_TIME:
        return {"ShardIteratorType": "AT_TIMESTAMP", "Timestamp": cursor.timestamp}
    if t is CursorType.AT_PROVIDER_SEQUENCE:
        return {
            "ShardIteratorType": "AT_SEQUENCE_NUMBER" if cursor.inclusive else "AFTER_SEQUENCE_NUMBER",
            "StartingSequenceNumber": f"{cursor.sequence_number:012d}",
        }
    if t is CursorType.AT_ULID:
        # AT_TIMESTAMP at ulid.time − 60 s; residual ULID compare client-side
        # (KinesisStreamingBuffer.java:271-275)
        from datetime import datetime, timezone

        seek = datetime.fromtimestamp(cursor.ulid.timestamp_ms / 1000, tz=timezone.utc) - cursor.tolerance
        return {"ShardIteratorType": "AT_TIMESTAMP", "Timestamp": seek}
    if t is CursorType.AT_EXTERNAL_ID:
        return {
            "ShardIteratorType": "AT_TIMESTAMP",
            "Timestamp": cursor.timestamp - cursor.tolerance,
        }
    raise ValueError(f"unmapped cursor type {t}")


class KinesisTransport:
    """put_records transport for streaming.sink.publish_with_retry."""

    def __init__(self, stream_name: str, client=None):
        if client is None:
            if not HAVE_BOTO3:
                raise KinesisUnavailable()
            import boto3

            client = boto3.client("kinesis")
        self.client = client
        self.stream_name = stream_name

    def __call__(self, records: list[dict]) -> None:
        from ..streaming.sink import PartialFailure

        entries = [
            {"PartitionKey": r["partition_key"], "Data": r.get("payload", b"")}
            for r in records
        ]
        resp = self.client.put_records(StreamName=self.stream_name, Records=entries)
        if resp.get("FailedRecordCount", 0) > 0:
            failed = [
                i
                for i, rec in enumerate(resp.get("Records", []))
                if rec.get("ErrorCode") is not None
            ]
            raise PartialFailure(failed)


def error_code(exc: BaseException) -> str | None:
    """AWS error code of an exception, whether it is a botocore ClientError
    (``exc.response["Error"]["Code"]``) or a simulator error (``.error_code``
    class attribute, kinesis_sim.py) — one classification path for both."""
    code = getattr(exc, "error_code", None)
    if isinstance(code, str):
        return code
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        return resp.get("Error", {}).get("Code")
    return None


def list_stream_names(client) -> list[str]:
    """All stream names, paginated 20 at a time via ExclusiveStartStreamName
    (KinesisUtils.java:24-49)."""
    names: list[str] = []
    exclusive_start = None
    while True:
        kwargs = {"Limit": 20}
        if exclusive_start is not None:
            kwargs["ExclusiveStartStreamName"] = exclusive_start
        resp = client.list_streams(**kwargs)
        page = resp.get("StreamNames", [])
        if not page:
            break
        names.extend(page)
        exclusive_start = page[-1]
        if not resp.get("HasMoreStreams"):
            break
    return names


def list_shards(client, stream_name: str) -> list[dict]:
    """All shard dicts of a stream (ShardId + resharding lineage:
    ParentShardId / AdjacentParentShardId when present), paginated 10 at a
    time via ExclusiveStartShardId / HasMoreShards (KinesisUtils.java:63-96).
    Real Kinesis pages DescribeStream; reading only the first page silently
    drops every shard past it on wide streams. After a SplitShard /
    MergeShards the listing contains BOTH the closed parents (readable until
    retention trims them) and their children — consumers must drain a parent
    before starting its children to preserve per-key ordering."""
    shards: list[dict] = []
    exclusive_start = None
    while True:
        kwargs = {"StreamName": stream_name, "Limit": 10}
        if exclusive_start is not None:
            kwargs["ExclusiveStartShardId"] = exclusive_start
        desc = client.describe_stream(**kwargs)["StreamDescription"]
        page = desc.get("Shards", [])
        shards.extend(page)
        if not desc.get("HasMoreShards") or not page:
            break
        exclusive_start = page[-1]["ShardId"]
    return shards


def list_shard_ids(client, stream_name: str) -> list[str]:
    """Shard ids only — see list_shards for the paginated listing contract."""
    return [s["ShardId"] for s in list_shards(client, stream_name)]


def create_stream(client, stream_name: str, shard_count: int = 1) -> None:
    """CreateStream (KinesisUtils.java:51-61); pair with wait_stream_active
    for the reference's create-then-wait startup (S7)."""
    client.create_stream(StreamName=stream_name, ShardCount=shard_count)


def ensure_stream(client, stream_name: str, shard_count: int = 1, poll_s: int = 3) -> None:
    """Auto-create on startup: create if absent, then wait ACTIVE
    (KinesisMessiClientFactory auto-create + KinesisUtils.java:63-96)."""
    if stream_name not in list_stream_names(client):
        create_stream(client, stream_name, shard_count)
    wait_stream_active(client, stream_name, poll_s=poll_s)


def wait_stream_active(client, stream_name: str, poll_s: int = 3, timeout_s: int = 600) -> None:
    """Poll DescribeStream every `poll_s` until ACTIVE, give up at `timeout_s`
    (KinesisUtils.java:63-96 constants)."""
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        desc = client.describe_stream(StreamName=stream_name)
        if desc["StreamDescription"]["StreamStatus"] == "ACTIVE":
            return
        time.sleep(poll_s)
    raise TimeoutError(f"stream {stream_name} not ACTIVE after {timeout_s}s")


def decode_record(rec: dict, shard_id: str) -> dict:
    """GetRecords record → decoded message dict with provenance stamping:
    first-hop provider set once, current hop overwritten on every read
    (KinesisStreamingBuffer.java:178-207)."""
    from .. import wire

    arrival = rec["ApproximateArrivalTimestamp"]
    arrival_ms = int(arrival.timestamp() * 1000)
    msg = wire.decode_message(bytes(rec["Data"]))
    provider = {
        "technology": "Kinesis",
        "published_ts": arrival_ms,
        "shard_id": shard_id,
        "sequence_number": rec["SequenceNumber"],
    }
    if not msg.get("first_provider"):
        msg["first_provider"] = provider
    msg["provider"] = provider
    msg["partition_key"] = msg.get("partition_key") or rec["PartitionKey"]
    msg["arrival_ms"] = arrival_ms
    return msg


# ---------------------------------------------------------------------------
# The polling GetRecords consumer (twin of KinesisStreamingBuffer.java:37-335)
# ---------------------------------------------------------------------------

# to_tip() raises the last error after this many failed GetRecords calls in a
# row: a bounded read (an executor task, a replay) must fail, not hang
MAX_FAILED_CALLS = 5

class KinesisShardConsumer:
    """Bounded-buffer polling consumer for one shard.

    Synchronous rebuild of the reference's async fill loop
    (KinesisStreamingBuffer.java:74-240), with PollPolicy supplying every
    flow-control constant:

    - F1 bounded prefetch: a fetch is issued only when the buffer has space
      for a full GetRecords page (buffer cap 2x limit, skip-fill when
      size >= limit; reference :54,91-94).
    - F2 single in-flight request: inherent — the loop is synchronous.
    - F3 adaptive scheduling: empty response behind the tip refetches
      immediately; an empty response at the tip waits out the remainder of
      the poll interval (reference :162-167).
    - F4 rate-limit backoff: ProvisionedThroughputExceeded defers the next
      fetch by 3x the poll interval (reference :128-134).
    - F5 iterator expiry: ExpiredIterator re-resolves the iterator and
      retries after one poll interval (reference :121-127). Unlike the
      reference — whose supplier returns the same (expired) iterator string
      once a fetch has succeeded — we re-resolve AFTER_SEQUENCE_NUMBER from
      the last buffered record, so recovery never loses or repeats messages.
    - F6 error isolation: any other error retries after one poll interval
      (reference :136-140).

    `fill_once` is the one GetRecords call site in the package, and this
    ladder the one error ladder. `to_tip()` pumps it for a bounded read —
    drain the buffer, wait out the pacing, fetch, repeat — until the first
    empty page at the tip or the end of a closed shard, and raises once
    MAX_FAILED_CALLS is exceeded. Three read paths build their consumer with
    `kinesis_source.shard_consumer`: the simple reader's microbatches (one
    fill_once + drain each, consumer kept across batches), its
    `readBetweenOffsets` replay and the partitioned reader's executor-side
    slices (both `to_tip()`).

    The buffer holds RAW GetRecords records: F1 counts raw records, and a
    record is decoded (wire.decode_message + provenance stamping) only when
    poll()/receive()/drain() hands it out. A seek therefore costs one decode,
    not one per record of the page it fetched. A record that fails to decode
    stays at the head of the buffer, so the next delivery raises on it again
    instead of silently skipping it.

    AT_ULID / AT_EXTERNAL_ID cursors seek AT_TIMESTAMP at (t - tolerance) and
    the residual position is applied client-side with the reference's
    lookahead-buffer state machine (KinesisMessiStreamingConsumer.java:60-160):
    an exact match positions precisely (inclusive/exclusive); if the upper
    tolerance bound passes without a match, delivery replays from the
    lookahead buffer (fallback replay, same as MessiLog P5/P6). The scan
    peeks at two envelope fields per record (wire.peek_ids: ULID halves and
    external_id) and keeps the lookahead raw as well.

    `clock`/`sleep` are injectable so tests drive backoff deterministically.
    """

    def __init__(
        self,
        client,
        stream_name: str,
        shard_id: str,
        cursor: MessiCursor | None = None,
        policy=None,
        clock=None,
        sleep=None,
    ):
        import time as _time
        from collections import deque

        from ..streaming.policy import REFERENCE_POLICY

        self.client = client
        self.stream_name = stream_name
        self.shard_id = shard_id
        self.policy = policy or REFERENCE_POLICY
        self.clock = clock or _time.monotonic
        self.sleep = sleep or _time.sleep
        self.cursor = cursor or MessiCursor.oldest()
        self.buffer: deque = deque()  # raw GetRecords records
        self.closed = False
        # Resharding: set when GetRecords returns a null NextShardIterator —
        # the shard was closed by a split/merge and is fully drained; no
        # further fetches are possible (and the stale iterator must never be
        # reused — it would re-read the final page). Children of this shard
        # become eligible once every parent's consumer reports shard_ended.
        self.shard_ended = False
        # observability counters (KinesisStreamingBuffer.java:50-52)
        self.requests = 0
        self.responses_handled = 0
        self.total_fetched = 0
        # set by each GetRecords response: an empty page at MillisBehindLatest 0
        self.at_tip = False
        self.failed_calls = 0  # in a row; a successful call resets it
        self.last_error: Exception | None = None
        self._last_seq: str | None = None  # last sequence added to buffer
        self._next_fetch_at = 0.0
        self._next_iterator = self._resolve_iterator()
        # residual positioning state (AT_ULID / AT_EXTERNAL_ID)
        self._position_reached = self.cursor.type not in (
            CursorType.AT_ULID,
            CursorType.AT_EXTERNAL_ID,
        )
        self._lookahead: deque = deque()  # raw records, like the buffer
        self._buffering = False

    # -- iterator resolution ------------------------------------------------
    def _resolve_iterator(self) -> str:
        if self._last_seq is not None:
            # Recovery: continue exactly after the last record we buffered
            # (improves on KinesisStreamingBuffer.java:153-156, which would
            # retry the captured — expired — iterator string).
            args = {
                "ShardIteratorType": "AFTER_SEQUENCE_NUMBER",
                "StartingSequenceNumber": self._last_seq,
            }
        else:
            args = cursor_to_iterator_args(self.cursor)
        resp = self.client.get_shard_iterator(
            StreamName=self.stream_name, ShardId=self.shard_id, **args
        )
        return resp["ShardIterator"]

    # -- fill loop ----------------------------------------------------------
    def fill_once(self) -> bool:
        """One GetRecords attempt; returns True if a request was issued.
        The error ladder is the reference's response handler
        (KinesisStreamingBuffer.java:113-240) with PollPolicy delays."""
        if self.closed or self.shard_ended:
            return False
        if len(self.buffer) >= self.policy.fetch_limit:
            return False  # F1: not enough space for a full page
        now = self.clock()
        if now < self._next_fetch_at:
            return False
        self.requests += 1
        self.at_tip = False
        try:
            resp = self.client.get_records(
                ShardIterator=self._next_iterator, Limit=self.policy.fetch_limit
            )
        except Exception as e:  # noqa: BLE001 - classified below
            self.responses_handled += 1
            self.failed_calls += 1
            self.last_error = e
            code = error_code(e)
            if code == "ExpiredIteratorException":
                # F5: re-resolve and retry after one poll interval
                self._next_iterator = self._resolve_iterator()
                self._next_fetch_at = now + self.policy.error_retry_ms / 1000
            elif code == "ProvisionedThroughputExceededException":
                # F4: wait extra long before the next call (3x poll interval)
                self._next_fetch_at = now + self.policy.rate_limit_backoff_ms / 1000
            else:
                # F6: isolate the error, retry after one poll interval
                self._next_fetch_at = now + self.policy.error_retry_ms / 1000
            return True
        self.responses_handled += 1
        self.failed_calls = 0
        records = resp.get("Records", [])
        behind_ms = resp.get("MillisBehindLatest", 0) or 0
        self.at_tip = not records and not behind_ms
        nxt = resp.get("NextShardIterator")
        if nxt:
            self._next_iterator = nxt
        else:
            # null NextShardIterator: closed shard (split/merge) fully read.
            self.shard_ended = True
            self.buffer.extend(records)
            if records:
                self._last_seq = records[-1]["SequenceNumber"]
                self.total_fetched += len(records)
            return True
        if not records:
            if behind_ms < self.policy.poll_interval_ms:
                # at the tip: wait out the rest of the poll interval (F3)
                self._next_fetch_at = now + (self.policy.poll_interval_ms - behind_ms) / 1000
            else:
                self._next_fetch_at = now  # catching up: refetch immediately
            return True
        self.buffer.extend(records)
        self._last_seq = records[-1]["SequenceNumber"]
        self.total_fetched += len(records)
        self._next_fetch_at = now
        return True

    def to_tip(self):
        """Decoded messages from the current position until the first empty
        page at the tip (at_tip) or the end of a closed shard (shard_ended):
        the bounded read of a replay or an executor-side slice. Pacing and
        backoff are fill_once's; after more than MAX_FAILED_CALLS failed
        calls in a row the last error is raised."""
        if self.closed:
            raise RuntimeError("KinesisShardConsumer is closed")
        while True:
            yield from self.drain()
            if self.shard_ended:
                return
            if self.failed_calls > MAX_FAILED_CALLS:
                raise self.last_error
            wait = self._next_fetch_at - self.clock()
            if wait > 0:
                self.sleep(wait)
            if self.fill_once() and self.at_tip:
                return

    # -- delivery -----------------------------------------------------------
    def _head(self, deadline: float) -> dict | None:
        """Fill until a raw record heads the buffer (returned, NOT popped)
        or the deadline passes (None)."""
        if self.closed:
            raise RuntimeError("KinesisShardConsumer is closed")
        while True:
            if self.buffer:
                return self.buffer[0]
            if self.shard_ended:
                return None  # closed shard fully drained: nothing will arrive
            now = self.clock()
            if now < self._next_fetch_at:
                wait = min(self._next_fetch_at, deadline) - now
                if wait > 0:
                    self.sleep(wait)
                if self._next_fetch_at > deadline:
                    return None
                continue
            self.fill_once()
            if not self.buffer and self.clock() >= deadline:
                return None

    def _deliver(self, queue) -> dict:
        """Decode the head of `queue`, then pop it: a record that fails to
        decode stays at the head."""
        msg = decode_record(queue[0], self.shard_id)
        queue.popleft()
        return msg

    def poll(self, timeout_s: float = 0.0) -> dict | None:
        """Next buffered message within `timeout_s` (blocking receive, F8
        twin of KinesisStreamingBuffer.poll :74-79), else None."""
        if self._head(self.clock() + timeout_s) is None:
            return None
        return self._deliver(self.buffer)

    def drain(self):
        """Decoded messages of everything already buffered, in order; no
        fetch (the simple reader's per-microbatch hand-off after fill_once)."""
        while self.buffer:
            yield self._deliver(self.buffer)

    # -- residual positioning (KinesisMessiStreamingConsumer.java:60-160) ---
    def receive(self, timeout_s: float = 0.0) -> dict | None:
        """Next message at/after the cursor position."""
        from .. import wire

        deadline = self.clock() + timeout_s
        if not self._position_reached:
            tol_ms = self.cursor.tolerance.total_seconds() * 1000
            by_ulid = self.cursor.type is CursorType.AT_ULID
            # the lookahead opens at lo_ms; fallback replay once hi_ms passes
            if by_ulid:
                target = self.cursor.ulid
                want = (target.msb, target.lsb)
                lo_ms = target.timestamp_ms
                hi_ms = lo_ms + tol_ms
            else:  # AT_EXTERNAL_ID
                want = self.cursor.external_id
                anchor_ms = self.cursor.timestamp.timestamp() * 1000
                lo_ms, hi_ms = anchor_ms - tol_ms, anchor_ms + tol_ms
        while not self._position_reached:
            rec = self._head(deadline)
            if rec is None:
                return None
            msb, lsb, external_id = wire.peek_ids(bytes(rec["Data"]))
            if ((msb, lsb) if by_ulid else external_id) == want:
                self._lookahead.clear()
                self._buffering = False
                self._position_reached = True
                if self.cursor.inclusive:
                    return self._deliver(self.buffer)
                self.buffer.popleft()
                break
            self.buffer.popleft()
            # ULID timestamp = top 48 of the 128 bits = unsigned msb >> 16
            ulid_ts = 0 if msb is None else (msb & 0xFFFFFFFFFFFFFFFF) >> 16
            if self._buffering or lo_ms <= ulid_ts:
                self._buffering = True
                self._lookahead.append(rec)
            if hi_ms < ulid_ts:
                self._position_reached = True  # fallback replay
                break
        if self._buffering:
            if self._lookahead:
                return self._deliver(self._lookahead)
            self._buffering = False
        return self.poll(max(0.0, deadline - self.clock()))

    def seek(self, timestamp_ms: int) -> None:
        """Reposition at a provider timestamp: drop the buffer, re-resolve
        (KinesisStreamingBuffer.java:295-324)."""
        from datetime import datetime, timezone

        if self.closed:
            raise RuntimeError("KinesisShardConsumer is closed")
        self.buffer.clear()
        self._lookahead.clear()
        self._buffering = False
        self._position_reached = True
        self._last_seq = None
        self.cursor = MessiCursor.at_time(
            datetime.fromtimestamp(timestamp_ms / 1000, tz=timezone.utc)
        )
        self._next_iterator = self._resolve_iterator()
        self._next_fetch_at = 0.0

    def close(self) -> None:
        self.closed = True
