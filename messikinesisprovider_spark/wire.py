"""Protobuf wire-format serde for the MessiMessage envelope.

The reference serializes each message with `MessiMessage.toByteArray()` and
parses with `mergeFrom(bytes)` (KinesisMessiProducer.java:83,
KinesisStreamingBuffer.java:184-185). The .proto definition lives in the
external messi-sdk dependency, so the FIELD NUMBERS below are assumptions
(documented, centralized in _FIELDS) — the wire *format* is the public
protobuf encoding spec, implemented by hand here (varints, tag bytes,
length-delimited fields) with no codegen/descriptor dependency.

Swap _FIELDS to the real numbers from messi-sdk's .proto and the bytes are
drop-in compatible; everything else (the encoder, the Spark columns, tests)
is field-number-agnostic.
"""

from __future__ import annotations

import pandas as pd

from .ulid import Ulid

# Assumed field numbers for the MessiMessage envelope (see module docstring).
_FIELDS = {
    "ulid": 1,  # message {msb: 1, lsb: 2}
    "partition_key": 2,
    "ordering": 3,  # message {group: 1, sequence_number: 2}
    "external_id": 4,
    "data": 5,  # map<string, bytes> → repeated entry {key: 1, value: 2}
    "attributes": 6,  # map<string, string>
    "timestamp_ms": 7,  # int64 epoch millis
    "source_client_id": 8,
}

_WT_VARINT = 0
_WT_LEN = 2


def _varint(n: int) -> bytes:
    if n < 0:
        n &= (1 << 64) - 1  # protobuf int64 two's-complement
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire_type: int) -> bytes:
    return _varint((field << 3) | wire_type)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, _WT_LEN) + _varint(len(payload)) + payload


def _varint_field(field: int, value: int) -> bytes:
    return _tag(field, _WT_VARINT) + _varint(value)


def encode_message(msg: dict) -> bytes:
    """dict (MessiLog row shape) → protobuf wire bytes."""
    out = bytearray()
    if msg.get("ulid_msb") is not None:
        nested = _varint_field(1, msg["ulid_msb"]) + _varint_field(2, msg["ulid_lsb"])
        out += _len_field(_FIELDS["ulid"], nested)
    if msg.get("partition_key"):
        out += _len_field(_FIELDS["partition_key"], msg["partition_key"].encode())
    if msg.get("ordering_group") is not None:
        nested = _len_field(1, msg["ordering_group"].encode())
        if msg.get("ordering_seq") is not None:
            nested += _varint_field(2, msg["ordering_seq"])
        out += _len_field(_FIELDS["ordering"], nested)
    if msg.get("external_id") is not None:
        out += _len_field(_FIELDS["external_id"], msg["external_id"].encode())
    for k in sorted(msg.get("data") or {}):
        entry = _len_field(1, k.encode()) + _len_field(2, bytes(msg["data"][k]))
        out += _len_field(_FIELDS["data"], entry)
    for k in sorted(msg.get("attributes") or {}):
        v = msg["attributes"][k]
        if v is None:
            continue  # map<string,string> semantics: a NULL value is an absent key
        entry = _len_field(1, k.encode()) + _len_field(2, v.encode())
        out += _len_field(_FIELDS["attributes"], entry)
    if msg.get("timestamp_ms") is not None:
        out += _varint_field(_FIELDS["timestamp_ms"], msg["timestamp_ms"])
    if msg.get("source_client_id") is not None:
        out += _len_field(_FIELDS["source_client_id"], msg["source_client_id"].encode())
    return bytes(out)


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    if val >= 1 << 63:
        val -= 1 << 64  # int64 semantics
    return val, i


def _read_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    v, i = _read_varint(buf, i)
    return v & ((1 << 64) - 1), i


_NAMES = {v: k for k, v in _FIELDS.items()}


def _next_field(buf: bytes, i: int) -> tuple[int, bytes | int | None, int]:
    """The top-level field at offset `i` → (field number, value, next
    offset). The value is the payload bytes of a length-delimited field, the
    int of a varint, and None for a fixed64/fixed32 field, which no known
    field uses (skipped: forward compatibility)."""
    key, i = _read_uvarint(buf, i)
    field, wt = key >> 3, key & 0x7
    if wt == _WT_LEN:
        ln, i = _read_uvarint(buf, i)
        return field, buf[i : i + ln], i + ln
    if wt == _WT_VARINT:
        val, i = _read_varint(buf, i)
        return field, val, i
    if wt == 1:
        return field, None, i + 8
    if wt == 5:
        return field, None, i + 4
    raise ValueError(f"unsupported wire type {wt}")


def _ulid_parts(payload: bytes) -> tuple[int, int]:
    """Nested ULID message → its signed int64 (msb, lsb) halves."""
    j = 0
    msb = lsb = 0
    while j < len(payload):
        k2, j = _read_uvarint(payload, j)
        v2, j = _read_varint(payload, j)
        if k2 >> 3 == 1:
            msb = v2
        elif k2 >> 3 == 2:
            lsb = v2
    return msb, lsb


def peek_ids(buf: bytes) -> tuple[int | None, int | None, str]:
    """The two envelope fields cursor positioning compares, read without
    decoding the rest of the message: (ulid_msb, ulid_lsb, external_id).
    The ULID halves are signed int64 as in decode_message, or None when the
    envelope carries no ULID; external_id is "" when absent."""
    msb = lsb = None
    external_id = ""
    i = 0
    while i < len(buf):
        field, val, i = _next_field(buf, i)
        if val is None:
            continue
        if field == _FIELDS["ulid"]:
            msb, lsb = _ulid_parts(val)
        elif field == _FIELDS["external_id"]:
            external_id = val.decode()
    return msb, lsb, external_id


def decode_message(buf: bytes) -> dict:
    """protobuf wire bytes → dict; unknown fields are skipped (mergeFrom
    semantics: forward-compatible).

    Proto3 default semantics on the read side too: scalar fields absent from
    the wire (writers skip default values) decode to their defaults, so every
    envelope key is always present — a reader never key-errors on a message
    that simply had an empty partition_key."""
    msg: dict = {
        "ulid_msb": 0,
        "ulid_lsb": 0,
        "partition_key": "",
        "ordering_group": "",
        "ordering_seq": 0,
        "external_id": "",
        "data": {},
        "attributes": {},
        "timestamp_ms": 0,
        "source_client_id": "",
    }
    i = 0
    while i < len(buf):
        field, payload, i = _next_field(buf, i)
        name = _NAMES.get(field)
        if name is None or payload is None:
            continue  # unknown or fixed-width field: skip
        if name == "ulid":
            msb, lsb = _ulid_parts(payload)
            msg["ulid_msb"], msg["ulid_lsb"] = msb, lsb
            msg["ulid"] = Ulid.from_parts(msb, lsb).text()
        elif name == "ordering":
            j = 0
            while j < len(payload):
                k2, j = _read_uvarint(payload, j)
                if k2 & 0x7 == _WT_LEN:
                    ln2, j = _read_uvarint(payload, j)
                    msg["ordering_group"] = payload[j : j + ln2].decode()
                    j += ln2
                else:
                    msg["ordering_seq"], j = _read_varint(payload, j)
        elif name in ("data", "attributes"):
            j = 0
            k_v = {}
            while j < len(payload):
                k2, j = _read_uvarint(payload, j)
                ln2, j = _read_uvarint(payload, j)
                k_v[k2 >> 3] = payload[j : j + ln2]
                j += ln2
            key_s = k_v.get(1, b"").decode()
            if name == "data":
                msg["data"][key_s] = k_v.get(2, b"")
            else:
                msg["attributes"][key_s] = k_v.get(2, b"").decode()
        elif name == "timestamp_ms":
            msg["timestamp_ms"] = payload
        else:
            msg[name] = payload.decode()
    return msg


def encode_column(df, out_col: str = "wire"):
    """DataFrame stage: envelope columns → wire bytes (Arrow-batched)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    cols = [
        "ulid_msb", "ulid_lsb", "partition_key", "ordering_group",
        "ordering_seq", "external_id", "data", "attributes", "source_client_id",
    ]

    @pandas_udf(BinaryType())
    def enc(s: pd.DataFrame) -> pd.Series:
        # struct input arrives as a pandas DataFrame (one column per field)
        return pd.Series([encode_message(_clean(rec)) for rec in s.to_dict("records")])

    def _clean(rec: dict) -> dict:
        out = {}
        for k, v in rec.items():
            if v is None or (isinstance(v, float) and pd.isna(v)):
                continue
            if k == "ordering_seq":
                v = int(v)
            out[k] = v
        return out

    from pyspark.sql import functions as F

    present = [c for c in cols if c in df.columns]
    return df.withColumn(out_col, enc(F.struct(*present)))
