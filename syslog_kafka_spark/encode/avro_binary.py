"""Avro binary encoding of LogLine records + Confluent wire framing.

Implemented from the public Avro 1.x binary spec (zigzag varints, length-
prefixed strings, block-encoded maps/arrays) — no avro library exists in
this environment. Layout matches the reference's writer:

- LogLine schema: /root/reference avro/logline.avsc:1-56 (embedded literal
  at avro/logline.go:41-106). Every top-level field is a [null, X] union
  with null default → union index varint precedes each value.
- Confluent framing: [0x00 magic][int32 BE schema id][avro body] —
  go-kafka-avro/avro_encoder_decoder.go:26 (magic), :62-78 (framing).

One deliberate divergence: map entries are written in sorted-key order.
The reference iterates a Go map (randomized order); any order is valid
Avro, and sorted keys make our bytes reproducible.
"""

from __future__ import annotations

import struct

CONFLUENT_MAGIC = b"\x00"


def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def write_varint(n: int) -> bytes:
    """Unsigned LEB128 varint."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_varints(values):
    """``write_varint`` over a whole array: element i of the returned
    ``pyarrow.BinaryArray`` is the varint of ``values[i]`` read as uint64
    (so a negative int64 gives its 10-byte two's-complement varint, as
    ``write_varint(n & 0xFFFFFFFFFFFFFFFF)`` does). One numpy pass per
    varint byte position, at most ten; no per-row Python."""
    import numpy as np
    import pyarrow as pa

    v = np.asarray(values).astype(np.uint64)
    nbytes = np.ones(len(v), dtype=np.int32)
    for k in range(1, 10):
        nbytes += v >= np.uint64(1 << (7 * k))
    offsets = np.zeros(len(v) + 1, dtype=np.int32)
    np.cumsum(nbytes, out=offsets[1:])
    data = np.empty(offsets[-1], dtype=np.uint8)
    for k in range(int(nbytes.max(initial=0))):
        live = nbytes > k
        byte = ((v >> np.uint64(7 * k)) & np.uint64(0x7F)) | ((nbytes > k + 1) << np.uint64(7))
        data[offsets[:-1][live] + k] = byte[live]
    return pa.Array.from_buffers(
        pa.binary(), len(v), [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def write_long(n: int) -> bytes:
    """Avro long: zigzag + varint."""
    return write_varint(zigzag(n) & 0xFFFFFFFFFFFFFFFF)


def write_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return write_long(len(b)) + b


def encode_logline(rec: dict) -> bytes:
    """Avro-binary encode one LogLine dict.

    Keys (all optional / nullable): line str, source str, tag dict[str,str],
    logtypeid int, timings list[{eventName str, value int}].
    """
    out = bytearray()

    def union(value, writer) -> None:
        if value is None:
            out.extend(write_long(0))
        else:
            out.extend(write_long(1))
            writer(value)

    union(rec.get("line"), lambda v: out.extend(write_string(v)))
    union(rec.get("source"), lambda v: out.extend(write_string(v)))

    def write_tag(tag: dict) -> None:
        if tag:
            out.extend(write_long(len(tag)))
            for k in sorted(tag):
                out.extend(write_string(k))
                out.extend(write_string(tag[k]))
        out.extend(write_long(0))

    union(rec.get("tag"), write_tag)
    union(rec.get("logtypeid"), lambda v: out.extend(write_long(v)))

    def write_timings(timings: list) -> None:
        if timings:
            out.extend(write_long(len(timings)))
            for t in timings:
                out.extend(write_string(t["eventName"]))
                out.extend(write_long(t["value"]))
        out.extend(write_long(0))

    union(rec.get("timings"), write_timings)
    return bytes(out)


def confluent_frame(schema_id: int, body: bytes) -> bytes:
    """[magic 0x00][schema id int32 BE][avro body]."""
    return CONFLUENT_MAGIC + struct.pack(">I", schema_id) + body


def encode_logline_confluent(rec: dict, schema_id: int) -> bytes:
    return confluent_frame(schema_id, encode_logline(rec))
