"""Minimal protobuf wire-format codec for the OSM PBF message set.

The OSM PBF container is ordinary protobuf (public spec: the
``fileformat.proto`` / ``osmformat.proto`` schemas vendored by the reference
in ``lib/osmpbf-1.3.3.jar`` and published by the OpenStreetMap project). No
protobuf library ships in this environment, and we only need a handful of
fixed messages, so this module implements the wire format directly:

- varint / zigzag / packed-array primitives, numpy-vectorized for the hot
  packed arrays (DenseNodes id/lat/lon/keys_vals, Way refs) — this is the
  scale path: one numpy pass per packed field instead of a per-record loop;
- a tiny field scanner that walks a length-delimited message once and
  collects wanted fields;
- encoders for the same messages, used by the fixture synthesizer and the
  ``write_pbf`` sink.

Reference decode semantics this replaces: OsmPbfRecordReader.java:138-147
(header framing), :153-185 (blob), :225-268 (dense nodes), :187-223 (ways).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

# wire types
WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_I32 = 5

_U64 = (1 << 64) - 1


# ---------------------------------------------------------------------------
# scalar varint (message-structure walking; small counts, pure Python)
# ---------------------------------------------------------------------------


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one unsigned varint at ``pos``; return (value, new_pos).

    As protobuf parsers do, a 10th byte contributes only the bits that fit
    in 64; an 11th byte raises ValueError."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift == 63:
            b = buf[pos]
            if b & 0x80:
                raise ValueError("varint longer than 10 bytes")
            return (result | b << 63) & _U64, pos + 1


def write_varint(value: int) -> bytes:
    """Encode one varint. Negative values are masked to 64-bit two's
    complement first — protobuf int64 encoding (10-byte varint) — which
    also keeps the shift loop from running forever on Python's unbounded
    negative ints (a negative OSM id or uid would otherwise hang the
    write task instead of erroring)."""
    if value < 0:
        value &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


# ---------------------------------------------------------------------------
# vectorized packed-varint decode (the hot path)
# ---------------------------------------------------------------------------


# word-gather tier tables: the 7-bit payload of the first min(k, 8) bytes
# of a k-byte varint's little-endian word, and the three rounds that fold
# eight 7-bit groups into one 56-bit value (shift, mask of the moved
# groups, mask of the groups that stay)
_PAYLOAD = np.array([(1 << 8 * min(k, 8)) - 1 & 0x7F7F7F7F7F7F7F7F
                     for k in range(11)], dtype=np.uint64)
_FOLD = tuple((np.uint64(s), np.uint64(moved), np.uint64(stay))
              for s, moved, stay in ((1, 0x3F803F803F803F80,
                                      0x007F007F007F007F),
                                     (2, 0x0FFFC0000FFFC000,
                                      0x00003FFF00003FFF),
                                     (4, 0x00FFFFFFF0000000,
                                      0x000000000FFFFFFF)))
SPARSE_MAX = 32  # the sparse tier's most multi-byte varints in one field


def _varint_layout(
    b: np.ndarray,
) -> tuple[str, np.ndarray | None, np.ndarray | None]:
    """The tier ``decode_packed_uint`` takes for the non-empty packed
    field ``b`` ("1byte", "sparse" or "word"), with the start offset and
    byte count of each varint (None in the 1byte tier). A field whose last
    byte continues a varint, or holding a varint over 10 bytes, raises
    ValueError."""
    if b[-1] & 0x80:
        raise ValueError("packed varint field ends inside a varint")
    if b.max() < 0x80:  # every varint is one byte
        return "1byte", None, None
    ends = np.flatnonzero(b < 0x80)  # the last byte of each varint
    counts = np.diff(ends, prepend=-1)
    if counts.max() > 10:
        raise ValueError("packed varint longer than 10 bytes")
    tier = "sparse" if np.count_nonzero(counts > 1) <= SPARSE_MAX else "word"
    return tier, ends - (counts - 1), counts


def packed_tier(buf: bytes) -> str:
    """The tier ``decode_packed_uint`` takes for ``buf``."""
    if not buf:
        return "1byte"
    return _varint_layout(np.frombuffer(buf, dtype=np.uint8))[0]


def decode_packed_uint(buf: bytes) -> np.ndarray:
    """Decode a packed repeated varint field into uint64, one numpy pass.

    A varint ends at the first byte without the continuation bit, and
    byte k of it carries bits 7k..7k+6 of the value. Three tiers:

    - ALL-1-BYTE fast path: when no byte has the continuation bit, every
      byte IS its varint — one astype, no index math. This is the common
      shape for dense-node id deltas (consecutive ids), keys_vals string
      ids in small-vocabulary blocks, and way-ref deltas in well-sorted
      extracts.
    - SPARSE-MULTIBYTE path: when at most ``SPARSE_MAX`` (32) varints
      are multi-byte (e.g. one absolute leading id followed by thousands
      of small deltas), take the 1-byte decode wholesale and patch the
      handful of wide varints scalar-wise; on that shape it beats the word tier
      (a dense_scan block's id field: 103 vs 252 us).
    - WORD-GATHER path: load each varint's first 8 bytes as one
      little-endian uint64 (an unaligned gather from a zero-padded copy
      of the field), keep the 7-bit payload of the varint's own bytes,
      and fold the eight 7-bit groups into one 56-bit value in three
      shift/mask rounds (pairs, then quads, then halves). A 9th byte adds
      bits 56-62 and a 10th byte bit 63, as ``read_varint`` keeps them.
      That is a constant ~20 operations per varint instead of several per
      byte: on the 8000-varint lat and lon fields of dense_scan's blocks it
      takes 348-364 us a field where the earlier general tier (repeat,
      shift and ``np.add.reduceat`` over every byte) took 609-630 us
      (medians of 5 passes over 100 blocks, 4-core host). Negative
      results, not to be retried: a uniform-width reshape with a float64
      matmul was slower than that per-byte tier (the uint8 -> float64
      conversion ate the BLAS win), and so were its earlier offset
      formulations (``maximum.accumulate``, ``searchsorted`` +
      ``bitwise_or.at``).

    A field whose last byte continues a varint, or holding a varint
    longer than 10 bytes, raises ValueError in every tier.

    History: an earlier attempt at a cheaper dense decode (a per-varint
    gather kernel, no meta fill and an all-zero keys_vals fast path) won
    only 3 of 6 dense_scan pairs. It was bundled with wave-sized
    partitions, which lost on their own (``_plan_files`` in
    datasource.py), and it predates the pyspark.zip directory cache
    (``osmpbf_spark/_zipimport_cache.py``), which took ~0.6 s of fixed cost
    off every pass. Measured alone, after that change, the word tier and
    the meta skip of ``BlockDecoder`` raise dense_scan throughput
    (CHANGES.md).
    """
    if not buf:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    tier, starts, counts = _varint_layout(b)
    if tier == "1byte":
        return b.astype(np.uint64)
    if tier == "sparse":
        out = b[starts].astype(np.uint64)
        for i in np.flatnonzero(counts > 1):
            v, _ = read_varint(buf, int(starts[i]))
            out[i] = np.uint64(v & (1 << 64) - 1)
        return out
    pad = np.zeros(len(b) + 8, dtype=np.uint8)
    pad[: len(b)] = b
    words = np.ndarray(len(b), dtype="<u8", buffer=pad, strides=(1,))
    out = words.take(starts)
    out &= _PAYLOAD[counts]
    for shift, moved, stay in _FOLD:
        hi = out >> shift
        hi &= moved
        out &= stay
        out |= hi
    long = np.flatnonzero(counts > 8)
    if len(long):  # bytes 9 and 10: the rare varints of 57-64 bits
        at = starts[long]
        out[long] |= (
            (pad[at + 8] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(56)
            | (pad[at + 9] & (counts[long] == 10)).astype(np.uint64)
            << np.uint64(63)
        )
    return out


def unzigzag(u: np.ndarray) -> np.ndarray:
    """Vectorized sint64 (zigzag) decode of uint64 varint values."""
    out = (u >> np.uint64(1)).view(np.int64)
    out ^= (u << np.uint64(63)).view(np.int64) >> np.int64(63)
    return out


def decode_packed_sint(buf: bytes) -> np.ndarray:
    """Packed sint (zigzag) field -> int64 array."""
    return unzigzag(decode_packed_uint(buf))


def decode_packed_int(buf: bytes) -> np.ndarray:
    """Packed int32/int64/enum (two's-complement varint) -> int64 array."""
    return decode_packed_uint(buf).view(np.int64)


def encode_packed_uint(values) -> bytes:
    """Encode a packed repeated varint field, numpy-vectorized.

    The write side mirrors the decode side's scale story: one pass per
    BYTE POSITION (at most 10), each fully vectorized — per-value byte
    lengths via thresholds, exclusive-scan start offsets, then byte j of
    every varint written with one fancy-index store. Negative inputs are
    masked to 64-bit two's complement first (protobuf int64 semantics,
    same as the scalar ``write_varint``)."""
    try:
        v = np.asarray(values)
    except OverflowError:
        # NumPy >= 2 raises here for Python ints outside int64 instead of
        # coercing to float64/object — fold exactly, same as below
        v = np.array(
            [int(x) & (1 << 64) - 1 for x in values], dtype=np.uint64
        )
    if v.size == 0:
        return b""
    # two's-complement fold for negative int64 inputs, then view as uint64
    if v.dtype.kind == "i":
        v = v.astype(np.int64, copy=False).view(np.uint64)
    elif v.dtype.kind == "u":
        v = v.astype(np.uint64, copy=False)
    else:
        # NumPy 1.x: Python ints outside int64 (or mixed magnitudes)
        # coerce to float64/object under asarray — float64 would silently
        # round values past 2^53; fold each element exactly instead
        v = np.array(
            [int(x) & (1 << 64) - 1 for x in values], dtype=np.uint64
        )
    lengths = np.ones(len(v), dtype=np.int64)
    for k in range(1, 10):
        lengths += v >= np.uint64(1 << (7 * k))
    ends = np.cumsum(lengths)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    starts = ends - lengths
    for j in range(int(lengths.max())):
        sel = lengths > j
        byte = (v[sel] >> np.uint64(7 * j)).astype(np.uint8) & np.uint8(0x7F)
        cont = (lengths[sel] - 1 > j).astype(np.uint8) << np.uint8(7)
        out[starts[sel] + j] = byte | cont
    return out.tobytes()


def encode_packed_sint(values) -> bytes:
    v = np.asarray(values, dtype=np.int64)
    zz = (v << np.int64(1)) ^ (v >> np.int64(63))  # vectorized zigzag
    return encode_packed_uint(zz.view(np.uint64))


# ---------------------------------------------------------------------------
# message scanning
# ---------------------------------------------------------------------------


def scan_fields(
    buf: bytes, wire_types: dict[int, int] | None = None
) -> Iterator[tuple[int, int, int | bytes]]:
    """Walk a protobuf message, yielding (field_number, wire_type, value).

    LEN fields yield the raw bytes slice; varints yield ints; I64/I32 yield
    raw ints. One linear pass, no allocation beyond the LEN slices. A LEN
    value running past the end of the message raises ValueError.

    With ``wire_types`` (field number -> wire type) only the listed fields
    are yielded (the others are stepped over without a slice), and a
    listed field of another wire type raises ValueError, so a flipped tag
    never hands an int to a bytes decoder.
    """
    pos = 0
    stop = len(buf)
    while pos < stop:
        # one-byte varints (keys of fields 1-15, small values and lengths)
        # are read inline: most varints of a message are one byte
        key = buf[pos]
        if key < 0x80:
            pos += 1
        else:
            key, pos = read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        want = wt if wire_types is None else wire_types.get(field)
        if want is not None and want != wt:
            raise ValueError(
                f"field {field} has wire type {wt}, expected {want}"
            )
        if wt == WT_VARINT or wt == WT_LEN:
            v = buf[pos]
            if v < 0x80:
                pos += 1
            else:
                v, pos = read_varint(buf, pos)
            if wt == WT_LEN:
                ln = v
                if pos + ln > stop:
                    raise ValueError(f"field {field}: a {ln}-byte value "
                                     "runs past the end of its message")
                v = buf[pos : pos + ln] if want is not None else None
                pos += ln
        elif wt == WT_I64:
            v = struct.unpack_from("<q", buf, pos)[0]
            pos += 8
        elif wt == WT_I32:
            v = struct.unpack_from("<i", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt} at offset {pos}")
        if want is not None:
            yield field, wt, v


# ---------------------------------------------------------------------------
# message building (encoder side)
# ---------------------------------------------------------------------------


def field_varint(field: int, value: int) -> bytes:
    return write_varint(field << 3 | WT_VARINT) + write_varint(int(value))


def field_len(field: int, payload: bytes) -> bytes:
    return write_varint(field << 3 | WT_LEN) + write_varint(len(payload)) + payload
