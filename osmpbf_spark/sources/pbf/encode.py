"""OSM PBF encoder: synthesize valid PBF files from columnar data.

The reference has no writer at all (no OutputFormat exists in its src/main —
SURVEY.md §2 "explicitly absent"); this module goes beyond parity and gives
the engine a PBF *sink*, used for (a) synthesizing the golden-value test
fixture (FIXTURES.md) and (b) round-trip tests of the decode pipeline.

Wire layout produced (public OSM PBF spec, the schemas vendored by the
reference in lib/osmpbf-1.3.3.jar):

    [4-byte BE len][BlobHeader type="OSMHeader"][Blob(HeaderBlock)]
    [4-byte BE len][BlobHeader type="OSMData"] [Blob(PrimitiveBlock)] ...

Each Blob holds its payload in the data field of the codec ``write_pbf``
is given (zlib by default; raw, lzma, lz4 and zstd too) plus raw_size
when compressed. Each PrimitiveBlock gets its own StringTable (index 0
reserved empty), delta-codes ids/coords/refs exactly as the format
requires and stores coordinates at the default granularity (100
nanodegrees); the OSMHeader's HeaderBBox covers the file's nodes.

Every message is written from decode.py's tables and names (``_ENTITY``,
``_META``, ``_STATS_FIELDS``, ``BLOB_CODECS``), so each field number and
codec is stated once for both directions.
"""

from __future__ import annotations

import struct

import numpy as np

from osmpbf_spark.sources.pbf import decode, fs, wire
from osmpbf_spark.sources.pbf.wire import field_len, field_varint


class _StringTable:
    """Per-block string dictionary; index 0 reserved as delimiter."""

    def __init__(self):
        self.strings: list[bytes] = [b""]
        self.index: dict[str, int] = {}

    def add(self, s: str) -> int:
        sid = self.index.get(s)
        if sid is None:
            sid = len(self.strings)
            self.strings.append(s.encode("utf-8"))
            self.index[s] = sid
        return sid

    def encode(self) -> bytes:
        return b"".join(field_len(decode.STRINGTABLE_S, s)
                        for s in self.strings)


def _delta(values) -> bytes:
    """A delta-coded packed sint field's payload."""
    return wire.encode_packed_sint(
        np.diff(np.asarray(values, dtype=np.int64), prepend=0))


def _encode_info(meta: dict, st: _StringTable, n: int | None = None) -> bytes:
    """An Info message (``n`` None) or a DenseInfo of ``n`` entities, from
    ``meta``: optional version, timestamp_ms, changeset, uid, user and
    visible, each a value or, for DenseInfo, a list of exactly ``n`` (a
    silent length mismatch would write truncated or overlong parallel
    arrays, the malformed shape the decoder has to defend against). A
    None field is left out; a None DenseInfo user is written as ""."""
    out = b""
    for field, col in decode._META.items():
        key = col.removeprefix("meta_")
        v = meta.get(key)
        if v is None:
            continue
        if n is None:
            v = st.add(v) if field == decode.INFO_USER_SID else int(v)
        elif len(v) != n:
            raise ValueError(
                f"DenseInfo field {key!r} has {len(v)} entries "
                f"for {n} nodes — parallel arrays must match"
            )
        elif field == decode.INFO_USER_SID:
            v = np.array([st.add(s or "") for s in v], dtype=np.int64)
        else:
            v = np.asarray(v, dtype=np.int64)
        if field == decode.INFO_TIMESTAMP:
            v = v // 1000  # ms -> s, the default date_granularity
        if n is None:
            out += field_varint(field, v)
        elif field in decode.DENSE_INFO_DELTA:
            out += field_len(field, _delta(v))
        else:
            out += field_len(field, wire.encode_packed_uint(v))
    return out


def _encode_dense_nodes(nodes: dict, st: _StringTable) -> bytes:
    """One PrimitiveGroup holding one DenseNodes: delta-coded packed
    id/lat/lon + zero-delimited keys_vals (+ optional DenseInfo provenance,
    which the reference decodes but drops — we round-trip it).

    ``lat_nano``/``lon_nano`` are integer nanodegrees; raw units stored are
    nanodegrees / ``decode.GRANULARITY``.
    """
    ids = nodes["id"]
    tags = nodes["tags"]
    if not any(tags):  # all-untagged fast path: one delimiter per node
        kv: list[int] = [0] * len(ids)
    else:
        kv = []
        for t in tags:
            for k, v in (t or {}).items():
                kv.append(st.add(k))
                kv.append(st.add(v))
            kv.append(0)
    body = field_len(decode.DENSE_ID, _delta(ids))
    if nodes.get("meta"):
        body += field_len(decode.DENSE_INFO,
                          _encode_info(nodes["meta"], st, len(ids)))
    for field, col in ((decode.DENSE_LAT, "lat_nano"),
                       (decode.DENSE_LON, "lon_nano")):
        units = np.asarray(nodes[col], dtype=np.int64) // decode.GRANULARITY
        body += field_len(field, _delta(units))
    body += field_len(decode.DENSE_KEYS_VALS, wire.encode_packed_uint(kv))
    return field_len(decode.GROUP_DENSE, body)


# the non-dense groups of a block dict: (primitive, group kind); a block
# holds a list of them under the primitive's plural
_GROUPS = (("way", decode.GROUP_WAYS),
           ("relation", decode.GROUP_RELATIONS),
           ("changeset", decode.GROUP_CHANGESETS))


def _encode_entity(kind: int, e, st: _StringTable) -> bytes:
    """One ``kind`` group entry (a way or relation dict, or a changeset
    id): the fields of ``decode._ENTITY[kind]`` in table order. "int" is a
    varint, "uint" packed uint, "delta" packed sint of the deltas, "info"
    a nested Info message when ``meta`` is given. Every string id is added
    before the walk, so the string table keeps the order keys, vals,
    roles, then the Info user."""
    e = {"id": e} if kind == decode.GROUP_CHANGESETS else e
    tags = e.get("tags") or {}
    members = e.get("members") or []  # [(role, ref, type 0|1|2)]
    cols = {"id": e["id"], "keys": [st.add(k) for k in tags],
            "vals": [st.add(v) for v in tags.values()],
            "roles": [st.add(r) for r, _ref, _t in members],
            "memids": [ref for _r, ref, _t in members],
            "types": [t for _r, _ref, t in members],
            "refs": e.get("refs"), "info": e.get("meta")}
    body = b""
    for field, (col, how) in decode._ENTITY[kind].items():
        v = cols[col]
        if how == "int":
            body += field_varint(field, v)
        elif how == "uint":
            body += field_len(field, wire.encode_packed_uint(v))
        elif how == "delta":
            body += field_len(field, _delta(v))
        elif how == "info" and v:
            body += field_len(field, _encode_info(v, st))
    return field_len(kind, body)


def _primitive_block(blk: dict) -> bytes:
    """One write_pbf block dict as a PrimitiveBlock: one homogeneous
    PrimitiveGroup per entity kind present, in the order dense nodes, ways,
    relations, changesets."""
    st = _StringTable()
    groups = []
    nodes = blk.get("nodes")
    if nodes is not None and len(nodes["id"]):
        groups.append(_encode_dense_nodes(nodes, st))
    for prim, kind in _GROUPS:
        # ChangeSet is id-only and "NOT USED" per the spec
        # (osmformat.proto:174-189); written here so the decoder's
        # count-and-skip path has real input to test against
        if blk.get(prim + "s"):
            groups.append(b"".join(
                _encode_entity(kind, e, st) for e in blk[prim + "s"]))
    return (
        field_len(decode.PB_STRINGTABLE, st.encode())
        + b"".join(field_len(decode.PB_GROUP, g) for g in groups)
        + field_varint(decode.PB_GRANULARITY, decode.GRANULARITY)
    )


# codec name -> (Blob data field, compressor)
_BLOB_WRITERS = {name: (field, pack)
                 for field, (name, pack, _unpack) in decode.BLOB_CODECS.items()}


def _file_block(
    block_type: str, payload: bytes, compress, indexdata: bytes = b""
) -> bytes:
    """``compress``: True/"zlib", "lzma", "lz4", "zstd", or False/None
    for raw, the Blob field and compressor of ``decode.BLOB_CODECS``.
    raw_size is written for every compressed blob, which the lz4/zstd
    decode requires."""
    name = "zlib" if compress is True else compress or "raw"
    field, pack = _BLOB_WRITERS[name]
    blob = field_len(field, pack(payload))
    if field != decode.BLOB_RAW:
        blob = field_varint(decode.BLOB_RAW_SIZE, len(payload)) + blob
    header = field_len(decode.BLOBHEADER_TYPE, block_type.encode("utf-8"))
    if indexdata:
        # BlobHeader.indexdata — reserved by the format for exactly this:
        # per-block metadata readable without decompressing the blob. We
        # store the block stats (decode._STATS_FIELDS) so split planning
        # can prune blocks against pushed-down filters.
        header += field_len(decode.BLOBHEADER_INDEXDATA, indexdata)
    header += field_varint(decode.BLOBHEADER_DATASIZE, len(blob))
    return struct.pack(">i", len(header)) + header + blob


def _block_stats(blk: dict) -> dict:
    """The block stats of one write_pbf block dict, by name
    (``decode._STATS_FIELDS``), in one pass over its entities."""
    stats = {"kinds": 0}
    ids: list[int] = []
    keys: set[str] = set()
    nodes = blk.get("nodes")
    if nodes is not None and len(nodes["id"]):
        stats["kinds"] |= decode.KIND_BITS["node"]
        # np reductions, not builtins: Python min/max ITERATE a numpy
        # array element-by-element (measured 5.7s of a 36s 20M-node
        # write — the stats pass must stay O(n) C-speed)
        nid = np.asarray(nodes["id"], dtype=np.int64)
        ids += [int(nid.min()), int(nid.max())]
        for axis in ("lat", "lon"):
            a = np.asarray(nodes[axis + "_nano"], dtype=np.int64)
            stats[f"min_{axis}_nano"] = int(a.min())
            stats[f"max_{axis}_nano"] = int(a.max())
        tags = nodes.get("tags") or []
        if any(tags):  # the all-untagged common case stops here
            keys.update(k for t in tags if t for k in t)
    for prim, _kind in _GROUPS:
        entities = blk.get(prim + "s")
        if entities:
            stats["kinds"] |= decode.KIND_BITS[prim]
            if prim != "changeset":  # changeset ids: their own id space
                ids += [e["id"] for e in entities]
                keys.update(k for e in entities for k in e.get("tags") or {})
    if ids:
        stats["min_id"], stats["max_id"] = min(ids), max(ids)
    stats["tag_key_bits"] = 0
    for k in keys:
        stats["tag_key_bits"] |= 1 << decode.tag_key_bit(k)
    return stats


def _stats_message(stats: dict) -> bytes:
    """The block-stats message (BlobHeader.indexdata) of ``stats``."""
    return b"".join(
        field_varint(f, wire.zigzag_encode(stats[name]) if zz else stats[name])
        for f, (name, zz) in decode._STATS_FIELDS.items() if name in stats
    )


def encode_block_stats(blk: dict) -> bytes:
    """The block-stats message of one write_pbf block dict."""
    return _stats_message(_block_stats(blk))


def encode_header_block(
    required=("OsmSchema-V0.6", "DenseNodes"),
    writingprogram="osmpbf_spark",
    bbox: dict | None = None,
    optional=(),
) -> bytes:
    """``bbox`` is {left,right,top,bottom} in nanodegrees -> HeaderBBox
    (osmformat.proto:57-63, sint64 zigzag). ``optional`` = the
    optional_features list (sort-order declarations like
    Sort.Type_then_ID ride here; the compaction merge preserves them).
    ``writingprogram=None`` omits the field entirely (header fidelity for
    merges of files that never declared one). The reference never writes
    headers (no OutputFormat); field numbers are from the public proto."""
    payload = b""
    if bbox is not None:
        payload += field_len(decode.HEADER_BBOX, b"".join(
            field_varint(f, wire.zigzag_encode(bbox[k]))
            for f, k in decode.BBOX_FIELDS.items()))
    for field, values in ((decode.HEADER_REQUIRED_FEATURES, required),
                          (decode.HEADER_OPTIONAL_FEATURES, optional)):
        payload += b"".join(field_len(field, v.encode("utf-8"))
                            for v in values)
    if writingprogram is not None:
        payload += field_len(decode.HEADER_WRITINGPROGRAM,
                             writingprogram.encode("utf-8"))
    return payload


def write_pbf(
    path: str,
    blocks,
    compress=True,  # True/"zlib" | "lzma" | "lz4" | "zstd" | False (raw)
) -> None:
    """Write a PBF file.

    ``blocks`` is any iterable of dicts, each becoming one OSMData
    PrimitiveBlock:
      {"nodes":    {"id": [...], "lat_nano": [...], "lon_nano": [...],
                    "tags": [dict|None, ...]},              # optional
       "ways":     [{"id": int, "refs": [...], "tags": dict}, ...],  # optional
       "relations":[{"id": int, "members": [(role, ref, type)], "tags": dict}],
       "changesets": [id, ...]}
    where nodes, ways and relations may carry a ``meta`` (see
    ``_encode_info``). Each block is encoded and compressed as it arrives;
    only the compressed bytes are held until the header is written.

    The header's HeaderBBox covers this file's nodes, the union of the
    blocks' node bounds (each part file of a distributed write gets its
    own tight box — no cross-task aggregation needed); a file without
    nodes gets no bbox. Coordinates are stored at ``decode.GRANULARITY``.
    """
    data = []
    nodes = []  # the stats of the blocks holding nodes
    for blk in blocks:
        stats = _block_stats(blk)
        data.append(_file_block("OSMData", _primitive_block(blk), compress,
                                indexdata=_stats_message(stats)))
        if "min_lat_nano" in stats:
            nodes.append(stats)
    bbox = {
        "left": min(s["min_lon_nano"] for s in nodes),
        "right": max(s["max_lon_nano"] for s in nodes),
        "top": max(s["max_lat_nano"] for s in nodes),
        "bottom": min(s["min_lat_nano"] for s in nodes),
    } if nodes else None
    with fs.fs_open(path, "wb") as f:
        f.write(_file_block("OSMHeader", encode_header_block(bbox=bbox),
                            compress))
        for b in data:
            f.write(b)
