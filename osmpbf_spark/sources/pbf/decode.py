"""OSM PBF scan pipeline: block index, blob decode, columnar block decode.

This is the engine-side replacement for the reference's scan pipeline
(OsmPbfRecordReader.java:96-293), redesigned for Spark's execution model:

- **Exact block index instead of signature resync.** The reference starts a
  reader anywhere in the file and scans forward for the ASCII ``"OSMData"``
  signature (OsmPbfRecordReader.java:96-129). We instead walk the BlobHeader
  chain once (4-byte length + tiny header + seek past the payload — O(#blocks)
  with ~20 bytes read per block) and hand each Spark partition an exact list
  of block ranges. Every block is read exactly once by construction; no
  resync, no read-past-split-end protocol (java:364-384) needed.
- **One planning record per file.** ``_blob_header`` is the one BlobHeader
  parser (the index walk and the resync fallback both use it), and
  ``_file_record`` holds what planning knows about a file — its block
  index and, once asked for, its decoded OSMHeader — in one in-process
  cache entry and one ``pbfidx_*.json`` sidecar doc. ``index_blocks_cached``
  and ``header_block_cached`` are views of that record.
- **Columnar decode.** DenseNodes already store id/lat/lon as packed delta
  arrays (osmformat.proto "We represent these nodes columnwise"); we keep
  them columnar — numpy cumsum for deltas, one vectorized pass per field —
  instead of materializing per-record objects (java:225-268 decodes one node
  per call). Output feeds Arrow RecordBatches straight into Spark.
- **Correctness fixes over the reference** (SURVEY.md §1.4, treated as spec
  decisions): coordinate offset applied once per absolute value, not re-added
  per delta (java:239-240); no stale-tag carry-over (java:242-262); way/
  relation groups decode fully with bounds respected (java:187-223); tags are
  a real map, with the lossy legacy ``"k:v;"`` string available for parity.
"""

from __future__ import annotations

import hashlib
import json
import lzma
import os
import struct
import tempfile
import threading
import zlib
from dataclasses import asdict, dataclass

import numpy as np

from osmpbf_spark.sources.pbf import fs, wire

# fileformat.proto field numbers
BLOBHEADER_TYPE = 1
BLOBHEADER_INDEXDATA = 2
BLOBHEADER_DATASIZE = 3
BLOB_RAW = 1
BLOB_RAW_SIZE = 2
BLOB_ZLIB = 3
BLOB_LZMA = 4
BLOB_OBSOLETE_BZIP2 = 5  # deprecated in fileformat.proto; rejected explicitly
BLOB_LZ4 = 6  # LZ4 block format (no frame header -> raw_size is REQUIRED)
BLOB_ZSTD = 7  # zstd frame
# Blob fields the decoder reads; raw_size is a varint, the rest are bytes
_BLOB_FIELDS = (BLOB_RAW, BLOB_RAW_SIZE, BLOB_ZLIB, BLOB_LZMA, BLOB_LZ4,
                BLOB_ZSTD)
MAX_BLOB_HEADER = 64 * 1024  # fileformat.proto: BlobHeader < 64 KiB
MAX_BLOB = 32 * 1024 * 1024  # fileformat.proto: Blob, and its payload, < 32 MiB
# what a damaged blob raises while it is read, inflated or decoded; each
# caller that knows the file re-raises these as a CorruptPbfError naming
# the path and the blob's byte offset
BLOB_ERRORS = (zlib.error, lzma.LZMAError, struct.error, ValueError,
               IndexError)


class CorruptPbfError(ValueError):
    """The block or blob at byte ``offset`` of ``path`` is damaged, for
    ``reason``. The message is ``"<path>: blob at byte <offset>:
    <reason>"``. A ValueError, so callers catching ValueError keep
    working."""

    def __init__(self, path: str, offset: int, reason: str):
        super().__init__(f"{path}: blob at byte {offset}: {reason}")
        self.path, self.offset, self.reason = path, offset, reason

    def __reduce__(self):  # the default would re-call __init__ with args
        return type(self), (self.path, self.offset, self.reason)


# osmformat.proto field numbers
PB_STRINGTABLE = 1
PB_GROUP = 2
PB_GRANULARITY = 17
PB_DATE_GRANULARITY = 18
PB_LAT_OFFSET = 19
PB_LON_OFFSET = 20

GROUP_NODES = 1
GROUP_DENSE = 2
GROUP_WAYS = 3
GROUP_RELATIONS = 4
GROUP_CHANGESETS = 5  # ChangeSet is "NOT USED" (osmformat.proto:174-189)

DENSE_ID = 1
DENSE_INFO = 5
DENSE_LAT = 8
DENSE_LON = 9
DENSE_KEYS_VALS = 10

NODE_ID = 1
NODE_KEYS = 2
NODE_VALS = 3
NODE_INFO = 4
NODE_LAT = 8
NODE_LON = 9

WAY_ID = 1
WAY_KEYS = 2
WAY_VALS = 3
WAY_INFO = 4
WAY_REFS = 8

REL_ID = 1
REL_KEYS = 2
REL_VALS = 3
REL_INFO = 4
REL_ROLES_SID = 8
REL_MEMIDS = 9
REL_TYPES = 10

INFO_VERSION = 1
INFO_TIMESTAMP = 2
INFO_CHANGESET = 3
INFO_UID = 4
INFO_USER_SID = 5
INFO_VISIBLE = 6

MEMBER_TYPES = np.array(["node", "way", "relation"], dtype=object)

HEADER_BBOX = 1
HEADER_REQUIRED_FEATURES = 4
HEADER_OPTIONAL_FEATURES = 5
HEADER_WRITINGPROGRAM = 16


@dataclass(frozen=True)
class BlockMeta:
    """One FileBlock: where its Blob payload lives and what it is.

    ``stats`` is parsed from BlobHeader.indexdata when present (written by
    our encoder; other producers leave it empty): dict with ``kinds``
    bitmask (1 nodes / 2 ways / 4 relations) and optional ``min_id`` /
    ``max_id`` / ``min_lat_nano`` / ... bounds — enough for split planning
    to prune blocks against pushed-down filters WITHOUT reading any blob.
    """

    block_type: str  # "OSMHeader" | "OSMData"
    data_offset: int  # file offset of the Blob message
    data_size: int  # length of the Blob message
    stats: dict | None = None


_STATS_FIELDS = {
    1: ("kinds", False),
    2: ("min_id", True),
    3: ("max_id", True),
    4: ("min_lat_nano", True),
    5: ("max_lat_nano", True),
    6: ("min_lon_nano", True),
    7: ("max_lon_nano", True),
    8: ("tag_key_bits", False),
}


def _parse_block_stats(buf: bytes) -> dict | None:
    try:
        out = {}
        for field, _wt, v in wire.scan_fields(buf):
            spec = _STATS_FIELDS.get(field)
            if spec is None:
                continue
            name, zz = spec
            out[name] = wire.zigzag_decode(v) if zz else v
        return out or None
    except Exception:  # foreign indexdata layout: ignore, never fail a scan
        return None


def _blob_header(f, path: str, start: int, fsize: int) -> BlockMeta:
    """Parse the file block whose 4-byte length prefix is at ``start``.

    Enforces fileformat.proto's limits: a BlobHeader length outside
    1..64 KiB, an unparseable BlobHeader, a Blob over 32 MiB, or a Blob
    running past the end of the file raises CorruptPbfError naming the
    path and the byte offset of the block, before any payload is read or
    inflated."""
    f.seek(start)
    lenbuf = f.read(4)
    if len(lenbuf) < 4:
        raise CorruptPbfError(path, start, "truncated block length")
    (header_len,) = struct.unpack(">i", lenbuf)
    if not 0 < header_len <= MAX_BLOB_HEADER:
        raise CorruptPbfError(path, start, f"BlobHeader length {header_len} "
                              f"outside 1..{MAX_BLOB_HEADER}")
    header = f.read(header_len)
    btype = ""
    datasize = 0
    stats = None
    try:
        for field, _wt, v in wire.scan_fields(header):
            if field == BLOBHEADER_TYPE:
                btype = v.decode("utf-8")
            elif field == BLOBHEADER_DATASIZE:
                datasize = v
            elif field == BLOBHEADER_INDEXDATA:
                stats = _parse_block_stats(v)
        if not isinstance(datasize, int):
            raise TypeError("datasize is not a varint")
    except (IndexError, ValueError, TypeError, AttributeError,
            struct.error) as e:
        raise CorruptPbfError(path, start,
                              f"unreadable BlobHeader: {e}") from e
    if datasize > MAX_BLOB:
        raise CorruptPbfError(path, start, f"declares a Blob of {datasize} "
                              f"bytes, over the {MAX_BLOB}-byte limit")
    data_offset = start + 4 + header_len
    if len(header) < header_len or data_offset + datasize > fsize:
        raise CorruptPbfError(path, start,
                              f"runs past the end of the {fsize}-byte file")
    return BlockMeta(btype, data_offset, datasize, stats)


def index_blocks(path: str) -> list[BlockMeta]:
    """Walk the BlobHeader chain and return the exact block index.

    Driver-side split planning (supersedes FileInputFormat.getSplits +
    signature resync, OsmPbfInputFormat.java:13-19 / OsmPbfRecordReader.java:
    96-129). Cost: one ~20-byte read + one seek per block, so ~2k reads for a
    32 GB planet file with 16 MB blocks — trivial even at 100 TB spread over
    many files (index each file in parallel tasks if the file count is huge).
    Every block passes ``_blob_header``'s fileformat.proto checks; a stray
    partial length prefix at the end of the file is rejected too.
    """
    blocks: list[BlockMeta] = []
    with fs.fs_open(path, "rb") as f:
        f.seek(0, 2)
        fsize = f.tell()
        pos = 0
        while pos < fsize:
            meta = _blob_header(f, path, pos, fsize)
            blocks.append(meta)
            pos = meta.data_offset + meta.data_size
    return blocks


# One planning record per file, keyed by (path, size, mtime_ns):
# {"blocks": [BlockMeta], "header": decoded OSMHeader dict (once asked
# for)}. Bounded FIFO: planning re-runs (every Spark action re-plans;
# streams re-plan per micro-batch) hit this tier, while the sidecar tier
# in _file_record survives processes. 256 files x ~60k BlockMeta ≈ tens
# of MB worst case — a driver-side planning cache, never shipped to
# executors. The lock covers eviction+insert: _index_files hits this from
# 16 pool threads, and two threads racing the FIFO pop on the same first
# key is a KeyError that would fail the whole plan.
_INDEX_CACHE: dict[tuple, dict] = {}
_INDEX_CACHE_MAX = 256
_INDEX_CACHE_LOCK = threading.Lock()


def _file_record(path: str, cache_dir: str | None, header: bool) -> dict:
    """What planning knows about one file — ``{"blocks", "header"?}`` —
    behind two cache tiers keyed by the file's (path, size, mtime_ns)
    identity: the in-process ``_INDEX_CACHE`` (re-plans within one
    driver) and an optional JSON sidecar directory (``cache_dir``, the
    ``index_cache_dir`` reader option — survives driver restarts, so a
    100 TB lake pays the header walk once per file EVER, not once per
    session). The sidecar is one ``pbfidx_*.json`` doc per file, named
    by the PATH digest with the identity stored inside — a rewritten
    file replaces its own sidecar in place instead of orphaning one per
    identity, so the cache dir is bounded by the live file count.

    ``header=True`` also decodes the OSMHeader, once, into the same
    record and sidecar doc (a record or doc without it is upgraded in
    place); a file with no OSMHeader block raises a ValueError naming
    the path. A file whose backend reports no stable identity
    (memory://, stat failure) is walked every call — the cache can skip
    work, never change results."""
    ident = fs.fs_stat(path)
    key = (path, ident[0], ident[1]) if ident is not None else None
    rec = None
    if key is not None:
        with _INDEX_CACHE_LOCK:
            rec = _INDEX_CACHE.get(key)
    if rec is not None and (not header or "header" in rec):
        return rec
    sidecar = None
    if cache_dir and key is not None:
        digest = hashlib.sha256(path.encode()).hexdigest()[:32]
        sidecar = os.path.join(cache_dir, f"pbfidx_{digest}.json")
    if rec is None and sidecar is not None:
        try:
            with open(sidecar) as fh:
                doc = json.load(fh)
            if (doc.get("size"), doc.get("mtime_ns")) == ident:
                rec = {"blocks": [BlockMeta(**b) for b in doc["blocks"]]}
                if isinstance(doc.get("header"), dict):
                    rec["header"] = doc["header"]
        except (OSError, ValueError, TypeError, KeyError, AttributeError):
            pass  # absent/unreadable/stale: rebuild below
    built = rec is None or (header and "header" not in rec)
    if rec is None:
        rec = {"blocks": index_blocks(path)}
    if header and "header" not in rec:
        meta = next(
            (m for m in rec["blocks"] if m.block_type == "OSMHeader"), None
        )
        if meta is None:
            raise ValueError(
                f"{path}: no OSMHeader block — refusing to plan from a file "
                "the decoder could not identify"
            )
        with fs.fs_open(path, "rb") as f:
            try:
                hdr = decode_header_block(read_block_payload(f, meta))
            except BLOB_ERRORS as e:
                raise CorruptPbfError(path, meta.data_offset, str(e)) from e
        rec = {**rec, "header": hdr}
    if built and sidecar is not None:
        doc = {**rec, "size": ident[0], "mtime_ns": ident[1],
               "blocks": [asdict(b) for b in rec["blocks"]]}
        tmp = None
        try:
            os.makedirs(cache_dir, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=cache_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as fh:
                json.dump(doc, fh)
            os.replace(tmp, sidecar)  # atomic: concurrent planners
            # either see the full sidecar or none
            tmp = None
        except OSError:
            pass  # read-only/full cache dir: planning still succeeded
        finally:
            if tmp is not None:  # failed write: no .tmp turds left
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
    if key is not None:
        with _INDEX_CACHE_LOCK:
            while len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
                _INDEX_CACHE.pop(next(iter(_INDEX_CACHE)))
            _INDEX_CACHE[key] = rec
    return rec


def index_blocks_cached(
    path: str, cache_dir: str | None = None
) -> list[BlockMeta]:
    """``index_blocks`` behind ``_file_record``'s cache tiers."""
    return _file_record(path, cache_dir, header=False)["blocks"]


def header_block_cached(path: str, cache_dir: str | None = None) -> dict:
    """Decoded OSMHeader metadata behind ``_file_record``'s cache tiers;
    a headerless file raises a ValueError naming the path."""
    return _file_record(path, cache_dir, header=True)["header"]


def resync_scan(path: str, from_offset: int = 0) -> list[BlockMeta]:
    """Signature-resync fallback for corrupt or truncated files.

    The reference's ONLY split strategy (OsmPbfRecordReader.java:96-129):
    scan forward for the ASCII ``"OSMData"`` BlobHeader type string, back
    up over the 2 header-tag bytes + 4-byte length prefix to the block
    start, and resume the header walk from there. Our engine uses the
    exact block index (index_blocks) as the primary path and keeps this
    only for recovery: if a BlobHeader chain is broken mid-file (bad
    datasize, flipped bytes), this re-finds every subsequent intact block
    instead of losing the rest of the file.
    """
    sig = b"OSMData"
    # WINDOWED scan, O(window) memory: the recovery path exists precisely
    # for planet-scale files, so slurping the whole file (the old shape)
    # would OOM the very workload it serves. Signatures are found inside
    # a sliding window (with len(sig)-1 overlap so boundary-straddling
    # hits are seen); each candidate's header bytes are read by targeted
    # seeks, and a validated block fast-forwards the scan past its blob.
    chunk = 4 << 20
    over = len(sig) - 1
    blocks: list[BlockMeta] = []
    with fs.fs_open(path, "rb") as f:
        f.seek(0, 2)
        fsize = f.tell()

        def try_block(hit: int) -> BlockMeta | None:
            # the block starts 6 bytes before the signature: the 4-byte
            # BE length prefix, then the type field's tag (1 byte) and
            # length varint (1 byte for len 7) — java:118's backup rule.
            # The candidate passes index_blocks' own checks or is no block.
            if hit < 6:
                return None
            try:
                meta = _blob_header(f, path, hit - 6, fsize)
            except CorruptPbfError:
                return None
            if meta.block_type == "OSMData" and meta.data_size > 0:
                return meta
            return None

        pos = from_offset
        while pos < fsize:
            win_start = pos
            f.seek(win_start)
            data = f.read(chunk + over)
            if not data:
                break
            local = 0
            advanced = None
            while True:
                hit = data.find(sig, local)
                if hit < 0:
                    break
                meta = try_block(win_start + hit)
                if meta is not None:
                    blocks.append(meta)
                    advanced = meta.data_offset + meta.data_size
                    break
                local = hit + 1
            if advanced is not None:
                pos = advanced
            else:
                pos = win_start + max(len(data) - over, 1)
    return blocks


def read_block_payload(f, meta: BlockMeta, zlib_only: bool = False) -> bytes:
    """Read + decompress one Blob into its raw payload bytes.

    Replaces OsmPbfRecordReader.java:153-185; we additionally accept raw
    (uncompressed), lzma, lz4 and zstd blobs, all of which the reference
    rejects (OsmPbfRecordReader.java:180-181 accepts only zlib) — newer
    osmium tooling can emit lz4/zstd planet extracts (fileformat.proto
    fields 6/7), so out-paritying the reference here matters on real
    files. ``zlib_only`` restores the reference's rejection for
    bug-parity runs.

    lz4 blobs are LZ4 *block* format (per the spec) and zstd decompression
    here also sizes its output buffer up front, so both REQUIRE the blob's
    ``raw_size`` field — the spec mandates it on every compressed blob and
    osmium always writes it; a blob missing it fails loudly rather than
    guessing a buffer size. Codecs come from pyarrow (bundled C++
    lz4/zstd), keeping the container dependency-free.
    """
    f.seek(meta.data_offset)
    blob = f.read(meta.data_size)
    raw = None
    raw_size = None
    zlib_data = None
    lzma_data = None
    lz4_data = None
    zstd_data = None
    for field, wt, v in wire.scan_fields(blob):
        if field in _BLOB_FIELDS and (wt == wire.WT_VARINT) != (
            field == BLOB_RAW_SIZE
        ):
            raise ValueError(f"blob field {field} has wire type {wt}")
        if field == BLOB_RAW:
            raw = v
        elif field == BLOB_RAW_SIZE:
            raw_size = v
        elif field == BLOB_ZLIB:
            zlib_data = v
        elif field == BLOB_LZMA:
            lzma_data = v
        elif field == BLOB_LZ4:
            lz4_data = v
        elif field == BLOB_ZSTD:
            zstd_data = v
        elif field == BLOB_OBSOLETE_BZIP2:
            # fileformat.proto field 5 is deprecated ("Don't reuse this
            # tag number") — name it in the error so a user holding an
            # ancient bzip2 planet file learns WHY it is rejected rather
            # than seeing a generic unknown-field failure
            raise ValueError(
                "blob uses OBSOLETE_bzip2_data (fileformat.proto field 5, "
                "deprecated); re-encode the file with zlib/zstd/lz4"
            )
        else:
            raise ValueError(
                f"unsupported blob compression (field {field}); "
                "raw, zlib, lzma, lz4 and zstd are implemented"
            )
    if zlib_only and zlib_data is None:
        # compat §1.4.6: the reference accepts only zlib blobs
        # (OsmPbfRecordReader.java:164-182 DataFormatException)
        raise ValueError("unsupported compression algorithm in OSM file block")
    if raw_size is not None and raw_size > MAX_BLOB:
        raise ValueError(f"raw_size {raw_size} over the {MAX_BLOB}-byte "
                         "limit")
    if raw is not None:
        out = raw
    elif zlib_data is not None or lzma_data is not None:
        # bounded inflate: never more than raw_size (or the spec's limit)
        # bytes, whatever the stream would expand to; at least 1 because a
        # max_length of 0 means no limit at all
        cap = max(raw_size, 1) if raw_size is not None else MAX_BLOB
        if zlib_data is not None:
            d = zlib.decompressobj()
            out = d.decompress(zlib_data, cap)
        else:
            d = lzma.LZMADecompressor()
            out = d.decompress(lzma_data, max_length=cap)
        if not d.eof or d.unused_data:
            raise ValueError(
                "compressed stream "
                + ("has input left over" if d.eof else
                   f"does not end within {cap} inflated bytes")
            )
    elif lz4_data is not None or zstd_data is not None:
        import pyarrow as pa

        name = "lz4_raw" if lz4_data is not None else "zstd"
        data = lz4_data if lz4_data is not None else zstd_data
        if raw_size is None:
            raise ValueError(
                f"{name} blob without raw_size — the spec requires "
                "raw_size on compressed blobs; cannot size the output"
            )
        out = pa.Codec(name).decompress(
            data, decompressed_size=raw_size, asbytes=True
        )
    else:
        raise ValueError("empty blob")
    if raw_size is not None and len(out) != raw_size:
        raise ValueError(f"blob raw_size {raw_size} != inflated {len(out)}")
    return out


def _decode_header_bbox(payload: bytes) -> dict:
    """HeaderBBox (osmformat.proto:57-63): left/right/top/bottom, sint64
    (zigzag) nanodegrees."""
    bbox = {"left": None, "right": None, "top": None, "bottom": None}
    names = {1: "left", 2: "right", 3: "top", 4: "bottom"}
    for field, _wt, v in wire.scan_fields(payload):
        name = names.get(field)
        if name is not None:
            bbox[name] = wire.zigzag_decode(v)
    return bbox


def decode_header_block(payload: bytes) -> dict:
    """HeaderBlock -> metadata dict (the reference reads it only to skip it,
    OsmPbfRecordReader.java:131-147; we surface it via `osmpbf_header`).

    ``bbox`` is the HeaderBBox in nanodegrees (osmformat.proto:57-90), or
    None when the file carries no bbox — the reference drops it entirely."""
    required: list[str] = []
    optional: list[str] = []
    program = None
    bbox = None
    for field, _wt, v in wire.scan_fields(payload):
        if field == HEADER_BBOX:
            bbox = _decode_header_bbox(v)
        elif field == HEADER_REQUIRED_FEATURES:
            required.append(v.decode("utf-8"))
        elif field == HEADER_OPTIONAL_FEATURES:
            optional.append(v.decode("utf-8"))
        elif field == HEADER_WRITINGPROGRAM:
            program = v.decode("utf-8")
    return {
        "required_features": required,
        "optional_features": optional,
        "writingprogram": program,
        "bbox": bbox,
    }


# ---------------------------------------------------------------------------
# PrimitiveBlock decode
# ---------------------------------------------------------------------------


def _decode_string_table(buf: bytes) -> np.ndarray:
    vals = [v for field, _wt, v in wire.scan_fields(buf) if field == 1]
    return np.array([s.decode("utf-8", "replace") for s in vals], dtype=object)


def _varint_to_int64(v: int) -> int:
    """Reinterpret an unsigned varint as a signed protobuf int64 (two's
    complement — distinct from sint64's zigzag)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _empty_tags(n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return (
        np.zeros(n + 1, dtype=np.int64),
        np.empty(0, dtype=object),
        np.empty(0, dtype=object),
    )


class BlockDecoder:
    """Decode one PrimitiveBlock into columnar arrays for one primitive type.

    Tags come out flattened as (offsets[n+1], keys[], vals[]) — exactly the
    layout of an Arrow MapArray, so the data source builds map columns with
    zero per-row work. ``with_meta`` adds Info/DenseInfo provenance columns
    (version, timestamp_ms, changeset, uid, user, visible) that the reference
    decodes but drops (SURVEY §1.3).

    ``compat_stale_tags`` replicates reference bug §1.4.2 for byte-exact
    migration testing: when the dense keys_vals stream ends before the node
    stream, the reference's per-node tag builder keeps the LAST decoded
    node's tags for every remaining node (OsmPbfRecordReader.java:242-259 —
    only the keysValsIsEmpty branch at :260-262 resets to empty). Default
    is the spec-correct behavior: trailing nodes are untagged.
    """

    def __init__(self, payload: bytes, compat_stale_tags: bool = False):
        self.compat_stale_tags = compat_stale_tags
        self.granularity = 100
        self.date_granularity = 1000
        self.lat_offset = 0
        self.lon_offset = 0
        self.strings: np.ndarray = np.empty(0, dtype=object)
        self.groups: list[bytes] = []
        for field, _wt, v in wire.scan_fields(payload):
            if field == PB_STRINGTABLE:
                self.strings = _decode_string_table(v)
            elif field == PB_GROUP:
                self.groups.append(v)
            elif field == PB_GRANULARITY:
                self.granularity = v
            elif field == PB_DATE_GRANULARITY:
                self.date_granularity = v
            elif field == PB_LAT_OFFSET:
                # plain int64, NOT zigzag (osmformat.proto declares
                # lat_offset/lon_offset as int64; negative values arrive
                # as 64-bit two's-complement varints)
                self.lat_offset = _varint_to_int64(v)
            elif field == PB_LON_OFFSET:
                self.lon_offset = _varint_to_int64(v)

    # -- coordinate scaling (offset applied once per absolute value; fixes
    # the reference's per-delta re-add, OsmPbfRecordReader.java:239-240) ----
    def _scale(self, raw: np.ndarray, offset: int) -> np.ndarray:
        return 1e-9 * (offset + self.granularity * raw.astype(np.float64))

    def group_types(self) -> list[int]:
        """Which group kinds this block holds (for type-projection skipping,
        the Spark analog of OsmPbfRecordReader.java:283-290)."""
        kinds = []
        for g in self.groups:
            kind = 0
            for field, _wt, _v in wire.scan_fields(g):
                if field in (
                    GROUP_NODES,
                    GROUP_DENSE,
                    GROUP_WAYS,
                    GROUP_RELATIONS,
                    GROUP_CHANGESETS,
                ):
                    kind = field
                    break
            kinds.append(kind)
        return kinds

    def count_changesets(self) -> int:
        """Count ChangeSet entries. The format declares the message id-only
        and "NOT USED" (osmformat.proto:174-189) and the reference never
        parses it (loadPrimitiveGroup falls through,
        OsmPbfRecordReader.java:291); we count-and-skip with a warning so
        no group type passes through silently."""
        n = 0
        for g in self.groups:
            for field, _wt, _v in wire.scan_fields(g):
                if field == GROUP_CHANGESETS:
                    n += 1
        return n

    def decode_changesets(self) -> dict[str, np.ndarray]:
        """All ChangeSet entries in the block, columnar. The message is
        id-only by spec (``required int64 id = 1``, osmformat.proto:
        174-189, declared "NOT USED"); surfacing it as an id frame closes
        the one group type the reference leaves unparsed (parity-plus —
        loadPrimitiveGroup falls through at OsmPbfRecordReader.java:291)."""
        ids: list[int] = []
        for g in self.groups:
            for field, _wt, v in wire.scan_fields(g):
                if field != GROUP_CHANGESETS:
                    continue
                for f2, _wt2, v2 in wire.scan_fields(v):
                    if f2 == 1:  # ChangeSet.id, plain varint int64
                        # two's-complement fold: a negative int64 arrives
                        # as a 10-byte varint (unsigned 2^64 range)
                        ids.append(v2 - 2**64 if v2 >= 2**63 else v2)
        return {"id": np.asarray(ids, dtype=np.int64)}

    # ------------------------------------------------------------------ nodes
    def decode_nodes(self) -> dict[str, np.ndarray]:
        """All nodes in the block (dense + plain), columnar."""
        parts = []
        for g in self.groups:
            dense = []
            plain = []
            for field, _wt, v in wire.scan_fields(g):
                if field == GROUP_DENSE:
                    dense.append(v)
                elif field == GROUP_NODES:
                    plain.append(v)
            for d in dense:
                parts.append(self._decode_dense(d))
            if plain:
                parts.append(self._decode_plain_nodes(plain))
        return _concat_columns(parts, self._node_empty())

    def _node_empty(self) -> dict[str, np.ndarray]:
        off, k, v = _empty_tags(0)
        return {
            "id": np.empty(0, dtype=np.int64),
            "lat": np.empty(0, dtype=np.float64),
            "lon": np.empty(0, dtype=np.float64),
            "tag_offsets": off,
            "tag_keys": k,
            "tag_vals": v,
            **_empty_meta(0),
        }

    def _decode_dense(self, buf: bytes) -> dict[str, np.ndarray]:
        # protobuf REQUIRES parsers to concatenate a packed repeated field
        # that a writer split across multiple occurrences — last-wins would
        # silently drop nodes and desynchronize the delta chains, so each
        # field accumulates parts and the cumsum runs over the concat
        id_p: list = []
        lat_p: list = []
        lon_p: list = []
        kv_p: list = []
        info_buf = None
        for field, _wt, v in wire.scan_fields(buf):
            if field == DENSE_ID:
                id_p.append(wire.decode_packed_sint(v))
            elif field == DENSE_LAT:
                lat_p.append(wire.decode_packed_sint(v))
            elif field == DENSE_LON:
                lon_p.append(wire.decode_packed_sint(v))
            elif field == DENSE_KEYS_VALS:
                kv_p.append(wire.decode_packed_int(v))
            elif field == DENSE_INFO:
                info_buf = v

        def _cat(parts):
            # single-occurrence fast path (the overwhelmingly common
            # wire shape): no copy — every consumer below either
            # allocates fresh output (cumsum) or reads without mutation
            if len(parts) == 1:
                return parts[0]
            return (
                np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
            )

        ids = np.cumsum(_cat(id_p))
        lats = np.cumsum(_cat(lat_p))
        lons = np.cumsum(_cat(lon_p))
        keys_vals = _cat(kv_p)
        n = len(ids)
        off, keys, vals = self._dense_tags(keys_vals, n)
        meta = (
            self._decode_dense_info(info_buf, n)
            if info_buf is not None
            else _empty_meta(n)
        )
        return {
            "id": ids.astype(np.int64),
            "lat": self._scale(lats, self.lat_offset),
            "lon": self._scale(lons, self.lon_offset),
            "tag_offsets": off,
            "tag_keys": keys,
            "tag_vals": vals,
            **meta,
        }

    def _dense_tags(
        self, kv: np.ndarray, n: int
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """keys_vals is ((k,v)* 0)* — zero-delimited per-node runs. Vectorized:
        zero positions give per-node run lengths; everything else alternates
        key/value string-table ids. No stale-tag carry-over (§1.4.2) unless
        ``compat_stale_tags`` opted in."""
        if len(kv) == 0:
            return _empty_tags(n)
        zero_pos = np.flatnonzero(kv == 0)
        if len(zero_pos) == 0:
            # non-empty stream with NO run delimiter: a truncated/foreign
            # producer ended mid-run — no COMPLETE run exists, so every
            # node is untagged (the same policy as trailing truncation)
            return _empty_tags(n)
        # pairs per node = (run length) / 2
        run_start = np.empty_like(zero_pos)
        run_start[0] = 0
        run_start[1:] = zero_pos[:-1] + 1
        pairs = (zero_pos - run_start) // 2
        k = min(len(pairs), n)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(pairs[:k], out=offsets[1 : k + 1])
        nonzero = kv[kv != 0]
        keys = self.strings[nonzero[0::2]]
        vals = self.strings[nonzero[1::2]]
        if k < n:
            if self.compat_stale_tags and k > 0 and pairs[k - 1] > 0:
                # bug-parity: every truncated-run node repeats the last
                # decoded node's tags (same stale buffer each time)
                last_lo, last_hi = offsets[k - 1], offsets[k]
                run_k, run_v = keys[last_lo:last_hi], vals[last_lo:last_hi]
                m = int(last_hi - last_lo)
                offsets[k + 1 :] = offsets[k] + np.arange(1, n - k + 1) * m
                keys = np.concatenate([keys, np.tile(run_k, n - k)])
                vals = np.concatenate([vals, np.tile(run_v, n - k)])
            else:  # spec: trailing nodes with no run are untagged
                offsets[k + 1 :] = offsets[k]
        return offsets, keys, vals

    def _decode_plain_nodes(self, bufs: list[bytes]) -> dict[str, np.ndarray]:
        """Plain (non-dense) Node messages — the reference never parses these
        (SURVEY §1.3); we do, for format completeness."""
        ids, lats, lons = [], [], []
        koffs = [0]
        keys: list = []
        vals: list = []
        metas = []
        for buf in bufs:
            nid = lat = lon = 0
            ksids = vsids = None
            info = None
            for field, _wt, v in wire.scan_fields(buf):
                if field == NODE_ID:
                    nid = wire.zigzag_decode(v)
                elif field == NODE_LAT:
                    lat = wire.zigzag_decode(v)
                elif field == NODE_LON:
                    lon = wire.zigzag_decode(v)
                elif field == NODE_KEYS:
                    ksids = wire.decode_packed_uint(v)
                elif field == NODE_VALS:
                    vsids = wire.decode_packed_uint(v)
                elif field == NODE_INFO:
                    info = v
            ids.append(nid)
            lats.append(lat)
            lons.append(lon)
            if ksids is not None and len(ksids):
                keys.extend(self.strings[ksids.astype(np.int64)])
                vals.extend(self.strings[vsids.astype(np.int64)])
                koffs.append(koffs[-1] + len(ksids))
            else:
                koffs.append(koffs[-1])
            metas.append(self._decode_info(info))
        return {
            "id": np.array(ids, dtype=np.int64),
            "lat": self._scale(np.array(lats, dtype=np.int64), self.lat_offset),
            "lon": self._scale(np.array(lons, dtype=np.int64), self.lon_offset),
            "tag_offsets": np.array(koffs, dtype=np.int64),
            "tag_keys": np.array(keys, dtype=object),
            "tag_vals": np.array(vals, dtype=object),
            **_stack_meta(metas),
        }

    # ------------------------------------------------------------------- ways
    def decode_ways(self) -> dict[str, np.ndarray]:
        ids = []
        ref_arrays = []
        koffs = [0]
        keys: list = []
        vals: list = []
        metas = []
        for g in self.groups:
            for field, _wt, v in wire.scan_fields(g):
                if field != GROUP_WAYS:
                    continue
                wid = 0
                k_p: list = []
                v_p: list = []
                r_p: list = []
                info = None
                for f2, _w2, v2 in wire.scan_fields(v):
                    if f2 == WAY_ID:
                        # plain int64 varint: two's-complement fold — raw
                        # would overflow np.int64 for negative ids (legal
                        # in OSM tooling for not-yet-uploaded objects)
                        wid = _varint_to_int64(v2)
                    elif f2 == WAY_KEYS:
                        k_p.append(wire.decode_packed_uint(v2))
                    elif f2 == WAY_VALS:
                        v_p.append(wire.decode_packed_uint(v2))
                    elif f2 == WAY_REFS:
                        r_p.append(wire.decode_packed_sint(v2))
                    elif f2 == WAY_INFO:
                        info = v2
                # packed-field split-occurrence concat (protobuf spec)
                ksids = np.concatenate(k_p) if k_p else None
                vsids = np.concatenate(v_p) if v_p else None
                refs = (
                    np.cumsum(np.concatenate(r_p))
                    if r_p
                    else np.empty(0, dtype=np.int64)
                )
                ids.append(wid)
                ref_arrays.append(refs.astype(np.int64))
                if ksids is not None and len(ksids):
                    keys.extend(self.strings[ksids.astype(np.int64)])
                    vals.extend(self.strings[vsids.astype(np.int64)])
                    koffs.append(koffs[-1] + len(ksids))
                else:
                    koffs.append(koffs[-1])
                metas.append(self._decode_info(info))
        ref_offsets = np.zeros(len(ids) + 1, dtype=np.int64)
        if ref_arrays:
            np.cumsum([len(r) for r in ref_arrays], out=ref_offsets[1:])
        return {
            "id": np.array(ids, dtype=np.int64),
            "ref_offsets": ref_offsets,
            "ref_values": (
                np.concatenate(ref_arrays)
                if ref_arrays
                else np.empty(0, dtype=np.int64)
            ),
            "tag_offsets": np.array(koffs, dtype=np.int64),
            "tag_keys": np.array(keys, dtype=object),
            "tag_vals": np.array(vals, dtype=object),
            **_stack_meta(metas),
        }

    # -------------------------------------------------------------- relations
    def decode_relations(self) -> dict[str, np.ndarray]:
        """Relations — declared-but-unimplemented in the reference
        (README.md:4, OsmPbfRecordReader.java:291); implemented here."""
        ids = []
        moffs = [0]
        roles: list = []
        mrefs = []
        mtypes: list = []
        koffs = [0]
        keys: list = []
        vals: list = []
        metas = []
        for g in self.groups:
            for field, _wt, v in wire.scan_fields(g):
                if field != GROUP_RELATIONS:
                    continue
                rid = 0
                k_p: list = []
                v_p: list = []
                role_p: list = []
                mem_p: list = []
                type_p: list = []
                info = None
                for f2, _w2, v2 in wire.scan_fields(v):
                    if f2 == REL_ID:
                        rid = _varint_to_int64(v2)  # see WAY_ID note
                    elif f2 == REL_KEYS:
                        k_p.append(wire.decode_packed_uint(v2))
                    elif f2 == REL_VALS:
                        v_p.append(wire.decode_packed_uint(v2))
                    elif f2 == REL_ROLES_SID:
                        role_p.append(wire.decode_packed_int(v2))
                    elif f2 == REL_MEMIDS:
                        mem_p.append(wire.decode_packed_sint(v2))
                    elif f2 == REL_TYPES:
                        type_p.append(wire.decode_packed_int(v2))
                    elif f2 == REL_INFO:
                        info = v2

                def _cat(parts):
                    return (
                        np.concatenate(parts)
                        if parts
                        else np.empty(0, dtype=np.int64)
                    )

                ksids = np.concatenate(k_p) if k_p else None
                vsids = np.concatenate(v_p) if v_p else None
                role_sids = _cat(role_p)
                memids = np.cumsum(_cat(mem_p))
                types = _cat(type_p)
                ids.append(rid)
                roles.extend(self.strings[role_sids])
                mrefs.append(memids.astype(np.int64))
                mtypes.extend(MEMBER_TYPES[types])
                moffs.append(moffs[-1] + len(memids))
                if ksids is not None and len(ksids):
                    keys.extend(self.strings[ksids.astype(np.int64)])
                    vals.extend(self.strings[vsids.astype(np.int64)])
                    koffs.append(koffs[-1] + len(ksids))
                else:
                    koffs.append(koffs[-1])
                metas.append(self._decode_info(info))
        return {
            "id": np.array(ids, dtype=np.int64),
            "member_offsets": np.array(moffs, dtype=np.int64),
            "member_roles": np.array(roles, dtype=object),
            "member_refs": (
                np.concatenate(mrefs) if mrefs else np.empty(0, dtype=np.int64)
            ),
            "member_types": np.array(mtypes, dtype=object),
            "tag_offsets": np.array(koffs, dtype=np.int64),
            "tag_keys": np.array(keys, dtype=object),
            "tag_vals": np.array(vals, dtype=object),
            **_stack_meta(metas),
        }

    # ------------------------------------------------------------------- meta
    def _decode_info(self, buf: bytes | None) -> dict:
        out = {
            "version": -1,
            "timestamp_ms": None,
            "changeset": None,
            "uid": None,
            "user": None,
            "visible": True,
        }
        if buf is None:
            return out
        for field, _wt, v in wire.scan_fields(buf):
            if field == INFO_VERSION:
                out["version"] = np.int64(v).astype(np.int32)
            elif field == INFO_TIMESTAMP:
                # plain int64 varints: fold two's complement before use —
                # pre-1970 timestamps and uid=-1 (the historical
                # anonymous-edit convention) are legal and would otherwise
                # overflow the int64 meta arrays in _stack_meta
                out["timestamp_ms"] = _varint_to_int64(v) * self.date_granularity
            elif field == INFO_CHANGESET:
                out["changeset"] = _varint_to_int64(v)
            elif field == INFO_UID:
                out["uid"] = _varint_to_int64(v)
            elif field == INFO_USER_SID:
                out["user"] = self.strings[v]
            elif field == INFO_VISIBLE:
                out["visible"] = bool(v)
        return out

    def _decode_dense_info(self, buf: bytes, n: int) -> dict[str, np.ndarray]:
        version = np.full(n, -1, dtype=np.int32)
        timestamp = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
        changeset = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
        uid = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
        user = np.full(n, None, dtype=object)
        visible = np.ones(n, dtype=bool)
        for field, _wt, v in wire.scan_fields(buf):
            if field == 1:
                # slice by DECODED element count, not packed byte count —
                # multi-byte varints make len(v) > #elements and the
                # broadcast assignment would crash on truncated arrays
                ver = wire.decode_packed_int(v)[:n]
                version[: len(ver)] = ver
            elif field == 2:
                ts = np.cumsum(wire.decode_packed_sint(v))[:n]
                timestamp[: len(ts)] = ts * self.date_granularity
            elif field == 3:
                cs = np.cumsum(wire.decode_packed_sint(v))[:n]
                changeset[: len(cs)] = cs
            elif field == 4:
                u = np.cumsum(wire.decode_packed_sint(v))[:n]
                uid[: len(u)] = u
            elif field == 5:
                us = np.cumsum(wire.decode_packed_sint(v))[:n]
                user[: len(us)] = self.strings[us]
            elif field == 6:
                vis = wire.decode_packed_int(v)[:n]
                visible[: len(vis)] = vis.astype(bool)
        return {
            "meta_version": version,
            "meta_timestamp_ms": timestamp,
            "meta_changeset": changeset,
            "meta_uid": uid,
            "meta_user": user,
            "meta_visible": visible,
        }


def _empty_meta(n: int) -> dict[str, np.ndarray]:
    return {
        "meta_version": np.full(n, -1, dtype=np.int32),
        "meta_timestamp_ms": np.full(n, np.iinfo(np.int64).min, dtype=np.int64),
        "meta_changeset": np.full(n, np.iinfo(np.int64).min, dtype=np.int64),
        "meta_uid": np.full(n, np.iinfo(np.int64).min, dtype=np.int64),
        "meta_user": np.full(n, None, dtype=object),
        "meta_visible": np.ones(n, dtype=bool),
    }


def _stack_meta(metas: list[dict]) -> dict[str, np.ndarray]:
    n = len(metas)
    out = _empty_meta(n)
    sentinel = np.iinfo(np.int64).min
    for i, m in enumerate(metas):
        out["meta_version"][i] = m["version"]
        out["meta_timestamp_ms"][i] = (
            m["timestamp_ms"] if m["timestamp_ms"] is not None else sentinel
        )
        out["meta_changeset"][i] = (
            m["changeset"] if m["changeset"] is not None else sentinel
        )
        out["meta_uid"][i] = m["uid"] if m["uid"] is not None else sentinel
        out["meta_user"][i] = m["user"]
        out["meta_visible"][i] = m["visible"]
    return out


def _concat_columns(
    parts: list[dict[str, np.ndarray]], empty: dict[str, np.ndarray]
) -> dict[str, np.ndarray]:
    """Concatenate per-group columnar dicts, rebasing offset columns."""
    if not parts:
        return empty
    if len(parts) == 1:
        return parts[0]
    out: dict[str, np.ndarray] = {}
    for col in parts[0]:
        if col.endswith("_offsets"):
            base = 0
            segs = [np.zeros(1, dtype=np.int64)]
            for p in parts:
                segs.append(p[col][1:] + base)
                base += p[col][-1]
            out[col] = np.concatenate(segs)
        else:
            out[col] = np.concatenate([p[col] for p in parts])
    return out
