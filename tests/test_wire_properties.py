"""Property-based tests (hypothesis) for the protobuf wire codec — the
lowest layer everything in the PBF path stands on. Round-trip laws over the
full value domains catch encoding edge cases (boundary varints, negative
int64 two's-complement, zigzag extremes, empty/huge packed arrays) that
fixture-driven tests never sample."""

from __future__ import annotations

import functools
import os
from collections import Counter

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmpbf_spark.sources.pbf import fixture, wire

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
U64 = st.integers(min_value=0, max_value=2**64 - 1)


@given(U64)
def test_varint_roundtrip_uint(v):
    buf = wire.write_varint(v)
    out, pos = wire.read_varint(buf, 0)
    assert out == v and pos == len(buf)
    assert len(buf) <= 10  # protobuf varint max


@given(I64)
def test_varint_negative_is_twos_complement(v):
    """Negative int64 encodes as its 64-bit two's complement (protobuf
    int64 semantics) and always terminates."""
    buf = wire.write_varint(v)
    out, _ = wire.read_varint(buf, 0)
    assert out == v & ((1 << 64) - 1)


@given(I64)
def test_zigzag_roundtrip(v):
    assert wire.zigzag_decode(wire.zigzag_encode(v)) == v


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_zigzag_decode_encode_inverse(u):
    assert wire.zigzag_encode(wire.zigzag_decode(u)) == u


@given(st.lists(U64, max_size=300))
@settings(max_examples=50)
def test_packed_uint_roundtrip(vals):
    buf = wire.encode_packed_uint(vals)
    out = wire.decode_packed_uint(buf)
    # decoder returns int64-reinterpreted values (numpy); compare mod 2^64
    assert [int(x) & ((1 << 64) - 1) for x in out] == vals


@given(st.lists(I64, max_size=300))
@settings(max_examples=50)
def test_packed_sint_roundtrip(vals):
    buf = wire.encode_packed_sint(vals)
    out = wire.decode_packed_sint(buf)
    assert [int(x) for x in out] == vals


@pytest.mark.parametrize(
    "buf, match",
    [
        # all-1-byte tier
        (b"\x80", "ends inside"),
        (b"\x01\x80", "ends inside"),
        # sparse tier (at most 32 multi-byte varints)
        (b"\x01" * 8 + b"\x80\x01\x80", "ends inside"),
        (b"\x01" * 8 + b"\xff" * 10 + b"\x01", "longer than 10 bytes"),
        # word-gather tier (more than 32 multi-byte varints)
        (b"\x80\x01" * 40 + b"\x80", "ends inside"),
        (b"\x80\x01" * 40 + b"\xff" * 10 + b"\x01", "longer than 10 bytes"),
        # a 9-byte varint cut after 8 bytes, a 10-byte one after 9
        (b"\x80\x01" * 40 + b"\xff" * 8, "ends inside"),
        (b"\x80\x01" * 40 + b"\xff" * 9, "ends inside"),
    ],
    ids=["1byte-lone", "1byte-cut", "sparse-cut", "sparse-11byte",
         "general-cut", "general-11byte", "word-cut-9byte",
         "word-cut-10byte"],
)
def test_packed_uint_rejects_cut_or_overlong_varints(buf, match):
    """Every tier rejects a field whose last byte continues a varint and
    a varint of more than 10 bytes, instead of decoding a value."""
    with pytest.raises(ValueError, match=match):
        wire.decode_packed_uint(buf)


@pytest.mark.parametrize(
    "buf, tier",
    [
        (b"", "1byte"),
        (b"\x01\x7f" * 40, "1byte"),
        (b"\x80\x01" * 32 + b"\x01" * 8, "sparse"),
        (b"\x80\x01" * 33 + b"\x01" * 8, "word"),
    ],
)
def test_packed_tier_names_the_tier_that_decodes(buf, tier):
    """``packed_tier`` reports the tier ``decode_packed_uint`` takes:
    sparse up to ``SPARSE_MAX`` multi-byte varints, word past it."""
    assert wire.SPARSE_MAX == 32
    assert wire.packed_tier(buf) == tier


def _varint_bytes(groups: list[int]) -> bytes:
    """A varint of the 7-bit ``groups``, low group first."""
    return bytes(g | 0x80 for g in groups[:-1]) + bytes(groups[-1:])


_groups = st.integers(0, 127)


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_packed_uint_word_tier_matches_scalar(data):
    """More than 32 multi-byte varints of 2-10 bytes (so the word-gather
    tier runs), mixed with one-byte ones, decode exactly as a scalar
    ``read_varint`` loop, a 10th byte's bits past 64 included."""
    wide = data.draw(st.lists(st.lists(_groups, min_size=2, max_size=10),
                              min_size=33, max_size=80))
    narrow = data.draw(st.lists(st.lists(_groups, min_size=1, max_size=1),
                                max_size=40))
    # a 10th byte with bits past bit 63 set: only its lowest bit counts
    wide.append([127] * 9 + [data.draw(st.integers(2, 127))])
    buf = b"".join(map(_varint_bytes,
                       data.draw(st.permutations(wide + narrow))))
    want, pos = [], 0
    while pos < len(buf):
        v, pos = wire.read_varint(buf, pos)
        want.append(v)
    assert [int(x) for x in wire.decode_packed_uint(buf)] == want


@given(st.lists(st.tuples(st.integers(1, 200), U64), max_size=30))
def test_scan_fields_walks_varint_messages(fields):
    """A message built from arbitrary varint fields scans back
    field-for-field in order."""
    buf = b"".join(wire.field_varint(f, v) for f, v in fields)
    got = [(f, v) for f, _wt, v in wire.scan_fields(buf)]
    assert got == [(f, v & ((1 << 64) - 1)) for f, v in fields]


@given(st.lists(st.tuples(st.integers(1, 200), st.binary(max_size=60)), max_size=20))
def test_scan_fields_walks_len_messages(fields):
    buf = b"".join(wire.field_len(f, p) for f, p in fields)
    got = [(f, v) for f, _wt, v in wire.scan_fields(buf)]
    assert got == fields


def test_wire_framing_checked():
    """A LEN value running past its message and a varint of 11 bytes
    raise ValueError instead of yielding a short slice or a value over
    64 bits; a 10th varint byte keeps only the bit that fits."""
    with pytest.raises(ValueError, match="runs past the end"):
        list(wire.scan_fields(wire.write_varint(1 << 3 | wire.WT_LEN)
                              + wire.write_varint(10) + b"abc"))
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        wire.read_varint(b"\xff" * 10 + b"\x01", 0)
    assert wire.read_varint(b"\xff" * 9 + b"\x7f", 0) == (2**64 - 1, 10)


# ---------------------------------------------------------------------------
# block-level round-trip: encoder -> BlockDecoder over arbitrary node sets
# ---------------------------------------------------------------------------

_tag_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA, exclude_characters=""),
    min_size=1,
    max_size=12,
)
_node = st.tuples(
    st.integers(min_value=-(2**40), max_value=2**40),  # id (negatives legal in editing data)
    st.integers(min_value=-(90 * 10**7), max_value=90 * 10**7),  # lat 1e-7 deg
    st.integers(min_value=-(180 * 10**7), max_value=180 * 10**7),  # lon
    st.one_of(st.none(), st.dictionaries(_tag_text, _tag_text, max_size=3)),
)


@given(st.lists(_node, min_size=1, max_size=60, unique_by=lambda n: n[0]))
@settings(max_examples=40, deadline=None)
def test_dense_block_roundtrip_property(nodes):
    """write_pbf -> index -> BlockDecoder is the identity on arbitrary
    (id, lat, lon, tags) sets: delta chains survive any id gaps/signs,
    the per-block string table round-trips arbitrary unicode tags, and
    coordinates land exactly on the 100-nanodegree grid."""
    import tempfile

    from osmpbf_spark.sources.pbf import decode, encode

    nodes = sorted(nodes, key=lambda n: n[0])  # ids strictly increasing
    ids = [n[0] for n in nodes]
    blk = {
        "nodes": {
            "id": ids,
            "lat_nano": [n[1] * 100 for n in nodes],
            "lon_nano": [n[2] * 100 for n in nodes],
            "tags": [n[3] for n in nodes],
        }
    }
    with tempfile.NamedTemporaryFile(suffix=".pbf") as f:
        encode.write_pbf(f.name, [blk])
        idx = decode.index_blocks(f.name)
        with open(f.name, "rb") as fh:
            bd = decode.BlockDecoder(
                decode.read_block_payload(fh, idx[1])
            )
    out = bd.decode_nodes()
    assert out["id"].tolist() == ids
    assert np.allclose(out["lat"], [n[1] * 1e-7 for n in nodes], atol=1e-12)
    assert np.allclose(out["lon"], [n[2] * 1e-7 for n in nodes], atol=1e-12)
    for i, (_, _, _, tags) in enumerate(nodes):
        lo, hi = out["tag_offsets"][i], out["tag_offsets"][i + 1]
        got = dict(zip(out["tag_keys"][lo:hi], out["tag_vals"][lo:hi]))
        assert got == (tags or {})


_I64_MIN = np.iinfo(np.int64).min
_id64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_ref = st.integers(min_value=-(2**62), max_value=2**62)
_tags = st.dictionaries(_tag_text, _tag_text, max_size=3)
_role = st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA),
                max_size=6)
_info = st.none() | st.fixed_dictionaries({}, optional={
    "version": st.integers(min_value=0, max_value=2**31 - 1),
    # whole seconds (the default date_granularity), pre-1970 included
    "timestamp_ms": st.integers(min_value=-(2**40),
                                max_value=2**40).map(lambda s: s * 1000),
    "changeset": _id64,
    "uid": st.just(-1) | st.integers(min_value=0, max_value=2**31 - 1),
    "user": _role,
    "visible": st.booleans(),
})
_way = st.fixed_dictionaries({"id": _id64, "refs": st.lists(_ref, max_size=6),
                              "tags": _tags, "meta": _info})
_member = st.tuples(_role, _ref, st.integers(min_value=0, max_value=2))
_relation = st.fixed_dictionaries({
    "id": _id64, "members": st.lists(_member, max_size=4), "tags": _tags,
    "meta": _info})


def _tags_at(out: dict, i: int) -> dict:
    lo, hi = out["tag_offsets"][i], out["tag_offsets"][i + 1]
    return dict(zip(out["tag_keys"][lo:hi], out["tag_vals"][lo:hi]))


def _meta_at(out: dict, i: int) -> tuple:
    return tuple(out[c][i].item() if hasattr(out[c][i], "item")
                 else out[c][i] for c in
                 ("meta_version", "meta_timestamp_ms", "meta_changeset",
                  "meta_uid", "meta_user", "meta_visible"))


def _meta_expected(info: dict | None) -> tuple:
    """What the decoder gives for ``info``: an absent field reads as its
    meta column's default."""
    info = info or {}
    return (info.get("version", -1), info.get("timestamp_ms", _I64_MIN),
            info.get("changeset", _I64_MIN), info.get("uid", _I64_MIN),
            info.get("user"), info.get("visible", True))


@given(st.lists(_way, max_size=5), st.lists(_relation, max_size=4),
       st.lists(_id64, max_size=5))
@settings(max_examples=40, deadline=None)
def test_entity_block_roundtrip_property(ways, relations, changesets):
    """write_pbf -> BlockDecoder is the identity on arbitrary ways,
    relations and changesets in one block: negative and extreme ids,
    empty tags, refs and members, and an optional Info (uid -1, pre-1970
    timestamps, visible=False, any field left out)."""
    import tempfile

    from osmpbf_spark.sources.pbf import decode, encode

    blk = {"ways": ways, "relations": relations, "changesets": changesets}
    with tempfile.NamedTemporaryFile(suffix=".pbf") as f:
        encode.write_pbf(f.name, [blk])
        idx = decode.index_blocks(f.name)
        with open(f.name, "rb") as fh:
            bd = decode.BlockDecoder(decode.read_block_payload(fh, idx[1]))
    out = bd.decode_ways()
    assert out["id"].tolist() == [w["id"] for w in ways]
    for i, w in enumerate(ways):
        lo, hi = out["ref_offsets"][i], out["ref_offsets"][i + 1]
        assert out["ref_values"][lo:hi].tolist() == w["refs"]
        assert _tags_at(out, i) == w["tags"]
        assert _meta_at(out, i) == _meta_expected(w["meta"])
    out = bd.decode_relations()
    assert out["id"].tolist() == [r["id"] for r in relations]
    for i, r in enumerate(relations):
        lo, hi = out["member_offsets"][i], out["member_offsets"][i + 1]
        assert list(zip(out["member_roles"][lo:hi],
                        out["member_refs"][lo:hi].tolist(),
                        out["member_types"][lo:hi])) == [
            (role, ref, ("node", "way", "relation")[t])
            for role, ref, t in r["members"]]
        assert _tags_at(out, i) == r["tags"]
        assert _meta_at(out, i) == _meta_expected(r["meta"])
    assert bd.decode_changesets()["id"].tolist() == changesets


def _freeze(v):
    """A to_pylist row as a hashable value (maps, lists and structs)."""
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    return v


_SCANS = (("node", {"with_meta": "true"}), ("way", {}), ("relation", {}))


def _scan_rows(path: str) -> dict[str, Counter]:
    """Every row of every primitive, read through OsmPbfReader directly."""
    from osmpbf_spark.sources.pbf.datasource import OsmPbfReader

    out = {}
    for primitive, opts in _SCANS:
        rdr = OsmPbfReader({"path": path, "primitive": primitive, **opts},
                           None)
        out[primitive] = Counter(
            _freeze(row)
            for part in rdr.partitions()
            for batch in rdr.read(part)
            for row in batch.to_pylist()
        )
    return out


@functools.lru_cache(maxsize=1)
def _fixture() -> tuple[bytes, dict[str, Counter]]:
    path = os.path.join(fixture.ensure_fixture(), "fixture.osm.pbf")
    return open(path, "rb").read(), _scan_rows(path)


@given(st.data())
@settings(max_examples=50, deadline=None)
def test_flipped_byte_fails_naming_path_or_reads_a_subset(draw):
    """One flipped byte anywhere in the fixture either fails the scan
    with a ValueError naming the file, or reads rows that are a
    sub-multiset of the undamaged read (a flipped "OSMData" type string
    makes the reader skip that block, as the spec allows)."""
    import tempfile

    clean_bytes, clean_rows = _fixture()
    data = bytearray(clean_bytes)
    data[draw.draw(st.integers(0, len(data) - 1), label="pos")] ^= (
        draw.draw(st.integers(1, 255), label="xor")
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "flipped.osm.pbf")
        with open(path, "wb") as f:
            f.write(bytes(data))
        try:
            got = _scan_rows(path)
        except ValueError as e:
            assert path in str(e)
            return
    for primitive, rows in got.items():
        assert not rows - clean_rows[primitive], primitive


@functools.lru_cache(maxsize=1)
def _fixture_blocks() -> tuple[bytes, list[tuple[int, int, bytes]]]:
    """The fixture's bytes, and (start, end, inflated payload) of each of
    its OSMData blocks."""
    from osmpbf_spark.sources.pbf import decode

    path = os.path.join(fixture.ensure_fixture(), "fixture.osm.pbf")
    blocks, start = [], 0
    with open(path, "rb") as f:
        for meta in decode.index_blocks(path):
            end = meta.data_offset + meta.data_size
            if meta.block_type == "OSMData":
                blocks.append((start, end,
                               decode.read_block_payload(f, meta)))
            start = end
    return open(path, "rb").read(), blocks


@given(st.data())
@settings(max_examples=50, deadline=None)
def test_flipped_payload_byte_reads_or_names_path(draw):
    """One flipped byte inside an OSMData block's inflated payload,
    re-wrapped as a raw blob: every read (node+meta, way, relation,
    changeset) either succeeds with valid Arrow batches or raises
    CorruptPbfError naming the file; no other exception escapes."""
    import tempfile

    from osmpbf_spark.sources.pbf import decode, encode
    from osmpbf_spark.sources.pbf.datasource import OsmPbfReader

    data, blocks = _fixture_blocks()
    start, end, payload = draw.draw(st.sampled_from(blocks), label="block")
    flipped = bytearray(payload)
    flipped[draw.draw(st.integers(0, len(flipped) - 1), label="pos")] ^= (
        draw.draw(st.integers(1, 255), label="xor")
    )
    blob = encode._file_block("OSMData", bytes(flipped), False)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "flipped.osm.pbf")
        with open(path, "wb") as f:
            f.write(data[:start] + blob + data[end:])
        for primitive, opts in _SCANS + (("changeset", {}),):
            rdr = OsmPbfReader({"path": path, "primitive": primitive, **opts},
                               None)
            try:
                for part in rdr.partitions():
                    for batch in rdr.read(part):
                        batch.validate(full=True)
            except decode.CorruptPbfError as e:
                assert path in str(e)


def test_sha_prefix_hash_cross_engine(spark, duck):
    """The round-4 base hash (sha256 hex prefix -> 60-bit integer) must be
    bit-identical across engines for arbitrary strings — it feeds the
    exact-oracle MinHash/SimHash queries, so any divergence (hex case,
    substr indexing, cast semantics) would silently break the driver's
    hash gate. Checked over ASCII, unicode, whitespace, and empty-ish
    inputs."""
    from pyspark.sql import functions as F

    samples = (
        ["", " ", "a", "ab", "the quick brown fox", "naïve café",
         "日本語テキスト", "tab\tsep", "new\nline", "0x1234", "'quote'",
         '"dq"', "back\\slash", "emoji 🙂 text"]
        + [f"shingle {i} of the corpus" for i in range(200)]
    )
    sdf = spark.createDataFrame([(s,) for s in samples], ["shingle"])
    got = {
        r.shingle: (r.h, r.h1, r.h2)
        for r in sdf.select(
            "shingle",
            F.expr(
                "CAST(conv(substr(sha2(shingle, 256), 1, 15), 16, 10)"
                " AS BIGINT) % 1000000007"
            ).alias("h"),
            F.expr(
                "CAST(conv(substr(sha2(shingle, 256), 1, 15), 16, 10) AS BIGINT)"
            ).alias("h1"),
            F.expr(
                "CAST(conv(substr(sha2(shingle, 256), 16, 15), 16, 10) AS BIGINT)"
            ).alias("h2"),
        ).collect()
    }
    for s in samples:
        h, h1, h2 = duck.execute(
            "SELECT ('0x' || substr(sha256(?), 1, 15))::BIGINT % 1000000007,"
            " ('0x' || substr(sha256(?), 1, 15))::BIGINT,"
            " ('0x' || substr(sha256(?), 16, 15))::BIGINT",
            [s, s, s],
        ).fetchone()
        assert got[s] == (h, h1, h2), f"hash mismatch for {s!r}: {got[s]} != {(h, h1, h2)}"
