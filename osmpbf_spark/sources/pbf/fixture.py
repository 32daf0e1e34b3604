"""Deterministic PBF test fixture mirroring the reference's golden test.

The reference's only fixture is a real 89,683-byte OSM extract
(src/test/java/resources/temp.dat) with golden assertions in
OsmPbfRecordReaderTest.java:23-25,274-289:

- block 0: one DenseNodes group of 8,000 nodes
- block 1: DenseNodes group of 1,720 nodes + ways group of 1,348 ways +
  relations group of 5 relations
- granularity 100; first node lon -64.1847472 / lat 10.4769503
- first way id 102348670 with 11 node refs and 1 tag

We synthesize a structurally-identical file (FIXTURES.md) with those exact
golden values, seeded numpy for everything else, then decode it back through
the engine's own pipeline and write parquet images of the decoded content —
the DuckDB oracle for the q_pbf_* queries reads those images, so the oracle
checks the full encode->decode->Spark path for every row, not just the four
golden values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osmpbf_spark.sources.pbf import decode, encode

FIRST_NODE_ID = 440000000
FIRST_NODE_LAT = 10.4769503  # OsmPbfRecordReaderTest.java:23
FIRST_NODE_LON = -64.1847472  # OsmPbfRecordReaderTest.java:24
FIRST_WAY_ID = 102348670  # OsmPbfRecordReaderTest.java:25
N_NODES_B0 = 8000
N_NODES_B1 = 1720
N_WAYS = 1348
N_RELATIONS = 5
N_CHANGESETS = 200
GRANULARITY = decode.GRANULARITY

NODE_TAG_KEYS = ["name", "highway", "amenity", "power", "place"]
NODE_TAG_VALS = ["stop", "tower", "village", "bench", "bus_stop", "cafe"]
WAY_TAG_KEYS = ["highway", "building", "waterway", "landuse"]
WAY_TAG_VALS = ["residential", "yes", "stream", "farmland"]
ROLES = ["outer", "inner", "stop", ""]


def _gen_nodes(rng: np.random.RandomState, n: int, first_id: int, golden: bool):
    """ids strictly increasing; coords on the 1e-7-degree grid around the
    golden center (granularity 100 nanodeg => every coord is exact)."""
    ids = first_id + np.concatenate(
        ([0], np.cumsum(rng.randint(1, 20, size=n - 1)))
    )
    lat7 = np.round(rng.normal(104769503, 500000, size=n)).astype(np.int64)
    lon7 = np.round(rng.normal(-641847472, 500000, size=n)).astype(np.int64)
    if golden:
        lat7[0] = 104769503
        lon7[0] = -641847472
    tagged = rng.rand(n) < 0.10
    tags: list[dict | None] = [None] * n
    for i in np.flatnonzero(tagged):
        k = NODE_TAG_KEYS[rng.randint(len(NODE_TAG_KEYS))]
        v = NODE_TAG_VALS[rng.randint(len(NODE_TAG_VALS))]
        tags[i] = {k: v}
    # DenseInfo provenance from a CHILD rng seeded off first_id: adding
    # meta must not perturb the main stream (every id/coord/tag constant
    # pinned by tests and FIXTURES.md stays byte-identical).
    mrng = np.random.RandomState(first_id % (2**31))
    meta = {
        "version": mrng.randint(1, 10, size=n).tolist(),
        # whole seconds * 1000: DenseInfo date_granularity is 1000 ms, so
        # second-aligned stamps round-trip exactly
        "timestamp_ms": (
            (1_500_000_000 + mrng.randint(0, 3 * 10**8, size=n)) * 1000
        ).tolist(),
        "changeset": mrng.randint(10**6, 10**8, size=n).tolist(),
        "uid": mrng.randint(1, 10**6, size=n).tolist(),
        "user": [f"mapper{mrng.randint(0, 120)}" for _ in range(n)],
        "visible": (mrng.rand(n) > 0.01).tolist(),
    }
    return {
        "id": ids,
        "lat_nano": lat7 * 100,
        "lon_nano": lon7 * 100,
        "tags": tags,
        "meta": meta,
    }


def _gen_ways(rng: np.random.RandomState, node_ids: np.ndarray):
    ways = []
    wid = FIRST_WAY_ID
    for i in range(N_WAYS):
        if i == 0:
            nrefs = 11  # golden: first way has 11 refs
        else:
            nrefs = int(np.clip(rng.geometric(0.12), 2, 401))
        refs = node_ids[rng.randint(0, len(node_ids), size=nrefs)].copy()
        dangle = rng.rand(nrefs) < 0.05  # ~5% unresolvable (FIXTURES.md)
        refs[dangle] += 999999999
        k = WAY_TAG_KEYS[rng.randint(len(WAY_TAG_KEYS))]
        v = WAY_TAG_VALS[rng.randint(len(WAY_TAG_VALS))]
        ways.append({"id": wid, "refs": refs.tolist(), "tags": {k: v}})
        wid += int(rng.randint(1, 50))
    return ways


def _gen_relations(rng: np.random.RandomState, node_ids, way_ids):
    rels = []
    rid = 9000000
    for _ in range(N_RELATIONS):
        n_mem = int(rng.randint(2, 8))
        members = []
        for _m in range(n_mem):
            if rng.rand() < 0.5:
                members.append(
                    (ROLES[rng.randint(4)], int(node_ids[rng.randint(len(node_ids))]), 0)
                )
            else:
                members.append(
                    (ROLES[rng.randint(4)], int(way_ids[rng.randint(len(way_ids))]), 1)
                )
        rels.append({"id": rid, "members": members, "tags": {"type": "route"}})
        rid += int(rng.randint(1, 100))
    return rels


def generate_pbf(path: str, seed: int = 42) -> None:
    rng = np.random.RandomState(seed)
    nodes0 = _gen_nodes(rng, N_NODES_B0, FIRST_NODE_ID, golden=True)
    next_id = int(nodes0["id"][-1]) + 10
    nodes1 = _gen_nodes(rng, N_NODES_B1, next_id, golden=False)
    all_node_ids = np.concatenate([nodes0["id"], nodes1["id"]])
    ways = _gen_ways(rng, all_node_ids)
    way_ids = np.array([w["id"] for w in ways])
    rels = _gen_relations(rng, all_node_ids, way_ids)
    # changesets live in their own THIRD block (round 5): appending a
    # block leaves blocks 0-1 byte-identical, so every committed golden
    # (record ordinals, _pos block-end offsets) is untouched; ids come
    # from a child rng so the main stream is unperturbed
    crng = np.random.RandomState(777)
    changesets = np.cumsum(crng.randint(1, 1000, size=N_CHANGESETS)) + 50_000_000
    encode.write_pbf(
        path,
        [
            {"nodes": nodes0},
            {"nodes": nodes1, "ways": ways, "relations": rels},
            {"changesets": changesets.tolist()},
        ],
    )


def _tags_str(offsets, keys, vals, i) -> str:
    """The reference's legacy lossy tag string (OsmPbfRecordReader.java:
    194-204): 'k:v;' concatenation, empty when untagged."""
    return "".join(
        f"{k}:{v};" for k, v in zip(keys[offsets[i] : offsets[i + 1]],
                                    vals[offsets[i] : offsets[i + 1]])
    )


def write_parquet_images(pbf_path: str, out_dir: str) -> None:
    """Decode the fixture through the engine pipeline and write parquet
    images (the DuckDB-oracle side of the q_pbf_* queries)."""
    idx = decode.index_blocks(pbf_path)
    nodes_parts, ways_parts, rels_parts, cs_parts = [], [], [], []
    with open(pbf_path, "rb") as f:
        for meta in idx:
            if meta.block_type != "OSMData":
                continue
            bd = decode.BlockDecoder(decode.read_block_payload(f, meta))
            nodes_parts.append(bd.decode_nodes())
            ways_parts.append(bd.decode_ways())
            rels_parts.append(bd.decode_relations())
            cs_parts.append(bd.decode_changesets())

    def cat(parts, col):
        return np.concatenate([p[col] for p in parts])

    # nodes image: id, lat, lon, tags_str, n_tags
    n_ids = cat(nodes_parts, "id")
    tstr, ntags = [], []
    for p in nodes_parts:
        off, k, v = p["tag_offsets"], p["tag_keys"], p["tag_vals"]
        for i in range(len(p["id"])):
            tstr.append(_tags_str(off, k, v, i))
            ntags.append(int(off[i + 1] - off[i]))
    pq.write_table(
        pa.table(
            {
                "id": n_ids,
                "lat": cat(nodes_parts, "lat"),
                "lon": cat(nodes_parts, "lon"),
                "tags_str": pa.array(tstr, type=pa.string()),
                "n_tags": pa.array(ntags, type=pa.int32()),
            }
        ),
        os.path.join(out_dir, "osm_nodes.parquet"),
    )

    # node provenance image (DenseInfo): id + meta columns, ts in epoch ms
    pq.write_table(
        pa.table(
            {
                "id": n_ids,
                "version": pa.array(
                    cat(nodes_parts, "meta_version"), type=pa.int32()
                ),
                "ts_ms": pa.array(
                    cat(nodes_parts, "meta_timestamp_ms"), type=pa.int64()
                ),
                "changeset": pa.array(
                    cat(nodes_parts, "meta_changeset"), type=pa.int64()
                ),
                "uid": pa.array(cat(nodes_parts, "meta_uid"), type=pa.int64()),
                "user": pa.array(
                    cat(nodes_parts, "meta_user"), type=pa.string()
                ),
                "visible": pa.array(
                    cat(nodes_parts, "meta_visible"), type=pa.bool_()
                ),
            }
        ),
        os.path.join(out_dir, "osm_nodes_meta.parquet"),
    )

    # ways image: id, refs, tags_str
    w_rows = []
    for p in ways_parts:
        roff, rv = p["ref_offsets"], p["ref_values"]
        toff, k, v = p["tag_offsets"], p["tag_keys"], p["tag_vals"]
        for i, wid in enumerate(p["id"]):
            w_rows.append(
                {
                    "id": int(wid),
                    "refs": rv[roff[i] : roff[i + 1]].tolist(),
                    "tags_str": _tags_str(toff, k, v, i),
                }
            )
    pq.write_table(
        pa.table(
            {
                "id": pa.array([r["id"] for r in w_rows], type=pa.int64()),
                "refs": pa.array(
                    [r["refs"] for r in w_rows], type=pa.list_(pa.int64())
                ),
                "tags_str": pa.array(
                    [r["tags_str"] for r in w_rows], type=pa.string()
                ),
            }
        ),
        os.path.join(out_dir, "osm_ways.parquet"),
    )

    # relation members image: one row per member (id, pos 1-based, role, ref, type)
    m_rows = []
    r_ids, r_nmem, r_tags = [], [], []
    for p in rels_parts:
        moff = p["member_offsets"]
        toff, k, v = p["tag_offsets"], p["tag_keys"], p["tag_vals"]
        for i, rid in enumerate(p["id"]):
            r_ids.append(int(rid))
            r_nmem.append(int(moff[i + 1] - moff[i]))
            r_tags.append(_tags_str(toff, k, v, i))
            for j in range(moff[i], moff[i + 1]):
                m_rows.append(
                    (
                        int(rid),
                        j - moff[i] + 1,
                        p["member_roles"][j],
                        int(p["member_refs"][j]),
                        p["member_types"][j],
                    )
                )
    pq.write_table(
        pa.table(
            {
                "id": pa.array(r_ids, type=pa.int64()),
                "n_members": pa.array(r_nmem, type=pa.int32()),
                "tags_str": pa.array(r_tags, type=pa.string()),
            }
        ),
        os.path.join(out_dir, "osm_relations.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "rel_id": pa.array([m[0] for m in m_rows], type=pa.int64()),
                "pos": pa.array([m[1] for m in m_rows], type=pa.int32()),
                "role": pa.array([m[2] for m in m_rows], type=pa.string()),
                "ref": pa.array([m[3] for m in m_rows], type=pa.int64()),
                "type": pa.array([m[4] for m in m_rows], type=pa.string()),
            }
        ),
        os.path.join(out_dir, "osm_rel_members.parquet"),
    )


    # changesets image: id-only frame (block 3)
    pq.write_table(
        pa.table({"id": pa.array(cat(cs_parts, "id"), type=pa.int64())}),
        os.path.join(out_dir, "osm_changesets.parquet"),
    )


FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))),
    "fixtures",
)


# bump whenever the generator's CONTENT or the encoder's wire layout
# changes: artifact-existence alone can't detect byte changes, so a stale
# fixtures/ dir would silently serve old bytes (both oracle sides derive
# from the same stale file, hiding the drift from the hash gate)
FIXTURE_VERSION = "r06-1"  # r06: encoder always writes STATS_TAG_BITS


def ensure_fixture(fixture_dir: str = FIXTURE_DIR) -> str:
    """Generate fixture.osm.pbf + parquet images if absent OR from an
    older generator version (the .version stamp makes regeneration
    deterministic on content changes, not just missing files)."""
    os.makedirs(fixture_dir, exist_ok=True)
    pbf = os.path.join(fixture_dir, "fixture.osm.pbf")
    meta_img = os.path.join(fixture_dir, "osm_nodes_meta.parquet")
    cs_img = os.path.join(fixture_dir, "osm_changesets.parquet")
    stamp = os.path.join(fixture_dir, ".version")
    stamped = (
        open(stamp).read().strip() if os.path.exists(stamp) else None
    )
    if (
        not os.path.exists(pbf)
        or not os.path.exists(meta_img)
        or not os.path.exists(cs_img)
        or stamped != FIXTURE_VERSION
    ):
        generate_pbf(pbf)
        write_parquet_images(pbf, fixture_dir)
        with open(stamp, "w") as f:
            f.write(FIXTURE_VERSION + "\n")
    return fixture_dir
