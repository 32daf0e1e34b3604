"""Seeded workload inputs, written with the engine's own encoder and cached.

Every input is made from ``--seed`` by ``encode.write_pbf`` and cached on
disk by (workload, size, seed, code) under ``.perfbench_cache/`` in the
checkout, where code is a hash of the encoder and of this generator: an
entry is reused only by the code that wrote it.
The expected checksums of every input come from the generator's own
arrays, never from the engine's decode:

    node      rows, sum of ids, sum of lat and lon in 1e-7 degrees,
              tag count, sum of DenseInfo versions (tagged inputs only)
    way       rows, sum of ids, ref count, sum of refs, tag count
    relation  rows, sum of ids, member count, sum of member refs, tag count
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np

from osmpbf_spark.sources.pbf import encode, wire

# Never used while the benchmark or a change is tuned; kept for confirming
# a claim on data its author did not see.
RESERVED_SEED = 424242

BLOCK_NODES = 8000
KEEP_PER_WORKLOAD = 3  # cached seeds kept per workload and size

SIZES = {
    # dense_scan: untagged DenseNodes in one file
    "dense_scan": {"full": {"nodes": 8_000_000}, "tiny": {"nodes": 20_000}},
    # tagged_scan: fixture-shaped units (9720 nodes, 1348 ways, 5 relations)
    "tagged_scan": {"full": {"units": 8}, "tiny": {"units": 1}},
    # lake_stream: a directory of small node files
    "lake_stream": {
        "full": {"files": 8, "nodes_per_file": 10_000},
        "tiny": {"files": 3, "nodes_per_file": 2_000},
    },
    # write_nodes: tagged nodes to hold in the JVM and write back out
    "write_nodes": {"full": {"nodes": 300_000}, "tiny": {"nodes": 5_000}},
}

NODE_KEYS = ["name", "highway", "amenity", "power", "place"]
NODE_VALS = ["stop", "tower", "village", "bench", "bus_stop", "cafe"]
WAY_KEYS = ["highway", "building", "waterway", "landuse"]
WAY_VALS = ["residential", "yes", "stream", "farmland"]
ROLES = ["outer", "inner", "stop", ""]


def _node_sums(ids, lat7, lon7, tags, versions=None) -> dict:
    out = {
        "rows": int(len(ids)),
        "id_sum": int(np.sum(ids, dtype=np.int64)),
        "lat7_sum": int(np.sum(lat7, dtype=np.int64)),
        "lon7_sum": int(np.sum(lon7, dtype=np.int64)),
        "tags": int(sum(len(t) for t in tags if t)),
    }
    if versions is not None:
        out["version_sum"] = int(np.sum(versions, dtype=np.int64))
    return out


def _merge(a: dict | None, b: dict) -> dict:
    return dict(b) if a is None else {k: a[k] + b[k] for k in a}


def _node_tags(rng, n: int, frac: float) -> list[dict | None]:
    tags: list[dict | None] = [None] * n
    for i in np.flatnonzero(rng.random(n) < frac):
        tags[i] = {
            NODE_KEYS[rng.integers(len(NODE_KEYS))]:
            NODE_VALS[rng.integers(len(NODE_VALS))]
        }
    return tags


def _nodes(rng, n: int, first_id: int, tag_frac: float) -> dict:
    ids = first_id + np.concatenate(
        ([0], np.cumsum(rng.integers(1, 20, size=n - 1)))
    ).astype(np.int64)
    lat7 = rng.integers(-900_000_000, 900_000_000, size=n, dtype=np.int64)
    lon7 = rng.integers(-1_800_000_000, 1_800_000_000, size=n, dtype=np.int64)
    return {
        "id": ids,
        "lat7": lat7,
        "lon7": lon7,
        "tags": _node_tags(rng, n, tag_frac) if tag_frac else [None] * n,
    }


def _node_block(nodes: dict, lo: int, hi: int, meta: dict | None = None):
    blk = {
        "id": nodes["id"][lo:hi],
        "lat_nano": nodes["lat7"][lo:hi] * 100,
        "lon_nano": nodes["lon7"][lo:hi] * 100,
        "tags": nodes["tags"][lo:hi],
    }
    if meta is not None:
        blk["meta"] = {k: v[lo:hi] for k, v in meta.items()}
    return blk


def _node_blocks(nodes: dict) -> list[dict]:
    n = len(nodes["id"])
    return [{"nodes": _node_block(nodes, i, min(i + BLOCK_NODES, n))}
            for i in range(0, n, BLOCK_NODES)]


def _write(path: str, blocks: list[dict]) -> dict:
    encode.write_pbf(path, blocks)
    # one OSMHeader block plus one OSMData block per dict
    return {"path": os.path.basename(path), "bytes": os.path.getsize(path),
            "blocks": len(blocks) + 1}


def _gen_dense(d: str, seed: int, nodes: int) -> dict:
    rng = np.random.default_rng(seed)
    nd = _nodes(rng, nodes, 1_000_000, 0.0)
    f = _write(os.path.join(d, "dense.osm.pbf"), _node_blocks(nd))
    return {"files": [f], "expected": {"node": _node_sums(
        nd["id"], nd["lat7"], nd["lon7"], nd["tags"])}}


def _gen_meta(rng, n: int) -> dict:
    return {
        "version": rng.integers(1, 10, size=n),
        # whole seconds: DenseInfo stores timestamps at 1000 ms granularity
        "timestamp_ms": (1_500_000_000 + rng.integers(0, 3 * 10**8, size=n))
        * 1000,
        "changeset": rng.integers(10**6, 10**8, size=n),
        "uid": rng.integers(1, 10**6, size=n),
        "user": [f"mapper{u}" for u in rng.integers(0, 120, size=n)],
        "visible": rng.random(n) > 0.01,
    }


def _gen_tagged(d: str, seed: int, units: int) -> dict:
    """Fixture-shaped units: an 8000-node block, then a block of 1720
    nodes, 1348 ways and 5 relations. ~10% of nodes carry one tag, every
    node has DenseInfo, ways take geometric ref counts (p=0.12, 2..401)
    with ~5% dangling refs."""
    rng = np.random.default_rng(seed)
    blocks: list[dict] = []
    exp: dict = {"node": None, "way": None, "relation": None}
    next_node, next_way, next_rel = 440_000_000, 102_348_670, 9_000_000
    for _ in range(units):
        nd = _nodes(rng, 9720, next_node, 0.10)
        next_node = int(nd["id"][-1]) + 10
        meta = _gen_meta(rng, 9720)
        exp["node"] = _merge(exp["node"], _node_sums(
            nd["id"], nd["lat7"], nd["lon7"], nd["tags"], meta["version"]))
        ways = []
        nrefs = np.clip(rng.geometric(0.12, size=1348), 2, 401)
        for k in nrefs:
            refs = nd["id"][rng.integers(0, 9720, size=k)].copy()
            refs[rng.random(k) < 0.05] += 999_999_999
            ways.append({"id": next_way, "refs": refs, "tags": {
                WAY_KEYS[rng.integers(len(WAY_KEYS))]:
                WAY_VALS[rng.integers(len(WAY_VALS))]}})
            next_way += int(rng.integers(1, 50))
        rels = []
        for _r in range(5):
            members = []
            for _m in range(int(rng.integers(2, 8))):
                if rng.random() < 0.5:
                    members.append((ROLES[rng.integers(4)],
                                    int(nd["id"][rng.integers(9720)]), 0))
                else:
                    members.append((ROLES[rng.integers(4)],
                                    ways[rng.integers(len(ways))]["id"], 1))
            rels.append({"id": next_rel, "members": members,
                         "tags": {"type": "route"}})
            next_rel += int(rng.integers(1, 100))
        blocks.append({"nodes": _node_block(nd, 0, 8000, meta)})
        blocks.append({"nodes": _node_block(nd, 8000, 9720, meta),
                       "ways": ways, "relations": rels})
        exp["way"] = _merge(exp["way"], {
            "rows": len(ways),
            "id_sum": sum(w["id"] for w in ways),
            "refs": int(sum(len(w["refs"]) for w in ways)),
            "ref_sum": int(sum(int(w["refs"].sum()) for w in ways)),
            "tags": sum(len(w["tags"]) for w in ways),
        })
        exp["relation"] = _merge(exp["relation"], {
            "rows": len(rels),
            "id_sum": sum(r["id"] for r in rels),
            "members": sum(len(r["members"]) for r in rels),
            "member_ref_sum": sum(m[1] for r in rels for m in r["members"]),
            "tags": sum(len(r["tags"]) for r in rels),
        })
    f = _write(os.path.join(d, "tagged.osm.pbf"), blocks)
    return {"files": [f], "expected": exp}


def _gen_lake(d: str, seed: int, files: int, nodes_per_file: int) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(d, "lake"))
    out, exp, next_id = [], None, 1_000_000
    for i in range(files):
        nd = _nodes(rng, nodes_per_file, next_id, 0.10)
        next_id = int(nd["id"][-1]) + 1
        exp = _merge(exp, _node_sums(nd["id"], nd["lat7"], nd["lon7"],
                                     nd["tags"]))
        f = _write(os.path.join(d, "lake", f"part-{i:05d}.osm.pbf"),
                   _node_blocks(nd))
        f["path"] = os.path.join("lake", f["path"])
        out.append(f)
    return {"files": out, "expected": {"node": exp}}


def _gen_write(d: str, seed: int, nodes: int) -> dict:
    rng = np.random.default_rng(seed)
    nd = _nodes(rng, nodes, 5_000_000, 0.10)
    f = _write(os.path.join(d, "source.osm.pbf"), _node_blocks(nd))
    return {"files": [f], "expected": {"node": _node_sums(
        nd["id"], nd["lat7"], nd["lon7"], nd["tags"])}}


_GENERATORS = {
    "dense_scan": _gen_dense,
    "tagged_scan": _gen_tagged,
    "lake_stream": _gen_lake,
    "write_nodes": _gen_write,
}


def code_version() -> str:
    """Hash of the code that writes the inputs: the engine's encoder and
    wire format, and this generator."""
    h = hashlib.sha256()
    for path in (encode.__file__, wire.__file__, __file__):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def ensure(cache_root: str, workload: str, size: str, seed: int) -> dict:
    """The manifest of the cached input, generating it on a miss. Paths in
    the returned manifest are absolute."""
    params = SIZES[workload][size]
    entry = os.path.join(cache_root,
                         f"{workload}-{size}-{seed}-{code_version()}")
    manifest = os.path.join(entry, "manifest.json")
    if os.path.exists(manifest):
        os.utime(manifest)
        cached = True
    else:
        cached = False
        shutil.rmtree(entry, ignore_errors=True)
        os.makedirs(entry)
        t0 = time.perf_counter()
        doc = _GENERATORS[workload](entry, seed, **params)
        doc.update(workload=workload, size=size, seed=seed, params=params,
                   generate_s=time.perf_counter() - t0)
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, manifest)
        _evict(cache_root, workload, size)
    with open(manifest) as fh:
        doc = json.load(fh)
    doc["cached"] = cached
    doc["dir"] = entry
    for f in doc["files"]:
        f["path"] = os.path.join(entry, f["path"])
    return doc


def _evict(cache_root: str, workload: str, size: str) -> None:
    prefix = f"{workload}-{size}-"
    entries = []
    for name in os.listdir(cache_root):
        m = os.path.join(cache_root, name, "manifest.json")
        if name.startswith(prefix) and os.path.exists(m):
            entries.append((os.path.getmtime(m), name))
    for _, name in sorted(entries, reverse=True)[KEEP_PER_WORKLOAD:]:
        shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)
