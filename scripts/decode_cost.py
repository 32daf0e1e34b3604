"""Where one PBF read spends its per-row time, layer by layer, in process.

For one file and one column set this reads every OSMData block the way an
``osmpbf`` read task does (``OsmPbfReader`` with the columns declared as
its read schema, so the decoder skips meta unless they hold it) and
prints nanoseconds per row for:

- ``read+inflate``: ``decode.read_block_payload`` (file read and blob
  inflate);
- ``decode``: ``BlockDecoder`` construction plus ``decode(primitive)``;
  under it, each packed field the decoder walks, decoded again on its own
  by ``wire.decode_packed_uint``, with the varint tier that field took in
  each block (``wire.packed_tier``: 1byte, sparse or word);
- ``arrow``: ``OsmPbfReader._to_batch``, the Arrow batch in the read
  schema.

One warm-up call of every step runs on the first block before timing (the
first ``pa.array`` of a numpy array imports pandas, ~0.4 s). Each layer's
figure is the median over ``--passes`` passes over the blocks. The last
line of standard output is the same result as one JSON object.

Usage:
    python scripts/decode_cost.py FILE [--primitive node]
        [--columns id,lat,lon] [--with-meta] [--passes 3]

``--columns`` defaults to every column of the read's layout (the options'
default schema).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import Counter, defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import StructType  # noqa: E402

from osmpbf_spark.sources.pbf import decode, wire  # noqa: E402
from osmpbf_spark.sources.pbf.datasource import (  # noqa: E402
    OsmPbfDataSource,
    OsmPbfReader,
)

_DENSE_NAMES = {decode.DENSE_ID: "id", decode.DENSE_LAT: "lat",
                decode.DENSE_LON: "lon", decode.DENSE_KEYS_VALS: "keys_vals"}


def _packed_fields(bd: decode.BlockDecoder, primitive: str):
    """(name, bytes) of each packed field the decoder ``bd`` walks for
    ``primitive``: a DenseNodes field per occurrence, an entity column
    joined over its block, as ``BlockDecoder._entities`` decodes it."""
    kinds = {"node": (decode.GROUP_NODES,), "way": (decode.GROUP_WAYS,),
             "relation": (decode.GROUP_RELATIONS,), "changeset": ()}
    for g in bd.groups:
        if primitive == "node":
            for f, _wt, dense in wire.scan_fields(
                    g, {decode.GROUP_DENSE: wire.WT_LEN}):
                for field, _wt, v in wire.scan_fields(dense, bd._dense_wire):
                    if field != decode.DENSE_INFO:
                        yield _DENSE_NAMES[field], v
                        continue
                    for i, _wt, p in wire.scan_fields(
                            v, decode._DENSE_INFO_WIRE):
                        yield "info." + decode._META[i], p
        for kind in kinds[primitive]:
            table, wire_types = decode._entity_fields(kind, bd.meta)
            joined = defaultdict(list)
            for _f, _wt, msg in wire.scan_fields(g, {kind: wire.WT_LEN}):
                for f, _wt, v in wire.scan_fields(msg, wire_types):
                    col, how = table[f]
                    if how in decode._PACKED:
                        joined[col].append(v)
            for col, bufs in joined.items():
                yield col, b"".join(bufs)


def _pass(rdr: OsmPbfReader, path: str, blocks: list) -> tuple[dict, int]:
    """One pass over ``blocks``: nanoseconds per layer and packed field,
    tier counts, and the rows read."""
    ns: Counter = Counter()
    tiers: dict = defaultdict(Counter)
    rows = 0
    with open(path, "rb") as f:
        for meta in blocks:
            t0 = time.perf_counter_ns()
            payload = decode.read_block_payload(f, meta)
            t1 = time.perf_counter_ns()
            bd = decode.BlockDecoder(payload, meta=rdr.decode_meta)
            cols = bd.decode(rdr.primitive)
            t2 = time.perf_counter_ns()
            ns["read+inflate"] += t1 - t0
            ns["decode"] += t2 - t1
            if cols is None or not len(cols["id"]):
                continue
            n = len(cols["id"])
            t3 = time.perf_counter_ns()
            rdr._to_batch(cols, n, meta.data_offset + meta.data_size)
            ns["arrow"] += time.perf_counter_ns() - t3
            rows += n
            for name, buf in _packed_fields(bd, rdr.primitive):
                t4 = time.perf_counter_ns()
                wire.decode_packed_uint(buf)
                ns["decode." + name] += time.perf_counter_ns() - t4
                tiers[name][wire.packed_tier(buf)] += 1
    return {"ns": ns, "tiers": tiers}, rows


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("file")
    ap.add_argument("--primitive", default="node")
    ap.add_argument("--columns", default=None,
                    help="comma list of read columns (default: all)")
    ap.add_argument("--with-meta", action="store_true")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args(argv)
    options = {"path": args.file, "primitive": args.primitive,
               "with_meta": str(args.with_meta).lower()}
    full = OsmPbfDataSource(options).schema()
    schema = None
    if args.columns:
        schema = StructType([full[c] for c in args.columns.split(",")])
    rdr = OsmPbfReader(options, schema)
    blocks = [m for m in decode.index_blocks(args.file)
              if m.block_type == "OSMData"]
    _pass(rdr, args.file, blocks[:1])  # warm-up: imports, first pa.array
    passes = []
    for _ in range(args.passes):
        passes.append(_pass(rdr, args.file, blocks))
    rows = passes[0][1]
    names = sorted({k for p, _ in passes for k in p["ns"]},
                   key=lambda k: (k.startswith("decode."), k))
    out = {
        "file": args.file, "primitive": args.primitive,
        "columns": list(rdr.columns), "blocks": len(blocks), "rows": rows,
        "ns_per_row": {
            k: round(statistics.median(p["ns"][k] for p, _ in passes)
                     / max(rows, 1), 1)
            for k in names
        },
        "tiers": {k: dict(v) for k, v in passes[0][0]["tiers"].items()},
    }
    print(f"{out['blocks']} blocks, {rows} rows, columns {out['columns']}")
    for k, v in out["ns_per_row"].items():
        tier = out["tiers"].get(k.removeprefix("decode."), "")
        print(f"  {k:<24} {v:>8.1f} ns/row  {tier or ''}")
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
