"""Where one PBF read spends its per-row time, layer by layer, in process.

For one file and one column set this reads every OSMData block the way an
``osmpbf`` read task does (``OsmPbfReader`` with the columns declared as
its read schema, so the decoder skips meta unless they hold it) and
prints nanoseconds per row for:

- ``read+inflate``: ``decode.read_block_payload`` (file read and blob
  inflate);
- ``decode``: ``BlockDecoder`` construction plus ``decode(primitive)``;
  under it, per varint tier (``wire.packed_tier``: 1byte, sparse or
  word), the time and number of the ``wire.decode_packed_uint`` calls
  that decode made, timed by wrapping the function around the real
  decode (the tier of each call is looked up after the decode's clock
  stops);
- ``arrow``: ``OsmPbfReader._to_batch``, the Arrow batch in the read
  schema.

One untimed warm-up pass over every block runs before timing (the first
``pa.array`` of a numpy array imports pandas, ~0.4 s, and the first block
may hold none of the read's rows). Each layer's
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
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import StructType  # noqa: E402

from osmpbf_spark.sources.pbf import decode, wire  # noqa: E402
from osmpbf_spark.sources.pbf.datasource import (  # noqa: E402
    OsmPbfDataSource,
    OsmPbfReader,
)

def _pass(rdr: OsmPbfReader, path: str, blocks: list) -> tuple[dict, int]:
    """One pass over ``blocks``: nanoseconds per layer and per varint
    tier, the decoder's ``decode_packed_uint`` calls per tier, and the
    rows read."""
    ns: Counter = Counter()
    calls: Counter = Counter()
    packed = []  # (buffer, ns) of each decode_packed_uint call of a block
    real = wire.decode_packed_uint

    def timed(buf):
        t0 = time.perf_counter_ns()
        out = real(buf)
        packed.append((buf, time.perf_counter_ns() - t0))
        return out

    rows = 0
    wire.decode_packed_uint = timed
    try:
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
                for buf, dt in packed:
                    tier = wire.packed_tier(buf)
                    ns["decode." + tier] += dt
                    calls[tier] += 1
                packed.clear()
                if cols is None or not len(cols["id"]):
                    continue
                n = len(cols["id"])
                t3 = time.perf_counter_ns()
                rdr._to_batch(cols, n, meta.data_offset + meta.data_size)
                ns["arrow"] += time.perf_counter_ns() - t3
                rows += n
    finally:
        wire.decode_packed_uint = real
    return {"ns": ns, "calls": calls}, rows


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
    _pass(rdr, args.file, blocks)  # warm-up: imports, first pa.array
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
        "calls": dict(passes[0][0]["calls"]),
    }
    print(f"{out['blocks']} blocks, {rows} rows, columns {out['columns']}")
    for k, v in out["ns_per_row"].items():
        n = out["calls"].get(k.removeprefix("decode."))
        print(f"  {k:<24} {v:>8.1f} ns/row" + (f"  {n} calls" if n else ""))
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
