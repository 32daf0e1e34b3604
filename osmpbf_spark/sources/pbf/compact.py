"""PBF lake compaction — block-transplant merge of small .osm.pbf files.

The parquet side's small-file pathology (operators/compact.py) has a PBF
twin: the engine's own sink writes one ``part-*.osm.pbf`` per partition
task and the streaming sink one per trigger, so a long-lived PBF lake
accumulates per-file open/header-walk cost at every plan (the exact cost
the r12 sidecar cache amortizes — but the steady-state fix is fewer
files, same as any lake). The reference world has the same tool gap:
``osmium merge`` exists but re-encodes; this pass does not.

The merge is a BYTE-LEVEL BLOCK TRANSPLANT: a PBF file is one OSMHeader
file block followed by self-contained OSMData file blocks (string tables
and delta chains restart per block — osmformat.proto; the reference
decodes each block independently, OsmPbfRecordReader.java:188-200), so
an output file is a freshly synthesized header (inputs' required
features checked for compatibility, bboxes unioned — r14 advice) followed
by every input's data-block bytes copied verbatim. No decode, no
re-encode, no re-compress of DATA — pure sequential I/O at wire speed,
the recipe bench.py's 20M-node stitcher proved and test_pbf pins for
mixed primitives.
BlobHeader.indexdata rides inside the copied bytes, so planning-time
block pruning (kinds / id ranges / tag fingerprints) keeps working on
the compacted lake unchanged.

Scale shape: the driver plans groups from one file listing (first-fit by
size toward ``target_bytes`` — #files-sized state), and each group merge
is an independent sequential copy executed as one Spark task
(``parallelize(groups).map``; per-task imperative byte I/O is the one
legitimate RDD niche). All I/O goes through fs.py, so any path the
reader takes compacts. Locality note: executors write ``out_dir``
directly, so it must be shared storage on a real cluster (per-process
memory:// suits only an in-process merge_group).
"""

from __future__ import annotations

import shutil

from osmpbf_spark.sources.pbf import fs
from osmpbf_spark.sources.pbf.datasource import _resolve_paths
from osmpbf_spark.sources.pbf.decode import (
    KIND_BITS,
    _file_record,
    index_blocks,
    index_blocks_cached,
)
from osmpbf_spark.sources.pbf.encode import _file_block, encode_header_block


def _index_file(
    path: str, index_cache_dir: str | None = None
) -> tuple[int, int, dict, bool]:
    """(data_split, n_data_blocks, header, nodes_possible) for one input:
    the byte offset where the OSMData region starts (end of the OSMHeader
    file block), the number of OSMData blocks, the decoded HeaderBlock
    metadata (required/optional features, writingprogram, bbox —
    merge_group synthesizes the merged header from these), and whether
    the file MAY contain nodes (True unless every data block carries
    indexdata stats proving it node-free — foreign files have no stats
    and stay True, which makes the bbox-union logic conservative for
    them). Block index and header come from one planning record
    (decode._file_record): the file is walked at most once, and with
    ``index_cache_dir`` set both come from the planning sidecar, so
    compacting an already-planned lake reads no input bytes at all
    before the transplant copy. A headerless file (corrupt, or a foreign
    tool's output) raises a ValueError naming the path instead of a bare
    StopIteration that PySpark would blur into a generic worker
    RuntimeError."""
    rec = _file_record(path, index_cache_dir, header=True)
    split = None
    n_data = 0
    nodes_possible = False
    for m in rec["blocks"]:
        if m.block_type == "OSMHeader" and split is None:
            split = m.data_offset + m.data_size
        elif m.block_type == "OSMData":
            n_data += 1
            if (
                not m.stats
                or "kinds" not in m.stats
                or m.stats["kinds"] & KIND_BITS["node"]
            ):
                nodes_possible = True
    return split, n_data, rec["header"], nodes_possible


def plan_groups(
    paths: list[str], target_bytes: int
) -> list[list[str]]:
    """First-fit grouping of input files toward ``target_bytes`` output
    files, in name order (keeps any id-range ordering the lake already
    has, which keeps per-output id spans tight for min/max pruning)."""
    groups: list[list[str]] = []
    acc = 0
    for p in sorted(paths):
        st = fs.fs_stat(p)
        size = st[0] if st else 0
        # close the open group only when it is NON-EMPTY and the next
        # file would overflow it (r14 verdict: gating on `acc > 0` let a
        # zero-byte file open a group that then absorbed an oversized
        # file — hypothesis found sizes=[0,2], target=1, now @example-
        # pinned in test_pbf_compact_plan_groups_properties)
        if not groups or (groups[-1] and acc + size > target_bytes):
            groups.append([])
            acc = 0
        groups[-1].append(p)
        acc += size
    return [g for g in groups if g]


def _complete_bbox(h: dict) -> dict | None:
    b = h.get("bbox")
    if b and all(
        b.get(k) is not None for k in ("left", "right", "top", "bottom")
    ):
        return b
    return None


def _union_bbox(infos: list[tuple]) -> dict | None:
    """Union of the inputs' HeaderBBoxes (nanodegrees) — or None when the
    union cannot be proven to cover the merged data. An input without a
    complete bbox contributes nothing to the union, which is only sound
    if that input provably holds no nodes: our writer omits the bbox
    exactly when a file is node-free (encode.write_pbf unions the blocks'
    node bounds) AND stamps per-block kinds stats that prove it, but a
    FOREIGN bbox-less file may contain nodes anywhere — declaring a bbox
    that excludes them would
    make a bbox-pruning reader skip real data, strictly worse than
    declaring none (r15 review). So: if any input that MAY contain nodes
    lacks a complete bbox, the merged header declares no bbox at all."""
    boxes = []
    for _p, _split, _n, hdr, nodes_possible in infos:
        b = _complete_bbox(hdr)
        if b is not None:
            boxes.append(b)
        elif nodes_possible:
            return None
    if not boxes:
        return None
    return {
        "left": min(b["left"] for b in boxes),
        "right": max(b["right"] for b in boxes),
        "top": max(b["top"] for b in boxes),
        "bottom": min(b["bottom"] for b in boxes),
    }


def merge_group(
    paths: list[str], out_path: str, index_cache_dir: str | None = None
) -> dict:
    """Merge one group: a synthesized merged header + every input's data
    bytes, streamed in constant memory (seek + chunked copy — never the
    whole file resident; a multi-GB input would otherwise hold 2x its
    bytes in the Python worker).

    Header semantics (r14 advice + r15 review + r15 advice): transplanting
    the FIRST input's header verbatim silently dropped later inputs'
    declarations, so the merge synthesizes a fresh OSMHeader that
    (a) declares the UNION of the inputs' required_features — the data
    blocks are byte-verbatim, so the union is exactly as sound as the
    inputs themselves and never refuses a heterogeneous-but-valid lake —
    (b) carries the UNION of the inputs' bboxes (omitted entirely when a
    possibly-node-bearing input declares none — see _union_bbox), and
    (c) PRESERVES the first input's other declarations: optional_features
    are unioned across inputs (sort-order declarations like
    Sort.Type_then_ID survive the merge) and the first input's
    writingprogram carries over verbatim (None stays omitted).
    Data blocks remain a pure byte transplant.

    The merged file is then INDEX-VERIFIED before success is reported:
    its OSMData block count must equal the sum of the inputs' (the
    parquet twin's refuse-to-report-success discipline,
    operators/compact.py — a truncated or foreign input must surface
    here, not when a later scan hits garbage). With ``index_cache_dir``
    set, the verification walk doubles as the sidecar hand-off: it runs
    through index_blocks_cached, persisting the merged file's block index
    into the planning cache at write time so a freshly compacted lake
    plans WARM — zero header walks on its first plan (r14 verdict Next
    #6). Returns {file, n_inputs, n_blocks, bytes}."""
    infos = [(p, *_index_file(p, index_cache_dir)) for p in paths]
    first_hdr = infos[0][3]
    # required_features: the UNION of the inputs' declarations (r15
    # advice — the earlier refusal-on-mismatch aborted compaction of
    # heterogeneous-but-valid lakes for nothing: the data blocks are
    # transplanted byte-verbatim, so a merged header declaring every
    # input's requirements is exactly as sound as the inputs themselves,
    # and a reader that cannot honor some feature refuses the merged
    # file the same way it would have refused that input). First input's
    # order, later inputs' novelties appended sorted — same determinism
    # rule as optional_features below.
    required = list(first_hdr["required_features"])
    required += sorted(
        {r for _p, _s, _n, hdr, _np in infos[1:]
         for r in hdr["required_features"]} - set(required)
    )
    # optional_features: first input's order, later inputs' novelties
    # appended sorted (deterministic regardless of group composition)
    optional = list(first_hdr["optional_features"])
    extra_opt = sorted(
        {o for _p, _s, _n, hdr, _np in infos[1:]
         for o in hdr["optional_features"]} - set(optional)
    )
    header_bytes = _file_block(
        "OSMHeader",
        encode_header_block(
            required=required,
            writingprogram=first_hdr["writingprogram"],
            bbox=_union_bbox(infos),
            optional=optional + extra_opt,
        ),
        True,
    )
    total = 0
    expect_blocks = 0
    with fs.fs_open(out_path, "wb") as out:
        out.write(header_bytes)
        for p, split, n_data, _hdr, _np in infos:
            expect_blocks += n_data
            with fs.fs_open(p, "rb") as f:
                f.seek(split)
                start = out.tell()
                shutil.copyfileobj(f, out, 1 << 20)
                total += out.tell() - start
    if index_cache_dir:
        blocks = index_blocks_cached(out_path, index_cache_dir)
    else:
        blocks = index_blocks(out_path)
    got_blocks = sum(1 for b in blocks if b.block_type == "OSMData")
    if got_blocks != expect_blocks:
        raise RuntimeError(
            f"{out_path}: transplant block-count mismatch — inputs hold "
            f"{expect_blocks} OSMData blocks, merged file indexes "
            f"{got_blocks}; refusing to report success"
        )
    return {
        "file": out_path,
        "n_inputs": len(paths),
        "n_blocks": got_blocks,
        "bytes": total,
    }


def compact_pbf_files(
    spark,
    in_dir: str,
    out_dir: str,
    target_bytes: int = 256 * 1024 * 1024,
    index_cache_dir: str | None = None,
) -> list[dict]:
    """Compact the PBF files ``in_dir`` names (listed by the reader's
    ``_resolve_paths``) into ~target-sized files in ``out_dir``. Group
    plan on the driver (one listing), one Spark task per output file.
    REFUSES in-place compaction on every scheme: the sink and this pass name
    files ``part-*.osm.pbf``, so out_dir == in_dir would make group 0's
    output truncate input part-00000.osm.pbf before its bytes are read —
    any planned output path colliding with an input is rejected before a
    single byte is written. With ``index_cache_dir`` set, each merged
    file's block index is persisted into the planning sidecar at write
    time (see merge_group). Returns the per-file stats list
    (#outputs-sized)."""
    paths = _resolve_paths(in_dir)
    if fs.canonical(out_dir) == fs.canonical(in_dir):
        raise ValueError(
            f"refusing in-place compaction: out_dir == in_dir ({in_dir}) "
            "would truncate inputs named part-*.osm.pbf before they are "
            "read — write to a fresh directory, then swap"
        )
    fs.fs_makedirs(out_dir)
    groups = plan_groups(paths, target_bytes)
    in_real = {fs.canonical(p) for p in paths}
    jobs = []
    for i, g in enumerate(groups):
        out_path = fs.fs_join(out_dir, f"part-{i:05d}.osm.pbf")
        if fs.canonical(out_path) in in_real:
            raise ValueError(
                f"refusing compaction: output {out_path} resolves to an "
                "input file — writing it would destroy input data"
            )
        jobs.append((g, out_path))
    return (
        spark.sparkContext.parallelize(jobs, len(jobs))
        .map(lambda j: merge_group(j[0], j[1], index_cache_dir))
        .collect()
    )
