"""`spark.read.format("osmpbf")` — the splittable OSM PBF data source.

Spark-native successor to the reference's Hadoop InputFormat
(OsmPbfInputFormat.java:13-19 + OsmPbfRecordReader.java), built on the
PySpark Python Data Source API (pyspark.sql.datasource, PySpark 4.x):

- ``partitions()`` walks the BlobHeader chain driver-side and emits
  block-aligned partitions (~``partition_target_bytes`` of compressed blob
  each; whole small files are packed together up to that size). Exact
  ranges supersede the reference's signature-resync protocol
  (OsmPbfRecordReader.java:96-129): every block is decoded exactly once, and
  a 100 TB corpus with B blocks plans in O(B) tiny reads with no data scan.
- ``read()`` decodes each block columnar (numpy cumsum delta decode — see
  decode.py) and yields one Arrow RecordBatch per block, so rows never
  materialize as Python objects; Spark receives vectorized batches.
- ``df.write.format("osmpbf")`` (OsmPbfWriter) is the same in reverse: it
  takes Spark's Arrow batches, cuts them into blocks of ``BLOCK_ROWS`` rows
  and encodes one part file per task, handing ``encode.write_pbf`` one
  block at a time.
- Type projection (the ``primitive`` option) mirrors parseType
  (OsmPbfRecordReader.java:31-37, README.md:38-41). The options choose one
  layout per read, like the Pig loader's per-type schemas
  (OSMPbfPigLoader.java:47-73), stated once in ``_LAYOUT``; a declared read
  schema (``.schema(...)``) may select and reorder its columns by name.
  Unlike the reference, ``relation`` is implemented (java:291 falls through).
- A read decodes Info/DenseInfo only when its columns hold ``meta``
  (``OsmPbfReader.decode_meta``). A read without it steps over those
  fields unread and unvalidated, where the reference decodes every
  DenseInfo and drops it (SURVEY §1.3).

Options (SURVEY.md §7 Milestone 2):
  path            file, directory, or glob of .pbf files
  primitive       node (default) | way | relation
  tags_as         map (default) | string — string is the reference's lossy
                  legacy ``"k:v;"`` concatenation (OsmPbfRecordReader.java:
                  194-204), provided for strict parity
  with_meta       true -> add Info/DenseInfo provenance columns (the
                  reference decodes-and-drops these, SURVEY §1.3)
  with_pos        true|block -> add ``_pos`` = the reference's record key
                  exactly: the file position just past the record's blob
                  (pos = fileFD.getPos(), OsmPbfRecordReader.java:184,
                  emitted :68-72 — one value per block, for every record
                  in it). ``record`` -> additionally add ``_rec``, the
                  record's 0-based ordinal within its block, making
                  (_pos, _rec) a unique, file-order-monotone per-record
                  key. Records live inside a compressed blob, so a
                  per-record FILE offset does not exist — the reference's
                  own key never distinguishes records within a block; the
                  (_pos, _rec) pair is strictly finer with the reference
                  key as its first component.
  partition_target_bytes   compressed bytes per partition (default 32 MiB):
                  a larger file is cut into block-aligned runs of about
                  this size, and whole smaller files are packed, in file
                  order, into shared partitions of at most this size
                  (fewer when that leaves cores idle; see _plan_files)
  compat          comma list of reference-BUG emulations for byte-exact
                  migration testing (SURVEY §1.4 — defaults are the
                  spec-correct fixes): ``stale_tags`` (§1.4.2 truncated
                  keys_vals repeats the last node's tags), ``pig_x2``
                  (§1.4.5 Pig loader's double-advance drops even-indexed
                  records), ``zlib_only`` (§1.4.6 reject raw/lzma blobs)
  tag_key         return only primitives CARRYING this tag key (the
                  osmium/imposm tag-filtered-extract shape). Whole blocks
                  whose indexdata tag-key fingerprint (``tag_key_bits``)
                  proves the key absent are pruned at planning; kept
                  blocks are row-filtered exactly. Legacy files without
                  the fingerprint are never pruned. Not applicable to
                  changesets, and incompatible with compat=pig_x2 (the
                  record-index emulation is defined over the UNFILTERED
                  record stream).
  tag_value       with tag_key: keep only primitives where the key's
                  value EQUALS this (the osmium k=v filter). Requires
                  tag_key; block pruning still keys on tag_key's
                  fingerprint (values are not fingerprinted).
  filter_pushdown true -> prune whole blocks at planning time against
                  pushed id/lat/lon range filters using the per-block
                  stats our encoder stores in BlobHeader.indexdata (the
                  field the PBF spec reserves for block metadata). OPT-IN:
                  see OsmPbfReader.pushFilters for why the default is off.
  index_cache_dir local directory (plain path or ``file://`` URL; any
                  other scheme raises) for the planning sidecars: one
                  ``pbfidx_*.json`` doc per file holding its block index
                  (and, once read, its header), keyed by the file's
                  (size, mtime_ns), so a re-plan from a new driver walks
                  no unchanged file again. Unset: in-process cache only.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from osmpbf_spark.sources.pbf import decode, fs

# smallest run of packed small files worth a task of its own (the default
# of Spark's spark.sql.files.openCostInBytes, its floor on a split)
MIN_RUN_BYTES = 4 * 1024 * 1024
# primitives per block the sink writes, as the OSM wiki's PBF page advises
BLOCK_ROWS = 8000
_TS_SENTINEL = np.iinfo(np.int64).min


def _resolve_paths(path: str) -> list[str]:
    """Expand a file/dir/glob path spec into file paths through fs.py —
    FileInputFormat's path handling (OsmPbfInputFormat.java:13-19), and the
    one lister for the batch reader, the stream reader and compaction."""
    if fs.fs_isdir(path):
        out = sorted(set(fs.fs_glob(fs.fs_join(path, "*.pbf"))))
    elif any(c in path for c in "*?["):
        out = sorted(fs.fs_glob(path))
    else:
        out = [path]
    if not out:
        raise FileNotFoundError(f"no PBF files at {path}")
    return out


def _bool_opt(options, key: str, default: bool = False) -> bool:
    """A boolean option: true|false, 1|0 or yes|no in any case; ``""`` (a
    templated option left empty) is false. Anything else raises, so a typo
    such as ``with_meta=ture`` cannot silently read as false."""
    v = options.get(key)
    if v is None:
        return default
    s = str(v).lower()
    if s in ("true", "1", "yes"):
        return True
    if s in ("false", "0", "no", ""):
        return False
    raise ValueError(f"{key} must be true|false, got {v!r}")


def _pos_mode(options) -> str | None:
    """with_pos: None/false -> no key column; block (or any truthy value,
    the pre-record-mode spelling) -> ``_pos`` only; record -> _pos + _rec."""
    v = options.get("with_pos")
    if v is None:
        return None
    s = str(v).lower()
    if s in ("false", "0", "no", ""):
        return None
    if s == "record":
        return "record"
    if s in ("true", "1", "yes", "block"):
        return "block"
    raise ValueError(f"with_pos must be true|false|block|record, got {v!r}")


# ------------------------------------------------------------- read layout
# Each column's builder turns one block's decoded columns (decode.py's
# flattened layout) into that column's Arrow array.


def _array(key: str, typ: pa.DataType, cols, n: int, block_end: int):
    return pa.array(cols[key], type=typ)


def _refs(cols, n: int, block_end: int) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(cols["ref_offsets"], type=pa.int32()),
        pa.array(cols["ref_values"], type=pa.int64()),
    )


_MEMBER = StructType(
    [
        StructField("role", StringType(), True),
        StructField("ref", LongType(), False),
        StructField("type", StringType(), False),
    ]
)


def _members(cols, n: int, block_end: int) -> pa.Array:
    member = pa.StructArray.from_arrays(
        [
            pa.array(cols["member_roles"], type=pa.string()),
            pa.array(cols["member_refs"], type=pa.int64()),
            pa.array(cols["member_types"], type=pa.string()),
        ],
        names=_MEMBER.names,
    )
    return pa.ListArray.from_arrays(
        pa.array(cols["member_offsets"], type=pa.int32()), member
    )


def _tag_map(cols, n: int, block_end: int) -> pa.Array:
    # straight from the flattened decode layout: zero per-row work
    return pa.MapArray.from_arrays(
        pa.array(cols["tag_offsets"], type=pa.int32()),
        pa.array(cols["tag_keys"], type=pa.string()),
        pa.array(cols["tag_vals"], type=pa.string()),
    )


def _tag_string(cols, n: int, block_end: int) -> pa.Array:
    # the reference's lossy legacy "k:v;" concatenation, for parity: one
    # "k:v;" per tag, joined per row ("" for an untagged row)
    pairs = pc.binary_join_element_wise(
        pa.array(cols["tag_keys"], type=pa.string()), ":",
        pa.array(cols["tag_vals"], type=pa.string()), ";", "",
    )
    return pc.binary_join(
        pa.ListArray.from_arrays(
            pa.array(cols["tag_offsets"], type=pa.int32()), pairs), "")


_META = StructType(
    [
        StructField("version", IntegerType(), True),
        StructField("timestamp", TimestampType(), True),
        StructField("changeset", LongType(), True),
        StructField("uid", LongType(), True),
        StructField("user", StringType(), True),
        StructField("visible", BooleanType(), True),
    ]
)


def _meta(cols, n: int, block_end: int) -> pa.Array:
    ts_ms = cols["meta_timestamp_ms"]
    ts_mask = ts_ms == _TS_SENTINEL
    ts = np.where(ts_mask, 0, ts_ms) * 1000  # ms -> us, no overflow
    num_mask = lambda a: pa.array(a, type=pa.int64(), mask=a == _TS_SENTINEL)  # noqa: E731
    return pa.StructArray.from_arrays(
        [
            pa.array(cols["meta_version"], type=pa.int32(),
                     mask=cols["meta_version"] == -1),
            pa.array(ts, type=pa.timestamp("us"), mask=ts_mask),
            num_mask(cols["meta_changeset"]),
            num_mask(cols["meta_uid"]),
            pa.array(cols["meta_user"], type=pa.string()),
            pa.array(cols["meta_visible"], type=pa.bool_()),
        ],
        names=_META.names,
    )


def _pos(cols, n: int, block_end: int) -> pa.Array:
    # the reference keys every record in a block with the file position
    # right after the block's blob (pos = fileFD.getPos() at
    # OsmPbfRecordReader.java:184, emitted via getCurrentKey :69-72)
    return pa.array(np.full(n, block_end, dtype=np.int64))


def _rec(cols, n: int, block_end: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


# The read layout, stated once: per primitive, column -> (Spark type,
# nullable, builder). _layout adds ``tags`` per ``tags_as`` and the
# columns of with_meta and with_pos.
_ID = (LongType(), False, partial(_array, "id", pa.int64()))
_LAYOUT = {
    "node": {
        "id": _ID,
        "lat": (DoubleType(), False, partial(_array, "lat", pa.float64())),
        "lon": (DoubleType(), False, partial(_array, "lon", pa.float64())),
    },
    "way": {"id": _ID, "refs": (ArrayType(LongType(), False), False, _refs)},
    "relation": {
        "id": _ID,
        "members": (ArrayType(_MEMBER, False), False, _members),
    },
    # ChangeSet is id-only by spec (osmformat.proto:174-189, "NOT USED"):
    # no coords, tags or provenance exist to emit
    "changeset": {"id": _ID},
}
_TAGS = {
    "map": (MapType(StringType(), StringType()), False, _tag_map),
    "string": (StringType(), False, _tag_string),
}


def _layout(options) -> dict:
    """The columns the options select, in default order: column ->
    (Spark type, nullable, builder)."""
    primitive = options.get("primitive", "node")
    if primitive not in _LAYOUT:
        raise ValueError(
            f"primitive must be one of {tuple(_LAYOUT)}, got {primitive!r}"
        )
    tags_as = options.get("tags_as", "map")
    if tags_as not in _TAGS:
        raise ValueError(f"tags_as must be map|string, got {tags_as!r}")
    layout = dict(_LAYOUT[primitive])
    if primitive != "changeset":
        layout["tags"] = _TAGS[tags_as]
        if _bool_opt(options, "with_meta"):
            layout["meta"] = (_META, True, _meta)
    mode = _pos_mode(options)
    if mode:
        layout["_pos"] = (LongType(), False, _pos)
        if mode == "record":
            layout["_rec"] = (LongType(), False, _rec)
    return layout


def _read_columns(options, schema: StructType | None) -> dict:
    """Builders of the read schema's columns, by name and in its order
    (Spark binds the returned Arrow columns by position); None reads the
    whole layout. A declared schema may select and reorder the layout's
    columns. One the options do not provide, or of another type
    (``_check_type``), raises a ValueError naming it."""
    layout = _layout(options)
    if schema is None:
        return {name: build for name, (_, _, build) in layout.items()}
    out = {}
    for f in schema.fields:
        if f.name not in layout:
            raise ValueError(
                f"osmpbf: column {f.name!r} is not in this read's layout "
                f"{list(layout)}; the options (primitive, tags_as, "
                "with_meta, with_pos) choose its columns"
            )
        typ, _, out[f.name] = layout[f.name]
        _check_type(f, typ, "reads as")
    return out


def _check_type(f: StructField, typ, want_as: str) -> None:
    """A ValueError naming ``f`` unless its type is the layout's ``typ``,
    compared without nullability, which DDL cannot state."""
    got, want = f.dataType.simpleString(), typ.simpleString()
    if got != want:
        raise ValueError(
            f"osmpbf: column {f.name!r} is declared {got}, but {want_as} "
            f"{want}"
        )


class OsmPbfPartition(InputPartition):
    """One task's blocks: ``segments`` is ``[(path, [(data_offset,
    data_size), ...]), ...]`` in file order, then block order. A split
    large file gives one segment per partition; a run of small files
    packed together gives one segment per file. Empty for the sentinel
    of a plan with nothing to read."""

    def __init__(self, segments: list[tuple[str, list[tuple[int, int]]]]):
        self.segments = segments

    @property
    def path(self) -> str:
        """The first segment's file ("" for the empty sentinel)."""
        return self.segments[0][0] if self.segments else ""

    @property
    def ranges(self) -> list[tuple[int, int]]:
        """Every segment's block ranges, in order."""
        return [r for _, ranges in self.segments for r in ranges]


class OsmPbfDataSource(DataSource):
    """USING osmpbf — register via ``spark.dataSource.register``."""

    @classmethod
    def name(cls) -> str:
        return "osmpbf"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField(name, typ, nullable)
                for name, (typ, nullable, _) in _layout(self.options).items()
            ]
        )

    def reader(self, schema: StructType) -> "OsmPbfReader":
        # pushFilters lives on a subclass: Spark raises at plan time if a
        # reader merely DEFINES pushFilters while
        # spark.sql.python.filterPushdown.enabled is false, so the default
        # reader must not have the method at all (the driver's vanilla
        # sessions don't set the conf).
        if _bool_opt(self.options, "filter_pushdown", False):
            return OsmPbfPushdownReader(self.options, schema)
        return OsmPbfReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "OsmPbfWriter":
        return OsmPbfWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType) -> "OsmPbfStreamReader":
        return OsmPbfStreamReader(self.options, schema)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "OsmPbfStreamWriter":
        if overwrite:
            # complete/update output modes ask the sink to truncate per
            # batch; this sink is append-only (uuid part files + commit
            # manifest) — silently accepting would accumulate a full
            # duplicate snapshot per micro-batch
            raise ValueError(
                "osmpbf streaming sink supports append output mode only"
            )
        return OsmPbfStreamWriter(self.options, schema)


def _pig_x2(batches):
    """compat §1.4.5 — replicate OSMPbfPigLoader.getNext()'s double
    nextKeyValue() (:42-45): the first advance is the EOF guard, the second
    lands on the record actually returned, so a split yields its odd-indexed
    (0-based) records — and when the count is odd, the failed second advance
    at EOF leaves the LAST record current, so it leaks through too."""
    idx = 0
    last_batch = None
    for b in batches:
        take = np.arange(1 - idx % 2, b.num_rows, 2)
        idx += b.num_rows
        last_batch = b
        if len(take):
            yield b.take(take)
    if idx % 2 == 1 and last_batch is not None:
        yield last_batch.slice(last_batch.num_rows - 1, 1)


class OsmPbfReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osmpbf requires a path")
        self.primitive = options.get("primitive", "node")
        # tag-filtered extract (the osmium/imposm tag-filter shape):
        # return only primitives CARRYING this tag key, and prune whole
        # blocks whose indexdata tag-key fingerprint proves absence.
        # An option, not pushFilters: Spark's datasource filter API
        # pushes attribute predicates only — a map-access predicate like
        # tags['highway'] IS NOT NULL never reaches the reader.
        self.tag_key = options.get("tag_key")
        if self.tag_key is not None and not self.tag_key:
            # an empty templated option silently meaning "no filter"
            # is the opposite of a filtered extract — fail loudly
            raise ValueError("tag_key must be a non-empty tag key")
        if self.tag_key and self.primitive == "changeset":
            raise ValueError(
                "tag_key is not applicable to changesets (id-only "
                "entities, osmformat.proto:174-189)"
            )
        self._tag_bit = (
            decode.tag_key_bit(self.tag_key) if self.tag_key else None
        )
        self.tag_value = options.get("tag_value")
        if self.tag_value is not None and not self.tag_value:
            # same templated-option hazard as tag_key: empty must not
            # silently become an exact filter on value == ""
            raise ValueError("tag_value must be a non-empty tag value")
        if self.tag_value is not None and not self.tag_key:
            raise ValueError("tag_value requires tag_key")
        self.target = int(
            options.get("partition_target_bytes", 32 * 1024 * 1024)
        )
        # persistent block-index sidecar dir (see _index_files); empty
        # string (templated option) must mean "off", same as absent
        self.index_cache_dir = options.get("index_cache_dir") or None
        compat = options.get("compat", "")
        self.compat = {c.strip() for c in compat.split(",") if c.strip()}
        bad = self.compat - {"stale_tags", "pig_x2", "zlib_only"}
        if bad:
            raise ValueError(
                f"unknown compat flag(s) {sorted(bad)}; supported: "
                "stale_tags (§1.4.2), pig_x2 (§1.4.5), zlib_only (§1.4.6)"
            )
        if self.tag_key and "pig_x2" in self.compat:
            # pig_x2 emulates which RECORD INDICES the reference's Pig
            # loader yields from the raw stream; a tag-filtered (and
            # block-pruned) scan renumbers records, so the combination
            # has no byte-exact reference semantics to emulate — reject
            # rather than silently pick an ordering
            raise ValueError(
                "tag_key cannot combine with compat=pig_x2: the "
                "record-index emulation is defined over the unfiltered "
                "record stream"
            )
        # column -> [lo, hi] bounds accumulated by pushFilters (block-stat
        # units: id raw, lat/lon in nanodegrees)
        self.bounds: dict[str, list[float]] = {}
        self._warned_changesets = False
        self.columns = _read_columns(options, schema)
        # the decoder leaves out the Info fields a read never returns
        self.decode_meta = "meta" in self.columns

    def _block_prunable(self, stats: dict | None) -> bool:
        """True if stats prove the block holds no matching rows."""
        if stats is None:
            return False
        kinds = stats.get("kinds")
        if kinds is not None and not kinds & decode.KIND_BITS[self.primitive]:
            return True  # no group of the requested primitive type at all
        if self.tag_key:
            bits = stats.get("tag_key_bits")
            if bits is not None:
                if not (bits >> self._tag_bit) & 1:
                    # a clear bit PROVES no primitive in the block has
                    # the key (set bits may be collisions -> keep +
                    # re-filter rows); legacy files without the field
                    # are never pruned
                    return True
        if self.primitive == "changeset":
            # the block stats exclude changeset ids from min_id/max_id
            # (they share blocks with other primitives), so id-range
            # pruning would drop blocks whose changesets DO match
            return False
        for col, (smin, smax) in (
            ("id", ("min_id", "max_id")),
            ("lat", ("min_lat_nano", "max_lat_nano")),
            ("lon", ("min_lon_nano", "max_lon_nano")),
        ):
            b = self.bounds.get(col)
            if b is None or stats.get(smin) is None or stats.get(smax) is None:
                continue
            # id bounds cover ways/relations too; lat/lon only exist for
            # node blocks, and only node reads push lat/lon filters
            if stats[smax] < b[0] or stats[smin] > b[1]:
                return True
        return False

    # ------------------------------------------------------------- planning
    def _index_files(self, paths: list[str]) -> list[list]:
        """Block indexes for ``paths``, in order — the driver-side header
        walks. A walk is one ~20-byte read + one seek per block; on a
        remote scheme both wait on the network with the GIL released, so
        a thread pool turns the lake-wide planning cost from
        sum(per-file walks) into max(per-file walk) x ceil(files/16).

        100 TB planning cost model: ~16 MB blocks -> ~2k blocks per
        32 GB file, ~3200 files. Serial: 6.4M driver seeks — minutes of
        pure latency before the first task (the r11 verdict's named
        planning bottleneck). Threaded at 16: bounded by the slowest
        file, ~tens of seconds. With ``index_cache_dir`` set, re-plans
        (every Spark action; every stream micro-batch) hit the sidecar
        keyed by (path, size, mtime_ns) and the walk happens once per
        file EVER — the planning tier an external table format (Iceberg
        manifest, Delta log) provides, as a plain directory of JSON
        sidecars.

        The pool runs for remote schemes only. A local walk is GIL-bound
        header parsing: on 200 page-cached fixture files 16 threads
        measured 14x SLOWER than the serial loop (130ms vs 9ms). Measured
        on the remote side (2ms injected per read over the same 200-file
        layout, under-selling real object-store range-GET latency):
        serial 3.9s -> 16 threads 0.28s, 14.2x."""
        cache_dir = self.index_cache_dir
        if len(paths) < 2 or fs.scheme_of(paths[0]) in (None, "file"):
            return [decode.index_blocks_cached(p, cache_dir) for p in paths]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(
                lambda p: decode.index_blocks_cached(p, cache_dir), paths))

    def _plan_files(self, paths: list[str]) -> list[OsmPbfPartition]:
        """Block-aligned split planning for an explicit file list; shared
        by the batch planner below and the streaming reader's per-batch
        planner (which feeds it only the files new since the last offset).

        A file whose kept (unpruned) OSMData payload reaches
        ``partition_target_bytes`` is cut into runs of consecutive blocks,
        each closed once it reaches the target, its tail in a partition of
        its own. Smaller files are packed whole, in file order, into shared
        runs, as Spark's file sources pack small files: a run never passes
        the target, and is capped at ``max(MIN_RUN_BYTES, small-file bytes
        / os.cpu_count())`` so a lake of mid-size files still gives every
        core a run (a file closes the run first when over half of it would
        land past that cap). A lake of tiny files (the minutely-diff shape)
        costs one task, not one task and one Python worker per file.
        Flattening the plan's segments gives every kept block in file
        order, then block order.

        Limits: the core count is the planning host's, not the cluster's,
        so a cluster larger than the driver gets fewer, larger runs than
        it has cores. Unlike Spark, no per-file open cost is counted, so
        hundreds of tiny files on a remote scheme are opened one after
        another inside one task; that case is not measured.

        Measured on perfbench's lake_stream (8 files of 10k nodes, 4-core
        host, 10 s runs, 10 pairs in alternating order, seeds 1-10): peak
        RSS median 2334 -> 1813 MB and pass_s_p50 7.29 -> 5.86 s, better
        in 10 of 10 pairs each, with one read partition where there were
        8. A single file plans exactly as before. The per-core cap is
        why a mid-size lake does not lose (same host, batch read into
        ``noop``, medians of 4 rounds): 8 files of 4 MB take 2.64 s a
        pass as 8 one-file partitions, 3.03 s packed into one run, and
        2.07 s as 4 capped runs; 16 files of 2 MB take 3.14 s, 2.52 s
        and 1.82 s.

        Negative result, recorded so it is not retried: cutting one large
        file into partitions sized to whole waves of cores (the same
        ``min(target, max(4 MiB, total / cores))`` as the small-file cap,
        4 x 19.5 MB instead of 33.6 + 33.6 + 10.9 MB on the 8M-node
        dense_scan file) did not win. On a 4-core host, 10 s runs in
        alternating order, rows_per_s had a median of 3.00M against 3.39M,
        3 of 6 pairs won, and peak RSS rose 8%. Re-measured later (same
        host, 10 pairs in alternating order): four 20.5 MB partitions gave
        a median of 2.78 s a pass against 2.82 s for the default three,
        within noise. A dense_scan pass uses 9.0-10.3 CPU-s in 2.7-3.3 s
        of wall on 4 cores, 4.5 of them in the JVM and 5.1 in Python
        workers: the pass is CPU-bound, and a different split does not
        change the CPU it needs. Cutting the Python workers' CPU does:
        skipping the meta a read does not return, and decoding multi-byte
        varints a word at a time, took the dense_scan pass from 2.32 to
        1.93 s (median of 10 pairs; see ``BlockDecoder`` and
        ``wire.decode_packed_uint``)."""
        files = []  # (path, kept block ranges, their payload bytes)
        for path, index in zip(paths, self._index_files(paths)):
            kept = [
                (meta.data_offset, meta.data_size)
                for meta in index
                if meta.block_type == "OSMData"
                and not self._block_prunable(meta.stats)
            ]
            if kept:  # else no OSMData block, or every one pruned
                files.append((path, kept, sum(sz for _, sz in kept)))
        small = sum(size for _, _, size in files if size < self.target)
        cap = min(self.target,
                  max(MIN_RUN_BYTES, small // (os.cpu_count() or 1)))
        parts: list[OsmPbfPartition] = []
        run: list = []  # the open run of whole small files
        run_bytes = 0
        for path, kept, size in files:
            if size < self.target:
                # never past the target; past the per-core cap only when
                # less than half the file would land beyond it
                if run and (run_bytes + size > self.target
                            or run_bytes + size // 2 > cap):
                    parts.append(OsmPbfPartition(run))
                    run, run_bytes = [], 0
                run.append((path, kept))
                run_bytes += size
                continue
            if run:  # keep file order: the open run goes first
                parts.append(OsmPbfPartition(run))
                run, run_bytes = [], 0
            ranges: list[tuple[int, int]] = []
            acc = 0
            for r in kept:
                ranges.append(r)
                acc += r[1]
                if acc >= self.target:
                    parts.append(OsmPbfPartition([(path, ranges)]))
                    ranges, acc = [], 0
            if ranges:
                parts.append(OsmPbfPartition([(path, ranges)]))
        if run:
            parts.append(OsmPbfPartition(run))
        return parts

    def partitions(self) -> list[OsmPbfPartition]:
        """Block-aligned split planning (supersedes FileInputFormat.getSplits
        + per-reader resync); see ``_plan_files``. Block order within a
        file is preserved so delta chains stay intact per block."""
        paths = _resolve_paths(self.path)  # one listing, reused below
        # all pruned / empty files: one empty partition keeps the plan valid
        parts = self._plan_files(paths) or [OsmPbfPartition([])]
        self.bounds = {}  # see pushFilters: avoid leaking into the next plan
        return parts

    # -------------------------------------------------------------- reading
    def read(self, partition: OsmPbfPartition):
        # each file's segment reads exactly as a partition of that file
        # alone would, compat=pig_x2's record count included; the empty
        # sentinel (all pruned / no-data micro-batch) opens nothing
        for path, ranges in partition.segments:
            batches = self._batches(path, ranges)
            if "pig_x2" in self.compat:
                batches = _pig_x2(batches)
            yield from batches

    def _batches(self, path: str, ranges: list[tuple[int, int]]):
        """One Arrow batch per kept block of ``path`` that holds rows.

        Negative result, recorded so it is not retried (dense_scan, 4-core
        host, one Spark session, 5 passes each): merging 8 blocks into
        ~64k-row batches before yielding left the pass unchanged (median
        3.06 vs 3.12 s). The batch count does not set the pace; the CPU
        spent per row, in the decode and in Spark's ingest of each batch,
        does (see ``_to_batch``)."""
        with fs.fs_open(path, "rb") as f:
            for offset, size in ranges:
                # a damaged blob names its file and byte offset, not just
                # the codec's or the wire decoder's bare complaint
                try:
                    cols = self._decode_block(f, offset, size)
                except decode.BLOB_ERRORS as e:
                    raise decode.CorruptPbfError(path, offset, str(e)) from e
                n = 0 if cols is None else len(cols["id"])
                if n == 0:
                    continue
                if self.tag_key:
                    # mask from the flattened layout BEFORE Arrow batch
                    # construction: a fingerprint-collision block with
                    # zero matches skips batch building entirely (the
                    # common kept-but-empty case at planet scale)
                    mask = self._tag_key_mask(cols)
                    if not mask.any():
                        continue
                    batch = self._to_batch(cols, n, offset + size)
                    if not mask.all():
                        batch = batch.filter(pa.array(mask))
                    yield batch
                    continue
                yield self._to_batch(cols, n, offset + size)

    def _decode_block(self, f, offset: int, size: int) -> dict | None:
        """Read, inflate and decode one block into the projected type's
        columns, or None when the block holds no group of that type."""
        payload = decode.read_block_payload(
            f,
            decode.BlockMeta("OSMData", offset, size),
            zlib_only="zlib_only" in self.compat,
        )
        bd = decode.BlockDecoder(
            payload, compat_stale_tags="stale_tags" in self.compat,
            meta=self.decode_meta,
        )
        if (decode.GROUP_CHANGESETS in bd.group_kinds
                and self.primitive != "changeset"):
            # count-and-skip: the format declares changesets NOT USED and
            # the reference leaves them unparsed; warn so the skip is
            # never silent (once per partition reader)
            if not self._warned_changesets:
                self._warned_changesets = True
                import warnings

                warnings.warn(
                    f"osmpbf: skipping {bd.count_changesets()} "
                    "changeset entries (ChangeSet is id-only and "
                    "'NOT USED' per osmformat.proto:174-189)",
                    stacklevel=2,
                )
        # type projection: None when no group holds our type (the Spark
        # analog of OsmPbfRecordReader.java:283-290)
        return bd.decode(self.primitive)

    def _tag_key_mask(self, cols) -> np.ndarray:
        """Per-row bool: does the row's tag set contain ``self.tag_key``
        — exact semantics regardless of whether stats pruned anything
        (stats only ever skip provably-empty blocks). One vectorized
        equality over the block's flattened tag keys + a cumsum-per-row
        presence test; the Arrow filter that consumes it rebuilds
        list/map children correctly."""
        offs = np.asarray(cols["tag_offsets"], dtype=np.int64)
        keys = np.asarray(cols["tag_keys"], dtype=object)
        if len(keys) == 0:
            return np.zeros(len(offs) - 1, dtype=bool)
        matches = keys == self.tag_key
        if self.tag_value is not None:
            vals = np.asarray(cols["tag_vals"], dtype=object)
            matches = matches & (vals == self.tag_value)
        cum = np.concatenate([[0], np.cumsum(matches)])
        return (cum[offs[1:]] - cum[offs[:-1]]) > 0

    def _to_batch(self, cols, n: int, block_end: int) -> pa.RecordBatch:
        """One block's decoded columns as an Arrow batch in the read
        schema (see _read_columns); ``block_end`` is the file position just
        past the block's blob.

        What the decode costs, measured (dense_scan, 4-core host, one Spark
        session, 5 passes each): a decode-free source yielding prebuilt
        batches of this shape took 2.5 s a pass with the empty ``tags`` map
        and 1.9 s without it, against 3.1 s for this reader at the time, so
        Spark's ingest of the batches is most of a pass. The decode is the
        rest and was worth cutting: skipping the meta a read does not
        return and the word-gather varint tier raised dense_scan rows_per_s
        from 3.46M to 4.14M (median of 10 alternating pairs, 9 of 10 won) and
        cut the traced ``decode.node.s`` from 1.51 to 1.04 s.
        ``scripts/decode_cost.py`` prints the per-row cost of each
        layer."""
        return pa.RecordBatch.from_arrays(
            [build(cols, n, block_end) for build in self.columns.values()],
            names=list(self.columns),
        )


class OsmPbfPushdownReader(OsmPbfReader):
    """Reader variant with planning-time block pruning, selected by option
    ``filter_pushdown=true`` (requires
    ``spark.sql.python.filterPushdown.enabled=true`` on the session).

    Kept OFF the base class because (a) Spark raises at plan time if a
    reader defines pushFilters while that conf is false, and (b) Spark
    caches the post-pushFilters reader state on the relation, so a LATER
    FILTERLESS query on the same load() DataFrame replans partitions with
    stale bounds and silently loses rows (measured: a 9720-row scan
    returned 1720 after a filtered query on the same DataFrame). With the
    option on, use one load() per filter shape (the normal ETL pattern);
    the default reader is always correct.
    """

    def pushFilters(self, filters):
        """Record range predicates on id/lat/lon for block pruning.

        Pruning only — every filter is returned as still-to-be-evaluated,
        so Spark re-applies them post-scan for the query that pushed them.
        Blocks written by producers without indexdata stats are never
        pruned.
        """
        self.bounds = {}
        for f in filters:
            col = f.attribute[0] if hasattr(f, "attribute") else None
            lo, hi = None, None
            if isinstance(f, EqualTo):
                lo = hi = f.value
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo = f.value
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                hi = f.value
            if col in ("id", "lat", "lon") and (lo is not None or hi is not None):
                # conservative nanodegree bounds: float(lo)*1e9 can round
                # PAST the exact product (measured on ~2.4% of quantized
                # coordinate values), which would prune blocks whose edge
                # rows match the filter. Widening the window by one
                # nanodegree each side (floor-1 / ceil+1) dominates the
                # ~1e-5 ulp-scale product error and costs no real pruning
                # power; every filter is re-evaluated by Spark anyway, so
                # widening can never change results — only keep blocks.
                import math

                b = self.bounds.setdefault(col, [-np.inf, np.inf])
                if col in ("lat", "lon"):
                    if lo is not None:
                        b[0] = max(b[0], math.floor(float(lo) * 1e9) - 1)
                    if hi is not None:
                        b[1] = min(b[1], math.ceil(float(hi) * 1e9) + 1)
                else:
                    if lo is not None:
                        b[0] = max(b[0], float(lo))
                    if hi is not None:
                        b[1] = min(b[1], float(hi))
        return filters  # all filters re-evaluated by Spark (prune-only)


@dataclass
class _PbfCommit(WriterCommitMessage):
    path: str
    rows: int


def _nonnull(arr: pa.Array, name: str) -> pa.Array:
    # the format has no null for these fields, and numpy would turn a
    # null slot into an arbitrary number
    if arr.null_count:
        raise ValueError(f"osmpbf write: column {name!r} has "
                         f"{arr.null_count} null value(s)")
    return arr


def _numpy(arr: pa.Array, name: str) -> np.ndarray:
    return _nonnull(arr, name).to_numpy(zero_copy_only=False)


def _nano(arr: pa.Array, name: str) -> np.ndarray:
    """Degrees -> nanodegrees on the format's 1e-7 degree grid."""
    deg = np.asarray(_numpy(arr, name), dtype=np.float64)
    if not (np.abs(deg) < 9e9).all():  # NaN, inf, or past int64 nano
        raise ValueError(f"osmpbf write: column {name!r} has a "
                         "non-finite or out-of-range coordinate")
    return np.rint(deg * 1e7).astype(np.int64) * 100  # half-even, as round()


def _lists(arr: pa.Array, name: str) -> tuple[list[int], pa.Array]:
    # (row offsets from 0, flattened values); ``values`` ignores a slice
    off = _nonnull(arr, name).offsets.to_numpy()
    return (off - off[0]).tolist(), arr.values.slice(off[0], off[-1] - off[0])


def _tag_dicts(col: pa.MapArray) -> list[dict | None]:
    """One ``dict`` per row; ``None`` for an empty or null map. A null tag
    value, which the format cannot hold, raises ValueError naming
    ``tags``."""
    off = col.offsets.to_numpy()
    lo, n = off[0], off[-1] - off[0]
    if n == 0:  # untagged rows: the encoder's fast path
        return [None] * len(col)
    keys = col.keys.slice(lo, n).to_pylist()
    vals = _nonnull(col.items.slice(lo, n), "tags").to_pylist()
    return [
        dict(zip(keys[a:z], vals[a:z])) if z > a and ok else None
        for a, z, ok in zip((off[:-1] - lo).tolist(), (off[1:] - lo).tolist(),
                            col.is_valid().to_pylist())
    ]


def _block(b: pa.RecordBatch, primitive: str) -> dict:
    """One ``encode.write_pbf`` block dict from one batch of rows."""
    ids = _numpy(b.column("id"), "id")
    tags = _tag_dicts(b.column("tags"))
    if primitive == "node":
        nodes = {"id": ids, "lat_nano": _nano(b.column("lat"), "lat"),
                 "lon_nano": _nano(b.column("lon"), "lon"), "tags": tags}
        if "meta" in b.schema.names:
            m = _nonnull(b.column("meta"), "meta")
            nodes["meta"] = meta = {
                f: _numpy(m.field(f), f"meta.{f}") for f in
                ("version", "timestamp", "changeset", "uid", "visible")
            }
            # integer us -> ms, floored as the encoder floors ms -> s
            meta["timestamp_ms"] = meta.pop("timestamp").astype(np.int64) // 1000
            meta["user"] = m.field("user").to_pylist()  # encoder: None -> ""
        return {"nodes": nodes}
    if primitive == "way":
        off, refs = _lists(b.column("refs"), "refs")
        key, vals = "refs", _numpy(refs, "refs")
    else:
        off, m = _lists(b.column("members"), "members")
        codes = pc.index_in(_nonnull(m, "members").field("type"),
                            pa.array(["node", "way", "relation"]))
        if codes.null_count:
            raise ValueError("osmpbf write: column 'members.type' must be "
                             "node, way or relation")
        key, vals = "members", list(zip(
            [r or "" for r in m.field("role").to_pylist()],
            _numpy(m.field("ref"), "members.ref").tolist(),
            codes.to_numpy().tolist(),
        ))
    ids = ids.tolist()
    return {primitive + "s": [
        {"id": ids[i], key: vals[off[i]:off[i + 1]], "tags": tags[i]}
        for i in range(len(ids))
    ]}


class OsmPbfWriter(DataSourceArrowWriter):
    """``df.write.format("osmpbf")`` — a PBF sink (parity-plus: the
    reference has no OutputFormat at all, SURVEY.md §2 'explicitly absent').

    Standard distributed-sink shape: each task encodes its partition into
    one ``part-*.osm.pbf`` file; commit drops a ``_SUCCESS`` marker, abort
    removes the written part files. At 100 TB this is embarrassingly
    parallel: no shuffle, one file per task, block boundaries independent
    of partitioning. A task cuts Spark's Arrow batches into blocks of
    ``BLOCK_ROWS`` primitives, across batch boundaries, and builds each
    block from the column buffers as ``encode.write_pbf`` (string tables,
    delta coding) asks for it, so only the partition's Arrow table and the
    compressed blocks are held until the part file is written.

    Input schema must match the reader's for the chosen ``primitive``:
    node ``(id, lat, lon, tags)``, way ``(id, refs, tags)``, or relation
    ``(id, members, tags)``, with the reader's column types (a
    ``tags_as=string`` frame is refused when the writer is built). A node
    frame may additionally carry the reader's ``meta`` struct (with_meta
    shape); it is re-encoded as DenseInfo, so read -> write -> read
    preserves provenance. A null id, coordinate, ref, member, tag value or
    meta field but ``user`` raises ValueError naming the column (a
    with_meta read of a file LACKING DenseInfo yields null meta: drop the
    column to write without provenance).
    """

    def __init__(self, options, schema, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("osmpbf write requires a path")
        self.primitive = options.get("primitive", "node")
        if self.primitive not in ("node", "way", "relation"):
            # the READER surfaces changesets (id-only, NOT USED per
            # osmformat.proto:174-189); writing them is deliberately
            # unsupported — reject up front instead of a KeyError below
            raise ValueError(
                "osmpbf write supports primitive node|way|relation "
                f"(got {self.primitive!r}; changesets are id-only and "
                "write-unsupported)"
            )
        self.overwrite = overwrite
        fields = {f.name: f for f in schema.fields}
        layout = _layout({"primitive": self.primitive, "with_meta": "true"})
        need = set(layout) - {"meta"}
        if not need <= set(fields):
            raise ValueError(
                f"osmpbf {self.primitive} write needs columns {sorted(need)}, "
                f"got {sorted(fields)}"
            )
        for name, (typ, _, _) in layout.items():
            if name in fields:
                _check_type(fields[name], typ, "the writer takes")

    def write(self, batches) -> _PbfCommit:
        from osmpbf_spark.sources.pbf import encode

        fs.fs_makedirs(self.path)
        out = fs.fs_join(self.path, f"part-{uuid.uuid4().hex}.osm.pbf")
        batches = list(batches)
        rows = pa.Table.from_batches(batches) if batches else None
        n = rows.num_rows if batches else 0
        # a generator: write_pbf encodes each block as it is built
        encode.write_pbf(out, (
            _block(rows.slice(i, BLOCK_ROWS).combine_chunks()
                   .to_batches()[0], self.primitive)
            for i in range(0, n, BLOCK_ROWS)
        ))
        return _PbfCommit(path=out, rows=n)

    def commit(self, messages) -> None:
        # overwrite mode: drop every pre-existing part file at commit time
        # (tasks only ever append new uuid-named parts, so without this a
        # mode("overwrite") save would silently union old + new data on
        # the next read)
        if self.overwrite:
            keep = {m.path for m in messages if m is not None}
            for old in fs.fs_glob(fs.fs_join(self.path, "part-*.osm.pbf")):
                if old not in keep:
                    fs.fs_remove(old)
        with fs.fs_open(fs.fs_join(self.path, "_SUCCESS"), "w") as f:
            total = sum(m.rows for m in messages if m is not None)
            f.write(f"{total}\n")

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and fs.fs_exists(m.path):
                fs.fs_remove(m.path)


def osmpbf_header(path: str) -> dict:
    """File-level metadata (HeaderBlock): required/optional features,
    writingprogram and bbox. The reference reads the header only to skip
    it (OsmPbfRecordReader.java:131-147); we surface it (SURVEY §1.5). A
    file with no OSMHeader block raises a ValueError naming the path."""
    return decode.header_block_cached(path)


class OsmPbfStreamWriter(DataSourceStreamArrowWriter):
    """Streaming PBF SINK — ``df.writeStream.format("osmpbf")``. Each
    micro-batch's tasks run the SAME per-task encoder as the batch sink
    (OsmPbfWriter.write: delta re-encode, zlib blocks, one uuid-named
    part file per task, no shuffle); per-batch ``commit`` appends the
    batch's committed file names to a manifest (``_batches/<id>.txt``)
    and ``abort`` deletes the batch's part files. Failure model: file
    creation is at-least-once (a batch replayed after a crash between
    write and commit leaves orphan parts), but the manifest records only
    committed files — a consumer wanting exactly-once filters the
    directory to manifest entries, the same contract as Spark's built-in
    file sink and its _spark_metadata log. The reference has no write
    path at all, let alone a streaming one."""

    def __init__(self, options, schema: StructType):
        self._w = OsmPbfWriter(options, schema, overwrite=False)

    def write(self, batches):
        return self._w.write(batches)

    def commit(self, messages, batchId: int) -> None:
        d = fs.fs_join(self._w.path, "_batches")
        fs.fs_makedirs(d)
        with fs.fs_open(fs.fs_join(d, f"{batchId}.txt"), "w") as f:
            for m in messages:
                if m is not None:
                    f.write(f"{m.path}\t{m.rows}\n")

    def abort(self, messages, batchId: int) -> None:
        self._w.abort(messages)


class OsmPbfStreamReader(DataSourceStreamReader):
    """Micro-batch STREAMING ingest of a growing directory of .pbf files —
    ``spark.readStream.format("osmpbf")``. The reference has no streaming
    story at all (its InputFormat is batch MapReduce); this is the Spark
    Structured Streaming extension of §2A: the same exact-block-index
    planning and columnar decode, driven by offsets.

    Offset model: the lexicographic NAME HIGH-WATER MARK over the
    directory's ``.pbf`` files — ``{"upto": "<last ingested path>"}``. A
    micro-batch ingests every file whose path sorts strictly above the
    start offset (and at most up to the end offset), planned by the
    shared ``_plan_files`` planner and decoded executor-side by the SAME
    ``read()`` as the batch reader: a large file is split into
    block-aligned partitions, and the batch's small files are packed
    whole into shared partitions of at most ``partition_target_bytes``,
    so a micro-batch of many tiny new files runs as one task, not one per
    file. A micro-batch with nothing to read plans one
    empty partition.
    Producers must therefore deliver files in ascending name order (e.g.
    zero-padded sequence numbers or timestamp names — the natural shape
    of OSM minutely/hourly diff delivery); a file arriving with a name
    below the mark is skipped, exactly like a late file under Spark's
    built-in file source once its log compacts. Offsets are tiny (one
    path string), live in the checkpoint, and make restarts exactly-once:
    a restarted query resumes from the committed mark and ingests only
    the delta (pinned in tests/test_pbf.py).

    Fixed cost per run, measured (lake_stream, 4-core host): Spark starts
    a fresh interpreter for every Python streaming-source run, and it
    imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``. The zip
    holds no bytecode, so that import takes 1.08-1.50 s against
    0.39-0.42 s from site-packages: ~1.1 s of a ~5 s lake_stream pass
    before its first job, against ~0.5 s in this engine's traced spans.
    A faster stream decode cannot win that back. Each Python worker call
    also starts with ``importlib.invalidate_caches()``, which on CPython
    3.10-3.11 re-read pyspark.zip's directory once per zipimporter (16
    reads and 213-255 ms per call inside an executor task, measured with
    ``scripts/pyworker_call_cost.py``); ``osmpbf_spark._zipimport_cache``
    cuts that to one read per changed archive in every process that
    imported the engine (0 reads, ~0.1 ms). This runner's
    single call comes before its fresh interpreter imports the engine, so
    it still pays that once per run.
    """

    def __init__(self, options, schema: StructType):
        self._rdr = OsmPbfReader(options, schema)

    def _files(self) -> list[str]:
        try:
            return sorted(_resolve_paths(self._rdr.path))
        except FileNotFoundError:
            # an empty watched directory is the NORMAL streaming
            # bootstrap (the producer hasn't written yet): plan empty
            # batches until files arrive, like Spark's built-in file
            # source, instead of killing the query
            return []

    def initialOffset(self) -> dict:
        return {"upto": ""}

    def latestOffset(self) -> dict:
        files = self._files()
        return {"upto": files[-1] if files else ""}

    def partitions(self, start: dict, end: dict):
        new = [
            p for p in self._files() if start["upto"] < p <= end["upto"]
        ]
        if not new and start["upto"] < end["upto"]:
            # the offset range was planned against files that existed —
            # an empty listing means retention deleted them mid-replay.
            # Fail loudly: silently planning an empty batch would commit
            # the range and permanently lose its rows.
            raise FileNotFoundError(
                f"osmpbf stream: no files left in committed offset range "
                f"({start['upto']!r}, {end['upto']!r}] — file retention "
                "must outlive checkpoint replay"
            )
        # no-data batch (start == end, possibly an empty bootstrap
        # directory) or every block pruned: one empty sentinel partition
        # keeps the micro-batch plan valid; read() opens nothing for it
        return self._rdr._plan_files(new) or [OsmPbfPartition([])]

    def read(self, partition: OsmPbfPartition):
        yield from self._rdr.read(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from the directory listing alone


def register(spark) -> None:
    """Register the osmpbf format on a session. Registering again under
    the same name replaces the entry, so a second call is safe; any other
    failure propagates."""
    spark.dataSource.register(OsmPbfDataSource)


def read_pbf(spark, path: str, primitive: str = "node", **options):
    """Convenience: ``spark.read.format("osmpbf")`` with options.

    Registers the format on ``spark`` first — the driver's correctness
    harness runs queries under its own vanilla SparkSession where
    get_spark()'s registration never happened."""
    register(spark)
    reader = spark.read.format("osmpbf").option("path", path).option(
        "primitive", primitive
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
