"""Span tracing for the traced run, recorded from the benchmark's own code.

The engine is not edited. In a traced run the benchmark registers
``TracedOsmPbfDataSource`` under the engine's own format name
(``osmpbf``). It is the engine's data source with reader, stream reader
and writer subclasses whose entry points open spans, and which, in
whatever Python process Spark runs them in (planner, stream runner or
executor worker), wrap the engine's public layer calls:

    layer              wrapped call                                  span
    planning           OsmPbfReader.partitions                       plan.partitions
                       OsmPbfStreamReader.latestOffset / partitions  plan.stream.*
                       decode.index_blocks_cached                    plan.index
                       fs.fs_glob / fs_isdir / fs_stat               plan.fs
    read + inflate     decode.read_block_payload                     inflate
    columnar decode    decode.BlockDecoder + decode_nodes/ways/...   decode.<primitive>
    Arrow assembly     OsmPbfReader.read (self time)                 task.read
    transport          consumer time between two yielded batches     transport
    sink + encode      OsmPbfWriter.write / commit, encode.write_pbf sink.write,
                                                                     sink.commit, encode

Each process keeps its spans in memory and appends them to
``$PERFBENCH_TRACE_DIR/spans-<pid>.jsonl`` when the outermost span it is
inside ends (end of a task, of a planning call, of a commit). Timestamps
are ``time.monotonic_ns()``, which on Linux is CLOCK_MONOTONIC and so
comparable across processes of one host; the benchmark process buckets
spans into passes by time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from osmpbf_spark.sources.pbf import datasource, decode, encode, fs

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"

# span name -> per-layer self-time metric
LAYER_OF = {
    "plan.partitions": "plan.s",
    "plan.stream.latest": "plan.s",
    "plan.stream.partitions": "plan.s",
    "plan.index": "plan.s",
    "plan.fs": "plan.s",
    "inflate": "inflate.s",
    "decode.node": "decode.node.s",
    "decode.way": "decode.way.s",
    "decode.relation": "decode.relation.s",
    "task.read": "arrow.s",
    "transport": "transport.s",
    "sink.write": "sink.write_s",
    "sink.commit": "sink.commit_s",
    "encode": "encode.s",
}


class Recorder:
    """Spans of one process, in memory until the outermost span closes."""

    def __init__(self, out_dir: str | None):
        self.out_dir = out_dir
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = 0
        self.primitive = "node"  # set by the reader that owns this task

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _next_id(self) -> str:
        with self._lock:
            self._seq += 1
            return f"{os.getpid()}-{self._seq}"

    def add(self, name, t0, t1, parent=None, **counts) -> None:
        rec = {"id": self._next_id(), "name": name, "t0": t0, "t1": t1,
               "parent": parent, "pid": os.getpid(), **counts}
        with self._lock:
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str, **counts):
        """Open a span; the yielded dict takes counts added inside it."""
        stack = self._stack()
        rec = {"id": self._next_id(), "name": name, "parent":
               stack[-1]["id"] if stack else None, "pid": os.getpid(),
               **counts}
        stack.append(rec)
        rec["t0"] = time.monotonic_ns()
        try:
            yield rec
        finally:
            rec["t1"] = time.monotonic_ns()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            if not stack:
                self.flush()

    def in_planning(self) -> bool:
        stack = self._stack()
        return bool(stack) and stack[-1]["name"].startswith("plan.")

    def flush(self) -> None:
        with self._lock:
            spans, self.spans = self.spans, []
        if not spans or not self.out_dir:
            return
        path = os.path.join(self.out_dir, f"spans-{os.getpid()}.jsonl")
        with open(path, "a") as fh:
            fh.write("".join(json.dumps(s) + "\n" for s in spans))


_RECORDER: Recorder | None = None
_INSTALL_LOCK = threading.Lock()


def install() -> Recorder:
    """Wrap the engine's layer calls in this process (once) and return the
    process's recorder."""
    global _RECORDER
    with _INSTALL_LOCK:
        if _RECORDER is None:
            _RECORDER = Recorder(os.environ.get(TRACE_DIR_ENV))
            _patch(_RECORDER)
        return _RECORDER


def _wrap(rec: Recorder, name: str, fn, counts=None):
    def traced(*args, **kwargs):
        with rec.span(name) as sp:
            out = fn(*args, **kwargs)
            if counts is not None:
                sp.update(counts(args, out))
            return out

    traced.__wrapped__ = fn
    return traced


def _planning_fs(rec: Recorder, fn):
    """fs calls are a planning layer only when planning makes them (the
    sink's commit lists its directory too)."""
    traced = _wrap(rec, "plan.fs", fn)

    def call(*args, **kwargs):
        return (traced if rec.in_planning() else fn)(*args, **kwargs)

    call.__wrapped__ = fn
    return call


def _patch(rec: Recorder) -> None:
    decode.read_block_payload = _wrap(
        rec, "inflate", decode.read_block_payload,
        lambda a, out: {"bytes_in": a[1].data_size, "bytes_out": len(out)},
    )
    decode.index_blocks_cached = _wrap(
        rec, "plan.index", decode.index_blocks_cached,
        lambda a, out: {"blocks": sum(
            1 for m in out if m.block_type == "OSMData")},
    )
    for name in ("fs_glob", "fs_isdir", "fs_stat"):
        setattr(fs, name, _planning_fs(rec, getattr(fs, name)))
    encode.write_pbf = _wrap(
        rec, "encode", encode.write_pbf,
        lambda a, out: {"bytes_out": os.path.getsize(a[0])},
    )
    # BlockDecoder construction (string table, group split) and the
    # decode_* kernels both count as columnar decode of the primitive the
    # current task reads
    cls = decode.BlockDecoder
    for meth in ("__init__", "decode_nodes", "decode_ways",
                 "decode_relations"):
        orig = getattr(cls, meth)

        def traced(self, *args, _orig=orig, _meth=meth, **kwargs):
            with rec.span("decode." + rec.primitive) as sp:
                out = _orig(self, *args, **kwargs)
                if _meth != "__init__":
                    sp["rows"] = len(out["id"])
                return out

        setattr(cls, meth, traced)


def _plan_counts(parts) -> dict:
    return {
        "files": len({p.path for p in parts if p.ranges}),
        "blocks": sum(len(p.ranges) for p in parts),
        "partitions": len(parts),
    }


class TracedReader(datasource.OsmPbfReader):
    def partitions(self):
        rec = install()
        with rec.span("plan.partitions") as sp:
            parts = super().partitions()
            sp.update(_plan_counts(parts))
        return parts

    def read(self, partition):
        rec = install()
        rec.primitive = self.primitive
        yield from _traced_batches(rec, super().read(partition))


def _traced_batches(rec: Recorder, batches):
    """Time the reader's generator; the time the consumer holds each batch
    (Arrow IPC serialization to the JVM) is recorded as ``transport``."""
    with rec.span("task.read", batches=0, rows=0, bytes=0) as sp:
        for b in batches:
            sp["batches"] += 1
            sp["rows"] += b.num_rows
            sp["bytes"] += b.nbytes
            t0 = time.monotonic_ns()
            yield b
            rec.add("transport", t0, time.monotonic_ns(), parent=sp["id"])


class TracedStreamReader(datasource.OsmPbfStreamReader):
    def latestOffset(self):
        with install().span("plan.stream.latest"):
            return super().latestOffset()

    def partitions(self, start, end):
        with install().span("plan.stream.partitions") as sp:
            parts = super().partitions(start, end)
            sp.update(_plan_counts(parts))
        return parts

    def read(self, partition):
        rec = install()
        rec.primitive = self._rdr.primitive
        yield from _traced_batches(rec, self._rdr.read(partition))


class TracedWriter(datasource.OsmPbfWriter):
    def write(self, rows):
        with install().span("sink.write") as sp:
            msg = super().write(rows)
            sp["rows"] = msg.rows
        return msg

    def commit(self, messages):
        with install().span("sink.commit"):
            super().commit(messages)


class TracedOsmPbfDataSource(datasource.OsmPbfDataSource):
    """The engine's data source with traced reader/stream reader/writer."""

    def reader(self, schema):
        return TracedReader(self.options, schema)

    def streamReader(self, schema):
        return TracedStreamReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        return TracedWriter(self.options, schema, overwrite)


def load_spans(trace_dir: str) -> list[dict]:
    spans: list[dict] = []
    for name in sorted(os.listdir(trace_dir)):
        if name.startswith("spans-"):
            with open(os.path.join(trace_dir, name)) as fh:
                spans += [json.loads(line) for line in fh if line.strip()]
    return spans


def _self_intervals(spans: list[dict]) -> list[tuple[int, int, str]]:
    """(start, end, layer) pieces of each span not covered by its children."""
    kids: dict[str, list[tuple[int, int]]] = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = []
    for s in spans:
        layer = LAYER_OF.get(s["name"])
        if layer is None:
            continue
        cur = s["t0"]
        for a, b in sorted(kids.get(s["id"], [])):
            if a > cur:
                out.append((cur, min(a, s["t1"]), layer))
            cur = max(cur, b)
        if cur < s["t1"]:
            out.append((cur, s["t1"], layer))
    return out


def attribute_wall(spans: list[dict], t0: int, t1: int) -> dict[str, float]:
    """Split the pass wall [t0, t1] over layers: each instant is shared
    equally by the self-intervals active at it, and instants no span covers
    go to ``spark.self_s`` (JVM scheduling, task launch, result handling).
    The values sum to the pass wall exactly."""
    events = []
    for a, b, layer in _self_intervals(spans):
        a, b = max(a, t0), min(b, t1)
        if a < b:
            events.append((a, 1, layer))
            events.append((b, -1, layer))
    events.sort()
    share = {layer: 0.0 for layer in set(LAYER_OF.values())}
    share["spark.self_s"] = 0.0
    active: dict[str, int] = {}
    n_active = 0
    prev = t0
    for t, delta, layer in events:
        dt = t - prev
        if dt > 0:
            if n_active:
                for name, k in active.items():
                    if k:
                        share[name] += dt * k / n_active
            else:
                share["spark.self_s"] += dt
        active[layer] = active.get(layer, 0) + delta
        n_active += delta
        prev = t
    share["spark.self_s"] += t1 - prev
    return {k: v / 1e9 for k, v in share.items()}
