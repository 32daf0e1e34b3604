"""The four workloads. Each drives the engine only through
``spark.read/readStream.format("osmpbf")`` and ``df.write.format("osmpbf")``
and checks every pass against checksums computed from the generator's
arrays (see inputs.py).

A pass is split in two: ``run`` is timed, ``check`` is not. Scans compute
their checksums inside the pass with ``DataFrame.observe`` on the way into
the ``noop`` sink, so the sink stays ``noop`` and no extra job runs.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F


@dataclass
class Pass:
    rows: int = 0  # rows delivered plus rows written
    observed: dict = field(default_factory=dict)  # primitive -> checksums
    written: int = 0  # rows the osmpbf sink wrote
    out_bytes: int = 0  # bytes of the part files it wrote
    jobs_group: str | None = None  # Spark job group the pass ran under
    sink: str | None = None  # memory-sink table of a stream pass
    progress: list = field(default_factory=list)


def _reader(spark, path: str, primitive: str, **opts):
    r = spark.read.format("osmpbf").option("path", path).option(
        "primitive", primitive)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def checksum_exprs(primitive: str, with_meta: bool = False) -> list:
    """Order-independent checksums of a frame in the engine's read schema,
    named as in inputs.py."""
    out = [F.count(F.lit(1)).alias("rows"), F.sum("id").alias("id_sum")]
    zero = F.lit(0).cast("long")
    if primitive == "node":
        out += [
            # rint, not round: Spark rounds doubles through BigDecimal,
            # which would make the check cost as much as the scan
            F.sum(F.rint(F.col("lat") * 1e7).cast("long")).alias("lat7_sum"),
            F.sum(F.rint(F.col("lon") * 1e7).cast("long")).alias("lon7_sum"),
        ]
        if with_meta:
            out.append(F.sum("meta.version").alias("version_sum"))
    elif primitive == "way":
        out += [
            F.sum(F.size("refs")).alias("refs"),
            F.sum(F.aggregate("refs", zero, lambda a, x: a + x)).alias(
                "ref_sum"),
        ]
    else:
        out += [
            F.sum(F.size("members")).alias("members"),
            F.sum(F.aggregate("members", zero, lambda a, m: a + m["ref"]))
            .alias("member_ref_sum"),
        ]
    out.append(F.sum(F.size("tags")).alias("tags"))
    return out


def compare(expected: dict, observed: dict) -> list[str]:
    """Mismatch descriptions; empty when every checksum agrees."""
    bad = []
    for prim, want in expected.items():
        got = observed.get(prim)
        if got is None:
            bad.append(f"{prim}: not observed")
            continue
        for k, v in want.items():
            if (got.get(k) or 0) != v:
                bad.append(f"{prim}.{k}: expected {v}, got {got.get(k)}")
    return bad


def _written(out: str) -> tuple[int, int]:
    """(rows, bytes) of an osmpbf sink's output directory: the row count
    its commit wrote to ``_SUCCESS`` and the size of its part files."""
    with open(os.path.join(out, "_SUCCESS")) as fh:
        rows = int(fh.read().strip())
    size = sum(os.path.getsize(os.path.join(out, f))
               for f in os.listdir(out) if f.endswith(".osm.pbf"))
    return rows, size


def _check_written(spark, out: str, expected: dict, rows: int) -> list[str]:
    """Read a sink's output back and compare it with the node checksums."""
    bad = [] if rows == expected["rows"] else [
        f"_SUCCESS rows {rows} != {expected['rows']}"]
    return bad + compare({"node": expected},
                         {"node": _observed_scan(spark, out, "node")})


def _observed_scan(spark, path: str, primitive: str, **opts) -> dict:
    obs = Observation(f"chk_{primitive}")
    df = _reader(spark, path, primitive, **opts)
    exprs = checksum_exprs(primitive, opts.get("with_meta") == "true")
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


class Workload:
    name = ""

    def __init__(self, manifest: dict, work_dir: str, nproc: int):
        self.manifest = manifest
        self.expected = manifest["expected"]
        self.work_dir = work_dir
        self.nproc = nproc

    def prepare(self, spark) -> None:
        """Per-session set-up that is not part of a pass."""

    def run(self, spark, i: int) -> Pass:
        raise NotImplementedError

    def check(self, spark, p: Pass) -> list[str]:
        return compare(self.expected, p.observed)


class DenseScan(Workload):
    name = "dense_scan"

    def run(self, spark, i: int) -> Pass:
        got = _observed_scan(spark, self.manifest["files"][0]["path"], "node")
        return Pass(rows=got["rows"], observed={"node": got})


class TaggedScan(Workload):
    name = "tagged_scan"

    READS = (("node", {"with_meta": "true"}), ("way", {}), ("relation", {}))

    def run(self, spark, i: int) -> Pass:
        path = self.manifest["files"][0]["path"]
        p = Pass()
        for prim, opts in self.READS:
            got = _observed_scan(spark, path, prim, **opts)
            p.observed[prim] = got
            p.rows += got["rows"]
        return p


class LakeStream(Workload):
    """A feed of small files, ingested twice per pass: a stream into the
    grid aggregation, then a batch compaction of the directory into
    ``nproc`` part files through the osmpbf sink."""

    name = "lake_stream"

    def prepare(self, spark) -> None:
        self.lake = os.path.dirname(self.manifest["files"][0]["path"])
        self.out = os.path.join(self.work_dir, "compacted")

    def run(self, spark, i: int) -> Pass:
        p = self._stream(spark, i)
        (_reader(spark, self.lake, "node").coalesce(self.nproc).write
         .format("osmpbf").option("path", self.out).mode("overwrite").save())
        p.written, p.out_bytes = _written(self.out)
        p.rows += p.written
        return p

    def _stream(self, spark, i: int) -> Pass:
        ckpt = os.path.join(self.work_dir, f"ckpt-{i}")
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = (
            spark.readStream.format("osmpbf").option("path", self.lake)
            .option("primitive", "node").load()
            .observe("chk", *checksum_exprs("node"))
        )
        tile = (
            F.floor((F.col("lat") + 90) * 2048 / 180) * 2048
            + F.floor((F.col("lon") + 180) * 2048 / 360)
        ).cast("bigint")
        name = f"perfbench_lake_{i}"
        q = (
            stream.groupBy(tile.alias("tile")).agg(F.count("*").alias("cnt"))
            .writeStream.outputMode("complete").format("memory")
            .queryName(name).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        if not q.awaitTermination(150):
            q.stop()
            raise TimeoutError("lake_stream pass did not finish in 150 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        got: dict = {}
        for prog in q.recentProgress:
            row = (prog.observedMetrics or {}).get("chk")
            if row is not None:
                for k, v in row.asDict().items():
                    got[k] = got.get(k, 0) + (v or 0)
        return Pass(rows=got.get("rows", 0), observed={"node": got},
                    jobs_group=str(q.runId), sink=name,
                    progress=list(q.recentProgress))

    def check(self, spark, p: Pass) -> list[str]:
        bad = compare(self.expected, p.observed)
        total = spark.table(p.sink).agg(F.sum("cnt")).first()[0]
        spark.catalog.dropTempView(p.sink)
        if total != self.expected["node"]["rows"]:
            bad.append(f"grid total {total} != {self.expected['node']['rows']}")
        return bad + _check_written(spark, self.out, self.expected["node"],
                                    p.written)


class WriteNodes(Workload):
    name = "write_nodes"

    def prepare(self, spark) -> None:
        src = _reader(spark, self.manifest["files"][0]["path"], "node")
        self.df = src.repartition(self.nproc).localCheckpoint(eager=True)
        self.out = os.path.join(self.work_dir, "written")

    def run(self, spark, i: int) -> Pass:
        (self.df.write.format("osmpbf").option("path", self.out)
         .mode("overwrite").save())
        rows, size = _written(self.out)
        return Pass(rows=rows, written=rows, out_bytes=size)

    def check(self, spark, p: Pass) -> list[str]:
        return _check_written(spark, self.out, self.expected["node"],
                              p.written)


WORKLOADS = {w.name: w for w in (DenseScan, TaggedScan, LakeStream,
                                 WriteNodes)}
