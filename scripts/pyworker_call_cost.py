"""Fixed cost of a Spark Python worker call, measured in one session.

Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python worker call:
every executor task, and every ``schema`` / ``partitions`` / ``writer`` /
``commit`` call of a Python data source. On CPython 3.10-3.11 that call
re-reads the directory of each zip archive (pyspark.zip) the worker
imported from once per zipimporter, unless the engine's stat-keyed cache
(osmpbf_spark/_zipimport_cache.py) is installed. From one ``get_spark``
session this prints one JSON line:

- ``task_zip_reads`` / ``task_invalidate_ms``: the ``zipimport.
  _read_directory`` calls and the wall milliseconds of one
  ``importlib.invalidate_caches()`` made inside an executor task that
  imported the engine and made one such call first (one value per job);
- ``load_s`` / ``noop_read_s``: the median seconds, over ``--runs`` runs
  after ``--warmup`` more, of ``spark.read.format("osmpbf").load()`` on
  the fixture and of reading that one file into the ``noop`` sink.

The script uses only pyspark and the engine's public entry points, so a
copy of it runs unchanged in a checkout of an older commit.

Usage: python scripts/pyworker_call_cost.py [--runs 10] [--warmup 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
FIXTURE = os.path.join(_ROOT, "fixtures", "fixture.osm.pbf")


def _task_probe(batches):
    import importlib
    import time
    import zipimport

    import pyarrow as pa

    import osmpbf_spark  # noqa: F401

    for _ in batches:
        pass
    importlib.invalidate_caches()
    read, reads = zipimport._read_directory, []
    zipimport._read_directory = lambda a: reads.append(a) or read(a)
    try:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000
    finally:
        zipimport._read_directory = read
    yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "ms": [ms]})


def _median_s(fn, runs: int, warmup: int) -> float:
    times = []
    for i in range(warmup + runs):
        t0 = time.perf_counter()
        fn()
        if i >= warmup:
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--warmup", type=int, default=3)
    args = ap.parse_args()

    from osmpbf_spark.session import get_spark

    spark = get_spark("pyworker_call_cost")
    probes = [
        spark.range(1, numPartitions=1)
        .mapInArrow(_task_probe, "reads long, ms double")
        .collect()[0]
        for _ in range(args.warmup + args.runs)
    ][args.warmup:]

    def load():
        return spark.read.format("osmpbf").option("path", FIXTURE).load()

    def noop_read():
        load().write.format("noop").mode("overwrite").save()

    out = {
        "python": sys.version.split()[0],
        "task_zip_reads": [p.reads for p in probes],
        "task_invalidate_ms": round(statistics.median(p.ms for p in probes), 2),
        "load_s": round(_median_s(load, args.runs, args.warmup), 4),
        "noop_read_s": round(_median_s(noop_read, args.runs, args.warmup), 4),
        "runs": args.runs,
        "warmup": args.warmup,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
