"""PBF ingest benchmark: one workload per invocation.

    python3 perfbench/run.py --workload dense_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The lines before it describe the inputs and the host
regime. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "rows_per_s": "1/s",
    "pass_s_p50": "s",
    "pass_s_tail": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "plan.s": "s", "plan.files": "count", "plan.blocks": "count",
    "plan.partitions": "count",
    "inflate.s": "s", "inflate.bytes_in": "bytes", "inflate.bytes_out": "bytes",
    "decode.node.s": "s", "decode.way.s": "s", "decode.relation.s": "s",
    "decode.rows": "count",
    "arrow.s": "s", "arrow.batches": "count", "arrow.bytes": "bytes",
    "transport.s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "task.read_s": "s",
    "task.max_share": "fraction", "spark.self_s": "s",
    "stream.batches": "count", "stream.trigger_ms": "ms",
    "stream.planning_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "sink.write_s": "s", "sink.commit_s": "s", "encode.s": "s",
    "encode.bytes_out": "bytes", "out_bytes_per_row": "bytes",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}

# Layers only tagged_scan exercises. BENCHMARK.json does not list that
# workload, so they go on the ``layers:`` line and not in the result line.
UNLISTED_LAYERS = ("decode.way.s", "decode.relation.s")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pass_tail(walls: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples): the highest nearest-rank percentile
    with at least ten samples above it. With fewer than 20 samples that
    percentile would sit below the median, so the maximum (p100) is given
    instead."""
    xs = sorted(walls)
    n = len(xs)
    if n < 20:
        return xs[-1], 100, n
    p = math.floor(100 * (n - 10) / n)
    return xs[math.ceil(p * n / 100) - 1], p, n


def _setup_env(work: str) -> None:
    """Keep Spark's scratch files inside the checkout and make the engine
    and this package importable in Spark's Python workers."""
    for d in ("spark-local", "tmp", "trace"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # the launcher JVM that spark-submit starts first takes its own options
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp "
        "-XX:-UsePerfData' pyspark-shell"
    )
    os.environ["PERFBENCH_TRACE_DIR"] = os.path.join(work, "trace")


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started to end."""
    from pyspark import SparkContext

    from perfbench import host

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        rest = [p for p in host.process_tree() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.2)


def _jobs_and_tasks(sc, groups: list[str]) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def _stream_layers(progress: list) -> dict:
    out = {"stream.batches": 0, "stream.trigger_ms": 0.0,
           "stream.planning_ms": 0.0, "stream.add_batch_ms": 0.0,
           "stream.commit_ms": 0.0}
    for prog in progress:
        d = prog.durationMs or {}
        out["stream.batches"] += 1
        out["stream.trigger_ms"] += d.get("triggerExecution", 0)
        out["stream.planning_ms"] += d.get("queryPlanning", 0)
        out["stream.add_batch_ms"] += d.get("addBatch", 0)
        out["stream.commit_ms"] += d.get("walCommit", 0) + d.get(
            "commitOffsets", 0)
    return out


def _layers(spans: list[dict], t0: int, t1: int) -> dict:
    """Per-layer metrics of one traced pass from the spans inside it."""
    from perfbench.trace import attribute_wall

    inside = [s for s in spans if t0 <= s["t0"] and s["t1"] <= t1]
    out = attribute_wall(inside, t0, t1)

    def total(name, key):
        return sum(s.get(key, 0) for s in inside if s["name"] == name)

    plans = [s for s in inside
             if s["name"] in ("plan.partitions", "plan.stream.partitions")]
    out["plan.files"] = sum(s.get("files", 0) for s in plans)
    out["plan.blocks"] = sum(s.get("blocks", 0) for s in plans)
    out["plan.partitions"] = sum(s.get("partitions", 0) for s in plans)
    out["inflate.bytes_in"] = total("inflate", "bytes_in")
    out["inflate.bytes_out"] = total("inflate", "bytes_out")
    out["decode.rows"] = sum(s.get("rows", 0) for s in inside
                             if s["name"].startswith("decode."))
    out["arrow.batches"] = total("task.read", "batches")
    out["arrow.bytes"] = total("task.read", "bytes")
    reads = [(s["t1"] - s["t0"]) / 1e9 for s in inside
             if s["name"] == "task.read"]
    out["task.read_s"] = sum(reads)
    out["task.max_share"] = max(reads) / sum(reads) if reads else 0.0
    out["encode.bytes_out"] = total("encode", "bytes_out")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "osmpbf_spark")):
        log(f"no osmpbf_spark package under {ROOT}: nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _setup_env(work)
    try:
        return _run(args, work, host, inputs, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, host, inputs, workload_cls) -> int:
    from osmpbf_spark.session import get_spark

    nproc = host.nproc()
    regime = {"nproc": nproc, "loadavg_before": host.loadavg(),
              "cpu_probe_start_s": host.cpu_probe()}
    manifest = inputs.ensure(os.path.join(ROOT, ".perfbench_cache"),
                             args.workload, args.size, args.seed)
    rows = {p: e["rows"] for p, e in manifest["expected"].items()}
    in_bytes = sum(f["bytes"] for f in manifest["files"])
    print("inputs: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "reserved_seed": args.seed == inputs.RESERVED_SEED,
        "files": len(manifest["files"]), "bytes": in_bytes,
        "blocks": sum(f["blocks"] for f in manifest["files"]),
        "rows": rows, "cached": manifest["cached"],
        "generate_s": round(manifest["generate_s"], 3)}), flush=True)
    wl = workload_cls(manifest, os.path.join(work, "out"), nproc)
    os.makedirs(wl.work_dir, exist_ok=True)

    attempted = failed = 0
    seq = 0

    def one_pass(spark, timed: list | None):
        """Run, time and check one pass; append its record to ``timed``."""
        nonlocal attempted, failed, seq
        seq += 1
        group = f"perfbench-{seq}"
        spark.sparkContext.setJobGroup(group, f"perfbench pass {seq}")
        attempted += 1
        cpu = host.CpuWindow()
        cpu.start()
        rss.take()
        t0_ns = time.monotonic_ns()
        t0 = time.perf_counter()
        try:
            p = wl.run(spark, seq)
            wall = time.perf_counter() - t0
            t1_ns = time.monotonic_ns()
            cotenant = cpu.stop()
            peak = rss.take()
            bad = wl.check(spark, p)
        except Exception as exc:  # noqa: BLE001 - a failed pass is counted
            log(f"pass {seq} failed: {exc!r}")
            failed += 1
            return None
        if bad:
            log(f"pass {seq} wrong result: {'; '.join(bad)}")
            failed += 1
            return None
        rec = {"wall": wall, "rows": p.rows, "written": p.written,
               "out_bytes": p.out_bytes, "cotenant": cotenant, "peak": peak,
               "t0": t0_ns, "t1": t1_ns, "progress": p.progress,
               # a stream's micro-batches run under its own job group
               "groups": [group] + ([p.jobs_group] if p.jobs_group else [])}
        if timed is not None:
            timed.append(rec)
        return rec

    def window(spark, seconds: float) -> list[dict]:
        """Timed passes until their walls reach ``seconds`` (at least one).
        A failed pass ends the window; it is counted in ``failed``."""
        recs: list[dict] = []
        spent = 0.0
        with rss:
            while spent < seconds or not recs:
                rec = one_pass(spark, recs)
                if rec is None:
                    break
                spent += rec["wall"]
        return recs

    spark = None
    traced: list[dict] = []
    # a traced run splits its window: untraced passes, then traced ones
    share = args.seconds / 2 if args.trace else args.seconds
    rss = host.RssSampler()
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl.prepare(spark)
        t2 = time.perf_counter()
        one_pass(spark, None)  # warm-up
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.2f}s: session {t1 - t0:.2f}s, prepare "
            f"{t2 - t1:.2f}s, warm-up pass {t0 + setup_s - t2:.2f}s")
        plain = window(spark, share)
        if args.trace:
            from perfbench.trace import TracedOsmPbfDataSource

            spark.dataSource.register(TracedOsmPbfDataSource)
            one_pass(spark, None)  # warm the traced classes in workers
            traced = window(spark, share)
        metrics, layers = _metrics(args, spark, plain, traced, setup_s, work)
    finally:
        _stop_spark(spark)

    timed = traced or plain
    regime.update(
        loadavg_after=host.loadavg(), cpu_probe_end_s=host.cpu_probe(),
        cotenant_cpu_frac=[round(r["cotenant"], 4) for r in timed],
    )
    walls = [r["wall"] for r in plain]
    tail, pct, n = pass_tail(walls) if walls else (0.0, 100, 0)
    written = [r for r in plain if r["written"]]
    print("regime: " + json.dumps(regime), flush=True)
    print("summary: " + json.dumps({
        "passes": len(plain), "traced_passes": len(traced),
        "pass_s": [round(w, 4) for w in walls],
        "pass_s_tail": {"percentile": pct, "samples": n, "value": tail},
        "setup_s": round(setup_s, 3),
        "failed_ops_frac": failed / attempted if attempted else 1.0,
        "out_bytes_per_row": written[-1]["out_bytes"]
        / written[-1]["written"]
        if written else None,
    }), flush=True)
    if layers:
        print("layers: " + json.dumps(layers), flush=True)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _metrics(args, spark, plain, traced, setup_s, work):
    """(result-line metrics, every layer metric or None). The traced passes
    follow the untraced ones ``plain`` in the same session."""
    def med(xs):
        return statistics.median(xs) if xs else 0.0

    if not args.trace:
        walls = [r["wall"] for r in plain]
        vals = {
            "rows_per_s": med([r["rows"] / r["wall"] for r in plain]),
            "pass_s_p50": med(walls),
            "pass_s_tail": pass_tail(walls)[0] if walls else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": med([r["peak"] for r in plain]) / (1 << 20),
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]}
                for k, v in vals.items()}, None

    from perfbench.trace import load_spans

    spans = load_spans(os.path.join(work, "trace"))
    per_pass = []
    for r in traced:
        m = {k: 0.0 for k in LAYER_UNITS}
        m.update(_layers(spans, r["t0"], r["t1"]))
        m["spark.jobs"], m["spark.tasks"] = _jobs_and_tasks(
            spark.sparkContext, r["groups"])
        m.update(_stream_layers(r["progress"]))
        m["trace.pass_s"] = r["wall"]
        if r["written"]:
            m["out_bytes_per_row"] = r["out_bytes"] / r["written"]
        per_pass.append(m)
        account = sum(v for k, v in m.items() if k.endswith(".s") or k in (
            "sink.write_s", "sink.commit_s", "spark.self_s"))
        log(f"traced pass {r['wall']:.3f}s: layer self times + spark.self_s "
            f"= {account:.3f}s")
    vals = {k: med([m[k] for m in per_pass]) for k in LAYER_UNITS}
    vals["trace.overhead_s"] = vals["trace.pass_s"] - med(
        [r["wall"] for r in plain])
    layers = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in vals.items()}
    listed = {k: v for k, v in layers.items() if k not in UNLISTED_LAYERS}
    return listed, layers


if __name__ == "__main__":
    sys.exit(main())
