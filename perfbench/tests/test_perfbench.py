"""Self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

The first tests need no Spark. The rest run every workload at its tiny
size for one timed pass (about a minute each, mostly JVM start) and
check that each run prints every metric BENCHMARK.json names, with its
unit, and that a wrong expected checksum surfaces as a failed pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs
from perfbench.run import ROOT, pass_tail
from perfbench.trace import attribute_wall
from perfbench.workloads import WORKLOADS, compare

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.fixture
def scratch():
    d = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_tail_is_max_below_twenty_samples():
    assert pass_tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_tail_keeps_ten_samples_beyond():
    walls = [float(i) for i in range(1, 41)]
    value, pct, n = pass_tail(walls)
    assert (pct, n) == (75, 40)
    assert sum(w > value for w in walls) == 10


def _span(sid, name, t0, t1, parent=None):
    return {"id": sid, "name": name, "t0": t0, "t1": t1, "parent": parent}


def test_layer_shares_sum_to_pass_wall():
    spans = [
        _span("a", "plan.partitions", 0, 10),
        _span("b", "task.read", 20, 120),
        _span("c", "inflate", 30, 50, "b"),
        _span("d", "decode.node", 50, 90, "b"),
        _span("e", "transport", 100, 110, "b"),
        _span("f", "task.read", 60, 100),  # a second task, overlapping
    ]
    share = attribute_wall(spans, 0, 150)
    assert sum(share.values()) == pytest.approx(150 / 1e9)
    assert share["plan.s"] == pytest.approx(10 / 1e9)
    assert share["inflate.s"] == pytest.approx(20 / 1e9)
    # 60..90 is shared by decode and the second task's read
    assert share["decode.node.s"] == pytest.approx((10 + 15) / 1e9)
    assert share["spark.self_s"] == pytest.approx((10 + 30) / 1e9)


def test_compare_names_each_mismatch():
    want = {"node": {"rows": 3, "id_sum": 6}}
    assert compare(want, {"node": {"rows": 3, "id_sum": 6}}) == []
    bad = compare(want, {"node": {"rows": 3, "id_sum": 7}})
    assert bad == ["node.id_sum: expected 6, got 7"]
    assert compare(want, {}) == ["node: not observed"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_inputs_are_seeded_and_cached(scratch, workload):
    a = inputs.ensure(scratch, workload, "tiny", 5)
    b = inputs.ensure(scratch, workload, "tiny", 5)
    c = inputs.ensure(scratch, workload, "tiny", 6)
    assert not a["cached"] and b["cached"]
    # the entry belongs to the encoder and generator that wrote it
    assert a["dir"].endswith(f"-5-{inputs.code_version()}")
    assert a["expected"] == b["expected"] != c["expected"]
    assert all(os.path.getsize(f["path"]) == f["bytes"] for f in a["files"])


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_refuses_without_the_engine(scratch):
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(scratch, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    r = _run(scratch, "--workload", "dense_scan", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert r.returncode != 0
    assert "correct" not in r.stdout


def _one_pass(workload, trace, seed=3):
    """One timed pass after the run's set-up (``--seconds 0``): the result
    line and, when traced, every layer metric from the ``layers:`` line."""
    r = _run(ROOT, "--workload", workload, "--seed", str(seed),
             "--seconds", "0", "--trace", str(trace), "--size", "tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    layers = [json.loads(x.split(": ", 1)[1]) for x in lines
              if x.startswith("layers: ")]
    return json.loads(lines[-1]), layers[0] if layers else None


# the layer each workload exists to exercise must show up in its trace
EXERCISED = {
    "dense_scan": ("inflate.s", "decode.node.s", "arrow.s"),
    "tagged_scan": ("decode.way.s", "decode.relation.s", "arrow.s"),
    "lake_stream": ("plan.s", "stream.batches", "stream.add_batch_ms",
                    "sink.write_s", "encode.s", "out_bytes_per_row"),
    "write_nodes": ("sink.write_s", "encode.s", "encode.bytes_out",
                    "out_bytes_per_row"),
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_one_pass_prints_every_metric(workload, trace):
    out, layers = _one_pass(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    if trace:
        assert set(out["metrics"]) <= set(layers)
        for name in EXERCISED[workload]:
            assert layers[name]["value"] > 0, name
    else:
        for name, m in out["metrics"].items():
            assert m["value"] > 0, name


def test_wrong_expected_checksum_is_a_failed_op():
    doc = inputs.ensure(os.path.join(ROOT, ".perfbench_cache"),
                        "dense_scan", "tiny", 99)
    manifest = os.path.join(doc["dir"], "manifest.json")
    try:
        with open(manifest) as fh:
            raw = json.load(fh)
        raw["expected"]["node"]["id_sum"] += 1
        with open(manifest, "w") as fh:
            json.dump(raw, fh)
        out, _ = _one_pass("dense_scan", 0, seed=99)
    finally:
        shutil.rmtree(doc["dir"], ignore_errors=True)
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1
