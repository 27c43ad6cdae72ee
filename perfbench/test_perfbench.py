"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The smoke tests run the benchmark at ``--tiny`` size in a subprocess,
exactly as it is run for real, and check what it prints."""

import json
import os
import shutil
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import tail  # noqa: E402
from tracing import Tracer, self_times  # noqa: E402

WORKLOADS = ["scan_grid", "select_pruned", "ingest_append"]


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args, cwd=ROOT, script=None, timeout=600):
    cmd = [sys.executable]
    cmd += ["-c", script] if script else [os.path.join(HERE, "run.py")]
    return subprocess.run(
        cmd + args, cwd=cwd, capture_output=True, text=True,
        timeout=timeout,
    )


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    return lines, json.loads(lines[-1])


# -- pure helpers ---------------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_never_below_median():
    value, _pct, _n = tail([3.0, 1.0, 2.0, 4.0])
    assert value == 3.0


def test_self_time_subtracts_children():
    spans = [
        (1, 0, "root", 0.0, 10.0, 1),
        (2, 1, "child", 1.0, 4.0, 1),
        (3, 1, "child", 3.0, 6.0, 1),  # overlaps its sibling
        (4, 2, "leaf", 2.0, 3.0, 1),
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0)
    assert st["child"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert st["leaf"] == pytest.approx(1.0)


def test_tracer_is_thread_safe():
    tracer = Tracer()
    n_threads, per_thread = 8, 500
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work():
            for _ in range(per_thread):
                with tracer.span("outer"):
                    with tracer.span("inner"):
                        tracer.add("calls")

        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    total = n_threads * per_thread
    assert tracer.counts["calls"] == total
    assert len(tracer.spans) == 2 * total
    assert len({s[0] for s in tracer.spans}) == 2 * total
    by_id = {s[0]: s for s in tracer.spans}
    for sid, parent, name, t0, t1, tid in tracer.spans:
        if name == "inner":
            outer = by_id[parent]
            assert outer[2] == "outer" and outer[5] == tid
            assert outer[3] <= t0 <= t1 <= outer[4]


# -- the benchmark as it is run ------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_unit(workload, trace):
    spec = _spec()
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    lines, res = _result(_run([
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--tiny",
    ]))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        # the human-readable line names the metric and its unit too
        assert any(
            ln.split()[1:2] == [m["name"]] and f" {m['unit']}" in ln
            for ln in lines[:-1]
        ), m["name"]
    if not trace:
        for m in wanted:
            assert res["metrics"][m["name"]]["value"] > 0, m["name"]
        assert any(ln.split()[1:3] == ["op_fail_ratio", "0"]
                   for ln in lines[:-1])


WRONG_RESULT = """
import sys
sys.path.insert(0, {here!r})
import run, workloads

orig = workloads.ScanGrid.op

def op(self, i):
    o = orig(self, i)
    if i == 1:  # the program's answer to operation 1 comes back wrong
        good = o.run
        def bad(spark):
            row = good(spark)
            row["sum(v0)"] += 1.0
            return row
        o.run = bad
    return o

workloads.ScanGrid.op = op
sys.exit(run.main(sys.argv[1:]))
"""

WRONG_APPEND = """
import sys
sys.path.insert(0, {here!r})
import run, workloads

orig = workloads.IngestAppend.op

def op(self, i):
    if i == 0:  # append the wrong batch; write_zarr still reports its size
        saved = self.batch_start
        self.batch_start = lambda k: saved(k) + 1
        try:
            return orig(self, i)
        finally:
            del self.batch_start
    return orig(self, i)

workloads.IngestAppend.op = op
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload,script", [
    ("scan_grid", WRONG_RESULT),
    ("ingest_append", WRONG_APPEND),
])
def test_wrong_result_counts_as_failure(workload, script):
    lines, res = _result(_run(
        ["--workload", workload, "--seed", "3", "--seconds", "2",
         "--tiny"],
        script=script.format(here=HERE),
    ))
    assert res["attempted"] >= 2
    assert res["failed"] == 1
    assert res["correct"] is False
    ratio = 1 / res["attempted"]
    assert any(
        ln.split()[1] == "op_fail_ratio"
        and float(ln.split()[2]) == pytest.approx(ratio, rel=1e-4)
        for ln in lines[:-1]
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scan_grid",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
