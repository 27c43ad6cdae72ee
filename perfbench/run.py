#!/usr/bin/env python3
"""Layer-attributed benchmark of the Zarr DataSource.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload select_pruned --seed 1 --seconds 18 --trace 0

Workloads: ``scan_grid``, ``select_pruned``, ``ingest_append`` (see
``perfbench/README.md``). One closed-loop client drives the public
surface on ``local[<nproc>]``: each operation is sent only after the
previous one completed, and each result is checked against NumPy values
computed from the seeded inputs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop, replays every operation in-process under the layer wrappers of
``tracing.py`` and prints the per-layer metrics. Human-readable lines
come first; the last line of standard output is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--tiny`` shrinks every input for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: setup (store generation + warm-up) runs this many times per run;
#: ``setup_s`` reports the session start plus the median round
SETUP_ROUNDS = 3

#: operations run this long (at most ``--seconds``) after set-up and
#: before timing starts: they are checked but not timed, because
#: operation latency is still falling in the first seconds after set-up
WARMUP_S = 4.0

#: the JVM heap of the local-mode session: enough for these inputs,
#: small enough to share a machine
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["scan_grid", "select_pruned", "ingest_append"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs (the benchmark's own tests)")
    return p.parse_args(argv)


def tail(latencies):
    """(value, percentile, n): the latency at the highest percentile
    with at least 10 samples beyond it, never below the median."""
    xs = sorted(latencies)
    n = len(xs)
    rank = max(n - 10, math.ceil((n + 1) / 2))
    return xs[rank - 1], 100.0 * rank / n, n


def _isolate(workdir: str) -> None:
    """Keep every file the run writes (Spark's scratch space, the JVM's
    and Python's temporary files) inside ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def _meta_files(path: str) -> dict:
    """Metadata objects of a store (every ``zarr.json`` and statistics
    block) -> (inode, mtime, size), to see which ones a write replaced."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            if f == "zarr.json" or "__stats__" in full:
                st = os.stat(full)
                out[full] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _meta_bytes_written(before: dict, after: dict) -> int:
    return sum(
        sig[2] for key, sig in after.items() if before.get(key) != sig
    )


class Loop:
    """Closed-loop client: runs operations until the deadline."""

    def __init__(self, spark, workload, seconds: float):
        from sparkstats import WorkerMemory

        self.spark = spark
        self.wl = workload
        self.seconds = seconds
        self.latencies = []
        self.ok = []
        self.paused = 0.0
        self.first_timed = 0
        self.memory = WorkerMemory()

    def run_op(self, i: int):
        op = self.wl.op(i)
        t0 = time.perf_counter()
        try:
            result = op.run(self.spark)
            dt = time.perf_counter() - t0
            ok = self.wl.check(op, result)
            if not ok:
                print(f"operation {i} ({op.kind}): wrong result {result}",
                      file=sys.stderr)
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.latencies.append(dt)
        self.ok.append(ok)
        print(f"operation {i} {op.kind} {dt:.4f} s ok={ok}", file=sys.stderr)
        t1 = time.perf_counter()
        self.memory.sample()
        self.paused += time.perf_counter() - t1
        return op, dt, ok

    def run(self, step) -> dict:
        """Call ``step(i)`` for i = 0, 1, ...: untimed for the warm-up,
        then until ``seconds`` have passed; then run the post-run
        checks."""
        i = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < min(WARMUP_S, self.seconds):
            step(i)
            i += 1
        self.first_timed = i
        self.paused = 0.0
        t0 = time.perf_counter()
        while True:
            step(i)
            i += 1
            if time.perf_counter() - t0 >= self.seconds:
                break
        return self._finish(time.perf_counter() - t0)

    def timed_latencies(self):
        return self.latencies[self.first_timed:]

    def _finish(self, wall: float) -> dict:
        n = len(self.ok)
        for i in self.wl.verify(n):
            if self.ok[i]:
                print(f"operation {i}: read-back check failed",
                      file=sys.stderr)
                self.ok[i] = False
        rows = sum(
            self.wl.op(i).rows for i in range(self.first_timed, n)
            if self.ok[i]
        )
        return {
            "attempted": n,
            "failed": n - sum(self.ok),
            "rows": rows,
            "wall": wall - self.paused,
        }


def end_to_end(spark, wl, seconds, setup_s):
    loop = Loop(spark, wl, seconds)
    res = loop.run(loop.run_op)
    tail_s, tail_pct, n = tail(loop.timed_latencies())
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(loop.timed_latencies()), "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (res["rows"] / res["wall"], "rows/s"),
        "stored_bytes_per_user_byte": (
            wl.stored_bytes_per_user_byte(res["attempted"]), "ratio"),
        "worker_rss_peak_mb": (loop.memory.total_mb(), "MB"),
    }
    # printed with the metrics; not in BENCHMARK.json, whose end-to-end
    # metrics must never be 0 (the JSON line's "failed" carries it)
    metrics["op_fail_ratio"] = (res["failed"] / res["attempted"], "ratio")
    notes = {
        "op_tail_s": f"p{tail_pct:.1f} of n={n} timed operations",
        "worker_rss_peak_mb": f"{loop.memory.workers()} worker processes",
    }
    return res, metrics, notes


def traced(spark, wl, seconds):
    from replay import AppendReplay, check_read, replay_read
    from sparkstats import job_group_totals
    from tracing import PLAN_SPANS, Patches, Tracer, durations, self_times

    tracer = Tracer()
    patches = Patches(tracer)
    loop = Loop(spark, wl, seconds)
    sc = spark.sparkContext
    spark_tot = {}
    acc = dict(op_s=0.0, replay_s=0.0, traced_s=0.0, meta_bytes=0,
               write_s=0.0, cells_total=0, cells_kept=0, partitions=0,
               batches=0)
    appends = None
    if wl.name == "ingest_append":
        appends = AppendReplay(wl.path, os.path.join(wl.workdir, "replay"))

    def step(i):
        group = f"perfbench-op-{i}"
        sc.setJobGroup(group, group)
        before = _meta_files(wl.path) if appends else None
        op, op_s, ok = loop.run_op(i)
        for k, v in job_group_totals(spark, group).items():
            spark_tot[k] = spark_tot.get(k, 0) + v
        acc["op_s"] += op_s
        if appends is not None:
            acc["meta_bytes"] += _meta_bytes_written(
                before, _meta_files(wl.path))
            acc["write_s"] += op_s
            cols = wl.batch_columns(i)
            plain = appends.replay(cols)
            with patches:
                with_trace = appends.replay(cols, tracer)
            appends.commit(wl.sizes.ingest_batch)
        else:
            plain = sum(replay_read(q).wall_s for q in op.queries)
            with_trace = 0.0
            for q in op.queries:
                with patches:
                    rep = replay_read(q, tracer)
                with_trace += rep.wall_s
                if not check_read(q, rep):
                    print(f"operation {i}: replay returned a wrong result",
                          file=sys.stderr)
                    loop.ok[i] = False
                acc["cells_total"] += rep.cells_total
                acc["cells_kept"] += rep.cells_kept
                acc["partitions"] += rep.partitions
                acc["batches"] += len(rep.batches)
        acc["replay_s"] += plain
        acc["traced_s"] += with_trace

    res = loop.run(step)
    n = res["attempted"]
    spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{wl.name}-{wl.seed}.jsonl")
    tracer.dump(spans_path)
    self_s = self_times(tracer.spans)
    dur = durations(tracer.spans)
    c = tracer.counts

    def ratio(a, b):
        return a / b if b else 0.0

    layers = ["datasource", "filters", "table", "array", "codecs",
              "store", "io", "bench"]
    layer_self = {
        layer: sum(v for k, v in self_s.items() if k.split(".")[0] == layer)
        for layer in layers
    }
    engine_self = sum(v for k, v in layer_self.items() if k != "bench")
    boundary = acc["op_s"] - acc["replay_s"]
    m = {
        "datasource.plan_s": (sum(dur.get(k, 0) for k in PLAN_SPANS) / n, "s"),
        "datasource.partitions_n": (acc["partitions"] / n, "count"),
        "datasource.read_s": (dur.get("datasource.read", 0) / n, "s"),
        "datasource.read_self_s": (self_s.get("datasource.read", 0) / n, "s"),
        "datasource.batches_n": (acc["batches"] / n, "count"),
        "filters.cells_total": (acc["cells_total"] / n, "count"),
        "filters.cells_kept": (acc["cells_kept"] / n, "count"),
        "filters.prune_ratio": (
            1 - ratio(acc["cells_kept"], acc["cells_total"])
            if acc["cells_total"] else 0.0, "ratio"),
        "filters.mask_s": (dur.get("filters.mask", 0) / n, "s"),
        "filters.mask_useful_ratio": (
            ratio(c["filters.mask_useful_n"], c["filters.mask_n"]), "ratio"),
        "table.evaluate_n": (c["table.evaluate_n"] / n, "count"),
        "table.evaluate_self_s": (self_s.get("table.evaluate", 0) / n, "s"),
        "table.coord_reads_per_cell": (
            ratio(c["array.coord_read_chunk_n"], acc["cells_kept"]),
            "ratio"),
        "array.read_chunk_n": (c["array.read_chunk_n"] / n, "count"),
        "array.read_chunk_self_s": (
            self_s.get("array.read_chunk", 0) / n, "s"),
        "array.fill_chunks_n": (c["array.fill_chunks_n"] / n, "count"),
        "array.meta_load_s": (dur.get("array.meta_load", 0) / n, "s"),
        "codecs.decode_n": (c["codecs.decode_n"] / n, "count"),
        "codecs.decode_s": (dur.get("codecs.decode", 0) / n, "s"),
        "codecs.decode_mb_per_s": (
            ratio(c["codecs.decode_out_bytes"] / 1e6,
                  dur.get("codecs.decode", 0)), "MB/s"),
        "codecs.encode_n": (c["codecs.encode_n"] / n, "count"),
        "codecs.encode_s": (dur.get("codecs.encode", 0) / n, "s"),
        "codecs.compression_ratio": (
            ratio(c["codecs.decode_out_bytes"] + c["codecs.encode_in_bytes"],
                  c["codecs.decode_in_bytes"] + c["codecs.encode_out_bytes"]),
            "ratio"),
        "store.get_n": (c["store.get_n"] / n, "count"),
        "store.get_bytes": (c["store.get_bytes"] / n, "bytes"),
        "store.get_s": (dur.get("store.get", 0) / n, "s"),
        "store.set_n": (c["store.set_n"] / n, "count"),
        "store.set_bytes": (c["store.set_bytes"] / n, "bytes"),
        "store.set_s": (dur.get("store.set", 0) / n, "s"),
        "store.list_n": (c["store.list_n"] / n, "count"),
        "io.write_s": (acc["write_s"] / n, "s"),
        "io.meta_bytes_written": (acc["meta_bytes"] / n, "bytes"),
        "io.jobs_per_op": (
            spark_tot.get("jobs", 0) / n if appends else 0.0, "count"),
        "spark.jobs_n": (spark_tot.get("jobs", 0) / n, "count"),
        "spark.tasks_n": (spark_tot.get("tasks", 0) / n, "count"),
        "spark.executor_run_s": (spark_tot.get("run_s", 0) / n, "s"),
        "spark.executor_cpu_s": (spark_tot.get("cpu_s", 0) / n, "s"),
        "spark.gc_s": (spark_tot.get("gc_s", 0) / n, "s"),
        "spark.deserialize_s": (spark_tot.get("deserialize_s", 0) / n, "s"),
        "spark.boundary_s": (boundary / n, "s"),
        "trace.op_s": (acc["op_s"] / n, "s"),
        "trace.replay_s": (acc["replay_s"] / n, "s"),
        "trace.overhead_s": ((acc["traced_s"] - acc["replay_s"]) / n, "s"),
        "trace.unaccounted_s": (
            (acc["op_s"] - engine_self - boundary) / n, "s"),
    }
    for layer in layers:
        m[f"{layer}.self_s"] = (layer_self[layer] / n, "s")
    notes = {
        "bench.self_s": f"spans written to {spans_path}",
        "trace.unaccounted_s": (
            "operation wall minus (engine layer self times + "
            "spark.boundary_s); expect about bench.self_s minus "
            "trace.overhead_s"),
    }
    return res, m, notes


def bench(args, workdir: str):
    from arrow_zarr_spark import register
    from arrow_zarr_spark.session import get_spark
    from sparkstats import stop_spark
    from workloads import FULL, TINY, WORKLOADS

    sizes = TINY if args.tiny else FULL
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus)
    register(spark)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](
            args.seed, sizes, os.path.join(workdir, "stores"))
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            wl.setup(spark)
            wl.warmup(spark)
            rounds.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(rounds)
        if args.trace:
            res, metrics, notes = traced(spark, wl, args.seconds)
        else:
            res, metrics, notes = end_to_end(spark, wl, args.seconds, setup_s)
        notes["setup_s"] = (
            f"session start {session_s:.2f} s + median of "
            + ", ".join(f"{r:.2f}" for r in rounds) + " s")
    finally:
        stop_spark(spark)
    return res, metrics, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "arrow_zarr_spark", "__init__.py")):
        print(f"perfbench: no arrow_zarr_spark package under {ROOT}; run "
              "from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(work_root, str(os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    _isolate(workdir)
    try:
        res, metrics, notes = bench(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it
    for name, (value, unit) in sorted(metrics.items()):
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{args.workload:14s} {name:30s} {value:>16.6g} {unit}{note}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in metrics.items()
            if name != "op_fail_ratio"
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
