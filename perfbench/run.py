#!/usr/bin/env python3
"""Benchmark entry point: run one workload, check every output, print metrics.

    python3 perfbench/run.py --workload browse|batch --seed N \\
        --seconds S --trace 0|1

Run it from the root of a checkout.  It generates the seeded input tables
into a temp dir inside the checkout, computes the expected answers outside
any timed window, and then launches SETUP_SAMPLES cold worker processes
together.  Each one imports the engine, builds its SparkSession (and
server) and runs the workload's first op; the time from its launch to that
first correct result is one set-up sample (cold start is latency-bound
here: three together take about as long as one alone).  All but one stop
there.  The last one waits until the others have exited, finishes the
first pass of the workload's op sequence (plus WARMUP_PASSES whole passes)
as warm-up, and then repeats whole passes for at least `--seconds`.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`).  A readable report goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT  # import the engine and this package from the checkout

SETUP_SAMPLES = 3
# Untimed warm-up: the rest of the set-up op's pass plus this many whole
# passes, until the per-pass time has levelled off (see perfbench/README.md).
WARMUP_PASSES = {"browse": 1, "batch": 0}
# at least two passes, so every op is timed twice and the drift check has
# comparable ops in its first and last quarter; traced runs alternate
# traced and untraced passes
MIN_PASSES = 2
TRACE_MIN_PASSES = 4
# Deployment: the same on every commit.  The engine's default driver heap
# (16g) does not fit a 16 GB machine; 2g holds these tables many times over.
DEPLOY_ENV = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "2g", "TZ": "UTC"}
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}
DEADLINE_S = 170.0
MARK = "@@perfbench "

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "first_result_p50_s": "s",
    "result_p50_s": "s",
}
PER_LAYER_UNITS = {
    "server.response_bytes": "bytes",
    "catalog.load_table_calls": "count",
    "progressive.tiers_per_op": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "cachetrack.live_after_op": "count",
    "versioned.files_written": "count",
    "versioned.files_per_read": "count",
    "trace.overhead_share": "ratio",
    "window.drift_ratio": "ratio",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# worker process: set up, warm up, measure
# ---------------------------------------------------------------------------

def _emit(kind: str, payload: dict) -> None:
    sys.stdout.write(MARK + json.dumps({"kind": kind, **payload}) + "\n")
    sys.stdout.flush()


def _per_op(records: list[dict], field: str) -> dict[int, float]:
    """Median of `field` for each op of the pass (by its position)."""
    by_pos: dict[int, list[float]] = {}
    for r in records:
        by_pos.setdefault(r["pos"], []).append(r[field])
    return {pos: statistics.median(v) for pos, v in by_pos.items()}


def _typical(records: list[dict], field: str) -> float:
    """Geometric mean over the pass's read ops of each op's median: every op
    weighs the same, so the figure does not jump between clusters of cheap
    and expensive ops the way a median over all of them can."""
    med = _per_op([r for r in records if not r["write"]], field)
    return statistics.geometric_mean(med.values())


def _drift(records: list[dict]) -> float:
    """Median latency of the window's last quarter over its first quarter,
    each op's latency first divided by that op's median."""
    med = _per_op(records, "total_s")
    rel = [r["total_s"] / med[r["pos"]] for r in records]
    q = max(1, len(rel) // 4)
    return statistics.median(rel[-q:]) / statistics.median(rel[:q])


def worker(args) -> int:
    with open(os.path.join(args.work, "inputs.pkl"), "rb") as fh:
        inputs = pickle.load(fh)
    from perfbench import tracing as trace, workloads

    if args.trace:
        trace.install()
        trace.enabled = True  # the set-up spans (get_spark) are traced too
    from hiero_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload](args.seed, inputs["data"])
    spark = get_spark(**SPARK_CONF)
    sc = spark.sparkContext
    wl.start(spark, inputs["expected"])
    ops = wl.pass_ops()
    attempted = failed = 0
    seq = 0

    def run(op, traced=False):
        nonlocal attempted, failed, seq
        seq += 1
        op_id = f"{seq}:{op.key}"
        if traced:
            trace.set_op(op_id)
            marks = trace.job_marks(sc)
            trace.enabled = True
        r = wl.run(op)
        if traced:
            trace.enabled = False
            trace.count_jobs(sc, op_id, marks)
        attempted += 1
        if not r.ok:
            failed += 1
            _log(f"perfbench: FAILED {r.detail}")
        return op_id, r

    try:
        _, first = run(ops[0])
        trace.enabled = False
        if not first.ok:
            return 3
        _emit("ready", {})
        if args.child == "probe":
            return 0
        # the parent's go: the set-up probes have exited, so the warm-up's
        # JIT compilation does not compete with them for the CPU
        sys.stdin.readline()
        for op in ops[1:] + ops * WARMUP_PASSES[args.workload]:
            run(op)

        records, passes = [], []
        t_start = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            op_ids, op_s = [], 0.0
            for pos, op in enumerate(ops):
                op_id, r = run(op, traced)
                op_ids.append(op_id)
                op_s += r.total_s
                if not traced:
                    records.append({"pos": pos, "write": r.write,
                                    "first_s": r.first_s, "total_s": r.total_s})
            passes.append({"traced": traced, "op_s": op_s, "ops": op_ids})
            done = time.perf_counter() - t_start >= args.seconds
            if done and len(passes) >= (TRACE_MIN_PASSES if args.trace else MIN_PASSES):
                break

        plain = [p["op_s"] for p in passes if not p["traced"]]
        out = {
            "attempted": attempted,
            "failed": failed,
            "passes": len(passes),
            "window_s": time.perf_counter() - t_start,
            "drift": _drift(records),
            "pass_s": plain,
            "op_p50_s": {f"{pos}:{ops[pos].key}": round(v, 4)
                         for pos, v in _per_op(records, "total_s").items()},
            "metrics": {
                "ops_per_s": len(records) / sum(r["total_s"] for r in records),
                "first_result_p50_s": _typical(records, "first_s"),
                "result_p50_s": _typical(records, "total_s"),
            },
        }
        if args.trace:
            traced_ops = [o for p in passes if p["traced"] for o in p["ops"]]
            layer = trace.layer_metrics(traced_ops)
            tp = [p["op_s"] for p in passes if p["traced"]]
            layer["trace.overhead_share"] = statistics.median(tp) / statistics.median(plain) - 1
            layer["window.drift_ratio"] = out["drift"]
            out["layer"] = layer
        _emit("result", out)
        return 0
    finally:
        wl.stop()
        _stop_spark(spark)


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# parent process: inputs, set-up samples, report
# ---------------------------------------------------------------------------

class _Worker:
    """A worker process whose marked stdout lines arrive on a queue; its
    other output is passed on to stderr."""

    def __init__(self, cmd: list[str], env: dict, cwd: str):
        self.t0 = time.perf_counter()
        self.ready_s = None
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env, cwd=cwd,
            text=True, start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(MARK):
                msg = json.loads(line[len(MARK):])
                if msg["kind"] == "ready":
                    self.ready_s = time.perf_counter() - self.t0
                self.lines.put(msg)
            else:
                sys.stderr.write(line)
        self.lines.put(None)

    def expect(self, kind: str, deadline: float) -> dict:
        msg = self.lines.get(timeout=max(0.1, deadline - time.perf_counter()))
        if msg is None or msg["kind"] != kind:
            raise RuntimeError(f"worker ended before '{kind}' (exit {self.proc.wait()})")
        return msg

    def reap(self, deadline: float) -> int:
        try:
            code = self.proc.wait(timeout=max(0.1, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            code = None
        try:  # anything the worker left behind (its JVM) goes with it
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if code is None:
            self.proc.wait()
        self.reader.join(timeout=10)
        return self.proc.returncode


def _worker_cmd(args, role: str, work: str) -> list[str]:
    return [sys.executable, os.path.abspath(__file__), "--child", role,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]


def parent(args) -> int:
    t_begin = time.perf_counter()
    deadline = t_begin + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "hiero_spark", "session.py")):
        _log(f"perfbench: no engine sources (hiero_spark/) under {ROOT}")
        return 2
    from perfbench import datagen, workloads

    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    workers: list[_Worker] = []
    try:
        data = datagen.generate(os.path.join(work, "data"), args.seed, workloads.INGEST_COMMITS)
        wl = workloads.WORKLOADS[args.workload](args.seed, data)
        with open(os.path.join(work, "inputs.pkl"), "wb") as fh:
            pickle.dump({"data": data, "expected": wl.expectations()}, fh)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_TABLE_CACHE"}
        env.update(DEPLOY_ENV, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        _log(f"perfbench: {args.workload} seed={args.seed} inputs ready in "
             f"{time.perf_counter() - t_begin:.1f}s; deployment {DEPLOY_ENV}")

        for i in range(SETUP_SAMPLES):
            role = "probe" if i else "measure"
            workers.append(_Worker(_worker_cmd(args, role, work), env, work))
        setup = []
        for w in workers:
            w.expect("ready", deadline)
            setup.append(w.ready_s)
        if any(w.reap(deadline) != 0 for w in workers[1:]):
            raise RuntimeError("set-up probe failed")
        measure = workers[0]
        measure.proc.stdin.write("go\n")
        measure.proc.stdin.flush()
        res = measure.expect("result", deadline)
        if measure.reap(deadline) != 0:
            raise RuntimeError("worker failed")
    except (RuntimeError, queue.Empty) as e:
        _log(f"perfbench: {args.workload} failed: {e or 'deadline passed'}")
        return 1
    finally:
        for w in workers:
            w.reap(time.perf_counter() + 10)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass

    attempted, failed = res["attempted"] + SETUP_SAMPLES - 1, res["failed"]
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS.get(k, "s")}
                   for k, v in res["layer"].items()}
    else:
        values = {"setup_s": statistics.median(setup), **res["metrics"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    _log(
        f"perfbench: {args.workload} passes={res['passes']} window={res['window_s']:.1f}s "
        f"setup={[round(s, 2) for s in setup]} pass_s={[round(s, 2) for s in res['pass_s']]} "
        f"drift={res['drift']:.3f} failed_share={failed / attempted:.4f} "
        f"total={time.perf_counter() - t_begin:.1f}s op_p50_s={json.dumps(res['op_p50_s'])}"
    )
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("browse", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", choices=("probe", "measure"), help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args()
    return worker(args) if args.child else parent(args)


if __name__ == "__main__":
    sys.exit(main())
