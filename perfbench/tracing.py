"""Span tracer for the traced run (`--trace 1`).

`install()` wraps the public functions of the engine modules in `LAYERS`
(plus the server's request handler, `server._rows` and
`DataFrame.collect`), replacing every reference to them that the loaded
`hiero_spark` modules hold.  While `enabled` is set, each call records a
span with its op id, its parent span and its self time (duration minus
direct children).  While it is clear, a wrapper costs one flag test.

Spark job and task counts come from the DAG scheduler's job and stage id
counters and the status tracker, not from job groups: the server's
progressive streams set their own thread-local job group.
"""

from __future__ import annotations

import collections
import functools
import importlib
import inspect
import statistics
import sys
import threading
import time
from contextlib import contextmanager

LAYERS = {
    "session": "hiero_spark.session",
    "catalog": "hiero_spark.catalog",
    "sketches": "hiero_spark.operators.sketches",
    "pagination": "hiero_spark.operators.pagination",
    "progressive": "hiero_spark.progressive",
    "cachetrack": "hiero_spark.functions._cachetrack",
    "versioned": "hiero_spark.sources.versioned",
}

enabled = False
_lock = threading.Lock()
_tls = threading.local()
_op = "setup"  # one caller: ops never overlap, so the current op is global
_root: dict = {}  # op id -> first span opened in that op (children of other threads hang here)
_next_id = 0
_DataFrame = type(None)  # set by install()
spans: list[dict] = []
notes: dict[str, list] = collections.defaultdict(list)
op_counts: dict[str, dict] = {}
# children that close on another thread before their parent does
_pending_child: dict[int, float] = collections.defaultdict(float)


def _stack() -> list:
    st = getattr(_tls, "stack", None)
    if st is None:
        st = _tls.stack = []
    return st


def _open(layer: str, name: str, tag=None) -> dict:
    global _next_id
    st = _stack()
    with _lock:
        _next_id += 1
        sid = _next_id
        parent = st[-1]["id"] if st else _root.get(_op)
        if parent is None:
            _root[_op] = sid
    s = {"id": sid, "parent": parent, "op": _op, "layer": layer, "name": name,
         "tag": tag, "child_s": 0.0, "t0": time.perf_counter()}
    st.append(s)
    return s


def _close(s: dict) -> None:
    s["dur_s"] = time.perf_counter() - s.pop("t0")
    st = _stack()
    st.pop()
    s["self_s"] = max(0.0, s["dur_s"] - s["child_s"])
    with _lock:
        if st:
            st[-1]["child_s"] += s["dur_s"]
        elif s["parent"] is not None:
            for p in reversed(spans):
                if p["id"] == s["parent"]:
                    p["child_s"] += s["dur_s"]
                    break
            else:
                _pending_child[s["parent"]] += s["dur_s"]
        spans.append(s)
        if s["id"] in _pending_child:
            s["child_s"] += _pending_child.pop(s["id"])
            s["self_s"] = max(0.0, s["dur_s"] - s["child_s"])



@contextmanager
def span(layer: str, name: str, tag=None):
    if not enabled:
        yield
        return
    s = _open(layer, name, tag)
    try:
        yield
    finally:
        _close(s)


def note(name: str, value) -> None:
    """Record one observation of a per-op quantity (only while tracing)."""
    if enabled:
        notes[name].append((_op, value))


def _tag(out, label: str):
    # through __dict__: DataFrame.__getattr__ resolves columns via the JVM
    if isinstance(out, _DataFrame) and "_pb_tag" not in vars(out):
        vars(out)["_pb_tag"] = label
    return out


def _tag_of(obj):
    return getattr(obj, "__dict__", {}).get("_pb_tag")


def _wrap(layer: str, name: str, fn):
    if inspect.isgeneratorfunction(fn):
        @functools.wraps(fn)
        def gen(*a, **k):
            it = fn(*a, **k)
            if not enabled:
                yield from it
                return
            # one record per yielded tier: from the request for it to the
            # request for the next one, i.e. planning plus the consumer's work
            t_prev, n = time.perf_counter(), 0
            for item in it:
                yield item
                t = time.perf_counter()
                note(f"{layer}.tier", (n, t - t_prev))
                t_prev, n = t, n + 1
        return gen

    @functools.wraps(fn)
    def call(*a, **k):
        if not enabled:
            return fn(*a, **k)
        s = _open(layer, name)
        try:
            out = fn(*a, **k)
        finally:
            _close(s)
        return _tag(out, f"{layer}.{name}")
    return call


def _wrap_action(layer: str, name: str, fn, df_arg: int):
    @functools.wraps(fn)
    def call(*a, **k):
        if not enabled:
            return fn(*a, **k)
        s = _open(layer, name, _tag_of(a[df_arg]))
        try:
            return fn(*a, **k)
        finally:
            _close(s)
    return call


def install() -> None:
    """Wrap every public function of LAYERS, the HTTP handler and the Spark
    actions; idempotent per process."""
    global _DataFrame
    from pyspark.sql.classic.dataframe import DataFrame

    from hiero_spark import registry, server

    _DataFrame = DataFrame
    registry.all_queries()  # import every query module so its references get rewired
    swap = {}
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(modname)
        for name, fn in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                continue
            swap[id(fn)] = (fn, _wrap(layer, name, fn))
    swap[id(server._rows)] = (server._rows, _wrap_action("spark", "rows", server._rows, 0))
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("hiero_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            hit = swap.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
    server.HieroHandler.do_GET = _wrap_action(
        "server", "request", server.HieroHandler.do_GET, 0
    )
    DataFrame.collect = _wrap_action("spark", "collect", DataFrame.collect, 0)


def set_op(op_id: str) -> None:
    global _op
    _op = op_id


# ---------------------------------------------------------------------------
# Spark job / task accounting
# ---------------------------------------------------------------------------

def _dag(sc):
    return sc._jsc.sc().dagScheduler()


def job_marks(sc) -> tuple[int, int]:
    d = _dag(sc)
    return int(d.nextJobId()), int(d.nextStageId())


def count_jobs(sc, op_id: str, before: tuple[int, int]) -> None:
    """Jobs and completed tasks launched between `before` and now."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    j1, s1 = job_marks(sc)
    tracker = sc.statusTracker()
    tasks = 0
    for sid in range(before[1], s1):
        info = tracker.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
    op_counts[op_id] = {"jobs": j1 - before[0], "tasks": tasks}


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(ops: list[str]) -> dict[str, float]:
    """Per-layer metrics over the traced ops `ops` (plus the set-up spans
    for the session layer).  `*_s` are medians of one call (or of one op's
    total where the name says per op), counts are means per op."""
    opset = set(ops)
    in_ops = [s for s in spans if s["op"] in opset]
    layer_of = {s["id"]: s["layer"] for s in in_ops}

    def calls(layer, name=None, tag=None, field="dur_s"):
        return [s[field] for s in in_ops if s["layer"] == layer
                and (name is None or s["name"] == name)
                and (tag is None or s["tag"] == tag)]

    def per_op(pred) -> dict[str, float]:
        tot: dict[str, float] = collections.defaultdict(float)
        for s in in_ops:
            if pred(s):
                tot[s["op"]] += s["dur_s"]
        return tot

    def noted(name):
        return [v for op, v in notes[name] if op in opset]

    def count_per_op(layer, name):
        n = collections.Counter(s["op"] for s in in_ops if s["layer"] == layer and s["name"] == name)
        return _mean(n[o] for o in ops)

    tiers = noted("progressive.tier")
    commits = noted("versioned.files_written")
    page_ops = per_op(lambda s: s["tag"] == "pagination.next_k"
                      or (s["layer"] == "pagination" and s["name"] == "next_k"))
    collect_ops = per_op(lambda s: s["layer"] == "spark" and s["name"] == "collect")
    prog_ops = {op for op, _ in notes["progressive.tier"] if op in opset}
    counted = [op_counts[o] for o in ops if o in op_counts]
    return {
        "session.get_spark_s": _median(s["dur_s"] for s in spans
                                       if s["layer"] == "session" and s["name"] == "get_spark"),
        "server.self_s": _median(calls("server", "request", field="self_s")),
        "server.response_bytes": _median(noted("server.response_bytes")),
        "catalog.load_table_calls": count_per_op("catalog", "load_table"),
        "catalog.load_table_s": _median(calls("catalog", "load_table")),
        # outermost sketch builder calls only (not the helpers they call)
        "sketches.plan_s": _median(s["self_s"] for s in in_ops if s["layer"] == "sketches"
                                   and layer_of.get(s["parent"]) != "sketches"),
        "sketches.data_range_s": _median(calls("spark", "collect", tag="sketches.data_range")),
        "pagination.next_k_s": _median(page_ops.values()),
        "progressive.first_tier_s": _median(d for i, d in tiers if i == 0),
        "progressive.tier_s": _median(d for _, d in tiers),
        "progressive.tiers_per_op": len(tiers) / len(prog_ops) if prog_ops else 0.0,
        "spark.exec_s": _median(collect_ops.values()),
        "spark.jobs_per_op": _mean(c["jobs"] for c in counted),
        "spark.tasks_per_op": _mean(c["tasks"] for c in counted),
        "queries.build_s": _median(calls("queries", "build")),
        "queries.exec_s": _median(calls("queries", "exec")),
        "cachetrack.live_after_op": float(max(noted("cachetrack.live_after_op"), default=0)),
        "cachetrack.release_s": _median(calls("cachetrack", "release_caches")),
        "versioned.commit_s": _median(calls("versioned", "commit_version")),
        "versioned.files_written": _mean(commits),
        "versioned.read_version_s": _median(calls("versioned", "read_version")),
        "versioned.files_per_read": _mean(noted("versioned.files_per_read")),
    }
