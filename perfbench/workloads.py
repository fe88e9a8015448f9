"""The benchmark workloads: browse and batch (with its ingest episode).

Each workload is one closed loop with a single caller.  A run repeats the
same seeded pass of ops; `pass_ops()` returns it and `run(op)` executes one
op, times it and checks its output against an answer computed outside the
timed window (`expectations()`, with DuckDB or numpy over the same parquet).
A failed check or a raised error makes the op count as failed.
"""

from __future__ import annotations

import collections
import datetime
import decimal
import http.client
import json
import math
import os
import shutil
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import tracing as trace


@dataclass
class Op:
    kind: str  # op family, e.g. "page", "sketch/histogram", "q3_shipping_priority"
    key: str  # unique within the pass; names the expected answer
    params: dict = field(default_factory=dict)
    write: bool = False


@dataclass
class OpResult:
    first_s: float  # time to the first result (first streamed line, or whole result)
    total_s: float  # time to the complete result
    ok: bool
    write: bool
    detail: str = ""


def _now() -> float:
    return time.perf_counter()


# --------------------------------------------------------------------------
# value normalisation shared by the checks
# --------------------------------------------------------------------------

def canon(v):
    """Order-free, engine-neutral form of one value: numbers compare by value
    to 10 significant digits, timestamps by ISO text, nested rows as tuples."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return float(f"{f:.10g}") if math.isfinite(f) else str(f)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple((k, canon(v[k])) for k in sorted(v))
    if isinstance(v, (list, tuple, np.ndarray)):  # Spark Rows are tuples
        return tuple(canon(x) for x in v)
    return str(v)


def _multiset(columns: list[str], rows) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    )
    return tuple(columns[i] for i in order), tuple(body)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


# --------------------------------------------------------------------------
# numpy reference sketches (same arithmetic as operators.sketches.bucket)
# --------------------------------------------------------------------------

def _buckets(x: np.ndarray, lo: float, hi: float, n: int) -> np.ndarray:
    idx = np.floor((x - lo) / (hi - lo) * n)
    return np.clip(idx, 0, n - 1).astype(np.int64)


def _histogram(x: np.ndarray, n: int, lo=None, hi=None):
    if lo is None:
        lo, hi = float(x.min()), float(x.max())
        if lo == hi:
            hi = lo + 1.0
    b, c = np.unique(_buckets(x, lo, hi, n), return_counts=True)
    return [(int(i), int(k)) for i, k in zip(b, c)]


def _heavy_hitters(cols: list[np.ndarray], k: int):
    counts = collections.Counter(zip(*[c.tolist() for c in cols]))
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(key, cnt) for key, cnt in top]


def _column(table, name: str) -> np.ndarray:
    return table.column(name).to_numpy(zero_copy_only=False)


# --------------------------------------------------------------------------
# browse
# --------------------------------------------------------------------------

class Browse:
    """One analyst browsing lineitem and orders through the HTTP facade
    (`hiero_spark.server.serve`, loopback, one client).

    Why this workload: the same two tables are re-sketched many times
    (high work sharing), so it exercises the server, catalog, sketches,
    pagination and progressive layers and barely touches `functions`.
    The pass scrolls two page chains that follow `next_after`, runs the
    histogram / heavy-hitter / quantile / cdf sketches, a brushed
    (fcol/flo/fhi) histogram, and progressive histograms and heatmaps in
    both prefix and merge modes.
    """

    name = "browse"

    # The op sequence is fixed; only the data comes from the seed, so every
    # seed does the same amount of work.
    PLAN = [
        ("page", "p1", {"table": "lineitem", "order": "l_orderkey,l_linenumber", "k": 50,
                        "start": {"l_orderkey": 7000, "l_linenumber": 1}}),
        ("sketch/histogram", "h1", {"table": "lineitem", "col": "l_extendedprice", "buckets": 25}),
        ("page", "p1", None),
        ("progressive/histogram", "ph1", {"table": "lineitem", "col": "l_extendedprice",
                                          "buckets": 30, "tiers": 4, "mode": "prefix",
                                          "key": "l_orderkey"}),
        ("sketch/heavy_hitters", "hh1", {"table": "lineitem", "cols": "l_returnflag,l_linestatus",
                                         "k": 4}),
        ("page", "p2", {"table": "orders", "order": "-o_totalprice,o_orderkey", "k": 50,
                        "start": None}),
        ("sketch/histogram", "h2", {"table": "lineitem", "col": "l_extendedprice", "buckets": 20,
                                    "fcol": "l_quantity", "flo": 10, "fhi": 25}),
        ("progressive/heatmap", "pm1", {"table": "lineitem", "xcol": "l_quantity",
                                        "ycol": "l_discount", "xbuckets": 10, "ybuckets": 11,
                                        "tiers": 4, "mode": "prefix", "key": "l_orderkey"}),
        ("sketch/quantiles", "qt", {"table": "lineitem", "col": "l_quantity",
                                    "probs": "0.1,0.5,0.9"}),
        ("page", "p1", None),
        ("progressive/histogram", "ph2", {"table": "orders", "col": "o_totalprice",
                                          "buckets": 20, "tiers": 2, "mode": "merge",
                                          "key": "o_orderkey"}),
        ("sketch/cdf", "cdf", {"table": "orders", "col": "o_totalprice", "buckets": 40}),
        ("page", "p2", None),
        ("sketch/heavy_hitters", "hh2", {"table": "orders", "cols": "o_orderpriority,o_orderstatus",
                                         "k": 6}),
        ("progressive/heatmap", "pm2", {"table": "orders", "xcol": "o_totalprice",
                                        "ycol": "o_custkey", "xbuckets": 12, "ybuckets": 12,
                                        "tiers": 2, "mode": "merge", "key": "o_orderkey"}),
    ]

    def __init__(self, seed: int, data: dict):
        self.sf_dir = data["sf_dir"]
        self.chains = {k: p for kind, k, p in self.PLAN if kind == "page" and p}
        self.expected: dict = {}
        self.srv = None
        self._after: dict = {}

    # -- answers ------------------------------------------------------------
    def _table(self, name: str):
        return pq.read_table(os.path.join(self.sf_dir, f"{name}.parquet"))

    def expectations(self) -> dict:
        import duckdb

        tables = {n: self._table(n) for n in ("lineitem", "orders")}
        exp = {}
        for kind, key, p in self.PLAN:
            if p is None:
                continue
            t = tables[p["table"]]
            if kind == "sketch/histogram":
                x = _column(t, p["col"])
                if "fcol" in p:
                    f = _column(t, p["fcol"]).astype(np.float64)
                    x = x[(f >= float(p["flo"])) & (f < float(p["fhi"]))]
                exp[key] = {"buckets": _histogram(x, p["buckets"]), "n": int(len(x))}
            elif kind == "sketch/heavy_hitters":
                cols = p["cols"].split(",")
                exp[key] = _heavy_hitters([_column(t, c) for c in cols], p["k"])
            elif kind == "sketch/quantiles":
                x = np.sort(_column(t, p["col"]))
                exp[key] = {f"q{int(float(q) * 100)}": float(np.quantile(x, float(q)))
                            for q in p["probs"].split(",")}
            elif kind == "sketch/cdf":
                x = _column(t, p["col"])
                lo, hi = float(x.min()), float(x.max())
                h = _histogram(x, p["buckets"], lo, hi)
                cum = np.cumsum([c for _, c in h]).tolist()
                exp[key] = {"lo": lo, "hi": hi,
                            "rows": [(b, int(c)) for (b, _), c in zip(h, cum)]}
            elif kind == "progressive/histogram":
                x = _column(t, p["col"])
                exp[key] = {"rows": _histogram(x, p["buckets"], float(x.min()), float(x.max())),
                            "n": int(len(x))}
            elif kind == "progressive/heatmap":
                x, y = _column(t, p["xcol"]), _column(t, p["ycol"])
                bx = _buckets(x, float(x.min()), float(x.max()), p["xbuckets"])
                by = _buckets(y, float(y.min()), float(y.max()), p["ybuckets"])
                cells = collections.Counter(zip(bx.tolist(), by.tolist()))
                exp[key] = {"rows": sorted(cells.items()), "n": int(len(x))}
        # page chains: the exact NextK answer for every step a correct
        # server's next_after tokens lead to
        con = duckdb.connect()
        steps = collections.Counter(k for kind, k, _ in self.PLAN if kind == "page")
        for key, p in self.chains.items():
            path = os.path.join(self.sf_dir, f"{p['table']}.parquet")
            after = p["start"]
            for _ in range(steps[key]):
                rows = _next_k(con, path, p["order"], p["k"], after)
                exp[("page", self._page_url(p, after))] = rows
                cols = [c.lstrip("-") for c in p["order"].split(",")]
                after = {c: rows[-1][c] for c in cols}
        con.close()
        return exp

    # -- serving ------------------------------------------------------------
    def start(self, spark, expected: dict) -> None:
        from hiero_spark import server

        self.expected = expected
        self.srv = server.serve(spark, self.sf_dir)
        threading.Thread(target=self.srv.serve_forever, daemon=True).start()
        self.port = self.srv.server_address[1]

    def stop(self) -> None:
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()

    def pass_ops(self) -> list[Op]:
        return [Op(kind, key, p or {}) for kind, key, p in self.PLAN]

    @staticmethod
    def _page_url(p: dict, after) -> str:
        q = {"order": p["order"], "k": p["k"]}
        if after is not None:
            q["after"] = json.dumps(after)
        return f"/api/page/{p['table']}?" + urllib.parse.urlencode(q)

    def _url(self, op: Op) -> str:
        if op.kind == "page":
            p = self.chains[op.key]
            # the step that carries the chain's params starts it over; the
            # others follow the previous page's next_after
            after = p["start"] if op.params else self._after.get(op.key)
            return self._page_url(p, after)
        q = {k: v for k, v in op.params.items() if k != "start"}
        return f"/api/{op.kind}?" + urllib.parse.urlencode(q)

    def run(self, op: Op) -> OpResult:
        url = self._url(op)
        nbytes, lines = 0, []
        t0 = _now()
        first = None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            conn.request("GET", url)
            resp = conn.getresponse()
            status = resp.status
            while True:
                line = resp.readline()
                if not line:
                    break
                if first is None:
                    first = _now() - t0
                nbytes += len(line)
                lines.append(line)
            conn.close()
        except (OSError, http.client.HTTPException) as e:
            return OpResult(_now() - t0, _now() - t0, False, False, f"{url}: {e}")
        total = _now() - t0
        trace.note("server.response_bytes", nbytes)
        if first is None:
            first = total
        try:
            body = [json.loads(x) for x in lines if x.strip()]
            ok, detail = (status == 200), f"status {status}"
            if ok:
                ok, detail = self._check(op, url, body)
        except Exception as e:  # a malformed response is a failed op
            ok, detail = False, f"{type(e).__name__}: {e}"
        return OpResult(first, total, ok, False, "" if ok else f"{url}: {detail}")

    # -- checks ---------------------------------------------------------------
    def _check(self, op: Op, url: str, body: list) -> tuple[bool, str]:
        kind, key = op.kind, op.key
        if kind == "page":
            p = self.chains[key]
            page = body[0]
            self._after[key] = page.get("next_after")  # followed like a client would
            want = self.expected.get(("page", url))
            if want is None:
                return False, "page request not on the expected chain"
            if [canon(r) for r in page["rows"]] != [canon(r) for r in want]:
                return False, "page rows differ"
            return page["next_after"] == {c.lstrip("-"): want[-1][c.lstrip("-")]
                                          for c in p["order"].split(",")}, "next_after"
        exp = self.expected[key]
        if kind == "sketch/histogram":
            got = [(r["bucket"], r["bucket_count"]) for r in body[0]["rows"]]
            return got == exp["buckets"] and sum(c for _, c in got) == exp["n"], "histogram"
        if kind == "sketch/heavy_hitters":
            cols = op.params["cols"].split(",")
            got = [(tuple(r[c] for c in cols), r["cnt"]) for r in body[0]["rows"]]
            return got == exp, "heavy hitters"
        if kind == "sketch/quantiles":
            row = body[0]["rows"][0]
            return set(row) == set(exp) and all(_close(row[k], v) for k, v in exp.items()), \
                "quantiles"
        if kind == "sketch/cdf":
            b = body[0]
            got = sorted((r["bucket"], r["cum_count"]) for r in b["rows"])
            return (got == exp["rows"] and b["lo"] == exp["lo"] and b["hi"] == exp["hi"]), "cdf"
        tiers = op.params["tiers"]
        if len(body) != tiers or [t["fraction"] for t in body] != [(i + 1) / tiers for i in range(tiers)]:
            return False, "tier fractions"
        if kind == "progressive/histogram":
            rows = [[(r["bucket"], r["bucket_count"]) for r in t["rows"]] for t in body]
        else:
            rows = [[((r["bucket_x"], r["bucket_y"]), r["cell_count"]) for r in t["rows"]]
                    for t in body]
        totals = [sum(c for _, c in t) for t in rows]
        if totals != sorted(totals) or totals[-1] != exp["n"]:
            return False, "tier totals"
        if any(t != sorted(t) for t in rows):
            return False, "tier order"
        return rows[-1] == exp["rows"], "final tier"


def _next_k(con, path: str, order: str, k: int, after) -> list[dict]:
    """Reference NextK: the next k distinct order-column rows at or after
    `after`, with their multiplicity."""
    cols = [(c.lstrip("-"), not c.startswith("-")) for c in order.split(",")]
    where, args = "TRUE", []
    if after is not None:
        # lexicographic row >= after, innermost level inclusive
        where = ""
        for i in reversed(range(len(cols))):
            name, asc = cols[i]
            op = ">" if asc else "<"
            if i == len(cols) - 1:
                where = f"({name} {op}= ?)"
                args = [after[name]]
            else:
                where = f"({name} {op} ? OR ({name} = ? AND {where}))"
                args = [after[name], after[name]] + args
    names = ", ".join(n for n, _ in cols)
    order_sql = ", ".join(f"{n} {'ASC' if a else 'DESC'}" for n, a in cols)
    cur = con.execute(
        f"SELECT {names}, COUNT(*) AS row_multiplicity FROM read_parquet('{path}') "
        f"WHERE {where} GROUP BY {names} ORDER BY {order_sql} LIMIT {int(k)}",
        args,
    )
    out_cols = [d[0] for d in cur.description]
    return [dict(zip(out_cols, r)) for r in cur.fetchall()]


# --------------------------------------------------------------------------
# batch
# --------------------------------------------------------------------------

BATCH_QUERIES = (
    "q18_large_orders",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "x6_sessionization_batch",
    "ext_asof_join",
    "n1_minhash_near_dups",
    "n6_decontamination",
    "n1_entity_resolution",
    "n7_connected_components",
)


class Batch:
    """The engine called in-process by one caller, with no HTTP in between.

    A pass runs the registered queries in BATCH_QUERIES through
    `registry.all_queries()[name].fn`, each drained with collect and
    followed by `release_caches()` as the /api/query route does, and then
    one ingest episode on `sources.versioned` (see `_Ingest`).

    Why this workload: each query touches many tables once (low sharing),
    so `queries` and `functions` do the work while HTTP, progressive and
    pagination are bypassed; a browse-only cache must not move it.  The set
    spans relational joins (q3, q5, q18), time and window queries (x6,
    as-of join) and LLM-curation ops (MinHash near-dups, decontamination,
    entity resolution, connected components).  The ingest episode is the
    engine's only write path, and a read-side cache that skipped re-reading
    fresh data would fail its exact-count checks.
    """

    name = "batch"

    def __init__(self, seed: int, data: dict):
        self.sf_dir = data["sf_dir"]
        # a fixed order, so every seed starts (and sets up) on the same query
        self.order = list(BATCH_QUERIES)
        self.ingest = _Ingest(data)

    def expectations(self) -> dict:
        import duckdb

        from hiero_spark.registry import all_queries

        specs = all_queries()
        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            name = f[: -len(".parquet")]
            path = os.path.join(self.sf_dir, f)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        exp = {}
        for name in self.order:
            if specs[name].oracle:
                cur = con.execute(specs[name].oracle)
                exp[name] = _multiset([d[0] for d in cur.description], cur.fetchall())
        con.close()
        exp["near_dups"] = _exact_near_dups(
            pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        )
        exp["ingest"] = self.ingest.expectations()
        return exp

    def start(self, spark, expected: dict) -> None:
        from hiero_spark.registry import all_queries

        self.spark, self.expected = spark, expected
        self.specs = all_queries()
        self.ingest.start(spark, expected["ingest"])

    def stop(self) -> None:
        self.ingest.stop()

    def pass_ops(self) -> list[Op]:
        return [Op("query", name) for name in self.order] + self.ingest.pass_ops()

    def run(self, op: Op) -> OpResult:
        if op.kind != "query":
            return self.ingest.run(op)
        from hiero_spark.functions import _cachetrack

        t0 = _now()
        try:
            with trace.span("queries", "build"):
                df = self.specs[op.key].fn(self.spark, self.sf_dir)
            with trace.span("queries", "exec"):
                rows = df.collect()
            total = _now() - t0
            columns = df.columns
        except Exception as e:
            return OpResult(_now() - t0, _now() - t0, False, False, f"{op.key}: {e}")
        finally:
            _cachetrack.release_caches()
            trace.note("cachetrack.live_after_op", _cachetrack.live_count())
        ok, detail = self._check(op.key, columns, rows)
        return OpResult(total, total, ok, False, "" if ok else f"{op.key}: {detail}")

    def _check(self, name: str, columns: list[str], rows) -> tuple[bool, str]:
        if name == "n1_minhash_near_dups":
            exact = self.expected["near_dups"]
            got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
            if len(got) != len(rows):
                return False, "duplicate pairs"
            for pair, jac in got.items():
                if pair not in exact or not _close(jac, round(exact[pair], 6)):
                    return False, f"pair {pair} is not an exact near-duplicate"
            # LSH may miss borderline pairs, never a near-identical one
            missed = [p for p, j in exact.items() if j >= 0.9 and p not in got]
            return not missed, f"missed {missed[:3]}"
        return _multiset(columns, rows) == self.expected[name], "differs from DuckDB oracle"


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.strip().lower().split()
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}


def _exact_near_dups(docs, threshold: float = 0.5) -> dict:
    """Exact word-3-gram Jaccard >= threshold for every document pair."""
    ids = docs.column("doc_id").to_pylist()
    sh = [_shingles(t) for t in docs.column("text").to_pylist()]
    index = collections.defaultdict(list)
    for i, s in enumerate(sh):
        for g in s:
            index[g].append(i)
    inter = collections.Counter()
    for members in index.values():
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                inter[(members[a], members[b])] += 1
    out = {}
    for (a, b), n in inter.items():
        j = n / (len(sh[a]) + len(sh[b]) - n)
        if j >= threshold:
            out[(min(ids[a], ids[b]), max(ids[a], ids[b]))] = j
    return out


INGEST_COMMITS = 2
INGEST_BUCKETS = 20


class _Ingest:
    """Writes beside reads on `sources.versioned`.  Each episode appends the
    seeded event batches with `commit_version` to a fresh table under the
    worker's temp dir; after each commit it sketches `read_version(latest)`
    (histogram of value, heavy hitters of event_type); after the last
    commit it also time-travels to the first version and counts it.  A new
    table per episode keeps every pass the same size, however fast it runs.
    """

    def __init__(self, data: dict):
        self.batches = data["batches"][:INGEST_COMMITS]
        # per worker: the set-up probes run their first commit concurrently
        self.root = os.path.join(os.path.dirname(data["sf_dir"]), f"versioned-{os.getpid()}")
        self.episode = -1
        self.path = None
        self.n_files: dict[int, int] = {}  # version -> files in its manifest

    def expectations(self) -> dict:
        exp, values, types, sizes = {}, [], [], []
        for c, path in enumerate(self.batches, start=1):
            t = pq.read_table(path, columns=["value", "event_type"])
            values.append(_column(t, "value"))
            types.append(_column(t, "event_type"))
            sizes.append(t.num_rows)
            v, e = np.concatenate(values), np.concatenate(types)
            exp[("hist", c)] = _histogram(v, INGEST_BUCKETS)
            exp[("hh", c)] = _heavy_hitters([e], 5)
            exp[("rows", c - 1)] = int(sum(sizes))
        return exp

    def start(self, spark, expected: dict) -> None:
        self.spark, self.expected = spark, expected
        os.makedirs(self.root, exist_ok=True)

    def stop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def pass_ops(self) -> list[Op]:
        ops = []
        for c in range(1, INGEST_COMMITS + 1):
            ops.append(Op("commit", f"commit{c}", {"c": c}, write=True))
            ops.append(Op("histogram", f"hist{c}", {"c": c}))
            ops.append(Op("heavy_hitters", f"hh{c}", {"c": c}))
            if c == INGEST_COMMITS:
                ops.append(Op("time_travel", f"tt{c}", {"c": c, "version": 0}))
        return ops

    def run(self, op: Op) -> OpResult:
        from hiero_spark.operators import sketches
        from hiero_spark.sources import versioned

        c = op.params["c"]
        if op.kind == "commit" and c == 1:
            # a fresh table per pass; the previous one is removed untimed
            if self.path:
                shutil.rmtree(self.path, ignore_errors=True)
            self.episode += 1
            self.path = os.path.join(self.root, f"t{self.episode:04d}")
            self.n_files = {}
        t0 = _now()
        try:
            if op.kind == "commit":
                df = self.spark.read.parquet(self.batches[c - 1])
                manifest = versioned.commit_version(df, self.path)
                total = _now() - t0
                self.n_files[manifest["version"]] = manifest["n_files"]
                trace.note("versioned.files_written",
                           manifest["n_files"] - self.n_files.get(manifest["version"] - 1, 0))
                ok = manifest["version"] == c - 1 and manifest["n_files"] >= c
                return OpResult(total, total, ok, True, "" if ok else f"manifest {manifest}")
            if op.kind == "time_travel":
                df = versioned.read_version(self.spark, self.path, op.params["version"])
                trace.note("versioned.files_per_read", self.n_files[op.params["version"]])
                n = sketches.summary(df).collect()[0]["row_count"]
                total = _now() - t0
                ok = n == self.expected[("rows", op.params["version"])]
                return OpResult(total, total, ok, False, "" if ok else f"time travel rows {n}")
            df = versioned.read_version(self.spark, self.path)
            trace.note("versioned.files_per_read", self.n_files[c - 1])
            if op.kind == "histogram":
                rows = sketches.histogram1d(df, "value", n=INGEST_BUCKETS).collect()
                total = _now() - t0
                got = sorted((r["bucket"], r["bucket_count"]) for r in rows)
                ok = got == self.expected[("hist", c)]
            else:
                rows = sketches.heavy_hitters(df, ["event_type"], 5).collect()
                total = _now() - t0
                got = [((r["event_type"],), r["cnt"]) for r in rows]
                ok = got == self.expected[("hh", c)]
            return OpResult(total, total, ok, False, "" if ok else f"{op.key} differs")
        except Exception as e:
            return OpResult(_now() - t0, _now() - t0, False, op.write, f"{op.key}: {e}")


WORKLOADS = {w.name: w for w in (Browse, Batch)}
