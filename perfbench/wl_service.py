"""service_mixed: a QueryService in its own process over a lake, with
two reader threads posting `/query` (zed queries over the pools,
spread over the zjson, zson, json, arrows and zng formats) and one
writer thread posting 1,000-row ZSON batches to `/pool/<p>/branch/main`.
They run in rounds: one load, then two queries from each reader, the
readers side by side. Loads and queries never overlap, because of a
commit race in the lake (see README.md, Known defects).

Every run starts from the same lake snapshot (copied fresh), so object
counts do not drift across runs. Each answer must equal the answer over
the snapshot plus the batches acknowledged before the query was sent;
the readers keep the raw answers and they are checked after the
service stops. At the end, each pool's row count on main, and as of its
last acknowledged commit, must equal the snapshot plus the
acknowledged rows.

The writer posts ZSON because of two load defects found while sizing
this workload (see README.md).
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import common
import lakegen

HERE = os.path.dirname(os.path.abspath(__file__))
# untimed load before the window; with 1 s, queries in the first 10 s
# of the window still ran about 20% slower than later ones
WARM_S = 8.0
READERS = 2
QUERIES_PER_ROUND = 2  # per reader, after each load
B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def ksuid_b62(hex_id: str) -> str:
    """0x-hex KSUID (as the load route returns it) -> base62 text."""
    n, out = int(hex_id, 16), ""
    while n:
        n, d = divmod(n, 62)
        out = B62[d] + out
    return out.rjust(27, "0")


def _server_cmd(*args) -> list[str]:
    return [sys.executable, os.path.join(HERE, "server.py"), *args]


def ensure_snapshot(data_root: str, work: str) -> str:
    snap = os.path.join(data_root, f"lake-v{lakegen.VERSION}")
    if os.path.exists(os.path.join(snap, "_DONE")):
        return snap
    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    log = os.path.join(work, "snapshot.log")
    with open(log, "w") as err:
        rc = subprocess.run(
            _server_cmd("--build-snapshot", tmp, "--work", os.path.join(work, "snap")),
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=err, timeout=600,
        ).returncode
    if rc != 0:
        raise RuntimeError(f"snapshot build failed (exit {rc}); see {log}")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(snap, ignore_errors=True)
    os.rename(tmp, snap)
    return snap


class Server:
    """The service process; stopped by closing its standard input."""

    def __init__(self, lake: str, work: str, trace: int):
        self.work = os.path.join(work, "server")
        os.makedirs(self.work, exist_ok=True)
        self.ready = os.path.join(self.work, "ready.json")
        self.log = open(os.path.join(self.work, "server.log"), "w")
        self.proc = subprocess.Popen(
            _server_cmd("--lake", lake, "--work", self.work, "--ready", self.ready,
                        "--trace", str(trace)),
            stdin=subprocess.PIPE, stdout=subprocess.DEVNULL, stderr=self.log,
        )

    def wait_ready(self, timeout: float = 300) -> dict:
        end = time.time() + timeout
        while not os.path.exists(self.ready):
            if self.proc.poll() is not None:
                raise RuntimeError(f"service exited with {self.proc.returncode}; see {self.log.name}")
            if time.time() > end:
                raise RuntimeError("service did not become ready")
            time.sleep(0.05)
        with open(self.ready) as fh:
            return json.load(fh)

    def stop(self) -> dict:
        """Stop the service; return its summary (or {} if it failed)."""
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()
        path = os.path.join(self.work, "summary.json")
        if self.proc.returncode != 0 or not os.path.exists(path):
            return {}
        with open(path) as fh:
            return json.load(fh)


def post(port: int, path: str, body: bytes, headers: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Load:
    """Two reader threads and one writer against one service, in rounds:
    the writer posts one batch, then each reader sends QUERIES_PER_ROUND
    queries, the two readers side by side. A load and a query are never
    in flight together, because a scan that reads a pool's
    branches.json while a commit rewrites it fails (README, Known
    defects)."""

    def __init__(self, port: int, seed: int, traced: bool):
        self.port, self.seed, self.traced = port, seed, traced
        self.lock = threading.Lock()
        self.acked = {p: [] for p in lakegen.POOLS}  # pool -> [(load index, commit hex)]
        self.next_load = 0
        self.load_failed = False
        self.go = True  # decided once per round, at its start
        self.reader_pos = [0] * READERS
        self.reader_ops = [lakegen.reader_ops(seed, k, 4_000) for k in range(READERS)]
        self.snapshot = {p: [b for q, b in lakegen.snapshot_batches() if q == p] for p in lakegen.POOLS}
        self.ops: list[dict] = []  # one record per request
        self._prefix_cache: dict = {}

    def _hdrs(self, rid: str, n: int, extra: dict) -> dict:
        trace = "1" if self.traced and n % 2 == 0 else "0"
        return {"X-Bench-Rid": rid, "X-Bench-Trace": trace, **extra}

    def _record(self, rec: dict) -> None:
        with self.lock:
            self.ops.append(rec)

    def load_one(self, phase: str) -> None:
        i = self.next_load
        self.next_load += 1
        pool, b = lakegen.load_batch(self.seed, i)
        body = lakegen.to_zson(b)
        rid = f"w{i}"
        t0 = time.perf_counter()
        try:
            status, payload = post(self.port, f"/pool/{pool}/branch/main", body,
                                   self._hdrs(rid, i, {"Content-Type": "application/x-zson",
                                                       "Accept": "application/json"}))
            err = None if status == 200 else f"load {pool}: HTTP {status} {payload[:200]!r}"
            commit = json.loads(payload)["commit"] if err is None else None
        except Exception as e:  # connection or parse failure
            err, commit = f"load {pool}: {type(e).__name__}: {e}", None
        t1 = time.perf_counter()
        if commit is not None:
            self.acked[pool].append((i, commit))
        # a failed load may or may not have committed: the prefix check
        # would be ambiguous, so the writer stops
        self.load_failed = err is not None
        self._record(dict(kind="load", rid=rid, phase=phase, t0=t0, t1=t1, err=err,
                          traced=self.traced and i % 2 == 0))

    def batches(self, pool: str, k: int) -> list:
        """The snapshot of `pool` plus the first k loads into it (the
        writer's sequence is fixed by the seed)."""
        first = lakegen.POOLS.index(pool)
        step = len(lakegen.POOLS)
        return self.snapshot[pool] + [
            lakegen.load_batch(self.seed, first + step * j)[1] for j in range(k)
        ]

    def _answer(self, pool: str, spec, k: int):
        key = (pool, spec, k)
        if key not in self._prefix_cache:
            self._prefix_cache[key] = lakegen.expected(spec, lakegen.concat(self.batches(pool, k)))
        return self._prefix_cache[key]

    def query_one(self, k: int, phase: str) -> None:
        n = self.reader_pos[k]
        self.reader_pos[k] += 1
        op = self.reader_ops[k][n]
        pool, rid = op["pool"], f"r{k}.{n}"
        loads = len(self.acked[pool])  # no load is in flight during reads
        t0 = time.perf_counter()
        err = None
        try:
            status, payload = post(
                self.port, "/query", json.dumps({"query": op["zed"]}).encode(),
                self._hdrs(rid, n, {"Content-Type": "application/json",
                                    "Accept": lakegen.FORMATS[op["fmt"]]}))
            if status != 200:
                err = f"HTTP {status} {payload[:200]!r}"
        except Exception as e:
            err, payload = f"{type(e).__name__}: {e}", b""
        t1 = time.perf_counter()
        # the answer is checked after the service stops (check_answers),
        # so checking takes no client time and no GIL from the others
        self._record(dict(kind="query", rid=rid, phase=phase, t0=t0, t1=t1,
                          fmt=op["fmt"], template=op["template"], traced=self.traced and n % 2 == 0,
                          op=op, loads=loads, payload=payload if err is None else None,
                          err=None if err is None else f"query [{op['fmt']}] {op['zed']}: {err}"))

    def check_answers(self) -> None:
        """Each answered query must equal the answer over its pool's
        snapshot plus the loads acknowledged before it was sent (no load
        runs beside a query). A mismatch or unreadable answer fails the
        query."""
        for o in self.ops:
            if o["kind"] != "query":
                continue
            op, payload = o.pop("op"), o.pop("payload")
            if o["err"] is not None:
                continue
            try:
                got = lakegen.canonical(op["spec"], lakegen.parse_response(op["fmt"], payload))
                why = None
                if got != self._answer(op["pool"], op["spec"], o["loads"]):
                    why = f"answer {got} differs from the answer after {o['loads']} loads"
            except Exception as e:
                why = f"unreadable {op['fmt']} answer: {type(e).__name__}: {e}"
            if why is not None:
                o["err"] = f"query [{op['fmt']}] {op['zed']}: {why}"

    def run_phase(self, seconds: float, phase: str) -> float:
        """Run whole rounds until `seconds` have passed; return the wall
        time. Barriers separate the writer's load from the readers'
        queries; the round that starts after the deadline is not run."""
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def decide():
            self.go = time.perf_counter() < deadline

        start = threading.Barrier(1 + READERS, action=decide, timeout=170)
        loaded = threading.Barrier(1 + READERS, timeout=170)
        errors = []

        def client(step):
            try:
                while True:
                    start.wait()
                    if not self.go:
                        return
                    step(loaded)
            except threading.BrokenBarrierError:
                pass
            except BaseException as e:  # a bug in the client: stop the others
                errors.append(e)
                start.abort()
                loaded.abort()

        def write(loaded):
            if not self.load_failed:
                self.load_one(phase)
            loaded.wait()

        def read(k):
            def step(loaded):
                loaded.wait()
                for _ in range(QUERIES_PER_ROUND):
                    self.query_one(k, phase)
            return step

        threads = [threading.Thread(target=client, args=(write,))] + [
            threading.Thread(target=client, args=(read(k),)) for k in range(READERS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return time.perf_counter() - t0

    def count(self, source: str) -> int:
        status, payload = post(self.port, "/query",
                               json.dumps({"query": f"from {source} | count()"}).encode(),
                               {"Content-Type": "application/json", "Accept": "application/json"})
        if status != 200:
            raise RuntimeError(f"count of {source}: HTTP {status} {payload[:200]!r}")
        return lakegen.canonical(("count",), json.loads(payload))

    def final_checks(self) -> tuple[list[dict], float]:
        """After the load: each pool's row count on main must be the
        snapshot plus every acknowledged batch, and the pool as of the
        last acknowledged commit must hold the same rows (one writer, so
        that commit's history is all of them). Returns the check records
        and the share of acknowledged rows visible on main."""
        checks = []
        for pool in lakegen.POOLS:
            acked = self.acked[pool]
            base = sum(len(b["ts"]) for b in self.snapshot[pool])
            want = base + lakegen.BATCH_ROWS * len(acked)
            checks.append((pool, pool, base, want))
            if acked:
                checks.append((pool, f"{pool}@{ksuid_b62(acked[-1][1])}", base, want))
        recs = [None] * len(checks)

        def check(n):
            pool, src, base, want = checks[n]
            t0, err = time.perf_counter(), None
            try:
                got = self.count(src)
                if got != want:
                    err = f"final count of {src}: {got} rows, acknowledged loads give {want}"
            except Exception as e:
                got, err = base, f"final count of {src}: {type(e).__name__}: {e}"
            recs[n] = dict(kind="final", rid=f"final.{src}", t0=t0, t1=time.perf_counter(),
                           err=err, pool=pool, src=src, seen=min(max(got - base, 0), want - base),
                           acked_rows=want - base)

        threads = [threading.Thread(target=check, args=(n,)) for n in range(len(checks))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        on_main = [r for r in recs if r["src"] == r["pool"]]
        acked_rows = sum(r["acked_rows"] for r in on_main)
        return recs, (sum(r["seen"] for r in on_main) / acked_rows if acked_rows else 1.0)


def run(args, work: str, tmp: str, table_dir: str, tracer=None) -> dict:
    snap = ensure_snapshot(os.path.dirname(table_dir), work)
    lake = os.path.join(work, "lake")
    shutil.copytree(snap, lake, ignore=shutil.ignore_patterns("_DONE"))
    server = Server(lake, work, args.trace)
    summary, phases, t = {}, {}, time.perf_counter()
    try:
        ready = server.wait_ready()
        phases["start"] = time.perf_counter() - t
        load = Load(ready["port"], args.seed, bool(args.trace))
        phases["warm"] = load.run_phase(WARM_S, "warm")
        before = common.cpu_times()
        wall = load.run_phase(args.seconds, "timed")
        steal = common.steal_pct(before, common.cpu_times())
        t = time.perf_counter()
        finals, visible_ratio = load.final_checks()
        phases["final"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        summary = server.stop()
        phases["stop"] = time.perf_counter() - t
    if not summary:
        raise RuntimeError(f"service did not shut down cleanly; see {server.log.name}")
    t = time.perf_counter()
    load.check_answers()
    phases["check"] = time.perf_counter() - t

    ops = load.ops + finals
    timed = [o for o in load.ops if o["phase"] == "timed"]
    queries = [o for o in timed if o["kind"] == "query"]
    loads = [o for o in timed if o["kind"] == "load"]
    ok_loads = [o for o in loads if o["err"] is None]
    lat = [o["t1"] - o["t0"] for o in queries]
    failures = [o["err"] for o in ops if o["err"]]

    res = dict(
        setup_times=ready["setup_times"], latencies=lat, wall=wall,
        attempted=len(ops), failures=failures, steal=steal,
        rows_per_s=lakegen.BATCH_ROWS * len(ok_loads) / sum(o["t1"] - o["t0"] for o in loads)
        if loads else 0.0,
        ops_per_s=len(timed) / wall, rss=summary["rss"],
        info={"queries": len(queries), "loads": len(loads),
              "phases_s": {k: round(v, 2) for k, v in phases.items()},
              "load_p50_ms": round(1000 * statistics.median([o["t1"] - o["t0"] for o in loads]), 2)
              if loads else None},
    )
    if args.trace:
        spans = summary["spans"]
        res["spans"] = spans
        kinds = {}
        for o in timed:
            key = o.get("template", "load")
            kinds.setdefault(key, {True: [], False: []})[o["traced"]].append(o["t1"] - o["t0"])
        res["traced_lat"] = {k: v[True] for k, v in kinds.items() if v[True]}
        res["plain_lat"] = {k: v[False] for k, v in kinds.items() if v[False]}
        res["extra_layers"] = service_layers(spans, timed, visible_ratio, summary["objects_live"])
    return res


def service_layers(spans: list, timed: list, visible_ratio: float, objects: int) -> dict:
    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def dur(s):
        return s["end"] - s["start"]

    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    handles = [s for s in by.get("service.handle", []) if s.get("path") == "/query"]
    handle_by_rid = {s["rid"]: dur(s) for s in handles}
    client = {o["rid"]: o["t1"] - o["t0"] for o in timed if o["kind"] == "query"}
    ingest = [dur(s) for s in by.get("zson.ingest", [])]
    renders = by.get("render", [])
    out = {
        "build.ms": 1000 * med([dur(s) for s in by.get("build", [])]),
        "build.jobs": mean([s.get("jobs", 0) for s in by.get("build", [])]),
        "lake.load_ms": 1000 * med([dur(s) for s in by.get("lake.load", [])]),
        "lake.load_jobs": mean([s.get("jobs", 0) for s in by.get("lake.load", [])]),
        "lake.scan_ms": 1000 * med([dur(s) for s in by.get("lake.scan", [])]),
        "lake.objects_live": objects,
        "lake.commits_visible_ratio": visible_ratio,
        "zson.ingest_ms": 1000 * med(ingest),
        "zson.ingest_rows_per_s": lakegen.BATCH_ROWS / med(ingest) if ingest else 0.0,
        "render.bytes_per_row": med([s["bytes"] / s["rows"] for s in renders if s.get("rows")]),
        "service.handle_ms": 1000 * med(list(handle_by_rid.values())),
        "service.http_overhead_ms": 1000 * med(
            [client[r] - h for r, h in handle_by_rid.items() if r in client]),
        "service.jobs_per_query": mean([s.get("jobs", 0) for s in handles]),
        "service.load_p50_ms": 1000 * med([o["t1"] - o["t0"] for o in timed if o["kind"] == "load"]),
    }
    for fmt in lakegen.FORMATS:
        out[f"render.{fmt}_ms"] = 1000 * med([dur(s) for s in renders if s.get("fmt") == fmt])
    return out
