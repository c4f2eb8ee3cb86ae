#!/usr/bin/env python3
"""Serving benchmark: the HTTP daemon under dashboard reads or remote-write ingest.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

One run starts the daemon (``daemon.py``: ``PromHTTPServer`` on
``local[nproc]``) in its own process, drives it from this process with
at most ``nproc`` (4) closed-loop client threads for ``--seconds``,
checks every response, and prints one JSON line last on stdout. With
``--trace 0`` it holds the end-to-end metrics; with ``--trace 1`` the
daemon runs with the span wrappers of ``spans.py`` and the line holds
the per-layer metrics instead. A readable summary goes to stderr.

Workloads (see README.md for why each was chosen):

* ``dashboard``: 10 tenants x 10 agents x 20 metrics of history built
  through ``streaming.ingest`` at set-up; 4 clients send a seeded,
  tenant-scoped Grafana-style mix, each response checked against a
  DuckDB oracle.
* ``ingest``: empty store; 2,000-sample remote-write bodies POSTed open
  loop at a fixed rate over 4 connections; afterwards the per-tenant
  sample counts read back through the query API must equal the
  acknowledged counts.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workload as W  # noqa: E402

CLIENTS = min(4, os.cpu_count() or 1)
#: remote-write POSTs per second on ``ingest`` (6,000 samples/s), about a
#: tenth of what the daemon absorbs on 4 cores: the read-back check
#: materialises the whole write buffer (~0.1 ms per sample), and this
#: keeps a run, check included, near a minute
INGEST_RATE = 3
#: a daemon still alive this long after its start is killed, so a hung
#: daemon cannot hold a run open
DAEMON_DEADLINE_S = 150
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------- /proc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_s(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
        except (OSError, IndexError):
            pass
    return total / TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError):
            pass
    return total * PAGE / 2**20


class Sampler(threading.Thread):
    """Peak RSS of the daemon's Python process, which holds the write
    buffer, and of its whole tree (Python, JVM, Python workers)."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.stop = pid, threading.Event()
        self.peak_daemon = self.peak_tree = 0.0

    def run(self):
        while not self.stop.is_set():
            self.peak_daemon = max(self.peak_daemon, rss_mb([self.pid]))
            self.peak_tree = max(self.peak_tree, rss_mb(tree(self.pid)))
            self.stop.wait(0.1)


# ------------------------------------------------------------- daemon


class Daemon:
    def __init__(self, work: str, history: bool, trace: bool):
        env = dict(os.environ)
        env.update(
            # Spark's Python workers import the library from the checkout
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
            SPARK_GRAFT_CONSOLE_PROGRESS="false",
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            # the server listens on 127.0.0.1; without this, Spark's own
            # local-address lookup stalls session start by 5-10 s at random
            SPARK_LOCAL_IP="127.0.0.1",
            TMPDIR=os.path.join(work, "tmp"),
        )
        env.pop("SPARK_GRAFT_CPUS", None)
        os.makedirs(env["TMPDIR"], exist_ok=True)
        cmd = [sys.executable, os.path.join(HERE, "daemon.py"), "--work", work]
        cmd += ["--history"] * history + ["--trace"] * trace
        self.log_path = os.path.join(work, "daemon.log")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, text=True, start_new_session=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=open(self.log_path, "w"),
        )
        self.killer = threading.Timer(DAEMON_DEADLINE_S, self.kill)
        self.killer.start()
        for line in self.proc.stdout:
            if line.startswith("READY "):
                self.info = json.loads(line[6:])
                self.port = self.info["port"]
                return
        self.stop()
        with open(self.log_path) as fh:
            log(fh.read()[-3000:])
        raise SystemExit("daemon exited before it was ready")

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(self) -> None:
        """Close stdin, wait for the daemon, then reap its process group."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.kill()
            self.proc.wait()
        self.killer.cancel()
        self.kill()  # a JVM or Python worker left behind
        for _ in range(100):
            if not any(_pgid(p) == self.proc.pid for p in tree(1)):
                return
            time.sleep(0.05)


def _pgid(pid: int) -> int | None:
    try:
        return os.getpgid(pid)
    except OSError:
        return None


def call(port: int, method: str, path: str, body: bytes | None = None,
         headers: dict | None = None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=body, headers=headers or {})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


# ------------------------------------------------------------- load


class Op:
    """One request; ``ok`` turns false when it errors or fails its check."""

    __slots__ = ("kind", "key", "t0", "t1", "status", "body", "req", "lag", "ok")

    def __init__(self, kind, key, req):
        self.kind, self.key, self.req = kind, key, req
        self.t0 = self.t1 = self.lag = 0.0
        self.status, self.body, self.ok = 0, b"", True

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000


def closed_loop(n: int, seconds: float, one) -> tuple[list[Op], float, float]:
    """``n`` client threads each call ``one(client, k)`` back to back until
    the window closes; every op started inside it is awaited. Returns
    the ops, the window start and the last completion time."""
    ops: list[Op] = []
    lock = threading.Lock()
    w0 = time.perf_counter()
    deadline = w0 + seconds

    def client(c: int):
        k = 0
        while time.perf_counter() < deadline:
            op = one(c, k)
            with lock:
                ops.append(op)
            k += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return ops, w0, max(op.t1 for op in ops)


def open_loop(n: int, seconds: float, rate: float, one) -> tuple[list[Op], float, float]:
    """Op ``i`` is due at ``w0 + i / rate``; ``n`` sender threads take the
    ops in order and ``one(i, due)`` sends one. Latency counts from the
    due time, so a stall also delays the ops queued behind it."""
    ops: list[Op] = []
    lock = threading.Lock()
    nxt = iter(range(int(seconds * rate)))
    w0 = time.perf_counter()

    def sender():
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            due = w0 + i / rate
            time.sleep(max(0.0, due - time.perf_counter()))
            op = one(i, due)
            with lock:
                ops.append(op)

    threads = [threading.Thread(target=sender) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return ops, w0, max(op.t1 for op in ops)


def timed(port: int, op: Op, method: str, path: str, body=None, headers=None) -> Op:
    headers = dict(headers or {}, **{"X-Bench-Request": op.req})
    op.t0 = time.perf_counter()
    try:
        op.status, op.body = call(port, method, path, body, headers)
    except (OSError, http.client.HTTPException) as ex:
        op.status, op.body = -1, str(ex).encode()
    op.t1 = time.perf_counter()
    return op


def panel_path(req: dict) -> str:
    sec = lambda ms: str(ms // 1000)  # noqa: E731 - whole seconds, exact on the wire
    if req["panel"] == "series":
        path, q = "/api/v1/series", {"match[]": req["metric"], "start": sec(req["start"]),
                                     "end": sec(req["end"])}
    elif req["panel"] == "label_values":
        path, q = "/api/v1/label/instance/values", {}
    elif "time" in req:
        path, q = "/api/v1/query", {"query": req["query"], "time": sec(req["time"])}
    else:
        path, q = "/api/v1/query_range", {
            "query": req["query"], "start": sec(req["start"]),
            "end": sec(req["end"]), "step": sec(req["step"])}
    return path + ("?" + urllib.parse.urlencode(q) if q else "")


def write_parquet(path: str, names: list[str], rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(pa.table({n: list(c) for n, c in zip(names, cols)}), path)


def dashboard(args, work: str) -> dict:
    import oracle

    bodies, rows = W.history(args.seed)
    write_parquet(os.path.join(work, "history_bodies.parquet"), ["tenant", "body"], bodies)
    samples = os.path.join(work, "samples.parquet")
    write_parquet(samples, ["tenant", "name", "instance", "ts", "value"], rows)
    pool = W.dashboard_pool(args.seed)
    paths = [panel_path(r) for r in pool]

    d = Daemon(work, history=True, trace=args.trace)
    try:
        def read(c: int, k: int, tag: str = "r") -> Op:
            i = (c * len(pool) // CLIENTS + k) % len(pool)
            op = Op("read", i, f"{tag}{c}-{k}")
            return timed(d.port, op, "GET", paths[i],
                         headers={"X-SquirrelDB-Tenant": pool[i]["tenant"]})

        # warm-up: each client's first panel once, in parallel
        t = time.perf_counter()
        warm = [threading.Thread(target=read, args=(c, 0, "w")) for c in range(CLIENTS)]
        for th in warm:
            th.start()
        for th in warm:
            th.join()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - d.t0
        ops, cpu = window(d, lambda: closed_loop(CLIENTS, args.seconds, read))
    finally:
        d.stop()

    orc = oracle.Oracle(samples)
    want: dict[int, object] = {}
    failures: dict[str, str] = {}
    for op in ops:
        req = pool[op.key]
        if op.status != 200:
            failures.setdefault(req["panel"], f"HTTP {op.status}: {op.body[:120]!r}")
            op.ok = False
            continue
        if op.key not in want:
            want[op.key] = orc.expected(req)
        try:
            why = oracle.check(req, json.loads(op.body), want[op.key])
        except (ValueError, KeyError, TypeError) as ex:
            why = f"malformed response: {ex!r}"
        if why is not None:
            failures.setdefault(req["panel"], why)
            op.ok = False
    return dict(
        ops=ops, cpu=cpu, setup_s=setup_s, warmup_s=warmup_s, info=d.info,
        failures=failures, history_samples=len(rows), work=work, pool=pool,
    )


def window(d: Daemon, load) -> tuple[list[Op], dict]:
    sampler = Sampler(d.proc.pid)
    sampler.start()
    pids = tree(d.proc.pid)
    c0, g0 = cpu_s(pids), os.times()
    ops, w0, w1 = load()
    g1 = os.times()
    cpu = {
        "daemon_s": cpu_s(tree(d.proc.pid)) - c0,
        "loadgen_s": (g1.user + g1.system) - (g0.user + g0.system),
        "elapsed_s": w1 - w0,
    }
    sampler.stop.set()
    sampler.join()
    cpu["daemon_rss_mb"], cpu["tree_rss_mb"] = sampler.peak_daemon, sampler.peak_tree
    return ops, cpu


def ingest(args, work: str) -> dict:
    backlog = W.Backlog(args.seed)
    bodies = [backlog.next() for _ in range(int(args.seconds * INGEST_RATE))]
    lock = threading.Lock()
    acked: dict[str, int] = {}
    headers = {
        "Content-Type": "application/x-protobuf",
        "Content-Encoding": "snappy",
        "X-Prometheus-Remote-Write-Version": "0.1.0",
    }

    d = Daemon(work, history=False, trace=args.trace)
    try:
        setup_s = time.perf_counter() - d.t0

        def post(i: int, due: float) -> Op:
            tenant, body, n = bodies[i]
            op = timed(d.port, Op("write", i, f"w{i}"), "POST", "/api/v1/write", body,
                       dict(headers, **{"X-SquirrelDB-Tenant": tenant}))
            op.lag, op.t0 = op.t0 - due, due
            if 200 <= op.status < 300:
                with lock:
                    acked[tenant] = acked.get(tenant, 0) + n
            return op

        ops, cpu = window(d, lambda: open_loop(CLIENTS, args.seconds, INGEST_RATE, post))
        buffered = _buffered(d.port)
        failures = {}
        for op in ops:
            if not 200 <= op.status < 300:
                failures.setdefault("write", f"HTTP {op.status}: {op.body[:120]!r}")
                op.ok = False
        t = time.perf_counter()
        readback = _read_back(d.port, backlog, acked)
        log(f"read-back check took {time.perf_counter() - t:.1f} s")
        if readback is not None:
            failures["read_back"] = readback
    finally:
        d.stop()
    return dict(ops=ops, cpu=cpu, setup_s=setup_s, warmup_s=0.0, info=d.info,
                failures=failures, buffered=buffered, work=work,
                extra_checks=1, extra_failed=int(readback is not None))


def _buffered(port: int) -> int:
    _, text = call(port, "GET", "/metrics")
    for line in text.decode().splitlines():
        if line.startswith("squirreldb_buffered_points "):
            return int(line.split()[1])
    return 0


def _read_back(port: int, backlog: W.Backlog, acked: dict[str, int]) -> str | None:
    """Untimed: per-tenant sample counts through the query API."""
    last = W.END_MS + max(backlog.batches) * W.BACKLOG_SCRAPES * W.INTERVAL_MS
    t = last // 1000 + 10
    window_s = t - W.END_MS // 1000 + 10
    q = f'sum by (__account_id) (count_over_time({{job="node"}}[{window_s}s]))'
    status, body = call(port, "GET", "/api/v1/query?" + urllib.parse.urlencode(
        {"query": q, "time": str(t)}), headers={"X-Bench-Request": "read-back"})
    if status != 200:
        return f"HTTP {status}: {body[:120]!r}"
    got = {r["metric"].get("__account_id"): round(float(r["value"][1]))
           for r in json.loads(body)["data"]["result"]}
    if got != acked:
        return f"read back {sum(got.values())} samples over {len(got)} tenants, " \
               f"acknowledged {sum(acked.values())} over {len(acked)}"
    return None


# ------------------------------------------------------------- report


def end_to_end(res: dict) -> dict:
    ops = res["ops"]
    ms = [op.ms for op in ops]
    done = [op for op in ops if op.ok]
    return {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (len(done) / res["cpu"]["elapsed_s"], "1/s"),
        "latency_p50_ms": (statistics.median(ms), "ms"),
        "daemon_rss_mb": (res["cpu"]["daemon_rss_mb"], "MB"),
    }


def per_layer(res: dict) -> dict:
    import spans as S

    ops = res["ops"]
    with open(os.path.join(res["work"], "spans.json")) as fh:
        reqs = S.requests(json.load(fh))
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    reads = [reqs[op.req] for op in ops if op.kind == "read" and op.req in reqs]
    writes = [reqs[op.req] for op in ops if op.kind == "write" and op.req in reqs]

    def self_ms(rs, layer):
        return med([r["self"].get(layer, 0.0) * 1000 for r in rs])

    def calls(rs, layer):
        return med([r["calls"].get(layer, 0) for r in rs])

    queries = [r for r in reads if "spark" in r["root"]]
    decode_s = sum(r["self"].get("codec.decode", 0.0) for r in writes)
    decoded = sum(r["attrs"].get("decoded", 0) for r in writes)
    info, cpu = res["info"], res["cpu"]
    hist_n = res.get("history_samples", 0)
    m = {
        "http_api.self_ms": (self_ms(reads, "http_api"), "ms"),
        "http_api.store_build_ms": (self_ms(reads, "http_api.store_build"), "ms"),
        "http_api.store_build_calls": (calls(reads, "http_api.store_build"), "count"),
        "http_api.ingest_ms": (self_ms(writes, "http_api.ingest"), "ms"),
        "http_api.buffered_points": (res.get("buffered", 0), "count"),
        "codec.decode_ms": (self_ms(writes, "codec.decode"), "ms"),
        "codec.samples_per_s": (decoded / decode_s if decode_s else 0.0, "1/s"),
        "promql.parser.parse_ms": (self_ms(reads, "promql.parser"), "ms"),
        "promql.parser.calls": (calls(reads, "promql.parser"), "count"),
        "promql.planner.construct_ms": (self_ms(reads, "promql.planner"), "ms"),
        "api.query_self_ms": (self_ms(reads, "api.query"), "ms"),
        "api.format_ms": (self_ms(reads, "api.format"), "ms"),
        "api.rows_collected": (med([r["attrs"].get("rows", 0) for r in reads]), "count"),
        "spark.jobs": (med([r["root"]["spark"]["jobs"] for r in queries]), "count"),
        "spark.stages": (med([r["root"]["spark"]["stages"] for r in queries]), "count"),
        "spark.tasks": (med([r["root"]["spark"]["tasks"] for r in queries]), "count"),
        "daemon.cpu_ms_per_op": (cpu["daemon_s"] * 1000 / max(1, len(ops)), "ms"),
        "daemon.tree_rss_mb": (cpu["tree_rss_mb"], "MB"),
        "streaming.ingest.samples_per_s": (
            hist_n / info["history_s"] if hist_n else 0.0, "1/s"),
        "streaming.ingest.bytes_per_sample": (
            info["parquet_bytes"] / hist_n if hist_n else 0.0, "B"),
        "setup.session_s": (info["session_s"], "s"),
        "setup.history_s": (info.get("history_s", 0.0), "s"),
        "setup.warmup_s": (res["warmup_s"], "s"),
        "loadgen.cpu_s": (cpu["loadgen_s"], "s"),
        "loadgen.write_lag_ms": (med([op.lag * 1000 for op in ops if op.kind == "write"]), "ms"),
        "loadgen.transport_ms": (med([
            op.ms - op.lag * 1000
            - (reqs[op.req]["root"]["end"] - reqs[op.req]["root"]["start"]) * 1000
            for op in ops if op.req in reqs]), "ms"),
        "trace.latency_p50_ms": (statistics.median(op.ms for op in ops), "ms"),
    }
    by_panel: dict[str, list[float]] = {p: [] for p in W.PANELS}
    counts: dict[str, set] = {p: set() for p in W.PANELS}
    for op in ops:
        if op.kind == "read":
            panel = res["pool"][op.key]["panel"]
            by_panel[panel].append(op.ms)
            sp = reqs.get(op.req, {}).get("root", {}).get("spark")
            if sp:
                counts[panel].add((sp["jobs"], sp["stages"], sp["tasks"]))
    for p in W.PANELS:
        m[f"dashboard.{p}_p50_ms"] = (med(by_panel[p]), "ms")
    if reads:
        span = lambda r: r["root"]["end"] - r["root"]["start"]  # noqa: E731
        log("layer self times / server read span (median): "
            f"{med([sum(r['self'].values()) / span(r) for r in reads]):.4f}; "
            "server read span / client read span (median): "
            f"{med([span(reqs[op.req]) * 1000 / op.ms for op in ops if op.req in reqs]):.4f}")
        log("spark jobs/stages/tasks per read, by panel:")
        for p in W.PANELS:
            log(f"  {p:13s} {sorted(counts[p])}")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "squirreldb_spark")):
        log("squirreldb_spark not found next to perfbench/: run from a full checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = (dashboard if args.workload == "dashboard" else ingest)(args, work)
        metrics = per_layer(res) if args.trace else end_to_end(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    failed = sum(not op.ok for op in ops) + res.get("extra_failed", 0)
    attempted = len(ops) + res.get("extra_checks", 0)
    for name, why in sorted(res["failures"].items()):
        log(f"FAILED {name}: {why}")
    log("set-up phases:", json.dumps({k: v for k, v in res["info"].items() if k != "port"}),
        f"warm-up {res['warmup_s']:.1f} s")
    log(f"{args.workload}: {attempted} operations, {failed} failed "
        f"(failed_frac {failed / attempted:.4f}), window {res['cpu']['elapsed_s']:.1f} s")
    for name, (value, unit) in metrics.items():
        log(f"  {name:36s} {value:14.4f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
