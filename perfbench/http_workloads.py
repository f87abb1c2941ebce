"""serve_read and ingest_cycle: closed-loop HTTP clients against the
serving tier (primary.py + worker.py), with every response checked."""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import time

import common
import gen
import loadgen
from loadgen import Request, Session


# serve_read connections are re-opened after this many requests or this
# many seconds, so the kernel's SO_REUSEPORT placement is re-drawn often
# (for slow kinds before every request) and evens out across the primary
# and the workers
READ_RECONNECT = 8
READ_RECONNECT_S = 0.01


class Primary:
    """The primary launcher subprocess and its command channel."""

    def __init__(self, workload: str, seed: int, scale: float, workdir: str, workers: int,
                 trace: bool):
        cmd = [
            sys.executable, os.path.join(common.BENCH_DIR, "primary.py"),
            "--workload", workload, "--seed", str(seed), "--scale", str(scale),
            "--workdir", workdir, "--workers", str(workers),
        ] + (["--trace"] if trace else [])
        self.log = open(os.path.join(workdir, "primary.log"), "w")
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, start_new_session=True,
        )

    def read(self, timeout: float) -> dict:
        ready, _, _ = select.select([self.proc.stdout], [], [], timeout)
        line = self.proc.stdout.readline() if ready else ""
        if not line:
            raise RuntimeError(f"primary gave no answer (exit code {self.proc.poll()})")
        return json.loads(line)

    def command(self, cmd: str, timeout: float = 60.0) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read(timeout)

    def stop(self, span_dir: str | None) -> None:
        try:
            self.command(f"stop {span_dir}" if span_dir else "stop", timeout=90)
            self.proc.wait(timeout=30)
        finally:
            common.kill_tree(self.proc)
            self.log.close()


class Recorder:
    """Per-request outcomes of one measured phase."""

    def __init__(self):
        self.rows: list[tuple[str, bool, float, int]] = []  # kind, ok, latency s, bytes
        self.t_start = time.perf_counter()
        self.t_last = self.t_start
        self.errors: dict[str, int] = {}
        self.cycles: list[tuple[int, float, float]] = []  # client, start, end
        # serve_read: kind -> (wall s, CPU s of the serving tier, requests)
        self.segments: dict[str, tuple[float, float, int]] = {}

    def add(self, kind: str, ok: bool, t0: float, t1: float, nbytes: int) -> None:
        self.rows.append((kind, ok, t1 - t0, nbytes))
        self.t_last = max(self.t_last, t1)
        if not ok:
            self.errors[kind] = self.errors.get(kind, 0) + 1

    def latencies(self, *kinds: str) -> list[float]:
        return [r[2] for r in self.rows if not kinds or r[0] in kinds]

    def by_kind(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for kind, _ok, lat, _n in self.rows:
            out.setdefault(kind, []).append(lat)
        return out

    def summary(self, cpu_s: float, steal: float) -> dict:
        """Phase totals.  With per-kind segments (serve_read), CPU per
        operation and throughput are geometric means over the kinds, each
        kind weighing the same; otherwise totals over the phase."""
        p50, tail = common.kind_latency_ms(self.by_kind())
        failed = sum(1 for r in self.rows if not r[1])
        if self.segments:
            segs = [s for s in self.segments.values() if s[2]]
            cpu_per_op = common.geomean([c / n for _w, c, n in segs])
            rate = common.geomean([common.per_cpu_second(n, w, steal) for w, _c, n in segs])
        else:
            cpu_per_op = cpu_s / max(len(self.rows), 1)
            rate = common.per_cpu_second(len(self.rows), self.t_last - self.t_start, steal)
        return {
            "attempted": len(self.rows),
            "failed": failed,
            "cpu_ms_per_op": cpu_per_op * 1e3,
            "throughput_per_s": rate,
            "latency_gm_p50_ms": p50,
            "latency_gm_tail_ms": tail,
        }


def _ids(body: bytes):
    return frozenset(row["id"] for row in json.loads(body))


# ---------------------------------------------------------------------------
# serve_read
# ---------------------------------------------------------------------------


class ReadSession(Session):
    def __init__(self, kind, stream, deadline: float, rec: Recorder, verified: dict):
        self.kind, self.stream, self.deadline = kind, stream, deadline
        self.rec, self.verified = rec, verified

    def next(self):
        if time.perf_counter() >= self.deadline:
            return None
        method, path, body, expected = next(self.stream)
        return Request(self.kind, method, path, body, None, expected)

    def complete(self, req, status, body, t0, t1):
        ok = status == 200
        if ok and req.method == "GET":
            ok = body == req.expected
        elif ok:
            # a response already checked for this predicate passes by hash
            seen = self.verified.setdefault(req.body, set())
            h = hash(body)
            if h not in seen:
                try:
                    ok = _ids(body) == req.expected
                except (ValueError, KeyError, TypeError):
                    ok = False
                if ok:
                    seen.add(h)
        self.rec.add(req.kind, ok, t0, t1, len(body))


def _read_phase(port, mix, seed, seconds, clients, verified, cpu_root=None) -> Recorder:
    """Each request kind in turn, for an equal share of ``seconds``, as
    its own closed loop; the serving tier's CPU time is read around each
    kind (when ``cpu_root`` names the primary)."""
    rec = Recorder()
    share = seconds / len(mix.KINDS)
    for i, kind in enumerate(mix.KINDS):
        n0 = len(rec.rows)
        cpu0 = common.tree_cpu_s(cpu_root) if cpu_root else {}
        t0 = time.perf_counter()
        sessions = [ReadSession(kind, mix.stream(kind, seed * 1000 + 10 * i + c), t0 + share, rec, verified)
                    for c in range(clients)]
        loadgen.run(port, sessions, reconnect_every=READ_RECONNECT, reconnect_after_s=READ_RECONNECT_S)
        wall = time.perf_counter() - t0
        cpu = common.cpu_used_s(cpu0, common.tree_cpu_s(cpu_root)) if cpu_root else 0.0
        rec.segments[kind] = (wall, cpu, len(rec.rows) - n0)
    return rec


def _warm_hot(port, mix, clients) -> None:
    """Every hot predicate six times over fresh connections, so each
    worker's memos and the primary's caches hold the hot set before a
    phase (the cold kinds of the previous phase pushed it out)."""
    warm = [Request("warm", "POST", "/find", body) for _k, body, _e in mix.hot] * 6
    loadgen.run(port, [_Fixed(warm[i::clients]) for i in range(clients)], reconnect_every=1)


class _Fixed(Session):
    """Sends a fixed list of requests (warm-up), checking nothing."""

    def __init__(self, reqs):
        self.reqs = list(reqs)

    def next(self):
        return self.reqs.pop() if self.reqs else None

    def complete(self, req, status, body, t0, t1):
        pass


def read_detail(rec: Recorder) -> dict:
    large = [r for r in rec.rows if r[0] == "get_large" and r[1]]
    find = [r[2] for r in rec.rows if r[0].startswith("find")]
    ftail, flabel = common.tail(find)
    return {
        "read_rps": (len(rec.rows) / (rec.t_last - rec.t_start), "req/s"),
        "find_p50_ms": (common.median(find) * 1e3, "ms"),
        "find_p99_ms": (ftail * 1e3, f"ms ({flabel} of {len(find)})"),
        "get_p50_ms": (common.median(rec.latencies("get_small")) * 1e3, "ms"),
        "download_mbps": (
            sum(r[3] for r in large) / 1e6 / max(sum(r[2] for r in large), 1e-9), "MB/s"),
    }


# ---------------------------------------------------------------------------
# ingest_cycle
# ---------------------------------------------------------------------------


_F = lambda name: [".", ["$"], name]  # noqa: E731


class IngestSession(Session):
    """One client repeating the lake lifecycle: upload, register, find the
    fresh dataset (normal and residual tier), schema, extract, revise.
    A new cycle starts only before the deadline; a failed step ends the
    cycle early."""

    STEPS = ("save", "dataset", "find_fresh", "find_residual", "schema", "extract", "update")

    def __init__(self, seed: int, client: int, deadline: float, rec: Recorder, scale: float,
                 max_cycles: int | None = None):
        self.seed, self.client, self.deadline, self.rec = seed, client, deadline, rec
        self.max_cycles = max_cycles
        self.rows = max(int(20_000 * scale), 200)
        self.cycle = 0
        self.step = 0

    def next(self):
        if self.step == 0:
            if time.perf_counter() >= self.deadline or self.cycle == self.max_cycles:
                return None
            self.csv, self.ast, self.matches = gen.ingest_csv(self.seed, self.client, self.cycle, self.rows)
            self.cid = gen.cid_of(self.csv)
            self.cycle += 1
        step = self.STEPS[self.step]
        if step == "save":
            return Request(step, "POST", "/file", self.csv, "text/csv")
        if step == "dataset":
            meta = {"file": self.cid, "description": f"ingest c{self.client} n{self.cycle}",
                    "source": "ingest", "topics": ["fresh"], "rows": str(self.rows)}
            return Request(step, "POST", "/dataset", json.dumps(meta).encode())
        if step == "find_fresh":
            return Request(step, "POST", "/find", json.dumps(["==", _F("id"), self.did]).encode())
        if step == "find_residual":
            ast = ["==", _F("id"), str(self.did), str(self.did)]
            return Request(step, "POST", "/find", json.dumps(ast).encode())
        if step == "schema":
            return Request(step, "GET", f"/schema/{self.cid}")
        if step == "extract":
            return Request(step, "POST", f"/extract/{self.cid}", json.dumps(self.ast).encode())
        rev = {"parent": self.did, "description": f"ingest c{self.client} n{self.cycle} rev"}
        return Request(step, "POST", "/update", json.dumps(rev).encode())

    def _check(self, step: str, body: bytes) -> bool:
        doc = json.loads(body)
        if step == "save":
            return doc == {"cid": self.cid}
        if step in ("dataset", "update"):
            new_id = doc.get("id")
            if not isinstance(new_id, int) or new_id <= (self.did if step == "update" else 0):
                return False
            if step == "dataset":
                self.did = new_id
            return True
        if step in ("find_fresh", "find_residual"):
            return len(doc) == 1 and doc[0]["id"] == self.did and doc[0]["cid"] == self.cid
        if step == "schema":
            props = doc["items"]["properties"]
            return {k: v["type"] for k, v in props.items()} == gen.INGEST_SCHEMA
        return len(doc) == self.matches  # extract

    def complete(self, req, status, body, t0, t1):
        ok = status == 200
        if ok:
            try:
                ok = self._check(req.kind, body)
            except (ValueError, KeyError, TypeError, AttributeError):
                ok = False
        self.rec.add(req.kind, ok, t0, t1, len(body))
        if not ok:
            self.step = 0
            return
        if self.step == 0:
            self.cycle_t0 = t0
        self.step = (self.step + 1) % len(self.STEPS)
        if self.step == 0:
            self.rec.cycles.append((self.client, self.cycle_t0, t1))


def _ingest_phase(port, seed, seconds, clients, scale, phase, max_cycles=None) -> Recorder:
    rec = Recorder()
    deadline = rec.t_start + seconds
    sessions = [IngestSession(seed * 100 + phase, i, deadline, rec, scale, max_cycles)
                for i in range(clients)]
    loadgen.run(port, sessions, reconnect_every=1)
    return rec


def ingest_detail(rec: Recorder) -> dict:
    out = {}
    for step in IngestSession.STEPS:
        lat = rec.latencies(step)
        out[f"{step}_p50_ms"] = (common.median(lat) * 1e3 if lat else 0.0, "ms")
    # lifecycles per minute, summed per client: each client's completed
    # lifecycles over the time to its last completion
    ends: dict[int, list[float]] = {}
    for client, _, t1 in rec.cycles:
        ends.setdefault(client, []).append(t1)
    rate = sum(len(v) / (max(v) - rec.t_start) for v in ends.values())
    out["cycles_per_min"] = (rate * 60.0, "1/min")
    lat = [t1 - t0 for _, t0, t1 in rec.cycles]
    out["cycle_p50_ms"] = (common.median(lat) * 1e3 if lat else 0.0, "ms")
    return out


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


def run_http(workload: str, seed: int, seconds: float, trace: bool, scale: float, work: str) -> dict:
    """Set up, measure (untraced; then traced when asked), shut down.
    Returns the phases' recorders and the set-up accounting."""
    workers = max(common.ncpu() - 1, 1)
    # one connection per CPU but one: the client process needs the last CPU
    clients = max(common.ncpu() - 1, 1) if workload == "serve_read" else 2
    t_launch = time.perf_counter()
    prim = Primary(workload, seed, scale, work, workers, trace)
    out: dict = {"workers": workers, "clients": clients}
    span_dir = os.path.join(work, "spans") if trace else None
    try:
        info = prim.read(timeout=170)
        port = info["port"]
        if workload == "serve_read":
            spec = gen.serve_catalog(seed, scale)
            mix = gen.ReadMix(spec, seed)
            verified: dict = {}
            # the hot set into every memo; then a short pass over every kind
            _warm_hot(port, mix, clients)
            _read_phase(port, mix, seed + 17, 1.0, clients, verified)
        else:
            _ingest_phase(port, seed, 600.0, 1, scale, phase=9, max_cycles=1)  # untimed
        out.update(setup_s=time.perf_counter() - t_launch, session_start_s=info["session_start_s"],
                   seed_s=info["seed_s"], catalog_root=info["catalog_root"])

        phases = [False, True] if trace else [False]
        for traced in phases:
            if workload == "serve_read":
                _warm_hot(port, mix, clients)
            if traced:  # after the warm-up, so its requests leave no spans
                prim.command("trace")
            cat_before = _dir_sizes(info["catalog_root"])
            prim.command("mark")
            common.reset_peak_rss(prim.proc.pid)
            ticks0 = common.cpu_ticks()
            cpu_before = common.tree_cpu_s(prim.proc.pid)
            if workload == "serve_read":
                rec = _read_phase(port, mix, seed, seconds, clients, verified, cpu_root=prim.proc.pid)
            else:
                rec = _ingest_phase(port, seed, seconds, clients, scale, phase=int(traced))
            cpu = common.cpu_used_s(cpu_before, common.tree_cpu_s(prim.proc.pid))
            steal = common.steal_share(ticks0, common.cpu_ticks())
            cat_after = _dir_sizes(info["catalog_root"])
            phase = {"rec": rec, "cpu_s": cpu, "steal": steal, "spark": prim.command("stats"),
                     "catalog_before": cat_before, "catalog_after": cat_after,
                     "catalog_live": _live_bytes(info["catalog_root"], cat_after),
                     "rss_mb": common.peak_rss_mb(prim.proc.pid)}
            out["traced" if traced else "untraced"] = phase
        if span_dir:
            os.makedirs(span_dir, exist_ok=True)
    except BaseException:
        common.kill_tree(prim.proc)
        prim.log.close()
        with open(os.path.join(work, "primary.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise
    prim.stop(span_dir)
    out["span_dir"] = span_dir
    return out


def _dir_sizes(root: str) -> dict[str, int]:
    """Bytes per top-level entry of the catalog directory."""
    sizes = {}
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if os.path.isdir(path):
            total = 0
            for dirpath, _, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
            sizes[name] = total
        else:
            try:
                sizes[name] = os.path.getsize(path)
            except OSError:
                pass
    return sizes


def _live_bytes(root: str, sizes: dict[str, int]) -> int:
    """Bytes of the committed snapshot of each catalog table (the version
    dir its newest token names)."""
    live = 0
    for table in ("dataset", "content"):
        prefix = f"{table}.current.v"
        tokens = [n for n in sizes if n.startswith(prefix) and n[len(prefix):].isdigit()]
        if not tokens:
            continue
        newest = max(tokens, key=lambda n: int(n[len(prefix):]))
        with open(os.path.join(root, newest)) as f:
            live += sizes.get(os.path.basename(f.read().strip()), 0)
    return live
