"""In-memory span recorder and the wrappers the benchmark places around
the program's public functions.  Nothing here changes what the program
computes: each wrapper calls the original and records when it ran.

Wrappers are installed at process start in traced runs and stay dormant
(one attribute test per call) until ``Tracer.enabled`` is switched on, so
the same run can measure an untraced phase and then a traced one."""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

_now = time.perf_counter


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []  # (id, parent, name, t0, t1, thread, attrs)
        self.counts: dict[str, int] = {}
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._pending: list = []  # callables giving spans that end later
        self._lock = threading.Lock()

    def current(self) -> int | None:
        stack = getattr(self._tls, "stack", None)
        return stack[-1] if stack else None

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + 1

    def record(self, name: str, t0: float, t1: float, parent: int | None = None, **attrs) -> None:
        self.spans.append((next(self._ids), parent, name, t0, t1, threading.get_ident(), attrs))

    def call(self, name: str, fn, args, kwargs, attrs=None):
        """Run ``fn`` inside a span named ``name``."""
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = _now()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = _now()
            stack.pop()
            self.spans.append((sid, parent, name, t0, t1, threading.get_ident(), attrs or {}))

    def defer(self, finalize) -> None:
        """Register a span whose end is only known later (a match loop the
        caller drives); ``finalize()`` returns the span tuple at dump."""
        self._pending.append(finalize)

    def dump(self, path: str) -> None:
        spans = list(self.spans) + [f() for f in self._pending]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"pid": os.getpid(), "spans": spans, "counts": dict(self.counts)}, f)
        os.replace(tmp, path)


TRACER = Tracer()


def wrap(owner, attr: str, name: str, attrs=None) -> None:
    """Replace ``owner.attr`` with a function that records a span around
    each call while tracing is on."""
    orig = getattr(owner, attr)
    tracer = TRACER

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return orig(*args, **kwargs)
        return tracer.call(name, orig, args, kwargs, attrs(*args, **kwargs) if attrs else None)

    setattr(owner, attr, traced)


def wrap_count(owner, attr: str, name: str) -> None:
    orig = getattr(owner, attr)
    tracer = TRACER

    @functools.wraps(orig)
    def counted(*args, **kwargs):
        if tracer.enabled:
            tracer.count(name)
        return orig(*args, **kwargs)

    setattr(owner, attr, counted)


def wrap_matcher(module) -> None:
    """``snapshot_matcher`` builds a per-request row filter that the caller
    then runs over every snapshot row.  The span runs from the build to the
    last row the filter saw; the row count comes with it."""
    orig = module.snapshot_matcher
    tracer = TRACER

    @functools.wraps(orig)
    def traced(ast):
        if not tracer.enabled:
            return orig(ast)
        t0 = _now()
        parent = tracer.current()
        tid = threading.get_ident()
        match = orig(ast)
        state = [_now(), 0]
        sid = next(tracer._ids)

        def finalize():
            return (sid, parent, "qast.snapshot_match", t0, state[0], tid, {"rows": state[1]})

        tracer.defer(finalize)

        def counted(row):
            hit = match(row)
            state[1] += 1
            state[0] = _now()
            return hit

        return counted

    module.snapshot_matcher = traced


class _TimedFile:
    """LocalStore.fetch result: the span covers open through read."""

    def __init__(self, f, t0: float, parent):
        self._f, self._t0, self._parent = f, t0, parent

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()
        return False

    def read(self, *args):
        data = self._f.read(*args)
        TRACER.record("store.fetch", self._t0, _now(), self._parent, bytes=len(data))
        return data

    def __getattr__(self, name):
        return getattr(self._f, name)


def wrap_fetch(store_cls) -> None:
    orig = store_cls.fetch

    @functools.wraps(orig)
    def traced(self, cid):
        if not TRACER.enabled:
            return orig(self, cid)
        t0 = _now()
        return _TimedFile(orig(self, cid), t0, TRACER.current())

    store_cls.fetch = traced


class _TimedFrame:
    """Catalog.find result: the span covers plan construction through
    the caller's collect()."""

    def __init__(self, df, t0: float, parent):
        self._df, self._t0, self._parent = df, t0, parent

    def collect(self):
        rows = self._df.collect()
        TRACER.record("catalog.find", self._t0, _now(), self._parent, rows=len(rows))
        return rows

    def __getattr__(self, name):
        return getattr(self._df, name)


def wrap_catalog_find(catalog_cls) -> None:
    orig = catalog_cls.find

    @functools.wraps(orig)
    def traced(self, ast):
        if not TRACER.enabled:
            return orig(self, ast)
        t0 = _now()
        return _TimedFrame(orig(self, ast), t0, TRACER.current())

    catalog_cls.find = traced


def wrap_handler_factory(owner, attr: str, name: str) -> None:
    """Wrap do_GET/do_POST of the request-handler class a factory builds."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def factory(*args, **kwargs):
        cls = orig(*args, **kwargs)
        wrap(cls, "do_GET", name)
        wrap(cls, "do_POST", name)
        return cls

    setattr(owner, attr, factory)


def _submitted_bytes(*args, **kwargs) -> dict:
    return {"bytes": len(json.dumps([args[1:], kwargs], default=str))}


def install_primary() -> None:
    """Spans in the primary process (ComlakeServer + Catalog + Spark)."""
    import comlake_core_spark.catalog.catalog as catalog_mod
    import comlake_core_spark.extract.reader as reader_mod
    import comlake_core_spark.findsql as findsql_mod
    import comlake_core_spark.server as server_mod
    from comlake_core_spark.catalog import Catalog
    from comlake_core_spark.server import ComlakeServer, RowStream
    from comlake_core_spark.store.local import LocalStore

    for op in ("op_find", "op_get", "op_save", "op_add_dataset", "op_update", "op_schema"):
        wrap(ComlakeServer, op, f"server.{op}")
    wrap_handler_factory(ComlakeServer, "_make_handler", "server.request")

    orig_extract = ComlakeServer.op_extract

    @functools.wraps(orig_extract)
    def op_extract(self, cid, ast):
        if not TRACER.enabled:
            return orig_extract(self, cid, ast)
        t0 = _now()
        status, payload = TRACER.call("server.op_extract", orig_extract, (self, cid, ast), {})
        if isinstance(payload, RowStream):
            payload.rows = _drain(payload.rows, t0)
        return status, payload

    ComlakeServer.op_extract = op_extract

    orig_snapshot = ComlakeServer._snapshot

    @functools.wraps(orig_snapshot)
    def snapshot(self):
        if TRACER.enabled and self._find_snap is None:
            return TRACER.call("catalog.snapshot_rebuild", orig_snapshot, (self,), {})
        return orig_snapshot(self)

    ComlakeServer._snapshot = snapshot

    for op in ("upsert_content", "add_dataset", "update_dataset", "set_schema"):
        wrap(Catalog, op, f"catalog.commit.{op}", attrs=_submitted_bytes)
    wrap_catalog_find(Catalog)
    wrap(catalog_mod, "compile_predicate", "qast.compile")
    wrap(reader_mod, "compile_predicate", "qast.compile")
    wrap(server_mod, "extract", "extract.plan")
    wrap(server_mod, "cached_schema", "extract.schema")
    wrap_matcher(server_mod)
    _install_findsql(findsql_mod)
    wrap(LocalStore, "add", "store.add")
    wrap_fetch(LocalStore)


def _drain(rows, t0: float):
    parent = TRACER.current()
    n = 0
    for row in rows:
        n += 1
        yield row
    TRACER.record("extract.drain", t0, _now(), parent, rows=n, aux=1)


def _install_findsql(findsql_mod) -> None:
    wrap(findsql_mod.DuckFinder, "find", "findsql.find")
    wrap(findsql_mod.DuckFinder, "find_encoded", "findsql.find")
    wrap_count(findsql_mod, "render_find_where", "findsql.render")


def install_worker() -> None:
    """Spans in a Spark-free serving worker."""
    import comlake_core_spark.findsql as findsql_mod
    import comlake_core_spark.serving as serving_mod
    from comlake_core_spark.store.local import LocalStore

    wrap_handler_factory(serving_mod, "_make_worker_handler", "serving.request")
    wrap_matcher(serving_mod)
    _install_findsql(findsql_mod)
    wrap_fetch(LocalStore)


# ---------------------------------------------------------------------------
# analysis
# ---------------------------------------------------------------------------


def self_times(spans: list) -> dict[int, float]:
    """Per-span self time: duration minus the union of its children's
    intervals (clipped to the parent).  Auxiliary spans (measurements
    that are not a call boundary) are neither parents nor children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[1] is not None and not s[6].get("aux"):
            kids.setdefault(s[1], []).append((s[3], s[4]))
    out: dict[int, float] = {}
    for s in spans:
        if s[6].get("aux"):
            continue
        t0, t1 = s[3], s[4]
        covered, end = 0.0, t0
        for a, b in sorted(kids.get(s[0], ())):
            a, b = max(a, end), min(b, t1)
            if b > a:
                covered += b - a
                end = b
        out[s[0]] = max(t1 - t0 - covered, 0.0)
    return out
