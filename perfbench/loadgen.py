"""Single-process, selector-driven closed-loop HTTP/1.1 load generator.

Each session owns one keep-alive connection and sends its next request
only after the previous response has fully arrived.  A request is timed
from the first byte sent to the last byte received.  Every connection is
re-opened after a fixed number of requests or a fixed time, whichever
comes first, so the kernel's SO_REUSEPORT placement of connections on
the primary and the read workers averages out within a run (slow
requests included) instead of fixing one split for the whole run."""

from __future__ import annotations

import selectors
import socket
import time
from dataclasses import dataclass

_RECV = 1 << 20


@dataclass
class Request:
    kind: str
    method: str
    path: str
    body: bytes | None = None
    ctype: str | None = None
    expected: object = None


class Session:
    """One closed-loop client: ``next`` gives the next request (None ends
    the session), ``complete`` receives the response (status 0 = the
    connection failed before a full response arrived)."""

    def next(self) -> Request | None:
        raise NotImplementedError

    def complete(self, req: Request, status: int, body: bytes, t0: float, t1: float) -> None:
        raise NotImplementedError


class _Conn:
    __slots__ = ("session", "sock", "out", "sent", "buf", "req", "t0", "served", "opened",
                 "head_end", "status", "clen", "chunked", "cpos", "cbody", "deadline")

    def __init__(self, session: Session):
        self.session = session
        self.sock = None
        self.served = 0

    def reset_response(self) -> None:
        self.buf = bytearray()
        self.head_end = -1
        self.status = 0
        self.clen = -1
        self.chunked = False
        self.cpos = 0
        self.cbody = []


def _encode(req: Request) -> bytes:
    lines = [f"{req.method} {req.path} HTTP/1.1", "Host: 127.0.0.1"]
    if req.body is not None:
        lines.append(f"Content-Length: {len(req.body)}")
        lines.append(f"Content-Type: {req.ctype or 'application/json'}")
    head = ("\r\n".join(lines) + "\r\n\r\n").encode()
    return head + req.body if req.body is not None else head


def _parse(c: _Conn) -> bytes | None:
    """Advance the response parser; returns the body once complete."""
    buf = c.buf
    if c.head_end < 0:
        he = buf.find(b"\r\n\r\n")
        if he < 0:
            return None
        c.head_end = he + 4
        head = bytes(buf[:he]).decode("latin-1")
        c.status = int(head[9:12])
        for line in head.split("\r\n")[1:]:
            name, _, value = line.partition(":")
            name = name.strip().lower()
            if name == "content-length":
                c.clen = int(value)
            elif name == "transfer-encoding" and "chunked" in value.lower():
                c.chunked = True
        c.cpos = c.head_end
    if not c.chunked:
        end = c.head_end + max(c.clen, 0)
        return bytes(buf[c.head_end:end]) if len(buf) >= end else None
    while True:  # chunked: <hex size>\r\n<data>\r\n ... 0\r\n\r\n
        le = buf.find(b"\r\n", c.cpos)
        if le < 0:
            return None
        size = int(bytes(buf[c.cpos:le]).split(b";")[0], 16)
        if size == 0:
            if len(buf) < le + 4:
                return None
            return b"".join(c.cbody)
        if len(buf) < le + 2 + size + 2:
            return None
        c.cbody.append(bytes(buf[le + 2:le + 2 + size]))
        c.cpos = le + 2 + size + 2


def run(port: int, sessions: list[Session], reconnect_every: int,
        reconnect_after_s: float = float("inf"), timeout: float = 150.0) -> None:
    """Drive every session until each returns None from ``next``; a
    connection is re-opened before its next request once it has served
    ``reconnect_every`` requests or been open ``reconnect_after_s``."""
    sel = selectors.DefaultSelector()

    def open_conn(c: _Conn) -> None:
        c.sock = socket.create_connection(("127.0.0.1", port))
        c.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        c.sock.setblocking(False)
        c.served = 0
        c.opened = time.perf_counter()

    def close_conn(c: _Conn) -> None:
        if c.sock is not None:
            try:
                sel.unregister(c.sock)
            except (KeyError, ValueError):
                pass
            c.sock.close()
            c.sock = None

    def start(c: _Conn) -> None:
        req = c.session.next()
        if req is None:
            close_conn(c)
            return
        c.req = req
        if (c.sock is None or c.served >= reconnect_every
                or time.perf_counter() - c.opened >= reconnect_after_s):
            close_conn(c)
            try:
                open_conn(c)
            except OSError:  # server gone: record the failure, end the session
                c.sock = None
                now = time.perf_counter()
                c.session.complete(req, 0, b"", now, now)
                return
        c.out = memoryview(_encode(req))
        c.sent = 0
        c.reset_response()
        c.t0 = time.perf_counter()
        c.deadline = c.t0 + timeout
        sel.register(c.sock, selectors.EVENT_WRITE, c)
        send(c)

    def fail(c: _Conn) -> None:
        t1 = time.perf_counter()
        close_conn(c)
        c.session.complete(c.req, 0, b"", c.t0, t1)
        start(c)

    def send(c: _Conn) -> None:
        try:
            while c.sent < len(c.out):
                c.sent += c.sock.send(c.out[c.sent:])
        except BlockingIOError:
            return
        except OSError:
            fail(c)
            return
        sel.modify(c.sock, selectors.EVENT_READ, c)

    def receive(c: _Conn) -> None:
        try:
            data = c.sock.recv(_RECV)
        except BlockingIOError:
            return
        except OSError:
            fail(c)
            return
        if not data:
            fail(c)
            return
        c.buf += data
        body = _parse(c)
        if body is None:
            return
        t1 = time.perf_counter()
        sel.unregister(c.sock)
        c.served += 1
        c.session.complete(c.req, c.status, body, c.t0, t1)
        start(c)

    conns = [_Conn(s) for s in sessions]
    for c in conns:
        start(c)
    while sel.get_map():
        for key, mask in sel.select(0.25):
            c = key.data
            if c.sock is None or key.fileobj is not c.sock:
                continue
            if mask & selectors.EVENT_WRITE:
                send(c)
            elif mask & selectors.EVENT_READ:
                receive(c)
        now = time.perf_counter()
        for c in conns:
            if c.sock is not None and now > c.deadline:
                fail(c)
    sel.close()
