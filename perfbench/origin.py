"""Loopback HTTP origin serving the synthetic ``sources.pages`` site.

One process, one thread: a single selector multiplexes one listening
socket per host (host ``site{h}.test`` is served on its own 127.0.0.1
port) plus the control pipe on stdin.  Rows are served as generated:
status code, content type and body; a row with ``retries_needed = r``
answers 503 to the first ``r`` of every ``r + 1`` requests, so each crawl
that fetches it retries exactly as the fixture fetch models.

Every request is counted per (host, path).  A request for a path the
host's robots.txt disallows is recorded as a violation: the crawler must
never contact such a path.

Run as ``python3 perfbench/origin.py FIRST_HOST N_HOSTS PAGES_PER_HOST
CONTENT_SCALE``.  It prints one JSON line ``{"ports": [...]}`` once
listening, then answers each ``stats`` line on stdin with one JSON line
of counters, and exits on ``quit`` or end of input.
"""

from __future__ import annotations

import json
import os
import selectors
import socket
import sys
import time
from urllib.parse import urlsplit

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inform_spark.functions.robots import RobotsMatcher  # noqa: E402
from inform_spark.sources.pages import (  # noqa: E402
    generate_host_pages,
    generate_robots,
)

REASONS = {200: "OK", 404: "Not Found", 503: "Service Unavailable"}


def _response(status: int, ctype: str, body: bytes) -> bytes:
    head = (
        f"HTTP/1.1 {status} {REASONS.get(status, 'Status')}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n"
        "Connection: close\r\n\r\n"
    )
    return head.encode() + body


class Site:
    """Responses for one host, keyed by request target (path?query)."""

    def __init__(self, h: int, pages_per_host: int, content_scale: int):
        self.pages = {}
        for row in generate_host_pages(h, pages_per_host, None, content_scale):
            parts = urlsplit(row["url"])
            target = parts.path + (f"?{parts.query}" if parts.query else "")
            self.pages[target] = row
        robots = generate_robots(h)
        self.robots_txt = robots["robots_txt"] if robots["exists"] else None
        self.matcher = (
            RobotsMatcher(robots["disallow_prefixes"]) if robots["exists"] else None
        )
        self.hits: dict[str, int] = {}

    def serve(self, target: str) -> tuple[bytes, int, bool]:
        """(response bytes, status, robots violation)."""
        n = self.hits.get(target, 0)
        self.hits[target] = n + 1
        if target == "/robots.txt":
            if self.robots_txt is None:
                return _response(404, "text/plain", b""), 404, False
            return _response(200, "text/plain", self.robots_txt.encode()), 200, False
        violation = self.matcher is not None and not self.matcher.is_allowed(target)
        row = self.pages.get(target)
        if row is None:
            return _response(404, "text/html", b""), 404, violation
        r = row["retries_needed"] or 0
        if r and n % (r + 1) < r:
            return _response(503, "text/html", b""), 503, violation
        body = (row["html"] or "").encode()
        status = row["status_code"]
        return _response(status, row["content_type"], body), status, violation


class Origin:
    def __init__(self, first_host: int, n_hosts: int, pages_per_host: int,
                 content_scale: int):
        self.sel = selectors.DefaultSelector()
        self.sites = {}
        self.ports = []
        for h in range(first_host, first_host + n_hosts):
            ls = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            ls.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            ls.bind(("127.0.0.1", 0))
            ls.listen(256)
            ls.setblocking(False)
            self.sites[h] = Site(h, pages_per_host, content_scale)
            self.sel.register(ls, selectors.EVENT_READ, ("listen", h))
            self.ports.append(ls.getsockname()[1])
        self.requests = 0
        self.by_status: dict[int, int] = {}
        self.busy_s = 0.0
        self.violations: list[str] = []

    def stats(self) -> dict:
        return {
            "requests": self.requests,
            "by_status": {str(k): v for k, v in sorted(self.by_status.items())},
            "busy_s": self.busy_s,
            "violations": self.violations,
        }

    def _accept(self, ls, h: int) -> None:
        try:
            conn, _ = ls.accept()
        except BlockingIOError:
            return
        conn.setblocking(False)
        self.sel.register(conn, selectors.EVENT_READ, ["read", h, b""])

    def _read(self, conn, state: list) -> None:
        t0 = time.perf_counter()
        try:
            chunk = conn.recv(65536)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            chunk = b""
        if not chunk:
            self.sel.unregister(conn)
            conn.close()
            return
        state[2] += chunk
        if b"\r\n\r\n" not in state[2]:
            return
        line = state[2].split(b"\r\n", 1)[0].decode("latin-1")
        parts = line.split(" ")
        target = parts[1] if len(parts) >= 2 else "/"
        site = self.sites[state[1]]
        out, status, violation = site.serve(target)
        self.requests += 1
        self.by_status[status] = self.by_status.get(status, 0) + 1
        if violation:
            self.violations.append(f"site{state[1]}.test{target}")
        self.sel.modify(conn, selectors.EVENT_WRITE, ["write", state[1], out])
        self.busy_s += time.perf_counter() - t0

    def _write(self, conn, state: list) -> None:
        t0 = time.perf_counter()
        try:
            sent = conn.send(state[2])
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            sent = len(state[2])
        state[2] = state[2][sent:]
        if not state[2]:
            self.sel.unregister(conn)
            conn.close()
        self.busy_s += time.perf_counter() - t0

    def serve_forever(self, ctl) -> None:
        os.set_blocking(ctl.fileno(), False)
        self.sel.register(ctl, selectors.EVENT_READ, ("ctl",))
        pending = b""
        while True:
            for key, _ in self.sel.select():
                tag = key.data
                if tag[0] == "listen":
                    self._accept(key.fileobj, tag[1])
                elif tag[0] == "read":
                    self._read(key.fileobj, tag)
                elif tag[0] == "write":
                    self._write(key.fileobj, tag)
                else:
                    data = os.read(ctl.fileno(), 4096)
                    if not data:
                        return
                    pending += data
                    while b"\n" in pending:
                        cmd, pending = pending.split(b"\n", 1)
                        if cmd.strip() == b"quit":
                            return
                        if cmd.strip() == b"stats":
                            print(json.dumps(self.stats()), flush=True)


def main(argv: list[str]) -> None:
    first, n, pages, scale = (int(a) for a in argv)
    origin = Origin(first, n, pages, scale)
    print(json.dumps({"ports": origin.ports}), flush=True)
    origin.serve_forever(sys.stdin)


if __name__ == "__main__":
    main(sys.argv[1:])
