"""A fake Gather project API over loopback HTTP, plus the client
transport the engine's REST source and sink call through.

Run as its own process::

    python3 gather_fake.py --projects projects.json

It prints ``port=<n>`` on its first stdout line and serves until
stdin closes (so it cannot outlive the benchmark that started it).
Every request sleeps ``DELAY_MS`` (a fixed service time that does not
spin a core) and is served by a fixed pool of ``THREADS`` threads;
connections beyond that wait in the listen backlog.

Routes (the shapes ``sync/engine.py`` sends):

- ``GET /projects/{active|archived}?page=&limit=``  paginated lists
- ``POST /projects?idempotency_key=``               insert
- ``PUT /projects/{id}/metadata?idempotency_key=``  update file metadata
- ``POST /projects/{id}/archive?idempotency_key=``  archive
- ``POST /_reset``  restore the initial table, zero every counter
- ``POST /_run``    start a new sync run (scopes retry counting)
- ``GET /_state``   the table and the counters

A mutating request whose idempotency key was already applied is
replayed, not re-applied: it changes nothing and counts as a no-op.
The same key twice within one run counts as a retry.
"""

from __future__ import annotations

import argparse
import copy
import http.client
import json
import socketserver
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler
from urllib.parse import parse_qs, urlsplit

DELAY_MS = 2.0
THREADS = 16


class Store:
    """The project table and the request counters; callers hold ``lock``."""

    def __init__(self, projects: list[dict]) -> None:
        self.initial = projects
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.projects = {p["id"]: copy.deepcopy(p) for p in self.initial}
        self.next_id = max(self.projects, default=0) + 1
        self.applied_keys: set[str] = set()
        self.run_keys: set[str] = set()
        self.insert_keys: dict[str, int] = {}
        self.in_flight = 0
        self.counters = dict.fromkeys(
            ("get", "sink", "noop", "retry", "failed", "max_in_flight"), 0
        )

    def listing(self, archived: bool, page: int, limit: int) -> list[dict]:
        rows = [p for _, p in sorted(self.projects.items()) if p["archived"] == archived]
        return rows[page * limit : (page + 1) * limit]

    def write(self, method: str, parts: list[str], key: str, body) -> tuple[int, object]:
        """Apply one sink request; returns (status, response)."""
        c = self.counters
        c["sink"] += 1
        if key in self.run_keys:
            c["retry"] += 1
        self.run_keys.add(key)
        if method == "POST" and parts == ["projects"]:
            self.insert_keys[key] = self.insert_keys.get(key, 0) + 1
        if key in self.applied_keys:
            c["noop"] += 1
            return 200, {}
        if method == "POST" and parts == ["projects"]:
            pid, self.next_id = self.next_id, self.next_id + 1
            self.projects[pid] = {
                "id": pid,
                "metadata": {"iam": "gatherbot", "file": body["metadata"]["file"]},
                "archived": False,
            }
            changed = True
        else:
            routed = len(parts) == 3 and parts[0] == "projects" and parts[1].isdigit()
            pid = int(parts[1]) if routed else -1
            project = self.projects.get(pid)
            if project is None or parts[2] not in ("metadata", "archive"):
                c["failed"] += 1
                return 404, {"error": f"no route for {method} /{'/'.join(parts)}"}
            if parts[2] == "archive":
                changed = not project["archived"]
                project["archived"] = True
            else:
                new = body["metadata"]["file"]
                changed = project["metadata"].get("file") != new
                project["metadata"]["file"] = new
        self.applied_keys.add(key)
        if not changed:
            c["noop"] += 1
        return 200, {}

    def state(self) -> dict:
        return {
            "projects": list(self.projects.values()),
            "insert_keys_repeated": sorted(k for k, n in self.insert_keys.items() if n > 1),
            "counters": dict(self.counters),
        }


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"
    store: Store

    def log_message(self, *args) -> None:  # quiet
        pass

    def _reply(self, status: int, payload) -> None:
        data = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _handle(self, method: str) -> None:
        url = urlsplit(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        parts = [p for p in url.path.split("/") if p]
        n = int(self.headers.get("Content-Length") or 0)
        body = json.loads(self.rfile.read(n)) if n else None
        st = self.store
        if parts and parts[0].startswith("_"):
            with st.lock:
                if parts == ["_reset"]:
                    st.reset()
                    return self._reply(200, {})
                if parts == ["_run"]:
                    st.run_keys = set()
                    return self._reply(200, {})
                if parts == ["_state"]:
                    return self._reply(200, st.state())
            return self._reply(404, {})
        with st.lock:
            st.in_flight += 1
            st.counters["max_in_flight"] = max(st.counters["max_in_flight"], st.in_flight)
        try:
            time.sleep(DELAY_MS / 1000.0)
            with st.lock:
                if method == "GET" and len(parts) == 2 and parts[0] == "projects":
                    st.counters["get"] += 1
                    rows = st.listing(
                        parts[1] == "archived", int(q.get("page", 0)), int(q.get("limit", 1000))
                    )
                    status, payload = 200, rows
                elif method in ("POST", "PUT") and "idempotency_key" in q:
                    status, payload = st.write(method, parts, q["idempotency_key"], body)
                else:
                    st.counters["failed"] += 1
                    status, payload = 404, {"error": "no route"}
        finally:
            with st.lock:
                st.in_flight -= 1
        self._reply(status, payload)

    def do_GET(self) -> None:
        self._handle("GET")

    def do_POST(self) -> None:
        self._handle("POST")

    def do_PUT(self) -> None:
        self._handle("PUT")


class PooledServer(socketserver.TCPServer):
    """TCPServer whose requests run on a fixed-size thread pool."""

    allow_reuse_address = True
    request_queue_size = 256

    def __init__(self, addr, handler) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=THREADS)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class HttpTransport:
    """The engine's ``Transport``: ``(method, path, body) -> json``.
    One connection per request; raises on any non-2xx status."""

    def __init__(self, port: int, timeout: float = 30.0) -> None:
        self.port, self.timeout = port, timeout

    def __call__(self, method: str, path: str, body=None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.timeout)
        try:
            data = None if body is None else json.dumps(body).encode()
            headers = {} if data is None else {"Content-Type": "application/json"}
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            payload = json.loads(resp.read() or b"null")
            if resp.status >= 300:
                raise RuntimeError(f"{method} {path} -> {resp.status}: {payload}")
            return payload
        finally:
            conn.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--projects", required=True)
    args = ap.parse_args()
    with open(args.projects) as fh:
        Handler.store = Store(json.load(fh))
    server = PooledServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    print(f"port={server.server_address[1]}", flush=True)
    sys.stdin.read()  # EOF: the parent is gone or done
    server.shutdown()
    server.pool.shutdown(wait=True)
    server.server_close()


if __name__ == "__main__":
    main()
