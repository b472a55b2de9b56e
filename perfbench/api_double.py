"""Local HTTP double of the sessions API.

Speaks the wire protocol ``sources.api_source.HttpSessionService`` speaks:
``GET /sessions?skip=S&limit=L&filters=<date_range,d1,d2||t1,t2>`` with a
``Bearer`` token, answered with ``{"items": [...]}`` in publication order.
One server thread serves requests one at a time, so service time adds up
the way a single API backend's would. ``publish`` makes another day of
sessions visible; the double counts pages and the time spent serving them.
"""

from __future__ import annotations

import http.server
import json
import threading
import time
import urllib.parse

TOKEN = "perfbench-token"


class SessionsApiDouble:
    def __init__(self):
        self._rows: list[dict] = []
        self._lock = threading.Lock()
        self.pages = 0
        self.service_s = 0.0
        self.served_ids: set[str] = set()
        self.errors = 0
        double = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - stdlib naming
                t0 = time.perf_counter()
                status, body = double._answer(self.path,
                                              self.headers.get("Authorization"))
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                with double._lock:
                    double.service_s += time.perf_counter() - t0

            def log_message(self, *args):
                pass

        self._server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
        self.endpoint = f"http://127.0.0.1:{self._server.server_address[1]}"
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="sessions-api-double", daemon=True)
        self._thread.start()

    def publish(self, rows: list[dict]) -> None:
        with self._lock:
            self._rows.extend(rows)

    def _answer(self, path: str, auth: str | None) -> tuple[int, bytes]:
        url = urllib.parse.urlparse(path)
        if auth != f"Bearer {TOKEN}":
            with self._lock:
                self.errors += 1
            return 401, b'{"detail": "Not authenticated"}'
        if url.path.rstrip("/") != "/sessions":
            with self._lock:
                self.errors += 1
            return 404, b'{"detail": "Not Found"}'
        qs = urllib.parse.parse_qs(url.query)
        skip, limit = int(qs["skip"][0]), int(qs["limit"][0])
        # "date_range,d1,d2||t1,t2" - the only term the stream reader sends
        rng = qs["filters"][0].split("±")[0]
        dates, _, times = rng.partition("||")
        _, d1, d2 = dates.split(",")
        t1, t2 = times.split(",") if times else ("00:00", "23:59")
        with self._lock:
            hits = [r for r in self._rows
                    if d1 <= r["start_dt"][:10] <= d2
                    and t1 <= r["start_dt"][11:16] <= t2]
            page = hits[skip:skip + limit]
            self.pages += 1
            self.served_ids.update(r["id"] for r in page)
        return 200, json.dumps({"items": page}).encode()

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
