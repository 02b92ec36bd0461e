"""HTTP serving edge for the dashboard/predict payloads — stdlib only.

The reference serves these payloads over FastAPI (``src/backend/
main.py:84-173``: GET ``/api/dashboard/stats``, POST ``/api/predict``).
This module is the same edge on ``http.server`` (no web framework exists
in this environment, and a serving shim shouldn't need one): routes are
injected as plain callables so the Spark side stays testable without a
socket, and the server is a throwaway thread wrapper around payloads the
engine already assembles (:mod:`serving`, :mod:`ml.pipeline`).

This is deliberately a DEV/parity edge, not a production server: real
deployments put the scoring DataFrame behind a model server — the
engine's job ends at the payload contract, which is what the tests pin.
The status route answers from an in-process index of the state
snapshot (:func:`serving.worker_status`), so a status request runs no
Spark job. A route that raises answers a JSON 500 rather than dropping
the connection.
"""

from __future__ import annotations

import json
import re
import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

HEALTH_ROUTE = "/health"
DASHBOARD_ROUTE = "/api/dashboard/stats"
PREDICT_ROUTE = "/api/predict"
WORKER_STATUS_RE = re.compile(r"^/api/worker/([^/]+)/status$")


def make_handler(
    stats_fn: Callable[[], dict[str, Any]],
    predict_fn: Callable[[dict[str, Any]], dict[str, Any]] | None = None,
    worker_status_fn: Callable[[str], dict[str, Any]] | None = None,
):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict[str, Any]) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _answer(self, fn, *args, not_found=()) -> None:
            """200 with ``fn(*args)``; a JSON 404 when it raises one of
            ``not_found``, a JSON 500 when it raises anything else."""
            try:
                payload = fn(*args)
            except not_found as e:
                self._send(404, {"detail": f"unknown {e}"})
            except Exception as e:
                self._send(500, {"detail": f"internal error: {type(e).__name__}"})
            else:
                self._send(200, payload)

        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path == HEALTH_ROUTE:
                # main.py:70-71 — load-balancer liveness probe
                self._send(200, {"status": "healthy"})
                return
            if self.path == DASHBOARD_ROUTE and stats_fn is not None:
                self._answer(stats_fn)
                return
            m = WORKER_STATUS_RE.match(self.path)
            if m and worker_status_fn is not None:
                # main.py:73-81 — "Last Pulse"; missing user returns the
                # default payload (not 404), matching the reference
                self._answer(worker_status_fn, m.group(1))
                return
            self._send(404, {"detail": "Not Found"})

        def do_POST(self):  # noqa: N802
            if self.path != PREDICT_ROUTE or predict_fn is None:
                self._send(404, {"detail": "Not Found"})
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(n) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._send(400, {"detail": "invalid JSON body"})
                return
            self._answer(predict_fn, req, not_found=KeyError)

        def log_message(self, *args):  # silence test noise
            pass

    return Handler


class ServingServer:
    """Threaded HTTP server over injected payload callables.

    ``with ServingServer(stats_fn, predict_fn) as url: ...`` — binds an
    ephemeral port, serves until exit.
    """

    def __init__(
        self, stats_fn, predict_fn=None, worker_status_fn=None, port: int = 0
    ):
        self._httpd = ThreadingHTTPServer(
            ("127.0.0.1", port),
            make_handler(stats_fn, predict_fn, worker_status_fn),
        )
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    def __enter__(self) -> str:
        self._thread.start()
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
