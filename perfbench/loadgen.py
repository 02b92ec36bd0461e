"""Closed-loop HTTP load generator for the hot-path serving phases.

Runs as its own process so that client work does not share the serving
process's interpreter lock. Reads a JSON plan from stdin:

    {"url": "http://127.0.0.1:PORT", "clients": 2,
     "phases": [{"route": "status", "n": 60, "cap_s": 32.0,
                 "requests": [["GET", "/api/worker/u1/status", null], ...]}]}

Each client thread sends its next request only after the previous reply
arrived, cycling through the phase's request list, until ``n`` requests
were sent or ``cap_s`` seconds passed. Prints one JSON object: per phase, the list of
``[latency_ms, http_status, path, body]``.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.error
import urllib.request


def _send(url: str, method: str, path: str, body) -> tuple[int, str]:
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(
        url + path, data=data, method=method, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read().decode()
    except OSError as exc:
        return 0, repr(exc)


def run_phase(url: str, clients: int, phase: dict) -> list:
    requests = phase["requests"]
    n, cap_s = int(phase["n"]), float(phase["cap_s"])
    results: list = []
    lock = threading.Lock()
    counter = [0]
    start = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                if counter[0] >= n or time.perf_counter() - start >= cap_s:
                    return
                method, path, body = requests[counter[0] % len(requests)]
                counter[0] += 1
            t0 = time.perf_counter()
            status, text = _send(url, method, path, body)
            ms = (time.perf_counter() - t0) * 1000.0
            with lock:
                results.append([ms, status, path, text])

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def main() -> None:
    plan = json.load(sys.stdin)
    out = {
        p["route"]: run_phase(plan["url"], int(plan["clients"]), p)
        for p in plan["phases"]
    }
    json.dump(out, sys.stdout)


if __name__ == "__main__":
    main()
