"""Open-loop HTTP load client for the serving workload, run as its own
process.

Usage: python client.py <plan.json> <out.json>

``plan.json`` holds ``{"base": url, "connections": n, "requests":
[[due_s, path], ...], "keep_bodies": [index, ...]}``. Requests are sent on
their Poisson schedule regardless of earlier replies, over at most
``connections`` concurrent connections; when every connection is busy a
due request waits, and that wait counts in its latency, which runs from
the moment the request was due. ``out.json`` gets one record per request:
due, lateness of the send, latency, HTTP status and, for the indices in
``keep_bodies``, the decoded reply.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time
from urllib.parse import urlparse


def run(plan: dict) -> list[dict]:
    url = urlparse(plan["base"])
    reqs = plan["requests"]
    keep = set(plan.get("keep_bodies", []))
    out: list[dict | None] = [None] * len(reqs)
    lock = threading.Lock()
    cursor = [0]
    t0 = time.monotonic() + 0.2  # let every worker reach its first wait

    def worker() -> None:
        while True:
            with lock:
                i = cursor[0]
                cursor[0] += 1
            if i >= len(reqs):
                return
            due, path = reqs[i]
            delay = t0 + due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            sent = time.monotonic()
            rec = {"i": i, "due": due, "late_ms": (sent - t0 - due) * 1000}
            conn = http.client.HTTPConnection(url.hostname, url.port, timeout=60)
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
                rec["status"] = resp.status
                if i in keep:
                    rec["body"] = json.loads(body)
            except (OSError, http.client.HTTPException, ValueError) as e:
                rec["status"] = 0
                rec["error"] = repr(e)
            finally:
                conn.close()
            done = time.monotonic()
            rec["latency_ms"] = (done - t0 - due) * 1000
            rec["service_ms"] = (done - sent) * 1000
            out[i] = rec

    threads = [threading.Thread(target=worker) for _ in range(plan["connections"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for r in out if r is not None]


def main() -> int:
    with open(sys.argv[1]) as fh:
        plan = json.load(fh)
    records = run(plan)
    with open(sys.argv[2], "w") as fh:
        json.dump(records, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
