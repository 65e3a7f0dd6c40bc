"""HTTP load generator, run as its own process.

Usage: python3 perfbench/loadgen.py SPEC.json RESULT.json

The spec names the server, the thread count (at most ``nproc``) and up
to three phases, run in this order:

- ``open``: requests sent at fixed due times (open loop). Latency is
  measured from each request's due time, so a stall also counts against
  the requests queued behind it; how late the sender ran is recorded.
- ``closed``: every thread walks cursor chains back to back until the
  phase's deadline (closed loop, measures capacity).
- ``single``: one client sends a fixed request list sequentially (the
  traced run's exact per-request counts come from this phase).

Nothing is retried: a timeout or connection error is a failed request.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import OpenLoopSchedule, sleep_until  # noqa: E402
from spans import DUE_HEADER, REQUEST_ID_HEADER  # noqa: E402

TIMEOUT_S = 60.0


def fetch(host: str, port: int, path: str, headers: dict) -> tuple[int, object]:
    conn = http.client.HTTPConnection(host, port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", path, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        try:
            body = json.loads(raw) if raw else None
        except ValueError:
            body = raw.decode("utf-8", "replace")[:200]
        return resp.status, body
    finally:
        conn.close()


def _send(spec: dict, req: dict, rid: str, due: float) -> dict:
    headers = dict(req.get("headers") or {})
    headers[REQUEST_ID_HEADER] = rid
    headers[DUE_HEADER] = repr(due)
    sent = time.time()
    try:
        status, body = fetch(spec["host"], spec["port"], req["path"], headers)
    except Exception as e:  # noqa: BLE001 - a failed request is a result
        status, body = -1, f"{type(e).__name__}: {e}"
    return {"rid": rid, "due": due, "sent": sent, "done": time.time(), "status": status, "body": body}


def run_open(spec: dict, phase: dict) -> list[dict]:
    sched = OpenLoopSchedule(phase["rate"], phase["start"])
    n = min(len(phase["requests"]), sched.count_until(phase["start"] + phase["seconds"]))
    q: queue.Queue = queue.Queue()
    out: list[dict] = []

    def worker():
        while True:
            i = q.get()
            if i is None:
                return
            req = phase["requests"][i]
            out.append({**_send(spec, req, req["rid"], sched.due(i)), "i": i})

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(spec["threads"])]
    for t in threads:
        t.start()
    for i in range(n):
        sleep_until(sched.due(i))
        q.put(i)
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()
    return sorted(out, key=lambda r: r["i"])


def run_closed(spec: dict, phase: dict) -> dict:
    deadline = time.time() + phase["seconds"]
    chains = phase["chains"]
    lock = threading.Lock()
    nxt = [0]
    results: list[dict] = []

    def worker():
        while time.time() < deadline:
            with lock:
                c = chains[nxt[0] % len(chains)]
                ci = nxt[0]
                nxt[0] += 1
            cursor = None
            for depth in range(c["depth"] + 1):
                path = c["path"] + (f"&cursor={cursor}" if cursor else "")
                now = time.time()
                r = _send(spec, {"path": path, "headers": c.get("headers")}, f"c{ci}.{depth}", now)
                r.update(chain=ci, depth=depth, cursor=cursor, feed=c["feed"], limit=c["limit"])
                results.append(r)
                body = r["body"]
                if r["status"] != 200 or not isinstance(body, dict) or not body.get("cursor"):
                    break
                cursor = body["cursor"]

    t0 = time.time()
    threads = [threading.Thread(target=worker, daemon=True) for _ in range(spec["threads"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"results": results, "wall_s": time.time() - t0}


def run_single(spec: dict, phase: dict) -> list[dict]:
    out = []
    for req in phase["requests"]:
        out.append(_send(spec, req, req["rid"], time.time()))
    return out


def main(spec_path: str, result_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    result: dict = {}
    if spec.get("open"):
        result["open"] = run_open(spec, spec["open"])
    if spec.get("closed"):
        result["closed"] = run_closed(spec, spec["closed"])
    if spec.get("single"):
        result["single"] = run_single(spec, spec["single"])
    tmp = result_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, result_path)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
