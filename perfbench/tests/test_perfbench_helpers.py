"""Tests for the benchmark's own helpers (no Spark needed).

Run from the repo root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import loadgen  # noqa: E402
import model  # noqa: E402
from stats import (  # noqa: E402
    OpenLoopSchedule,
    bucket_deltas,
    highest_reportable_percentile,
    percentile,
    samples_beyond,
    summarize,
)

# -- percentiles -----------------------------------------------------------


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 95) == 95
    assert percentile(vals, 100) == 100
    assert percentile([7], 99) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_highest_percentile_with_ten_samples_beyond(n, expected):
    q = highest_reportable_percentile(n)
    assert q == expected
    if q is not None:
        assert samples_beyond(n, q) >= 10


def test_summarize_reports_only_supported_tail():
    s = summarize([float(i) for i in range(60)], "ms")
    assert s["n"] == 60 and "p75" in s and "p95" not in s
    assert s["p50"] == 29.0


# -- open-loop due-time accounting -------------------------------------------


def test_bucket_deltas_interpolate_between_samples():
    series = [(0.0, 0.0), (1.0, 2.0), (3.0, 2.0), (4.0, 10.0)]
    # buckets [0,2) [2,4): 2.0 then 8.0; a third would not fit in [0,5)
    assert bucket_deltas(series, 0.0, 5.0, 2.0) == [2.0, 8.0]
    # half-way between samples, and flat beyond the last one
    assert bucket_deltas(series, 0.5, 1.5, 0.5) == [1.0, 0.0]
    assert bucket_deltas(series, 4.0, 6.0, 1.0) == [0.0, 0.0]


def test_schedule_due_times():
    s = OpenLoopSchedule(rate=4.0, start=100.0)
    assert [s.due(i) for i in range(3)] == [100.0, 100.25, 100.5]
    assert s.count_until(101.0) == 4
    assert s.count_until(100.0) == 0
    assert s.latency(due=100.25, done=100.75) == 0.5
    assert s.lateness(due=100.5, sent=100.4) == 0.0


class _SlowHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        time.sleep(0.4 if self.path == "/slow" else 0.0)
        raw = b'{"ok": true}'
        self.send_response(200)
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)


@pytest.fixture()
def slow_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SlowHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()
    srv.server_close()


def test_open_loop_charges_a_stall_to_the_requests_behind_it(slow_server):
    # one sender thread, 10 req/s: the 0.4 s request delays the next ones,
    # and their latency counts from when they were due, not when sent
    reqs = [{"rid": f"r{i}", "path": "/slow" if i == 1 else "/fast"} for i in range(5)]
    start = time.time() + 0.2
    phase = {"rate": 10.0, "start": start, "seconds": 0.5, "requests": reqs}
    out = loadgen.run_open({"host": "127.0.0.1", "port": slow_server, "threads": 1}, phase)
    assert [r["rid"] for r in out] == ["r0", "r1", "r2", "r3", "r4"]
    for i, r in enumerate(out):
        assert r["due"] == pytest.approx(start + i / 10.0)
        assert r["status"] == 200
    r2 = out[2]
    assert r2["sent"] - r2["due"] > 0.25  # sent late: waited behind r1
    assert r2["done"] - r2["due"] > 0.25  # ... and that wait is in its latency
    assert out[0]["done"] - out[0]["due"] < 0.2


# -- page checks ------------------------------------------------------------------

ORDER = model.newest_first([(f"u{i}", 1000 + i // 2, f"c{i:02d}") for i in range(10)])
PINNED = ["pin1"]


def _body(uris, cursor):
    b = {"feed": [{"post": u} for u in uris]}
    if cursor:
        b["cursor"] = cursor
    return b


def test_correct_pages_pass_and_chain_never_overlaps():
    pages, cursor = [], None
    for _ in range(4):
        uris, nxt = model.expected_page(ORDER, PINNED, 3, cursor)
        assert model.check_page(ORDER, PINNED, 3, cursor, 200, _body(uris, nxt)) is None
        pages.append(uris)
        if nxt is None:
            break
        cursor = nxt
    assert model.check_chain(pages, PINNED) is None
    assert [u for p in pages for u in p if u not in PINNED] == [r[0] for r in ORDER]


def test_corrupted_pages_are_rejected():
    uris, nxt = model.expected_page(ORDER, PINNED, 4, None)
    swapped = uris[:1] + [uris[2], uris[1]] + uris[3:]
    assert model.check_page(ORDER, PINNED, 4, None, 200, _body(swapped, nxt))
    assert model.check_page(ORDER, PINNED, 4, None, 200, _body(uris[1:], nxt))  # pinned lost
    assert model.check_page(ORDER, PINNED, 4, None, 200, _body(uris, "1::x"))  # bad cursor
    assert model.check_page(ORDER, PINNED, 4, None, 500, {"error": "x"})
    second, _ = model.expected_page(ORDER, PINNED, 4, nxt)
    assert model.check_page(ORDER, PINNED, 4, nxt, 200, _body(PINNED + second, None))
    assert model.check_chain([uris, [uris[-1]] + second], PINNED)
    assert model.check_chain([uris, PINNED + second], PINNED)


def test_live_page_checks_reject_disorder_duplicates_and_strangers():
    pos = {u: (us, c) for u, us, c in ORDER}
    accepted = set(pos)
    good = [r[0] for r in ORDER[:4]]
    assert model.check_live_page(_body(PINNED + good, None), PINNED, True, accepted, pos) is None
    assert model.check_live_page(_body(good, None), PINNED, True, accepted, pos)
    assert model.check_live_page(_body(good[::-1], None), PINNED, False, accepted, pos)
    assert model.check_live_page(_body(good + good[:1], None), PINNED, False, accepted, pos)
    pos["stranger"] = (9999, "z")
    assert model.check_live_page(_body(["stranger"] + good, None), PINNED, False, accepted, pos)


# -- store model ------------------------------------------------------------------


def test_model_store_keeps_newest_per_key_and_rejects_corruption():
    rows = {"a": {(f"u{i}", 100 + i, "c") for i in range(5)}, "b": {("v", 1, "c")}}
    expected = model.model_store(rows, {"a": 3})
    assert expected == {"a": {"u4", "u3", "u2"}, "b": {"v"}}
    assert model.compare_store({"a": {"u4", "u3", "u2"}, "b": {"v"}}, expected) == []
    assert model.compare_store({"a": {"u4", "u3", "u1"}, "b": {"v"}}, expected)  # evicted wrong row
    assert model.compare_store({"a": {"u4", "u3", "u2", "u1"}, "b": {"v"}}, expected)  # over cap
    assert model.compare_store({"a": {"u4", "u3", "u2"}}, expected)  # lost a key


# -- generators --------------------------------------------------------------------


def test_generators_are_deterministic_and_cover_every_predicate_kind():
    assert gen.make_batches(5, [50, 40]) == gen.make_batches(5, [50, 40])
    assert gen.make_batches(5, [50, 40]) != gen.make_batches(6, [50, 40])
    conds = gen.make_conditions()
    kinds = {"lang", "invertRegex", "replyDisable", "labelDisable", "includeAltText", "profileMatch"}
    assert kinds <= {k for c in conds for k in c}
    assert {c.get("imageOnly") for c in conds} >= {"imageOnly", "textOnly"}
    assert len(conds) < 32  # below the data-driven threshold: compiled path
    first, second = gen.make_batches(5, [50, 40])
    old = {p[0] for p in first}
    redelivered = [p for p in second if p[0] in old]
    assert len(redelivered) == int(40 * 0.3)
    assert min(p[10] for p in second if p[0] not in old) > max(p[10] for p in first)
