"""In-memory span tracer for the traced (``--trace 1``) run.

The tracer patches public functions of the engine's modules from the
outside: the engine itself is never edited. A function imported by name
into another module is patched at every import site, so
``ingest.compile_all_conditions`` and ``serving.keyset_page`` are traced
exactly where they are called.

Each span records name, start, end, parent span, request id and the
py4j calls made on its thread while it was the innermost span. Spans
stay in memory and are written once, after the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time

REQUEST_ID_HEADER = "x-bench-request-id"
DUE_HEADER = "x-bench-due"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.unattributed_py4j = 0

    # -- span stack ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid: str | None) -> None:
        self._local.rid = rid

    def start(self, name: str, **attrs) -> dict:
        st = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": st[-1]["id"] if st else None,
            "rid": getattr(self._local, "rid", None),
            "thread": threading.get_ident(),
            "py4j": 0,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        st.append(span)
        return span

    def end(self, span: dict, error: BaseException | None = None) -> None:
        span["end"] = time.perf_counter()
        if error is not None:
            span["error"] = type(error).__name__
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        self.spans.append(span)  # list.append is atomic under the GIL

    def count_py4j(self) -> None:
        st = getattr(self._local, "stack", None)
        if st:
            st[-1]["py4j"] += 1  # the stack is this thread's own
        else:
            with self._lock:
                self.unattributed_py4j += 1

    # -- patching -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_call=None):
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``on_call(span, args, kwargs, result)`` may add attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.start(name)
            err = None
            try:
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(span, args, kwargs, result)
                return result
            except BaseException as e:
                err = e
                raise
            finally:
                tracer.end(span, err)

        setattr(owner, attr, wrapper)
        return orig, wrapper

    def wrap_everywhere(self, module, attr: str, name: str, package: str, on_call=None):
        """Wrap ``module.attr`` and rebind every module of ``package``
        that imported it by name."""
        orig, wrapper = self.wrap(module, attr, name, on_call)
        for mod_name, mod in list(sys.modules.items()):
            if mod is module or not mod_name.startswith(package) or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapper)

    def count_py4j_calls(self) -> None:
        """Count every py4j command, attributing it to the innermost span
        of the sending thread."""
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                tracer.count_py4j()
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command

    # -- analysis -----------------------------------------------------------

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "unattributed_py4j": self.unattributed_py4j}, f)


def dur_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def self_ms(span: dict, kids: dict, only=None) -> float:
    """Span duration minus its direct children (all, or those whose name
    starts with one of ``only``)."""
    sub = sum(
        dur_ms(c) for c in kids.get(span["id"], ())
        if only is None or c["name"].startswith(only)
    )
    return dur_ms(span) - sub


def inclusive_py4j(span: dict, kids: dict) -> int:
    return span["py4j"] + sum(inclusive_py4j(c, kids) for c in kids.get(span["id"], ()))


def measure_overhead(n: int = 20000) -> dict:
    """Cost of one traced span and one counted py4j call, measured on a
    no-op function in this process (microseconds)."""
    t = Tracer()

    class Box:
        @staticmethod
        def f():
            return None

    base = time.perf_counter()
    for _ in range(n):
        Box.f()
    plain = time.perf_counter() - base
    t.wrap(Box, "f", "noop")
    base = time.perf_counter()
    for _ in range(n):
        Box.f()
    wrapped = time.perf_counter() - base
    base = time.perf_counter()
    for _ in range(n):
        t.count_py4j()
    counted = time.perf_counter() - base
    return {
        "span_us": (wrapped - plain) / n * 1e6,
        "py4j_us": counted / n * 1e6,
    }
