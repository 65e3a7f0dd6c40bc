"""Output checks: the expected feed pages and the naive store model.

Everything here is plain Python over plain rows, so a check can be
tested against a deliberately corrupted page or store without Spark.
A post is ``(uri, us, cid)`` where ``us`` is ``indexedAt`` in epoch
microseconds; a feed is served newest-first by ``(us, cid)``.
"""

from __future__ import annotations


def newest_first(rows) -> list[tuple[str, int, str]]:
    """Rows ``(uri, us, cid)`` in serving order."""
    return sorted(rows, key=lambda r: (r[1], r[2]), reverse=True)


def encode_cursor(us: int, cid: str) -> str:
    return f"{us}::{cid}"


def parse_cursor(cursor: str) -> tuple[int, str]:
    us, _, cid = cursor.partition("::")
    if not us or not cid:
        raise ValueError(f"malformed cursor {cursor!r}")
    return int(us), cid


def expected_page(order, pinned, limit: int, cursor: str | None):
    """(uris, next_cursor) that a correct server returns for one request
    against a feed whose newest-first rows are ``order``."""
    start = 0
    if cursor is not None:
        c = parse_cursor(cursor)
        start = len(order)
        for i, (_uri, us, cid) in enumerate(order):
            if (us, cid) < c:
                start = i
                break
    rows = order[start : start + limit]
    uris = (list(pinned) if cursor is None else []) + [r[0] for r in rows]
    nxt = encode_cursor(rows[-1][1], rows[-1][2]) if rows else None
    return uris, nxt


def check_page(order, pinned, limit, cursor, status, body) -> str | None:
    """None when a 200 response equals the matching slice of ``order``;
    otherwise a one-line description of the first difference."""
    if status != 200:
        return f"status {status}: {str(body)[:200]}"
    if not isinstance(body, dict) or not isinstance(body.get("feed"), list):
        return f"body without a feed list: {str(body)[:200]}"
    got = [item.get("post") for item in body["feed"]]
    want, want_cursor = expected_page(order, pinned, limit, cursor)
    if got != want:
        for i, (g, w) in enumerate(zip(got, want)):
            if g != w:
                return f"item {i}: got {g} want {w} (len {len(got)} vs {len(want)})"
        return f"page length {len(got)} != {len(want)}"
    if body.get("cursor") != want_cursor:
        return f"cursor {body.get('cursor')!r} != {want_cursor!r}"
    return None


def check_chain(pages: list[list[str]], pinned) -> str | None:
    """A cursor chain's pages never repeat a post (pinned posts, which
    lead only the first page, are excluded)."""
    seen: set[str] = set()
    for depth, uris in enumerate(pages):
        body = uris[len(pinned):] if depth == 0 else uris
        if depth > 0 and any(u in pinned for u in uris):
            return f"pinned post on page {depth}"
        dup = seen.intersection(body)
        if dup:
            return f"page {depth} repeats {sorted(dup)[:3]}"
        seen.update(body)
    return None


def check_live_page(body, pinned, first_page: bool, accepted, position) -> str | None:
    """A page served while the store is being written: ordered
    newest-first, no duplicates, only posts accepted for the feed, and
    pinned posts exactly on first pages. ``position`` maps a URI to its
    ``(us, cid)``."""
    if not isinstance(body, dict) or not isinstance(body.get("feed"), list):
        return f"body without a feed list: {str(body)[:200]}"
    uris = [item.get("post") for item in body["feed"]]
    if first_page:
        if uris[: len(pinned)] != list(pinned):
            return "first page does not start with the pinned posts"
        uris = uris[len(pinned):]
    if len(set(uris)) != len(uris):
        return "duplicate post in page"
    for u in uris:
        if u not in accepted:
            return f"post {u} was never accepted for this feed"
    keys = [position[u] for u in uris]
    if keys != sorted(keys, reverse=True):
        return "page is not newest-first"
    return None


def model_store(accepted_by_key: dict, caps: dict) -> dict[str, set]:
    """The naive store: per key, the distinct accepted rows cut to the
    newest ``caps[key]``. ``accepted_by_key`` maps key -> iterable of
    ``(uri, us, cid)``."""
    out = {}
    for key, rows in accepted_by_key.items():
        order = newest_first(set(rows))
        cap = caps.get(key)
        out[key] = {r[0] for r in (order[:cap] if cap else order)}
    return {k: v for k, v in out.items() if v}


def compare_store(actual: dict, expected: dict) -> list[str]:
    """Per-key differences between two ``key -> set(uri)`` maps."""
    problems = []
    for key in sorted(set(actual) | set(expected)):
        a, e = actual.get(key, set()), expected.get(key, set())
        if a != e:
            problems.append(
                f"key {key}: {len(a - e)} unexpected, {len(e - a)} missing"
                f" (e.g. {sorted(a - e)[:1]} / {sorted(e - a)[:1]})"
            )
    return problems
