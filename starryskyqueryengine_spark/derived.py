"""The one owner of dataset-derived state: anything the engine builds
once from a dataset and then serves many times.

Two lifetimes live here.

* In-process, per session: :func:`memo`.  Fixture DataFrame plans,
  trained IVF centroids and BPE merge tables are memoized per
  ``SparkSession`` and keyed by ``(kind, path)``.  Plans are memoized
  because ``spark.read.parquet`` re-infers the schema on every call (a
  footer read plus DataSource resolution, ~0.1 s), and even with a
  given schema the resolution is ~20-30 ms of py4j traffic; a catalog
  lap loads fixtures hundreds of times.  A DataFrame is an immutable
  lazy plan, so handing every caller in one session the same plan
  object is semantically identical to re-deriving it.  Only plans and
  learned tables are kept, never query results.
* On disk, per uid: :func:`owned_dir`.  Persisted artifacts (the BM25
  index, the Z-order layout) live in a per-uid directory under the
  shared temp dir whose name carries the dataset fingerprint.
  :func:`assert_owned` refuses a directory owned by another uid, so a
  pre-planted directory at the predictable path is never trusted as a
  cache nor written into.  Callers re-run it at each trust point (just
  before an existing marker file makes them serve the artifact).

Freshness is one rule for both: :func:`fingerprint` stats the source
file, or every file under a directory dataset recursively, so an
in-place rewrite of a nested part file is seen.  A memo entry stores
the fingerprint it was built from and the newest fingerprint wins: a
lookup that sees a different one rebuilds and *replaces* the entry.
A rewritten dataset is therefore never served stale, and the memo
holds at most one entry per session, kind and dataset however often
the dataset is rewritten.  :func:`reset` forgets everything memoized.
"""

from __future__ import annotations

import hashlib
import os
import stat
import tempfile
import weakref

_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def fingerprint(path) -> tuple | None:
    """Stat fingerprint of a file, or of a directory dataset walked
    recursively; ``None`` when the path cannot be stat'ed."""
    path = str(path)
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        return tuple(sorted(_walk(path, len(path))))
    except OSError:
        return None


def _walk(top: str, cut: int):
    with os.scandir(top) as it:
        for e in it:
            if e.is_dir():
                yield from _walk(e.path, cut)
            else:
                st = e.stat()
                yield (e.path[cut:], st.st_mtime_ns, st.st_size)


def memo(spark, kind: str, path, build):
    """``build()``'s value, memoized per session under ``(kind, path)``
    while ``path``'s fingerprint holds.  ``path=None`` is session state
    with no dataset behind it.  An unstat-able path is never memoized."""
    fp = () if path is None else fingerprint(path)
    if fp is None:
        return build()
    # a memoized plan references its session, so the weak key alone
    # never drops: forget the sessions whose SparkContext has stopped
    for s in [s for s in _MEMO if s.sparkContext._jsc is None]:
        del _MEMO[s]
    try:
        entries = _MEMO.setdefault(spark, {})
    except TypeError:  # session object that cannot be weakly referenced
        return build()
    hit = entries.get((kind, path))
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    entries[(kind, path)] = (fp, value)
    return value


def reset() -> None:
    """Forget every memoized value in every session."""
    _MEMO.clear()


def _uid() -> int:
    return os.getuid() if hasattr(os, "getuid") else 0


def owned_dir(prefix: str, src) -> str:
    """This uid's cache dir for an artifact built from dataset ``src``;
    a rewritten ``src`` gets a new dir.  Gated by :func:`assert_owned`."""
    tag = hashlib.md5(f"{src}|{fingerprint(src)}".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_u{_uid()}_{tag}")
    assert_owned(path)
    return path


def assert_owned(path: str) -> None:
    """Refuse a cache dir owned by another uid.  stat() directly: a
    missing dir is the normal build-fresh case, and an exists()+stat()
    pair would raise if the dir vanished between the two calls."""
    uid = _uid()
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return
    if getattr(st, "st_uid", uid) != uid:
        raise PermissionError(
            f"cache dir {path} is owned by uid {st.st_uid}, not {uid}"
            f" — refusing to use it"
        )
