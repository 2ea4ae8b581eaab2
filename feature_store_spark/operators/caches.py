"""Scoped registry for operator-internal persisted DataFrames.

Some operators persist an intermediate whose cost must not be paid twice
(LSH bucket membership, connected components' final label table).  The
persist must OUTLIVE the operator call — the caller materializes the
returned DataFrame later — so the operator cannot unpersist it itself.  Each such cache is registered here, to the
innermost active :func:`cache_scope` (released when that scope exits —
AFTER the caller materializes the output) or, outside any scope, to a
process-global list released by :func:`release_caches`.

Without one of the two, a driver loop calling such an operator once per
partition accumulates cached RDDs unbounded in a shared session (round-1
ADVICE); a global-only mechanism in turn leaked on callers that never
release and over-released on concurrent callers (round-2 ADVICE) —
scopes fix both.  Round 4 generalized this to all operators (round-3
ADVICE: connected components' checkpoint blocks lingered for the session
lifetime).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_GLOBAL_CACHES: list[DataFrame] = []
_SCOPE_STACK: list[list[DataFrame]] = []


def register_cache(df: DataFrame) -> None:
    """Register a persisted DataFrame for scoped/global release."""
    (_SCOPE_STACK[-1] if _SCOPE_STACK else _GLOBAL_CACHES).append(df)


def _unpersist_all(caches: list[DataFrame]) -> int:
    n = len(caches)
    for df in caches:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    caches.clear()
    return n


@contextmanager
def cache_scope():
    """Scope operator-internal persists to this block: every registered
    cache created inside is unpersisted on exit.  Materialize the
    operator output (write/collect) INSIDE the block — unpersisting
    first would silently recompute the expensive subtree twice (the
    persist's whole purpose)."""
    scope: list[DataFrame] = []
    _SCOPE_STACK.append(scope)
    try:
        yield scope
    finally:
        _SCOPE_STACK.remove(scope)
        _unpersist_all(scope)


def release_caches() -> int:
    """Unpersist every UNSCOPED registered cache since the last release.
    Call after the operator output is materialized (written/collected);
    returns the number released.  Caches created inside a
    :func:`cache_scope` are not touched — they belong to their scope."""
    return _unpersist_all(_GLOBAL_CACHES)
