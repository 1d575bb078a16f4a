"""One per-application registry for the session state that makes
repeat ``tag_descriptions`` calls cheap.

Contract:

- Lifetime: the registry belongs to one Spark application. The first
  lookup after ``sc.applicationId`` changes drops every entry, so a
  stopped-and-recreated session never sees stale py4j handles.
- Size: one ordered store keyed on ``(name, key)``, capped at
  ``_MAX_ENTRIES`` and evicted least-recently-used (a hit refreshes
  its entry). An evicted entry only drops the registry's reference;
  whoever still holds the object keeps a working object.
- Purity: an entry must be a pure function of its key. ``cached_value``
  is the one memo entry point. It serves Column trees (a vocab twin
  embeds hundreds of literals, ~0.6 s of py4j round trips per
  rebuild), the tagger's UDF objects (keyed on their broadcasts'
  ``Broadcast.id``, so a repeat plan pickles identically and the
  CacheManager dedups it), constant DataFrames, and broadcasts keyed
  by their frozen content (``cached_broadcast``).
- Checkpoints: ``cached_checkpoint`` keys a ``localCheckpoint`` leaf on
  the canonicalized analyzed plan, the equality ``sameResult`` uses.
  This is persist()-style plan dedup within one session, not a result
  cache across runs. The leaves are owned by the session: never pass
  them to ``operators.curation.release_checkpoints``.
- Background count: a lazily registered checkpoint starts one daemon
  count job that materializes the leaf, in a thread that carries the
  caller's Spark local properties; ``checkpoint_count`` returns
  its result, so the caller needs no second count job.

All operations are thread-safe. A key is built once: the first caller
stores a ``Future`` under the lock and builds outside it, and
concurrent callers of the same key wait for that build. A failed build
is removed and re-raised to every waiter, so the next call retries.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from concurrent.futures import Future
from typing import Any

from pyspark import SparkContext

from ..session import inherit_local_properties

# enough for every dim, Column tree, UDF and broadcast one runner or
# tagger session resolves; bounds fuzz loops over many distinct dims
_MAX_ENTRIES = 64

_STORE: OrderedDict[tuple, Future] = OrderedDict()
_LOCK = threading.Lock()
_store_app: str | None = None


def _app_id() -> str:
    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else "<none>"


def _sync(app: str) -> None:
    """Drop the whole store when the application changed (lock held)."""
    global _store_app
    if app != _store_app:
        _STORE.clear()
        _store_app = app


def cached_value(name: str, key: Any, build: Callable[[], Any]):
    """Return the registry entry for ``(name, key)``, building it once
    per application. ``build`` must be a pure function of the key."""
    app, k = _app_id(), (name, key)
    with _LOCK:
        _sync(app)
        slot = _STORE.get(k)
        owner = slot is None
        if owner:
            slot = _STORE[k] = Future()
            while len(_STORE) > _MAX_ENTRIES:
                _STORE.popitem(last=False)
        else:
            _STORE.move_to_end(k)
    if not owner:
        return slot.result()  # waits while another caller builds it
    try:
        value = build()
    except BaseException as exc:
        with _LOCK:
            if _STORE.get(k) is slot:
                del _STORE[k]
        slot.set_exception(exc)
        raise
    slot.set_result(value)
    return value


def _freeze(value: Any) -> Any:
    if isinstance(value, dict):
        return frozenset((k, _freeze(v)) for k, v in value.items())
    if isinstance(value, (list, tuple)):
        return tuple(_freeze(v) for v in value)
    if isinstance(value, (set, frozenset)):
        return frozenset(_freeze(v) for v in value)
    return value


def cached_broadcast(sc: SparkContext, name: str, value: Any):
    """Broadcast ``value`` once per (application, content): the frozen
    content is the key, so a hit is exact equality, never hash-only."""
    return cached_value(name, _freeze(value), lambda: sc.broadcast(value))


class _Checkpoint:
    """A registered ``localCheckpoint`` leaf; ``count`` is the lazy
    registration's background count (None for an eager one)."""

    def __init__(self, df, eager: bool):
        self.leaf = df.localCheckpoint(eager=eager)
        self.count: Future | None = None
        if not eager:
            self.count = Future()
            target = inherit_local_properties(df.sparkSession, self._count)
            threading.Thread(target=target, daemon=True).start()

    def _count(self) -> None:
        try:
            self.count.set_result(self.leaf.count())
        except Exception as exc:  # surfaced by checkpoint_count
            self.count.set_exception(exc)

    def wait(self) -> int:
        try:
            return self.count.result()
        except Exception:
            return self.leaf.count()  # re-raises, or recovers a transient failure


def cached_checkpoint(df, eager: bool = True):
    """``df.localCheckpoint(eager)``, memoized per application on the
    canonicalized analyzed plan: a semantically equal DataFrame gets
    the existing leaf instead of a new materialization job. A hit
    re-applies the caller's column names when they differ (canonical
    plans ignore aliases), and ``eager=True`` waits for a lazily
    registered leaf to materialize."""
    plan = df._jdf.queryExecution().analyzed().canonicalized()
    entry = cached_value("checkpoint", plan, lambda: _Checkpoint(df, eager))
    if eager and entry.count is not None:
        entry.wait()
    if entry.leaf.columns != df.columns:
        return entry.leaf.toDF(*df.columns)
    return entry.leaf


def checkpoint_count(df) -> int:
    """Row count of a leaf returned by ``cached_checkpoint``: the
    background count of a lazily registered leaf, else a count job."""
    with _LOCK:
        slots = list(_STORE.values())
    built = (s.result() for s in slots if s.done() and s.exception() is None)
    entry = next((v for v in built if isinstance(v, _Checkpoint) and v.leaf is df), None)
    if entry is None or entry.count is None:
        return df.count()
    return entry.wait()
