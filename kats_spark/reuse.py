"""One reuse layer: everything the engine keeps across calls.

Declared query plans, the corpus stage set, trained models, broadcast
indexes and shared Column trees are costly to rebuild and immutable once
built, so the engine keeps them for re-issue within one SparkContext.
Each kept object is an *entry* under one key,
``(context, namespace, params)``:

- ``context`` is ``context_key()``, the (applicationId, startTime) of the
  live SparkContext.  Unlike ``id(gateway)``, which CPython can recycle
  after GC, it is unique per context, so an entry can never hand back
  frames or broadcasts bound to a stopped context.  The first access
  from a new context drops every entry of older contexts.
- ``namespace`` names the kind of entry (``"prepared"``, ``"ml_ar"``, ...)
  and keys the hit/miss counters (``stats``).
- ``params`` is whatever else identifies the entry in its namespace.

An entry *holds* the persisted frames and broadcasts it depends on:
operators ``register`` them while the entry is built inside ``capture``
(outside a capture ``register`` is a no-op, so operators stay usable
standalone).  A hit calls ``persist()`` again on every held frame.  An
external ``spark.catalog.clearCache()`` (benchmarks do this between
reps) silently drops persist registrations, and a kept plan would
otherwise lose its materialization boundary on reuse: the duplicate
computation returns with no error.  Re-persisting is registration only;
dropped blocks recompute fresh on the next action, so no data survives
a clearCache into the next measurement.

Eviction has one path.  An entry leaves when its context is replaced,
when it falls off the least-recently-used end of ``MAX_ENTRIES``, or on
``drop``; leaving unpersists its held frames and destroys its held
broadcasts.
"""

from __future__ import annotations

from collections import OrderedDict
from contextlib import contextmanager
from typing import Any, NamedTuple

from py4j.protocol import Py4JError
from pyspark.broadcast import Broadcast

MAX_ENTRIES = 256

# (context, namespace, params) -> (value, held), least recently used first
_ENTRIES: OrderedDict = OrderedDict()
_CONTEXT: Any = None
_COUNTS: dict[str, list[int]] = {}  # namespace -> [hits, misses]
_CAPTURE: list | None = None


class Stats(NamedTuple):
    hits: int
    misses: int
    live: int


def context_key() -> tuple | None:
    """Identity of the live SparkContext (None when there is none)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else (sc.applicationId, sc.startTime)


def _context() -> tuple | None:
    global _CONTEXT
    ctx = context_key()
    if ctx != _CONTEXT:
        drop()  # every live entry belongs to the replaced context
        _CONTEXT = ctx
    return ctx


def get(namespace: str, params: Any) -> Any:
    """The value kept under ``params`` in ``namespace``, or None.  A hit
    re-registers the entry's held frames (see the module doc)."""
    key = (_context(), namespace, params)
    counts = _COUNTS.setdefault(namespace, [0, 0])
    entry = _ENTRIES.get(key)
    if entry is None:
        counts[1] += 1
        return None
    counts[0] += 1
    _ENTRIES.move_to_end(key)
    value, held = entry
    for obj in held:
        if not isinstance(obj, Broadcast):
            obj.persist()
    return value


def put(namespace: str, params: Any, value: Any, held=()) -> Any:
    """Keep ``value`` with the frames/broadcasts it ``held`` (usually the
    list ``capture`` yielded while building it); returns ``value``."""
    _ENTRIES[(_context(), namespace, params)] = (value, tuple(held))
    while len(_ENTRIES) > MAX_ENTRIES:
        _release(_ENTRIES.popitem(last=False)[1][1])
    return value


def drop(namespace: str | None = None) -> None:
    """Release every entry of ``namespace`` (of all namespaces if None)."""
    for key in [k for k in _ENTRIES if namespace is None or k[1] == namespace]:
        _release(_ENTRIES.pop(key)[1])


def stats(namespace: str) -> Stats:
    hits, misses = _COUNTS.get(namespace, (0, 0))
    return Stats(hits, misses, sum(k[1] == namespace for k in _ENTRIES))


def register(obj):
    """Hold a persisted DataFrame or a Broadcast in the entry being built
    by the innermost active ``capture`` (no-op outside one); returns
    ``obj`` for chaining."""
    if _CAPTURE is not None:
        _CAPTURE.append(obj)
    return obj


@contextmanager
def capture():
    """Collect ``register`` calls of the block into the yielded list.
    Nested captures stack; the innermost one wins."""
    global _CAPTURE
    prev, _CAPTURE = _CAPTURE, []
    try:
        yield _CAPTURE
    finally:
        _CAPTURE = prev


def _release(held) -> None:
    for obj in held:
        try:
            if isinstance(obj, Broadcast):
                obj.destroy()
            else:
                obj.unpersist()
        except (Py4JError, OSError):  # its context is already stopped
            pass
