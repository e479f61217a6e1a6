"""Driver memo of prepared broadcasts, and the executor cache beside it.

Repeated joins against the same small side (one polygon table or road
network, many probe batches) should collect, prepare and broadcast it once.
The driver memo is keyed on the small DataFrame's identity plus the
operator's parameters. It keeps a strong reference to the DataFrame so its
``id()`` cannot be recycled while the entry lives. It holds at most
:data:`CAP` entries and evicts the oldest first. An evicted broadcast is
destroyed: dropping the ``Broadcast`` reference alone leaves its blocks on
every executor for the life of the application.

Each entry carries a fresh token. Executors key their unpacked state on it
through :func:`worker_state`. The token is never derived from ``id()``:
after an eviction CPython may hand the same id to a new DataFrame, and a
long-lived Python worker would then serve the old table's state.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Hashable

#: entries per driver memo and in each worker's cache
CAP = 8

#: executor-side state per token, kept in the reused Python worker process.
#: It must live at module level: a closure's own globals are pickled by
#: value with every task, so a cache referenced from there never hits.
_worker_states: dict[str, object] = {}


class BroadcastMemo:
    """FIFO memo of ``(broadcast, token, extra)`` per key."""

    def __init__(self):
        self._entries: dict[Hashable, tuple] = {}

    def get(self, spark, key: Hashable, anchor, build: Callable) -> tuple:
        """Return ``(broadcast, token, extra)`` for ``key``.

        On a miss ``build()`` returns ``(value, extra)``: ``value`` is
        broadcast, ``extra`` stays on the driver. ``anchor`` is the object
        whose ``id()`` is part of ``key``; the entry keeps it alive."""
        hit = self._entries.get(key)
        if hit is None:
            value, extra = build()
            bc = spark.sparkContext.broadcast(value)
            if len(self._entries) >= CAP:
                self._entries.pop(next(iter(self._entries)))[1].destroy()
            hit = self._entries[key] = (anchor, bc, uuid.uuid4().hex, extra)
        return hit[1:]


def worker_state(token: str, build: Callable):
    """Executor-side ``build()`` result for ``token``, built once per worker."""
    if token not in _worker_states:
        if len(_worker_states) >= CAP:
            _worker_states.pop(next(iter(_worker_states)))
        _worker_states[token] = build()
    return _worker_states[token]
