"""The engine's one cache type, ``LruCache``."""

from __future__ import annotations

import threading
from collections import OrderedDict

_MISSING = object()


class LruCache:
    """A map of at most ``bound`` entries that evicts the least recently
    used one, guarded by a lock, counting ``hits`` and ``misses``.  Its
    instances: the table store (``sources.parquet_read``), each planner's
    prepared statements and the Column store (``expr``)."""

    def __init__(self, bound: int):
        self.bound = bound  # read at every put
        self.hits = self.misses = 0
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        with self._lock:
            return len(self._data)

    def get(self, key, default=None):
        with self._lock:
            value = self._data.get(key, _MISSING)
            if value is _MISSING:
                self.misses += 1
                return default
            self._data.move_to_end(key)
            self.hits += 1
            return value

    def put(self, key, value) -> None:
        with self._lock:
            self._data[key] = value
            self._data.move_to_end(key)
            while len(self._data) > self.bound:
                self._data.popitem(last=False)

    def get_or_put(self, key, make):
        """The value under ``key``, else ``make()`` stored under it;
        ``make`` runs outside the lock, so it may use this cache."""
        value = self.get(key, _MISSING)
        if value is _MISSING:
            value = make()
            self.put(key, value)
        return value

    def pop(self, key) -> None:
        with self._lock:
            self._data.pop(key, None)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()
