"""Bounded process-lifetime memos (r11, ADVICE #4 / VERDICT #7).

The compile-latency memos (expression trees, scan metadata, sampled
JSON schemas, uniqueness probes) are keyed on values that grow without
bound in a long-lived service — every distinct literal, every (path,
mtime, size) revision — so each memo is capped LRU-style: every hit
(``m[k]`` or ``m.get(k)``) refreshes recency, and inserts past
``maxsize`` evict the least recently used entry. Eviction only ever
costs a rebuild of an identical value (the documented contract of every
consumer), so a racing reader under the compile thread pool is safe:
each OrderedDict operation is GIL-atomic, and the worst interleaving is
an extra rebuild.
"""

from __future__ import annotations

from collections import OrderedDict


class BoundedMemo(OrderedDict):
    """OrderedDict with LRU eviction at ``maxsize`` entries."""

    def __init__(self, maxsize: int) -> None:
        super().__init__()
        self._maxsize = maxsize

    def __getitem__(self, key):
        value = super().__getitem__(key)
        try:
            self.move_to_end(key)
        except KeyError:      # evicted by a concurrent insert
            pass
        return value

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default

    def __setitem__(self, key, value) -> None:
        super().__setitem__(key, value)
        try:
            self.move_to_end(key)
        except KeyError:
            pass
        while len(self) > self._maxsize:
            try:
                self.popitem(last=False)
            except KeyError:
                break
