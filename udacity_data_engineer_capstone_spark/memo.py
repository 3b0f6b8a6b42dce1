"""Session-scoped memo for one-time builds, and the per-process scratch root.

Several queries share one-time builds: a table's parquet schema, the
purchase-graph adjacency, the BFS layout, the capped LPA lists, the
staged stream sources and the IVF centroids. Each build declares one
:class:`Memo` next to its builder. The memo scopes every key by the
Spark application, builds a missing key once while concurrent callers
of that key wait for it (callers of other keys do not), bounds its
entries with LRU eviction and releases what it drops.

Directories the engine writes for one process (stagings, layouts,
sink and source directories) live under one scratch root, created on
first use under ``tempfile.gettempdir()`` and removed when the process
that created it exits.
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import tempfile
import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable

from pyspark.sql import SparkSession


class Memo:
    """A locked LRU of built values keyed by ``(applicationId, key)``.

    ``capacity=None`` never evicts. ``release(value)`` runs, outside the
    lock and with its errors swallowed, on every evicted or cleared
    entry. A stored value for which ``valid(value)`` is false is built
    again (a staged directory deleted from outside the process)."""

    def __init__(self, capacity: int | None = None, release=None, valid=None) -> None:
        self._capacity = math.inf if capacity is None else capacity
        self._release, self._valid = release or (lambda value: None), valid
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple, Any] = OrderedDict()
        self._building: dict[tuple, threading.Event] = {}

    def get(self, spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
        """The value memoized under ``key`` for ``spark``'s application,
        running ``build()`` on a miss. A build may ``get`` another key.
        A build that raises stores nothing: the next caller builds."""
        key = (spark.sparkContext.applicationId, key)
        while True:
            with self._lock:
                if key in self._entries:
                    value = self._entries[key]
                    if self._valid is None or self._valid(value):
                        self._entries.move_to_end(key)
                        return value
                    del self._entries[key]
                done = self._building.get(key)
                if done is None:
                    done = self._building[key] = threading.Event()
                    break
            done.wait()
        evicted = []
        try:
            value = build()
            with self._lock:
                self._entries[key] = value
                while len(self._entries) > self._capacity:
                    evicted.append(self._entries.popitem(last=False)[1])
            return value
        finally:
            with self._lock:
                del self._building[key]
            done.set()
            self._drop(evicted)

    def clear(self) -> None:
        """Drop and release every entry."""
        with self._lock:
            values = list(self._entries.values())
            self._entries.clear()
        self._drop(values)

    def _drop(self, values: list) -> None:
        for value in values:
            try:
                self._release(value)
            except Exception:
                pass


_ROOT: tuple[int, str] | None = None  # (creating pid, path)
_ROOT_LOCK = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """A new directory under this process's scratch root."""
    global _ROOT
    with _ROOT_LOCK:
        pid = os.getpid()
        if _ROOT is None or _ROOT[0] != pid:
            _ROOT = (pid, tempfile.mkdtemp(prefix=f"engine_proc_{pid}_"))
            atexit.register(_remove_root, *_ROOT)
        return tempfile.mkdtemp(prefix=prefix, dir=_ROOT[1])


def _remove_root(pid: int, path: str) -> None:
    # a forked child inherits this handler; only the creator removes
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)
