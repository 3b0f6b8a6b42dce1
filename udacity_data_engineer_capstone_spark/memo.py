"""Session-scoped memo for one-time builds, the per-process scratch root
and the cross-process stage cache.

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
that created it exits. A process that creates its root also removes
the roots of this user's processes that died without their exit
handler running.

Artifacts built once from input files and reused by later processes
(the layout rewrite, the SAS7BDAT parse, the sorted event log, the
compaction rewrite, the orders ``.sas7bdat``, the file-metadata shards)
go through :func:`stage_once`: one per-user 0700 root, one key rule,
one atomic publish and one sweep of stages no call can reach again.
The driver JVM's class-data archive is one more such stage, under a
per-user cache root instead (``session._class_data_option``).
"""

from __future__ import annotations

import atexit
import hashlib
import json
import math
import os
import re
import shutil
import stat
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
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def _scratch_root() -> str:
    global _ROOT
    with _ROOT_LOCK:
        pid = os.getpid()
        if _ROOT is None or _ROOT[0] != pid:
            tmp = tempfile.gettempdir()
            for name in os.listdir(tmp):
                dead = re.fullmatch(r"engine_proc_(\d+)_.*", name)
                path = os.path.join(tmp, name)
                if dead and not _alive(int(dead[1])) and private_dir(path):
                    shutil.rmtree(path, ignore_errors=True)
            _ROOT = (pid, tempfile.mkdtemp(prefix=f"engine_proc_{pid}_", dir=tmp))
            atexit.register(_remove_root, *_ROOT)
        return _ROOT[1]


def _remove_root(pid: int, path: str) -> None:
    # a forked child inherits this handler; only the creator removes
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's live process
        pass
    return True


def private_dir(path: str) -> bool:
    """Whether ``path`` is a directory, not a symlink, that this user
    owns and no other user can read or write. Only such a directory's
    contents are trusted across processes: any local user can create a
    predictable path in the shared temp directory first."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not stat.S_IMODE(st.st_mode) & 0o077
    )


_SIDECAR = "_inputs.json"  # a stage's inputs; Spark skips "_" files
_SOURCE_CHARS = 96  # longest source kept whole in a stage name


def private_root(path: str) -> bool:
    """Create ``path`` 0700 if it is missing; whether it then passes
    :func:`private_dir`."""
    try:
        os.makedirs(path, 0o700, exist_ok=True)
    except OSError:
        return False
    return private_dir(path)


def stage_once(
    kind: str,
    inputs: list[str],
    build: Callable[[str], None],
    key: str = "",
    root: str | None = None,
) -> str:
    """The directory of the ``kind`` artifact built from ``inputs``,
    built by ``build(path)`` the first time any process asks for it.

    ``inputs[0]`` is the source the caller read (a file or a directory);
    the stage is named by ``kind``, that source and a fingerprint of
    every input's ``(abspath, st_mtime_ns, st_size)`` and ``key``, so a
    rewritten input or another ``key`` builds a new stage. A source
    longer than ``_SOURCE_CHARS`` keeps its head plus a hash of the
    whole, so a name stays far below the file-name limit. ``build``
    creates and fills ``path`` inside a private dot-prefixed directory;
    the stage is published with one ``os.rename`` after an
    ``_inputs.json`` sidecar records the inputs. A build that raises
    leaves nothing behind; of two concurrent builders the loser deletes
    its copy and both return the published one. Stages live in
    ``root``, by default ``<tempdir>/engine_stage_<uid>``; when that is
    not this user's 0700 directory, they are built under the scratch
    root instead and nothing is read from it. Only a publish sweeps
    (:func:`_sweep`), so reusing a stage costs a ``stat`` per input."""
    if root is None:
        root = os.path.join(tempfile.gettempdir(), f"engine_stage_{os.getuid()}")
    if not private_root(root):
        root = os.path.join(_scratch_root(), "stage")
        os.makedirs(root, exist_ok=True)
    inputs = [os.path.abspath(p) for p in inputs]
    fingerprint = hashlib.md5(key.encode())
    for p in inputs:
        st = os.stat(p)
        fingerprint.update(f"{p}|{st.st_mtime_ns}|{st.st_size};".encode())
    # no leading "_"/".": Spark skips those as hidden or metadata files
    src = inputs[0].replace("/", "_").strip("_")
    if len(src) > _SOURCE_CHARS:
        src = f"{src[:_SOURCE_CHARS - 9]}-{hashlib.md5(src.encode()).hexdigest()[:8]}"
    source = f"{kind}-{src}-"
    final = os.path.join(root, source + fingerprint.hexdigest()[:16])
    if os.path.isdir(final):
        return final
    tmp = tempfile.mkdtemp(prefix=f".{os.getpid()}_", dir=root)
    try:
        path = os.path.join(tmp, "stage")
        build(path)
        with open(os.path.join(path, _SIDECAR), "w") as fh:
            json.dump(inputs, fh)
        try:
            os.rename(path, final)
        except OSError:  # another builder published first
            if not os.path.isdir(final):
                raise
        else:
            _sweep(root, source, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _sweep(root: str, source: str, keep: str) -> None:
    """Remove every entry of ``root`` but ``keep`` that no call can
    reach again: ``source``'s stages under other fingerprints, stages
    whose recorded inputs are gone or that have no sidecar, and the
    builds of processes that died before publishing."""
    own = re.compile(re.escape(source) + "[0-9a-f]{16}")
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if path == keep:
            continue
        if name.startswith("."):
            pid = name[1:].split("_", 1)[0]
            gone = pid.isdigit() and not _alive(int(pid))
        else:
            gone = own.fullmatch(name) or not _inputs_exist(path)
        if gone:
            shutil.rmtree(path, ignore_errors=True)


def _inputs_exist(stage: str) -> bool:
    try:
        with open(os.path.join(stage, _SIDECAR)) as fh:
            return all(os.path.exists(p) for p in json.load(fh))
    except (OSError, ValueError):
        return False
