"""Engine temp state: where it lives, how it is keyed and when it dies.

Every directory the engine stages on its own behalf (staged payloads,
format round-trips, bucketed copies, gram tables, gate scratch) lives
under ONE root per process. The root is made lazily with
``tempfile.mkdtemp`` (so it honours ``TMPDIR``) and removed at interpreter
exit, so nothing here outlives the process: no completion markers, no pid
tags, no key that must cover the code that produced an artifact. A new
process always rebuilds; within a process every artifact is built once,
keyed on what can change under it (``source_identity`` of its inputs).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
from typing import Callable, Hashable, TypeVar

T = TypeVar("T")

_lock = threading.Lock()
_root: str | None = None
_done: dict[Hashable, object] = {}
_building: dict[Hashable, threading.Lock] = {}


def _remove_root(path: str, pid: int) -> None:
    if os.getpid() == pid:  # a forked child must not delete its parent's root
        shutil.rmtree(path, ignore_errors=True)


def _process_root() -> str:
    global _root
    with _lock:
        if _root is None:
            _root = tempfile.mkdtemp(prefix="fxa_spark_")
            atexit.register(_remove_root, _root, os.getpid())
        return _root


def _digest(key: Hashable) -> str:
    return hashlib.sha256(repr(key).encode("utf-8")).hexdigest()[:12]


def _once(slot: Hashable, make: Callable[[], T]) -> T:
    """Run ``make`` once per slot. Callers of one slot wait for the first
    caller's build; different slots build concurrently. A raising ``make``
    records nothing, so the next caller builds again."""
    with _lock:
        if slot in _done:
            return _done[slot]
        guard = _building.setdefault(slot, threading.Lock())
    with guard:
        with _lock:
            if slot in _done:
                return _done[slot]
        value = make()
        with _lock:
            _done[slot] = value
            _building.pop(slot, None)
        return value


def staged(kind: str, key: Hashable, build: Callable[[str], object]) -> str:
    """Return the directory ``fxa_spark_<kind>_<digest>`` under the process
    root, calling ``build(path)`` the first time this (kind, key) is asked
    for. ``build`` gets a path that does not exist yet and must create it.
    ``key`` must name every input of the artifact that can change within
    the process (typically ``source_identity`` plus parameters)."""

    def make() -> str:
        path = os.path.join(_process_root(), f"fxa_spark_{kind}_{_digest(key)}")
        shutil.rmtree(path, ignore_errors=True)  # a failed build's leftovers
        build(path)
        return path

    return _once(("dir", kind, key), make)


def memo(kind: str, key: Hashable, compute: Callable[[], T]) -> T:
    """In-memory twin of ``staged`` for artifacts that are Python values
    (trained tokenizer tables), with the same keying and locking."""
    return _once(("value", kind, key), compute)


def source_identity(sf_dir: str, *tables: str) -> tuple:
    """``(abspath, size, mtime_ns)`` of each ``<table>.parquet`` under
    ``sf_dir``: rewriting a source file changes the key, so an artifact
    derived from it is rebuilt rather than silently reused."""
    out = []
    for table in tables:
        path = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
        st = os.stat(path)
        out.append((path, st.st_size, st.st_mtime_ns))
    return tuple(out)


def scratch(kind: str, sf_dir: str) -> str:
    """Fresh (cleared) directory for one gate's table lifecycle. The name
    mixes ``sf_dir`` with the thread id, so concurrent callers in one
    process never share a directory and ``rmtree`` each other's
    half-written state; serial reruns in one thread reuse and first clear
    the same directory, so the root stays bounded across bench loops."""
    key = (os.path.abspath(sf_dir), threading.get_ident())
    path = os.path.join(_process_root(), f"fxa_spark_{kind}_{_digest(key)}")
    shutil.rmtree(path, ignore_errors=True)
    return path
