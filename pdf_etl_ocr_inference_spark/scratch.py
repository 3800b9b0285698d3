"""Per-process scratch dirs, and the one publish protocol on disk.

Catalog fixtures (change feeds, streaming checkpoints, ANN indexes)
need on-disk scratch.  A FIXED path wiped on entry races when two
sessions share one machine (e.g. the correctness gate and the
benchmark running in parallel): one wipes the other's live feed/checkpoint
mid-run.  Keying the root by PID makes every process's scratch
private while staying deterministic WITHIN a process (repeated calls
reuse/wipe the same dirs, which the idempotence tests rely on).

Stale roots from crashed/finished processes are garbage-collected
opportunistically (any ``spark_graft_scratch*`` sibling untouched
for 2 h), so repeated gate/benchmark runs do not accumulate /tmp
debris.

This module is also the one publish protocol on disk, and the only
module that renames.  Every JSON meta file goes through
:func:`atomic_write_json`; every directory the engine replaces (index
shard, change-feed commit, compacted table, view, cached result)
through :func:`replace_dir`, which stages a copy and moves it in with
:func:`swap_dir` (park the live copy, rename the new one in, drop the
parked one).  Staged, parked and temp names start with ``_`` and hold
no ``=``, so Spark's file listing skips them.  A swap that fails puts
the parked copy back; one killed between its renames leaves the
destination missing until :func:`restore_dir`, which each publish of
it runs first.  One destination has one publisher at a time.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import threading
import time
import uuid

SCRATCH_ROOT = os.path.join(
    tempfile.gettempdir(), f"spark_graft_scratch_{os.getpid()}"
)
_STALE_S = 2 * 3600


def _gc_stale_roots() -> None:
    tmp = tempfile.gettempdir()
    try:
        entries = os.listdir(tmp)
    except OSError:
        return
    now = time.time()
    for e in entries:
        if not e.startswith("spark_graft_scratch"):
            continue
        p = os.path.join(tmp, e)
        if p == SCRATCH_ROOT:
            continue
        try:
            if now - os.path.getmtime(p) > _STALE_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def scratch_root() -> str:
    """This process's private scratch root (created on demand)."""
    _gc_stale_roots()
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    return SCRATCH_ROOT


def scratch_dir(tag: str, wipe: bool = True) -> str:
    """A named scratch dir under the process root.  ``wipe=True``
    (default) clears it first — fixture builders want a clean slate
    on every call; pass ``wipe=False`` to reuse existing state."""
    d = os.path.join(scratch_root(), tag)
    if wipe:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _hidden(path: str, tag: str) -> str:
    """The ``tag`` sibling of ``path``: hidden from Spark's listing
    (leading ``_``, no ``=``)."""
    head, name = os.path.split(path.rstrip("/"))
    return os.path.join(head, f"_{tag}.{name.replace('=', '-')}")


def atomic_write_json(path: str, obj) -> None:
    """Write ``obj`` to a temp sibling unique to this call, fsync, then
    rename it over ``path``: a reader sees the old JSON or the new,
    never a torn one, and concurrent writers of one path never share a
    temp file."""
    tmp = _hidden(path, f"tmp.{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, separators=(",", ":"))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def restore_dir(dst: str) -> None:
    """Put back the parked copy of ``dst`` when ``dst`` is missing: a
    crash between the two renames of :func:`swap_dir`."""
    parked = _hidden(dst, "parked")
    if os.path.exists(parked) and not os.path.exists(dst):
        os.replace(parked, dst)


def swap_dir(src: str, dst: str) -> None:
    """Move ``src`` into place as ``dst``: park the live ``dst``,
    rename ``src`` in, drop the parked copy.  A missing ``src`` leaves
    ``dst`` absent.  If the rename fails, the parked copy goes back."""
    restore_dir(dst)
    parked = _hidden(dst, "parked")
    shutil.rmtree(parked, ignore_errors=True)
    if os.path.exists(dst):
        os.replace(dst, parked)
    try:
        if os.path.exists(src):
            os.replace(src, dst)
    except BaseException:
        restore_dir(dst)
        raise
    shutil.rmtree(parked, ignore_errors=True)


@contextlib.contextmanager
def staging(dst: str):
    """A hidden sibling of ``dst`` to stage its replacement in, removed
    on exit.  The name is this thread's own, so concurrent publishers
    never share one, and a retry in the thread clears what a killed
    attempt left."""
    tmp = _hidden(dst, f"staged.{os.getpid()}.{threading.get_ident()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def replace_dir(dst: str, stage) -> None:
    """Replace the directory ``dst`` by what ``stage(tmp)`` writes to a
    hidden sibling ``tmp``.  ``dst`` is restored first, so ``stage``
    may read it; the staged copy is removed if anything fails."""
    restore_dir(dst)
    with staging(dst) as tmp:
        stage(tmp)
        swap_dir(tmp, dst)
