"""Per-process scratch-dir management for fixtures, feeds, indexes.

Catalog fixtures (change feeds, streaming checkpoints, ANN indexes)
need on-disk scratch.  A FIXED path wiped on entry races when two
sessions share one machine (e.g. the correctness gate and the bench
running in parallel): one wipes the other's live feed/checkpoint
mid-run.  Keying the root by PID makes every process's scratch
private while staying deterministic WITHIN a process (repeated calls
reuse/wipe the same dirs, which the idempotence tests rely on).

Stale roots from crashed/finished processes are garbage-collected
opportunistically (any ``spark_graft_scratch*`` sibling untouched
for 2 h), so repeated gate/bench runs do not accumulate /tmp debris.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

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


def atomic_write_json(path: str, obj) -> None:
    """Crash-safe JSON publish: write to a sibling temp file, fsync,
    then ``os.replace`` over the target — a reader never sees
    truncated JSON (ADVICE r3: in-place meta rewrites could strand an
    index behind unparseable metadata until manual repair).  Same
    pattern as ``compact_parquet`` / the JSONL sink manifest."""
    import json

    tmp = f"{path}.tmp.{os.getpid()}"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def new_build_id() -> str:
    """Unique nonce stamped into an index meta at build time and
    included in worker shard-cache keys: rebuilding an index at the
    SAME path restarts versions at 0, so without the nonce a
    long-lived executor would keep serving the pre-rebuild cache
    entry keyed (path, shard, 0) (ADVICE r3)."""
    import uuid

    return uuid.uuid4().hex[:12]
