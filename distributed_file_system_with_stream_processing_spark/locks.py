"""Per-table append lock: strict publication-order stamps.

The TableStore append log names batches by 20-digit time_ns stamps; a
CDC reader's offset is the max published stamp. Both writers of the
log — ``TableStore.append`` and the ``tablestore`` stream sink — write
their batch aside under a hidden ``_``-prefixed dir first, then
publish it through ``sources/pyds._publish``, which holds this lock
while it (a) takes the stamp by bumping past the newest existing one
and (b) renames the staged dir into ``appends/``. So
stamp order == publication order, a reader never sees a half-written
batch, and a reader can never observe a high-water mark ahead of an
unpublished earlier stamp. The Spark write itself never runs under the
lock; writers serialize only on the stamp + rename.

``fcntl.flock`` on ``appends/_append.lock`` serializes across
processes on one host or a shared POSIX filesystem — the deployments
where multiple uncoordinated writers are even possible. (On object
stores there is no rename either; a commit log service replaces this
whole protocol there.)
"""

from __future__ import annotations

import contextlib
import os

LOCK_FILE = "_append.lock"


@contextlib.contextmanager
def append_lock(appends_dir: str):
    """Exclusive per-table append lock."""
    import fcntl

    os.makedirs(appends_dir, exist_ok=True)
    fd = os.open(os.path.join(appends_dir, LOCK_FILE), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        try:
            fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)
