"""Crash-safe staged swap of the entries under a live root directory.

Every maintained layout in this package (the band index, the labels
store, the semantic index, the IVF index, the day-partitioned events
table) is updated in place the same way: the new entries are written
into a staging directory, then exchanged for the live ones by
renames. A rename pair cannot exchange two directories atomically,
so a crash can land between any two renames. This module is the one
implementation of that exchange, and it makes every crash settle to
ALL-OLD or ALL-NEW content, never a mix:

- ``owner(root)`` holds the one writer lock: an O_EXCL sentinel
  ``<root>__swap.lock`` holding the owner pid. A dead owner's lock is
  stolen; a live owner's raises :class:`SwapInFlight`.
- ``staging_path(root)`` names a process-unique staging directory
  inside the work directory ``<root>__swap`` — a sibling of ``root``,
  so staged entries reach ``root`` by metadata moves and saved copies
  never show up in a listing of ``root``.
- ``swap(root, entries)`` replaces ``root/<name>`` by each staged
  path (``None`` deletes the entry):

  1. journal the entry map (``journal.json``, written by replace);
  2. move every live entry to ``<root>__swap/saved/<name>``;
  3. commit: rename ``journal.json`` to ``commit.json``;
  4. move every staged entry into ``root``;
  5. remove the work directory (saved copies and staging).

  A crash before step 3 rolls back (saved entries move back); a crash
  after it rolls forward (the remaining staged entries move in).
- ``recover(root)`` settles what a dead owner left behind, and is
  called by every read path. When no swap is pending it costs one
  ``stat`` of the work directory.

The guarantee covers process crashes — the failure a streaming sink's
redelivery retries. Nothing is fsync'd, so it does not extend to
power loss. Readers take no lock: a reader racing a LIVE swap can see
entries missing between steps 2 and 4, as with any rename-based
exchange; ``recover`` leaves a live owner's swap alone.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager

_JOURNAL = "journal.json"
_COMMIT = "commit.json"
_SAVED = "saved"

# lock path -> ident of the thread of THIS process holding it: a swap
# must run under its caller's own lock, and recover() must skip while
# another thread of this process holds it (the pid alone is alive)
_held: dict[str, int] = {}


class SwapInFlight(RuntimeError):
    """Another live owner holds the root's writer lock."""


def _work(root: str) -> str:
    return f"{root}__swap"


def lock_path(root: str) -> str:
    return f"{root}__swap.lock"


def _owner_alive(lock: str) -> bool:
    """True iff the pid stamped in the lock is a LIVE process.
    Errno-precise: ``kill(pid, 0)`` raising EPERM means a live process
    of another user (alive); only ESRCH means the owner is gone. An
    unreadable or empty sentinel counts as dead (the owner crashed
    between the O_EXCL create and the pid write)."""
    try:
        with open(lock) as fh:
            pid = int(fh.read().strip() or "0")
        if pid <= 0:
            return False
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except (OSError, ValueError):
        return False


def _acquire(root: str) -> str:
    lock = lock_path(root)
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if _owner_alive(lock):
                raise SwapInFlight(
                    f"swap of {root!r} already in flight — retry after "
                    "it finishes") from None
            try:  # dead owner: steal and retry once
                os.unlink(lock)
            except OSError:
                pass
            continue
        try:
            os.write(fd, str(os.getpid()).encode())
        finally:
            os.close(fd)
        _held[lock] = threading.get_ident()
        return lock
    raise SwapInFlight(f"could not acquire {lock}")


def _release(lock: str) -> None:
    _held.pop(lock, None)
    try:
        os.unlink(lock)
    except OSError:
        pass


def _settle(root: str) -> bool:
    """Under the lock: roll an uncommitted swap back or a committed one
    forward, then drop the work directory with everything left in it
    (saved copies, staging of dead owners). True iff an entry moved
    into ``root``."""
    work = _work(root)
    if not os.path.isdir(work):
        return False
    moved = False
    for name, committed in ((_COMMIT, True), (_JOURNAL, False)):
        journal = os.path.join(work, name)
        if not os.path.exists(journal):
            continue
        with open(journal) as fh:
            entries = json.load(fh)
        for entry, staged in entries.items():
            src = staged if committed else os.path.join(work, _SAVED, entry)
            live = os.path.join(root, entry)
            if (src is not None and os.path.lexists(src)
                    and not os.path.lexists(live)):
                os.rename(src, live)
                moved = True
        break
    shutil.rmtree(work)
    return moved


@contextmanager
def owner(root: str):
    """Hold ``root``'s writer lock for the block. Settles a swap left
    by a dead owner on entry, and whatever the block left (staging, or
    a swap an exception interrupted) on exit, so the block starts and
    ends with ``root`` all-old or all-new."""
    lock = _acquire(root)
    try:
        _settle(root)
        yield
    finally:
        try:
            _settle(root)
        finally:
            _release(lock)


def staging_path(root: str) -> str:
    """A fresh, process-unique staging directory for ``root``'s next
    swap (not created). Only valid inside ``owner(root)``: it lives in
    the work directory, which the owner removes on exit."""
    return os.path.join(_work(root),
                        f"staged_{os.getpid()}_{uuid.uuid4().hex[:8]}")


def swap(root: str, entries: dict[str, str | None]) -> None:
    """Replace each ``root/<name>`` by the staged path ``entries[name]``
    (a path under ``staging_path(root)``), or delete it when that is
    ``None``; names absent from ``root`` are created. All-or-nothing
    under crashes (module docstring). Must run inside ``owner(root)``.
    """
    lock = lock_path(root)
    if _held.get(lock) != threading.get_ident():
        raise RuntimeError(f"swap of {root!r} outside owner({root!r})")
    for staged in entries.values():
        if staged is not None and not os.path.lexists(staged):
            raise FileNotFoundError(staged)
    work = _work(root)
    saved = os.path.join(work, _SAVED)
    os.makedirs(saved, exist_ok=True)
    journal = os.path.join(work, _JOURNAL)
    with open(f"{journal}.tmp", "w") as fh:
        json.dump(entries, fh)
    os.replace(f"{journal}.tmp", journal)
    for name in entries:
        live = os.path.join(root, name)
        if os.path.lexists(live):
            os.rename(live, os.path.join(saved, name))
    os.rename(journal, os.path.join(work, _COMMIT))
    for name, staged in entries.items():
        if staged is not None:
            os.rename(staged, os.path.join(root, name))
    shutil.rmtree(work)


def recover(root: str) -> bool:
    """Settle a swap a crashed owner left at ``root`` — roll it back
    if it had not committed, forward if it had — and sweep staging
    and saved copies of dead owners. Skips (False) while a live owner
    holds the lock, including another thread of this process; inside
    the caller's own ``owner(root)`` it is a no-op, because the owner
    settles on entry and exit. True iff an entry moved into ``root``.
    Costs one ``stat`` when no swap is pending."""
    if not os.path.isdir(_work(root)):
        return False
    if _held.get(lock_path(root)) == threading.get_ident():
        return False
    try:
        lock = _acquire(root)
    except SwapInFlight:
        return False
    try:
        return _settle(root)
    finally:
        _release(lock)
