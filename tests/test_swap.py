"""Crash matrix for sources/swap.py — filesystem only, no Spark.

A swap that replaces one entry, deletes one, creates one and replaces
a plain file (one entry of the root stays untouched) is crashed after
each of its file operations, and the recovery is crashed after each
of its own. In every case one ``recover`` must leave the root serving
all-old or all-new content (by file hashes), a second ``recover``
must be a no-op, nothing of the swap (staging, saved copies, journal)
may be left behind, and a live owner's lock must make ``recover``
skip.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from last_minute_legends_spark.sources import swap
from tests.swap_faults import DEAD_PID, Crash, crash_at


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def _build(root: str) -> None:
    _write(os.path.join(root, "a", "x"), "old a")
    _write(os.path.join(root, "b", "x"), "old b")
    _write(os.path.join(root, "d", "x"), "untouched d")
    _write(os.path.join(root, "f"), "old f")


def _swap(root: str) -> None:
    with swap.owner(root):
        stage = swap.staging_path(root)
        _write(os.path.join(stage, "a", "x"), "new a")
        _write(os.path.join(stage, "a", "y"), "new a, second file")
        _write(os.path.join(stage, "c", "x"), "new c")
        _write(os.path.join(stage, "f"), "new f")
        swap.swap(root, {"a": os.path.join(stage, "a"), "b": None,
                         "c": os.path.join(stage, "c"),
                         "f": os.path.join(stage, "f")})


def _hashes(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(
                    fh.read()).hexdigest()
    return out


def _leftovers(root: str) -> list[str]:
    parent = os.path.dirname(root)
    return sorted(n for n in os.listdir(parent)
                  if n.startswith(os.path.basename(root) + "__swap")
                  and not n.endswith(".lock"))


def _crashed(tmp_path, name: str, at: int) -> str:
    root = str(tmp_path / name)
    _build(root)
    with crash_at(at) as plan:
        try:
            _swap(root)
        except Crash:  # the last op, the lock's unlink, is swallowed
            pass
    assert plan.crashed
    return root


def _reference(tmp_path) -> tuple[dict, dict, int]:
    root = str(tmp_path / "ref")
    _build(root)
    old = _hashes(root)
    with crash_at(None) as plan:
        _swap(root)
    assert not _leftovers(root) and not os.path.exists(swap.lock_path(root))
    return old, _hashes(root), len(plan.ops)


def test_swap_crash_matrix(tmp_path):
    old, new, n_ops = _reference(tmp_path)
    assert set(new) == {"a/x", "a/y", "c/x", "d/x", "f"}
    assert new["d/x"] == old["d/x"]
    outcomes = []
    for at in range(1, n_ops + 1):
        root = _crashed(tmp_path, f"s{at}", at)
        crashed = _hashes(root)

        # a live foreign owner (pid 1 always exists): recover skips
        with open(swap.lock_path(root), "w") as fh:
            fh.write("1")
        assert swap.recover(root) is False
        assert _hashes(root) == crashed
        with open(swap.lock_path(root), "w") as fh:
            fh.write(str(DEAD_PID))

        swap.recover(root)
        got = _hashes(root)
        assert got in (old, new), f"crash at op {at}: mixed content {got}"
        assert not _leftovers(root), f"crash at op {at}"
        assert swap.recover(root) is False and _hashes(root) == got
        outcomes.append(got == new)

        # the same crash, then a crash at each step of the recovery
        for j in range(1, 20):
            root2 = _crashed(tmp_path, f"s{at}r{j}", at)
            with crash_at(j) as plan:
                try:
                    swap.recover(root2)
                except Crash:
                    pass
            swap.recover(root2)
            assert _hashes(root2) == got, f"crash at op {at}, recover op {j}"
            assert not _leftovers(root2)
            assert swap.recover(root2) is False
            if not plan.crashed:
                break
    # the commit is one step: every crash before it rolls back, every
    # crash after it rolls forward
    assert outcomes == sorted(outcomes) and outcomes[0] is False
    assert outcomes[-1] is True


def test_recover_is_one_stat_when_nothing_is_pending(tmp_path):
    root = str(tmp_path / "idle")
    _build(root)
    with crash_at(1) as plan:  # the first file mutation would crash
        assert swap.recover(root) is False
    assert not plan.crashed
    assert not {"listdir", "scandir", "walk"} & set(plan.calls)
    assert plan.calls == ["path"]  # os.path.isdir of the work dir


def test_owner_lock_excludes_and_steals_dead(tmp_path):
    root = str(tmp_path / "lk")
    _build(root)
    with swap.owner(root):
        with pytest.raises(swap.SwapInFlight, match="in flight"):
            with swap.owner(root):
                pass
    assert not os.path.exists(swap.lock_path(root))
    with open(swap.lock_path(root), "w") as fh:
        fh.write(str(DEAD_PID))
    with swap.owner(root):  # dead owner: stolen
        pass
    with pytest.raises(RuntimeError, match="outside owner"):
        swap.swap(root, {"b": None})


def test_failed_staging_leaves_root_and_no_litter(tmp_path):
    """An exception between staging and swap (a failed write) leaves
    the old content serving and sweeps the staging on the owner's
    exit."""
    root = str(tmp_path / "fs")
    _build(root)
    old = _hashes(root)
    with pytest.raises(ValueError):
        with swap.owner(root):
            _write(os.path.join(swap.staging_path(root), "a", "x"), "half")
            raise ValueError("stage failed")
    assert _hashes(root) == old and not _leftovers(root)
