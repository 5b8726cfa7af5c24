"""Fault injection for sources/swap.py, shared by the crash tests.

``crash_at(at)`` routes the swap module's ``os`` and ``shutil`` calls
through a fault plan: the file-mutating call that ``at`` selects —
the n-th one (1-based) for an int, the first ``at(op, args)`` accepts
for a predicate such as :func:`moving_out` — raises :class:`Crash`,
and so does every mutating call after it: the process is dead, so
nothing it would still do (an ``owner`` exit, a ``finally``) reaches
the disk. The lock and staging names carry a pid that no process
has, so the next ``recover`` treats the owner as dead, exactly as
after a real crash. ``crash_at(None)`` only counts.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from last_minute_legends_spark.sources import swap

DEAD_PID = 999_999_999  # above any pid_max: kill(pid, 0) -> ESRCH

_MUTATING = {"open", "write", "makedirs", "mkdir", "replace", "rename",
             "unlink", "rmdir", "rmtree"}


class Crash(OSError):
    """The injected process death."""


class _Plan:
    def __init__(self, at):
        self.at = at
        self.ops: list[str] = []   # mutating calls that reached the disk
        self.calls: list[str] = []  # every attribute the module used
        self.crashed = False

    def step(self, name: str, args: tuple) -> None:
        hit = (self.at(name, args) if callable(self.at)
               else len(self.ops) + 1 == self.at)
        if self.crashed or hit:
            self.crashed = True
            raise Crash(f"injected crash at {name}{args}")
        self.ops.append(name)


class _Faulty:
    def __init__(self, real, plan: _Plan):
        self._real, self._plan = real, plan

    def __getattr__(self, name):
        self._plan.calls.append(name)
        if name == "getpid":
            return lambda: DEAD_PID
        attr = getattr(self._real, name)
        if name not in _MUTATING:
            return attr

        def op(*args, **kwargs):
            self._plan.step(name, args)
            return attr(*args, **kwargs)

        return op


def moving_out(live: str):
    """Selects the swap's move of the live entry ``live`` to its saved
    copy."""
    return lambda op, args: op == "rename" and args[0] == live


def moving_in(live: str):
    """Selects the swap's move of a staged entry into ``live``."""
    return lambda op, args: op == "rename" and args[1] == live


def committing(op: str, args: tuple) -> bool:
    """Selects the swap's commit step."""
    return op == "rename" and args[0].endswith("journal.json")


@contextmanager
def crash_at(at):
    plan = _Plan(at)
    real = swap.os, swap.shutil
    swap.os, swap.shutil = _Faulty(os, plan), _Faulty(shutil, plan)
    try:
        yield plan
    finally:
        swap.os, swap.shutil = real
