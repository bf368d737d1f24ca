"""Process-tree bookkeeping for the engine benchmark: a run waits for
every process it starts, on every path out of it.

Spark's JVM starts a Python daemon that forks the workers; when the
SparkContext stops, the JVM signals the daemon and does not wait for it,
so the daemon and its workers may outlive the JVM.  The benchmark makes
itself their subreaper (``adopt_orphans``), so whatever outlives its
parent is re-parented to the benchmark, and ``end_descendants`` waits
until nothing is left below it.  A process the benchmark starts itself
calls ``die_with_parent``, so it is signalled if the benchmark is killed.
"""

from __future__ import annotations

import contextlib
import ctypes
import glob
import os
import signal
import time
from collections import defaultdict

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
PARENT_ENV = "ENGINEBENCH_PARENT_PID"


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}, {arg})")


def proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """(parent pid, resident pages) of every process, by pid."""
    parent, rss = {}, {}
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(d + "/stat", "rb") as fh:
                st = fh.read()
            with open(d + "/statm", "rb") as fh:
                resident = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
        pid = int(d[6:])
        # the command name may hold spaces: fields resume after its ')'
        parent[pid] = int(st[st.rindex(b")") + 2:].split()[1])
        rss[pid] = resident
    return parent, rss


def descendants(root_pid: int, parent: dict[int, int] | None = None) -> set[int]:
    """Pids of every process below ``root_pid`` (not ``root_pid`` itself)."""
    if parent is None:
        parent = proc_table()[0]
    children = defaultdict(list)
    for pid, pp in parent.items():
        children[pp].append(pid)
    tree, frontier = set(), [root_pid]
    while frontier:
        nxt = []
        for p in frontier:
            for c in children.get(p, ()):
                if c not in tree and c != root_pid:
                    tree.add(c)
                    nxt.append(c)
        frontier = nxt
    return tree


def adopt_orphans() -> None:
    """Make this process the subreaper of every process below it."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def child_env() -> dict:
    """Environment of a child process that should call ``die_with_parent``."""
    return dict(os.environ, **{PARENT_ENV: str(os.getpid())})


def die_with_parent() -> None:
    """Get SIGTERM when the process that started this one (and set
    ``PARENT_ENV``) ends; exit at once if it has already ended."""
    parent = os.environ.pop(PARENT_ENV, None)
    if parent is None:
        return
    _prctl(PR_SET_PDEATHSIG, signal.SIGTERM)
    if os.getppid() != int(parent):
        raise SystemExit(128 + signal.SIGTERM)


def _reap() -> None:
    """Collect every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 20.0) -> None:
    """Ask every process still below this one to end (SIGTERM, then
    SIGKILL after ``grace_s``) and wait until none is left."""
    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while True:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return
        late = time.monotonic() > deadline
        for pid in left if late else left - signalled:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
        signalled |= left
        time.sleep(0.05)
