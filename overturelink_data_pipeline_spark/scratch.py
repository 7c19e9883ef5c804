"""Per-user scratch space and per-process owned paths.

Transient datasets (sink outputs, fixtures, streaming checkpoints) live
under one per-user root: ``$SPARK_GRAFT_SCRATCH`` if set, else
``<tmpdir>/overturelink-<user>``, so another user cannot squat the
path. Inside it every process writes only below names that carry its
OWNER TOKEN (:func:`owner_token`): its pid plus its start time in clock
ticks since boot. Two live processes never share a name, repeated calls
in one process get the same name (overwrite in place keeps one copy per
process), and a later process that is handed a recycled pid still gets a
different token.

This module is the one place that decides when an owned path is
garbage. :func:`owned_name` removes, from the directory a new name goes
into, every sibling entry whose owner is gone: its pid no longer exists,
or now belongs to a process that started at another time. An owner that
cannot be checked (no ``/proc``, or an unreadable ``/proc`` entry) is
kept. Names without a start time (older code, or a platform without
``/proc``) are judged by their pid alone. The path constructors
(:func:`process_dir` here, ``lifecycle.process_index_name`` for the
warehouse) reap as they name, so no caller can forget to.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

_ENV_ROOT = "SPARK_GRAFT_SCRATCH"
_HAVE_PROC = os.path.exists("/proc/self/stat")


def _username() -> str:
    try:
        import getpass

        return getpass.getuser()
    except Exception:  # no passwd entry (containers) — uid is still unique
        return f"uid{os.getuid()}" if hasattr(os, "getuid") else "user"


def scratch_root(*parts: str) -> str:
    """The per-user scratch root, joined with ``parts``.

    ``$SPARK_GRAFT_SCRATCH`` wins when set (point it at a user-owned
    volume in shared deployments); otherwise
    ``<tempdir>/overturelink-<user>``.
    """
    root = os.environ.get(_ENV_ROOT) or os.path.join(
        tempfile.gettempdir(), f"overturelink-{_username()}"
    )
    return os.path.join(root, *parts)


def process_dir(*parts: str) -> str:
    """A per-process leaf under :func:`scratch_root`:
    ``scratch_root(*parts[:-1]) / pid-<token> / parts[-1]`` when
    ``parts`` is non-empty, else ``scratch_root() / pid-<token>``.
    Stable within a process, unique across live processes; gone owners'
    ``pid-*`` siblings are removed first."""
    parent = scratch_root(*parts[:-1])
    leaf = owned_name(parent, "pid-")
    return os.path.join(parent, leaf, *parts[-1:])


def owner_token() -> str:
    """This process's owner token, ``<pid>t<start ticks>``, or the bare
    pid where ``/proc`` is missing. Letters and digits only, and the
    same for the whole life of the process."""
    pid = os.getpid()
    try:
        return f"{pid}t{_start_ticks(pid)}"
    except (OSError, ValueError):
        return str(pid)


def owned_name(parent: str, prefix: str) -> str:
    """``prefix + owner_token()``, after deleting the entries of
    ``parent`` named ``[.]<prefix><token>[_<kind>][.crc]`` whose owner
    is gone. Directories go with ``rmtree``, files with ``os.remove``;
    only ``FileNotFoundError`` (a concurrent reaper got there first) is
    ignored."""
    entry = re.compile(
        rf"\.?{re.escape(prefix)}(?P<pid>\d+)(?:t(?P<start>\d+))?(?:_[a-z_]+)?(?:\.crc)?",
        re.IGNORECASE,
    )
    try:
        names = os.listdir(parent)
    except FileNotFoundError:
        names = []
    for name in names:
        m = entry.fullmatch(name)
        if not m or not _gone(int(m["pid"]), m["start"]):
            continue
        path = os.path.join(parent, name)
        try:
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        except FileNotFoundError:
            pass
    return prefix + owner_token()


def _start_ticks(pid: int) -> int:
    """Start time of ``pid`` in clock ticks since boot: field 22 of
    ``/proc/<pid>/stat``, counted after the parenthesised command name
    (which may itself hold spaces and parentheses)."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        stat = f.read()
    return int(stat[stat.rindex(b")") + 2 :].split()[19])


def _gone(pid: int, start: str | None) -> bool:
    """Whether the owner ``(pid, start)`` has exited: no process has
    ``pid``, or (when the name carries a start time) the process that
    has it started at another time. Unverifiable owners are not gone."""
    if not _HAVE_PROC:
        return False
    try:
        now = _start_ticks(pid)
    except (FileNotFoundError, ProcessLookupError):
        return True
    except (OSError, ValueError):
        return False
    return start is not None and int(start) != now
