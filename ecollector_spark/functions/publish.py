"""Publishing. Every directory the program replaces while readers may be
looking at it, and every small file it overwrites in place, goes through
this module, so the crash protocol and its lock are written once;
docs/OPERATORS.md ("Publishing") describes the protocol.

A directory is replaced by rename-aside: the replacement is built under
:func:`staging`, then :func:`publish` renames the live copy to
``<dst>.old``, the replacement to ``dst``, and only then deletes
``.old``. A crash between the two renames leaves ``.old`` as the only
complete copy; :func:`recover` (called by every reader that heals on
touch) restores it. Single local filesystem; on an object store this
becomes a manifest pointer flip."""

from __future__ import annotations

import os
import shutil
import threading

#: Serializes publishes against recovery. A reader's recovery landing
#: between publish's two renames sees ``.old`` present and ``dst``
#: missing, which is also what a crash leaves; renaming ``.old`` back
#: would fail the writer's final rename and abandon the replacement.
#: Only knowing that a publish is in flight tells the two apart, so both
#: hold one in-process lock (threads share it; the window is two
#: renames). Publishers in different processes need the manifest flip.
_LOCK = threading.RLock()

_OLD = ".old"


def staging(dst: str) -> str:
    """A cleared scratch path beside ``dst`` to build its replacement in.
    The name starts with a dot, so Spark's file index and partition
    discovery never list it, and carries the pid, so builders in two
    processes do not share one."""
    head, tail = os.path.split(dst)
    tmp = os.path.join(head, f".{tail}.{os.getpid()}.staging")
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


def recover(dst: str) -> None:
    """Heal a publish of ``dst`` that died between its renames: ``.old``
    alone is restored as ``dst``; ``.old`` beside a live ``dst`` (a crash
    after the second rename) is the pre-publish copy and is deleted. A
    no-op in every healthy state."""
    old = dst + _OLD
    with _LOCK:
        if not os.path.isdir(old):
            return
        if os.path.isdir(dst):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, dst)


def recover_within(parent: str) -> None:
    """:func:`recover` for every directory in ``parent`` that left an
    ``.old`` behind. A directory listing, no scan."""
    if not os.path.isdir(parent):
        return
    with _LOCK:
        for name in os.listdir(parent):
            if name.endswith(_OLD):
                recover(os.path.join(parent, name[: -len(_OLD)]))


def publish(tmp: str, dst: str) -> None:
    """Make the built directory ``tmp`` the live ``dst``. A reader that
    listed the old ``dst`` keeps a complete (stale) copy until the last
    step; ``dst`` is missing only between the two renames."""
    old = dst + _OLD
    with _LOCK:
        recover(dst)
        if os.path.isdir(dst):
            os.rename(dst, old)
        os.rename(tmp, dst)
        shutil.rmtree(old, ignore_errors=True)


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` so that a reader sees the previous file
    or the whole new one, never a torn one: the text goes to a dot-named
    temporary in the same directory, which is then renamed over
    ``path``."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)
