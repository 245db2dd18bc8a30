"""Crash-atomic small-file writes on a local filesystem."""

from __future__ import annotations

import os


def atomic_write(path: str, payload: str | None = None) -> None:
    """Replace ``path`` with ``payload`` (an empty file when ``None``)
    so a reader sees either the old file or the complete new one, never
    a torn mix: the content goes to a temp file that is fsynced, then
    published with an atomic rename, then the parent directory is
    fsynced so the rename itself is on disk.  A failed write leaves the
    old file in place and removes the temp file."""
    tmp = path + ".__tmp__"
    try:
        with open(tmp, "w") as f:
            if payload is not None:
                f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
