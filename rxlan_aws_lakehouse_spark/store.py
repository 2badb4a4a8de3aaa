"""The one storage primitive every commit in this package goes through.

A lakehouse commit is a write-once object at a known name; Delta Lake
rests every table on exactly one such primitive, a put-if-absent
LogStore (VLDB 2020). Here a TxnTable's ``_log`` entries and ``_LATEST``
hint, a Delta mirror's ``_delta_log`` commits, checkpoint and
``_last_checkpoint``, and an Iceberg mirror's ``vN.metadata.json``,
``version-hint.text`` and sync state are all written with two calls:

* ``put_if_absent(path, data)`` creates ``path`` holding ``data``, or
  raises ``FileExistsError`` when the name is taken: of any number of
  writers of one name, exactly one lands. On S3 it is a PUT with
  ``If-None-Match: *``; on GCS, an upload with ``ifGenerationMatch=0``.
* ``put(path, data)`` replaces ``path`` whole, last writer wins: a plain
  PUT on either store.

``get(path)`` returns the object's bytes, or ``None`` when there is
none. Both writes are durable when they return, and a reader sees the
old object or the whole new one, never part of one. ``data`` may be
``str`` (stored UTF-8 encoded) or ``bytes``.
"""

from __future__ import annotations

import os
import tempfile
import threading


def _bytes(data: str | bytes) -> bytes:
    return data.encode() if isinstance(data, str) else data


def _staged(path: str, data: str | bytes) -> str:
    """A fresh ``mkstemp`` file beside ``path`` holding ``data``,
    fsynced and world-readable, for the caller to link or rename into
    place. Two writers, threads of one process included, never share a
    temp file. The dot prefix keeps it out of every listing that looks
    for published names. The directory is made if missing: an object
    store has none to make."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{name}.")
    try:
        with os.fdopen(fd, "wb") as f:
            os.fchmod(f.fileno(), 0o644)  # mkstemp's 0600 would hide it
            f.write(_bytes(data))
            f.flush()
            os.fsync(f.fileno())
    except BaseException:
        os.unlink(tmp)
        raise
    return tmp


def _fsync_dir(d: str) -> None:
    """Make the names linked or renamed into ``d`` durable."""
    fd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class LocalStore:
    """POSIX store. A write stages ``data`` in a fsynced temp file of
    its own (``_staged``), then ``link``s it to ``path`` (``link``
    refuses an existing name) or ``replace``s ``path`` with it, removes
    the temp name and fsyncs the directory."""

    def get(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def put_if_absent(self, path: str, data: str | bytes) -> None:
        tmp = _staged(path, data)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise FileExistsError(f"{path} already exists") from None
        finally:
            os.unlink(tmp)
        _fsync_dir(os.path.dirname(path))

    def put(self, path: str, data: str | bytes) -> None:
        # A rename, never a write through the old file: a ``_LATEST``
        # written by the link-hint protocol is a hard link to a ``_log``
        # entry, which must keep its content.
        os.replace(_staged(path, data), path)
        _fsync_dir(os.path.dirname(path))


class InMemoryStore:
    """Object-store-shaped store: a dict of byte strings under a lock,
    with create-only ``put_if_absent``. No link, rename or fsync is
    involved, so the commit-protocol suites run over it to show the
    protocol needs nothing but the three calls."""

    def __init__(self):
        self._mu = threading.Lock()
        self._objects: dict[str, bytes] = {}

    def get(self, path: str) -> bytes | None:
        with self._mu:
            return self._objects.get(path)

    def put_if_absent(self, path: str, data: str | bytes) -> None:
        with self._mu:
            if path in self._objects:
                raise FileExistsError(f"{path} already exists")
            self._objects[path] = _bytes(data)

    def put(self, path: str, data: str | bytes) -> None:
        with self._mu:
            self._objects[path] = _bytes(data)


LOCAL = LocalStore()
