"""The one store behind every durable effect the lake publishes.

A ``SnapshotTable`` reaches storage only through its ``store``: snapshot
commits, manifest reads and listing, the listing of a finished stage (every
write's new files, and vacuum's walk of old ones), tags, the vacuum watermark
and vacuum's garbage collection. The engine and the change-feed consumers use
their table's store for their own restart state (the retry queue's
generations, a consumer's position blob), and the REST cursor walk takes one
directly.
Spark-written data (staged parquet, the retry queue's rows, lineage) keeps
Spark's writer; the store covers what the engine itself publishes, and lists
what a stage write left.

Operations, each with a direct object-store equivalent ("directories" are
key prefixes there):

- ``put_if_absent(path, data)`` — the commit primitive: publish ``data`` at
  ``path`` iff nothing exists there; of two racers exactly one wins and the
  other gets :class:`CommitConflict`. S3 ``PutObject`` with
  ``If-None-Match: *``, GCS ``x-goog-if-generation-match: 0``, ABFS
  ``If-None-Match: *``; on POSIX an exclusive ``link(2)`` of a fsynced temp
  file (``rename(2)`` would silently clobber a racer).
- ``put_blob(path, data)`` — atomic replace-allowed PUT for single-writer
  records (tags, the vacuum watermark, positions, cursor pages).
- ``get_blob(path)`` — GET, None when absent.
- ``list_dirs(path)`` — LIST with prefix + delimiter: the entry names one
  level under ``path``, [] when absent.
- ``dir_exists(path)`` — does anything live under the prefix.
- ``remove(path)`` — DELETE one object or a whole prefix; absent is a no-op.

Swapping the store changes no table or engine logic:
:class:`ConditionalPutCommitter` swaps only the commit primitive.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid


class CommitConflict(FileExistsError):
    """Another writer already published this snapshot id (optimistic-concurrency
    loss — the caller should re-read the manifest and retry on top)."""


def _conflict(path: str) -> CommitConflict:
    return CommitConflict(f"snapshot already committed by a concurrent writer: {path}")


class LocalStore:
    """POSIX implementation of the store."""

    def dir_exists(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_dirs(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    def remove(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.unlink(path)

    def get_blob(self, path: str) -> bytes | None:
        if not os.path.exists(path):
            return None
        with open(path, "rb") as fh:
            return fh.read()

    @staticmethod
    def _write_tmp(path: str, data: bytes) -> str:
        """``data`` fsynced to a fresh temp file next to ``path``: a reader (or
        a crash) never observes a torn object at ``path``."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        return tmp

    def put_blob(self, path: str, data: bytes) -> None:
        os.replace(self._write_tmp(path, data), path)

    def put_if_absent(self, path: str, data: bytes) -> None:
        tmp = self._write_tmp(path, data)
        try:
            os.link(tmp, path)
        except FileExistsError as e:
            raise _conflict(path) from e
        finally:
            os.unlink(tmp)


class ConditionalPutCommitter(LocalStore):
    """Object-store-style commit primitive: the CAS authority is a key set
    guarded by a lock (standing in for S3 ``If-None-Match: *`` / GCS
    ``generation-match: 0`` / a DynamoDB lock table), NOT the filesystem —
    ``os.link``'s exclusive-create semantics are never relied on. After
    winning the conditional PUT the payload is written through for readers.
    The full merge/race test suite passes under either store.

    ``fail_after_put`` injects the classic object-store fault: the PUT landed
    but the client saw an error (timeout). The caller's retry then hits
    CommitConflict — exactly the at-least-once → effectively-once path the
    idempotent epoch ledger must absorb.
    """

    def __init__(self, fail_after_put: int | None = None):
        self._lock = threading.Lock()
        self._keys: set[str] = set()
        self._fail_after_put = fail_after_put  # fail the Nth successful put
        self._puts = 0

    def put_if_absent(self, path: str, data: bytes) -> None:
        with self._lock:
            if path in self._keys or os.path.exists(path):
                raise _conflict(path)
            # the lock already serialized this key: a plain PUT publishes it
            self.put_blob(path, data)
            self._keys.add(path)
            self._puts += 1
            if self._puts == self._fail_after_put:
                raise TimeoutError(
                    f"injected fault: PUT for {path} landed but the response was lost"
                )
