"""The one commit module: every persisted store publishes through it,
and no other library module renames, replaces or exclusively creates
a store file.

The reference's rule for its data is "the move is the commit": bytes
land under a private name, and one atomic filesystem step makes them
visible. A crash before that step leaves unreferenced files that the
next ``sweep`` reclaims, never a half-visible store. Documents are
published whole (``write_json``), updated under a lock so racing
committers both land (``update_json``), or created exclusively so the
second writer of a name gets ``CommitConflict`` (``create_json``).
A transactional table format's commit is the production-grade
replacement at fleet scale.
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import shutil
import time
import uuid


class CommitConflict(RuntimeError):
    """Another writer already committed the name this commit wanted."""


@contextlib.contextmanager
def lock(
    path,
    timeout: float = 30.0,
    stale_after: float = 120.0,
    sleep=time.sleep,
):
    """Exclusive advisory lock: ``<path>.lock`` is created with
    O_CREAT|O_EXCL (atomic create-if-absent); contenders spin until
    ``timeout``. A lock older than ``stale_after`` is presumed
    abandoned by a crashed writer and broken."""
    lock_file = f"{path}.lock"
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock_file, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            break
        except FileExistsError:
            with contextlib.suppress(FileNotFoundError):
                if time.time() - os.path.getmtime(lock_file) > stale_after:
                    # Break it via an atomic rename, then re-check the
                    # renamed file: a check-then-unlink could delete a
                    # FRESH lock another breaker just created; a fresh
                    # one is put back.
                    grave = f"{lock_file}.breaking.{uuid.uuid4().hex[:8]}"
                    with contextlib.suppress(FileNotFoundError, OSError):
                        os.rename(lock_file, grave)
                        if time.time() - os.path.getmtime(grave) > stale_after:
                            os.unlink(grave)
                        else:
                            os.rename(grave, lock_file)
                    continue
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"lock {lock_file} still held after {timeout}s"
                )
            sleep(0.05)
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock_file)


def _write(path, dump, exclusive: bool = False) -> None:
    """Write a private temp file, then publish it at ``path`` by
    ``os.replace``, or (``exclusive``) a hard link that fails if taken."""
    path = os.fspath(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as fh:
            dump(fh)
        if not exclusive:
            os.replace(tmp, path)
            return
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(f"{path} is already committed") from None
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def write_text(path, text: str) -> None:
    _write(path, lambda fh: fh.write(text))


def write_json(path, obj) -> None:
    _write(path, lambda fh: json.dump(obj, fh))


def create_json(path, obj) -> None:
    """Publish ``obj`` at ``path`` only if nothing is committed there;
    raises ``CommitConflict`` otherwise."""
    _write(path, lambda fh: json.dump(obj, fh), exclusive=True)


def read_json(path, default=None):
    """The committed document at ``path``. When nothing is committed
    there, ``default`` (a copy) if given, else FileNotFoundError. A
    dict default also fills keys that older documents lack."""
    try:
        with open(path) as fh:
            obj = json.load(fh)
    except FileNotFoundError:
        if default is None:
            raise
        return copy.deepcopy(default)
    if isinstance(default, dict):
        return {**copy.deepcopy(default), **obj}
    return obj


def update_json(path, mutate, default):
    """Locked read-modify-write of the document at ``path``:
    ``mutate(current) -> new`` runs under the lock on the latest
    committed state, so racing committers apply in turn and none is
    lost. Returns the committed document."""
    os.makedirs(os.path.dirname(os.fspath(path)) or ".", exist_ok=True)
    with lock(path):
        obj = mutate(read_json(path, default))
        write_json(path, obj)
    return obj


def publish_dir(src, dest) -> None:
    """Move a fully written directory to its committed name (fails if
    ``dest`` already holds data)."""
    os.rename(src, dest)


def replace_dir(staged, dest) -> None:
    """Swap a fully written ``staged`` directory in at ``dest``: the old
    directory is moved aside first and removed after the swap, so a
    crash leaves one complete copy on disk."""
    staged, dest = os.fspath(staged), os.fspath(dest)
    parent, name = os.path.split(dest)
    retired = os.path.join(parent, f"_retired_{name}_{uuid.uuid4().hex[:8]}")
    os.rename(dest, retired)
    os.rename(staged, dest)
    shutil.rmtree(retired, ignore_errors=True)


def sweep(root, prefix: str, keep) -> int:
    """Delete every entry of ``root`` whose name starts with ``prefix``
    and is not in ``keep`` — what the committed manifest no longer
    lists. Returns the number of entries removed."""
    names = os.listdir(root) if os.path.isdir(root) else []
    gone = [n for n in names if n.startswith(prefix) and n not in keep]
    for name in gone:
        p = os.path.join(root, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)
    return len(gone)
