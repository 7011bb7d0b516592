"""Versioned-manifest store: the one commit protocol every table kind uses
(``PagesTable`` and ``CorpusTable``).

A table directory holds immutable ``_versions/v{N:08d}.json`` manifests
and a ``_versions/CURRENT`` head pointer. A commit of version N:

1. claims ``v{N}.json`` with an EXCLUSIVE create — a hardlink of a
   private temp file, which fails if a concurrent writer already holds
   version N. The loser gets ``CommitConflictError``, reloads the head,
   rebases and retries (Iceberg's optimistic concurrency protocol);
2. advances ``CURRENT`` to N under an ``flock``, never backwards
   (:func:`advance`).
   Without the lock a writer that read ``CURRENT`` before a higher
   committer's rename could overwrite it afterwards, and ``CURRENT``
   would point at an older snapshot (no data loss, but "current" goes
   stale).

Readers load ``CURRENT`` then the version file it names; version files
are never rewritten, so a reader always sees one complete snapshot.
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid


class CommitConflictError(RuntimeError):
    """A concurrent writer claimed this manifest version first — reload
    the manifest, re-apply the batch's metadata, bump, retry."""

    def __init__(self, version: int):
        super().__init__(f"manifest version {version} already committed")
        self.version = version


def versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def exists(path: str) -> bool:
    """True once the table at ``path`` has committed its first manifest."""
    return os.path.exists(os.path.join(versions_dir(path), "CURRENT"))


def load(path: str, version: int | None = None) -> str:
    """JSON text of the CURRENT manifest, or of a historical ``version``."""
    vdir = versions_dir(path)
    if version is None:
        with open(os.path.join(vdir, "CURRENT")) as f:
            version = int(f.read().strip())
    with open(os.path.join(vdir, f"v{version:08d}.json")) as f:
        return f.read()


def versions(path: str) -> list[int]:
    """Versions whose manifests are on disk, ascending."""
    return sorted(
        int(fn[1:-5])
        for fn in os.listdir(versions_dir(path))
        if fn.startswith("v") and fn.endswith(".json")
    )


def load_all(path: str) -> list[dict]:
    """Every manifest on disk, parsed, oldest first."""
    return [json.loads(load(path, v)) for v in versions(path)]


def commit(path: str, version: int, text: str) -> None:
    """Claim ``version`` with manifest ``text`` and advance CURRENT to it
    (see the module docstring). Raises ``CommitConflictError`` when the
    version is already claimed; nothing is changed in that case."""
    vdir = versions_dir(path)
    mpath = os.path.join(vdir, f"v{version:08d}.json")
    tmp = mpath + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    try:
        os.link(tmp, mpath)  # atomic create-if-absent
    except FileExistsError:
        raise CommitConflictError(version)
    finally:
        os.unlink(tmp)
    advance(os.path.join(vdir, "CURRENT"), version)


def advance(pointer: str, version: int) -> None:
    """Atomically replace the head-pointer file ``pointer`` with
    ``version``, unless it already records a version >= ``version``.
    Serialized by an ``flock`` on ``<pointer>.lock``, so a writer that read
    the pointer before a higher writer's rename can never overwrite it
    afterwards."""
    with open(pointer + ".lock", "a") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:  # never move the pointer backwards past a racing higher one
            with open(pointer) as f:
                if int(f.read().strip()) >= version:
                    return
        except (FileNotFoundError, ValueError):
            pass
        tmp = pointer + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.rename(tmp, pointer)
