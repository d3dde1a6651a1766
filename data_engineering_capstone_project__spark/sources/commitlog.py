"""Object-store-safe versioned-snapshot commit protocol (VERDICT r7 #2/#3).

The round-7 protocol committed a snapshot by atomically ``os.replace``-ing
a ``LATEST`` pointer file and claimed version numbers with atomic
``os.mkdir`` — both POSIX-only primitives. A real 100 TB pipeline's
artifact root lives on S3/GCS/HDFS where neither exists, and the pointer
swap was additionally LAST-WRITER-WINS: if the ``v=N`` writer finished
after the ``v=N+1`` writer, ``LATEST`` regressed and a committed version
silently disappeared (dup re-admission in the ingest loop).

This module replaces both with primitives every object store offers:

- **put-if-absent** (``O_CREAT|O_EXCL`` locally; S3 conditional PUT with
  ``If-None-Match: *``, GCS ``ifGenerationMatch=0``, ABFS/HDFS atomic
  create) — used for both the version CLAIM and the COMMIT marker;
- **list + exists** — commit state is the PRESENCE of a per-version
  ``_COMMITTED`` marker file, and the committed snapshot is
  ``max(versions with a marker)``, which is MONOTONE under any writer
  interleaving by construction (a slow v=N landing after a fast v=N+1
  can never regress a max).

Protocol per writer::

    1. n := 1 + max(existing v=* entries)           # list
    2. create v=n/_CLAIM   exclusively               # put-if-absent; on
       FileExistsError retry with n+1                # conflict, next n
    3. write payload under v=n/ (parquet parts, meta)
    4. create v=n/_COMMITTED exclusively             # THE commit point

A writer that dies before step 4 leaves an orphan claim no reader ever
resolves; re-running it claims a fresh n. Directory creation for the
local filesystem is a non-protocol convenience (object stores have no
directories); no step relies on atomic rename or atomic mkdir.

Spark's own parquet part files are committed by its FileOutputCommitter
(rename-based locally; use an object-store committer — e.g. the S3A
magic committer — there). This module only governs snapshot VISIBILITY:
readers never list a ``v=n`` payload until the marker exists, so
part-file mechanics inside an uncommitted version are never observed.
"""

from __future__ import annotations

import os

_CLAIM = "_CLAIM"
_COMMITTED = "_COMMITTED"
_FENCED = "_FENCED"

__all__ = [
    "claim_version",
    "commit_version",
    "committed_versions",
    "latest_version",
    "all_versions",
    "fence_version",
    "fence_uncommitted",
    "unfence_version",
    "is_fenced",
    "FencedVersionError",
]


class FencedVersionError(RuntimeError):
    """A commit landed on a version fenced by ``fence_uncommitted`` —
    the writer's lease was broken while this claim was in flight."""


def _put_if_absent(path: str) -> None:
    """Exclusive create — the one atomic primitive the protocol needs.
    Raises ``FileExistsError`` when the object already exists (the
    conditional-PUT conflict signal)."""
    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)


def all_versions(path: str) -> list[int]:
    """Every ``v=N`` entry under ``path`` — committed AND in-flight
    claims (the raw listing; resolution filters by marker)."""
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(d[2:])
        for d in entries
        if d.startswith("v=") and d[2:].isdigit()
    )


def claim_version(path: str) -> tuple[int, str]:
    """Claim the next free version number via put-if-absent of the
    ``_CLAIM`` marker; returns ``(n, snapshot_dir)``. Exactly one writer
    wins each n under any interleaving; losers retry n+1."""
    os.makedirs(path, exist_ok=True)
    n = max(all_versions(path), default=0)
    while True:
        n += 1
        target = os.path.join(path, f"v={n}")
        # local-FS convenience only — the claim is the _CLAIM create
        os.makedirs(target, exist_ok=True)
        try:
            _put_if_absent(os.path.join(target, _CLAIM))
            return n, target
        except FileExistsError:
            continue


def fence_version(path: str, n: int) -> None:
    """Stamp the ``_FENCED`` marker on ``v=n`` (put-if-absent,
    idempotent): the version becomes permanently invisible to readers
    even if a ``_COMMITTED`` marker lands later — the fence wins
    regardless of marker ordering, which is what makes breaking a
    paused-but-live writer's lease race-free for in-flight claims (the
    zombie's late commit cannot publish a fenced claim, no matter how
    it interleaves with the fencing)."""
    try:
        _put_if_absent(os.path.join(path, f"v={n}", _FENCED))
    except FileExistsError:
        pass


def unfence_version(path: str, n: int) -> None:
    """Remove the fence from ``v=n`` (idempotent). ONLY for the current
    lease holder adopting a dead writer's recoverable claim (exactly-
    once recovery: the claim is referenced by a committed admission
    delta, so completing it is the correct action) — the caller must be
    serialized by the lease."""
    try:
        os.remove(os.path.join(path, f"v={n}", _FENCED))
    except FileNotFoundError:
        pass


def is_fenced(path: str, n: int) -> bool:
    return os.path.exists(os.path.join(path, f"v={n}", _FENCED))


def fence_uncommitted(path: str) -> list[int]:
    """Fence every claim without a ``_COMMITTED`` marker — the
    break-a-lease sweep. Versions committed before the sweep stay
    visible (they are the dead holder's COMPLETED work, which the
    break contract preserves); a commit racing the sweep converges to
    invisible either way (fence wins at read time). Returns the fenced
    version numbers."""
    fenced = []
    for v in all_versions(path):
        if not os.path.exists(os.path.join(path, f"v={v}", _COMMITTED)):
            fence_version(path, v)
            fenced.append(v)
    return fenced


def commit_version(path: str, n: int) -> None:
    """THE commit point: put-if-absent of the ``_COMMITTED`` marker makes
    ``v=n`` visible. Raises ``FileExistsError`` on a double commit and
    :class:`FencedVersionError` when the claim was fenced by a lease
    break (the marker is still not written then; and even a marker that
    slips in between the fence check and a racing fence stays invisible
    — resolution excludes fenced versions)."""
    if is_fenced(path, n):
        raise FencedVersionError(
            f"v={n} under {path!r} was fenced by a lease break: this "
            "writer's lease is no longer valid; its in-flight claim "
            "cannot be published"
        )
    _put_if_absent(os.path.join(path, f"v={n}", _COMMITTED))


def committed_versions(path: str) -> list[int]:
    """Versions a reader may resolve: those with a ``_COMMITTED`` marker
    and no ``_FENCED`` marker (fence wins — see :func:`fence_version`)."""
    return [
        v
        for v in all_versions(path)
        if os.path.exists(os.path.join(path, f"v={v}", _COMMITTED))
        and not os.path.exists(os.path.join(path, f"v={v}", _FENCED))
    ]


def latest_version(path: str) -> int:
    """The committed snapshot: ``max(committed_versions)`` — monotone
    under concurrent writers. Raises ``FileNotFoundError`` when nothing
    was ever committed."""
    vs = committed_versions(path)
    if not vs:
        raise FileNotFoundError(
            f"no committed version under {path!r} (orphan claims only, "
            "or nothing written)"
        )
    return vs[-1]
