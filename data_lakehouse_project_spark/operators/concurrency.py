"""How a table commit becomes visible, and the optimistic-concurrency
retry around it.

Every table this engine writes — its own ``TxnTable`` and foreign
Delta and Iceberg tables alike — publishes a commit as ONE new file:
the next ``_delta_log/N.json`` or the next
``metadata/vN.metadata.json``.  :func:`publish_exclusive` is the only
code that creates such a file.  It writes the whole text to a temp
file in the same directory, fsyncs it, then hard-links it to the
version slot (``os.link`` creates only if absent), so a commit is

* **atomic** — a writer killed at any point leaves at most an
  unreferenced temp file, never a torn version; and
* **exclusive** — two writers can never both win a version: the loser
  removes its temp file and the data files it staged, then raises
  :class:`ConcurrentCommitError`.

This is the Delta protocol's "mutual exclusion via put-if-absent of a
complete file"; an object-store deployment would swap this one
function for a conditional PUT.  Files that are legitimately
overwritten (checkpoints, ``_last_checkpoint``, ``version-hint.text``)
go through :func:`replace_atomic` instead: temp file, then rename.

Every foreign-writer entry point re-reads the snapshot and
re-validates (constraints, MERGE ambiguity, DV conflicts) before
staging, which makes re-invocation the correct optimistic-concurrency
loop: re-read, re-validate, re-stage, re-commit.
:func:`commit_with_retries` bounds that loop — the pattern real
writers (delta-spark's ``OptimisticTransaction``, Iceberg's
``Tasks.retry``) ship built in.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Any, Callable, Iterable


class ConcurrentCommitError(ValueError):
    """Another writer committed the version this commit targeted.

    Subclasses ValueError so pre-existing callers that caught the
    generic error keep working."""


def _temp_beside(path: str) -> str:
    return os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")


def _remove_quietly(paths: Iterable[str]) -> None:
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def publish_exclusive(
    path: str, text: str, staged: Iterable[str] = ()
) -> None:
    """Make ``text`` visible at ``path`` all at once, only if no file
    is there yet.  On a lost race the temp file and the caller's
    ``staged`` files are removed and :class:`ConcurrentCommitError` is
    raised."""
    tmp = _temp_beside(path)
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, path)  # atomic create-if-absent
    except FileExistsError:
        _remove_quietly(staged)
        raise ConcurrentCommitError(
            f"concurrent commit: {os.path.basename(path)} was published "
            "by another writer; re-read the table and retry"
        ) from None
    finally:
        _remove_quietly([tmp])


def replace_atomic(path: str, write: Callable[[str], Any]) -> None:
    """Rewrite ``path`` through a temp file in the same directory and a
    rename, so a reader sees the old file or the new one, never a
    torn one.  ``write(tmp)`` fills the temp file."""
    tmp = _temp_beside(path)
    try:
        write(tmp)
        os.replace(tmp, path)
    except BaseException:
        _remove_quietly([tmp])
        raise


def commit_with_retries(
    fn: Callable[..., Any],
    *args: Any,
    retries: int = 3,
    backoff_s: float = 0.05,
    **kwargs: Any,
):
    """Run a foreign-table write operation with bounded optimistic
    retries: on :class:`ConcurrentCommitError`, back off briefly and
    re-invoke ``fn`` (which re-reads the new snapshot and re-validates
    before committing).  Raises the final :class:`ConcurrentCommitError`
    once ``retries`` re-attempts are exhausted.  Validation failures
    (constraint violations, MERGE ambiguity, gating refusals) are NOT
    retried — they would fail identically against any snapshot."""
    attempt = 0
    while True:
        try:
            return fn(*args, **kwargs)
        except ConcurrentCommitError:
            attempt += 1
            if attempt > retries:
                raise
            time.sleep(backoff_s * attempt)
