"""Directory commit: the one stage → publish → recover sequence behind
every sink that replaces a whole directory (small-file compaction,
checkpoint-history expiry, the JSONL export).

It stands in for an Iceberg snapshot commit on plain parquet/JSON
directories.  POSIX cannot rename a directory over a non-empty one, so a
commit is two renames: the live ``<target>`` moves aside to
``<target>.bak``, the staged ``<target>.tmp`` moves in, and the backup is
dropped.  Both siblings sit next to the target, on its filesystem, so
each rename is atomic.  A crash leaves one of three states, and
:func:`stage` — the first step of every commit — repairs each:

- a backup and no live directory: the crash hit between the two renames,
  so the backup is the last published state and is renamed back;
- a backup beside a live directory: the commit finished but the backup
  was not (fully) removed, so it is dropped;
- a staging directory: an unfinished or rejected write, so it is removed.

Readers never look at the staging directory; after recovery they see the
old directory or the new one, never a partial one.  A reader that must
not wait for the next commit calls :func:`recover`, which performs only
the first repair and deletes nothing.
"""

from __future__ import annotations

import os
import shutil


def recover(target: str) -> None:
    """Rename ``<target>.bak`` back to *target* when a commit crashed
    between its two renames (backup present, *target* missing)."""
    bak = target + ".bak"
    if os.path.exists(bak) and not os.path.exists(target):
        os.rename(bak, target)


def stage(target: str) -> str:
    """Recover *target* from any interrupted commit and return the (absent)
    staging path the next version must be written to."""
    recover(target)
    bak = target + ".bak"
    if os.path.exists(bak):
        shutil.rmtree(bak)
    staged = target + ".tmp"
    if os.path.exists(staged):
        shutil.rmtree(staged)
    return staged


def publish(target: str) -> None:
    """Swap the directory written to ``stage(target)`` in as *target*."""
    bak = target + ".bak"
    replacing = os.path.exists(target)
    if replacing:
        os.rename(target, bak)
    os.rename(target + ".tmp", target)
    if replacing:
        shutil.rmtree(bak)
