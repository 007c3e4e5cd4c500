"""The publish protocol for symlink-published versioned tables.

A versioned table is a symlink ``<name>`` pointing at a sibling
``<name>.v{N}`` directory. :class:`VersionedTable` is the ONE
implementation of how such a table is resolved and published: the
products table (pipeline.py), the ledger state and the ledger history
(sources/ledger.py) all go through it and carry no copy of their own.
Publishing writes ``<name>.v{N}`` whole, atomically repoints the symlink,
then deletes old versions. (The stream sinks and
``maintenance.compact_published_table`` still run a tmp-dir + rename
variant of the same steps, built from the two primitives at the bottom
of this module.)

Retention's contract is *a reader that resolved the symlink (or the
no-symlink fallback) just before this publish must keep scanning its
pinned version safely*, so exactly two directories must survive a
publish: the NEW version and the directory readers could have been
pinned to immediately before it (the previously-published target — or,
when no symlink existed, the newest complete version the fallback reader
ranks first).

Ranking "the two newest complete versions" instead — the protocol's
previous form — is subtly wrong: a crash in this protocol's own window
(between the version rename and the symlink replace) leaves a COMPLETE
but never-published higher version. The next publish would then rank
that remnant above the still-live previous version and delete the very
directory a pinned reader is scanning. Keeping {new, previously-read}
by identity instead of by rank is immune: stale remnants — torn or
complete — were never readable (symlink readers resolve the link;
fallback readers only exist when there is no symlink, and then the
previously-read dir IS the newest complete version), so they are deleted
outright.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path
from typing import Callable, Iterable


class VersionedTable:
    """Handle on the versioned table published through the symlink
    ``link``: lists its versions, resolves the version readers see, and
    publishes a new one. Callers serialize writers on the table's own
    lock; the handle holds no state beyond the path."""

    def __init__(self, link: str | Path):
        self.link = Path(link)
        self._pat = re.compile(re.escape(self.link.name) + r"\.v(\d+)$")

    def versions(self) -> list[Path]:
        """Version dirs ``<name>.v{N}``, sorted by N."""
        parent = self.link.parent
        if not parent.exists():
            return []
        found = [
            (int(m.group(1)), p)
            for p in parent.iterdir()
            if (m := self._pat.match(p.name))
        ]
        return [p for _, p in sorted(found)]

    def current(self) -> Path | None:
        """The directory a reader scans — resolve it ONCE and read that
        path, so the scan stays pinned: the symlink target, a legacy real
        directory (pre-versioning layout), or, when there is no symlink
        (a crash between a version write and its first publish), the
        newest COMPLETE version. Completeness = ``_SUCCESS``: a
        half-written crash remnant is indistinguishable from a
        written-but-unpublished version by name alone, and trusting it
        would propagate a torn table into the next write — better absent
        (every table published here can be rebuilt from its inputs). The
        version listing runs only when the symlink does not resolve."""
        p = self.link
        if p.is_symlink():
            target = p.parent / os.readlink(p)
            if target.exists():
                return target
        elif p.exists() and any(p.iterdir()):
            return p
        complete = [v for v in self.versions() if (v / "_SUCCESS").exists()]
        return complete[-1] if complete else None

    def publish(self, write: Callable[[Path], None]) -> Path:
        """Publish a new version: ``write(new_dir)`` fills the next
        ``<name>.v{N}``, the symlink swaps to it, and retention keeps
        {new, previously read}. Returns the new version dir.

        The previously-read version is captured BEFORE the new dir
        exists: in the no-symlink window ``current()`` falls back to the
        newest complete version, and capturing it after the write would
        resolve to the new dir itself — retention would then delete the
        version fallback readers are actually on. A legacy real
        directory at ``link`` is moved aside to ``<name>.legacy`` for the
        swap and deleted after it (the gap is covered by the
        newest-version fallback)."""
        prev = self.current()
        versions = self.versions()
        n = int(versions[-1].name.rsplit(".v", 1)[1]) + 1 if versions else 1
        new_dir = self.link.parent / f"{self.link.name}.v{n}"
        write(new_dir)
        legacy = self.link.parent / f"{self.link.name}.legacy"
        if self.link.exists() and not self.link.is_symlink():
            if legacy.exists():
                shutil.rmtree(legacy)
            self.link.rename(legacy)
        swap_symlink(self.link, new_dir.name)  # readers see old xor new
        retire_versions(self.versions(), keep=(new_dir, prev))
        if legacy.exists():
            shutil.rmtree(legacy, ignore_errors=True)
        return new_dir


def swap_symlink(state: Path, target_name: str) -> None:
    """Atomically repoint ``state`` (the published-table symlink) at a
    sibling directory: create a ``.swap`` symlink beside it, then
    ``os.replace`` over the live name — readers resolve strictly the old
    or the new target, never a missing or half-made link. The ONE shared
    implementation of the publish commit step (products, ledger state,
    ledger history, stream sinks, online compaction) — five hand-rolled
    copies of a crash-safety-critical dance drift; one does not."""
    swap = state.parent / f"{state.name}.swap"
    if swap.is_symlink() or swap.exists():
        swap.unlink()
    swap.symlink_to(target_name)
    os.replace(swap, state)


def retire_versions(
    all_versions: Iterable[Path], keep: Iterable[Path | None]
) -> None:
    """Delete every version directory not in ``keep``.

    ``keep`` is {the just-published dir, the previously-read dir (None if
    the table had no readable version before this publish)}. Writers are
    serialized by the table's writer lock, so nothing outside ``keep``
    can be in-flight; everything else is a retired or crash-stale dir no
    reader can reach."""
    keep_set = {Path(p).resolve() for p in keep if p is not None}
    for p in all_versions:
        if Path(p).resolve() in keep_set:
            continue
        shutil.rmtree(p, ignore_errors=True)
