"""Crash-safe directory swap — the engine's stand-in for a Delta
``mode="overwrite"`` commit on a plain-parquet tree (every index tree
is one, see ``sources.index_layout``).

A rewrite of a directory ``dst`` (a layer root, an index root, or an
aux table such as ``<index>/_stats``) is written in full to a
``staging_path(dst)`` sibling, then published by ``swap_in``: rename
``dst`` aside, rename the staging dir onto ``dst``, delete the
displaced old dir. When ``dst`` does not exist yet the publish is a
single rename. Staging and old dirs are always siblings of ``dst``:
outside a layer root's readable tree, and for underscore-named aux
dirs (``_stats``, ``_ids``) their names keep the leading ``_`` so
Spark's file listing hides them.

A crash leaves one of three states, each unambiguous, and
``recover(dst)`` repairs all of them:

- a staging dir exists: death before the first rename. The source is
  intact (at ``dst`` or in an old dir), so the staging dir is
  discarded.
- ``dst`` missing, an old dir present: death between the two renames,
  the only window with nothing at ``dst``. The old dir is
  byte-complete; it is renamed back.
- ``dst`` and an old dir both present: death after the second rename,
  before cleanup. The new ``dst`` already serves; the old dir is
  deleted.

Every swap operation calls ``recover`` on its target first, and
readers that must not mistake the between-renames window for an
absent table call it before reading. Single-writer contract: at most
one swap per ``dst`` runs at a time, so at most one old dir can be
present when ``dst`` is missing.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

# Every remnant suffix a swap writes or has written, by class. New
# swaps write the first spelling of each class; ``recover`` must keep
# recognising the others, which a crash under an earlier layout can
# still have left on disk (``__tmp_``: the ledger ``_scheme`` record's
# staging dir from before it was published through ``swap_in``).
_REMNANTS = {
    "staging": ("__v_", "__upsert_", "._compact_", "__tmp_"),
    "old": ("__old_", "._old_"),
}


def _sibling(dst: str, cls: str) -> str:
    return f"{dst.rstrip('/')}{_REMNANTS[cls][0]}{uuid.uuid4().hex[:8]}"


def staging_path(dst: str) -> str:
    """A fresh sibling path to write ``dst``'s replacement into."""
    return _sibling(dst, "staging")


def swap_in(tmp: str, dst: str) -> None:
    """Publish the fully written ``tmp`` (from ``staging_path(dst)``)
    as ``dst``: one rename when ``dst`` is absent, otherwise rename
    ``dst`` aside, rename ``tmp`` onto it, and delete the old dir."""
    dst = dst.rstrip("/")
    if not os.path.exists(dst):
        os.rename(tmp, dst)
        return
    old = _sibling(dst, "old")
    os.rename(dst, old)
    os.rename(tmp, dst)
    shutil.rmtree(old)


def recover(dst: str) -> None:
    """Repair whatever an interrupted swap onto ``dst`` left behind (see
    the module docstring for the three states). Safe, and a few glob
    calls, when there is nothing to repair."""
    base = dst.rstrip("/")
    # glob.escape: a path containing glob metacharacters ([, ?, *)
    # would otherwise match nothing and remnants would go unrepaired
    pat = glob.escape(base)

    def remnants(cls: str) -> list[str]:
        return sorted(
            p for s in _REMNANTS[cls] for p in glob.glob(f"{pat}{s}*")
        )

    for t in remnants("staging"):
        shutil.rmtree(t, ignore_errors=True)
    olds = remnants("old")
    if olds and not os.path.exists(base):
        os.rename(olds[0], base)
        olds = olds[1:]
    for o in olds:
        shutil.rmtree(o, ignore_errors=True)
