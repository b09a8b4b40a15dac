"""Owner of every plans-module state root and of its lifetime.

A query's on-disk state (ivm rollups, planner tables, inverted and IVF
indexes, decontamination and admission indexes) lives in a root made
here, under one of two lifetimes:

* :func:`standing` — built once per session and reused. The root is
  recorded only after its ``build`` returns, so a build that raises
  leaves nothing behind and the next call rebuilds it.
* :func:`fresh` — a new root per call. The previous call's root for the
  same key is removed then, not earlier, so the lazy frames its caller
  returned can still collect.

One private dict records both, and one ``atexit`` sweep removes every
root :func:`mkdtemp` made, recorded or not.

:func:`clone_tree` is the one way a standing base is cloned into a fresh
root.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

_ROOTS: list[str] = []

#: ``(name, key) -> root`` for both lifetimes.
_RECORDED: dict[tuple[str, str], str] = {}


def mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` that is guaranteed a session-end cleanup."""
    root = tempfile.mkdtemp(prefix=prefix)
    _ROOTS.append(root)
    return root


def standing(name: str, key: str, build: Callable[[str], object]) -> str:
    """The session's standing root for ``(name, key)``, made as
    ``afdp-{name}-*`` and filled by ``build(root)`` on first use.

    A standing base is the measured grain's precondition, not its cost:
    a production deployment maintains its tables and indexes on their own
    cadence, so a query that times "one increment" or "one probe" starts
    from state that already exists. Its contents are deterministic per
    key, so reuse cannot change results; callers that mutate it clone it
    with :func:`fresh` ``(like=...)`` first.

    The root is recorded only after ``build`` returns. If ``build``
    raises, the root is removed and the error propagates; the next call
    rebuilds from scratch instead of reusing a half-built base."""
    root = _RECORDED.get((name, key))
    if root is None:
        root = mkdtemp(prefix=f"afdp-{name}-")
        try:
            build(root)
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise
        _RECORDED[(name, key)] = root
    return root


def fresh(name: str, key: str, like: str | None = None) -> str:
    """A new ``afdp-{name}-*`` root for ``(name, key)``; the root the
    previous call for the same key returned is removed. With ``like``,
    that tree is cloned into the new root."""
    old = _RECORDED.pop((name, key), None)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    root = mkdtemp(prefix=f"afdp-{name}-")
    _RECORDED[(name, key)] = root
    if like is not None:
        clone_tree(like, root)
    return root


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:  # EXDEV (other filesystem), or links not supported
        shutil.copy2(src, dst)


def clone_tree(src: str, dst: str) -> None:
    """Clone the directory tree ``src`` into ``dst`` (which may exist),
    hard-linking each file and copying it where a link fails.

    Linking is safe for versioned state: a data file is never changed in
    place (commits write NEW txn files; the ``_head`` hint is replaced
    atomically, which breaks the link), so the clone cannot alter ``src``,
    and only metadata is copied."""
    shutil.copytree(src, dst, dirs_exist_ok=True, copy_function=_link_or_copy)


def _cleanup() -> None:
    _RECORDED.clear()
    while _ROOTS:
        shutil.rmtree(_ROOTS.pop(), ignore_errors=True)


atexit.register(_cleanup)
