"""Session-scoped temp-root registry (ADVICE r13 #3, generalized).

Every plans-module state dir (ivm rollups, planner tables, inverted
indexes, IVF indexes, decontam/eval/admission indexes) was created with a
bare ``tempfile.mkdtemp`` — some modules tore down their PREVIOUS root per
invocation, but the last root of every family outlived the process, so
/tmp accumulated hundreds of ``afdp-*`` dirs across bench/test sessions.
All those call sites now route through :func:`mkdtemp` here, which
registers the root for one best-effort ``rmtree`` sweep at interpreter
exit. Modules may still rmtree their own roots earlier (rebuilds,
explicit teardowns) — removing an already-removed root is a no-op.

:func:`clone_tree` is the one way a module clones a pristine state root
into a fresh one.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOTS: list[str] = []


def mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` that is guaranteed a session-end cleanup."""
    root = tempfile.mkdtemp(prefix=prefix)
    _ROOTS.append(root)
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
    place (commits write NEW txn files; ``_head``/``_batches`` are replaced
    atomically, which breaks the link), so the clone cannot alter ``src``,
    and only metadata is copied."""
    shutil.copytree(src, dst, dirs_exist_ok=True, copy_function=_link_or_copy)


def _cleanup() -> None:
    while _ROOTS:
        shutil.rmtree(_ROOTS.pop(), ignore_errors=True)


atexit.register(_cleanup)
