"""The engine's scratch space: every fixture, run directory and
checkpoint the queries write lives under ``<repo>/.tmp``, and this
module is the only place that names it.

Reuse rule: nothing on disk is trusted across processes. A derived
fixture (ordered stream batches, symlink dirs, split or partitioned
copies of a source table) is rebuilt from scratch on its first use in a
process and reused for the rest of that process. A copy, restore or
earlier run of the tree can therefore never decide a result: the
micro-batch order that file mtimes encode, and the source a fixture was
derived from, are always this process's own.

Names derived from an sf directory are keyed on its absolute path
(:func:`sf_key`), so two sf dirs that share a basename never share a
fixture. The basename stays in the key, so a substring walk for it
still finds every name.

Two engine processes working in one checkout at once are not supported:
fixed checkpoint and fixture names are deleted and rebuilt by whichever
process touches them first.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import uuid
from collections.abc import Callable

_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")

# Paths of the fixtures this process has built (see built_once).
_BUILT: set[str] = set()
_BUILD_LOCK = threading.RLock()


def scratch_path(*parts: str) -> str:
    """``<repo>/.tmp/<parts...>``."""
    return os.path.join(_ROOT, *parts)


def sf_key(sf_dir: str) -> str:
    """``<basename>_<hash8>`` of the sf dir's absolute path."""
    path = os.path.abspath(sf_dir)
    return f"{os.path.basename(path)}_{hashlib.sha1(path.encode()).hexdigest()[:8]}"


def fresh_dir(*parts: str, prefix: str) -> str:
    """A new ``<prefix>_<uuid8>`` path under ``scratch_path(*parts)``,
    after deleting the ``<prefix>_*`` siblings earlier calls left. The
    path itself is not created."""
    root = scratch_path(*parts)
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(f"{prefix}_"):
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return os.path.join(root, f"{prefix}_{uuid.uuid4().hex[:8]}")


def built_once(*parts: str, build: Callable[[str], None]) -> str:
    """``scratch_path(*parts)``, emptied and filled by ``build(path)`` on
    the first call in this process; later calls return it as built."""
    path = scratch_path(*parts)
    with _BUILD_LOCK:
        if path not in _BUILT:
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            build(path)
            _BUILT.add(path)
    return path
