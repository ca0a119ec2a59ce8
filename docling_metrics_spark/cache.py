"""Build-once intermediates: the one place that decides build vs reuse.

Every corpus, fixture and shared intermediate table the queries read back
from a fixed path goes through :func:`materialize`. The reuse key is the
source fingerprint plus the caller's tag (the inputs that shaped the
table); it lives in a marker file inside the directory. A table is written
into a sibling temp dir, the marker goes in last, and the dir is renamed
into place — so a dir at its final path with a matching marker is
complete, and a failed write leaves nothing a later call would reuse.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

_MARKER = "_DMS_INPUT"  # leading "_": Spark and DuckDB globs skip it

#: (path, "build" | "reuse") per materialize call, in call order.
#: bench.py snapshots this around each timed query to disclose which
#: queries consumed a table another query already paid to build
#: ("shared_intermediates") — reuse must be visible, never silently
#: credited.
CACHE_EVENTS: list[tuple[str, str]] = []


def _src_fingerprint() -> str:
    """8-hex digest of every module in the package: a table built by one
    version of the code is never served to another."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.md5()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:8]


SRC_TAG = _src_fingerprint()


def materialize(path: str, tag: str, write: Callable[[str], None]) -> str:
    """Return ``path`` holding what ``write(dir)`` puts in ``dir``, built
    only if ``path`` was not already built from (source, ``tag``)."""
    key = f"{SRC_TAG}|{tag}"
    try:
        with open(os.path.join(path, _MARKER)) as fh:
            fresh = fh.read() == key
    except OSError:
        fresh = False
    if fresh:
        CACHE_EVENTS.append((path, "reuse"))
        return path
    parent, name = os.path.split(path)
    tmp = tempfile.mkdtemp(prefix=f".{name}.", dir=parent)
    try:
        write(tmp)
        with open(os.path.join(tmp, _MARKER), "w") as fh:
            fh.write(key)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    CACHE_EVENTS.append((path, "build"))
    return path


def invalidate_cache(path: str) -> None:
    """Force the next :func:`materialize` on ``path`` to rebuild (drops
    the marker, not the data)."""
    try:
        os.remove(os.path.join(path, _MARKER))
    except FileNotFoundError:
        pass
