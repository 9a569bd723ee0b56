"""Layout accounting from outside the package: plain directory listings.

A listing maps each file's path (relative to the index root) to its
``(inode, size)``. Diffing the listings taken before and after an
operation gives the bytes it wrote: a file counts as written when its
``(inode, size)`` was not in the listing before, so an existing file the
operation only renamed (a fold moving a superseded partition aside) is
not counted as written.
"""

from __future__ import annotations

import os


def listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def bytes_written(before: dict, after: dict) -> int:
    seen = set(before.values())
    return sum(size for ino, size in after.values() if (ino, size) not in seen)


def total_bytes(lst: dict) -> int:
    return sum(size for _, size in lst.values())


def commit_dirs(root: str) -> int:
    """Committed mutation dirs waiting to be folded (``batches/*``)."""
    b = os.path.join(root, "batches")
    return len(os.listdir(b)) if os.path.isdir(b) else 0
