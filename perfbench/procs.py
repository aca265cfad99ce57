"""Process-tree lookup shared by the launcher and the run."""

from __future__ import annotations

import glob


def process_tree(pid: int) -> list[int]:
    """``pid`` followed by every process descended from it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for f in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(f) as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return out
