"""Storage accounting from outside the engine: walk a table directory
and split bytes and file counts by the engine's top-level areas."""

from __future__ import annotations

import os

AREAS = ("_data", "_commits", "_delta_log")


def walk_table(path: str) -> dict[str, dict[str, int]]:
    """``{area: {"bytes": n, "files": n}}`` for ``_data``,
    ``_commits``, ``_delta_log`` and ``other`` (everything else)."""
    out = {a: {"bytes": 0, "files": 0} for a in (*AREAS, "other")}
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        top = rel.split(os.sep, 1)[0]
        area = top if top in AREAS else "other"
        for f in files:
            out[area]["bytes"] += os.path.getsize(os.path.join(root, f))
            out[area]["files"] += 1
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def total_bytes(split: dict[str, dict[str, int]]) -> int:
    return sum(v["bytes"] for v in split.values())
