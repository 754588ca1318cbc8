"""Bytes on disk of lake tables: the table root plus its sibling
directories and files (``<root>__hudi_log``, ``<root>__hudi_seqbase``,
...), which hold the delta log and the commit sequence."""

from __future__ import annotations

import os


def table_files(root: str) -> dict[str, int]:
    """Every file of the table at ``root``, path -> size in bytes."""
    root = root.rstrip("/")
    parent, base = os.path.split(root)
    files: dict[str, int] = {}
    if not os.path.isdir(parent):
        return files
    for entry in os.scandir(parent):
        if entry.name != base and not entry.name.startswith(base + "__"):
            continue
        if entry.is_file():
            files[entry.path] = entry.stat().st_size
            continue
        for dirpath, _dirs, names in os.walk(entry.path):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    files[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return files


class StorageMeter:
    """Walks a set of tables after each commit: files and bytes the
    commit wrote, and live bytes."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self._seen: dict[str, int] = {}
        self.live_bytes = 0

    def walk(self) -> tuple[int, int]:
        """Returns (files written, bytes written) since the last walk."""
        now: dict[str, int] = {}
        for r in self.roots:
            now.update(table_files(r))
        new = [p for p in now if p not in self._seen]
        written = sum(now[p] for p in new)
        self._seen = now
        self.live_bytes = sum(now.values())
        return len(new), written
