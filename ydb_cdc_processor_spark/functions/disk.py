"""One directory-size walk for every consumer.

The /stores endpoint needs "how big is this store on disk, strays
included" — a recursive walk whose edge cases are decided once:

- dot-prefixed entries are SKIPPED: staging siblings
  (``.name.rebuild-*``), snapshot histories (``.name.snapshots``) and
  hidden files are transient or non-data, and counting a mid-rebuild
  staged duplicate would double-report size;
- files racing away mid-walk (a concurrent commit's GC) are
  tolerated — a size probe must never crash the thing it observes.

A store's LIVE size (the JoinView broadcast cap) comes from the files
its manifest names instead: ``total_bytes()`` on the flat and bucketed
views.
"""

from __future__ import annotations

import os

from ydb_cdc_processor_spark import storage


def disk_usage(path: str | None) -> tuple[int, int]:
    """``(n_files, total_bytes)`` under ``path`` (0, 0 if None/absent)."""
    n = b = 0
    if not path:
        return 0, 0
    for root, dirs, files in storage.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            if f.startswith("."):
                continue
            try:
                b += storage.file_size(os.path.join(root, f))
                n += 1
            except OSError:
                pass   # file raced away mid-walk (concurrent GC)
    return n, b
