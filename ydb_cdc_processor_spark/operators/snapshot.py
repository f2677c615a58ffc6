"""Time-travel reads over a materialized view — per-batch snapshots at
zero data cost.

The reference's target is a mutable row table: once a batch lands, the
pre-batch state is gone (``YqlWriter.java:118-147`` upserts in place).
Warehouse users expect better — "what did the view hold before this
morning's backfill?" — and every store's commit protocol makes
snapshots nearly free: a store's state is its manifest plus the
immutable generation files it names (operators/bucketed_view.py), so a
snapshot is a copy of the manifest and one ``link_or_copy`` per named
file (inode refs, no data copy on POSIX), built directly in its
version directory ``v<N>/`` and published by writing that directory's
``_snap.json`` LAST: only a directory holding one is a version, so no
directory is ever renamed and snapshots run on object stores too.  A
later commit garbage-collects the superseded generations, but the
snapshot's hardlinks keep the inodes alive — a version reads
identically forever, or until retention prunes it.  A
version is read through a keyed store opened on it: a flat view is one
bucket, so one reader serves every layout.

Cost model at scale: O(#files) metadata ops per snapshot, zero bytes
copied (the 100 TB analogue is a manifest pointing at immutable
object-store keys — Delta/Iceberg's snapshot design; hardlinks are the
local-filesystem spelling of the same idea).  Disk retention: a flat
(one-bucket) view rewrites its one bucket per batch, so budget
``keep_last × |view|`` bytes; a many-bucket view's untouched buckets
share their files across versions, so its snapshots grow with churn,
not with view size.

Replay interaction: a checkpoint replay that re-applies a batch and
re-snapshots produces a DUPLICATE version of identical content —
harmless for reads, and ``snapshot(label=...)`` with a stable label
collapses it (same label → same version slot).  Each version's copy of
the manifest carries the store's applied tokens as of that version.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ydb_cdc_processor_spark import storage
from ydb_cdc_processor_spark.operators.bucketed_view import (
    MANIFEST, BucketedMaterializedView, named_files, read_manifest)

_SNAP_META = "_snap.json"


class SnapshotView:
    """Hardlink-based version history for a keyed view (flat, bucketed
    or range-partitioned)."""

    def __init__(self, view: BucketedMaterializedView, keep_last: int = 5):
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        self.view = view
        self.keep_last = keep_last
        parent = os.path.dirname(os.path.abspath(view.path)) or "."
        self.snap_dir = os.path.join(
            parent, f".{os.path.basename(view.path)}.snapshots")

    # -- write side ------------------------------------------------------------

    def snapshot(self, label: str | None = None) -> int:
        """Capture the CURRENT view state as the next version (or re-use
        the version already carrying ``label`` — the replay-collapse
        path).  Returns the version number.  Atomic AGAINST CRASHES:
        links build in ``v<N>/`` and its ``_snap.json`` is written last
        (one ``replace_text``), so a crash mid-snapshot leaves a partial
        ``v<N>/`` that :meth:`versions` does not list and the next
        snapshot clears before it reuses the slot.  NOT safe
        against a CONCURRENT writer: a commit racing the link walk could
        freeze a cross-bucket torn version (or ENOENT mid-link) — call
        snapshot() from the same maintenance loop that calls apply(),
        between batches, exactly like maintain(); the engines'
        driver-serialized batch loop satisfies this by construction.

        Label-collapse scope: a replay is only collapsible while its
        version is RETAINED — re-snapshotting a label that retention
        already pruned mints a new version of the CURRENT state.  Size
        ``keep_last`` above the checkpoint replay window (replays
        re-apply the last batch, never one ``keep_last`` generations
        back)."""
        if label is not None:
            for v in self.versions():
                if v.get("label") == label:
                    return v["version"]
        if not self.view.exists():
            raise FileNotFoundError(
                f"view at {self.view.path} has no state to snapshot")
        storage.makedirs(self.snap_dir)
        version = 1 + max((v["version"] for v in self.versions()),
                          default=0)
        vdir = os.path.join(self.snap_dir, f"v{version}")
        storage.remove_tree(vdir)   # a torn earlier attempt at this slot
        # the manifest and the files of the generations it names (never
        # a superseded or uncommitted one); link_or_copy is the seam
        # primitive: hardlink on POSIX, byte copy on backends without
        # links (HDFS/object stores)
        doc = read_manifest(self.view.path)
        files = named_files(self.view.path, doc)
        storage.makedirs(vdir)
        for f in files:
            dst = os.path.join(vdir, os.path.relpath(f, self.view.path))
            storage.makedirs(os.path.dirname(dst))
            storage.link_or_copy(f, dst)
        storage.write_text(os.path.join(vdir, MANIFEST), json.dumps(doc))
        storage.replace_text(
            os.path.join(vdir, _SNAP_META),
            json.dumps({"version": version, "label": label,
                        "n_files": len(files)}))
        self._prune()
        return version

    def _prune(self) -> None:
        vs = sorted(self.versions(), key=lambda v: v["version"])
        for v in vs[:-self.keep_last]:
            storage.remove_tree(os.path.join(self.snap_dir,
                                             f"v{v['version']}"))

    # -- read side -------------------------------------------------------------

    def versions(self) -> list[dict]:
        """Metadata of every retained version, ascending — bounded
        (≤ keep_last rows), driver-side."""
        out = []
        if not storage.is_dir(self.snap_dir):
            return out
        for name in storage.listdir(self.snap_dir):
            meta = os.path.join(self.snap_dir, name, _SNAP_META)
            if name.startswith("v") and storage.is_file(meta):
                out.append(json.loads(storage.read_text(meta)))
        return sorted(out, key=lambda v: v["version"])

    def read_as_of(self, version: int) -> DataFrame:
        """The view exactly as it stood when ``version`` was taken,
        read through a keyed store opened on the version's own copy of
        the manifest (only the generations it names; the bucket count
        is the manifest's)."""
        path = os.path.join(self.snap_dir, f"v{version}")
        if not storage.is_file(os.path.join(path, _SNAP_META)):
            have = [v["version"] for v in self.versions()]
            raise FileNotFoundError(
                f"no snapshot v{version} at {self.snap_dir} "
                f"(retained: {have} — keep_last={self.keep_last})")
        return BucketedMaterializedView(self.view.spark, path,
                                        self.view.keys).read()
