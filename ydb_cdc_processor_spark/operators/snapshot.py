"""Time-travel reads over a materialized view — per-batch snapshots at
zero data cost.

The reference's target is a mutable row table: once a batch lands, the
pre-batch state is gone (``YqlWriter.java:118-147`` upserts in place).
Warehouse users expect better — "what did the view hold before this
morning's backfill?" — and the flat view's immutable-parquet + atomic
swap design makes snapshots nearly free: every ``overwrite`` writes a
FRESH directory of files that are never mutated afterwards, so a
snapshot is one ``os.link`` per file (inode refs, no data copy), taken
atomically via the same temp+rename discipline as the swap itself.  A
later swap deletes the live directory's entries, but the snapshot's
hardlinks keep the inodes alive — a version reads identically forever,
or until retention prunes it.

Cost model at scale: O(#files) metadata ops per snapshot, zero bytes
copied (the 100 TB analogue is a manifest pointing at immutable
object-store keys — Delta/Iceberg's snapshot design; hardlinks are the
local-filesystem spelling of the same idea).  Disk retention: a flat
view rewrites every file per batch, so budget ``keep_last × |view|``
bytes — the feature fits compact serving views, not the fact store
(which is the bucketed view's territory; its touched-bucket rewrites
would share MOST files across versions, the natural extension).

Replay interaction: versions are stamped with the view's current meta
(including any batch token the owner wrote), so a checkpoint replay
that re-applies a batch and re-snapshots produces a DUPLICATE version
of identical content — harmless for reads, and ``snapshot(label=...)``
with a stable label collapses it (same label → same version slot).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame

from ydb_cdc_processor_spark import storage
from ydb_cdc_processor_spark.operators.bucketed_view import (
    MANIFEST, BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.merge import ParquetMaterializedView

_SNAP_META = "_snap.json"


class SnapshotView:
    """Hardlink-based version history for a :class:`ParquetMaterializedView`."""

    def __init__(self, view: ParquetMaterializedView, keep_last: int = 5):
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
        links build in a temp sibling and rename in; a crash
        mid-snapshot leaves only an ignorable temp directory.  NOT safe
        against a CONCURRENT writer: a swap racing the link walk could
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
        tmp = os.path.join(self.snap_dir,
                           f".v{version}.tmp-{uuid.uuid4().hex[:8]}")
        # a BUCKETED view links its manifest and the files of the
        # generations it names (never a superseded or staged one); buckets
        # the next batches never touch keep pointing at the SAME inodes
        # across versions — snapshot storage grows with churn, not with
        # view size (the manifest-sharing property Delta/Iceberg get from
        # immutable object keys).  A flat view links its whole directory.
        # link_or_copy is the seam primitive: hardlink on POSIX, byte
        # copy on backends without links (HDFS/object stores)
        if isinstance(self.view, BucketedMaterializedView):
            files = [os.path.join(self.view.path, MANIFEST)] + [
                f for fs in self.view.bucket_files().values() for f in fs]
        else:
            files = [os.path.join(root, name) for root, _dirs, names
                     in storage.walk(self.view.path) for name in names]
        for f in files:
            dst = os.path.join(tmp, os.path.relpath(f, self.view.path))
            storage.makedirs(os.path.dirname(dst))
            storage.link_or_copy(f, dst)
        n_files = len(files)
        view_meta = (self.view.read_meta()
                     if hasattr(self.view, "read_meta") else {})
        storage.write_text(
            os.path.join(tmp, _SNAP_META),
            json.dumps({"version": version, "label": label,
                        "n_files": n_files, "view_meta": view_meta}))
        storage.rename(tmp, os.path.join(self.snap_dir, f"v{version}"))
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
        """The view exactly as it stood when ``version`` was taken.
        A bucketed snapshot reads through its own copy of the manifest
        (only the generations it names); the internal bucket column is
        dropped, matching the live view's public ``read()``."""
        path = os.path.join(self.snap_dir, f"v{version}")
        if not storage.is_dir(path):
            have = [v["version"] for v in self.versions()]
            raise FileNotFoundError(
                f"no snapshot v{version} at {self.snap_dir} "
                f"(retained: {have} — keep_last={self.keep_last})")
        if isinstance(self.view, BucketedMaterializedView):
            return BucketedMaterializedView(self.view.spark, path,
                                            self.view.keys).read()
        return self.view.spark.read.parquet(path)
