"""Minimal snapshot layer: Iceberg-style table versioning on plain
Parquet + JSON manifests.

The reference is built around Iceberg table metadata — every commit writes
a new metadata JSON listing the table's data files (reference
server/metadata/iceberg/metadata.go; its Avro manifests are JSON
placeholders, so a JSON manifest is exactly what it ships). The Spark
Iceberg connector provides this natively on a real deployment; this module
supplies the same *semantics* for this jar-less environment:

- ``append``            — write new parquet files + a new snapshot entry
  (append-only; files are immutable, a snapshot is a file list).
- ``read(version)``     — time travel: scan exactly the files of that
  snapshot (≈ ``VERSION AS OF``).
- ``incremental(v1,v2)``— read only files added between two snapshots —
  the pull-based equivalent of the reference's Astha CDC fan-out
  (subscribers track their last-seen snapshot id).

Scale: a snapshot is O(files) metadata; reads construct a file-list scan so
Spark still does footer pruning/pushdown per file; no data is rewritten on
append (the commit is one JSON rename).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ranger_spark.frames import local_frame
from ranger_spark.tables import parquet_schema, read_parquet_files


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        os.makedirs(self.meta_dir, exist_ok=True)

    # ------------------------------------------------------------- commits
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.manifest.json")

    def current_version(self) -> int:
        versions = [
            int(f[1:].split(".")[0])
            for f in os.listdir(self.meta_dir)
            if f.endswith(".manifest.json")
        ]
        return max(versions, default=0)

    def _load(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def append(self, df: DataFrame) -> int:
        """Write df as new immutable files and commit snapshot N+1 whose
        file list = previous list + new files. Returns the new version.

        Commit protocol: the data write happens outside any lock (it's the
        slow part and files are invisible until a manifest references
        them); the read-current-version → write-manifest step is serialized
        under an exclusive flock, and the final publish uses ``os.link``
        (fails with EEXIST instead of clobbering) so a version collision
        can never silently orphan another commit's files — the same
        optimistic-commit shape as Iceberg's metadata swap."""
        commit_id = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self.path, "data", commit_id)
        df.write.parquet(data_dir)
        new_files = [
            os.path.join(data_dir, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        ]
        import fcntl

        with open(os.path.join(self.meta_dir, ".commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                prev_version = self.current_version()
                prev_files = (
                    self._load(prev_version)["files"] if prev_version else []
                )
                version = prev_version + 1
                manifest = {
                    "version": version,
                    "committed_at": time.time(),
                    "files": prev_files + sorted(new_files),
                    "added_files": sorted(new_files),
                    "parent": prev_version or None,
                }
                tmp = self._manifest_path(version) + f".tmp-{commit_id}"
                with open(tmp, "w") as f:
                    json.dump(manifest, f)
                try:
                    # link = create-exclusive: raises FileExistsError on a
                    # concurrent commit instead of overwriting it
                    os.link(tmp, self._manifest_path(version))
                finally:
                    os.unlink(tmp)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
        return version

    # --------------------------------------------------------------- reads
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Scan the table as of a snapshot (default: latest)."""
        version = version or self.current_version()
        if version == 0:
            raise FileNotFoundError(f"no snapshots in {self.path}")
        files = self._load(version)["files"]
        # the newest commit's file is listed last and carries the
        # current schema
        return read_parquet_files(spark, files)

    def incremental(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Rows added strictly after from_version up to to_version —
        snapshot-diff CDC (files are immutable so the diff is exact)."""
        to_version = to_version or self.current_version()
        added: list[str] = []
        for v in range(from_version + 1, to_version + 1):
            added.extend(self._load(v)["added_files"])
        if not added:
            newest = self._load(to_version)["files"][-1]
            return local_frame(spark, [], parquet_schema(spark, newest))
        return read_parquet_files(spark, added)

    def history(self) -> list[dict]:
        return [
            {k: m[k] for k in ("version", "committed_at", "parent")}
            | {"num_files": len(m["files"]), "num_added": len(m["added_files"])}
            for m in (self._load(v) for v in range(1, self.current_version() + 1))
        ]


def walk_parquet(root: str) -> set[str]:
    """All parquet data files under ``root``, recursively (partitioned
    layouts nest files in key=value dirs). Metadata dirs (leading ``_``
    or ``.``) are skipped, matching Spark's own file-listing rules."""
    found: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        found.update(
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet")
        )
    return found


class VersionedTable:
    """Engine-side snapshot versioning for catalog tables: Iceberg-style
    file-list manifests over the engine's own data writes (reference
    server/metadata/iceberg/metadata.go — every commit is a new metadata
    file listing the table's data files; its Avro manifests are JSON
    placeholders, so JSON manifests match what the reference ships).

    Unlike :class:`SnapshotTable` (which owns the data write), commits
    here are **manifest-only** — the engine performs the writes:

    - appends (INSERT) land new files in the *current* snapshot dir and
      commit ``previous files + added``;
    - copy-on-write rewrites (UPDATE/DELETE/MERGE/ALTER) write a fresh
      ``s{N}-<id>`` dir and commit exactly its files, leaving prior dirs
      untouched — so every historical version stays readable
      (``VERSION AS OF``) until :meth:`expire` reclaims it.

    The metadata dir is underscore-prefixed, so Spark's file listing
    never sees it. Commit protocol = flock + ``os.link`` publish, same
    optimistic-commit shape as :meth:`SnapshotTable.append`.
    """

    META = "_ranger_meta"

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, self.META)

    def exists(self) -> bool:
        return os.path.isdir(self.meta_dir)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.manifest.json")

    def current_version(self) -> int:
        if not self.exists():
            return 0
        return max(
            (
                int(f[1:].split(".")[0])
                for f in os.listdir(self.meta_dir)
                if f.endswith(".manifest.json")
            ),
            default=0,
        )

    def _load(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def commit(
        self,
        files: list[str] | None,
        data_dir: str,
        operation: str,
        added: list[str] | None = None,
        columns: list | None = None,
    ) -> int:
        """Publish snapshot N+1 with the given full file list.

        Fast-append mode: pass ``files=None`` with ``added`` and the new
        snapshot's file list is ``previous manifest's files + added``,
        with the previous list read *inside* the commit lock — two
        engines appending concurrently both land (neither can base its
        commit on a stale version and silently drop the other's files).
        Passing a precomputed ``files`` list is reserved for rewrites
        (UPDATE/DELETE/MERGE), whose file list replaces history by design.
        ``columns`` (the catalog entry's ``[name, type, nullable]`` list)
        is the table's schema at this version: a version with no files
        has no footer to read it from.
        """
        import fcntl

        os.makedirs(self.meta_dir, exist_ok=True)
        with open(os.path.join(self.meta_dir, ".commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                prev = self.current_version()
                version = prev + 1
                if files is None:
                    # fast-append: merge under the lock (lost-update safe)
                    files = sorted(set(self.files(prev)) | set(added or []))
                manifest = {
                    "version": version,
                    "committed_at": time.time(),
                    "operation": operation,
                    "dir": data_dir,
                    "files": sorted(files),
                    "added_files": sorted(added if added is not None else files),
                    "parent": prev or None,
                    "columns": columns,
                }
                tmp = self._manifest_path(version) + f".tmp-{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(manifest, f)
                try:
                    os.link(tmp, self._manifest_path(version))
                finally:
                    os.unlink(tmp)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
        return version

    def files(self, version: int | None = None) -> list[str]:
        version = version or self.current_version()
        if version == 0:
            return []
        return self._load(version)["files"]

    def snapshot_dir(self, version: int | None = None) -> str:
        version = version or self.current_version()
        if version == 0:
            raise FileNotFoundError(f"no snapshots in {self.root}")
        return self._load(version)["dir"]

    def version_at(self, epoch: float) -> int:
        """Latest version committed at or before ``epoch`` (the resolution
        rule of Iceberg's ``TIMESTAMP AS OF``)."""
        best = 0
        for v in range(1, self.current_version() + 1):
            try:
                m = self._load(v)
            except FileNotFoundError:
                continue  # expired snapshot — manifest reclaimed
            if m["committed_at"] <= epoch:
                best = v
        if best == 0:
            raise FileNotFoundError(
                f"no snapshot at or before timestamp in {self.root}"
            )
        return best

    def manifest(self, version: int) -> dict:
        """Full manifest record of one snapshot (incl. files/added_files) —
        the incremental-consumer read surface (MV refresh, CDC)."""
        return self._load(version)

    def history(self) -> list[dict]:
        out: list[dict] = []
        for v in range(1, self.current_version() + 1):
            try:
                m = self._load(v)
            except FileNotFoundError:
                continue  # expired snapshot — manifest reclaimed
            out.append(
                {
                    k: m[k]
                    for k in ("version", "committed_at", "operation", "parent")
                }
                | {
                    "num_files": len(m["files"]),
                    "num_added": len(m["added_files"]),
                }
            )
        return out

    def expire(
        self, keep_last: int = 1, protected: frozenset[int] | set[int] = frozenset()
    ) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots and delete data
        dirs no retained snapshot references (Iceberg
        ``expire_snapshots``). ``protected`` versions (tagged refs —
        Iceberg tag retention) keep their manifests and data regardless
        of the cutoff. Returns the removed data dirs."""
        import shutil

        current = self.current_version()
        cutoff = max(1, current - keep_last + 1)
        keep_dirs: set[str] = set()
        keep_files: set[str] = set()
        kept = set(range(cutoff, current + 1)) | {
            v for v in protected if 1 <= v <= current
        }
        for v in kept:
            m = self._load(v)
            keep_dirs.add(m["dir"])
            keep_files.update(m["files"])
        removed: list[str] = []
        for v in range(1, cutoff):
            if v in kept:
                continue
            try:
                m = self._load(v)
            except FileNotFoundError:
                continue  # already expired by an earlier pass
            # a dir is reclaimable only if no kept snapshot references it
            # or any file inside it
            if m["dir"] not in keep_dirs and not any(
                f.startswith(m["dir"] + os.sep) for f in keep_files
            ):
                if os.path.isdir(m["dir"]):
                    shutil.rmtree(m["dir"], ignore_errors=True)
                    removed.append(m["dir"])
                keep_dirs.add(m["dir"])  # only attempt once
            os.unlink(self._manifest_path(v))
        return removed

    def remove_orphans(
        self, grace_s: float = 0.0, dry_run: bool = False
    ) -> list[str]:
        """Delete data files under the table root that no snapshot
        manifest references (Iceberg ``remove_orphan_files``): leftovers
        of failed/interrupted writes that expire() can never reclaim
        because no manifest points at them. Only files older than
        ``grace_s`` seconds are touched (in-flight writer protection —
        Iceberg's ``older_than`` default is 3 days). Returns the removed
        paths — or, with ``dry_run``, the paths that WOULD be removed,
        touching nothing (Delta's VACUUM DRY RUN surface). Metadata
        (``_ranger_meta``) and marker files are never candidates."""
        referenced: set[str] = set()
        for v in range(1, self.current_version() + 1):
            try:
                referenced.update(
                    os.path.realpath(f) for f in self._load(v)["files"]
                )
            except FileNotFoundError:
                continue  # expired version
        now = time.time()
        removed: list[str] = []
        for dirpath, dirnames, filenames in os.walk(self.root):
            dirnames[:] = [d for d in dirnames if d != self.META]
            for fn in filenames:
                if fn == "_SUCCESS" or fn.startswith("."):
                    continue
                p = os.path.join(dirpath, fn)
                if os.path.realpath(p) in referenced:
                    continue
                try:
                    if now - os.path.getmtime(p) < grace_s:
                        continue
                    if not dry_run:
                        os.unlink(p)
                    removed.append(p)
                except OSError:
                    continue
        return removed
