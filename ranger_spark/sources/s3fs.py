"""S3 object-filesystem adapter for the ``STORAGE s3`` engine.

The PySpark analogue of the reference's S3 storage backend
(server/storage/s3/fs.go: endpoint/region/bucket config, Put/Get/List/
Delete object ops, exercised by s3/fs_test.go). Two deployment shapes:

- **Cluster (direct)**: the table root is an ``s3a://`` URI and Spark's
  Hadoop layer talks to S3 natively (hadoop-aws on the classpath, creds
  via fs.s3a.* confs). The engine treats the location like any other
  Hadoop path — nothing in this module runs.
- **Mirror (this module)**: the table root is an ``s3://`` URI plus an
  explicit endpoint conf. Table data lives in a local cache directory
  that Spark reads/writes directly (full scan performance, zero-copy
  for local work), and every snapshot commit is mirrored to the object
  store via the S3 REST API; a fresh engine hydrates the cache from S3
  on ``recover()``. The object store is the durability layer — this is
  the local-disk-cache-over-object-store architecture, and it is what
  lets tests exercise the complete S3 path against any S3-compatible
  server (moto's in the test suite, or a real endpoint).

All transfers go through boto3 (a real S3 client — signature v4,
aws-chunked bodies, batch deletes), so the wire behavior matches what a
production S3 deployment sees.
"""

from __future__ import annotations

import os

from ranger_spark.errors import UNSUPPORTED_STATEMENT, RangerError

# Hadoop checksum sidecars are host-local derivatives: mirroring them
# would poison reads after a sync_down (LocalFileSystem verifies .crc
# against file bytes), so they never cross the wire.
_SKIP = (".crc",)


def _skippable(name: str) -> bool:
    return name.endswith(_SKIP) or name.startswith(".")


def parse_s3_uri(uri: str) -> tuple[str, str]:
    """``s3://bucket[/prefix]`` → (bucket, prefix-without-slashes)."""
    rest = uri.split("://", 1)[1]
    bucket, _, prefix = rest.partition("/")
    return bucket, prefix.strip("/")


class S3ObjectFS:
    """Thin, bounded object-store client: every listing is prefix-scoped
    to one table and every transfer is one table's snapshot delta."""

    def __init__(
        self,
        endpoint: str,
        access_key: str = "ranger",
        secret_key: str = "ranger",
        region: str = "us-east-1",
    ) -> None:
        try:
            import boto3
            from botocore.config import Config
        except ImportError as e:  # pragma: no cover - boto3 ships here
            raise RangerError(
                UNSUPPORTED_STATEMENT,
                "S3 storage engine (mirror mode) requires boto3",
            ) from e
        self.client = boto3.client(
            "s3",
            endpoint_url=endpoint,
            aws_access_key_id=access_key,
            aws_secret_access_key=secret_key,
            region_name=region,
            config=Config(
                s3={"addressing_style": "path"},
                retries={"max_attempts": 2},
            ),
        )

    # ------------------------------------------------------------ object ops
    def ensure_bucket(self, bucket: str) -> None:
        try:
            self.client.head_bucket(Bucket=bucket)
        except Exception:
            self.client.create_bucket(Bucket=bucket)

    def list_prefix(self, bucket: str, prefix: str) -> dict[str, int]:
        """All keys under prefix → size; paginated (1000/page like S3)."""
        out: dict[str, int] = {}
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kw)
            for c in resp.get("Contents", []):
                out[c["Key"]] = c["Size"]
            if not resp.get("IsTruncated"):
                return out
            token = resp.get("NextContinuationToken")

    def delete_prefix(self, bucket: str, prefix: str) -> int:
        """Batch-delete every key under prefix (1000-key S3 batches)."""
        keys = sorted(self.list_prefix(bucket, prefix))
        for i in range(0, len(keys), 1000):
            batch = keys[i : i + 1000]
            self.client.delete_objects(
                Bucket=bucket,
                Delete={"Objects": [{"Key": k} for k in batch]},
            )
        return len(keys)

    # ------------------------------------------------------------ mirroring
    def _local_files(self, local_dir: str) -> dict[str, str]:
        """relative-key → absolute path for every mirrorable local file."""
        out: dict[str, str] = {}
        for root, _dirs, files in os.walk(local_dir):
            for f in files:
                if _skippable(f):
                    continue
                p = os.path.join(root, f)
                out[os.path.relpath(p, local_dir).replace(os.sep, "/")] = p
        return out

    def sync_up(
        self,
        local_dir: str,
        bucket: str,
        prefix: str,
        delete_stale: bool = False,
    ) -> tuple[int, int]:
        """Mirror the local table dir to s3://bucket/prefix: upload new or
        size-changed files (snapshot data files are immutable, so
        name+size identifies content; the only rewritten-in-place objects
        are the tiny manifest JSONs, which always change size).

        ``delete_stale=False`` (the default) makes the sync UPLOAD-ONLY —
        inferring deletions from local absence is unsafe under
        concurrency (another engine's concurrent commit lives remotely
        but not in this cache yet, and a full mirror would delete it).
        Intentional removals (EXPIRE/VACUUM/DROP) propagate through
        explicit scoped deletes instead (engine._s3_delete_remote_paths /
        delete_prefix). Returns (uploaded, deleted)."""
        self.ensure_bucket(bucket)
        local = self._local_files(local_dir)
        remote = self.list_prefix(bucket, prefix + "/" if prefix else "")
        up = 0
        for rel, path in sorted(local.items()):
            key = f"{prefix}/{rel}" if prefix else rel
            size = os.path.getsize(path)
            # size-compare elides re-uploads of IMMUTABLE data files only
            # (snapshot parquet: name+size identifies content). Anything
            # else always ships: metadata JSON (v{N}.metadata.json is
            # rewritten in place on tag/expire re-emits and can keep its
            # byte size — ADVICE r8), Avro manifest chains, and mutable
            # pointers like version-hint.text ("3" -> "4", same size).
            if remote.get(key) == size and size > 256 and rel.endswith(
                (".parquet", ".orc")
            ):
                continue
            with open(path, "rb") as fh:
                self.client.put_object(Bucket=bucket, Key=key, Body=fh.read())
            up += 1
        if not delete_stale:
            return up, 0
        stale = [
            k
            for k in remote
            if (k[len(prefix) + 1 :] if prefix else k) not in local
        ]
        for i in range(0, len(stale), 1000):
            self.client.delete_objects(
                Bucket=bucket,
                Delete={"Objects": [{"Key": k} for k in stale[i : i + 1000]]},
            )
        return up, len(stale)

    def delete_paths(
        self, bucket: str, prefix: str, local_root: str, paths: list[str]
    ) -> int:
        """Scoped remote deletion for an EXPLICIT local removal (expired
        snapshot dirs, vacuumed orphan files): each path maps to its key
        under s3://bucket/prefix; the exact object AND everything under
        `key/` are removed (the "/" suffix keeps `s1` from matching
        `s10-...`). Returns keys deleted."""
        n = 0
        for p in paths:
            rel = os.path.relpath(p, local_root).replace(os.sep, "/")
            if rel.startswith(".."):
                continue  # outside the table root: never touch
            key = f"{prefix}/{rel}" if prefix else rel
            self.client.delete_objects(
                Bucket=bucket, Delete={"Objects": [{"Key": key}]}
            )
            n += 1 + self.delete_prefix(bucket, key + "/")
        return n

    def sync_down(
        self, bucket: str, prefix: str, local_dir: str
    ) -> int:
        """Hydrate the local cache from s3://bucket/prefix: download keys
        missing locally or size-mismatched. Returns files downloaded."""
        remote = self.list_prefix(bucket, prefix + "/" if prefix else "")
        n = 0
        for key in sorted(remote):
            rel = key[len(prefix) + 1 :] if prefix else key
            if not rel or rel.endswith("/"):
                continue
            dest = os.path.join(local_dir, *rel.split("/"))
            if os.path.exists(dest) and os.path.getsize(dest) == remote[key]:
                continue
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            body = self.client.get_object(Bucket=bucket, Key=key)["Body"].read()
            crc = os.path.join(
                os.path.dirname(dest), "." + os.path.basename(dest) + ".crc"
            )
            if os.path.exists(crc):  # stale checksum would poison the read
                os.remove(crc)
            with open(dest, "wb") as fh:
                fh.write(body)
            n += 1
        return n
