"""Versioned parquet tables: a minimal ACID transaction log.

The lakehouse primitive (Delta Lake / Iceberg, re-derived from first
principles on a filesystem): a table is a directory of immutable
parquet data files plus an append-only log of JSON commit entries;
readers never list the data directory — the log IS the table state —
so writers can add files, logically remove files, and publish a new
version atomically while concurrent readers keep a consistent
snapshot, and any historical version stays readable until vacuumed
(time travel).

Design (all public Delta-paper machinery, scoped to one filesystem):

- ``<table>/_txlog/<version 10-digit>.json`` — one entry per commit:
  ``{"version", "op", "add": [...], "remove": [...], "n_add",
  "schema"}`` with file paths RELATIVE to the table root (the
  manifest_for_dir location-independence rule) and the written
  DataFrame's schema (Delta's ``metaData`` action).
- An append must match the latest logged schema in column names and
  types (nullability ignored), or ``commit`` raises ``ValueError``; an
  overwrite may change it.  So every live file of a version has the
  version's schema, and ``read_table`` hands Spark that schema — no
  footer read, no job, and the same answer on every read.  Entries
  written before the schema was logged keep the read of the first live
  footer.
- Data files land under ``<table>/data/v<version>-<uuid>/`` — each
  commit writes its own immutable directory first (a failed job leaves
  only unreferenced garbage, never a half-visible table), then
  publishes the log entry.
- The commit point is an ATOMIC put-if-absent of the log entry
  (``os.link`` from a temp file — fails with ``FileExistsError`` if a
  concurrent writer took the version), exactly Delta's optimistic
  concurrency rule: the writer that loses re-reads the log and
  retries or surfaces :class:`ConcurrentCommitError`.
- ``read_table(version=N)`` replays the log up to N (overwrite resets
  the live set, append extends it) and hands Spark the explicit file
  list — no directory listing, so vacuumed-but-unreferenced garbage
  and in-flight staging dirs are invisible by construction.
- ``vacuum`` deletes data files referenced by NO retained version
  (default: keep everything still reachable from the last
  ``keep_versions`` versions) — the storage-reclaim pass that makes
  time travel bounded-cost at 100 TB.

At cluster scale the same protocol runs against an object store with a
put-if-absent primitive (S3 conditional PUT / GCS generation match);
the log stays tiny (one small JSON per commit — file metadata, never
data), so replay cost is O(commits), independent of table bytes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from .readers import _read_as_written

__all__ = [
    "ConcurrentCommitError",
    "commit",
    "read_table",
    "table_history",
    "current_version",
    "vacuum",
]

_LOG_DIR = "_txlog"
_DATA_DIR = "data"


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first (optimistic
    concurrency conflict); re-read the log and retry."""


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def _entry_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:010d}.json")


def _list_versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5])
        for f in os.listdir(d)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def current_version(path: str) -> int | None:
    """Latest committed version, or None for a nonexistent table."""
    versions = _list_versions(path)
    return versions[-1] if versions else None


def _read_log(path: str, version: int | None = None) -> list[dict]:
    entries = []
    for v in _list_versions(path):
        if version is not None and v > version:
            break
        with open(_entry_path(path, v)) as fh:
            entries.append(json.load(fh))
    if version is not None and (not entries or entries[-1]["version"] != version):
        raise ValueError(f"version {version} does not exist at {path}")
    return entries


def _shape(schema):
    """A logged schema's column names and types: nullability and
    metadata dropped, at every nesting level."""
    if isinstance(schema, dict):
        return {
            k: _shape(v) for k, v in schema.items()
            if k not in ("nullable", "containsNull", "valueContainsNull", "metadata")
        }
    if isinstance(schema, list):
        return [_shape(v) for v in schema]
    return schema


def _live_files(entries: list[dict]) -> list[str]:
    live: list[str] = []
    for e in entries:
        if e["op"] == "overwrite":
            live = []
        removed = set(e.get("remove", ()))
        if removed:
            live = [f for f in live if f not in removed]
        live.extend(e["add"])
    return live


def _txn_seen(path: str, txn: tuple[str, int]) -> bool:
    app, batch = txn[0], int(txn[1])
    return any(
        e.get("txn_app") == app and e.get("txn_batch", -1) >= batch
        for e in _read_log(path)
    )


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_retries: int = 3,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Write ``df`` as a new table version; returns the version number.

    ``mode='append'`` adds the files to the live set;
    ``mode='overwrite'`` replaces it (the previous files stay on disk,
    readable via time travel, until :func:`vacuum`).  The data job runs
    entirely inside a commit-private immutable directory BEFORE the log
    entry exists, so a crashed writer leaves unreferenced garbage only;
    the publish step is put-if-absent on the version file and loses
    cleanly to a concurrent writer (retried ``max_retries`` times —
    append-append conflicts are independent and safe to replay;
    a lost overwrite is replayed on top of the winner, last-writer-wins,
    exactly the blind-append semantics of the Delta protocol without
    conflict detection hooks).

    ``txn=(app_id, batch_id)`` makes the commit IDEMPOTENT per writer
    (Delta's ``txn`` action): if the log already holds a commit from
    ``app_id`` with an equal-or-newer ``batch_id``, the write is a
    recognized replay — nothing is committed and ``None`` is returned.
    This is what turns at-least-once micro-batch replay (Structured
    Streaming restarts re-run the last unacknowledged batch) into
    exactly-once table contents.

    Each entry logs ``df.schema``.  An append whose column names or
    types differ from the latest logged schema raises ``ValueError``
    (checked again after every lost race, since the winner may have
    changed the schema) and deletes its staged files.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite; got {mode!r}")
    os.makedirs(_log_dir(path), exist_ok=True)
    if txn is not None and _txn_seen(path, txn):
        return None
    commit_dir = f"v{uuid.uuid4().hex[:12]}"
    abs_dir = os.path.join(path, _DATA_DIR, commit_dir)
    schema = json.loads(df.schema.json())
    df.write.mode("error").parquet(abs_dir)
    add = sorted(
        os.path.join(_DATA_DIR, commit_dir, f)
        for f in os.listdir(abs_dir)
        if f.endswith(".parquet")
    )
    for attempt in range(max_retries):
        if attempt and txn is not None and _txn_seen(path, txn):
            # Re-check idempotence after every lost race: a zombie
            # writer and its restart share (app_id, batch_id), and the
            # duplicate may have been the very commit that beat us.
            # Without this re-check both replays would publish and the
            # txn action's exactly-once guarantee would break.  Our
            # staged files are unpublished garbage — reclaim them now.
            shutil.rmtree(abs_dir, ignore_errors=True)
            return None
        versions = _list_versions(path)
        version = (versions[-1] + 1) if versions else 0
        if mode == "append" and versions:
            with open(_entry_path(path, versions[-1])) as fh:
                logged = json.load(fh).get("schema")
            if logged is not None and _shape(logged) != _shape(schema):
                shutil.rmtree(abs_dir, ignore_errors=True)
                raise ValueError(
                    f"append schema {StructType.fromJson(schema).simpleString()} "
                    f"differs from version {versions[-1]}'s "
                    f"{StructType.fromJson(logged).simpleString()} at {path}"
                )
        entry = {
            "version": version,
            "op": mode,
            "add": add,
            "remove": [],
            "n_add": len(add),
            "schema": schema,
        }
        if txn is not None:
            entry["txn_app"], entry["txn_batch"] = txn[0], int(txn[1])
        tmp = os.path.join(_log_dir(path), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # put-if-absent: hard-link then drop the temp name.  Unlike
            # os.rename (which silently clobbers on POSIX), link fails
            # with FileExistsError when a concurrent writer already
            # published this version — the optimistic-concurrency check.
            os.link(tmp, _entry_path(path, version))
            return version
        except FileExistsError:
            continue  # lost the race; re-read the log and retry
        finally:
            os.unlink(tmp)
    raise ConcurrentCommitError(
        f"lost {max_retries} commit races at {path}; giving up"
    )


def read_table(spark, path: str, version: int | None = None) -> DataFrame:
    """Snapshot read at ``version`` (default: latest).  Replays the log
    and hands Spark the explicit live-file list — never a directory
    listing, so concurrent writers, staging garbage, and vacuumed
    history cannot leak into the snapshot — with the version's logged
    schema (the first live footer's for a log that predates it)."""
    entries = _read_log(path, version)
    if not entries:
        raise ValueError(f"no committed versions at {path}")
    files = _live_files(entries)
    if not files:  # a committed empty overwrite: zero-file table
        raise ValueError(
            f"version {entries[-1]['version']} at {path} has no live files"
        )
    missing = [f for f in files if not os.path.exists(os.path.join(path, f))]
    if missing:
        raise ValueError(
            f"version {entries[-1]['version']} at {path} references "
            f"vacuumed files (e.g. {missing[0]}); time travel past the "
            "vacuum horizon is gone"
        )
    paths = [os.path.join(path, f) for f in files]
    schema = entries[-1].get("schema")
    if schema is None:
        return _read_as_written(spark, *paths)
    return spark.read.schema(StructType.fromJson(schema)).parquet(*paths)


def table_history(spark, path: str) -> DataFrame:
    """The commit log as a DataFrame: (version, op, n_add) — the
    auditable what-changed-when record (DESCRIBE HISTORY)."""
    rows = [
        (e["version"], e["op"], e["n_add"]) for e in _read_log(path)
    ]
    return spark.createDataFrame(rows, ["version", "op", "n_add"])


def vacuum(
    path: str,
    keep_versions: int = 1,
    retention_seconds: float = 24 * 3600,
) -> int:
    """Delete data files referenced by NONE of the last
    ``keep_versions`` versions' snapshots; returns files removed.

    Retention is snapshot-based, not commit-based: a file added at v0
    and still live at the head is kept forever.  After
    ``vacuum(keep_versions=1)`` only the latest snapshot is readable —
    earlier ``read_table(version=...)`` calls fail loudly (missing
    files), matching Delta's retention-window contract.  Driver-side
    metadata walk only; deletion cost is O(dead files).

    Two classes of dead file are treated differently:

    - **Published history** (appears in some log entry's ``add`` but in
      no retained snapshot): deleted immediately.  A concurrent commit
      can never reference these — every commit writes its own fresh
      ``data/v<uuid>`` directory — so reclaiming them is always safe.
    - **Unreferenced files** (in no log entry at all): these are either
      crash garbage from a failed job OR the staged-but-unpublished
      data of an *in-flight* concurrent commit (commit writes data
      before publishing the log entry).  Deleting the latter would let
      the commit publish a version pointing at missing files.  They are
      therefore only deleted once older than ``retention_seconds``
      (mtime-based, default 24 h) — the same modification-time
      retention window Delta's VACUUM uses to stay safe under
      concurrent writers.  Pass ``retention_seconds=0`` only when no
      writer can be in flight.
    """
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1; got {keep_versions}")
    if retention_seconds < 0:
        raise ValueError(
            f"retention_seconds must be >= 0; got {retention_seconds}"
        )
    entries = _read_log(path)
    if not entries:
        return 0
    keep: set[str] = set()
    versions = [e["version"] for e in entries]
    for v in versions[-keep_versions:]:
        keep.update(_live_files([e for e in entries if e["version"] <= v]))
    ever_published: set[str] = set()
    for e in entries:
        ever_published.update(e["add"])
    horizon = time.time() - retention_seconds
    data_root = os.path.join(path, _DATA_DIR)
    removed = 0
    touched: set[str] = set()  # top-level commit dirs we unlinked from
    for root, _dirs, files in os.walk(data_root):
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if not f.endswith(".parquet") or rel in keep:
                continue
            # A concurrent vacuum (or a commit retry rmtree-ing its own
            # staging dir) can remove the file between the walk and the
            # stat/unlink; a vanished file is already reclaimed, not an
            # error — don't abort the sweep mid-way.
            try:
                if (
                    rel not in ever_published
                    and os.path.getmtime(full) > horizon
                ):
                    continue  # possibly an in-flight commit's staged data
                os.unlink(full)
            except FileNotFoundError:
                continue
            removed += 1
            touched.add(os.path.relpath(full, data_root).split(os.sep)[0])
    # Drop commit directories left holding no parquet (only _SUCCESS /
    # .crc job markers, or nothing) so the data dir doesn't accrete.
    # An in-flight commit's directory is NOT necessarily protected by
    # the file-level retention window: in the instant after df.write
    # creates it but before any .parquet part lands, the dir is
    # marker-only (or empty) yet very much alive — rmtree-ing it would
    # fail the writer or let it publish a version referencing a deleted
    # directory.  Two dirs are provably dead: (a) dirs THIS run
    # unlinked parquet from (every commit stages into its own fresh
    # dir, so a dir we emptied held only dead files), and (b) dirs
    # older than the same mtime ``horizon`` used for unreferenced
    # files.  Everything else is skipped until it ages out.
    for entry in os.listdir(data_root):
        d = os.path.join(data_root, entry)
        try:
            if not os.path.isdir(d):
                continue
            if entry not in touched and os.path.getmtime(d) > horizon:
                continue  # possibly an in-flight commit's fresh staging
            has_parquet = any(
                f.endswith(".parquet")
                for _r, _dirs, fs in os.walk(d)
                for f in fs
            )
            if not has_parquet:
                shutil.rmtree(d)
        except FileNotFoundError:
            continue
    return removed
