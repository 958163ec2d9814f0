"""TableStore figures read from the commit log and parquet footers.

No Spark action: the log entries say which files each commit added and
removed, file sizes come from the filesystem and row counts from the
parquet footers.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq

from ironman_medallion_lakehouse_spark.sources.tablestore import log_versions, manifest_at


def table_dirs(root: str) -> list[str]:
    """Paths, relative to ``root``, of the ``<db>/<table>`` directories
    that hold a commit log."""
    return sorted(
        os.path.relpath(os.path.dirname(log_dir), root)
        for log_dir in glob.glob(os.path.join(root, "*", "*", "_log"))
    )


def latest_versions(root: str) -> dict[str, int]:
    return {
        t: (log_versions(os.path.join(root, t, "_log")) or [0])[-1] for t in table_dirs(root)
    }


def commit_metrics(root: str, after: dict[str, int] | None = None) -> dict[str, int]:
    """Commits, files added/removed, bytes and rows added, summed over
    every table's commits with a version above ``after[table_dir]``
    (all commits when ``after`` is None)."""
    out = dict.fromkeys(
        ("commits", "files_added", "files_removed", "bytes_added", "rows_added"), 0
    )
    for rel in table_dirs(root):
        tdir = os.path.join(root, rel)
        log_dir = os.path.join(tdir, "_log")
        floor = (after or {}).get(rel, 0)
        for v in log_versions(log_dir):
            if v <= floor:
                continue
            with open(os.path.join(log_dir, f"{v:08d}.json")) as fh:
                entry = json.load(fh)
            out["commits"] += 1
            out["files_added"] += len(entry.get("add", []))
            out["files_removed"] += len(entry.get("remove", []))
            for f in entry.get("add", []):
                path = os.path.join(tdir, "data", f)
                out["bytes_added"] += os.path.getsize(path)
                out["rows_added"] += pq.ParquetFile(path).metadata.num_rows
    return out


def stored_bytes(root: str) -> int:
    """Bytes of the files live in each table's latest version."""
    total = 0
    for rel in table_dirs(root):
        tdir = os.path.join(root, rel)
        log_dir = os.path.join(tdir, "_log")
        versions = log_versions(log_dir)
        if versions:
            for f in manifest_at(log_dir, versions[-1]).files:
                total += os.path.getsize(os.path.join(tdir, "data", f))
    return total


def live_rows(table_dir: str, version: int) -> int:
    """Rows in the files live at ``version`` of one table (0 before
    the table exists)."""
    manifest = manifest_at(os.path.join(table_dir, "_log"), version)
    if manifest is None:
        return 0
    return sum(
        pq.ParquetFile(os.path.join(table_dir, "data", f)).metadata.num_rows
        for f in manifest.files
    )
