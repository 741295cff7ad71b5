"""Lake compaction — the small-files problem at 100 TB.

Per-page NDJSON landing (the reference writes one blob per (endpoint, day,
page), src/main.py:25-31) produces millions of small files at scale; each
costs a file-index entry, an open, and a task. Compaction rewrites a
partition's many small files into ~target-sized ones, preserving content
exactly. Idempotent: re-compacting a compacted partition is a no-op-shaped
rewrite.
"""

from __future__ import annotations

import logging
import math
from pathlib import Path

from pyspark.sql import SparkSession

from .lake import LakeLayout

log = logging.getLogger(__name__)


def partition_stats(layout: LakeLayout, cnpj: str, endpoint: str, ds: str) -> tuple[int, int]:
    """(n_files, total_bytes) for one partition directory (driver-side
    listing — the same prefix-listing the reference does, but scoped to one
    partition)."""
    part_dir = Path(layout.root) / f"cnpj={cnpj}" / f"endpoint={endpoint}" / f"ds={ds}"
    files = [f for f in part_dir.glob("part-*") if f.is_file()]
    return len(files), sum(f.stat().st_size for f in files)


def compact_partition(
    spark: SparkSession,
    layout: LakeLayout,
    cnpj: str,
    endpoint: str,
    ds: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> int:
    """Rewrite one (cnpj, endpoint, ds) partition into
    ceil(bytes/target) files. Returns the new file count (0 = skipped).

    Read lines as text -> coalesce (no shuffle: coalesce only merges read
    splits) -> stage to a temp subtree -> swap. The swap renames the live
    partition aside BEFORE moving the replacement in, so a crash at any
    point leaves either the old data (at the original or __old path,
    recoverable) or the new data — never neither. Local-filesystem paths
    only (shutil); an object-store lake would route the same two-phase swap
    through Hadoop FileSystem rename().
    """
    n_files, total_bytes = partition_stats(layout, cnpj, endpoint, ds)
    if n_files < min_files_to_compact:
        return 0
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    if n_out >= n_files:
        return 0  # already at/below target granularity
    parent = f"{layout.root}/cnpj={cnpj}/endpoint={endpoint}"
    part_path = f"{parent}/ds={ds}"
    # stage through a temp subtree then swap — Spark can't overwrite a path
    # it is currently reading. Staging dirs are DOT-prefixed: Spark's file
    # listing skips names starting with '.' or '_', so a concurrent lake
    # read (or one after a crash mid-swap) never discovers the staging
    # trees as bogus `ds=...__compacting` partitions with duplicate rows.
    tmp_path = f"{parent}/.ds={ds}__compacting"
    # lines are copied as text: no schema inference and no JSON parse, and
    # each line stays byte-for-byte (a JSON round trip reorders keys and
    # reformats numbers)
    spark.read.text(part_path).coalesce(n_out).write.mode("overwrite").text(tmp_path)
    for f in Path(tmp_path).glob("part-*.txt"):
        # keep the lake's NDJSON file names, each checksum beside its file
        crc = f.with_name(f".{f.name}.crc")
        f.rename(f.with_suffix(".json"))
        if crc.exists():
            crc.rename(crc.with_name(f".{f.stem}.json.crc"))
    import shutil

    old_path = f"{parent}/.ds={ds}__old"
    shutil.rmtree(old_path, ignore_errors=True)  # leftover from a prior crash
    shutil.move(part_path, old_path)  # rename aside: old data still intact
    shutil.move(tmp_path, part_path)  # new data in place
    shutil.rmtree(old_path)  # only now is the old copy discarded
    new_n, _ = partition_stats(layout, cnpj, endpoint, ds)
    log.info("compacted %s: %d -> %d files", part_path, n_files, new_n)
    return new_n
