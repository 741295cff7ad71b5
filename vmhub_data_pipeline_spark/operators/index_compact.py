"""Grown-index compaction — the small-files problem for MAINTAINED
serving tables (r13, VERDICT r12 task 2).

A serving index's growth dir (``index_lifecycle.grow``, one stream for
every index family) is crash-idempotent by construction: every
micro-batch overwrites its own ``__sb=<batch_id>`` partition of every
leg, so a replayed batch replaces its own rows instead of
double-appending. The cost of that contract is one partition directory
per micro-batch — at deployment cadence (thousands of appends between
refits) the serving table becomes a small-files scan, the exact failure
mode ``pipeline/compact.py`` handles for the lake. This module is the OPTIMIZE
step for the index store: fold every committed ``__sb=*`` partition of a
leg back into the canonical base partition (``__sb=-1``, the layout the
growth dir is seeded with), preserving rows exactly and re-seeding the
directory so the stream keeps appending on top.

Safety contract, in order:

* **committed-only**: compaction runs between drains (``grow`` returns
  only after ``availableNow`` termination). Batches recorded in
  the stream's checkpoint never replay under that checkpoint, so folding
  them into the base can't collide with a future ``__sb=k`` overwrite;
  an IN-FLIGHT sink must not be compacted (the caller owns that
  exclusion, same as lake compaction).
* **no re-encode**: the rewrite is scan -> coalesce -> write of already-
  encoded rows (codes / band hashes / token sets). No signature, model,
  or hash expression appears in the plan — plan-gated in
  tests/test_r13_queries.py. ``coalesce`` merges read splits without a
  shuffle.
* **two-phase swap** (``compact_partition``'s crash discipline): stage
  into a DOT-prefixED sibling (invisible to Spark's file listing), rename
  the live leg aside, move the replacement in, only then discard the old
  copy — a crash at any point leaves either the old or the new data,
  never neither and never both visible at once.
"""

from __future__ import annotations

import math
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import SparkSession


def _leg_stats(leg_dir: str) -> tuple[int, int, int]:
    """(n_sb_partitions, n_data_files, total_bytes) for one leg —
    driver-side listing, scoped to the one directory being compacted."""
    parts = 0
    files = 0
    total = 0
    for name in sorted(os.listdir(leg_dir)):
        sub = os.path.join(leg_dir, name)
        if not (name.startswith("__sb=") and os.path.isdir(sub)):
            continue
        parts += 1
        for f in os.listdir(sub):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(sub, f)
            if os.path.isfile(p):
                files += 1
                total += os.path.getsize(p)
    return parts, files, total


def compact_grown_index(
    spark: SparkSession,
    grown_dir: str,
    legs: tuple[str, ...],
    target_file_bytes: int = 128 * 1024 * 1024,
    min_partitions_to_compact: int = 2,
) -> list[dict]:
    """Fold each leg's ``__sb=*`` partitions into a single canonical
    ``__sb=-1`` base. Returns one metrics row per leg (the maintenance
    audit trail): leg, partitions_before/after, files_before/after, rows
    (conserved by construction — the caller pins it).

    A leg below ``min_partitions_to_compact`` is skipped (already
    canonical); re-compacting a compacted leg is therefore a no-op,
    making the step schedule-safe."""
    out: list[dict] = []
    for leg in legs:
        leg_dir = os.path.join(grown_dir, leg)
        parts, files, total = _leg_stats(leg_dir)
        compacted = parts >= min_partitions_to_compact
        parts2, files2 = parts, files
        if compacted:
            df = spark.read.parquet(leg_dir)
            cols = [F.col(f.name) for f in df.schema.fields if f.name != "__sb"]
            n_out = max(1, math.ceil(total / target_file_bytes))
            staging = os.path.join(grown_dir, f".{leg}__compacting")
            shutil.rmtree(staging, ignore_errors=True)  # prior-crash leftover
            (
                df.select(*cols)
                .coalesce(n_out)
                .write.mode("overwrite")
                .parquet(os.path.join(staging, "__sb=-1"))
            )
            old = os.path.join(grown_dir, f".{leg}__old")
            shutil.rmtree(old, ignore_errors=True)  # prior-crash leftover
            shutil.move(leg_dir, old)  # old data still intact
            shutil.move(staging, leg_dir)  # new data in place
            shutil.rmtree(old)  # only now discard the old copy
            # compiled plans over the leg must re-list (grow's
            # REFRESH-after-commit contract applies to compaction too)
            spark.catalog.refreshByPath(leg_dir)
            parts2, files2, _ = _leg_stats(leg_dir)
        out.append(
            {
                "leg": leg, "compacted": compacted,
                "partitions_before": parts, "partitions_after": parts2,
                "files_before": files, "files_after": files2,
                "rows": spark.read.parquet(leg_dir).count(),
            }
        )
    return out
