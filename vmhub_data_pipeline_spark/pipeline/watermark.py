"""Incremental watermark + daily range generation (SURVEY §2.3 A1, §2.7 T1).

Reference behavior: resume ``vendas`` from max(date) already landed, parsed
from path segments with bad-value tolerance (src/utils/gcs_helper.py:203-241,
max at :220, tolerant parse :213-218); cold start = today - 730 days
(src/main.py:204); daily stepping (src/config/endpoints.py:19-34).

``lake_watermark`` works on FILE METADATA (partition directory values), not
data — listing partitions is O(partitions) regardless of data volume, the
same property the reference gets from prefix listing.
"""

from __future__ import annotations

from datetime import date, timedelta

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .lake import LakeLayout, partition_dirs, partition_values

COLD_START_DAYS = 730  # reference src/main.py:204: 2 * 365


def lake_watermark(
    spark: SparkSession, layout: LakeLayout, cnpj: str, endpoint: str
) -> date | None:
    """Max landed ds for (cnpj, endpoint), or None if nothing landed.

    TRUE metadata-only cost: lists the partition DIRECTORIES and parses
    their ds= values — O(partitions) filesystem entries, zero data rows.
    (A schema-less spark.read.json here would run full-corpus schema
    inference plus a row scan just to fold partition values the directory
    names already carry — the lake is NDJSON, which cannot column-prune.)
    Hidden ('.'/'_'-prefixed) names are skipped, matching Spark's own
    listing (``partition_values``); invalid ds values are skipped
    (reference's warn-and-skip, src/utils/gcs_helper.py:213-218).
    Local-filesystem paths, like the rest of the lake layer; an
    object-store lake would route the same listing through the Hadoop
    FileSystem API.
    """
    endpoint_dir = f"{layout.root}/cnpj={cnpj}/endpoint={endpoint}"
    best: date | None = None
    for value in partition_values(endpoint_dir, "ds"):
        try:
            d = date.fromisoformat(value)
        except ValueError:
            continue  # warn-and-skip semantics: malformed ds dirs ignored
        if best is None or d > best:
            best = d
    return best


def daily_ranges(start: date, end: date) -> list[tuple[date, date]]:
    """Closed daily slices [d, d] from start to end inclusive — the driver
    loop of the reference's get_daily_ranges (src/config/endpoints.py:19-34).
    Day boundaries are handled half-open downstream (SURVEY §7 decision 1).
    """
    out = []
    d = start
    while d <= end:
        out.append((d, d))
        d += timedelta(days=1)
    return out


def resume_start(watermark: date | None, today: date) -> date:
    """Where to resume fetching: day after the watermark, or the 730-day
    cold-start backfill window (reference src/main.py:195-209, :204)."""
    if watermark is None:
        return today - timedelta(days=COLD_START_DAYS)
    return watermark + timedelta(days=1)


def refresh_incremental(
    spark: SparkSession,
    layout: LakeLayout,
    table_path: str,
    since_ds: str,
    **refresh_kwargs,
) -> None:
    """Incremental warehouse refresh: only lake partitions with ds >=
    ``since_ds`` are read (partition pruning — zero IO on older days) and
    only those partitions are overwritten (dynamic overwrite). This is the
    reference's watermark-resume generalized to the load side: where the
    reference truncate-reloads ALL history every run
    (src/utils/bigquery_helper.py:120, src/main.py:254-255), this touches
    O(new days) regardless of table age.

    The kept ``ds`` directories are listed on the driver and only they are
    read, so no listing job runs however many days the lake holds; with
    none kept, nothing is written. The bound also needs ``schema=``: the
    lake is then read with it, and no job runs before the ``ds`` filter
    prunes. Without one, Spark first infers the JSON schema from the kept
    files.
    """
    from .lake import read_lake, refresh_table

    kept = partition_dirs(layout, lambda col, value: col != "ds" or value >= since_ds)
    if not kept:
        return
    lake_df = read_lake(spark, layout, refresh_kwargs.get("schema"), paths=kept).filter(
        F.col("ds") >= since_ds
    )
    refresh_table(lake_df, table_path, **refresh_kwargs)
