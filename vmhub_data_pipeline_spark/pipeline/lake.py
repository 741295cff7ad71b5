"""NDJSON data lake + warehouse refresh (SURVEY §2.1 S4/S5/S8/S9, §2.7 T4).

Reference layout: ``CNPJ_{cnpj}/{endpoint}/[{yyyymmdd}/]response_pg{n}.json``
(src/main.py:25-31) — multi-tenancy and time encoded in the PATH. Here the
same information is ordinary partition columns (``cnpj``, ``endpoint``,
``ds``), which Spark turns back into a path layout via partitionBy — and
which is strictly more queryable (partition pruning on any prefix).

Refresh semantics: the reference reloads the ENTIRE endpoint prefix with
WRITE_TRUNCATE each run — idempotent but O(all-history)
(src/utils/bigquery_helper.py:120; prefix list src/main.py:254-255).
``refresh_table`` keeps the idempotency but scopes the rewrite to the
partitions present in the incoming batch (dynamic partition overwrite) — a
deliberate, semantics-preserving improvement recorded in SURVEY §3.3: at
100 TB a full truncate-reload per run is the difference between a job and
an outage.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

log = logging.getLogger(__name__)

from ..schema.spec import conform
from ..operators.dedup import keep_latest


@dataclass(frozen=True)
class LakeLayout:
    root: str
    partition_cols: tuple[str, ...] = ("cnpj", "endpoint", "ds")


def write_lake(df: DataFrame, layout: LakeLayout, mode: str = "append") -> None:
    """Land records as NDJSON partitioned by (cnpj, endpoint, ds) — the
    Spark form of the reference's per-page blob writes
    (src/utils/gcs_helper.py:42-78; NDJSON join at :46-47).

    spark's json writer IS newline-delimited JSON, one record per line —
    byte-compatible with the reference's lake format.
    """
    missing = [c for c in layout.partition_cols if c not in df.columns]
    if missing:
        raise ValueError(f"missing partition columns: {missing}")
    df.write.mode(mode).partitionBy(*layout.partition_cols).json(layout.root)


def partition_values(parent: str, col: str) -> list[str]:
    """The values of the ``col=value`` directories directly under
    ``parent`` (a local-filesystem path), or [] when ``parent`` is missing.
    Only names that start with ``col=`` count, so hidden ('.'/'_'-prefixed)
    names such as compaction's ``.ds=...__compacting`` staging trees are
    skipped, matching Spark's own listing."""
    prefix = f"{col}="
    try:
        names = os.listdir(parent)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return [n[len(prefix):] for n in names if n.startswith(prefix)]


def partition_dirs(layout: LakeLayout, keep: Callable[[str, str], bool]) -> list[str]:
    """The leaf partition directories whose every ``(column, value)`` passes
    ``keep``, found by listing one directory level per partition column on
    the driver — the reference's per-prefix blob listing
    (src/utils/gcs_helper.py:177-201), with no Spark job."""
    dirs = [layout.root]
    for col in layout.partition_cols:
        dirs = [f"{d}/{col}={v}" for d in dirs for v in partition_values(d, col) if keep(col, v)]
    return dirs


def read_lake(
    spark: SparkSession,
    layout: LakeLayout,
    schema: T.StructType | None = None,
    path_glob: str | None = None,
    paths: list[str] | None = None,
    **predicates: str,
) -> DataFrame:
    """Read the NDJSON lake with an explicit schema (PERMISSIVE mode: bad
    records -> nulls, unknown fields ignored — the Spark equivalent of the
    reference's schema-enforced, fault-tolerant load,
    src/utils/bigquery_helper.py:115-122).

    ``predicates`` are equality filters on partition columns; they prune at
    the file index (no data touched outside matching partitions), which is
    the reference's only-fetch-days-after-watermark behavior generalized.
    ``path_glob`` filters files by basename pattern at the file index — the
    reference's fnmatch-on-blob-name filter (S7,
    src/utils/gcs_helper.py:139-175) without listing a single extra file.

    ``paths`` reads only those partition directories (see
    ``partition_dirs``), with the partition columns still taken from the
    layout. Spark lists them on the driver; listing the whole root starts
    a distributed listing job once it holds more partition directories
    than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32).

    Undeclared partition columns read as strings on both paths. Without a
    ``schema`` the payload schema is inferred (one job over every file read)
    and the partition columns' inferred types are dropped: Spark would
    read ``cnpj=01234567000189`` as the bigint 1234567000189.
    """
    reader = spark.read.option("mode", "PERMISSIVE")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    source: str | list[str] = layout.root
    if paths is not None:
        reader = reader.option("basePath", layout.root)
        source = paths
    part_cols = layout.partition_cols
    if schema is None:
        inferred = reader.json(source).schema
        schema = T.StructType([f for f in inferred.fields if f.name not in part_cols])
    declared = {f.name for f in schema.fields}
    df = reader.schema(
        T.StructType(
            list(schema.fields)
            + [T.StructField(c, T.StringType()) for c in part_cols if c not in declared]
        )
    ).json(source)
    for col, val in predicates.items():
        df = df.filter(F.col(col) == val)
    return df


def refresh_table(
    lake_df: DataFrame,
    table_path: str,
    schema: T.StructType | None = None,
    dedup_keys: list[str] | None = None,
    order_col: str = "ingestion_timestamp",
    partition_cols: tuple[str, ...] = ("ds",),
    cluster_by: tuple[str, ...] = (),
) -> None:
    """Lake -> warehouse materialization: conform -> dedup-keep-latest ->
    dynamic-partition-overwrite parquet.

    The overwrite is idempotent per partition (re-running a day rewrites
    exactly that day — T4), replacing the reference's whole-table
    WRITE_TRUNCATE (src/utils/bigquery_helper.py:120). Dedup keeps the
    newest record per key by lineage timestamp — the key-level dedup the
    reference README promises (README.md:12).
    """
    df = lake_df
    if schema is not None:
        # partition columns survive conformance even when undeclared — they
        # are layout, not payload
        declared = {f.name for f in schema.fields}
        part_fields = [
            T.StructField(c, df.schema[c].dataType)
            for c in partition_cols
            if c in df.columns and c not in declared
        ]
        df = conform(df, T.StructType(list(schema.fields) + part_fields))
    if dedup_keys:
        df = keep_latest(df, dedup_keys, [order_col])
    if cluster_by:
        # storage clustering for downstream scan locality — the Spark form
        # of the reference's BigQuery clustering_fields
        # (src/utils/bigquery_helper.py:92): range-partition then sort
        # within files so equality/range predicates on the cluster keys
        # touch few row groups (parquet min/max pruning). The sort leads
        # with the write-partition columns: the partitioned-file writer
        # requires that ordering and would otherwise re-sort (non-stably),
        # destroying the cluster order.
        df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
            *partition_cols, *cluster_by
        )
    # load observability — rows/partitions per refresh, riding the write job
    # itself (Observation adds no extra pass), the reference's per-load-job
    # stats trail (src/utils/bigquery_helper.py:141-147)
    obs = Observation("refresh_stats")
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        # observed metrics forbid DISTINCT aggregates; the HLL sketch is the
        # right tool for a metric anyway
        F.approx_count_distinct(F.concat_ws("/", *partition_cols)).alias(
            "approx_partitions_touched"
        ),
    )
    # per-write option, NOT the session conf: refresh_table runs from
    # concurrent endpoint threads sharing one SparkSession
    # (pipeline/orchestrate.py) — a set/restore of the global conf races
    # (thread B's restore lands before thread A's write executes, and a
    # static-mode overwrite deletes every partition in the table)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(table_path)
    )
    try:
        log.info("refresh %s: %s", table_path, obs.get)
    except Exception:
        pass  # metrics are best-effort; the write already succeeded


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a warehouse table hash-bucketed on the join key (S9's
    clustering taken one step further, toward repeated-join workloads).

    Bucketing pre-partitions the data BY FILE at write time: a join or
    aggregation on the bucket columns between two tables bucketed the same
    way needs NO shuffle at read time — each task reads bucket i of both
    sides. At 100 TB this converts the dominant recurring cost (re-shuffling
    a fact table on every join) into a one-time write-side cost; it is the
    open-source equivalent of the reference warehouse's clustered tables
    (reference src/utils/bigquery_helper.py:92 clustering_fields).
    ``sort_cols`` additionally sorts within each bucket file, enabling
    sort-merge joins without a Sort node.

    ``path`` makes the table external (data at ``path``, metadata in the
    session catalog) — required in tests where the warehouse dir is fixed.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def zorder_key(col_a, col_b) -> "F.Column":
    """Morton (Z-order) interleave of two columns for multi-dimensional
    clustering: each column is rank-bucketed upstream to a 16-bit integer,
    and the key interleaves their bits so sorting by it co-locates rows
    that are close in BOTH dimensions — per-file min/max ranges then stay
    tight on both columns, and data-skipping prunes scans filtered on
    either one. (Linear sort gives perfect pruning on the leading column
    and none on the second; see test_zorder_layout_improves_pruning for
    the measured difference.)

    Pure JVM bit arithmetic (the classic mask-spread sequence), usable
    directly in repartitionByRange/sortWithinPartitions — the OPTIMIZE
    ZORDER write path expressed as ordinary Spark expressions."""
    def spread(c):  # 16 -> 32 bits with zeros interleaved
        x = c.cast("long").bitwiseAND(F.lit(0xFFFF))
        x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
        x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
        x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
        return x

    a = spread(F.col(col_a) if isinstance(col_a, str) else col_a)
    b = spread(F.col(col_b) if isinstance(col_b, str) else col_b)
    return a.bitwiseOR(F.shiftleft(b, 1))


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas (columns added over time) as one frame: ``mergeSchema`` unions
    the per-file footers, and rows from files predating a column read as
    NULL for it — the additive-evolution contract a long-lived warehouse
    table needs (rename/retype stays a migration, not a read option).

    Scale note: schema merging reads FOOTERS (one per file), not data;
    with the compaction policy above keeping file counts bounded, the
    merge cost stays driver-side trivial. Column pruning and filter
    pushdown still apply per file — files without a selected column scan
    nothing for it.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
