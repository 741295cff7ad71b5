"""Reference-parity scalar/pipeline operators as catalog queries —
SURVEY.md §2.2 (P2-P11).

These re-express the reference's record-shaping logic as column
expressions: CNPJ cleaning (src/main.py:22-23), storage-path construction
(src/main.py:25-31), date formatting/parsing (src/main.py:28,35;
src/utils/gcs_helper.py:213-218), day-boundary and date arithmetic
(src/config/endpoints.py:27-34; src/main.py:204). The lineage envelope
itself (P1) is in pipeline/lineage.py and exercised by unit tests (its
ingestion_timestamp is run-dependent, so it can't be oracle-hashed).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.urls import url_path_quote
from ..tables import load
from . import register

_PATHS_ORACLE = """
SELECT
  o_orderkey,
  TRANSLATE('12.345.678/0001-90', './-', '') AS cnpj,
  PRINTF('CNPJ_%s/%s/%s/response_pg%d.json',
         TRANSLATE('12.345.678/0001-90', './-', ''),
         'vendas',
         STRFTIME(o_orderdate, '%Y%m%d'),
         o_orderkey % 100) AS lake_path,
  'VMHUB' AS source_system
FROM orders
WHERE o_orderkey < 1000
"""


@register("pipeline_lake_paths", oracle=_PATHS_ORACLE, tags=("pipeline", "string"))
def pipeline_lake_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-path construction (P2+P3+P4): CNPJ cleaning via translate
    (reference src/main.py:22-23), Hive-ish path layout
    CNPJ_{cnpj}/{endpoint}/{yyyymmdd}/response_pg{page}.json (reference
    src/main.py:25-31), fixed source_system literal (src/main.py:39)."""
    (orders,) = load(spark, sf_dir, "orders")
    cnpj = F.translate(F.lit("12.345.678/0001-90"), "./-", "")
    return orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey",
        cnpj.alias("cnpj"),
        F.format_string(
            "CNPJ_%s/%s/%s/response_pg%d.json",
            cnpj,
            F.lit("vendas"),
            F.date_format("o_orderdate", "yyyyMMdd"),
            F.col("o_orderkey") % 100,
        ).alias("lake_path"),
        F.lit("VMHUB").alias("source_system"),
    )


_DATES_ORACLE = """
SELECT
  o_orderkey,
  STRFTIME(o_orderdate, '%Y%m%d')                       AS ds_str,
  CAST(STRPTIME(STRFTIME(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS ds_parsed,
  CAST(DATE_TRUNC('month', o_orderdate) AS DATE)        AS month_start,
  CAST(o_orderdate AS DATE) + 90                        AS ship_deadline,
  CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                                                        AS days_since_epoch_start,
  CAST(DAY(LAST_DAY(CAST(o_orderdate AS DATE))) AS BIGINT) AS days_in_month
FROM orders
WHERE o_orderkey < 1000
"""


@register("pipeline_date_functions", oracle=_DATES_ORACLE, tags=("pipeline", "date"))
def pipeline_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date format/parse round-trip + arithmetic (P4-P7): yyyyMMdd format
    (reference src/main.py:28), strptime parse (src/utils/gcs_helper.py:213),
    day/month truncation (src/config/endpoints.py:28-33), date offsets
    (src/main.py:204 two-year backfill arithmetic)."""
    (orders,) = load(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    return orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyyMMdd").alias("ds_str"),
        F.to_date(F.date_format("o_orderdate", "yyyyMMdd"), "yyyyMMdd").alias("ds_parsed"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start"),
        F.date_add(od, 90).alias("ship_deadline"),
        F.datediff(od, F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since_epoch_start"
        ),
        F.dayofmonth(F.last_day(od)).cast("long").alias("days_in_month"),
    )


_BADDATE_ORACLE = """
WITH raw(s) AS (VALUES ('20240115'), ('20241301'), ('bogus'), (''), ('20240229')),
parsed AS (SELECT s, TRY_CAST(TRY_STRPTIME(s, '%Y%m%d') AS DATE) AS d FROM raw)
SELECT
  COUNT(*)                          AS n_input,
  COUNT(d)                          AS n_valid,
  MAX(d)                            AS max_valid_date
FROM parsed
"""


@register("pipeline_bad_date_tolerance", oracle=_BADDATE_ORACLE, tags=("pipeline", "date"))
def pipeline_bad_date_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-value-tolerant date parsing + watermark max (P5/A1): invalid
    yyyymmdd strings become NULL and are skipped, valid max survives —
    the reference's warn-and-skip parse (src/utils/gcs_helper.py:213-218)
    feeding its max-date watermark (:220)."""
    df = spark.createDataFrame(
        [("20240115",), ("20241301",), ("bogus",), ("",), ("20240229",)], "s string"
    )
    parsed = df.select("s", F.expr("try_to_date(s, 'yyyyMMdd')").alias("d"))
    return parsed.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count("d").alias("n_valid"),
        F.max("d").alias("max_valid_date"),
    )


_STRINGS_ORACLE = """
SELECT
  c_custkey,
  UPPER(c_name)                                   AS name_upper,
  LOWER(c_mktsegment)                             AS segment_lower,
  LPAD(CAST(c_custkey AS VARCHAR), 9, '0')        AS custkey_padded,
  SUBSTR(c_name, 1, 8)                            AS name_prefix,
  CONCAT_WS('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
  REPLACE(c_name, 'Customer', 'Cliente')          AS name_localized,
  CAST(LENGTH(c_name) AS BIGINT)                  AS name_len,
  TRIM('  x  ')                                   AS trimmed,
  REPLACE(c_name, '#', '%23')                     AS name_urlquoted
FROM customer
WHERE c_custkey < 200
"""


@register("pipeline_string_functions", oracle=_STRINGS_ORACLE, tags=("pipeline", "string"))
def pipeline_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (P2/P8/P9 family): case, pad, substring,
    concat, replace, trim — the record-shaping toolkit of the ingest path."""
    (cust,) = load(spark, sf_dir, "customer")
    return cust.filter(F.col("c_custkey") < 200).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.lpad(F.col("c_custkey").cast("string"), 9, "0").alias("custkey_padded"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.regexp_replace("c_name", "Customer", "Cliente").alias("name_localized"),
        F.length("c_name").cast("long").alias("name_len"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
        # P8: path-segment quoting (reference quote(cnpj),
        # src/api/vmhub_client.py:120). On c_name the only unsafe char is
        # '#', so the oracle can state the expectation as a REPLACE; full
        # quote() parity incl. space///*/~ is pinned in tests/test_schema.py.
        url_path_quote("c_name").alias("name_urlquoted"),
    )


_SERIES_ORACLE = """
SELECT
  CAST(d AS DATE) AS ds,
  COUNT(*)        AS n_days_window
FROM (
  SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)) AS d
)
GROUP BY ds
"""


@register("pipeline_date_series", oracle=_SERIES_ORACLE, tags=("pipeline", "date"))
def pipeline_date_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily range generation (P7): sequence + explode — the reference's
    get_daily_ranges driver loop (src/config/endpoints.py:19-34) as a
    declarative expression."""
    df = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("ds")
    )
    return df.groupBy("ds").agg(F.count(F.lit(1)).alias("n_days_window"))


# Data-quality constraint audit (the Deequ/dbt-test shape): declarative
# completeness / uniqueness / range constraints evaluated in ONE aggregate
# pass per table, emitted as an auditable (table, constraint, metric,
# passed) report — the gate a warehouse load runs before publishing a
# partition.
_QUALITY_AUDIT_ORACLE = """
WITH o AS (
  SELECT
    COUNT(*) AS n,
    COUNT(DISTINCT o_orderkey) AS n_key,
    COUNT(o_custkey) AS n_cust,
    SUM(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS n_price_ok,
    SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
              AND o_orderdate < TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS n_date_ok
  FROM orders
),
l AS (
  SELECT
    COUNT(*) AS n,
    COUNT(DISTINCT (l_orderkey, l_linenumber)) AS n_key,
    SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS n_qty_ok,
    SUM(CASE WHEN l_discount BETWEEN 0.0e0 AND 0.1e0 THEN 1 ELSE 0 END) AS n_disc_ok
  FROM lineitem
)
SELECT * FROM (
  SELECT 'orders' AS tbl, 'row_count_positive' AS constraint,
         CAST(n AS DOUBLE) AS metric, n > 0 AS passed FROM o
  UNION ALL SELECT 'orders', 'orderkey_unique',
         ROUND(CAST(n_key AS DOUBLE) / n, 6), n_key = n FROM o
  UNION ALL SELECT 'orders', 'custkey_complete',
         ROUND(CAST(n_cust AS DOUBLE) / n, 6), n_cust = n FROM o
  UNION ALL SELECT 'orders', 'totalprice_nonnegative',
         ROUND(CAST(n_price_ok AS DOUBLE) / n, 6), n_price_ok = n FROM o
  UNION ALL SELECT 'orders', 'orderdate_in_range',
         ROUND(CAST(n_date_ok AS DOUBLE) / n, 6), n_date_ok = n FROM o
  UNION ALL SELECT 'lineitem', 'row_count_positive',
         CAST(n AS DOUBLE), n > 0 FROM l
  UNION ALL SELECT 'lineitem', 'pk_unique',
         ROUND(CAST(n_key AS DOUBLE) / n, 6), n_key = n FROM l
  UNION ALL SELECT 'lineitem', 'quantity_in_1_50',
         ROUND(CAST(n_qty_ok AS DOUBLE) / n, 6), n_qty_ok = n FROM l
  UNION ALL SELECT 'lineitem', 'discount_in_0_01',
         ROUND(CAST(n_disc_ok AS DOUBLE) / n, 6), n_disc_ok = n FROM l
)
"""


@register(
    "pipeline_quality_audit", oracle=_QUALITY_AUDIT_ORACLE, tags=("pipeline", "audit")
)
def pipeline_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: completeness, uniqueness, and range
    constraints over orders and lineitem, evaluated as ONE aggregate pass
    per table and reported as (tbl, constraint, metric, passed) rows.

    Scale shape: every constraint folds into the same single-row aggregate
    (conditional sums + count-distincts), so a 100 TB table is scanned
    once regardless of how many constraints are declared; the stack() to
    report rows happens on the one-row result. This is the audit the
    warehouse refresh (pipeline/lake.py Observation metrics) runs before
    publishing a partition, expressed as a catalog query."""
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_key"),
        F.count("o_custkey").alias("n_cust"),
        F.sum(F.when(F.col("o_totalprice") >= 0, 1).otherwise(0)).alias("n_price_ok"),
        F.sum(
            F.when(
                (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("n_date_ok"),
    )
    l = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey", "l_linenumber").alias("n_key"),
        F.sum(F.when(F.col("l_quantity").between(1, 50), 1).otherwise(0)).alias("n_qty_ok"),
        F.sum(F.when(F.col("l_discount").between(0.0, 0.1), 1).otherwise(0)).alias(
            "n_disc_ok"
        ),
    )
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    o_rows = o.select(
        F.expr(
            "stack(5, "
            "'row_count_positive', CAST(n AS DOUBLE), n > 0, "
            "'orderkey_unique', ROUND(CAST(n_key AS DOUBLE) / n, 6), n_key = n, "
            "'custkey_complete', ROUND(CAST(n_cust AS DOUBLE) / n, 6), n_cust = n, "
            "'totalprice_nonnegative', ROUND(CAST(n_price_ok AS DOUBLE) / n, 6), n_price_ok = n, "
            "'orderdate_in_range', ROUND(CAST(n_date_ok AS DOUBLE) / n, 6), n_date_ok = n"
            ") AS (constraint, metric, passed)"
        )
    ).select(F.lit("orders").alias("tbl"), "constraint", "metric", "passed")
    l_rows = l.select(
        F.expr(
            "stack(4, "
            "'row_count_positive', CAST(n AS DOUBLE), n > 0, "
            "'pk_unique', ROUND(CAST(n_key AS DOUBLE) / n, 6), n_key = n, "
            "'quantity_in_1_50', ROUND(CAST(n_qty_ok AS DOUBLE) / n, 6), n_qty_ok = n, "
            "'discount_in_0_01', ROUND(CAST(n_disc_ok AS DOUBLE) / n, 6), n_disc_ok = n"
            ") AS (constraint, metric, passed)"
        )
    ).select(F.lit("lineitem").alias("tbl"), "constraint", "metric", "passed")
    return o_rows.unionAll(l_rows)


# Anti-entropy table checksum: the replication/migration verifier — two
# systems (or two loads of the same partition) agree iff their per-partition
# checksums agree. The checksum is a SUM of per-row 52-bit content hashes:
# commutative and associative, so it is independent of row order, file
# layout, partitioning, and engine — exactly the property a cross-system
# comparison needs. Floats enter the row hash as exact integer cents, never
# as formatted strings.
_CHECKSUM_ORACLE = """
WITH rows_h AS (
  SELECT
    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
    CAST(concat('0x', substr(md5(concat_ws('|',
      CAST(o_orderkey AS VARCHAR),
      CAST(o_custkey AS VARCHAR),
      CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS VARCHAR),
      o_orderstatus,
      o_orderpriority
    )), 1, 13)) AS BIGINT) AS rh
  FROM orders
)
SELECT
  month,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(rh) AS BIGINT) AS checksum
FROM rows_h
GROUP BY month
"""


@register(
    "pipeline_partition_checksum", oracle=_CHECKSUM_ORACLE, tags=("pipeline", "audit")
)
def pipeline_partition_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-partition content checksum (month grain):
    SUM of per-row md5-derived 52-bit hashes over the business columns —
    the anti-entropy check that verifies a replicated/migrated partition
    byte-for-byte without moving the data.

    Scale shape: hash is a scan-stage projection; the only shuffle is the
    month-grain SUM with map-side combine (a 100 TB table folds to
    |months| rows). 52-bit row hashes summed over even 2^11 rows per
    partition stay far below int64 overflow; the same sum in DuckDB is
    CAST from its HUGEINT accumulator, values identical."""
    (orders,) = load(spark, sf_dir, "orders")
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.round(F.col("o_totalprice") * 100.0).cast("long").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("o_orderpriority"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    return (
        orders.select(F.date_trunc("month", "o_orderdate").alias("month"), rh.alias("rh"))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("rh").cast("long").alias("checksum"),
        )
    )


# Key-skew diagnostic: the operational query you run BEFORE choosing a
# join strategy — per-key row counts for the heaviest keys plus the
# corpus-wide skew factor (max/avg). A skew factor near 1 means plain
# hash-partitioning is fine; a large one motivates salting
# (join_salted_skew) or AQE skew-join splitting.
_SKEW_ORACLE = """
WITH k AS (
  SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(MAX(n) AS BIGINT) AS max_key_rows,
         ROUND(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n), 4) AS skew_factor
  FROM k
),
top AS (
  SELECT key, CAST(n AS BIGINT) AS n,
    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key) AS BIGINT) AS heaviness_rank
  FROM k
)
SELECT top.heaviness_rank, top.key, top.n,
       stats.n_keys, stats.n_rows, stats.skew_factor
FROM top CROSS JOIN stats
WHERE top.heaviness_rank <= 10
"""


@register("pipeline_key_skew_report", oracle=_SKEW_ORACLE, tags=("pipeline", "audit"))
def pipeline_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest join keys with corpus-wide skew statistics — the
    pre-flight check behind every salting / skew-join decision.

    Scale shape: one key-grain count (map-side combined), a global top-10
    that plans as TakeOrderedAndProject (each partition forwards at most
    10 rows), and a single-row stats broadcast. A 100 TB fact table folds
    to |keys| rows before anything global happens."""
    (li,) = load(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    stats = k.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_key_rows"),
        F.round(
            F.max("n").cast("double") * F.count(F.lit(1)) / F.sum("n"), 4
        ).alias("skew_factor"),
    )
    top = (
        k.orderBy(F.desc("n"), F.asc("key"))
        .limit(10)
        .select(
            F.col("key"),
            F.col("n").cast("long").alias("n"),
        )
    )
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    ranked = top.withColumn("heaviness_rank", F.row_number().over(w).cast("long"))
    return ranked.crossJoin(F.broadcast(stats)).select(
        "heaviness_rank", "key", "n", "n_keys", "n_rows", "skew_factor"
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH prev AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_c,
         o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0
),
curr AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT)
           + CASE WHEN o_orderkey % 89 = 0 THEN 100 ELSE 0 END AS price_c,
         o_orderstatus
  FROM orders WHERE o_orderkey % 101 <> 0
),
diff AS (
  SELECT
    CASE
      WHEN p.o_orderkey IS NULL THEN 'added'
      WHEN c.o_orderkey IS NULL THEN 'removed'
      WHEN p.price_c <> c.price_c OR p.o_orderstatus <> c.o_orderstatus THEN 'changed'
      ELSE 'unchanged'
    END AS status,
    COALESCE(c.price_c, p.price_c) AS price_c,
    COALESCE(c.o_orderkey, p.o_orderkey) AS key
  FROM prev p FULL OUTER JOIN curr c ON p.o_orderkey = c.o_orderkey
)
SELECT
  status,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
  CAST(BIT_XOR(CAST(concat('0x', substr(md5(CAST(key AS VARCHAR)), 1, 13)) AS BIGINT)) AS BIGINT) AS key_checksum
FROM diff
GROUP BY status
"""


@register("pipeline_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE, tags=("pipeline", "join"))
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: full-outer-join two table versions on the
    business key and classify every row added / removed / changed /
    unchanged, with per-class row counts, value totals, and a key checksum
    — the diff audit run between warehouse loads to prove an incremental
    pipeline converged to the same state as a full rebuild.

    The two versions are carved deterministically from the fixture (key
    mod 97 / mod 101 membership, a +1-cent drift on mod-89 keys) so the
    oracle reproduces them exactly. Scale shape: ONE full-outer sort-merge
    join on the key (both sides shuffle once — unavoidable and linear),
    then a 4-group aggregate; the change predicate compares quantized
    cents, so no float equality is ever trusted. The key checksum is an
    XOR fold of the repo's 52-bit md5 hash primitive — order-independent,
    overflow-free at any key volume (a SUM-of-products checksum would
    trip ANSI int64 overflow past ~1e6 rows), and catches any class
    membership drift without collecting keys.
    """
    (orders,) = load(spark, sf_dir, "orders")
    price_c = F.round(F.col("o_totalprice") * 100.0).cast("long")
    prev = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", price_c.alias("price_p"), F.col("o_orderstatus").alias("status_p")
    )
    curr = orders.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        (price_c + F.when(F.col("o_orderkey") % 89 == 0, 100).otherwise(0)).alias(
            "price_x"
        ),
        F.col("o_orderstatus").alias("status_x"),
    )
    diff = prev.join(curr, "o_orderkey", "full_outer").select(
        F.when(F.col("price_p").isNull(), "added")
        .when(F.col("price_x").isNull(), "removed")
        .when(
            (F.col("price_p") != F.col("price_x"))
            | (F.col("status_p") != F.col("status_x")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("price_x", "price_p").alias("price_c"),
        F.col("o_orderkey").alias("key"),
    )
    key_h = F.conv(
        F.substring(F.md5(F.col("key").cast("string")), 1, 13), 16, 10
    ).cast("long")
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("price_c").cast("long").alias("sum_price_c"),
        F.bit_xor(key_h).cast("long").alias("key_checksum"),
    )


_FK_INTEGRITY_ORACLE = """
WITH lo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
),
oc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
),
cn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
    ON c.c_nationkey = n.n_nationkey
),
sn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
         CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
    ON s.s_nationkey = n.n_nationkey
)
SELECT edge, n_child, n_orphans,
       CAST(10000 * (n_child - n_orphans) // n_child AS BIGINT) AS coverage_bp
FROM (
  SELECT 'lineitem->orders' AS edge, * FROM lo
  UNION ALL SELECT 'orders->customer', * FROM oc
  UNION ALL SELECT 'customer->nation', * FROM cn
  UNION ALL SELECT 'supplier->nation', * FROM sn
)
"""


@register(
    "pipeline_fk_integrity", oracle=_FK_INTEGRITY_ORACLE, tags=("pipeline", "audit", "join")
)
def pipeline_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges: per
    edge, child row count, orphan count (child key absent from the parent),
    and coverage in integer basis points — the cross-table complement to
    ``pipeline_quality_audit``'s single-table constraints, run before
    publishing a warehouse load.

    Scale shape: each edge is ONE left join of the child against the
    parent's DISTINCT key projection — the parent side collapses to its key
    cardinality before the join, so nation-sized parents broadcast and even
    the orders parent ships only 8-byte keys; the orphan test is a
    null-check aggregate, so no orphan rows are ever materialized. Edges
    run as independent plan legs unioned at one row each.
    """
    cust, orders, li, sup, nat = load(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation"
    )

    def edge(name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        p = parent.select(pk).distinct()
        return (
            child.select(F.col(ck))
            .join(p, child[ck] == p[pk], "left")
            .agg(
                F.lit(name).alias("edge"),
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(
                "edge",
                "n_child",
                "n_orphans",
                F.expr(
                    "CAST(10000 * (n_child - n_orphans) div n_child AS BIGINT)"
                ).alias("coverage_bp"),
            )
        )

    return (
        edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(edge("orders->customer", orders, "o_custkey", cust, "c_custkey"))
        .unionByName(edge("customer->nation", cust, "c_nationkey", nat, "n_nationkey"))
        .unionByName(edge("supplier->nation", sup, "s_nationkey", nat, "n_nationkey"))
    )


_IVM_ORACLE = """
SELECT
  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS revenue_c
FROM events
GROUP BY day
"""


@register("pipeline_incremental_aggregate", oracle=_IVM_ORACLE, tags=("pipeline", "agg"))
def pipeline_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the daily-revenue rollup: history
    and the new batch (split at a date boundary, simulating stored partial
    state + today's load) are aggregated SEPARATELY and merged by partial-
    aggregate algebra (sum of counts, sum of integer-cent sums) — never
    rescanning history. The oracle recomputes the rollup from scratch, so
    the hash match PROVES the merge algebra equals full recomputation —
    the plain-aggregate analog of agg_kmv_merge's sketch mergeability.

    At 100 TB this is the only viable refresh shape: day-partitioned
    partial state is O(days) rows; each load aggregates only its batch and
    merges at state grain. Integer cents make the merge exact under any
    arrival order or re-partitioning; a float sum would drift between the
    incremental and recomputed paths."""
    (ev,) = load(spark, sf_dir, "events")
    # the fixture's event stream spans January 2024; the cut lands mid-
    # stream so BOTH legs are non-empty and one day (the cut day itself,
    # if events straddle midnight) exercises the cross-leg merge
    cut = F.lit("2024-01-20").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0).cast("long"))
            .cast("long")
            .alias("revenue_c"),
        )

    history = partials(ev.filter(F.col("ts") < cut))
    batch = partials(ev.filter(F.col("ts") >= cut))
    return (
        history.unionByName(batch)
        .groupBy("day")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("revenue_c").cast("long").alias("revenue_c"),
        )
    )


# Deterministic Bloom-filter prefilter audit (r5): the runtime-filter /
# semi-join-pruning pattern measured honestly. A Bloom filter over the
# build side's keys (urgent orders' customers) is materialized as a
# BIT-POSITION TABLE (m = 16384 possible rows — constant-size, broadcast-
# joinable at any corpus size) rather than a driver bitmap; the probe side
# (all customers) passes when ALL k=3 of its md5-derived bit positions are
# set. The report quantifies exactly what a production runtime filter
# would buy per segment: true members, Bloom passes, false positives, FPR.
_BLOOM_M = 16384
_BLOOM_K = 3

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
bits AS (
  SELECT DISTINCT
    CAST(concat('0x',
      substr(md5(concat('bloom-v1:', CAST(j AS VARCHAR), ':', CAST(o_custkey AS VARCHAR))), 1, 13)
    ) AS BIGINT) % {_BLOOM_M} AS bit
  FROM build, UNNEST(RANGE(1, {_BLOOM_K} + 1)) AS t(j)
),
probe AS (
  SELECT c_custkey, c_mktsegment, j,
    CAST(concat('0x',
      substr(md5(concat('bloom-v1:', CAST(j AS VARCHAR), ':', CAST(c_custkey AS VARCHAR))), 1, 13)
    ) AS BIGINT) % {_BLOOM_M} AS bit
  FROM customer, UNNEST(RANGE(1, {_BLOOM_K} + 1)) AS t(j)
),
hits AS (
  -- count distinct hash INDICES (j) with their bit set, not distinct bit
  -- values: a key whose k hashes collide onto one bit must still pass
  -- (no false negatives — the Bloom invariant)
  SELECT p.c_custkey, p.c_mktsegment,
    CAST(COUNT(DISTINCT CASE WHEN b.bit IS NOT NULL THEN p.j END) AS BIGINT) AS n_set
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.c_custkey, p.c_mktsegment
),
labeled AS (
  SELECT h.c_custkey, h.c_mktsegment,
    (h.n_set = {_BLOOM_K}) AS bloom_pass,
    (bu.o_custkey IS NOT NULL) AS is_member
  FROM hits h LEFT JOIN build bu ON bu.o_custkey = h.c_custkey
)
SELECT
  c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_probed,
  CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
  CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
  CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos,
  CAST(10000 * SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
       // GREATEST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 1) AS BIGINT)
    AS fpr_bp
FROM labeled
GROUP BY c_mktsegment
"""


@register("pipeline_bloom_prefilter", oracle=_BLOOM_ORACLE, tags=("pipeline", "join"))
def pipeline_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter with an exact false-positive audit:
    build a deterministic m=16384-bit / k=3-hash Bloom filter over urgent-
    order customers, probe every customer through it, and report per market
    segment how many probes pass vs true membership — the measured version
    of the runtime-filter pruning a 100 TB fact-dim join relies on (ship
    the constant-size filter to the fact scan, drop non-matching rows
    before the shuffle). Zero Bloom false NEGATIVES by construction; the
    fpr_bp column prices the false-positive traffic the filter lets
    through.

    Scale shape: the bit table is bounded at m rows regardless of build
    cardinality (the Bloom property) and BROADCASTS to the probe side; the
    probe explodes exactly k bit rows per key (linear), folds back to key
    grain counting distinct SET positions, and the exact audit is one
    key-grain left join. All md5-derived positions — both engines compute
    identical bits, so the report is hash-exact."""
    (orders, customer) = load(spark, sf_dir, "orders", "customer")

    def bloom_bit(key: F.Column, j: F.Column) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bloom-v1:"),
                        j.cast("string"),
                        F.lit(":"),
                        key.cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long") % _BLOOM_M

    js = F.explode(F.sequence(F.lit(1), F.lit(_BLOOM_K))).alias("j")
    build = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    ).distinct()
    bits = (
        build.select("o_custkey", js)
        .select(bloom_bit(F.col("o_custkey"), F.col("j")).alias("bit"))
        .distinct()
        .withColumn("set_", F.lit(1))
    )
    probe = customer.select("c_custkey", "c_mktsegment", js).select(
        "c_custkey", "c_mktsegment", "j", bloom_bit(F.col("c_custkey"), F.col("j")).alias("bit")
    )
    hits = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            # distinct hash indices (j), not bit values: self-colliding
            # keys must still pass — the Bloom no-false-negative invariant
            F.countDistinct(F.when(F.col("set_").isNotNull(), F.col("j")))
            .cast("long")
            .alias("n_set")
        )
    )
    labeled = hits.join(
        F.broadcast(build.withColumn("member_", F.lit(1))),
        hits.c_custkey == build.o_custkey,
        "left",
    ).select(
        "c_mktsegment",
        (F.col("n_set") == _BLOOM_K).alias("bloom_pass"),
        F.col("member_").isNotNull().alias("is_member"),
    )
    return labeled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).cast("long").alias("n_members"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("long").alias("n_bloom_pass"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        F.expr(
            "CAST(10000 * SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)"
            " div GREATEST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 1) AS BIGINT)"
        ).alias("fpr_bp"),
    )


# r13 (VERDICT r12 task 6): the operator runbook as ONE declarative query.
# Every maintenance primitive exists as its own checked entry — bucket/cell
# occupancy audits, the two one-pass repair-all jobs, grown-index
# compaction, staging prune — and a deployment runs them as a scheduled
# composition, not one-at-a-time. This flagship executes
# detect->repair->compact->prune across BOTH index families in one pass
# and emits the audit trail a maintenance scheduler records: one row per
# (family, step) with the family-native before/after/changed totals.
def _index_maintenance_oracle() -> str:
    from .dedup import _lsh_repair_all_oracle
    from .vector import _ivf_rebalance_all_oracle

    return f"""
WITH lshr AS MATERIALIZED (SELECT * FROM ({_lsh_repair_all_oracle()}) t),
annr AS MATERIALIZED (SELECT * FROM ({_ivf_rebalance_all_oracle()}) t)
SELECT 'ann' AS family, 'repair' AS step,
  CAST(MAX(hot_cells_before) AS BIGINT) AS before_total,
  CAST(MAX(hot_cells_after) AS BIGINT) AS after_total,
  CAST(MAX(second_pass_members) AS BIGINT) AS changed_total
FROM annr
UNION ALL
SELECT 'dedup' AS family, 'repair' AS step,
  CAST(SUM(hot_buckets_before) AS BIGINT) AS before_total,
  CAST(SUM(hot_buckets_after) AS BIGINT) AS after_total,
  CAST(SUM(second_pass_changed) AS BIGINT) AS changed_total
FROM lshr
UNION ALL
SELECT 'dedup' AS family, 'compact' AS step,
  CAST(9 * COUNT(*) AS BIGINT) AS before_total,
  CAST(9 * COUNT(*) AS BIGINT) AS after_total,
  CAST(0 AS BIGINT) AS changed_total
FROM documents
UNION ALL
SELECT 'store' AS family, 'prune' AS step,
  CAST(2 AS BIGINT) AS before_total,
  CAST(0 AS BIGINT) AS after_total,
  CAST(2 AS BIGINT) AS changed_total
"""


@register(
    "pipeline_index_maintenance",
    oracle=_index_maintenance_oracle(),
    tags=("pipeline", "audit", "maintenance"),
)
def pipeline_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduled index-maintenance RUN: detect -> repair -> compact ->
    prune composed across both index families in one declarative pass
    (r13, VERDICT r12 task 6). Steps and their family-native metrics:

    * ``('dedup','repair')`` — ``dedup_lsh_repair_all``'s per-band audit
      summed: 24 hot buckets detected (3 per band x 8 bands on the
      multi-family fixture), 0 after one pass, 0 re-keyed by a second.
    * ``('ann','repair')`` — ``ann_ivf_rebalance_all``'s global audit: 3
      hot cells detected, 0 after, 0 members a second pass would touch.
    * ``('dedup','compact')`` — ``compact_grown_index`` over the grown
      dedup serving dir (bootstrapped via the growth stream once per
      session): row totals across both legs, conserved by construction
      (9 x corpus docs: 8 band rows + 1 token-set row each). The
      partition-fold itself is idempotent — a second invocation skips an
      already-canonical leg — so the CONSERVED totals are the
      deterministic audit value, the fold mechanics are pinned in
      tests/test_r13_queries.py.
    * ``('store','prune')`` — ``prune_stale_staging`` against a planted
      private store (2 stale staging dirs + 1 complete artifact): 2
      removed, the artifact untouched. Planted per invocation so the
      audit row is deterministic; the age-guard semantics are pinned in
      tests/test_r12_queries.py.

    Scale shape (the plan gate: adding a family adds NO corpus scan):
    both repair legs aggregate their entries' cell/band-grain audits over
    RESIDENT checkpointed indexes — the flagship's plan contains zero
    parquet scans of the corpus tables; compact/prune metrics are
    operator actions whose audit rows ride in as literals. Every leg is
    independent, so a scheduler can fan the steps out; the union is the
    audit log it appends either way."""
    import os
    import shutil
    import tempfile
    import time

    from ..operators.artifacts import _MARKER, prune_stale_staging
    from ..operators.index_compact import compact_grown_index
    from . import REGISTRY

    # detect + repair, both families (each entry IS detect->repair->verify)
    lsh_audit = REGISTRY["dedup_lsh_repair_all"].fn(spark, sf_dir)
    ann_audit = REGISTRY["ann_ivf_rebalance_all"].fn(spark, sf_dir)
    ann_row = ann_audit.agg(
        F.lit("ann").alias("family"),
        F.lit("repair").alias("step"),
        F.max("hot_cells_before").cast("long").alias("before_total"),
        F.max("hot_cells_after").cast("long").alias("after_total"),
        F.max("second_pass_members").cast("long").alias("changed_total"),
    )
    lsh_row = lsh_audit.agg(
        F.lit("dedup").alias("family"),
        F.lit("repair").alias("step"),
        F.sum("hot_buckets_before").cast("long").alias("before_total"),
        F.sum("hot_buckets_after").cast("long").alias("after_total"),
        F.sum("second_pass_changed").cast("long").alias("changed_total"),
    )

    # compact the grown dedup serving dir (bootstrap the stream once per
    # session; a later invocation finds the dir already canonical and the
    # fold skips — row totals are conserved either way)
    from . import streaming_queries as sq

    sq.streaming_lsh_index_growth(spark, sf_dir)
    grown = sq._lsh_growth_dir(spark, sf_dir)
    metrics = compact_grown_index(spark, grown, ("banded", "toks"))
    compact_rows = int(sum(m["rows"] for m in metrics))

    # prune a planted private store: 2 stale staging dirs, 1 complete
    # artifact that must survive
    store = tempfile.mkdtemp(prefix="vmhub_maint_store_")
    try:
        art = os.path.join(store, "lshidx-keep")
        os.makedirs(art)
        open(os.path.join(art, _MARKER), "w").close()
        past = time.time() - 48 * 3600
        planted = 0
        for i in range(2):
            stale = os.path.join(store, f"ivfpqidx-dead{i}.tmp-{i:08d}")
            os.makedirs(stale)
            f = os.path.join(stale, "part-0.parquet")
            open(f, "w").close()
            os.utime(f, (past, past))
            planted += 1
        removed = len(prune_stale_staging(max_age_s=24 * 3600, root=store))
        survivors = planted - removed + (0 if os.path.isdir(art) else -99)
    finally:
        shutil.rmtree(store, ignore_errors=True)

    literal = spark.createDataFrame(
        [
            ("dedup", "compact", compact_rows, compact_rows, 0),
            ("store", "prune", planted, survivors, removed),
        ],
        "family string, step string, before_total long, after_total long, "
        "changed_total long",
    )
    return ann_row.unionByName(lsh_row).unionByName(literal)
