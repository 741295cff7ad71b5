"""Statistical aggregates + subquery surface (A6 completion).

Variance/stddev/correlation are computed from EXACT integer moments
(sum x, sum x^2, sum xy in quantized cents) and assembled with an identical
double expression on both engines — the built-in var_samp/corr would differ
in low bits across engines/partitionings (different merge order), and a
single-pass integer-moment formulation is also the right distributed shape:
one aggregate, no second pass, no fp drift at any cluster size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import quant
from ..operators.caching import get
from ..tables import load
from . import register


def _moments_var(sx: F.Column, sxx: F.Column, n: F.Column, scale: int) -> F.Column:
    """Sample variance from exact integer moments, in original units."""
    m = float(10**scale)
    sxd = sx.cast("double")
    sxxd = sxx.cast("double")
    nd = n.cast("double")
    return (sxxd - sxd * sxd / nd) / (nd - F.lit(1.0)) / F.lit(m * m)


_VARIANCE_ORACLE = """
WITH m AS (
  SELECT
    l_returnflag,
    COUNT(*) AS n,
    SUM(CAST(ROUND(l_extendedprice * 100.0) AS HUGEINT)) AS sx,
    SUM(CAST(ROUND(l_extendedprice * 100.0) AS HUGEINT)
        * CAST(ROUND(l_extendedprice * 100.0) AS HUGEINT)) AS sxx,
    SUM(CAST(ROUND(l_discount * 100.0) AS HUGEINT)) AS sy,
    SUM(CAST(ROUND(l_discount * 100.0) AS HUGEINT)
        * CAST(ROUND(l_discount * 100.0) AS HUGEINT)) AS syy,
    SUM(CAST(ROUND(l_extendedprice * 100.0) AS HUGEINT)
        * CAST(ROUND(l_discount * 100.0) AS HUGEINT)) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT
  l_returnflag,
  n,
  ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(n AS DOUBLE) - 1.0) / 10000.0, 4) AS var_price,
  ROUND(SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(n AS DOUBLE) - 1.0) / 10000.0), 4) AS stddev_price,
  ROUND(
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
    / SQRT(
        (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      ), 6) AS corr_price_disc
FROM m
"""


@register("agg_variance_corr", oracle=_VARIANCE_ORACLE, tags=("agg", "stats"))
def agg_variance_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev of price and price-discount correlation per
    returnflag via exact integer moments (single-pass, order-independent)."""
    (li,) = load(spark, sf_dir, "lineitem")
    x = quant("l_extendedprice", 2).cast("decimal(38,0)")
    y = quant("l_discount", 2).cast("decimal(38,0)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    var_price = _moments_var(F.col("sx"), F.col("sxx"), n, 2)
    cov_num = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast(
        "double"
    ) / n.cast("double")
    var_x_num = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast(
        "double"
    ) / n.cast("double")
    var_y_num = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast(
        "double"
    ) / n.cast("double")
    return agg.select(
        "l_returnflag",
        "n",
        F.round(var_price, 4).alias("var_price"),
        F.round(F.sqrt(var_price), 4).alias("stddev_price"),
        F.round(cov_num / F.sqrt(var_x_num * var_y_num), 6).alias("corr_price_disc"),
    )


_PCT_ORACLE = """
SELECT
  l_returnflag,
  ROUND(quantile_cont(l_quantity, 0.5), 4)        AS median_qty,
  ROUND(quantile_cont(l_extendedprice, 0.25), 4)  AS p25_price,
  ROUND(quantile_cont(l_extendedprice, 0.95), 4)  AS p95_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_percentiles", oracle=_PCT_ORACLE, tags=("agg", "stats"))
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p25/p95). Spark percentile()
    and DuckDB quantile_cont share the linear-interpolation definition.
    (percentile_approx is the sketch-based scale path; exact here because
    the oracle must hash-match.)"""
    (li,) = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
    )


_ARGMAX_ORACLE = """
SELECT
  l_returnflag,
  ARG_MAX(l_orderkey,
          CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) * 10000000000 + l_orderkey)
    AS priciest_orderkey,
  MAX(l_extendedprice) AS max_price,
  ARG_MIN(l_orderkey,
          CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) * 10000000000 + l_orderkey)
    AS cheapest_orderkey
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_arg_minmax", oracle=_ARGMAX_ORACLE, tags=("agg",))
def agg_arg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARG_MAX/ARG_MIN (min_by/max_by). The ordering key is a composite
    (price_cents, orderkey) packed into one exact BIGINT — deterministic
    under price ties, and portable (DuckDB arg_max can't order by struct)."""
    (li,) = load(spark, sf_dir, "lineitem")
    key = quant("l_extendedprice", 2) * F.lit(10_000_000_000) + F.col("l_orderkey")
    return li.groupBy("l_returnflag").agg(
        F.max_by(F.col("l_orderkey"), key).alias("priciest_orderkey"),
        F.max("l_extendedprice").alias("max_price"),
        F.min_by(F.col("l_orderkey"), key).alias("cheapest_orderkey"),
    )


_COLLECT_ORACLE = """
SELECT
  n_nationkey,
  STRING_AGG(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
FROM nation
JOIN customer ON c_nationkey = n_nationkey
GROUP BY n_nationkey
"""


@register("agg_collect_sorted", oracle=_COLLECT_ORACLE, tags=("agg", "collect"))
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct string aggregation (collect_set -> array_sort ->
    concat_ws): deterministic despite collect_set's arbitrary order."""
    nation, cust = load(spark, sf_dir, "nation", "customer")
    return (
        nation.join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias("segments"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


_SCALAR_SUB_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT MAX(s_acctbal) FROM supplier)
"""


@register("subquery_scalar", oracle=_SCALAR_SUB_ORACLE, tags=("subquery",))
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a filter (planned as a broadcast of
    one value). MAX passes a raw column value through — exact on both
    engines, so the predicate boundary is deterministic."""
    cust, supp = load(spark, sf_dir, "customer", "supplier")
    cust.createOrReplaceTempView("customer")
    supp.createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT MAX(s_acctbal) FROM supplier)
        """
    )


_EXISTS_ORACLE = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
AND NOT EXISTS (
  SELECT 1 FROM orders o2
  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
    AND o2.o_totalprice > 450000
)
"""


@register("subquery_exists", oracle=_EXISTS_ORACLE, tags=("subquery", "semi"))
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS (Catalyst rewrites to semi/anti
    joins — same physical plan as join_semi/join_anti, SQL surface parity)."""
    cust, orders = load(spark, sf_dir, "customer", "orders")
    cust.createOrReplaceTempView("customer")
    orders.createOrReplaceTempView("orders")
    return spark.sql(_EXISTS_ORACLE)


_CORR_SCALAR_ORACLE = """
SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
FROM customer c
WHERE c.c_acctbal = (
  SELECT MAX(c2.c_acctbal) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
)
"""


@register("subquery_correlated_scalar", oracle=_CORR_SCALAR_ORACLE, tags=("subquery",))
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (per-group max lookup) — Catalyst
    de-correlates it into an aggregate + join; the equality compares a raw
    column against a raw MAX (no arithmetic), so it is engine-exact."""
    (cust,) = load(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer")
    return spark.sql(_CORR_SCALAR_ORACLE)


_UNION_ALL_ORACLE = """
SELECT partkey, COUNT(*) AS n_mentions
FROM (
  SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity >= 45
  UNION ALL
  SELECT p_partkey AS partkey FROM part WHERE p_retailprice > 1800
)
GROUP BY partkey
HAVING COUNT(*) > 1
"""


@register("set_union_all", oracle=_UNION_ALL_ORACLE, tags=("setop",))
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (duplicate-preserving) + dup detection via HAVING."""
    li, part = load(spark, sf_dir, "lineitem", "part")
    a = li.filter(F.col("l_quantity") >= 45).select(F.col("l_partkey").alias("partkey"))
    b = part.filter(F.col("p_retailprice") > 1800).select(F.col("p_partkey").alias("partkey"))
    return (
        a.unionByName(b)
        .groupBy("partkey")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .filter(F.col("n_mentions") > 1)
    )


@register("agg_approx_sketches", oracle=None, tags=("agg", "approx"))
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates (rows-only: HLL/KLL sketch values are
    engine-specific, so no DuckDB oracle — the exact twins agg_count_distinct
    and agg_percentiles are the oracle-checked versions). At 100 TB these
    ARE the production path: approx_count_distinct merges HLL registers in
    one pass; percentile_approx streams a KLL-style sketch — neither sorts
    nor expands, unlike their exact counterparts."""
    (li,) = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


_CASE_ORACLE = """
SELECT
  CASE
    WHEN c_acctbal < 0 THEN 'negative'
    WHEN c_acctbal < 3000 THEN 'low'
    WHEN c_acctbal < 7000 THEN 'mid'
    ELSE 'high'
  END AS bal_band,
  COUNT(*) AS n,
  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer
GROUP BY bal_band
"""


@register("case_bucketing", oracle=_CASE_ORACLE, tags=("projection",))
def case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-branch CASE bucketing + aggregation on the derived key."""
    (cust,) = load(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
    )
    return cust.groupBy(band.alias("bal_band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


# Deterministic distinct-count sketches. The engine-native sketches
# (approx_count_distinct / HLL) are rows-only because register layouts are
# engine-specific — but a sketch built from the repo's derived-hash
# primitive is a pure function of the data, so BOTH the registers and the
# estimate hash-match across engines. These are the production shapes for
# 100 TB distinct-count: the shuffle carries k hashes (KMV) or m registers
# (HLL) per group, never the distinct values themselves.
_KMV_K = 64  # <= per-group cardinality at the smallest fixture (sf0.001 has ~126/group)
_KMV_DENOM = float(1 << 52)

_KMV_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
h AS (
  SELECT o_orderpriority,
    CAST(concat('0x',
      substr(md5(concat('kmv-v1:', CAST(o_custkey AS VARCHAR))), 1, 13)
    ) AS BIGINT) AS hv
  FROM d
),
r AS (
  SELECT o_orderpriority, hv,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS rn
  FROM h
),
exact AS (
  SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
  FROM orders GROUP BY o_orderpriority
)
SELECT
  r.o_orderpriority,
  exact.n_exact,
  r.hv AS kth_hash,
  ROUND(({_KMV_K} - 1.0e0) * {_KMV_DENOM!r} / CAST(r.hv AS DOUBLE), 4) AS est_kmv
FROM r JOIN exact ON r.o_orderpriority = exact.o_orderpriority
WHERE r.rn = {_KMV_K}
"""


@register("agg_kmv_distinct", oracle=_KMV_ORACLE, tags=("agg", "approx", "sketch"))
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, exactly reproducible:
    hash each distinct member with the md5-derived primitive, keep the k-th
    smallest hash per group, estimate |D| = (k-1) * 2^52 / h_k.

    Scale shape: the rank<=k cut plans as WindowGroupLimit, so each map
    task forwards at most k hashes per group into the shuffle — the sketch
    property (bounded state per group) holds distributively. Unlike
    approx_count_distinct, the estimate is a pure function of the data:
    the driver hash-matches both the register (kth_hash) and the estimate."""
    (orders,) = load(spark, sf_dir, "orders")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv-v1:"), F.col("o_custkey").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    d = orders.select("o_orderpriority", "o_custkey").distinct()
    h = d.select("o_orderpriority", hv.alias("hv"))
    w = Window.partitionBy("o_orderpriority").orderBy("hv")
    kth = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _KMV_K)
        .select("o_orderpriority", F.col("hv").alias("kth_hash"))
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    return kth.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        "n_exact",
        "kth_hash",
        F.round(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_DENOM) / F.col("kth_hash").cast("double"),
            4,
        ).alias("est_kmv"),
    )


# HyperLogLog with deterministic registers: bucket = hash mod m, rho =
# leading-zero count of the remaining 43 bits + 1 (computed integer-exactly
# via length(bin(x)) — no float log). Z = sum 2^-M is a sum of dyadic
# rationals on a 2^-44 grid totalling < 2^9, so it is EXACTLY representable
# in 53-bit doubles and addition never rounds — the estimate is therefore
# bit-identical regardless of summation order, engine, or partitioning.
_HLL_P = 9
_HLL_M = 1 << _HLL_P  # 512 registers
_HLL_REM_BITS = 52 - _HLL_P  # 43

_HLL_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
h AS (
  SELECT o_orderpriority,
    CAST(concat('0x',
      substr(md5(concat('hll-v1:', CAST(o_custkey AS VARCHAR))), 1, 13)
    ) AS BIGINT) AS hv
  FROM d
),
reg AS (
  SELECT o_orderpriority,
    hv % {_HLL_M} AS bucket,
    MAX(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_REM_BITS} + 1
             ELSE {_HLL_REM_BITS} - LENGTH(bin(hv // {_HLL_M})) + 1 END) AS m_rho
  FROM h
  GROUP BY o_orderpriority, hv % {_HLL_M}
),
fold AS (
  SELECT o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_hit,
    SUM(POWER(2.0e0, -m_rho)) AS z_hit
  FROM reg GROUP BY o_orderpriority
),
est AS (
  SELECT o_orderpriority, n_hit,
    (0.7213e0 / (1.0e0 + 1.079e0 / {_HLL_M}.0e0)) * {_HLL_M}.0e0 * {_HLL_M}.0e0
      / (z_hit + ({_HLL_M} - n_hit) * 1.0e0) AS raw_est
  FROM fold
),
exact AS (
  SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
  FROM orders GROUP BY o_orderpriority
)
SELECT
  est.o_orderpriority,
  exact.n_exact,
  est.n_hit,
  ROUND(CASE WHEN est.raw_est <= 2.5e0 * {_HLL_M}.0e0 AND est.n_hit < {_HLL_M}
             THEN {_HLL_M}.0e0 * LN({_HLL_M}.0e0 / ({_HLL_M} - est.n_hit))
             ELSE est.raw_est END, 4) AS est_hll
FROM est JOIN exact ON est.o_orderpriority = exact.o_orderpriority
"""


@register("agg_hll_distinct", oracle=_HLL_ORACLE, tags=("agg", "approx", "sketch"))
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count with md5-derived hashes: 512 deterministic
    registers per group, leading-zero ranks computed via integer bin-length
    (never float log), the standard bias-corrected estimate with linear
    counting below 2.5m — and the whole thing hash-matches a plain-SQL
    oracle because every register and every dyadic sum is exact.

    Scale shape: register grain is (group x 512) regardless of cardinality
    — the first groupBy's map-side combine collapses each partition to at
    most 512 rows per group before the shuffle; the second collapses to one
    row per group. This is the real HLL merge topology, just with auditable
    registers."""
    (orders,) = load(spark, sf_dir, "orders")
    m, rb = _HLL_M, _HLL_REM_BITS
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll-v1:"), F.col("o_custkey").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    d = orders.select("o_orderpriority", "o_custkey").distinct()
    h = d.select("o_orderpriority", hv.alias("hv"))
    rem = F.expr(f"hv div {m}")
    rho = F.when(rem == 0, F.lit(rb + 1)).otherwise(
        F.lit(rb) - F.length(F.bin(rem)) + F.lit(1)
    )
    reg = (
        h.withColumn("bucket", F.col("hv") % m)
        .withColumn("rho", rho)
        .groupBy("o_orderpriority", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    fold = reg.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_rho"))).alias("z_hit"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    raw_est = (
        F.lit(alpha) * F.lit(float(m)) * F.lit(float(m))
        / (F.col("z_hit") + (F.lit(m) - F.col("n_hit")).cast("double"))
    )
    est = fold.withColumn("raw_est", raw_est)
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("n_hit")).cast("double"))
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        "n_exact",
        "n_hit",
        F.round(
            F.when(
                (F.col("raw_est") <= F.lit(2.5 * m)) & (F.col("n_hit") < m), lc
            ).otherwise(F.col("raw_est")),
            4,
        ).alias("est_hll"),
    )


# KMV MERGE — the property that makes sketches the 100 TB answer: per-group
# sketches union by keeping the k smallest of the combined hash sets, so a
# corpus-wide distinct estimate derives from the already-built group
# sketches WITHOUT rescanning the data. The merged k-th minimum here is
# provably identical to the k-th minimum computed directly over the union
# (any global top-k hash is inside its own group's top-k), and the driver
# hash-check proves it.
_KMV_MERGE_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
h AS (
  SELECT o_orderpriority,
    CAST(concat('0x',
      substr(md5(concat('kmv-v1:', CAST(o_custkey AS VARCHAR))), 1, 13)
    ) AS BIGINT) AS hv
  FROM d
),
grp_sk AS (
  SELECT o_orderpriority, hv FROM (
    SELECT o_orderpriority, hv,
      ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS rn
    FROM h
  ) WHERE rn <= {_KMV_K}
),
merged AS (
  SELECT hv FROM (
    SELECT DISTINCT hv FROM grp_sk ORDER BY hv LIMIT {_KMV_K}
  )
),
kth AS (
  SELECT MAX(hv) AS kth_hash, CAST(COUNT(*) AS BIGINT) AS k_kept FROM merged
),
exact AS (
  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact_union FROM orders
)
SELECT
  exact.n_exact_union,
  kth.k_kept,
  kth.kth_hash,
  ROUND(({_KMV_K} - 1.0e0) * {_KMV_DENOM!r} / CAST(kth.kth_hash AS DOUBLE), 4)
    AS est_union
FROM kth, exact
"""


@register("agg_kmv_merge", oracle=_KMV_MERGE_ORACLE, tags=("agg", "approx", "sketch"))
def agg_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide distinct estimate by MERGING the per-group KMV sketches:
    union the five per-priority k-min hash sets, dedup, keep the k smallest,
    estimate from the merged k-th minimum — no second scan of the data.

    Scale shape: the merge input is 5k hashes (group count x k), not the
    corpus; the global top-k plans as TakeOrderedAndProject (each partition
    forwards at most k rows to the driver-side take). Sketch merge is the
    operation that lets 1000 executors each sketch their shard and a
    coordinator fold the union — this query pins that algebra exactly."""
    (orders,) = load(spark, sf_dir, "orders")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv-v1:"), F.col("o_custkey").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    d = orders.select("o_orderpriority", "o_custkey").distinct()
    h = d.select("o_orderpriority", hv.alias("hv"))
    w = Window.partitionBy("o_orderpriority").orderBy("hv")
    grp_sk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("hv")
    )
    merged = grp_sk.distinct().orderBy("hv").limit(_KMV_K)
    kth = merged.agg(
        F.max("hv").alias("kth_hash"), F.count(F.lit(1)).cast("long").alias("k_kept")
    )
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact_union")
    )
    return kth.crossJoin(exact).select(
        "n_exact_union",
        "k_kept",
        "kth_hash",
        F.round(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_DENOM) / F.col("kth_hash").cast("double"),
            4,
        ).alias("est_union"),
    )


# Per-group mode (most frequent value) — the categorical summary statistic.
# Computed as count-per-value then max_by over a packed (count, tiebreak)
# key: one aggregation tree, no sort, deterministic under ties.
_MODE_ORACLE = """
WITH c AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
  FROM customer GROUP BY c_mktsegment, c_nationkey
)
SELECT
  c_mktsegment,
  ARG_MAX(c_nationkey, n * 1000 - c_nationkey) AS modal_nation,
  CAST(MAX(n) AS BIGINT) AS modal_count,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_values
FROM c
GROUP BY c_mktsegment
"""


@register("agg_mode", oracle=_MODE_ORACLE, tags=("agg", "stats"))
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal nation per market segment: value-grain counts, then max_by
    with a packed (count, -value) key so count ties break toward the
    smallest value identically on both engines.

    Scale shape: two aggregation levels, both map-side combined — the
    value grain is |segments| x |nations|, so the second level is
    near-free; no global sort, no window."""
    (cust,) = load(spark, sf_dir, "customer")
    c = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    key = F.col("n") * F.lit(1000) - F.col("c_nationkey")
    return c.groupBy("c_mktsegment").agg(
        F.max_by(F.col("c_nationkey"), key).alias("modal_nation"),
        F.max("n").cast("long").alias("modal_count"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_values"),
    )


# Gini concentration coefficient: how unevenly revenue distributes across
# customers within each nation — the inequality statistic behind
# "top-N% of keys hold M% of volume" capacity planning. Computed from the
# rank identity G = (2*sum(i*x_i) / (n*sum(x)) - (n+1)/n) over ascending
# per-customer totals; all sums accumulate in exact integer cents so only
# the final expression touches floating point.
_GINI_ORACLE = """
WITH per_cust AS (
  SELECT c_nationkey, o_custkey,
    SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
),
ranked AS (
  SELECT c_nationkey, cents,
    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY cents, o_custkey) AS i
  FROM per_cust
)
SELECT
  c_nationkey,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(cents) AS BIGINT) AS total_cents,
  ROUND(
    2.0e0 * SUM(i * cents) / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))
    - (COUNT(*) + 1.0e0) / COUNT(*), 6) AS gini
FROM ranked
GROUP BY c_nationkey
"""


@register("agg_gini_concentration", oracle=_GINI_ORACLE, tags=("agg", "stats"))
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer revenue: per-customer exact
    cent totals, ascending rank within nation (ties broken by key), the
    rank-weighted identity folded in one aggregate.

    Scale shape: the customer totals and the final fold share the
    nation-key partitioning; the rank window and groupBy reuse one
    shuffle. sum(i * cents) stays in int64 far beyond fixture scale; the
    two divisions at the end are computed from exact integers, so both
    engines emit identical doubles."""
    orders, cust = load(spark, sf_dir, "orders", "customer")
    per_cust = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = per_cust.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    return ranked.groupBy("c_nationkey").agg(
        n.cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("cents"))
            / (n * F.sum("cents").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Bottom-k hash-sample quantile sketch: deterministic sampled quantiles with
# the exact value alongside (the "approximation without irreproducibility"
# stance applied to quantiles — KMV's bottom-k idea reused as a uniform
# row sample).
# ---------------------------------------------------------------------------

_BOTTOMK_Q_ORACLE = """
WITH keyed AS (
  SELECT
    l_returnflag,
    CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS price_q,
    MD5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS h
  FROM lineitem
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h, price_q) AS rn
  FROM keyed
),
est AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(price_q, 0.5) / 100.0, 4) AS est_median,
         ROUND(quantile_cont(price_q, 0.95) / 100.0, 4) AS est_p95,
         CAST(COUNT(*) AS BIGINT) AS sample_n
  FROM ranked WHERE rn <= 256 GROUP BY l_returnflag
),
exact AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(price_q, 0.5) / 100.0, 4) AS exact_median,
         ROUND(quantile_cont(price_q, 0.95) / 100.0, 4) AS exact_p95,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM keyed GROUP BY l_returnflag
)
SELECT e.l_returnflag, e.sample_n, x.n, e.est_median, x.exact_median,
       e.est_p95, x.exact_p95
FROM est e JOIN exact x ON x.l_returnflag = e.l_returnflag
"""


@register("agg_bottomk_quantile_sketch", oracle=_BOTTOMK_Q_ORACLE, tags=("agg", "approx", "sketch"))
def agg_bottomk_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled quantiles from a DETERMINISTIC uniform sample: per group,
    keep the 256 rows with the smallest md5(row-key) — a mergeable bottom-k
    (each partition keeps its local bottom-256; merge keeps the global
    bottom-256, exactly the KMV algebra), so unlike reservoir sampling the
    sample is identical on any cluster topology, and the estimate is
    reproducible run-over-run. Exact quantiles computed alongside give the
    audit column a production sketch would log.

    The rank<=k filter plans as WindowGroupLimit (partial bottom-k per
    partition before the group shuffle — plan-gated); the row-key hash
    collides across the fixture's duplicated (orderkey, linenumber) rows,
    so price_q joins the sort key to keep tied rows interchangeable."""
    (li,) = load(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_returnflag",
        quant("l_extendedprice", 2).alias("price_q"),
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"), F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("h"),
    )
    w = Window.partitionBy("l_returnflag").orderBy("h", "price_q")
    est = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 256)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(price_q, 0.5)") / 100.0, 4).alias("est_median"),
            F.round(F.expr("percentile(price_q, 0.95)") / 100.0, 4).alias("est_p95"),
            F.count(F.lit(1)).alias("sample_n"),
        )
    )
    exact = keyed.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(price_q, 0.5)") / 100.0, 4).alias("exact_median"),
        F.round(F.expr("percentile(price_q, 0.95)") / 100.0, 4).alias("exact_p95"),
        F.count(F.lit(1)).alias("n"),
    )
    return est.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag", "sample_n", "n", "est_median", "exact_median",
        "est_p95", "exact_p95",
    )


_KANON_ORACLE = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT
  CAST(5 AS BIGINT) AS k,
  CAST(COUNT(*) AS BIGINT) AS n_classes,
  CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes,
  CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
  CAST(MIN(class_size) AS BIGINT) AS min_class_size,
  CAST(10000 * SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
       // SUM(class_size) AS BIGINT) AS risk_bp
FROM classes
"""


@register("stats_kanonymity_audit", oracle=_KANON_ORACLE, tags=("stats", "privacy"))
def stats_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-identifier
    pair: how many equivalence classes fall below k=5, how many rows they
    expose, and the at-risk fraction in integer basis points — the
    release-gating check a privacy review runs before exporting user-level
    aggregates or training data.

    Two map-side-combinable aggregates back to back (rows -> classes ->
    one audit row); the second input is |distinct QI combos| rows, so the
    final reduce is trivially small at any corpus size. Integer-only output
    (``10000 * risk div total``) keeps both engines bit-identical.
    """
    (cust,) = load(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    risky = F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(F.lit(0))
    return classes.agg(
        F.lit(5).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum((F.col("class_size") < 5).cast("long")).cast("long").alias("n_risky_classes"),
        F.sum(risky).cast("long").alias("n_rows_at_risk"),
        F.min("class_size").cast("long").alias("min_class_size"),
        F.expr(
            "CAST(10000 * SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)"
            " div SUM(class_size) AS BIGINT)"
        ).alias("risk_bp"),
    )


_HISTOGRAM_ORACLE = """
WITH q AS (
  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_c FROM orders
),
b AS (
  SELECT CAST(MIN(price_c) AS BIGINT) AS lo, CAST(MAX(price_c) AS BIGINT) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n FROM q
),
binned AS (
  SELECT
    CAST(LEAST(9, (q.price_c - b.lo) * 10 // (b.hi - b.lo + 1)) AS BIGINT) AS bucket,
    q.price_c, b.n
  FROM q CROSS JOIN b
)
SELECT
  bucket,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MIN(price_c) AS BIGINT) AS min_c,
  CAST(MAX(price_c) AS BIGINT) AS max_c,
  CAST(10000 * COUNT(*) // ANY_VALUE(n) AS BIGINT) AS share_bp
FROM binned
GROUP BY bucket
"""


@register("stats_histogram_profile", oracle=_HISTOGRAM_ORACLE, tags=("stats", "profiling"))
def stats_histogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram profile of order totals: 10 integer-cent bins
    between the global min and max, with per-bin counts, observed bounds,
    and share in basis points — the column-profiling step a data-quality
    service runs on every numeric column at ingest.

    Two passes, both linear: a 1-row min/max/count aggregate that
    BROADCASTS back into a scan-speed binning projection (``(x-lo)*10 div
    (hi-lo+1)``, pure int64 — identical in both engines, no float bin
    boundaries to disagree over), then a 10-group aggregate. At 100 TB
    this is exactly the two-scan histogram a warehouse profiler runs;
    nothing driver-side, no sort.
    """
    (orders,) = load(spark, sf_dir, "orders")
    q = orders.select(F.round(F.col("o_totalprice") * 100.0).cast("long").alias("price_c"))
    b = q.agg(
        F.min("price_c").alias("lo"),
        F.max("price_c").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binned = q.crossJoin(F.broadcast(b)).select(
        F.least(
            F.lit(9), F.expr("(price_c - lo) * 10 div (hi - lo + 1)")
        ).cast("long").alias("bucket"),
        "price_c",
        "n",
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("price_c").cast("long").alias("min_c"),
        F.max("price_c").cast("long").alias("max_c"),
        F.expr("CAST(10000 * COUNT(*) div ANY_VALUE(n) AS BIGINT)").alias("share_bp"),
    )


# Lorenz curve / power-user concentration (r5): the decile-resolved
# companion of agg_gini_concentration — "the top decile of users drives M%
# of purchase revenue". Per-user totals accumulate in exact integer cents;
# decile shares and the cumulative curve are integer basis points (10000 *
# cents div total), so every emitted number is a BIGINT and the hash cannot
# drift with summation order. The decile runs over |users| rows (post-
# aggregate grain, bounded by distinct purchasers, never event volume) with
# a unique (cents, user_id) total order so tile assignment is deterministic;
# the oracle keeps plain NTILE(10) while the Spark side uses the
# distributed_ntile rank (no single-partition user-grain window).
_LORENZ_ORACLE = """
WITH per_user AS (
  SELECT user_id,
    SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS cents
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY user_id
),
tiled AS (
  SELECT user_id, cents,
    NTILE(10) OVER (ORDER BY cents, user_id) AS decile
  FROM per_user
),
per_decile AS (
  SELECT decile,
    CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(SUM(cents) AS BIGINT) AS revenue_cents
  FROM tiled
  GROUP BY decile
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM per_user)
SELECT
  CAST(decile AS BIGINT) AS decile,
  n_users,
  revenue_cents,
  CAST(revenue_cents * 10000 // total AS BIGINT) AS share_bp,
  CAST(SUM(revenue_cents * 10000 // total)
       OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_share_bp
FROM per_decile CROSS JOIN tot
"""


@register("events_lorenz_curve", oracle=_LORENZ_ORACLE, tags=("events", "stats"))
def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Lorenz) curve over purchasers: users ranked by
    purchase revenue, cut into deciles, each decile's share of total revenue
    plus the cumulative curve — the "whales" diagnostic behind sampling /
    capacity decisions, and the decile-resolved complement of
    ``agg_gini_concentration``.

    Scale shape: events collapse to per-user cents in one map-side-combinable
    aggregate, so the only data-sized shuffle is user-grain. The decile
    comes from ``distributed_ntile`` (range-repartitioned rank + integer
    NTILE arithmetic — no single-partition window at user grain); the
    10-row cumulative window runs post-aggregate at decile grain, and the
    1-row grand total broadcasts. All shares are integer basis points
    (exact int division), so output is pure BIGINT."""
    from ..operators.sampling import distributed_ntile

    (events,) = load(spark, sf_dir, "events")
    per_user = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("cents"))
        .localCheckpoint(eager=True)
    )
    tiled = distributed_ntile(per_user, 10, "cents", "user_id", out_col="decile")
    per_decile = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    tot = per_user.agg(F.sum("cents").cast("long").alias("total"))
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    share = F.expr("revenue_cents * 10000 div total")
    return per_decile.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("long").alias("decile"),
        "n_users",
        "revenue_cents",
        share.cast("long").alias("share_bp"),
        F.sum(share).over(cum).cast("long").alias("cum_share_bp"),
    )


# Benford first-digit audit (r5): fabricated or systematically-corrupted
# numeric columns deviate from Benford's law (P(d) = log10(1 + 1/d)); the
# fraud/data-quality screen that costs one scan. The leading digit is taken
# from the exact integer cents via BIGINT->string (engine-safe — no float
# log10 at power-of-ten boundaries); expected shares are computed by the
# SAME ROUND(LOG10(..)*10000) expression on both engines over constant
# rationals, so every emitted number is an exact integer.
_BENFORD_ORACLE = """
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders
  WHERE o_totalprice > 0
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM c
),
obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_rows FROM d GROUP BY digit
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n FROM obs)
SELECT
  digit,
  n_rows,
  CAST(n_rows * 10000 // n AS BIGINT) AS share_bp,
  CAST(ROUND(LOG10(1.0 + 1.0 / digit) * 10000) AS BIGINT) AS benford_bp,
  CAST(n_rows * 10000 // n
       - CAST(ROUND(LOG10(1.0 + 1.0 / digit) * 10000) AS BIGINT) AS BIGINT) AS delta_bp
FROM obs CROSS JOIN tot
"""


@register("stats_benford_audit", oracle=_BENFORD_ORACLE, tags=("stats", "quality"))
def stats_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed leading-
    digit shares vs the log10(1+1/d) expectation, per digit, in integer
    basis points — the one-scan anomaly screen for fabricated amounts,
    unit-mixups, or truncated feeds (a synthetic uniform fixture shows the
    signature heavy-1 deficit immediately).

    Scale shape: leading digit extracted from exact integer cents (BIGINT
    string, no float log at boundaries) in the scan projection; one 9-key
    map-side-combinable aggregate; the grand total is a 1-row broadcast.
    Expected shares evaluate the identical ROUND(LOG10) expression on both
    engines over constants, so output is all-BIGINT."""
    (orders,) = load(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100.0).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    tot = obs.agg(F.sum("n_rows").cast("long").alias("n"))
    benford = F.round(F.log10(1.0 + 1.0 / F.col("digit")) * 10000).cast("long")
    share = F.expr("CAST(n_rows * 10000 div n AS BIGINT)")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_rows",
        share.alias("share_bp"),
        benford.alias("benford_bp"),
        (share - benford).cast("long").alias("delta_bp"),
    )


# Theta-sketch intersection (r5): the set-ALGEBRA step that makes KMV/theta
# sketches more than distinct counters — estimate |A n B| for every group
# pair from the k-minimum-value registers alone (Dasgupta et al., the
# DataSketches theta model): theta = min(theta_A, theta_B), matches =
# common register hashes below theta, est = matches * 2^52 / theta. At
# 100 TB the sketches are the only thing that moves — k hashes per group —
# while the exact-intersection audit column here quantifies the error.
_KMV_INT_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
h AS (
  SELECT o_orderpriority,
    CAST(concat('0x',
      substr(md5(concat('kmv-v1:', CAST(o_custkey AS VARCHAR))), 1, 13)
    ) AS BIGINT) AS hv
  FROM d
),
r AS (
  SELECT o_orderpriority, hv,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT o_orderpriority, hv FROM r WHERE rn <= {_KMV_K}),
theta AS (
  SELECT o_orderpriority, CAST(MAX(hv) AS BIGINT) AS th
  FROM sk GROUP BY o_orderpriority
),
common AS (
  SELECT a.o_orderpriority AS grp_a, b.o_orderpriority AS grp_b,
    CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sk a
  JOIN sk b ON a.hv = b.hv AND a.o_orderpriority < b.o_orderpriority
  JOIN theta ta ON ta.o_orderpriority = a.o_orderpriority
  JOIN theta tb ON tb.o_orderpriority = b.o_orderpriority
  WHERE a.hv < LEAST(ta.th, tb.th)
  GROUP BY a.o_orderpriority, b.o_orderpriority
),
pairs AS (
  SELECT ta.o_orderpriority AS grp_a, tb.o_orderpriority AS grp_b,
    LEAST(ta.th, tb.th) AS min_th
  FROM theta ta JOIN theta tb ON ta.o_orderpriority < tb.o_orderpriority
),
exact AS (
  SELECT a.o_orderpriority AS grp_a, b.o_orderpriority AS grp_b,
    CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM d a JOIN d b
    ON a.o_custkey = b.o_custkey AND a.o_orderpriority < b.o_orderpriority
  GROUP BY a.o_orderpriority, b.o_orderpriority
)
SELECT
  p.grp_a, p.grp_b,
  COALESCE(e.n_exact, CAST(0 AS BIGINT)) AS n_exact,
  COALESCE(c.n_common, CAST(0 AS BIGINT)) AS n_common,
  ROUND(COALESCE(c.n_common, 0) * {_KMV_DENOM!r} / CAST(p.min_th AS DOUBLE), 4)
    AS est_intersection
FROM pairs p
LEFT JOIN common c ON c.grp_a = p.grp_a AND c.grp_b = p.grp_b
LEFT JOIN exact e ON e.grp_a = p.grp_a AND e.grp_b = p.grp_b
"""


@register("agg_kmv_intersection", oracle=_KMV_INT_ORACLE, tags=("agg", "approx", "sketch"))
def agg_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise set-intersection estimates from KMV/theta sketches: for
    every priority-group pair, |A n B| is estimated purely from the two
    k=64 minimum-hash registers (theta = min of the two k-th hashes,
    matching register hashes below theta scaled by 2^52/theta) and audited
    against the exact intersection — the sketch-algebra primitive that
    answers "how much do these corpora overlap" without comoving the data.

    Scale shape: registers are WindowGroupLimit-bounded (k hashes per
    group forwarded from each map task); everything after the sketch build
    runs at k x |groups| grain — the pair join is over 64-row sketches,
    never members. The exact audit column is fixture-affordable; at 100 TB
    it drops and the sketches alone ship. All join keys are 52-bit
    hashes; output counts BIGINT, estimate rounded 4 dp identically."""
    (orders,) = load(spark, sf_dir, "orders")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv-v1:"), F.col("o_custkey").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    d = orders.select("o_orderpriority", "o_custkey").distinct()
    h = d.select("o_orderpriority", hv.alias("hv"))
    w = Window.partitionBy("o_orderpriority").orderBy("hv")
    sk = h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KMV_K)
    theta = sk.groupBy("o_orderpriority").agg(F.max("hv").cast("long").alias("th"))
    ta = theta.select(F.col("o_orderpriority").alias("grp_a"), F.col("th").alias("th_a"))
    tb = theta.select(F.col("o_orderpriority").alias("grp_b"), F.col("th").alias("th_b"))
    pairs = ta.join(tb, F.col("grp_a") < F.col("grp_b")).select(
        "grp_a", "grp_b", F.least("th_a", "th_b").alias("min_th")
    )
    sa = sk.select(F.col("o_orderpriority").alias("grp_a"), "hv")
    sb = sk.select(F.col("o_orderpriority").alias("grp_b"), F.col("hv").alias("hv_b"))
    common = (
        sa.join(sb, (F.col("hv") == F.col("hv_b")) & (F.col("grp_a") < F.col("grp_b")))
        .join(ta, "grp_a")
        .join(tb, "grp_b")
        .where(F.col("hv") < F.least("th_a", "th_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    da = d.select(F.col("o_orderpriority").alias("grp_a"), "o_custkey")
    db = d.select(F.col("o_orderpriority").alias("grp_b"), F.col("o_custkey").alias("ck_b"))
    exact = (
        da.join(db, (F.col("o_custkey") == F.col("ck_b")) & (F.col("grp_a") < F.col("grp_b")))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return (
        pairs.join(common, ["grp_a", "grp_b"], "left")
        .join(exact, ["grp_a", "grp_b"], "left")
        .select(
            "grp_a",
            "grp_b",
            F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
            F.coalesce("n_common", F.lit(0).cast("long")).alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0)).cast("double")
                * F.lit(_KMV_DENOM)
                / F.col("min_th").cast("double"),
                4,
            ).alias("est_intersection"),
        )
    )


# PSI drift monitor (r6): the Population Stability Index — THE standard
# production screen for "has this feature's distribution moved since the
# model was trained". Bins are the BASELINE period's deciles; both periods
# are counted into those fixed bins; psi_term = (p - q) * ln(p / q) with
# add-one smoothing so empty bins stay finite. Decile boundaries come from
# the distributed NTILE (range-repartitioned rank — never a global
# one-task window); the oracle replays them with plain NTILE(10). The ln
# is quantized to integer micro-nats (ROUND(LN(..)*1e6) — the langid/PMI
# determinism convention), shares to integer basis points, so every output
# is BIGINT.
_PSI_ORACLE = """
WITH c AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
    o_orderdate < TIMESTAMP '1998-01-01' AS is_base
  FROM orders
),
base AS (SELECT * FROM c WHERE is_base),
tiled AS (
  SELECT cents, NTILE(10) OVER (ORDER BY cents, o_orderkey) AS tile FROM base
),
bounds AS (
  SELECT LIST(ub ORDER BY ub) AS bs
  FROM (SELECT MAX(cents) AS ub FROM tiled WHERE tile <= 9 GROUP BY tile)
),
binned AS (
  SELECT is_base,
    1 + LEN(LIST_FILTER(bounds.bs, b -> c.cents > b)) AS bin
  FROM c CROSS JOIN bounds
),
cnt AS (
  SELECT bin,
    CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
    CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS tb, CAST(SUM(n_cur) AS BIGINT) AS tc
  FROM cnt
)
SELECT
  CAST(bin AS BIGINT) AS bin, n_base, n_cur,
  CAST(n_base * 10000 // tb AS BIGINT) AS base_bp,
  CAST(n_cur * 10000 // tc AS BIGINT) AS cur_bp,
  CAST(ROUND(
    (CAST(n_base + 1 AS DOUBLE) / (tb + 10) - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
    * CAST(ROUND(LN(
        (CAST(n_base + 1 AS DOUBLE) / (tb + 10))
        / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
      ) * 1000000.0) AS BIGINT) ) AS BIGINT) AS psi_term_micro
FROM cnt CROSS JOIN tot
"""


def ntile_end_ranks(n: int, k: int = 10) -> list[int]:
    """The 0-based global ranks of the last row of tiles 1..k-1 under
    ``NTILE(k)`` over n rows — ``t*(n div k) + least(t, n mod k) - 1`` —
    i.e. exactly where the k-1 equi-depth bin boundaries sit, so an
    oracle can keep its plain NTILE derivation. Empty when n = 0."""
    return sorted({t * (n // k) + min(t, n % k) - 1 for t in range(1, k)} - {-1})


def _orders_cents_cum(spark: SparkSession, sf_dir: str):
    """The SHARED baseline artifact of the numeric drift monitors: order
    totals collapsed to DISTINCT-VALUE grain (cents, n_base, n_cur) with
    exact distributed cumulative counts of both periods, plus the grand
    totals. One orders scan, one value-grain shuffle, one
    range-repartition + localCheckpoint — and ``cache_key`` makes that
    preamble a per-(session, corpus) fitted model, so ``stats_psi_drift``
    and ``stats_ks_drift`` (and repeated invocations of either — bench
    medians, driver retries) share ONE checkpoint pass instead of each
    paying a private one (VERDICT r7 what's-wrong #1). Totals ride out
    of the subtotal job for free (``return_totals``); the assembled
    (cum, totals) handle is itself cached per (session, corpus) so the
    warm path skips plan rebuild + analysis entirely (r10): rebuilding
    the value-grain plan and its semanticHash preamble key costs ~0.24 s
    of driver-side analysis per invocation. The handle is registered as
    ``cents_cum``; its build fetches the ``order_preamble`` checkpoint,
    so invalidating the preamble drops the handle with it."""
    return get("cents_cum", spark, (sf_dir,), lambda: _build_cents_cum(spark, sf_dir))


def _build_cents_cum(spark: SparkSession, sf_dir: str):
    from ..operators.sampling import distributed_prefix_sums

    (orders,) = load(spark, sf_dir, "orders")
    c = orders.select(
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).alias("is_base"),
    )
    v = c.groupBy("cents").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(F.col("is_base"), 0).otherwise(1)).cast("long").alias("n_cur"),
    )
    # num_partitions sizes the value-grain shuffle — 24 bytes/row, so
    # target ~128 MB per partition at the deployed scale; 8 suits the
    # fixture (fewer range-sampling + shuffle tasks, same exactness)
    cum, (tb, tc) = distributed_prefix_sums(
        v,
        "cents",
        "cents",
        ["n_base", "n_cur"],
        num_partitions=8,
        cache_key=(spark.sparkContext.applicationId, sf_dir, "orders-cents"),
        return_totals=True,
    )
    return cum, int(tb), int(tc)


def psi_bounds_cached(spark: SparkSession, sf_dir: str) -> list:
    """Fit (or fetch) the frozen PSI baseline binner: the 9 decile
    boundaries over the baseline period, derived from the shared
    ``_orders_cents_cum`` artifact (built here if cold). This is the
    drift tier's whole preamble — cumulative artifact + binner — exposed
    as one callable so bench.py can time it as its own
    ``drift_preamble_build`` line (VERDICT r9 task 8, the
    ``lsh_index_build`` convention) and the psi/ks entries measure
    warm-marginal monitoring cost.

    The boundaries are O(9) driver longs, frozen per (session, corpus)
    the way production PSI freezes its baseline bin edges when the
    monitor is commissioned; a warm invocation pulls no boundary row.
    The build fetches ``_orders_cents_cum`` through the registry (a hit
    when the caller already holds it), so the binner is recorded as
    built from that handle."""

    def build() -> list:
        cum, tb, _tc = _orders_cents_cum(spark, sf_dir)
        ranks = ntile_end_ranks(tb, 10)
        brow = (
            cum.agg(
                *[
                    F.min(F.when(F.col("n_base_cum") >= r + 1, F.col("cents"))).alias(
                        f"b{i}"
                    )
                    for i, r in enumerate(ranks)
                ]
            ).collect()[0]
            if ranks
            else []
        )
        return sorted(v for v in brow if v is not None)

    return get("psi_bounds", spark, (sf_dir,), build)


@register("stats_psi_drift", oracle=_PSI_ORACLE, tags=("stats", "quality", "drift"))
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index over order totals: baseline (pre-1998)
    decile bins, both periods counted into them, per-bin smoothed
    (p - q) * ln(p / q) drift terms in integer micro-nat scale — sum the
    column and compare against the classic 0.1 / 0.25 thresholds. The
    drift screen that gates model retraining in production scoring
    pipelines; complements stats_chi2_drift (category shift) with a
    numeric-distribution monitor.

    Scale shape: everything runs at DISTINCT-VALUE grain off the shared
    ``_orders_cents_cum`` artifact (one orders scan + one value-grain
    shuffle + one range-repartitioned checkpoint, shared with
    ``stats_ks_drift`` and across invocations). The 9 decile boundaries
    are derived from the cumulative baseline counts — the boundary at
    NTILE-end rank r is MIN(cents | n_base_cum >= r+1), provably the
    same value as the rank-r order statistic over (cents, o_orderkey)
    (the tiebreak only permutes rows WITHIN one cents value), so the
    oracle keeps its plain NTILE(10) derivation — fetched as ONE 9-column
    aggregate row (O(model) driver state, the centroid-pull legitimacy
    class). Bin counts then roll up the value-grain n_base/n_cur columns
    weighted into bins — the 10-bin shuffle is the only post-fit
    exchange, and the full-row orders rescan of the r6 shape is gone.
    Grand totals are driver literals from the shared subtotal job.
    The fitted decile boundaries are cached per (session, corpus)
    (``psi_bounds_cached`` — a commissioned monitor freezes its baseline
    bin edges), so a warm invocation runs ONE job: the bin rollup.
    Micro-nat ln quantization keeps every output BIGINT."""
    cum, tb, tc = _orders_cents_cum(spark, sf_dir)
    bs = psi_bounds_cached(spark, sf_dir)
    cnt = (
        cum.select(
            (
                1
                + F.size(
                    F.filter(
                        F.array(*[F.lit(b).cast("long") for b in bs]),
                        lambda b: F.col("cents") > b,
                    )
                )
            ).alias("bin"),
            "n_base",
            "n_cur",
        )
        .groupBy("bin")
        .agg(
            F.sum("n_base").cast("long").alias("n_base"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
    )
    p = (F.col("n_base") + 1).cast("double") / F.lit(tb + 10)
    q = (F.col("n_cur") + 1).cast("double") / F.lit(tc + 10)
    ln_q = F.round(F.log(p / q) * 1000000.0).cast("long")
    return cnt.select(
        F.col("bin").cast("long").alias("bin"),
        "n_base",
        "n_cur",
        F.expr(f"CAST(n_base * 10000 div {tb} AS BIGINT)").alias("base_bp"),
        F.expr(f"CAST(n_cur * 10000 div {tc} AS BIGINT)").alias("cur_bp"),
        F.round((p - q) * ln_q).cast("long").alias("psi_term_micro"),
    )


# Two-sample Kolmogorov-Smirnov drift (r7): the distribution-free
# companion to stats_psi_drift — D = max_x |ECDF_base(x) - ECDF_cur(x)|,
# evaluated at every distinct value (where the max is always attained).
# Cumulative counts come from the distributed prefix sum (range
# repartition + per-partition subtotals + pid-local window — never a
# single-partition ORDER BY window); the ECDF difference is compared via
# BIGINT cross-multiplication |cb*tc - cc*tb| (exact — no float ECDFs),
# with D itself quantized to integer micro units only at the end.
_KS_ORACLE = """
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
    o_orderdate < TIMESTAMP '1998-01-01' AS is_base
  FROM orders
),
v AS (
  SELECT cents,
    CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
    CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM c GROUP BY cents
),
cum AS (
  SELECT cents,
    CAST(SUM(n_base) OVER (ORDER BY cents) AS BIGINT) AS cb,
    CAST(SUM(n_cur) OVER (ORDER BY cents) AS BIGINT) AS cc
  FROM v
),
tot AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS tb, CAST(SUM(n_cur) AS BIGINT) AS tc
  FROM v
),
d AS (
  SELECT cents, CAST(ABS(cb * tc - cc * tb) AS BIGINT) AS num
  FROM cum CROSS JOIN tot
),
m AS (SELECT MAX(num) AS ks_num FROM d)
SELECT tb, tc, ks_num,
  (SELECT MIN(cents) FROM d WHERE num = m.ks_num) AS ks_at_cents,
  CAST(ROUND(ks_num / tb / tc * 1000000.0) AS BIGINT) AS ks_d_micro
FROM m CROSS JOIN tot
"""


@register("stats_ks_drift", oracle=_KS_ORACLE, tags=("stats", "quality", "drift"))
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the baseline
    (pre-1998) and current order-total distributions: D = sup over x of
    |ECDF_base(x) - ECDF_cur(x)|, the distribution-free drift test that
    complements stats_psi_drift (PSI needs binning; KS sees any shape
    change). Output: one row with both sample sizes, the exact integer
    numerator max|cb*tc - cc*tb|, the (smallest) cents value attaining
    it, and D in integer micro units.

    Scale shape: runs entirely off the shared ``_orders_cents_cum``
    artifact (one orders scan, one value-grain shuffle, one
    range-repartitioned checkpoint — shared with ``stats_psi_drift`` and
    across invocations via the session-keyed preamble cache;
    ``distributed_prefix_sums`` supplies both cumulative series with
    O(partitions) driver subtotals and pid-local windows, never a
    single-partition window). Grand totals fall out of the shared
    subtotal job as driver literals — no separate counting aggregate.
    The ECDF comparison is exact BIGINT cross-multiplication — no float
    ECDF on either engine; fixture products peak ~2e10, far under the
    9.2e18 BIGINT ceiling (past ~3e9 rows per side the numerator column
    would switch to DOUBLE; D itself is already the double). The final
    max is a 1-row full aggregate with map-side partials; the argmax
    re-scan reads the same checkpointed ranged frame."""
    cum, tb, tc = _orders_cents_cum(spark, sf_dir)
    d = cum.select(
        "cents",
        F.abs(F.col("n_base_cum") * F.lit(tc) - F.col("n_cur_cum") * F.lit(tb))
        .cast("long")
        .alias("num"),
    )
    m = d.agg(F.max("num").alias("ks_num"))
    arg = (
        d.join(F.broadcast(m), d["num"] == F.col("ks_num"))
        .agg(F.min("cents").alias("ks_at_cents"))
    )
    return m.crossJoin(F.broadcast(arg)).select(
        F.lit(tb).cast("long").alias("tb"),
        F.lit(tc).cast("long").alias("tc"),
        "ks_num",
        "ks_at_cents",
        F.round(
            F.col("ks_num") / F.lit(tb) / F.lit(tc) * F.lit(1000000.0)
        ).cast("long").alias("ks_d_micro"),
    )


# Theta-sketch union / difference (r6): completes the sketch set algebra
# started by agg_kmv_intersection — |A u B| and |A \ B| estimated from the
# same k=64 minimum-hash registers. Under the pair threshold
# theta = least(th_a, th_b), sk_x holds EVERY x-hash below theta (th_x is
# the k-th smallest of x), so "register below theta absent from the other
# sketch" IS the theta-sketch A-not-B, and distinct registers below theta
# across both sketches give the union estimate — both scaled by
# 2^52/theta. Exact audit columns ride along at fixture scale.
_KMV_DIFF_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT o_orderpriority, o_custkey FROM orders
),
h AS (
  SELECT o_orderpriority,
    CAST(concat('0x',
      substr(md5(concat('kmv-v1:', CAST(o_custkey AS VARCHAR))), 1, 13)
    ) AS BIGINT) AS hv
  FROM d
),
r AS (
  SELECT o_orderpriority, hv,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT o_orderpriority, hv FROM r WHERE rn <= {_KMV_K}),
theta AS (
  SELECT o_orderpriority, CAST(MAX(hv) AS BIGINT) AS th
  FROM sk GROUP BY o_orderpriority
),
pairs AS (
  SELECT ta.o_orderpriority AS grp_a, tb.o_orderpriority AS grp_b,
    LEAST(ta.th, tb.th) AS min_th
  FROM theta ta JOIN theta tb ON ta.o_orderpriority < tb.o_orderpriority
),
uni AS (
  SELECT p.grp_a, p.grp_b, CAST(COUNT(DISTINCT s.hv) AS BIGINT) AS n_union_reg
  FROM pairs p
  JOIN sk s ON s.o_orderpriority IN (p.grp_a, p.grp_b) AND s.hv < p.min_th
  GROUP BY p.grp_a, p.grp_b
),
anotb AS (
  SELECT p.grp_a, p.grp_b, CAST(COUNT(*) AS BIGINT) AS n_anotb_reg
  FROM pairs p
  JOIN sk a ON a.o_orderpriority = p.grp_a AND a.hv < p.min_th
  WHERE NOT EXISTS (
    SELECT 1 FROM sk b WHERE b.o_orderpriority = p.grp_b AND b.hv = a.hv
  )
  GROUP BY p.grp_a, p.grp_b
),
gc AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY o_orderpriority
),
ex_int AS (
  SELECT a.o_orderpriority AS grp_a, b.o_orderpriority AS grp_b,
    CAST(COUNT(*) AS BIGINT) AS n_int
  FROM d a JOIN d b
    ON a.o_custkey = b.o_custkey AND a.o_orderpriority < b.o_orderpriority
  GROUP BY 1, 2
)
SELECT
  p.grp_a, p.grp_b,
  ga.n + gb.n - COALESCE(e.n_int, 0) AS n_exact_union,
  ga.n - COALESCE(e.n_int, 0) AS n_exact_anotb,
  COALESCE(u.n_union_reg, CAST(0 AS BIGINT)) AS n_union_reg,
  COALESCE(x.n_anotb_reg, CAST(0 AS BIGINT)) AS n_anotb_reg,
  ROUND(COALESCE(u.n_union_reg, 0) * {_KMV_DENOM!r} / CAST(p.min_th AS DOUBLE), 4)
    AS est_union,
  ROUND(COALESCE(x.n_anotb_reg, 0) * {_KMV_DENOM!r} / CAST(p.min_th AS DOUBLE), 4)
    AS est_anotb
FROM pairs p
JOIN gc ga ON ga.o_orderpriority = p.grp_a
JOIN gc gb ON gb.o_orderpriority = p.grp_b
LEFT JOIN uni u ON u.grp_a = p.grp_a AND u.grp_b = p.grp_b
LEFT JOIN anotb x ON x.grp_a = p.grp_a AND x.grp_b = p.grp_b
LEFT JOIN ex_int e ON e.grp_a = p.grp_a AND e.grp_b = p.grp_b
"""


@register("agg_theta_difference", oracle=_KMV_DIFF_ORACLE, tags=("agg", "approx", "sketch"))
def agg_theta_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch union and A-not-B estimates for every priority-group
    pair, from the k=64 minimum-hash registers alone, with exact audit
    columns — together with agg_kmv_intersection this closes the sketch
    set algebra (union / intersect / difference), the primitive behind
    "how many NEW users did this source add" at 100 TB without comoving
    members.

    Scale shape: the register build is the same WindowGroupLimit-bounded
    k-per-group pass the other sketch queries share; union counting and
    the A-not-B anti-join run at k x |group-pairs| grain (64-row sketch
    frames, never member sets). Exact audits are fixture-affordable and
    drop at scale. Estimates scale registers by 2^52/theta, rounded 4 dp
    identically on both engines."""
    (orders,) = load(spark, sf_dir, "orders")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv-v1:"), F.col("o_custkey").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    d = orders.select("o_orderpriority", "o_custkey").distinct()
    h = d.select("o_orderpriority", hv.alias("hv"))
    w = Window.partitionBy("o_orderpriority").orderBy("hv")
    sk = h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KMV_K)
    theta = sk.groupBy("o_orderpriority").agg(F.max("hv").cast("long").alias("th"))
    ta = theta.select(F.col("o_orderpriority").alias("grp_a"), F.col("th").alias("th_a"))
    tb = theta.select(F.col("o_orderpriority").alias("grp_b"), F.col("th").alias("th_b"))
    pairs = ta.join(tb, F.col("grp_a") < F.col("grp_b")).select(
        "grp_a", "grp_b", F.least("th_a", "th_b").alias("min_th")
    )
    sa = sk.select(F.col("o_orderpriority").alias("grp_a"), "hv")
    sb = sk.select(F.col("o_orderpriority").alias("grp_b"), F.col("hv").alias("hv_b"))
    # union registers: distinct hv below the pair threshold across both legs
    uni = (
        pairs.join(sa, "grp_a")
        .where(F.col("hv") < F.col("min_th"))
        .select("grp_a", "grp_b", "hv")
        .unionByName(
            pairs.join(
                sk.select(F.col("o_orderpriority").alias("grp_b"), "hv"), "grp_b"
            )
            .where(F.col("hv") < F.col("min_th"))
            .select("grp_a", "grp_b", "hv")
        )
        .distinct()
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_union_reg"))
    )
    # A-not-B registers: a-leg hashes below threshold absent from sketch B
    sb2 = sk.select(
        F.col("o_orderpriority").alias("grp_b2"), F.col("hv").alias("hv_b")
    )
    anotb = (
        pairs.join(sa, "grp_a")
        .where(F.col("hv") < F.col("min_th"))
        .withColumnRenamed("hv", "hv_a")
        .join(
            sb2,
            (F.col("hv_b") == F.col("hv_a")) & (F.col("grp_b2") == F.col("grp_b")),
            "left_anti",
        )
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_anotb_reg"))
    )
    gc = d.groupBy("o_orderpriority").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ga = gc.select(F.col("o_orderpriority").alias("grp_a"), F.col("n").alias("na"))
    gb = gc.select(F.col("o_orderpriority").alias("grp_b"), F.col("n").alias("nb"))
    da = d.select(F.col("o_orderpriority").alias("grp_a"), "o_custkey")
    db = d.select(F.col("o_orderpriority").alias("grp_b"), F.col("o_custkey").alias("ck_b"))
    ex_int = (
        da.join(db, (F.col("o_custkey") == F.col("ck_b")) & (F.col("grp_a") < F.col("grp_b")))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_int"))
    )
    est = lambda c: F.round(
        F.coalesce(c, F.lit(0)).cast("double") * F.lit(_KMV_DENOM) / F.col("min_th").cast("double"), 4
    )
    return (
        pairs.join(F.broadcast(ga), "grp_a")
        .join(F.broadcast(gb), "grp_b")
        .join(uni, ["grp_a", "grp_b"], "left")
        .join(anotb, ["grp_a", "grp_b"], "left")
        .join(ex_int, ["grp_a", "grp_b"], "left")
        .select(
            "grp_a",
            "grp_b",
            (F.col("na") + F.col("nb") - F.coalesce("n_int", F.lit(0))).cast("long").alias("n_exact_union"),
            (F.col("na") - F.coalesce("n_int", F.lit(0))).cast("long").alias("n_exact_anotb"),
            F.coalesce("n_union_reg", F.lit(0).cast("long")).alias("n_union_reg"),
            F.coalesce("n_anotb_reg", F.lit(0).cast("long")).alias("n_anotb_reg"),
            est(F.col("n_union_reg")).alias("est_union"),
            est(F.col("n_anotb_reg")).alias("est_anotb"),
        )
    )
