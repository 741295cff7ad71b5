"""Similarity search over embedding columns (array<float>) — driver-mandated
[X] tier (BASELINE.json north_star: "similarity search"; fixture
embeddings.parquet per TESTDATA.md).

Two tiers:
* brute_force_knn — exact cosine top-k. Query side broadcast, corpus
  streamed; per-group top-k via WindowGroupLimit (no global sort). This is
  the correctness baseline and is the right plan whenever |queries| is
  small enough to broadcast (the common batch-scoring shape).
* lsh_bucketed_knn — random-hyperplane LSH: corpus and queries bucketed by
  sign-pattern; candidates are same-bucket pairs (equi-join on bucket id),
  then exact re-rank. At 100 TB this replaces the |Q| x |C| expansion with
  |Q| x (bucket occupancy); probe multiple tables to trade recall/cost.

All vector math is JVM higher-order functions (zip_with + aggregate) over
doubles — no Python, no UDF.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .caching import get


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    """NULL (not NaN) when either vector has zero norm: 0/0 would yield
    NaN, and Spark orders NaN GREATER than every double — a single
    zero-norm junk row (padding, failed embedding) would otherwise rank as
    the #1 neighbor for every query under desc(cosine). NULLs sort LAST
    under desc, so degenerate vectors fall out of every top-k instead."""
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom > 0, dot_expr(a, b) / denom)


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x streamed corpus.

    Output: (query_id, neighbor_id, cosine, rank). Deterministic tiebreak on
    neighbor id. The corpus side never shuffles — each task scores its
    corpus partition against all (broadcast) queries and keeps a local
    top-k via the window-limit rewrite.
    """
    qid = query_id_col or id_col
    # r13 (guide §2.3): norms are per-ROW invariants — computing
    # cosine_expr per pair folds each vector's self-dot |Q| (resp. |C|)
    # times. Factor them into the row projections, so the per-pair work
    # is ONE array fold (the cross dot) instead of three. The pair-side
    # expression multiplies the same two sqrt values in the same order
    # cosine_expr does (norm(qv) * norm(cv)), so every cosine — and
    # therefore every rank — is bit-identical.
    q = queries.select(
        F.col(qid).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("__qn", norm_expr(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("__cn", norm_expr(F.col("cv")))
    denom = F.col("__qn") * F.col("__cn")
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.when(denom > 0, dot_expr(F.col("qv"), F.col("cv")) / denom).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def spread_small_input(df: DataFrame, id_col: str) -> DataFrame:
    """Build wide: spread ``df`` across the session's cores when it has
    fewer partitions than that, else return it unchanged.

    CPU-heavy projections (hash chains, shingle explodes, outer
    products) ride their input's partitioning, and a small corpus (one
    parquet split) would run them on ONE core (r13, guide §2.5
    input-skew). The count is pinned (``repartition(n, col)``) because
    AQE's partition coalescing would otherwise fold a few-MB exchange
    right back to one partition. At scale the input already has >= cores
    partitions and no payload shuffle is introduced.

    This is the first half of the one width rule for resident frames:
    build wide here, then store narrow in :func:`checkpoint_index`."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(id_col))
    return df


# One slice of a resident frame. A Lloyd round's per-row argmin is ~2k
# fused interpreted ops per 0.5 KB row, so 256 KB is ~1M ops per task:
# above the task-scheduling floor, far below a scan split.
_BYTES_PER_SLICE = 256 * 1024


def checkpoint_index(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` for frames that outlive the query that built
    them (indexes, fit corpora, PQ codes). ``eager=False`` defers the
    materialization into the consumer's first action (one fewer
    synchronous driver job — right for per-probe query-batch prep, where
    the checkpoint exists only to truncate the literal-heavy builder
    plan, not to be shared across queries).

    The frame keeps the origin plan's Catalyst statistics but not its
    constraints. A plain localCheckpoint's ``LogicalRDD`` keeps both;
    when a LATER query equi-joins the checkpointed frame,
    ``InferFiltersFromConstraints`` can resurrect a constraint whose
    expression references the builder's (now nonexistent) scan
    attributes into the join condition — an executor-side
    ``INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND`` (observed on Spark 4.1 with
    the celled code join; the builder's ``bucket = argmax(...embedding...)``
    projection constraint leaked into the probe plan). The statistics
    let a small resident frame plan as a broadcast. The new
    ``LogicalRDD`` reuses the SAME materialized blocks — zero extra
    compute.

    Store narrow: an eager checkpoint is coalesced (no shuffle) to
    ``ceil(sizeInBytes / _BYTES_PER_SLICE)`` partitions when that is
    fewer than it has; it is never widened. Every job over the resident
    blocks (Lloyd rounds, band self-joins, verify joins, artifact
    writes) then runs tasks worth their scheduling floor, while the
    build itself kept its width (see :func:`spread_small_input`). The
    size is the Catalyst estimate, not block-manager bytes: the in-memory
    rows of array-heavy frames run an order of magnitude larger than
    the estimate and would leave small resident frames wide. A lazy
    checkpoint is not narrowed: coalescing it would run the build narrow
    too."""
    ck = df.localCheckpoint(eager=eager)
    spark = ck.sparkSession
    jvm = spark._jvm  # type: ignore[attr-defined]
    lp = ck._jdf.queryExecution().analyzed()
    stats = lp.stats()
    bare = lp.copy(
        lp.output(), lp.rdd(), lp.outputPartitioning(), lp.outputOrdering(),
        lp.isStreaming(), lp.stream(), spark._jsparkSession,  # type: ignore[attr-defined]
        jvm.scala.Option.apply(stats), jvm.scala.Option.empty(),
    ).newInstance()
    out = DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, bare),  # type: ignore[attr-defined]
        spark,
    )
    if eager:
        k = max(1, math.ceil(stats.sizeInBytes() / _BYTES_PER_SLICE))
        if k < lp.rdd().getNumPartitions():
            return out.coalesce(k)
    return out


def _dlit(x: float) -> str:
    """SQL double literal in exponent notation — Spark parses exponent
    form as DOUBLE (a bare ``0.1`` would be DECIMAL). Python's ``repr``
    is the SHORTEST text that round-trips the IEEE double bit-exactly
    (verified in tests/test_operators.py); a fixed 17-significant-digit
    format would also round-trip but can textually EXCEED Spark's
    decimal-range check at +-DBL_MAX (1.797...571e+308 > max double as
    decimal text -> INVALID_NUMERIC_LITERAL_RANGE)."""
    s = repr(float(x))
    return s if "e" in s else s + "e0"


def _vec_sql(vals) -> str:
    return "array(" + ",".join(_dlit(x) for x in vals) + ")"


def _mat_sql(cents) -> str:
    """One SQL string for a literal centroid matrix. Building the same
    matrix from nested ``F.array(F.lit(...))`` costs one py4j round trip
    PER SCALAR — ~1 s of driver time at k=16 x dim=64, which was most of
    the measured ann_pq_probe "constant" (VERDICT r6 task 6). A single
    ``F.expr`` parse of this string is one round trip total and yields a
    bit-identical literal tree."""
    return "array(" + ",".join(_vec_sql(c) for c in cents) + ")"


def _hyperplane(dim: int, plane_idx: int, n_planes_salt: int = 0) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a hash — no RNG
    state, reproducible across runs/executors."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{n_planes_salt}:{plane_idx}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
    return vals


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id for a vector against fixed hyperplanes."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = dot_expr(vec, F.expr(_vec_sql(p)))
        bucket = bucket + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return bucket


def lsh_bucketed_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 2,
    query_id_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets -> equi-join on
    (table_id, bucket) -> exact cosine re-rank within candidates.

    Recall grows with n_tables (independent plane sets, union of
    candidates). Output schema matches brute_force_knn.
    """
    qid = query_id_col or id_col
    # r13 (guide §2.3): per-row norms factored out of the candidate-pair
    # re-rank (the brute_force_knn treatment) — one array fold per pair
    # instead of three; same sqrt values multiplied in cosine_expr's
    # order, so every cosine and rank is bit-identical.
    q = queries.select(
        F.col(qid).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("__qn", norm_expr(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("__cn", norm_expr(F.col("cv")))

    def bucketed(df: DataFrame, vcol: str) -> DataFrame:
        rows = []
        for t in range(n_tables):
            planes = [_hyperplane(dim, i, t) for i in range(n_planes)]
            rows.append(
                F.struct(
                    F.lit(t).alias("table_id"),
                    lsh_bucket_expr(F.col(vcol), planes).alias("bucket"),
                )
            )
        return df.select("*", F.explode(F.array(*rows)).alias("tb")).select(
            *df.columns, "tb.table_id", "tb.bucket"
        )

    qb = bucketed(q, "qv")
    cb = bucketed(c, "cv")
    # Score at the join, THEN collapse multi-table duplicates on the narrow
    # (query_id, neighbor_id, cosine) shape. A distinct over rows still
    # carrying both vectors would shuffle ~1 KB/row of payload just to dedup
    # two ids; here the post-join shuffle is two longs + a double, and
    # map-side partial aggregation collapses most duplicates before the wire.
    pair_denom = F.col("__qn") * F.col("__cn")
    scored = (
        qb.join(cb, ["table_id", "bucket"])
        .select(
            "query_id",
            "neighbor_id",
            F.when(
                pair_denom > 0, dot_expr(F.col("qv"), F.col("cv")) / pair_denom
            ).alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _nearest_centroid_from_col(mat: Column, vec: Column) -> Column:
    """argmin_c ||v - c||^2 where the centroid matrix arrives as a COLUMN
    (array<array<double>>) instead of inlined literals — the grouped fit's
    per-cell model rides as data, one matrix per cell. Bit-parity with
    the literal form (:func:`_nearest_centroid_expr`): dot is the same
    left-fold zip_with; |c|^2/2 is the same left-fold sum (Python's sum()
    and F.aggregate both fold left) divided by 2.0; argmax tie-break
    unchanged."""
    scores = F.transform(
        mat,
        lambda c: dot_expr(vec, c)
        - F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x) / F.lit(2.0),
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _mean_expr(exact_mean: bool):
    """The per-component centroid-mean aggregate over a posexploded
    ``col``. ``exact_mean`` is the repo's integer-quantization convention:
    quantize each contribution to nano-units (``floor(x*1e9 + 0.5)``, a
    BIGINT), sum EXACTLY, then divide — two correctly-rounded IEEE ops on
    exactly-representable integers, replayable by any engine that sums
    the same integers. COUNT(1) matches the oracles' COUNT(*) even if a
    vector ever carried a NULL component (ADVICE r4)."""
    if exact_mean:
        return (
            F.sum(F.floor(F.col("col") * F.lit(1e9) + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
            / F.lit(1e9)
        ).alias("m")
    return F.avg("col").alias("m")


def _is_resident(df: DataFrame) -> bool:
    """Every leaf of ``df``'s analysed plan is the ``LogicalRDD`` of a
    materialized checkpoint: its rows are already resident blocks. (A
    frame made from local rows is a ``LogicalRDD`` too, not a checkpoint.)"""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return all(
        leaf.nodeName() == "LogicalRDD" and leaf.rdd().isCheckpointed()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
    )


def _fit_frame(df: DataFrame, *cols: Column) -> DataFrame:
    """The rows every Lloyd round reads: ``df`` projected to ``cols``
    (an ``id`` column among them). A resident input is fitted as it is;
    any other input is spread and checkpointed once, so the rounds read
    materialized blocks instead of re-planning the input per round."""
    v = df.select(*cols)
    return v if _is_resident(v) else checkpoint_index(spread_small_input(v, "id"))


def _seed_collect(v: DataFrame, n: int, group: str | None = None) -> dict:
    """The smallest-id seeds: the ``n`` smallest-id vectors of ``v``
    (columns ``id``, ``v``) in id order, in one collect — per value of
    ``group``, or under the key ``None`` when ungrouped."""
    if group is None:
        rows = v.orderBy("id").limit(n).collect()
        return {None: [[float(x) for x in r["v"]] for r in rows]}
    rn = F.row_number().over(Window.partitionBy(group).orderBy("id"))
    rows = v.select(group, "v", rn.alias("rn")).filter(F.col("rn") <= n).collect()
    seeds: dict = {}
    for r in sorted(rows, key=lambda r: (r[group], r["rn"])):
        seeds.setdefault(int(r[group]), []).append([float(x) for x in r["v"]])
    return seeds


def _lloyd_update(long: DataFrame, models: dict, exact_mean: bool) -> dict:
    """One Lloyd update from ``long`` rows ``(key, c, pos, col)`` — the
    component ``col`` at position ``pos`` of a vector assigned to centroid
    ``c`` of model ``key``. One regroup keyed (key, centroid, component)
    and one collect give every model its new means; an empty cluster
    (and a model with no rows this round) keeps its previous centroid."""
    by: dict = {}
    for r in long.groupBy("key", "c", "pos").agg(_mean_expr(exact_mean)).collect():
        by.setdefault((r["key"], r["c"]), {})[r["pos"]] = float(r["m"])
    return {
        key: [
            [by[(key, c)][p] for p in range(len(cent))] if (key, c) in by else cent
            for c, cent in enumerate(cents)
        ]
        for key, cents in models.items()
    }


class Level(NamedTuple):
    """One Lloyd recursion of a fit: ``k`` centroids over the contiguous
    slice ``start .. start + width - 1`` of the vector (``width=None``:
    to its end), refined for ``max_iter`` rounds."""

    start: int
    width: int | None
    k: int
    max_iter: int


def pq_levels(dim: int, m: int, k: int, max_iter: int) -> list[Level]:
    """Product quantization's levels: ``m`` contiguous sub-slices of a
    ``dim`` vector, ``k`` centroids each (Jégou et al., TPAMI'11) —
    codebooks[m][k][dim/m], so a float vector compresses to m codes and
    distance becomes a table lookup."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    return [Level(j * sub, sub, k, max_iter) for j in range(m)]


def lloyd_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    levels: list[Level],
    exact_mean: bool = False,
) -> list[list[list[float]]]:
    """Lloyd's k-means over an embedding column, Spark-distributed, for
    any set of independent ``levels`` at once: k-means is one full-width
    level, PQ is ``m`` sub-slices (:func:`pq_levels`), and the composed
    IVF-PQ fit (codes over the vectors, not residuals) is both. Returns
    each level's centroids, in ``levels`` order.

    One seed collect takes the smallest-id vectors (each level slices the
    first ``k`` of them; a corpus smaller than ``k`` gets one centroid per
    row). Round t is ONE job over every level with ``t < max_iter``: one
    projection assigns each live level's slice against its centroids as a
    literal matrix, one explode and posexplode key each component by
    (level, centroid, position), and :func:`_lloyd_update` regroups. The
    data never leaves executors except sum(k x width) means per round.

    Bit-parity — a fused fit equals the separate single-level fits, and
    the unrolled DuckDB oracles replay it — holds because (1) seeds are
    the same smallest-id rows, (2) each level's argmin is the same
    ``_nearest_centroid_expr`` fold over the same slice with the
    lowest-index tie-break, and (3) each (level, centroid, component)
    group aggregates exactly the same contributions: with ``exact_mean``
    the integer sums are order-free and the division is two IEEE ops.
    Float ``AVG`` (``exact_mean=False``) depends on summation order, so
    only the exact mode is bit-stable."""
    v = _fit_frame(df, F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    seeds = _seed_collect(v, max(lv.k for lv in levels))[None]
    if not seeds:
        raise ValueError("lloyd_fit: empty corpus")
    dim = len(seeds[0])
    spans = [(lv.start, dim - lv.start if lv.width is None else lv.width) for lv in levels]
    models = {
        i: [s[a : a + w] for s in seeds[: lv.k]]
        for i, (lv, (a, w)) in enumerate(zip(levels, spans))
    }
    for t in range(max(lv.max_iter for lv in levels)):
        entries = []
        for i, lv in enumerate(levels):
            if t >= lv.max_iter:
                continue
            a, w = spans[i]
            x = F.col("v") if (a, w) == (0, dim) else F.slice(F.col("v"), a + 1, w)
            entries.append(
                F.struct(
                    F.lit(i).alias("key"),
                    _nearest_centroid_expr(models[i], x).alias("c"),
                    x.alias("x"),
                )
            )
        long = v.select(F.explode(F.array(*entries)).alias("e")).select(
            "e.key", "e.c", F.posexplode("e.x")
        )
        models = _lloyd_update(long, models, exact_mean)
    return [models[i] for i in range(len(levels))]


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    max_iter: int = 5,
    exact_mean: bool = False,
) -> list[list[float]]:
    """Plain Lloyd's k-means: one full-width level of :func:`lloyd_fit`.
    ``exact_mean`` makes the fitted centroids bit-identical on any engine
    that sums the same integers, which is what lets a DuckDB oracle replay
    the whole fit (see ``queries/vector.py:ann_pq_topk``); quantization
    error is ~1e-9 per component."""
    return lloyd_fit(df, id_col, vec_col, [Level(0, None, k, max_iter)], exact_mean)[0]


def grouped_kmeans_fit(
    df: DataFrame,
    cell_col: str,
    id_col: str,
    vec_col: str,
    k_by_cell: dict[int, int],
    max_iter: int = 2,
    exact_mean: bool = True,
) -> dict[int, list[list[float]]]:
    """Independent Lloyd's k-means fits over MANY disjoint cells, one
    grouped Spark job per round: round t of every cell is one pass over
    the union of members, ``1 + max_iter`` jobs in all instead of that
    many per cell.

    It shares the core's steps — input rule, smallest-id seed collect
    (one partitioned row_number pass) and :func:`_lloyd_update` — and
    differs only in the assignment: each cell's centroid list rides as
    data through a broadcast join (:func:`_nearest_centroid_from_col`),
    not as a per-fit literal. So each cell's model is bit-identical to
    ``kmeans_fit`` over that cell alone, under the same parity conditions
    as :func:`lloyd_fit`.

    Returns ``{cell: centroids[k_by_cell[cell]][dim]}``."""
    cells = sorted(int(c) for c in k_by_cell)
    if not cells:
        return {}
    mem = _fit_frame(
        df,
        F.col(cell_col).cast("long").alias("key"),
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    seeds = _seed_collect(mem, max(k_by_cell.values()), "key")
    cents = {g: seeds.get(g, [])[: k_by_cell[g]] for g in cells}
    for g in cells:
        if not cents[g]:
            raise ValueError(f"grouped_kmeans_fit: empty cell {g}")
    assign_col = _nearest_centroid_from_col(F.col("__cents"), F.col("v")).alias("c")
    for _ in range(max_iter):
        model = df.sparkSession.createDataFrame(
            [(g, cents[g]) for g in cells],
            schema="key long, __cents array<array<double>>",
        )
        assigned = mem.join(F.broadcast(model), "key").select("key", "v", assign_col)
        cents = _lloyd_update(
            assigned.select("key", "c", F.posexplode("v")), cents, exact_mean
        )
    return cents


def _centroid_scores(cents: list[list[float]], vec: Column | None = None) -> Column:
    """Array of per-centroid scores argmax-equivalent to nearest-by-L2:
    <v,c> - |c|^2/2 (|v|^2 is row-constant). Linear expression size —
    chaining F.when comparisons instead nests the whole running expression
    per centroid and the tree grows exponentially with k (measured: k=16
    never finishes analysis). ``vec`` defaults to the conventional "v"
    column; PQ levels and codes pass subvector slices."""
    v = F.col("v") if vec is None else vec
    # One zip_with lambda over a literal centroid matrix, NOT k unrolled
    # dot-expression trees: the unrolled form costs O(k) aggregate/zip_with
    # subtrees whose analysis + codegen dominated the whole PQ fit
    # (measured ~8x on the fused fit at m=8, k=16 — 1.6 MB task binaries).
    # The matrix literal arrives via ONE F.expr parse (_mat_sql), not
    # k*dim py4j-roundtrip F.lit calls. Values are bit-identical: same
    # doubles, same fold order, same ops.
    mat = F.expr(_mat_sql(cents))
    halves = F.expr(_vec_sql([sum(x * x for x in c) / 2.0 for c in cents]))
    return F.zip_with(mat, halves, lambda c, h: dot_expr(v, c) - h)


def _nearest_centroid_expr(cents: list[list[float]], vec: Column | None = None) -> Column:
    """argmin_c ||v - c||^2 via array argmax (first match -> deterministic
    lowest-index tie-break)."""
    scores = _centroid_scores(cents, vec)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_clusters: int = 16,
    nprobe: int = 4,
    query_id_col: str | None = None,
    max_iter: int = 5,
    exact_mean: bool = False,
    cents: list[list[float]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer -> corpus bucketed by
    nearest centroid (1 bucket each), queries probe their ``nprobe`` nearest
    centroids -> equi-join on centroid id -> exact cosine re-rank.

    Per query the candidate set shrinks from |corpus| to ~nprobe/n_clusters
    of it; recall grows with nprobe. Output schema matches brute_force_knn.
    ``exact_mean``/``max_iter`` pass through to :func:`kmeans_fit` — with
    exact-integer means the whole pipeline (fit included) is replayable by
    a SQL oracle, the ``ann_pq_topk`` technique.

    ``cents``/``index`` may pass a pre-fit model and the pre-bucketed
    inverted lists ``(neighbor_id, cv, bucket)`` (the resident serving
    index, `ivf_index_cached`'s shape) so probes skip the Lloyd fit —
    fitted from ``corpus`` when omitted.
    """
    if cents is None:
        cents = kmeans_fit(
            corpus, id_col, vec_col, k=n_clusters, max_iter=max_iter,
            exact_mean=exact_mean,
        )
    qid = query_id_col or id_col
    c = index if index is not None else encode_lists(
        corpus, id_col, vec_col, cents, id_name="neighbor_id",
        carry=(_as_double(F.col(vec_col)).alias("cv"),),
    )

    q = queries.select(
        F.col(qid).alias("query_id"), _as_double(F.col(vec_col)).alias("v")
    )
    # probe-cell selection is the SHARED cached expression (one tree, the
    # centroid-matrix literal appears once) — the same _probe_cells_col
    # the composed probes and the streamed route plan, so the probe tie
    # convention (score desc, larger cell index first) has one home
    qb = (
        q.select("query_id", F.col("v").alias("qv"))
        .withColumn("bucket", F.explode(_probe_cells_col(cents, nprobe)))
    )

    scored = qb.join(c, "bucket").select(
        "query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def centroids(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label centroid, exploded to (label, pos, centroid_val) — the
    SQL-portable shape (array-typed results don't hash portably)."""
    ex = df.select(
        F.col(label_col).alias("label"), F.posexplode(_as_double(F.col(vec_col)))
    ).withColumnsRenamed({"pos": "pos", "col": "val"})
    return (
        ex.groupBy("label", "pos")
        .agg(
            (F.sum("val") / F.count("val")).alias("centroid_val"),
            F.count("val").alias("n_vecs"),
        )
    )


def _pq_code_expr(vec: Column, books: list[list[list[float]]], sub: int) -> Column:
    """array<int> of per-subspace nearest-centroid codes (the PQ encoding),
    one argmax expression per subspace over the sliced subvector."""
    return F.array(
        *[
            _nearest_centroid_expr(cents, F.slice(vec, j * sub + 1, sub))
            for j, cents in enumerate(books)
        ]
    )


def encode_lists(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    *,
    residual: bool = False,
    id_name: str = "corpus_id",
    carry: tuple = (),
) -> DataFrame:
    """The inverted-list row ``(id, [bucket], [codes], *carry)`` of every
    IVF / PQ / IVF-PQ index, encoded in one place against a frozen model:
    ``bucket`` is the nearest of ``cents`` (when given), ``codes`` the PQ
    codes of the vector under ``books`` (when given) — of its residual
    against its bucket's centroid when ``residual``. ``carry`` columns
    ride along unchanged (the stored ``label``; flat IVF's raw ``cv``).
    Scan-side projections only, with the model inline as literals."""
    v = _as_double(F.col(vec_col))
    head = [F.col(id_col).alias(id_name)]
    if cents is not None:
        head.append(_nearest_centroid_expr(cents, v).alias("bucket"))
    if books is None:
        return df.select(*head, *carry)
    # the code argmaxes re-read their input once per centroid they score,
    # so it is staged as a column: the vector, or its residual against
    # the staged bucket's centroid
    staged = df.select(*head, v.alias("__x"), *carry)
    names, carry = staged.columns[: len(head)], staged.columns[len(head) + 1 :]
    if residual:
        r = _residual_expr(F.col("__x"), cents, F.col("bucket"))
        staged = staged.select(*names, r.alias("__x"), *carry)
    codes = _pq_code_expr(F.col("__x"), books, len(books[0][0])).alias("codes")
    return staged.select(*names, codes, *carry)


def pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    books: list[list[list[float]]],
    rerank_shortlist: int | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric PQ distance: the corpus is encoded
    to m small codes ONCE (storage-resident at scale), each query scores a
    code row as the sum of m subspace distances — query-to-centroid, never
    query-to-raw-vector, so the corpus floats are not needed at query time.

    Plan shape: encode = scan-stage projection over the corpus; scoring =
    broadcast queries x streamed codes with the codebooks inlined as
    literal arrays (m*k*sub doubles — a few KB); top-k via WindowGroupLimit.
    All JVM expressions, zero UDF.

    ``codes`` may pass a precomputed ``(corpus_id, codes)`` frame — the
    serving posture, where the encoded index is resident and only probes
    run per query (the re-rank still fetches raw vectors for the SHORTLIST
    only, the cold-storage fetch a production IVF-PQ does)."""
    if codes is None:
        codes = encode_lists(corpus, id_col, vec_col, books=books)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    # per-subspace squared distance: ||q_j||^2 is rank-invariant per query,
    # so score = sum_j (||c||^2 - 2<q_j, c>) ranks identically to true
    # ADC squared L2 — and keeps the expression linear in m*k.
    # The m x k distance LUT is MATERIALIZED once per QUERY row (before
    # the broadcast), so the code-scoring side evaluates only m array
    # lookups per (query, code) pair — the classic ADC split. Previously
    # the LUT expression (m*k dot folds over literal matrices) sat inside
    # the scored projection, re-evaluated per scanned code row, and its
    # nested-F.lit construction alone cost ~1 s of py4j driver time
    # (VERDICT r6 task 6).
    q = q.withColumn("__lut", _lut_col(books, "qv"))
    scored = F.broadcast(q).crossJoin(codes).select(
        "query_id", "corpus_id", _adc_score(len(books)).alias("pq_dist")
    )
    return _adc_shortlist_rerank(
        scored, corpus, id_col, vec_col, q, k, rerank_shortlist
    )


def _adc_shortlist_rerank(
    scored: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    q: DataFrame,
    k: int,
    rerank_shortlist: int | None,
) -> DataFrame:
    """Shared ADC tail for the PQ family (flat ``pq_knn`` and celled
    ``ivfpq_knn``): per-query shortlist by quantized distance, then the
    exact cosine re-rank that fetches raw vectors for ONLY the
    shortlisted (query, candidate) pairs — the cold-storage fetch a
    production IVF-PQ does. Quantization error decides membership of the
    shortlist, never the final ranking. ``rerank_shortlist=None`` returns
    the quantized shortlist itself."""
    w = Window.partitionBy("query_id").orderBy(F.asc("pq_dist"), F.asc("corpus_id"))
    shortlist_k = rerank_shortlist if rerank_shortlist is not None else k
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= shortlist_k)
        .select("query_id", "corpus_id", F.round("pq_dist", 4).alias("pq_dist"), "rank")
    )
    if rerank_shortlist is None:
        return shortlist
    cv = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    exact = (
        shortlist.select("query_id", "corpus_id")
        .join(F.broadcast(q), "query_id")
        .join(cv, "corpus_id")
        .select(
            "query_id",
            "corpus_id",
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("cosine"), F.asc("corpus_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", F.round("cosine", 4).alias("cosine"), "rank")
    )


def _prep_expr(key: tuple, build) -> Column:
    """Prepared model-constant Column expressions, keyed on the model
    values themselves: a Column is an immutable UNRESOLVED expression
    tree, safely reusable across plans, and re-parsing the m*k literal
    matrices costs ~0.3-0.5 s of driver time per probe — a server
    compiles its query-prep expressions once per model, so they are
    registered with the model (``prep_expr``, under the active
    session)."""
    return get("prep_expr", SparkSession.active(), key, build)


def _model_key(*parts) -> tuple:
    def freeze(x):
        if isinstance(x, list):
            return tuple(freeze(v) for v in x)
        return x

    return tuple(freeze(p) for p in parts)


def _lut_col(books: list[list[list[float]]], col: str) -> Column:
    """The m x k ADC distance table of the vector in column ``col``, as a
    nested array column materialized once per row and looked up per code:
    entry [j][c] is ``|c|^2 - 2<x_j, c>`` for the row's j-th subvector
    ``x_j``. ``col`` is a query vector (``qv``) for codes of the vectors
    themselves, or a query residual against a probed cell (``__qr``) for
    residual codes. Cached with the model, keyed on ``col`` as well: a
    Column binds its input by name."""

    def build() -> Column:
        sub = len(books[0][0])
        lut_terms = []
        for j, cents in enumerate(books):
            xj = F.slice(F.col(col), j * sub + 1, sub)
            mat = F.expr(_mat_sql(cents))
            norms2 = F.expr(_vec_sql([sum(x * x for x in c) for c in cents]))
            lut_terms.append(
                F.zip_with(
                    mat, norms2, lambda c, n2: n2 - F.lit(2.0) * dot_expr(xj, c)
                )
            )
        return F.array(*lut_terms)

    return _prep_expr(("lut", col, _model_key(books)), build)


def _adc_score(m: int) -> Column:
    """The ADC distance of a ``codes`` row under a row's ``__lut``: the m
    table lookups added left to right in subspace order (bit-parity with
    the oracles' ordered sum); ``[]`` indexing is 0-based, matching the
    code values."""
    return F.expr(" + ".join(f"__lut[{j}][codes[{j}]]" for j in range(m)))


def ivfpq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    cents: list[list[float]],
    books: list[list[list[float]]],
    nprobe: int = 4,
    rerank_shortlist: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the two approximate structures COMPOSED (Jégou et al.,
    TPAMI'11) — the serving layout a 100 TB corpus actually uses. The
    coarse quantizer (``cents``, k-means cells) partitions the corpus
    into inverted lists; every list row stores only the m-byte PQ code
    (``books``). A query probes its ``nprobe`` nearest cells, ADC-scores
    ONLY those cells' codes through its per-query LUT, and exact-reranks
    the shortlist from raw storage. Neither structure alone survives
    100x: flat PQ scans every code (the r6-named scale-killer), flat IVF
    re-ranks raw floats per cell. Together: the bucket equi-join prunes
    the scan to ~nprobe/n_cells of the code table, codes keep it ~32x
    smaller than floats, and raw vectors are touched only for the
    shortlist.

    Codes encode the (unit-normalized) vectors directly, not residuals
    against the cell centroid — the FAISS ``by_residual=False`` variant —
    so the code table is independent of the coarse quantizer and the
    same determinism argument as ``pq_knn`` applies verbatim.

    ``index`` may pass the precomputed inverted lists
    ``(corpus_id, bucket, codes)`` (the resident serving index); built
    scan-side from ``corpus`` otherwise. Probe-cell selection uses
    ``ivf_knn``'s tie convention (score desc, LARGEST cell index on
    ties); code assignment and shortlist ties use smallest-index — both
    mirrored by the oracle replay."""
    if index is None:
        index = encode_lists(corpus, id_col, vec_col, cents, books)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    # Ordered probe-cell list as ONE cached expression: (score, idx)
    # structs come straight off the centroid-scores array via the indexed
    # transform lambda, so the centroid-matrix literal appears once
    # inside this tree and the tie convention (score desc, LARGEST cell
    # index first — reverse of the ascending (s, c) struct sort) is
    # unchanged; see _probe_cells_col.
    probes_col = _probe_cells_col(cents, nprobe)
    # Materialize the prepared query batch ONCE (LUT + ordered probe-cell
    # list per query — what an IVF-PQ server computes on query arrival;
    # O(batch x m x k) work, batch-sized frame) via a SINGLE select. The
    # downstream derivatives (probe pairs, LUT attach, exact re-rank)
    # then read a LEAF plan instead of each re-analyzing the
    # m*k-literal expression trees; constraint-stripped for the same
    # reason as the index (see checkpoint_index).
    qprep = checkpoint_index(
        q.select(
            "query_id",
            "qv",
            _lut_col(books, "qv").alias("__lut"),
            probes_col.alias("__probes"),
        ),
        eager=False,
    )
    # the LUT rides through the explode — plain column refs off the leaf,
    # so no second broadcast join is needed to attach it
    qp = qprep.select("query_id", "__lut", F.explode("__probes").alias("bucket"))
    scored = (
        F.broadcast(qp)
        .join(index, "bucket")
        .select("query_id", "corpus_id", _adc_score(len(books)).alias("pq_dist"))
    )
    return _adc_shortlist_rerank(
        scored,
        corpus,
        id_col,
        vec_col,
        qprep.select("query_id", "qv"),
        k,
        rerank_shortlist,
    )


def _probe_cells_col(cents: list[list[float]], nprobe: int) -> Column:
    """The ordered probe-cell list for a query row (``qv`` column by
    convention) as one cached expression: (score, idx) structs come
    straight off the centroid-scores array via the indexed transform
    lambda, so the centroid-matrix literal appears once inside this
    tree, and the tie convention (score desc, LARGEST cell index first —
    reverse of the ascending (s, c) struct sort) matches ``ivf_knn`` and
    both oracles' ``ORDER BY score DESC, cidx DESC`` probe replay.
    Cached with the model: every Dataset creation eagerly re-analyzes
    its whole plan JVM-side, so the probe path budgets ONE plan carrying
    the model literals — the r6-measured "probe constant" was exactly
    these repeated analyses."""

    def build() -> Column:
        ranked = F.transform(
            _centroid_scores(cents, F.col("qv")),
            lambda s, i: F.struct(s.alias("s"), i.alias("c")),
        )
        return F.transform(
            F.slice(F.reverse(F.array_sort(ranked)), 1, nprobe),
            lambda st: st["c"],
        )

    return _prep_expr(("probes", nprobe, _model_key(cents)), build)


def _cent_matrix_col(cents: list[list[float]]) -> Column:
    """The coarse-centroid matrix as one cached literal Column —
    ``element_at(mat, bucket + 1)`` fetches a row per assigned/probed
    cell (residual subtraction needs the centroid VALUES at execution
    time, not just the argmax)."""
    return _prep_expr(("centmat", _model_key(cents)), lambda: F.expr(_mat_sql(cents)))


def _residual_expr(vec: Column, cents: list[list[float]], bucket: Column) -> Column:
    """vec - coarse_centroid[bucket], element-wise (the IVF residual)."""
    return F.zip_with(
        vec, F.element_at(_cent_matrix_col(cents), bucket + 1), lambda a, b: a - b
    )


def ivfpq_residual_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    cents: list[list[float]],
    books: list[list[list[float]]],
    nprobe: int = 4,
    rerank_shortlist: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (Jégou et al., TPAMI'11 §III; the
    FAISS ``by_residual=True`` default): each inverted-list entry stores
    PQ codes of ``x - cent[bucket]`` instead of ``x``, and a query
    ADC-scores a cell through a PER-(query, cell) LUT built from its own
    residual against that cell. Residual magnitudes are much smaller
    than raw vectors, so the same m x k code budget spends its
    resolution on the part the coarse quantizer didn't already explain —
    the standard recall-per-byte win over ``ivfpq_knn``'s
    ``by_residual=False`` layout, at the cost of nprobe LUTs per query
    instead of one.

    Same probe shape as ``ivfpq_knn``: bucket equi-join prunes the code
    scan to the probed cells, shortlist by quantized distance, exact
    cosine re-rank from raw storage. ``books`` must be fitted on
    residuals (``pq_levels`` over ``x - cent[bucket]``); ``index`` may
    pass the precomputed lists ``(corpus_id, bucket, codes)``. Every
    fit/assign/probe/ADC step keeps the exact-integer-mean + ordered
    fold conventions, so the full pipeline is replayed by
    ``_ivfpq_residual_ann_oracle``'s unrolled CTEs."""
    if index is None:
        index = encode_lists(corpus, id_col, vec_col, cents, books, residual=True)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    probes_col = _probe_cells_col(cents, nprobe)
    # one prepared chain: probe cells, the materialized query residual
    # (so the centroid matrix appears once, not once per subspace), then
    # the per-(query, cell) residual LUT — batch x nprobe rows, each
    # m x k doubles. Checkpoint (lazy) truncates the literal-heavy prep
    # plan exactly as in ivfpq_knn; qv rides along for the exact re-rank.
    qp = checkpoint_index(
        q.select("query_id", "qv", F.explode(probes_col).alias("bucket"))
        .select(
            "query_id",
            "qv",
            "bucket",
            _residual_expr(F.col("qv"), cents, F.col("bucket")).alias("__qr"),
        )
        .select(
            "query_id",
            "qv",
            "bucket",
            # ||qr||^2 is the per-(query, probed-cell) ADC bias term: it
            # is constant WITHIN a cell but varies ACROSS probed cells
            # (each cell subtracts its own centroid from the query), so
            # dropping it — legal for the flat LUT, whose dropped ||q||^2
            # is per-query constant — silently mis-ranks candidates
            # between cells at nprobe > 1 (found by the r11 clusterable
            # fixture: top-5 came from the wrong cluster). FAISS's
            # by_residual ADC carries exactly this term.
            dot_expr(F.col("__qr"), F.col("__qr")).alias("__qr2"),
            _lut_col(books, "__qr").alias("__lut"),
        ),
        eager=False,
    )
    # qr^2 leads the left-to-right fold (bit-parity with the oracle's sum)
    score = F.col("__qr2") + _adc_score(len(books))
    scored = (
        F.broadcast(qp.select("query_id", "bucket", "__qr2", "__lut"))
        .join(index, "bucket")
        .select("query_id", "corpus_id", score.alias("pq_dist"))
    )
    return _adc_shortlist_rerank(
        scored,
        corpus,
        id_col,
        vec_col,
        qp.select("query_id", "qv").dropDuplicates(["query_id"]),
        k,
        rerank_shortlist,
    )


def mmr_diverse_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    shortlist_k: int = 20,
    select_k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from each query's exact
    cosine top-``shortlist_k``, greedily select ``select_k`` diverse results
    maximizing ``lam*rel - (1-lam)*max_sim_to_already_selected`` — the
    standard RAG diversity re-rank (Carbonell & Goldstein '98 shape).

    Distribution: relevance shortlisting is ``brute_force_knn`` (broadcast
    queries x streamed corpus, WindowGroupLimit top-k — the scan does the
    heavy work). The greedy selection is inherently sequential but only ever
    sees ``shortlist_k`` candidates PER QUERY, so it runs as a JVM
    higher-order-function fold over each query's collected shortlist —
    O(select_k * shortlist_k^2) on ~kilobytes, parallel across queries, no
    Python, no extra shuffle beyond the per-query collect.

    Determinism: candidate vectors are unit-normalized once; all similarity
    is a sequential-fold dot product (same accumulation order both engines —
    the knn_cosine_topk precedent), and every argmax breaks ties by smaller
    id via a packed (score, -id) comparison key.
    """
    if select_k < 1:
        raise ValueError(f"mmr_diverse_topk: select_k must be >= 1, got {select_k}")
    qid = "query_id"
    short = brute_force_knn(corpus, queries, id_col=id_col, vec_col=vec_col, k=shortlist_k)
    short = short.filter(F.col("cosine").isNotNull())
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        norm_expr(_as_double(F.col(vec_col))).alias("nrm"),
    )
    cand = short.join(cv, "neighbor_id").select(
        qid,
        F.struct(
            F.col("cosine").alias("rel"),
            F.col("neighbor_id").alias("vec_id"),
            F.col("cv").alias("v"),
            F.col("nrm").alias("nrm"),
        ).alias("c"),
    )
    per_q = cand.groupBy(qid).agg(F.array_sort(F.collect_list("c")).alias("cands"))

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)

    # seed: max (rel, -vec_id)
    def packed(c):
        return F.struct(c["rel"].alias("s"), (-c["vec_id"]).cast("double").alias("t"), c.alias("c"))

    seed = F.array_max(F.transform(F.col("cands"), packed))["c"]
    state0 = F.struct(
        F.array(seed).alias("sel"),
        F.filter(F.col("cands"), lambda c: c["vec_id"] != seed["vec_id"]).alias("rem"),
    )

    def step(acc, _):
        def mmr_key(c):
            msim = F.array_max(
                F.transform(acc["sel"], lambda s: dot(c["v"], s["v"]) / (c["nrm"] * s["nrm"]))
            )
            score = F.lit(lam) * c["rel"] - F.lit(1.0 - lam) * msim
            return F.struct(
                score.alias("s"), (-c["vec_id"]).cast("double").alias("t"), c.alias("c")
            )

        best = F.array_max(F.transform(acc["rem"], mmr_key))["c"]
        stepped = F.struct(
            F.concat(acc["sel"], F.array(best)).alias("sel"),
            F.filter(acc["rem"], lambda c: c["vec_id"] != best["vec_id"]).alias("rem"),
        )
        # shortlist exhausted (possible at tiny corpora): no-op step
        return F.when(F.size(acc["rem"]) == 0, acc).otherwise(stepped)

    # select_k<=1 must skip the fold entirely: sequence(1, 0) is Spark's
    # DESCENDING array [1, 0] (two elements), not an empty one, so folding
    # over it would run two greedy steps and return 3 selections for k=1.
    if select_k <= 1:
        final = state0
    else:
        final = F.aggregate(F.sequence(F.lit(1), F.lit(select_k - 1)), state0, step)
    return (
        per_q.select(qid, F.posexplode(final["sel"]).alias("pos", "c"))
        .select(
            qid,
            (F.col("pos") + 1).cast("long").alias("sel_rank"),
            F.col("c")["vec_id"].alias("vec_id"),
            F.round(F.col("c")["rel"], 6).alias("rel_r"),
        )
    )
