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


def spread_small_input(
    df: DataFrame, id_col: str, bytes_per_slice: int | None = None
) -> DataFrame:
    """CPU-heavy projections (hash chains, shingle explodes, outer
    products) ride their input's scan partitioning, and a small corpus
    (one parquet split) runs them on ONE core (r13, guide §2.5
    input-skew): spread the input across the session's cores FIRST when —
    and only when — the scan has fewer splits than cores. The partition
    count is pinned explicitly (``repartition(n, col)``) because AQE's
    partition coalescing would otherwise fold a few-MB exchange right
    back to one partition, re-serializing the CPU-bound work. At scale
    the scan already has >= cores splits and this is a no-op — no
    unconditional payload shuffle is introduced.

    ``bytes_per_slice`` (r13 opt, guide §2.2 fewer-larger-partitions):
    consumers whose per-row work is LIGHT relative to the hash chains —
    the Lloyd fits' argmin folds — additionally cap the spread at
    ``ceil(input_bytes / bytes_per_slice)``: a task carrying well under
    ~50 ms of work costs more to schedule than to run, and every fit
    ROUND pays the task floor again (measured: one k-means round over a
    sub-MB corpus at 32 slices costs 1.5-1.8x the 4-slice round, both
    sfs). Sizing is data-derived (input bytes, cores), never a fixed
    local count. A union is sized by its file-backed legs (synthetic
    legs add no bytes, so their rows are undercounted); only a plan with
    no file source at all, such as a resident checkpoint, is unsized and
    keeps its layout (below)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_slice:
        import math

        nbytes = _input_bytes(df)
        if nbytes > 0:
            target = min(target, max(1, math.ceil(nbytes / bytes_per_slice)))
        else:
            # r14 (VERDICT r13 task 6): a capped caller declared its
            # per-row work LIGHT, and an unsizeable input here is a
            # RESIDENT frame (checkpointed fit corpora have no
            # inputFiles) — whose width its own builder already chose.
            # Spreading it to full cores made every sequential fit round
            # (Lloyd, power iteration: max_iter collect jobs) pay a
            # full-cores task floor for sub-slice work; measured on the
            # regressed driver lines (interleaved, models bit-identical):
            # ann_opq_rotation_fit 2.42 -> 1.79 s, ann_coarse_fit
            # 2.75 -> 1.32 s at sf0.01. Keep the input's layout.
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(id_col))
    return df


def _input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of ``df``'s file sources, 0 when it has none.
    A union counts only its file-backed legs, so rows from synthetic legs
    (``spark.range``, literals) are not sized. Plans with no file source
    (resident checkpoints) and plans where ``inputFiles`` raises
    (streaming) come back 0, and callers keep their full-cores / no-op
    behavior."""
    import os

    try:
        return sum(
            os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()
        )
    except Exception:
        return 0


def narrow_resident(
    df: DataFrame, source_df: DataFrame, bytes_per_slice: int | None = None
) -> DataFrame:
    """Coalesce a RESIDENT (checkpointed) index frame down to the width
    its SOURCE bytes justify — the read-side twin of
    :func:`spread_small_input` (guide §2.2 fewer-larger-partitions).

    The heavy build projections (hash chains, shingle explodes) want the
    full-cores spread, so the checkpoint materializes wide; but every
    DOWNSTREAM job over the resident blocks (band self-join, verify join,
    artifact write) then pays the per-task scheduling floor again for
    per-task work far under it. ``coalesce`` after the checkpoint merges
    blocks at read time — no shuffle, the build's parallelism is
    untouched — so mine-side jobs run ceil(source_bytes / slice) tasks.
    At scale the source has >= cores x slice bytes and this is a no-op;
    a union source is sized by its file-backed legs, and a source with
    no file at all (a resident checkpoint) returns the frame unchanged. Row values are untouched — partitioning only."""
    if bytes_per_slice is None:
        bytes_per_slice = _FIT_BYTES_PER_SLICE
    import math

    nbytes = _input_bytes(source_df)
    if nbytes <= 0:
        return df
    k = max(1, math.ceil(nbytes / bytes_per_slice))
    if k < df.rdd.getNumPartitions():
        return df.coalesce(k)
    return df


# Fit-input slice size: the Lloyd rounds' per-row argmin is ~2k fused
# interpreted ops per 0.5 KB row, so a 256 KB slice is ~1M ops — above
# the task-scheduling floor, far below a scan split. Only ever binding
# for corpora under cores x 256 KB; at scale the scan partitioning wins.
_FIT_BYTES_PER_SLICE = 256 * 1024


def checkpoint_index(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` + origin-constraint strip — the
    materialization for INDEX frames that outlive the query that built
    them (PQ codes, IVF-PQ inverted lists). ``eager=False`` defers the
    materialization into the consumer's first action (one fewer
    synchronous driver job — right for per-probe query-batch prep, where
    the checkpoint exists only to truncate the literal-heavy builder
    plan, not to be shared across queries).

    A plain localCheckpoint's ``LogicalRDD`` keeps the builder plan's
    constraints; when a LATER query equi-joins the checkpointed frame,
    ``InferFiltersFromConstraints`` can resurrect a constraint whose
    expression references the builder's (now nonexistent) scan
    attributes into the join condition — an executor-side
    ``INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND`` (observed on Spark 4.1 with
    the celled code join; the builder's ``bucket = argmax(...embedding...)``
    projection constraint leaked into the probe plan). Rebuilding the
    frame from the checkpointed internal RDD drops originConstraints
    while reusing the SAME materialized blocks — zero extra compute."""
    ck = df.localCheckpoint(eager=eager)
    spark = ck.sparkSession
    jdf = spark._jsparkSession.internalCreateDataFrame(  # type: ignore[attr-defined]
        ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


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
    (array<array<double>>) instead of inlined literals. Iterative fits
    (kmeans_fit, pq_fit) use this: centroid values change every Lloyd
    round, and re-inlining them as literals forces Catalyst to re-analyze
    and re-codegen a fresh expression tree per round (measured: the
    per-round planning cost dwarfed the actual math at fixture scale).
    With the matrix as broadcast DATA the generated code text is identical
    across rounds, so Spark's codegen cache hits and planning is O(small).

    Bit-parity with the literal form: dot is the same left-fold zip_with;
    |c|^2/2 is the same left-fold sum (Python's sum() and F.aggregate both
    fold left) divided by 2.0; argmax tie-break unchanged."""
    scores = F.transform(
        mat,
        lambda c: dot_expr(vec, c)
        - F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x) / F.lit(2.0),
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _mean_expr(exact_mean: bool):
    """The per-component centroid-mean aggregate over a posexploded ``col``
    — ONE definition shared by kmeans_fit, pq_fit, and ivfpq_fit_fused,
    because the fused fit's bit-identity guarantee to the sequential fits
    depends on all three aggregating with byte-identical expressions.
    ``exact_mean`` is the repo's integer-quantization convention: quantize
    each contribution to nano-units (``floor(x*1e9 + 0.5)``, a BIGINT),
    sum EXACTLY, then divide — two correctly-rounded IEEE ops on
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


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    max_iter: int = 5,
    exact_mean: bool = False,
    materialize: bool = True,
) -> list[list[float]]:
    """Plain Lloyd's k-means over an embedding column, Spark-distributed.

    Deterministic init: the k vectors with the smallest ids. Each iteration
    is one job: broadcast current centroids -> assign (argmin cosine-free
    squared L2 via expression) -> groupBy centroid -> component-wise mean
    (posexplode + avg). Centroid count k is driver-sized (k x dim floats),
    the data never leaves executors except k centroids per iteration —
    the standard scalable topology.

    ``exact_mean`` replaces the float AVG (whose value depends on the
    engine's summation order) with the repo's integer-quantization
    convention: each contribution is quantized to nano-units
    (``floor(x*1e9 + 0.5)``, a BIGINT), summed EXACTLY, then divided —
    two correctly-rounded IEEE ops on exactly-representable integers. The
    fitted centroids are then bit-identical on any engine that sums the
    same integers, which is what lets a DuckDB oracle replay the whole
    fit (see ``queries/vector.py:ann_pq_topk``). Quantization error is
    ~1e-9 per component — far below any clustering-relevant distance.

    ``materialize`` (r13, guide §2.4/§5): every Lloyd round is a
    SEQUENTIAL job that used to re-plan the corpus subtree (scan + cast)
    from scratch — max_iter + 1 corpus passes per fit, each riding the
    scan's (often single) split. An eager localCheckpoint (input spread
    across cores first) pays one materialization and every round reads
    the resident blocks in parallel. Values are bit-identical. Pass
    ``False`` for tiny already-resident inputs (the single-cell
    rebalance sub-fits) where the extra jobs outweigh the saved
    re-reads.
    """
    v = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    if materialize:
        v = checkpoint_index(spread_small_input(v, "id", _FIT_BYTES_PER_SLICE))
    cents = [
        [float(x) for x in r["v"]]
        for r in v.orderBy("id").limit(k).collect()
    ]
    if not cents:
        raise ValueError("kmeans_fit: empty corpus")
    k = min(k, len(cents))  # corpus smaller than k: one centroid per row
    mean_expr = _mean_expr(exact_mean)
    # r13 opt (measured, idle-host interleaved A/B): the model rides as a
    # LITERAL matrix (one F.expr parse via _mat_sql — NOT k*dim F.lit py4j
    # round trips) and the round collects at (c, pos) grain directly
    # (pq_fit's shape), dropping the per-round 1-row model frame, its
    # BroadcastExchange, and the second component-assembly groupBy. The
    # literal form re-plans per round but the generated code TEXT is
    # round-invariant (array literals ride as references), so codegen
    # caches hit — per-round wall 1.55 -> 1.07 s at sf0.01/local[32]
    # against the broadcast-column + two-groupBy shape. Bit-parity with
    # _nearest_centroid_from_col: same zip_with dot fold, |c|^2/2
    # precomputed by the same left-to-right Python sum, same
    # array_position tie-break.
    for _ in range(max_iter):
        assigned = v.select(
            "id", "v", _nearest_centroid_expr(cents, F.col("v")).alias("c")
        )
        rows = (
            assigned.select("c", F.posexplode("v"))
            .groupBy("c", "pos")
            .agg(mean_expr)
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in rows:
            by_c.setdefault(int(r["c"]), {})[r["pos"]] = float(r["m"])
        cents = [
            [by_c[i][p] for p in range(len(cents[i]))] if i in by_c else cents[i]
            for i in range(k)
        ]
    return cents


def grouped_kmeans_fit(
    df: DataFrame,
    cell_col: str,
    id_col: str,
    vec_col: str,
    k_by_cell: dict[int, int],
    max_iter: int = 2,
    exact_mean: bool = True,
) -> dict[int, list[list[float]]]:
    """Independent Lloyd's k-means fits over MANY disjoint cells, run as
    ONE grouped Spark job per round (r13, guide §1.2 step 1 / §2.6): the
    per-cell loop in ``ann_ivf_rebalance_all`` paid ``cells x (1 seed
    collect + max_iter round jobs)`` sequential driver round-trips, a pure
    job-scheduling floor at maintenance scale; the cells are independent
    recursions over disjoint member sets, so round t of EVERY cell is one
    pass over the union of hot members — ``1 + max_iter`` jobs total, and
    the honest at-scale shape (one scan of hot members per round instead
    of one per cell).

    Bit-identical to looping ``kmeans_fit(materialize=False)`` per cell:
    seeds are each cell's ``k_by_cell[cell]`` smallest-id vectors (the
    per-cell ``orderBy(id).limit(k)``, here one partitioned row_number
    pass); assignments use the SAME ``_nearest_centroid_from_col``
    argmin over the cell's current centroid list (broadcast-joined per
    cell instead of cross-joined per fit); and each (cell, centroid,
    component) group aggregates exactly the same quantized-integer
    contributions (``_mean_expr`` — integer sums are order-free, then the
    same two IEEE ops). Empty clusters keep their previous centroid, per
    cell, as in ``kmeans_fit``.

    Returns ``{cell: centroids[k_by_cell[cell]][dim]}``. Driver state is
    O(sum of models); members never leave executors except through the
    per-round model aggregate.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    cells = sorted(int(c) for c in k_by_cell)
    if not cells:
        return {}
    mem = df.select(
        F.col(cell_col).cast("long").alias("g"),
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    max_k = max(k_by_cell.values())
    w = Window.partitionBy("g").orderBy("id")
    seed_rows = (
        mem.select("g", "v", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= F.lit(max_k))
        .collect()
    )
    cents: dict[int, list[list[float]]] = {c: [] for c in cells}
    for r in sorted(seed_rows, key=lambda r: (r["g"], r["rn"])):
        g = int(r["g"])
        if len(cents[g]) < k_by_cell[g]:
            cents[g].append([float(x) for x in r["v"]])
    for g in cells:
        if not cents[g]:
            raise ValueError(f"grouped_kmeans_fit: empty cell {g}")
    mean_expr = _mean_expr(exact_mean)
    assign_col = _nearest_centroid_from_col(F.col("__cents"), F.col("v")).alias("c")
    for _ in range(max_iter):
        model = spark.createDataFrame(
            [(g, [[float(x) for x in c] for c in cents[g]]) for g in cells],
            schema="g long, __cents array<array<double>>",
        )
        assigned = mem.join(F.broadcast(model), "g").select("g", "v", assign_col)
        rows = (
            assigned.select("g", "c", F.posexplode("v"))
            .groupBy("g", "c", "pos")
            .agg(mean_expr)
            .collect()
        )
        by: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by.setdefault((int(r["g"]), int(r["c"])), {})[r["pos"]] = float(r["m"])
        for g in cells:
            cents[g] = [
                [by[(g, c)][p] for p in range(len(cents[g][c]))]
                if (g, c) in by
                else cents[g][c]
                for c in range(len(cents[g]))
            ]
    return cents


def _centroid_scores(cents: list[list[float]], vec: Column | None = None) -> Column:
    """Array of per-centroid scores argmax-equivalent to nearest-by-L2:
    <v,c> - |c|^2/2 (|v|^2 is row-constant). Linear expression size —
    chaining F.when comparisons instead nests the whole running expression
    per centroid and the tree grows exponentially with k (measured: k=16
    never finishes analysis). ``vec`` defaults to the conventional "v"
    column; pq_fit passes subvector slices."""
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
    if index is None:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v")
        ).select("neighbor_id", F.col("v").alias("cv"), F.col("v"))
        c = c.select("neighbor_id", "cv", _nearest_centroid_expr(cents).alias("bucket"))
    else:
        c = index

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


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    max_iter: int = 3,
    exact_mean: bool = False,
    materialize: bool = True,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and run the distributed k-means on each — the
    IVF-PQ storage layout (Jégou et al., TPAMI'11) that compresses a
    float32 corpus ~32x (dim floats -> m byte codes) while keeping
    distance computation a table lookup.

    ``materialize`` — as in :func:`kmeans_fit`: pass ``False`` when the
    caller already holds a checkpointed input (the OPQ/residual index
    builders), so the fit doesn't re-spread and re-materialize the same
    rows a second time.

    All ``m`` sub-fits are FUSED into one Spark job per Lloyd round: a
    single projection computes every subspace's nearest-centroid
    assignment, one posexplode keys each component by (subspace, centroid,
    local position), and one aggregate produces every codebook's new
    means — 1 + max_iter driver round-trips total, where the naive
    per-subspace loop paid m * (1 + max_iter) (measured 8x wall at m=8:
    driver-synchronized job latency dominates the tiny per-round math).
    The fusion is numerically inert: identical seeds (same k smallest-id
    vectors, sliced), identical argmin expressions per slice, and the
    per-(subspace, centroid, component) sums aggregate exactly the same
    contributions — so fitted books are bit-identical to the sequential
    fit and the unrolled DuckDB oracle replay is unaffected.

    Returns codebooks[m][k][dim/m]. Same determinism contract as
    kmeans_fit (smallest-id init, fixed iterations); only m*k centroid
    vectors ever reach the driver."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    # r13: one materialization feeds every Lloyd round (see kmeans_fit)
    v = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    if materialize:
        v = checkpoint_index(spread_small_input(v, "id", _FIT_BYTES_PER_SLICE))
    seed_rows = v.orderBy("id").limit(k).collect()
    if not seed_rows:
        raise ValueError("pq_fit: empty corpus")
    k = min(k, len(seed_rows))
    books: list[list[list[float]]] = [
        [[float(x) for x in r["v"]][j * sub : (j + 1) * sub] for r in seed_rows[:k]]
        for j in range(m)
    ]
    mean_expr = _mean_expr(exact_mean)
    # r13 opt: each sub-codebook rides as a LITERAL matrix per round (one
    # F.expr parse each via _mat_sql) instead of a broadcast model frame —
    # drops the per-round 1-row createDataFrame + BroadcastExchange; the
    # generated code text is round-invariant (literal arrays ride as
    # references) so codegen caches hit. Bit-parity per kmeans_fit.
    cs_col = F.array(*[F.col(f"c{j}") for j in range(m)]).alias("cs")
    sj = F.floor(F.col("pos") / sub).cast("int")
    long_cols = [
        sj.alias("j"),
        F.element_at("cs", sj + 1).alias("c"),
        (F.col("pos") % sub).alias("pos_l"),
        F.col("col"),
    ]
    for _ in range(max_iter):
        assign_cols = [
            _nearest_centroid_expr(
                books[j], F.slice(F.col("v"), j * sub + 1, sub)
            ).alias(f"c{j}")
            for j in range(m)
        ]
        assigned = v.select("v", *assign_cols)
        long = assigned.select(cs_col, F.posexplode("v")).select(*long_cols)
        rows = long.groupBy("j", "c", "pos_l").agg(mean_expr).collect()
        by_jc: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_jc.setdefault((r["j"], r["c"]), {})[r["pos_l"]] = float(r["m"])
        books = [
            [
                [by_jc[(j, c)][p] for p in range(sub)]
                if (j, c) in by_jc
                else books[j][c]
                for c in range(k)
            ]
            for j in range(m)
        ]
    return books


def ivfpq_fit_fused(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    coarse_iter: int = 3,
    pq_iter: int = 3,
    exact_mean: bool = False,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """The COMPOSED IVF-PQ fit with the coarse quantizer and all ``m``
    sub-codebooks fused into ONE Spark job per Lloyd round (VERDICT r7
    task 8, extending pq_fit's subspace fusion across levels): when codes
    encode the vectors directly (``by_residual=False``), the coarse fit
    and the sub-fits are INDEPENDENT Lloyd recursions over the same
    corpus, so round t can compute the coarse assignment and every
    subspace assignment in a single projection, emit each exploded
    component to BOTH its coarse group (lvl = -1) and its subspace group
    (lvl = j), and update all models from one aggregate. Job count drops
    from ``2 + coarse_iter + pq_iter`` driver round-trips (two seed
    collects + per-level rounds) to ``1 + max(coarse_iter, pq_iter)``.

    Numerically inert vs running :func:`kmeans_fit` then :func:`pq_fit`:
    one shared smallest-id seed collect slices the same rows both seeds
    used (coarse takes the first ``n_cells`` vectors, books the first
    ``k``, exactly the oracle's shared ``init_ids``), assignments use the
    identical literal-matrix argmax expressions, and every
    (level, centroid, component) group aggregates exactly the same
    contributions — fitted models are bit-identical, so the unrolled
    DuckDB replay (``_ivfpq_fit_ctes``) is unaffected."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    # r13: one materialization feeds every fused round (see kmeans_fit)
    v = checkpoint_index(
        spread_small_input(
            df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")),
            "id",
            _FIT_BYTES_PER_SLICE,
        )
    )
    seed_rows = v.orderBy("id").limit(max(n_cells, k)).collect()
    if not seed_rows:
        raise ValueError("ivfpq_fit_fused: empty corpus")
    n_cells = min(n_cells, len(seed_rows))
    k = min(k, len(seed_rows))
    cents = [[float(x) for x in r["v"]] for r in seed_rows[:n_cells]]
    books: list[list[list[float]]] = [
        [[float(x) for x in r["v"]][j * sub : (j + 1) * sub] for r in seed_rows[:k]]
        for j in range(m)
    ]
    mean_expr = _mean_expr(exact_mean)
    # r13 opt: models ride as LITERAL matrices per round (one F.expr parse
    # per matrix via _mat_sql) instead of a broadcast model frame — drops
    # the per-round 1-row createDataFrame + crossJoin BroadcastExchange;
    # generated code text stays round-invariant so codegen caches hit.
    # Bit-parity per kmeans_fit. The explode/regroup trees below ARE
    # round-invariant and stay hoisted.
    sj = F.floor(F.col("pos") / sub).cast("int")
    _shapes: dict[tuple[bool, bool], tuple] = {}

    def _shape(do_g: bool, do_p: bool) -> tuple:
        cached = _shapes.get((do_g, do_p))
        if cached is not None:
            return cached
        entries = []
        if do_g:
            entries.append(
                F.struct(
                    F.lit(-1).alias("lvl"),
                    F.col("cg").alias("c"),
                    F.col("pos").alias("p"),
                )
            )
        if do_p:
            entries.append(
                F.struct(
                    sj.alias("lvl"),
                    F.element_at("cs", sj + 1).alias("c"),
                    (F.col("pos") % sub).alias("p"),
                )
            )
        pre = ["cg"] if do_g else []
        if do_p:
            pre.append(F.array(*[F.col(f"c{j}") for j in range(m)]).alias("cs"))
        exploded = F.explode(F.array(*entries)).alias("e")
        _shapes[(do_g, do_p)] = (pre, exploded)
        return _shapes[(do_g, do_p)]

    for t in range(max(coarse_iter, pq_iter)):
        do_g = t < coarse_iter
        do_p = t < pq_iter
        cols = [F.col("v")]
        if do_g:
            cols.append(_nearest_centroid_expr(cents, F.col("v")).alias("cg"))
        if do_p:
            cols.extend(
                _nearest_centroid_expr(
                    books[j], F.slice(F.col("v"), j * sub + 1, sub)
                ).alias(f"c{j}")
                for j in range(m)
            )
        pre, exploded = _shape(do_g, do_p)
        assigned = v.select(*cols)
        long = (
            assigned.select(*pre, F.posexplode("v"))
            .select(exploded, "col")
            .select("e.lvl", "e.c", "e.p", "col")
        )
        rows = long.groupBy("lvl", "c", "p").agg(mean_expr).collect()
        by: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by.setdefault((r["lvl"], r["c"]), {})[r["p"]] = float(r["m"])
        if do_g:
            cents = [
                [by[(-1, c)][p] for p in range(dim)] if (-1, c) in by else cents[c]
                for c in range(n_cells)
            ]
        if do_p:
            books = [
                [
                    [by[(j, c)][p] for p in range(sub)]
                    if (j, c) in by
                    else books[j][c]
                    for c in range(k)
                ]
                for j in range(m)
            ]
    return cents, books


def _pq_code_expr(vec: Column, books: list[list[list[float]]], sub: int) -> Column:
    """array<int> of per-subspace nearest-centroid codes (the PQ encoding),
    one argmax expression per subspace over the sliced subvector."""
    codes = []
    for j, cents in enumerate(books):
        sv = F.slice(vec, j * sub + 1, sub)
        scores = _centroid_scores(cents, sv)
        codes.append((F.array_position(scores, F.array_max(scores)) - 1).cast("int"))
    return F.array(*codes)


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
    sub = dim // m_books if (m_books := len(books)) else 0
    if codes is None:
        codes = corpus.select(
            F.col(id_col).alias("corpus_id"),
            _pq_code_expr(_as_double(F.col(vec_col)), books, sub).alias("codes"),
        )
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
    q = q.withColumn("__lut", _query_lut_col(books, sub))
    # left-to-right add in subspace order (bit-parity with the oracle's
    # ordered ADC sum); [] indexing is 0-based, matching the code values
    score = F.expr(" + ".join(f"__lut[{j}][codes[{j}]]" for j in range(len(books))))
    scored = F.broadcast(q).crossJoin(codes).select(
        "query_id", "corpus_id", score.alias("pq_dist")
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


def _query_lut_col(books: list[list[list[float]]], sub: int) -> Column:
    """The m x k ADC distance table for one query vector, as a nested
    array column — materialized once per query row, looked up per code.
    Reads the conventional ``qv`` column (hardcoded, like the other
    cached helpers: the cache key covers only the model, so a
    caller-supplied column would bind the first caller's tree for
    everyone)."""

    def build() -> Column:
        lut_terms = []
        for j, cents in enumerate(books):
            qj = F.slice(F.col("qv"), j * sub + 1, sub)
            mat = F.expr(_mat_sql(cents))
            norms2 = F.expr(_vec_sql([sum(x * x for x in c) for c in cents]))
            lut_terms.append(
                F.zip_with(
                    mat, norms2, lambda c, n2: n2 - F.lit(2.0) * dot_expr(qj, c)
                )
            )
        return F.array(*lut_terms)

    return _prep_expr(("lut", sub, _model_key(books)), build)


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
    sub = dim // len(books)
    if index is None:
        index = corpus.select(
            F.col(id_col).alias("corpus_id"),
            _nearest_centroid_expr(
                cents, _as_double(F.col(vec_col))
            ).alias("bucket"),
            _pq_code_expr(_as_double(F.col(vec_col)), books, sub).alias("codes"),
        )
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
            _query_lut_col(books, sub).alias("__lut"),
            probes_col.alias("__probes"),
        ),
        eager=False,
    )
    # the LUT rides through the explode — plain column refs off the leaf,
    # so no second broadcast join is needed to attach it
    qp = qprep.select("query_id", "__lut", F.explode("__probes").alias("bucket"))
    score = F.expr(" + ".join(f"__lut[{j}][codes[{j}]]" for j in range(len(books))))
    scored = (
        F.broadcast(qp)
        .join(index, "bucket")
        .select("query_id", "corpus_id", score.alias("pq_dist"))
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


def _residual_lut_col(books: list[list[list[float]]], sub: int) -> Column:
    """The m x k ADC table for a (query, probed-cell) row: distances are
    against the QUERY RESIDUAL (the ``__qr`` column by convention — the
    caller materializes ``qv - cent[bucket]`` ONCE per row, so the
    centroid-matrix literal appears once in the plan instead of once
    per subspace slice), because residual-PQ codes quantize corpus
    residuals — both sides subtract the same cell centroid, so ADC
    approximates the original distance with the coarse component
    removed. Cached with the model."""

    def build() -> Column:
        lut_terms = []
        for j, cbook in enumerate(books):
            qj = F.slice(F.col("__qr"), j * sub + 1, sub)
            mat = F.expr(_mat_sql(cbook))
            norms2 = F.expr(_vec_sql([sum(x * x for x in c) for c in cbook]))
            lut_terms.append(
                F.zip_with(
                    mat, norms2, lambda c, n2: n2 - F.lit(2.0) * dot_expr(qj, c)
                )
            )
        return F.array(*lut_terms)

    return _prep_expr(("rlut", sub, _model_key(books)), build)


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
    residuals (``pq_fit`` over ``x - cent[bucket]``); ``index`` may pass
    the precomputed lists ``(corpus_id, bucket, codes)``. Every
    fit/assign/probe/ADC step keeps the exact-integer-mean + ordered
    fold conventions, so the full pipeline is replayed by
    ``_ivfpq_residual_ann_oracle``'s unrolled CTEs."""
    sub = dim // len(books)
    if index is None:
        v = _as_double(F.col(vec_col))
        bucketed = corpus.select(
            F.col(id_col).alias("corpus_id"),
            v.alias("__v"),
            _nearest_centroid_expr(cents, v).alias("bucket"),
        )
        index = bucketed.select(
            "corpus_id",
            "bucket",
            _pq_code_expr(
                _residual_expr(F.col("__v"), cents, F.col("bucket")), books, sub
            ).alias("codes"),
        )
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
            _residual_lut_col(books, sub).alias("__lut"),
        ),
        eager=False,
    )
    # qr^2 leads the left-to-right fold (bit-parity with the oracle's sum)
    score = F.col("__qr2") + F.expr(
        " + ".join(f"__lut[{j}][codes[{j}]]" for j in range(len(books)))
    )
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
