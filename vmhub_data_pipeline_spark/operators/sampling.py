"""Dataset-assembly operators for training-data curation: deterministic
splits, stratified sampling, sequence packing, and a distributed global
shuffle index.

These are the steps that turn a cleaned corpus into a training set. All
randomness is *derived* (md5 over a seed + key), never drawn: every
operator is a pure function of its inputs, so reruns, retries, and the
DuckDB oracle all agree byte-for-byte — the property a 100 TB pipeline
needs for resumability.

Scale notes per operator:

* ``assign_split`` — stateless projection (md5 + CASE); zero shuffle,
  runs at scan speed.
* ``stratified_sample`` — rank-within-stratum; Spark rewrites the
  ``row_number() <= n`` filter into WindowGroupLimit, which prunes to n
  rows per stratum *map-side* before the shuffle, so skewed strata cost
  O(n) post-shuffle no matter how large the stratum.
* ``pack_sequences`` — running token sum *per shard* (not global): each
  shard packs independently in parallel, the standard sharded-packing
  layout for pretraining data. One hash shuffle on the shard key.
* ``zip_with_global_index`` — distributed total order -> dense 0-based
  index without a single-partition window: range-repartition on the sort
  key, count rows per partition (tiny driver-side list, like RDD
  ``zipWithIndex``), then enumerate each partition with its prefix-sum
  offset via Arrow ``mapInPandas``. Two jobs over the (persisted) narrow
  projection, no global sort bottleneck.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .caching import get


def _ranged_preamble(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str,
    num_partitions: int,
    agg_cols: list,
    cache_key: tuple | None,
    tag: tuple,
):
    """The shared first pass: range-repartition + sort on the key, pid
    column, eager localCheckpoint, then ONE small job pulling the
    per-partition aggregate rows (counts or column subtotals —
    O(num_partitions) driver state). ``cache_key`` (leading element must
    be the current applicationId) makes the materialized frame and its
    driver rows reusable across invocations; ``tag`` namespaces the
    entry so callers with the same corpus key but different shapes
    (row-grain counts vs value-grain subtotals) cannot collide. The
    input PLAN's semantic hash also rides in the key, so two callers
    sharing a corpus label but passing differently-FILTERED frames
    (e.g. two baseline periods) can never be served each other's
    materialized data — key misuse becomes a cache miss, never a wrong
    answer. The entry lives in the artifact registry as
    ``order_preamble``: the drift monitors' fitted-model state, shared by
    every invocation against the same corpus."""

    def build():
        ranged = (
            df.repartitionByRange(num_partitions, F.col(order_col), F.col(tiebreak_col))
            .sortWithinPartitions(order_col, tiebreak_col)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        return ranged, ranged.groupBy("__pid").agg(*agg_cols).collect()

    if cache_key is None:
        return build()
    plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
    return get(
        "order_preamble",
        df.sparkSession,
        tag + tuple(cache_key[1:]) + (plan_hash,),
        build,
    )


def derived_hash(seed: str, key_col: str) -> F.Column:
    """Lowercase md5 hex of ``"{seed}:{key}"`` — the shared derived-randomness
    primitive (identical in DuckDB: ``md5(concat('{seed}:', CAST(k AS VARCHAR)))``)."""
    return F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))


def assign_split(
    df: DataFrame,
    id_col: str,
    seed: str = "split-v1",
    thresholds: Sequence[tuple[str, str | None]] = (
        ("train", "cccc"),
        ("val", "e666"),
        ("test", None),
    ),
) -> DataFrame:
    """Deterministic hash split: bucket each row by the first 4 hex chars of
    its derived hash (uniform over 65536 values) against lexical thresholds.

    ``thresholds`` is ordered (name, upper_bound_hex); the last entry's bound
    must be None (catch-all). The default is the classic 80/10/10:
    0xcccc/0x10000 = 0.79999, 0xe666/0x10000 = 0.89999. Membership is a pure
    function of (seed, id): adding data never reassigns existing rows —
    the property that keeps eval sets uncontaminated across corpus versions.
    Zero shuffle: a projection the optimizer keeps inside the scan stage.
    """
    bounds = list(thresholds)
    if bounds[-1][1] is not None:
        raise ValueError("last threshold must be the catch-all (bound=None)")
    hexes = [b for _, b in bounds[:-1]]
    # md5 output is lowercase hex; an uppercase or misordered bound would
    # silently misassign rows (ASCII 'A'-'F' < 'a'-'f'), not error
    for h in hexes:
        if len(h) != 4 or any(c not in "0123456789abcdef" for c in h):
            raise ValueError(f"threshold bound {h!r} must be 4 lowercase hex chars")
    if hexes != sorted(hexes):
        raise ValueError(f"threshold bounds must ascend, got {hexes}")
    h = F.substring(derived_hash(seed, id_col), 1, 4)
    expr = F.lit(bounds[-1][0])
    for name, bound in reversed(bounds[:-1]):
        expr = F.when(h < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    n_per_stratum: int,
    id_col: str,
    seed: str = "sample-v1",
) -> DataFrame:
    """Exactly-n-per-stratum deterministic sample: rank rows inside each
    stratum by derived hash (a seeded uniform permutation) and keep the
    first n. The ``row_number <= n`` shape compiles to WindowGroupLimit, so
    each map task forwards at most n rows per stratum into the shuffle —
    a stratum with a billion rows and a stratum with a hundred cost the
    same downstream.
    """
    w = (
        Window.partitionBy(*strata_cols)
        .orderBy(derived_hash(seed, id_col), F.col(id_col))
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def pack_sequences(
    df: DataFrame,
    shard_col: str | Sequence[str],
    order_col: str,
    token_col: str,
    budget: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Contiguous sequence packing: walk each shard in ``order_col`` order,
    accumulate token counts, and open a new bin every ``budget`` tokens
    (a document that straddles a boundary belongs to the bin it starts in).

    Packing per *shard* — not globally — is deliberate: shards pack in
    parallel with one hash shuffle, and bin identity is (shard, bin_id),
    exactly how pretraining shards are laid out. A global pack would force
    a single-partition running sum. Adds ``tokens_before`` (exclusive
    running sum) and ``bin_id``.

    ``order_col`` must be unique per shard (or pass ``tiebreak_col``):
    a ROWS running sum over tied keys depends on physical row order, which
    would break the determinism contract between reruns and the oracle.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    shards = [shard_col] if isinstance(shard_col, str) else list(shard_col)
    order = [order_col] if tiebreak_col is None else [order_col, tiebreak_col]
    w = (
        Window.partitionBy(*shards)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tokens_before = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    return df.withColumn("tokens_before", tokens_before).withColumn(
        "bin_id", F.floor(F.col("tokens_before") / F.lit(budget)).cast("long")
    )


def zip_with_global_index(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str,
    num_partitions: int = 32,
    return_count: bool = False,
):
    """Dense 0-based index over the total order (order_col, tiebreak_col),
    computed distributively.

    A bare ``row_number() OVER (ORDER BY ...)`` collapses to ONE partition —
    the canonical global-sort bottleneck. Instead (the RDD ``zipWithIndex``
    strategy, DataFrame-native):

    1. range-repartition + sort within partitions on the key — Spark's
       scalable total sort;
    2. one small job counts rows per partition (``num_partitions`` longs to
       the driver — same legitimacy class as k-means centroid pulls);
    3. prefix-sum those counts into per-partition offsets and enumerate each
       partition in an Arrow ``mapInPandas`` (zero extra shuffle, order
       preserved within the sorted, persisted partition).

    Because the key is totally ordered and unique (tiebreak included), the
    resulting index is independent of where the sampled range boundaries
    happen to fall. Input should be projected narrow *before* calling — only
    the key columns ride through Arrow. The intermediate is materialized via
    ``localCheckpoint(eager=True)`` so the count job and the enumerate job
    share one scan AND pid assignment cannot drift between them (a plain
    persist could silently recompute with re-sampled range boundaries on
    eviction — wrong offsets; a checkpoint read either succeeds or fails).
    Checkpoint blocks are released by the ContextCleaner when the returned
    frame is dropped, unlike an explicit persist which would leak per call.

    ``return_count=True`` returns ``(df, n)``: the total row count falls
    out of the per-partition count job for free. :func:`distributed_ntile`
    is the consumer — with ``n`` as a driver literal its NTILE arithmetic
    needs no separate counting aggregate or 1-row broadcast (one fewer
    job per tiling pass; events_rfm_segmentation runs three).
    """
    ranged, rows = _ranged_preamble(
        df,
        order_col,
        tiebreak_col,
        num_partitions,
        [F.count(F.lit(1)).alias("count")],
        None,
        ("zwgi", order_col, tiebreak_col, num_partitions),
    )
    counts = {r["__pid"]: r["count"] for r in rows}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_fields = [f for f in ranged.schema.fields if f.name != "__pid"]
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    out_schema += ", global_index long"
    out_cols = [f.name for f in out_fields]

    def enumerate_partition(batches: Iterator) -> Iterator:
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["__pid"].iloc[0])]
            out = pdf[out_cols].copy()
            out["global_index"] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield out

    out = ranged.mapInPandas(enumerate_partition, out_schema)
    return (out, acc) if return_count else out


def global_order_values(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str,
    positions,
    num_partitions: int = 32,
    cache_key: tuple | None = None,
) -> list:
    """The ``order_col`` values at the given 0-based ranks of the total
    order ``(order_col, tiebreak_col)`` — exact distributed order
    statistics, returned as a driver-side list (one value per position,
    ordered by position; duplicates preserved).

    Shares :func:`zip_with_global_index`'s structure (range repartition +
    per-partition prefix-sum offsets) but never enumerates the corpus:
    the partition counts locate which partitions hold the requested
    ranks, a partition-id filter prunes every other partition BEFORE the
    Arrow boundary, and the picker streams only the few surviving sorted
    partitions, emitting just the rows at the requested local offsets.
    For p requested positions the Arrow transfer is O(p/num_partitions
    of the corpus) instead of O(corpus) — the quantile-boundary fetch a
    drift monitor or equi-depth binner actually needs (PSI wants 9
    values, not a tile per row). Driver state: the values themselves,
    O(p).

    ``positions`` may be a callable ``n -> sequence`` for rank sets that
    depend on the total row count (quantile boundaries), evaluated after
    the partition-count job — no separate counting pass.

    ``cache_key`` (leading element: the current applicationId) shares
    the ranged/checkpointed frame and partition counts across
    invocations against the same corpus — the fitted-model caching
    contract the drift monitors need (a deployed monitor freezes its
    baseline; only the first fit pays the checkpoint pass)."""
    ranged, rows = _ranged_preamble(
        df.select(order_col, tiebreak_col),
        order_col,
        tiebreak_col,
        num_partitions,
        [F.count(F.lit(1)).alias("count")],
        cache_key,
        ("gov", order_col, tiebreak_col, num_partitions),
    )
    counts = {r["__pid"]: r["count"] for r in rows}
    if callable(positions):
        positions = positions(sum(counts.values()))
    pos = sorted(set(int(p) for p in positions))
    if not pos:
        return []
    if pos[0] < 0:
        raise ValueError(f"positions must be >= 0, got {pos[0]}")
    # per target partition: (global offset, the partition-LOCAL ranks wanted)
    wanted: dict[int, tuple[int, list[int]]] = {}
    acc = 0
    for pid in sorted(counts):
        lo, hi = acc, acc + counts[pid]
        locs = [p - lo for p in pos if lo <= p < hi]
        if locs:
            wanted[pid] = (lo, locs)
        acc = hi
    if pos[-1] >= acc:
        raise ValueError(f"position {pos[-1]} out of range (n={acc})")

    def pick(batches: Iterator) -> Iterator:
        seen = 0
        off: int | None = None
        want: list[int] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if off is None:
                off, want = wanted[int(pdf["__pid"].iloc[0])]
            hits = [j for j in want if seen <= j < seen + len(pdf)]
            if hits:
                out = pdf.iloc[[j - seen for j in hits]][[order_col]].copy()
                out["__rank"] = [off + j for j in hits]
                yield out
            seen += len(pdf)

    order_type = {f.name: f.dataType.simpleString() for f in ranged.schema.fields}[
        order_col
    ]
    picked = ranged.where(
        F.col("__pid").isin([int(p) for p in wanted])
    ).mapInPandas(pick, f"{order_col} {order_type}, __rank long")
    by_rank = {r["__rank"]: r[order_col] for r in picked.collect()}
    return [by_rank[p] for p in pos]


def distributed_prefix_sums(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str,
    sum_cols: Sequence[str],
    num_partitions: int = 32,
    cache_key: tuple | None = None,
    return_totals: bool = False,
):
    """Exact running totals of ``sum_cols`` over the total order
    ``(order_col, tiebreak_col)`` — the distributed cumulative sum — as
    new ``{col}_cum`` BIGINT columns, without a single-partition window.

    Same two-pass shape as :func:`zip_with_global_index` (the classic
    scan-then-propagate parallel prefix sum): range-repartition + sort on
    the key, one small job pulls each partition's column SUBTOTALS to the
    driver (``num_partitions x len(sum_cols)`` longs — the
    partition-count legitimacy class), prefix-sum those into
    per-partition offsets, then a window PARTITIONED BY the range
    partition id computes the local cumulative in parallel and adds the
    broadcast offset (a map literal keyed by partition id). A bare
    ``SUM() OVER (ORDER BY ...)`` would collapse the whole frame through
    one task — this never does; every stage is bounded by the range
    partition size. ECDFs, Lorenz-style cumulative shares, and
    KS-distance scans are the consumers.

    The ranged frame is localCheckpointed so the subtotal job and the
    output plan share one scan and a consistent pid assignment (the
    zip_with_global_index argument verbatim). ``cache_key`` shares the
    checkpointed frame and subtotals across invocations against the
    same corpus (see :func:`global_order_values`); ``return_totals=True``
    additionally returns the grand totals of ``sum_cols`` as a list of
    ints — they fall out of the per-partition subtotal job for free, so
    callers (the KS/PSI drift monitors) skip a separate counting job."""
    ranged, rows = _ranged_preamble(
        df,
        order_col,
        tiebreak_col,
        num_partitions,
        [F.sum(c).cast("long").alias(c) for c in sum_cols],
        cache_key,
        ("dps", order_col, tiebreak_col, tuple(sum_cols), num_partitions),
    )
    subtotals = {r["__pid"]: [r[c] or 0 for c in sum_cols] for r in rows}
    offsets: dict[int, list[int]] = {}
    acc = [0] * len(sum_cols)
    for pid in sorted(subtotals):
        offsets[pid] = list(acc)
        acc = [a + b for a, b in zip(acc, subtotals[pid])]
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pids = sorted(offsets)
    out = ranged
    for i, c in enumerate(sum_cols):
        omap = F.map_from_arrays(
            F.array(*[F.lit(p) for p in pids]),
            F.array(*[F.lit(offsets[p][i]).cast("long") for p in pids]),
        )
        out = out.withColumn(
            f"{c}_cum",
            (F.sum(F.col(c)).over(w) + F.element_at(omap, F.col("__pid"))).cast(
                "long"
            ),
        )
    out = out.drop("__pid")
    return (out, list(acc)) if return_totals else out


def distributed_ntile(
    df: DataFrame,
    k: int,
    order_col: str,
    tiebreak_col: str,
    out_col: str = "tile",
    num_partitions: int = 32,
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY order_col, tiebreak_col)`` without the
    single-partition global window.

    A bare ``F.ntile(k).over(Window.orderBy(...))`` forces every row through
    ONE task — fine at fixture scale, a single-executor sort of the whole
    key space at 100 TB. Instead: the 0-based dense global rank comes from
    :func:`zip_with_global_index` (range repartition + per-partition prefix
    sums — fully distributed), the total row count ``n`` falls out of that
    pass's partition-count job as a DRIVER LITERAL (``return_count`` — no
    separate counting aggregate, no 1-row broadcast), and the tile is
    SQL-standard NTILE arithmetic on ``(rank, n, k)``: with ``q = n div k``
    and ``rem = n mod k``, the first ``rem`` tiles hold ``q+1`` rows and
    the rest hold ``q``::

        tile(r) = r div (q+1) + 1                      if r < rem*(q+1)
                = rem + (r - rem*(q+1)) div q + 1      otherwise

    (``rem = 0`` degenerates to ``r div q + 1``; ``n < k`` puts every row in
    the first branch, one row per tile — both exactly NTILE's behavior, so
    the DuckDB oracle can keep its plain ``NTILE(k) OVER (ORDER BY ...)``.)

    Requires ``tiebreak_col`` to be a unique key of ``df`` (it is the join
    key for attaching the tile back, and NTILE determinism needs the total
    order anyway). Only the two key columns ride through the index path;
    the tile attaches with one ``tiebreak_col``-keyed equi-join — same
    grain as ``df`` itself, no data-grain global sort anywhere.
    """
    if k < 1:
        raise ValueError(f"ntile k must be >= 1, got {k}")
    idx, n = zip_with_global_index(
        df.select(tiebreak_col, order_col), order_col, tiebreak_col,
        num_partitions, return_count=True,
    )
    # pure BIGINT arithmetic (div, %) — no float floor, exact at any n;
    # n is a Python int, so the branch structure resolves driver-side
    q, rem = n // k, n % k
    if rem == 0:
        # q = 0 (empty input) divides by zero -> NULL tile on zero rows,
        # same as the pre-literal crossJoin form
        tile = F.expr(f"global_index div {q} + 1")
    else:
        tile = F.expr(
            f"CASE WHEN global_index < {rem * (q + 1)} "
            f"THEN global_index div {q + 1} + 1 "
            f"ELSE {rem} + (global_index - {rem * (q + 1)}) div {q} + 1 END"
        )
    tiles = idx.select(tiebreak_col, tile.cast("long").alias(out_col))
    return df.join(tiles, tiebreak_col)
