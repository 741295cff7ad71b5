"""Streaming catalog entries — real Structured Streaming runs whose final
output is deterministic on a closed dataset, so they CAN be oracle-checked:
the driver sees a genuine readStream->writeStream execution hash-match a
batch SQL oracle.

The events fixture is landed as NDJSON (the lake format) into a scratch
dir ONCE per (spark app, sf_dir) and cached — repeated invocations (bench
loops, the driver's rows+hash double-run) only pay the streaming read, not
a rewrite of the fixture. Each run then streams with an availableNow
trigger to completion and returns the memory-sink table. Windowed aggs use
complete output mode (every window's final value emitted exactly once);
the stateful dedup uses append (rows emitted as they survive, no
unflushed-final-window caveat).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import dsum, sql_dsum
from ..operators.artifacts import artifact_complete
from ..operators.caching import get, store
from ..operators.index_lifecycle import (
    artifact_dir,
    grow,
    grown_artifact_dir,
    growth_dir,
    mount,
    mounted,
    publish,
)
from ..streaming.events import TS_FORMAT, events_file_stream
from ..tables import load
from . import register


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# Every landed fixture is a per-(session, sf_dir) scratch
# dir owned by its registry entry: eviction, invalidation and the exit
# sweep remove it from disk. Keyed by app id so a fresh SparkSession never
# trusts a stale tempdir another process may have cleaned up.
for _name in (
    "landed_events", "landed_replay", "landed_docs", "landed_queries",
    "landed_arrivals",
):
    store(_name, on_evict=_rmtree)


def _landed_events(spark: SparkSession, sf_dir: str) -> str:
    """Land events.parquet as NDJSON once per app+sf_dir; reuse afterwards."""

    def build() -> str:
        (events,) = load(spark, sf_dir, "events")
        scratch = tempfile.mkdtemp(prefix="vmhub_stream_")
        events.repartition(4).write.mode("overwrite").option(
            "timestampFormat", TS_FORMAT
        ).json(scratch)
        return scratch

    return get("landed_events", spark, (sf_dir,), build)


_STREAM_TUMBLE_ORACLE = f"""
SELECT
  CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
  COUNT(*) AS n_events,
  {sql_dsum('value', 2, 'sum_value')}
FROM events
GROUP BY window_start
"""


@register("streaming_tumbling_day", oracle=_STREAM_TUMBLE_ORACLE, tags=("streaming",))
def streaming_tumbling_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows via an ACTUAL streaming execution (file
    source -> withWatermark -> window agg -> memory sink, availableNow).
    Distinct aggregates are unsupported in streaming, so the payload is
    count + exact-quantized sum — both deterministic, hence oracle-able.
    """
    scratch = _landed_events(spark, sf_dir)

    stream = (
        events_file_stream(spark, scratch)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )
    return _run_to_memory(spark, stream, "stream_tumble")


def _run_to_memory(
    spark: SparkSession,
    stream,
    prefix: str,
    output_mode: str = "complete",
    state_partitions: int = 8,
) -> DataFrame:
    """Run a bounded stream to a memory sink and return the sink table.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    DURATION OF THE RUN (restored after): stateful operators create one
    state store per shuffle partition and pay its open/commit on every
    micro-batch, so state partitioning should track KEY CARDINALITY x
    arrival rate, not the batch session's scan-side shuffle width.
    Measured here: the stream-stream interval join is 3x faster at 8
    state partitions than at the session's 32 on the fixture's 15-user
    key space; at production rates you raise it, but deliberately —
    it is also frozen into the checkpoint by the first run.
    """
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


_STREAM_SESSION_ORACLE = """
WITH seq AS (
  SELECT
    user_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
           OR LAG(epoch_us(ts)) OVER w IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM seq
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_seq
"""


@register("streaming_session_windows", oracle=_STREAM_SESSION_ORACLE, tags=("streaming", "session"))
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window() in an ACTUAL streaming run, oracle-checked
    against the SQL lag-gap-cumsum sessionization: (user, session_start,
    n_events) are definitionally identical between the two formulations
    (session END differs — session_window pads the gap — so it's excluded).
    """
    scratch = _landed_events(spark, sf_dir)

    stream = (
        events_file_stream(spark, scratch)
        .withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return _run_to_memory(spark, stream, "stream_sess")


def _landed_events_with_replay(spark: SparkSession, sf_dir: str) -> str:
    """Land events once, then APPEND a deterministic subset (user_id % 7
    == 0) as extra files — simulating the reference's duplicate page
    delivery on retry (its replay risk is why the warehouse load dedups;
    reference src/utils/bigquery_helper.py truncate-reload semantics)."""

    def build() -> str:
        (events,) = load(spark, sf_dir, "events")
        scratch = tempfile.mkdtemp(prefix="vmhub_stream_replay_")
        w = events.repartition(4).write.option("timestampFormat", TS_FORMAT)
        w.mode("overwrite").json(scratch)
        events.filter(F.col("user_id") % 7 == 0).repartition(2).write.option(
            "timestampFormat", TS_FORMAT
        ).mode("append").json(scratch)
        return scratch

    return get("landed_replay", spark, (sf_dir,), build)


_STREAM_DEDUP_ORACLE = """
SELECT event_id, ts, user_id, event_type, value
FROM events
"""


@register("streaming_dedup_replay", oracle=_STREAM_DEDUP_ORACLE, tags=("streaming", "dedup"))
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful streaming dedup: the source directory contains the
    fixture PLUS replayed copies of ~1/7 of it; the stream drops them with
    dropDuplicatesWithinWatermark (bounded state — event_ids are evictable
    once the watermark passes), and the surviving rows hash-match the clean
    batch table row-for-row. Append mode: dedup emits rows immediately, no
    aggregation, so no unflushed-final-window caveat."""
    scratch = _landed_events_with_replay(spark, sf_dir)
    stream = (
        events_file_stream(spark, scratch)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return _run_to_memory(spark, stream, "stream_dedup", output_mode="append")


_STREAM_JOIN_ORACLE = """
SELECT
  b.event_id AS buy_id,
  v.event_id AS view_id,
  b.user_id  AS user_id,
  v.ts       AS view_ts,
  b.ts       AS buy_ts,
  b.value    AS buy_value
FROM events b
JOIN events v
  ON b.user_id = v.user_id
WHERE b.event_type = 'purchase'
  AND v.event_type = 'view'
  AND v.ts <= b.ts
  AND b.ts <= v.ts + INTERVAL 1 HOUR
"""


@register("streaming_interval_join", oracle=_STREAM_JOIN_ORACLE, tags=("streaming", "join"))
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join: purchases attributed to a view by
    the same user within the preceding hour — two streaming readers over
    the same landed directory, watermarks on BOTH event-time columns, and
    an inequality time-bound in the join condition. That combination is
    what lets Spark bound the join state: each side buffers only rows
    younger than (watermark + interval), so state is O(rate x 1h), not
    O(stream). Inner stream-stream joins emit in append mode as soon as a
    match is sealed; on a closed dataset the emitted set is exactly the
    batch join, which is what the oracle checks."""
    scratch = _landed_events(spark, sf_dir)
    views = (
        events_file_stream(spark, scratch)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 day")
    )
    buys = (
        events_file_stream(spark, scratch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("buy_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("buy_ts"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_ts", "1 day")
    )
    joined = buys.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("buy_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("buy_id", "view_id", "user_id", "view_ts", "buy_ts", "buy_value")
    return _run_to_memory(spark, joined, "stream_ij", output_mode="append")


def _landed_docs(spark: SparkSession, sf_dir: str) -> str:
    """Land documents.parquet as NDJSON once per app+sf_dir (same caching
    contract as _landed_events)."""

    def build() -> str:
        (docs,) = load(spark, sf_dir, "documents")
        scratch = tempfile.mkdtemp(prefix="vmhub_stream_docs_")
        docs.repartition(4).write.mode("overwrite").json(scratch)
        return scratch

    return get("landed_docs", spark, (sf_dir,), build)


from .text import _PII_ORACLE as _BATCH_PII_ORACLE  # noqa: E402  (registered before this module in _load_all)


@register("streaming_pii_redact", oracle=_BATCH_PII_ORACLE, tags=("streaming", "curation"))
def streaming_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII scrub as an ACTUAL streaming execution — curation applied at
    ingest time rather than as a batch pass: file source over the landed
    documents -> the EXACT SAME pii_redact_projection the batch query uses
    -> append memory sink (stateless: no watermark, every input row emits
    exactly once, so the batch oracle applies VERBATIM and this is the
    fifth real streaming run with a full hash-match check)."""
    from .text import pii_redact_projection

    scratch = _landed_docs(spark, sf_dir)
    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    stream = spark.readStream.schema(schema).json(scratch)
    redacted = pii_redact_projection(stream)
    return _run_to_memory(
        spark, redacted, "stream_pii", output_mode="append", state_partitions=8
    )


# Incremental dedup AT INGEST: the streaming twin of dedup_incremental_exact.
# The warehouse corpus (6/7 of documents) is the STATIC side, registered as
# a fingerprint index; the stream is a full at-least-once re-delivery (all
# documents — old rows redelivered plus the 1/7 genuinely new). A
# stream-static LEFT join on the content digest labels every arriving row
# already-present (dup_of = canonical id) or new content — the decision a
# production ingest job makes per micro-batch, against an index it never
# rescans.
_STREAM_INCDEDUP_ORACLE = """
WITH corpus AS (
  SELECT md5(lower(text)) AS fp, MIN(doc_id) AS dup_of
  FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1
),
delivery AS (
  SELECT doc_id, md5(lower(text)) AS fp FROM documents
)
SELECT d.doc_id, d.fp, c.dup_of, (c.dup_of IS NULL) AS is_new_content
FROM delivery d LEFT JOIN corpus c ON d.fp = c.fp
"""


@register(
    "streaming_incremental_dedup",
    oracle=_STREAM_INCDEDUP_ORACLE,
    tags=("streaming", "dedup"),
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest via a REAL stream-static join: arriving documents
    (file stream) join the warehouse fingerprint index (static DataFrame)
    on the md5 content digest; matches carry the canonical doc_id, misses
    are new content. Stateless append — every arriving row emits exactly
    once, so the batch SQL oracle applies verbatim (the sixth real
    streaming execution with a full hash-match check).

    Scale shape: stream-static joins re-plan the static side per
    micro-batch, so the index is joined (broadcast while it fits, shuffled
    hash join beyond) but never re-scanned into state — join state is ZERO
    because only the stream side flows. The fingerprint index carries
    (fp, canonical id), never text: the 100 TB corpus contributes one
    digest row per document, exactly like dedup_incremental_exact's
    asymmetric audit, but amortized to per-batch cost at ingest time."""
    scratch = _landed_docs(spark, sf_dir)
    (docs,) = load(spark, sf_dir, "documents")
    index = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .groupBy(F.md5(F.lower("text")).alias("fp"))
        .agg(F.min("doc_id").alias("dup_of"))
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    stream = (
        spark.readStream.schema(schema)
        .json(scratch)
        .select("doc_id", F.md5(F.lower("text")).alias("fp"))
        .join(index, "fp", "left")
        .select("doc_id", "fp", "dup_of", F.col("dup_of").isNull().alias("is_new_content"))
    )
    return _run_to_memory(
        spark, stream, "stream_incdedup", output_mode="append", state_partitions=8
    )


_STREAM_CMS_ORACLE = """
WITH ev AS (SELECT event_type FROM events),
r AS (SELECT UNNEST(range(4)) AS r)
SELECT r.r AS r,
  CAST(CAST(concat('0x', substr(md5(concat('cms', CAST(r.r AS VARCHAR), ':', ev.event_type)), 1, 13)) AS BIGINT) % 64 AS BIGINT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM ev CROSS JOIN r
GROUP BY 1, 2
"""


@register("streaming_cms_fold", oracle=_STREAM_CMS_ORACLE, tags=("streaming", "sketch"))
def streaming_cms_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min counters maintained by an ACTUAL streaming execution: the
    same 4x64 deterministic fold as agg_cms_heavy_hitters, but as a
    stateful streaming aggregation (file source -> explode (row, bucket)
    -> groupBy count, complete mode) — the online heavy-hitter sketch a
    monitoring pipeline keeps per topic.

    The state is the CONSTANT-size counter grid (at most 256 rows)
    regardless of stream volume or key cardinality — the property that
    makes CM the streaming frequency structure; a per-key streaming count
    would grow state with distinct keys forever. Counters after
    availableNow-draining the landed fixture equal the batch fold exactly,
    so the full hash oracle applies to a REAL micro-batch execution."""
    from ..streaming.events import events_file_stream

    scratch = _landed_events(spark, sf_dir)

    def bucket(r: F.Column, key: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cms"), r.cast("string"), F.lit(":"), key)),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )

    stream = (
        events_file_stream(spark, scratch)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            bucket(F.lit(r), F.col("event_type")).alias("bucket"),
                        )
                        for r in range(4)
                    ]
                )
            ).alias("rb")
        )
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return _run_to_memory(spark, stream, "stream_cms")


# Streaming drift monitor (r7): the PRODUCTION deployment shape of the
# batch PSI/KS screens — the baseline model (9 decile boundaries) is
# fitted BATCH-side on the training period and frozen; the stream then
# bins every arriving event against those fixed boundaries inside a
# day-windowed count. What ships to the scoring job is a 10-bin histogram
# per day, the exact input a drift alert consumes; the expensive part
# (order statistics) never runs on the stream. Bounds come from
# operators.sampling.global_order_values at the NTILE tile-end ranks
# (the stats_psi_drift convention, so the oracle keeps plain NTILE(10)).
_STREAM_PSI_SPLIT = "2024-01-15"

_STREAM_PSI_BINS_ORACLE = f"""
WITH c AS (
  SELECT event_id, CAST(ROUND(value * 100.0) AS BIGINT) AS cents, ts FROM events
),
base AS (SELECT * FROM c WHERE ts < TIMESTAMP '{_STREAM_PSI_SPLIT}'),
tiled AS (
  SELECT cents, NTILE(10) OVER (ORDER BY cents, event_id) AS tile FROM base
),
bounds AS (
  SELECT LIST(ub ORDER BY ub) AS bs
  FROM (SELECT MAX(cents) AS ub FROM tiled WHERE tile <= 9 GROUP BY tile)
),
binned AS (
  SELECT CAST(date_trunc('day', c.ts) AS TIMESTAMP) AS window_start,
    1 + LEN(LIST_FILTER(bounds.bs, b -> c.cents > b)) AS bin
  FROM c CROSS JOIN bounds
)
SELECT window_start, CAST(bin AS BIGINT) AS bin,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM binned GROUP BY window_start, bin
"""


@register(
    "streaming_psi_bins", oracle=_STREAM_PSI_BINS_ORACLE, tags=("streaming", "drift")
)
def streaming_psi_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-model drift binning inside a REAL streaming execution: the
    baseline period's decile boundaries are computed batch-side (exact
    distributed order statistics — 9 BIGINTs, O(model) driver state,
    frozen exactly as a deployed monitor freezes its training-period
    bins), inlined as a literal array, and every streamed event is
    binned scan-side into a day-windowed count. Output: (window_start,
    bin, n_events) — the per-day histogram a PSI alert consumes; at
    production rates the state is |days| x 10 rows regardless of event
    volume, and the stream-side work is a comparison against 9
    broadcast values per event (no sort, no repartition beyond the
    windowed count's key shuffle). The eighth real streaming execution
    in the catalog; complete-mode windowed agg, availableNow to
    completion, hash-matched against the NTILE(10) batch replay."""
    from ..operators.sampling import global_order_values

    (events,) = load(spark, sf_dir, "events")
    base = (
        events.where(F.col("ts") < F.lit(_STREAM_PSI_SPLIT).cast("timestamp"))
        .select(
            "event_id",
            F.round(F.col("value") * 100.0).cast("long").alias("cents"),
        )
    )
    from .stats import ntile_end_ranks

    # cache_key shares the fit's ranged/checkpointed frame across
    # invocations (the drift monitors' fitted-model contract — a deployed
    # monitor freezes its training-period bins; only the first fit pays
    # the checkpoint pass); ranks come from the shared NTILE-end helper
    # so all three drift monitors derive boundaries the same way
    bs = sorted(
        global_order_values(
            base,
            "cents",
            "event_id",
            lambda n: ntile_end_ranks(n, 10),
            num_partitions=8,
            cache_key=(spark.sparkContext.applicationId, sf_dir, "events-cents"),
        )
    )
    scratch = _landed_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100.0).cast("long")
    bin_col = 1 + F.size(
        F.filter(
            F.array(*[F.lit(b).cast("long") for b in bs]), lambda b: cents > b
        )
    )
    stream = (
        events_file_stream(spark, scratch)
        .withWatermark("ts", "1 day")
        .select("ts", bin_col.alias("bin"))
        .groupBy(F.window("ts", "1 day"), "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("bin").cast("long").alias("bin"),
            "n_events",
        )
    )
    return _run_to_memory(spark, stream, "stream_psi")


def _landed_queries(spark: SparkSession, sf_dir: str) -> str:
    """Land the fixture's query vectors (vec_id < 10, the catalog-wide ANN
    query-set convention) as NDJSON once per app+sf_dir. Vectors are cast
    to double BEFORE landing: Spark's JSON writer emits shortest
    round-trip decimals for doubles, so the streamed ``v`` is bit-equal
    to the batch path's ``_as_double(embedding)``. The scratch dir holds
    the online half of the ANN serving story."""

    def build() -> str:
        (emb,) = load(spark, sf_dir, "embeddings")
        scratch = tempfile.mkdtemp(prefix="vmhub_annq_")
        (
            emb.filter(F.col("vec_id") < 10)
            .select(
                F.col("vec_id").alias("query_id"),
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .json(scratch)
        )
        return scratch

    return get("landed_queries", spark, (sf_dir,), build)


def _ann_route_oracle() -> str:
    from .vector import _ivf_ann_oracle

    return _ivf_ann_oracle()


@register("streaming_ann_route", oracle=_ann_route_oracle(), tags=("streaming", "vector"))
def streaming_ann_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ANN serving as a REAL streaming execution — the ninth in the
    catalog: a micro-batched stream of query vectors is routed against the
    FROZEN flat-IVF serving index (``ivf_index_cached`` — the same
    resident centroids + localCheckpointed inverted lists every batch
    probe uses) via a stream-static equi-join on the probed cell ids, with
    the exact-cosine top-5 re-rank expressed as a streaming aggregation.

    This is the deployment shape of the ANN tier: the index is fitted
    offline (batch) and held resident; queries arrive unbounded; each
    micro-batch pays probe-cell selection as a scan-side projection
    (centroid literals, JVM built-ins), joins ONLY the probed cells'
    inverted-list rows (nprobe/n_cells of the corpus — the static side of
    a stream-static join is re-broadcast per micro-batch, never
    re-shuffled), and emits per-query top-k. Ranking inside a stream
    can't use row_number windows, so top-5 is an aggregation:
    collect_list of (−cosine, neighbor_id, cosine) structs, array_sort
    (total order, ties by neighbor id ASC — the catalog's kNN
    convention; a NULL cosine from a zero-norm vector is coalesced to
    +inf on the sort key so degenerate candidates rank LAST, exactly the
    batch path's NULLS-LAST ordering, while the emitted cosine stays
    NULL), slice 5 — per-query state is ≤ |probed candidates| during a
    batch and exactly 5 structs after, so state is O(queries × k), not
    O(corpus). Hash-checked against the SAME unrolled Lloyd-fit oracle
    as ``ann_ivf_topk`` (``_ivf_ann_oracle``): the streamed route must
    reproduce the batch probe bit-for-bit, fit included. Probe-cell
    selection reuses ``_probe_cells_col`` — the same cached expression
    ``ivf_knn`` plans — so the probe tie convention cannot fork."""
    from ..operators.similarity import _probe_cells_col, cosine_expr
    from .vector import ivf_index_cached

    n_clusters, nprobe, topk = 16, 4, 5
    cents, index = ivf_index_cached(spark, sf_dir, n_clusters=n_clusters, max_iter=3)
    scratch = _landed_queries(spark, sf_dir)

    qstream = spark.readStream.schema("query_id BIGINT, v ARRAY<DOUBLE>").json(scratch)
    qb = (
        qstream.select("query_id", F.col("v").alias("qv"))
        .withColumn("bucket", F.explode(_probe_cells_col(cents, nprobe)))
    )
    scored = qb.join(index, "bucket").select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    ranked = scored.groupBy("query_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.coalesce(-F.col("cosine"), F.lit(float("inf"))).alias(
                            "negcos"
                        ),
                        F.col("neighbor_id").alias("nid"),
                        F.col("cosine").alias("cos"),
                    )
                )
            ),
            1,
            topk,
        ).alias("top")
    )
    sink = _run_to_memory(spark, ranked, "ann_route")
    return sink.select("query_id", F.posexplode("top")).select(
        "query_id",
        F.col("col.nid").alias("neighbor_id"),
        F.round(F.col("col.cos"), 4).alias("cosine_r"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


def _landed_arrivals(spark: SparkSession, sf_dir: str) -> str:
    """Land events as THREE mtime-ordered NDJSON arrival files so the file
    source replays a fixed arrival history (maxFilesPerTrigger=1, one
    file per micro-batch, oldest mtime first):

    0. the ON-TIME cohort (``user_id % 7 != 3``) — establishes the
       watermark at ``max(on-time ts) - 1 day``;
    1. a SENTINEL (the max on-time row shifted +40 days) — advances the
       eviction watermark past every real window's end so append mode
       flushes them all; its own window never finalizes, so it never
       reaches the sink;
    2. the LATE cohort (``user_id % 7 == 3``) — arrives after the
       watermark has passed; Spark must drop exactly the rows whose
       1-day window closed before it.
    """
    import glob
    import os
    import time as _time

    def build() -> str:
        (events,) = load(spark, sf_dir, "events")
        scratch = tempfile.mkdtemp(prefix="vmhub_arrivals_")
        late_pred = F.col("user_id") % 7 == 3
        ontime = events.filter(~late_pred)
        sentinel = (
            ontime.orderBy(F.desc("ts"), F.asc("event_id"))
            .limit(1)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 40 DAYS"))
        )
        base = _time.time() - 600
        for i, df in enumerate((ontime, sentinel, events.filter(late_pred))):
            sub = tempfile.mkdtemp(prefix="vmhub_arrivals_part_")
            df.coalesce(1).write.mode("overwrite").option(
                "timestampFormat", TS_FORMAT
            ).json(sub)
            (part,) = glob.glob(os.path.join(sub, "part-*.json"))
            dst = os.path.join(scratch, f"{i}_arrival.json")
            shutil.move(part, dst)
            os.utime(dst, (base + 30 * i, base + 30 * i))
            shutil.rmtree(sub, ignore_errors=True)
        return scratch

    return get("landed_arrivals", spark, (sf_dir,), build)


# The oracle replays Spark's late-record filter exactly: a late-cohort row
# survives iff its WINDOW END is still above the filtering watermark
# (max on-time ts - 1 day). Window-END-based — not event-time-based — and
# the filtering watermark lags eviction by one micro-batch: both semantics
# probed empirically on Spark 4 (a row with ts below the watermark but
# window end above it IS admitted) and pinned by the crafted-corpus test.
# The fixtures have no window-end == watermark collision at any sf (the
# <= / < boundary is unobservable there); the crafted test pins the
# strict form.
_STREAM_LATE_DROP_ORACLE = f"""
WITH ot AS (
  SELECT ts, value FROM events WHERE user_id % 7 <> 3
),
wm AS (SELECT MAX(ts) - INTERVAL 1 DAY AS w FROM ot),
kept AS (
  SELECT ts, value FROM ot
  UNION ALL
  SELECT e.ts, e.value FROM events e CROSS JOIN wm
  WHERE e.user_id % 7 = 3
    AND date_trunc('day', e.ts) + INTERVAL 1 DAY > wm.w
)
SELECT
  CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
  COUNT(*) AS n_events,
  {sql_dsum('value', 2, 'sum_value')}
FROM kept GROUP BY window_start
"""


@register(
    "streaming_late_data_drop",
    oracle=_STREAM_LATE_DROP_ORACLE,
    tags=("streaming",),
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, actually exercised — the tenth real
    streaming execution, and the first where the watermark's contract
    (SURVEY §2.7 T3) is the RESULT rather than a no-op safety bound: the
    catalog's other windowed streams feed data in event-time order, so
    their watermarks never drop anything; here the arrival history is
    replayed out of order (on-time cohort, then a sentinel that advances
    the watermark, then the late cohort) and Spark demonstrably drops the
    closed-window stragglers — at sf0.01, 1322 of the 1412 late-cohort
    rows — while still ADMITTING late rows whose window is open.

    Append output mode (complete mode disables late-record filtering
    entirely, which is why the other windowed streams can't show this).
    Two probed-and-pinned Spark semantics the oracle replays: (a) the
    drop predicate is WINDOW-END vs watermark, not event-time — a
    straggler whose window is still open is folded in even when its own
    timestamp is below the watermark; (b) late-record filtering uses the
    PREVIOUS micro-batch's watermark (eviction uses the current one), so
    the demonstration needs the sentinel batch between the cohorts.
    State: one row per open (≤ 2-day) window; every closed window was
    flushed to the sink and evicted, so state is O(open windows), not
    O(history) — the property that lets this run forever at production
    rates. The sentinel's own window never finalizes and never reaches
    the sink."""
    scratch = _landed_arrivals(spark, sf_dir)
    stream = (
        events_file_stream(spark, scratch, max_files_per_trigger=1)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "n_events", "sum_value"
        )
    )
    return _run_to_memory(spark, stream, "stream_late", output_mode="append")


def _ivfpq_growth_dir(spark: SparkSession, sf_dir: str) -> str:
    from .vector import IVFPQ

    return growth_dir(spark, sf_dir, IVFPQ)


def _lsh_growth_dir(spark: SparkSession, sf_dir: str) -> str:
    from .dedup import LSH

    return growth_dir(spark, sf_dir, LSH)


def _grown_probe_oracle() -> str:
    from .vector import _ivfpq_ann_oracle

    return _ivfpq_ann_oracle(include_batch=True)


@register(
    "streaming_index_growth",
    oracle=_grown_probe_oracle(),
    tags=("streaming", "vector", "incremental"),
)
def streaming_index_growth(
    spark: SparkSession, sf_dir: str, _timeout: float = 300.0
) -> DataFrame:
    """Streamed IVF-PQ index GROWTH, FAISS ``add`` as a stream: a growth
    dir seeded from the persisted artifact (``ivfpq_index_persisted``)
    takes a micro-batched stream of the held-out vectors, each encoded
    against the frozen model (``ann_ivfpq_add_batch``'s exact
    arithmetic), and the probe runs from the RELOADED grown lists —
    every query retrieves its own added vector at rank 1 (pinned in
    tests/test_r9_queries.py, with row-equality to a batch-built grown
    index). The lifecycle is ``index_lifecycle.grow``.

    Scale shape: each micro-batch is a pure scan with the model inline
    as literals (no shuffle, no stateful operator — pinned) writing only
    the batch's rows, O(batch x model) per trigger; the probe is the
    composed-index bucket equi-join over the probed cells, raw vectors
    touched only for the shortlist. The growth dir is a copy, so
    ``ann_ivfpq_persist_probe``'s artifact stays immutable."""
    from .vector import IVFPQ, _ivfpq_serving_probe

    return grow(
        spark, sf_dir, IVFPQ, _ivfpq_serving_probe(spark, sf_dir, grown=True),
        _timeout,
    )


def _lsh_grown_probe_oracle(
    num_hashes: int = 32, bands: int = 8, shingle_size: int = 3,
    threshold: float = 0.9,
) -> str:
    """Replay of the post-growth probe: the batch probes the GROWN index
    (frozen ∪ batch — which append ≡ rebuild makes exactly the full
    corpus's ``banded``), so matches among TODAY's documents — invisible
    to the frozen-index probe ``dedup_incremental_lsh`` runs — now
    surface. Self-matches are excluded; everything else is the
    incremental oracle's chain verbatim, including (r11) the band-bucket
    occupancy cap replayed over the grown index leg."""
    from .dedup import _LSH_HOT_CAP, _minhash_sig_ctes

    return f"""
WITH {_minhash_sig_ctes(num_hashes, bands, shingle_size)},
cut AS (SELECT CAST(FLOOR(MAX(doc_id) * 0.8) AS BIGINT) AS cut FROM documents),
okept AS (
  SELECT band_id, band_hash FROM banded
  GROUP BY band_id, band_hash HAVING COUNT(*) <= {_LSH_HOT_CAP}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS other_id
  FROM banded n
  JOIN banded o ON n.band_id = o.band_id AND n.band_hash = o.band_hash
   AND o.doc_id <> n.doc_id
  JOIN okept k ON k.band_id = n.band_id AND k.band_hash = n.band_hash
  CROSS JOIN cut
  WHERE n.doc_id >= cut.cut
),
hits AS (
  SELECT c.new_id, c.other_id,
    CAST(LEN(LIST_INTERSECT(ta.hs, tb.hs)) AS DOUBLE)
      / CAST(LEN(ta.hs) + LEN(tb.hs) - LEN(LIST_INTERSECT(ta.hs, tb.hs)) AS DOUBLE)
      AS jaccard
  FROM cand c
  JOIN t13 ta ON ta.doc_id = c.new_id
  JOIN t13 tb ON tb.doc_id = c.other_id
  WHERE CAST(LEN(LIST_INTERSECT(ta.hs, tb.hs)) AS DOUBLE)
      / CAST(LEN(ta.hs) + LEN(tb.hs) - LEN(LIST_INTERSECT(ta.hs, tb.hs)) AS DOUBLE)
      >= {threshold}
),
agg AS (
  SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_index_matches
  FROM hits GROUP BY new_id
),
best AS (
  SELECT new_id, other_id, jaccard FROM (
    SELECT new_id, other_id, jaccard,
      ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY jaccard DESC, other_id) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT d.doc_id,
  CAST(COALESCE(a.n_index_matches, 0) AS BIGINT) AS n_index_matches,
  b.other_id AS best_match_id,
  ROUND(b.jaccard, 4) AS best_jaccard,
  (a.new_id IS NOT NULL) AS is_near_dup
FROM documents d CROSS JOIN cut
LEFT JOIN agg a ON a.new_id = d.doc_id
LEFT JOIN best b ON b.new_id = d.doc_id
WHERE d.doc_id >= cut.cut
"""


@register(
    "streaming_lsh_index_growth",
    oracle=_lsh_grown_probe_oracle(),
    tags=("streaming", "dedup", "lsh", "incremental"),
)
def streaming_lsh_index_growth(
    spark: SparkSession, sf_dir: str, _timeout: float = 300.0
) -> DataFrame:
    """Streamed LSH dedup-index GROWTH: a growth dir seeded with the
    FROZEN (pre-cut) slice of the persisted dedup artifact
    (``lsh_index_persisted``) takes a micro-batched stream of raw new
    documents, each signed against the frozen hash family
    (``minhash_banded``, the operator the index was built with) into the
    banded and toks legs, and the probe runs from the RELOADED grown
    legs: each batch document reports its near-dups across the WHOLE
    grown index (frozen ∪ batch, self excluded), so batch-vs-batch
    duplicates the frozen-index probe ``dedup_incremental_lsh`` cannot
    see now surface (pinned in tests/test_r10_queries.py, with
    row-equality of the grown legs to ``lsh_index_appended``). The
    lifecycle is ``index_lifecycle.grow``.

    Scale shape: each micro-batch is a pure scan with the signature
    expressions riding it (no shuffle, no stateful operator — pinned)
    writing only the batch's band/shingle rows, O(batch × signature) per
    trigger; the probe is a band equi-join under the bucket-occupancy
    cap, candidate-grain verification and query-grain windows."""
    from .dedup import LSH

    return grow(
        spark, sf_dir, LSH, lambda index: _grown_lsh_probe(spark, sf_dir, index),
        _timeout,
    )


def _grown_lsh_probe(spark: SparkSession, sf_dir: str, index: tuple) -> DataFrame:
    """The whole-grown-index probe plan over a grown ``(banded, toks)``
    index (batch vs frozen ∪ batch, self excluded, production cap
    enforced) — shared by the streamed growth entry and the cold
    grown-serve entry so the two can never drift."""
    from pyspark.sql import Window

    from ..operators.dedup import band_candidates, jaccard_verify
    from .dedup import _LSH_HOT_CAP, _lsh_batch_cut

    grown_banded, grown_toks = index
    cut = _lsh_batch_cut(spark, sf_dir)
    (docs,) = load(spark, sf_dir, "documents")
    cand = band_candidates(
        grown_banded.filter(F.col("id") >= F.lit(cut)),
        grown_banded,
        "new_id",
        "other_id",
        ordered=False,
        max_bucket_occupancy=_LSH_HOT_CAP,
    ).filter(F.col("new_id") != F.col("other_id"))
    hits = jaccard_verify(cand, grown_toks, "new_id", "other_id", 0.9)
    agg = hits.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_index_matches")
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("other_id"))
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("new_id").alias("best_new_id"), "other_id", "jaccard")
    )
    newdocs = docs.filter(F.col("doc_id") >= F.lit(cut)).select("doc_id")
    return (
        newdocs.join(agg, newdocs["doc_id"] == agg["new_id"], "left")
        .join(best, newdocs["doc_id"] == F.col("best_new_id"), "left")
        .select(
            "doc_id",
            F.coalesce("n_index_matches", F.lit(0))
            .cast("long")
            .alias("n_index_matches"),
            F.col("other_id").alias("best_match_id"),
            F.round("jaccard", 4).alias("best_jaccard"),
            F.col("new_id").isNotNull().alias("is_near_dup"),
        )
    )


def lsh_grown_artifact_dir(sf_dir: str) -> str:
    from .dedup import LSH

    return grown_artifact_dir(LSH, sf_dir)


def ivfpq_grown_artifact_dir(sf_dir: str) -> str:
    from .vector import IVFPQ

    return grown_artifact_dir(IVFPQ, sf_dir)


@register(
    "dedup_lsh_grown_cold_probe",
    oracle=_lsh_grown_probe_oracle(),
    tags=("dedup", "lsh", "incremental", "storage"),
)
def dedup_lsh_grown_cold_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLD-START serving from the GROWN dedup-index artifact: the growth
    stream publishes its committed legs to the stable store, and this
    entry mounts that content-keyed path (bootstrapping it once if
    absent) and runs ``streaming_lsh_index_growth``'s probe ENTIRELY
    from the mounted parquets, so persist→grow→serve survives the
    session like fit→serve does. Pinned in tests/test_r12_queries.py:
    with every cache cleared and the signers and the growth stream
    forbidden, rows equal the warm streamed-growth probe's."""
    from .dedup import LSH

    return mount(
        spark, sf_dir, LSH, "grown_probe", "lsh-grown-cold",
        (lsh_grown_artifact_dir(sf_dir),),
        lambda index: _grown_lsh_probe(spark, sf_dir, index),
        bootstrap=lambda: streaming_lsh_index_growth(spark, sf_dir),
    )


@register(
    "ann_ivfpq_grown_cold_reload",
    oracle=_grown_probe_oracle(),
    tags=("vector", "ivf", "pq", "incremental", "storage"),
)
def ann_ivfpq_grown_cold_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLD-START serving from the GROWN IVF-PQ artifact (the ANN twin
    of ``dedup_lsh_grown_cold_probe``): the grown lists plus the frozen
    model mount from one published path, and ``streaming_index_growth``'s
    probe serves from it — one O(model) row rehydrates the model as plan
    literals. Pinned in tests/test_r12_queries.py: with fit AND growth
    forbidden, rows equal the warm streamed-growth probe's."""
    from .vector import IVFPQ, _ivfpq_serving_probe

    return mount(
        spark, sf_dir, IVFPQ, "grown_probe", "ivfpq-grown-cold",
        (ivfpq_grown_artifact_dir(sf_dir),),
        _ivfpq_serving_probe(spark, sf_dir, grown=True),
        bootstrap=lambda: streaming_index_growth(spark, sf_dir),
    )


def lsh_grown_maint_artifact_dir(sf_dir: str, modulus: int = 97) -> str:
    """Stable content-keyed path of the MAINTAINED grown dedup index:
    the grown key extended by the retraction rule, so maintenance
    re-publishes under a NEW address instead of mutating the artifact a
    concurrent reader may be serving."""
    from .dedup import LSH

    return artifact_dir(LSH, sf_dir, "grownmaint", ("grown", f"del{modulus}"))


def _grown_maint_oracle() -> str:
    from .dedup import _lsh_delete_oracle

    return _lsh_delete_oracle()


@register(
    "dedup_lsh_grown_maintenance",
    oracle=_grown_maint_oracle(),
    tags=("dedup", "lsh", "incremental", "audit", "storage"),
)
def dedup_lsh_grown_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance COMPOSED over the durable grown artifact: mount the
    GROWN dedup index (bootstrapping via the growth stream only if
    absent), tombstone-delete the retraction batch (``doc_id % 97 = 0``,
    ``dedup_lsh_index_delete``'s rule) out of BOTH legs, RE-PUBLISH the
    maintained index under its own content-keyed address, and emit the
    per-band delete audit with the after-side read back from the
    published parquet — grow -> delete -> re-publish -> audit all run
    against durable state. Conservation (rows_before - rows_removed =
    rows_after, both legs) and a fit-and-growth-forbidden cold mount
    are pinned in tests/test_r13_queries.py.

    Scale shape: the tombstone set rides BROADCAST left-anti hash joins
    over the mounted parquet scans (no index shuffle); the re-publish
    writes the surviving rows once; both audit rollups run at band
    grain. No signature expression anywhere."""
    from .dedup import LSH

    path = lsh_grown_artifact_dir(sf_dir)
    mart = lsh_grown_maint_artifact_dir(sf_dir, modulus=97)

    def bootstrap() -> None:
        if not artifact_complete(path):
            # run the growth stream, which publishes on commit
            streaming_lsh_index_growth(spark, sf_dir)
        (docs,) = load(spark, sf_dir, "documents")
        tomb = F.broadcast(
            docs.filter(F.col("doc_id") % 97 == 0).select(
                F.col("doc_id").alias("__tomb_id")
            )
        )
        publish(spark, LSH, mart, lambda: tuple(
            leg.join(tomb, F.col("id") == F.col("__tomb_id"), "left_anti")
            for leg in mounted(spark, LSH, path)
        ))

    def audit(grown: tuple, maintained: tuple) -> DataFrame:
        fb = grown[0].groupBy("band_id").agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.countDistinct("band_hash").cast("long").alias("buckets_before"),
        )
        sb = maintained[0].groupBy("band_id").agg(
            F.count(F.lit(1)).cast("long").alias("rows_after"),
            F.countDistinct("band_hash").cast("long").alias("buckets_after"),
        )
        return (
            fb.join(sb, "band_id", "left")
            .select(
                F.col("band_id").cast("long").alias("band_id"),
                "rows_before",
                (F.col("rows_before") - F.coalesce("rows_after", F.lit(0)))
                .cast("long")
                .alias("rows_removed"),
                F.coalesce("rows_after", F.lit(0))
                .cast("long")
                .alias("rows_after"),
                "buckets_before",
                F.coalesce("buckets_after", F.lit(0))
                .cast("long")
                .alias("buckets_after"),
                (F.col("buckets_before") - F.coalesce("buckets_after", F.lit(0)))
                .cast("long")
                .alias("buckets_emptied"),
            )
        )

    return mount(
        spark, sf_dir, LSH, "grown_probe", "lsh-grown-maint", (path, mart), audit,
        bootstrap,
    )
