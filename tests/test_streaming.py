"""Structured Streaming semantics verified against batch oracles (SURVEY §2
Milestone 4: T1-T3, T6): the streaming transformations over the events
fixture must produce the same answers as the equivalent batch queries."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from vmhub_data_pipeline_spark.streaming import (
    events_file_stream,
    start_to_memory,
    stream_dedup,
    stream_session_windows,
    stream_sliding_counts,
    stream_tumbling_counts,
)
from vmhub_data_pipeline_spark.tables import table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_json_dir(tmp_path_factory):
    """Events fixture re-landed as NDJSON (the lake format) split into
    several files so the file source streams multiple batches."""
    d = tmp_path_factory.mktemp("events_stream")
    out = str(d / "events")
    # uses the session from conftest lazily via the first test's spark fixture;
    # we write here with a throwaway read in each test instead
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _prepare(spark, path: str):
    from vmhub_data_pipeline_spark.streaming.events import TS_FORMAT

    ev = table(spark, SF, "events")
    ev.repartition(4).write.mode("overwrite").option("timestampFormat", TS_FORMAT).json(path)
    return ev


def _run(stream_df, spark, name, mode="append"):
    q = start_to_memory(stream_df, name, output_mode=mode)
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_tumbling_equals_batch(spark, events_json_dir):
    ev = _prepare(spark, events_json_dir)
    out = _run(
        stream_tumbling_counts(events_file_stream(spark, events_json_dir)),
        spark,
        "t_tumble",
        mode="complete",  # append withholds windows newer than the watermark — on
        # finite data the last day never closes
    )
    got = {r["window_start"]: r["n_events"] for r in out.collect()}
    want = {
        r["d"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_sliding_equals_batch(spark, events_json_dir):
    ev = _prepare(spark, events_json_dir)
    out = _run(
        stream_sliding_counts(events_file_stream(spark, events_json_dir)),
        spark,
        "t_slide",
        mode="complete",
    )
    got = {r["window_start"]: r["n_events"] for r in out.collect()}
    want = {
        r["ws"]: r["n"]
        for r in ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
        .collect()
    }
    assert got == want


def test_stream_sessions_equal_batch_sessionize(spark, events_json_dir):
    ev = _prepare(spark, events_json_dir)
    out = _run(
        stream_session_windows(events_file_stream(spark, events_json_dir)),
        spark,
        "t_sess",
        mode="complete",
    )
    # session_window semantics: end = last_event + gap; compare (user, start,
    # n_events) against the batch lag-gap-cumsum formulation
    got = {(r["user_id"], r["session_start"], r["n_events"]) for r in out.collect()}

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    want = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in ev.select(
            "user_id", "ts", "event_id", F.sum(is_new).over(run).alias("seq")
        )
        .groupBy("user_id", "seq")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want


def test_stream_dedup_drops_replayed_file(spark, events_json_dir, tmp_path):
    ev = _prepare(spark, events_json_dir)
    # replay: copy one landed file to simulate a duplicate page delivery
    import glob
    import shutil as sh

    src = glob.glob(f"{events_json_dir}/part-*.json")[0]
    sh.copy(src, f"{events_json_dir}/replayed-copy.json")
    try:
        out = _run(
            stream_dedup(events_file_stream(spark, events_json_dir)), spark, "t_dedup"
        )
        assert out.count() == ev.count()  # duplicates dropped exactly
        assert out.select("event_id").distinct().count() == ev.count()
    finally:
        import os

        os.remove(f"{events_json_dir}/replayed-copy.json")


@pytest.mark.slow
def test_streaming_catalog_caches_fixture_landing(spark, monkeypatch):
    """The catalog streaming queries land the NDJSON fixture once per
    (app, sf_dir); a second invocation reuses the scratch dir and performs
    no write job (VERDICT r1 #6: bench/driver double-runs must not be
    dominated by fixture rewrites)."""
    import vmhub_data_pipeline_spark.queries.streaming_queries as sq
    from vmhub_data_pipeline_spark.operators.caching import invalidate

    invalidate("landed_events")
    calls = {"n": 0}
    real = sq.tempfile.mkdtemp

    def counting_mkdtemp(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(sq.tempfile, "mkdtemp", counting_mkdtemp)

    first = sq.streaming_tumbling_day(spark, SF).count()
    assert calls["n"] == 1
    # second run of the SAME query and a DIFFERENT query over the same
    # sf_dir both reuse the landed fixture
    again = sq.streaming_tumbling_day(spark, SF).count()
    sq.streaming_session_windows(spark, SF).count()
    assert calls["n"] == 1
    assert first == again


@pytest.mark.slow
def test_stream_to_lake_foreachbatch_idempotent_replay(spark, tmp_path):
    """foreachBatch -> refresh_table sink: streaming the fixture into the
    warehouse equals the batch content, and REPLAYING the whole stream
    (fresh checkpoint, same source — the at-least-once worst case) leaves
    the table byte-identical instead of doubled."""
    import pyspark.sql.functions as F0

    from vmhub_data_pipeline_spark.streaming.events import (
        TS_FORMAT,
        events_file_stream,
        start_to_lake,
    )
    from vmhub_data_pipeline_spark.tables import table

    ev = table(spark, SF, "events").filter(F0.col("user_id") < 30)
    src = str(tmp_path / "src")
    ev.repartition(2).write.mode("overwrite").option(
        "timestampFormat", TS_FORMAT
    ).json(src)
    warehouse = str(tmp_path / "warehouse")

    q = start_to_lake(
        events_file_stream(spark, src),
        warehouse,
        checkpoint_dir=str(tmp_path / "ckpt1"),
        dedup_keys=["event_id"],
    )
    q.awaitTermination(120)
    first = spark.read.parquet(warehouse)
    assert first.count() == ev.count()
    # materialize before the replay overwrites the files under this plan
    first_hash = first.select(F0.sum(F0.hash(*ev.columns)).alias("h")).first()["h"]

    # full replay with a FRESH checkpoint: every micro-batch re-delivered
    q2 = start_to_lake(
        events_file_stream(spark, src),
        warehouse,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        dedup_keys=["event_id"],
    )
    q2.awaitTermination(120)
    again = spark.read.parquet(warehouse)
    assert again.count() == ev.count()  # no duplication
    assert (
        again.select(F0.sum(F0.hash(*ev.columns)).alias("h")).first()["h"]
        == first_hash
    )


def test_stream_to_lake_multibatch_same_day_no_loss(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1) whose files BOTH contain
    rows for the same days: the sink must keep both batches' rows. A
    ds-keyed overwrite would have batch 1 wipe batch 0's share of every
    overlapping day — the cross-batch data-loss case the (ds, __sb)
    partition key exists for."""
    import pyspark.sql.functions as F0

    from vmhub_data_pipeline_spark.streaming.events import (
        TS_FORMAT,
        events_file_stream,
        start_to_lake,
    )
    from vmhub_data_pipeline_spark.tables import table

    ev = table(spark, SF, "events").filter(F0.col("user_id") < 30)
    src = str(tmp_path / "src")
    # round-robin repartition: every day's rows straddle both files
    ev.repartition(2).write.mode("overwrite").option(
        "timestampFormat", TS_FORMAT
    ).json(src)
    warehouse = str(tmp_path / "warehouse")

    q = start_to_lake(
        events_file_stream(spark, src, max_files_per_trigger=1),
        warehouse,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dedup_keys=["event_id"],
    )
    q.awaitTermination(120)
    got = spark.read.parquet(warehouse)
    assert got.count() == ev.count()
    # and the batches really were separate (two __sb partitions landed)
    assert got.select("__sb").distinct().count() >= 2
