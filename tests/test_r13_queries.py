"""Round-13 pins: the one-pass ANN repair-ALL maintenance job (VERDICT
r12 task 1 — tier parity with dedup_lsh_repair_all), maintenance composed
over the durable grown artifact (task 5), grown-index compaction (task
2), and the artifact-op hardening from ADVICE r12 (marker-first delete,
stat-race-safe inventory)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from vmhub_data_pipeline_spark import queries as catalog
from vmhub_data_pipeline_spark.queries.vector import _IVF_FAMS, _IVF_HOT_CAP

catalog._load_all()
Q = catalog.REGISTRY


def _same_rowset(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# --- task 1: one-pass ANN repair-all -----------------------------------------


@pytest.mark.slow
def test_ann_repair_all_clears_every_hot_cell_in_one_pass(spark, sf_dir):
    """The three planted families start as 3 over-cap cells (241/191/161
    members); ONE maintenance pass lands every post-repair cell under the
    cap and a second pass would process zero members (idempotence as
    output, not assertion)."""
    rows = {r["bucket"]: r for r in Q["ann_ivf_rebalance_all"].fn(spark, sf_dir).collect()}
    hot_before = {b: r for b, r in rows.items() if r["n_before"] > _IVF_HOT_CAP}
    assert sorted(hot_before) == [0, 1, 2]
    assert {r["n_before"] for r in hot_before.values()} == {
        n + 1 for n in _IVF_FAMS  # family + its anchor
    }
    for b, r in rows.items():
        assert r["hot_cells_before"] == 3, (b, r)
        assert r["hot_cells_after"] == 0, (b, r)
        assert r["second_pass_members"] == 0, (b, r)
        assert r["n_after"] <= _IVF_HOT_CAP, (b, r)
    # conservation: repair moves members between cells, never loses one
    assert sum(r["n_after"] for r in rows.values()) == sum(
        r["n_before"] for r in rows.values()
    )


def test_ann_repair_all_exercises_variable_k_and_slot_numbering(spark, sf_dir):
    """Family 0's 241-member cell needs k = ceil(241/100) = 3 (two
    appended slots), families 1-2 get k=2 (one each) — slots are numbered
    deterministically by hot-bucket order from n_cells upward, so the
    appended range is exactly 16..19 with provenance 0,0,1,2."""
    rows = {r["bucket"]: r for r in Q["ann_ivf_rebalance_all"].fn(spark, sf_dir).collect()}
    appended = {b: r for b, r in rows.items() if b >= 16}
    assert sorted(appended) == [16, 17, 18, 19]
    assert [appended[b]["split_from"] for b in sorted(appended)] == [0, 0, 1, 2]
    for r in appended.values():
        assert r["n_before"] == 0
    # untouched organic cells carry no provenance
    assert all(
        r["split_from"] == -1
        for b, r in rows.items()
        if b not in (0, 1, 2) and b < 16
    )


def test_ann_repair_all_plan_is_index_grain_maintenance(spark, sf_dir):
    """Everything derives from the CHECKPOINTED fixture index (ExistingRDD
    scans) — zero corpus re-scans (no parquet scan in the plan), pure JVM
    expressions, the audit joins broadcast at cell grain, no cartesian,
    no single-partition window."""
    from vmhub_data_pipeline_spark.plans import (
        explain_str,
        single_partition_window_count,
    )

    df = Q["ann_ivf_rebalance_all"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert single_partition_window_count(df) == 0


def test_ivf_multi_fixture_keeps_organic_cells_under_cap(spark, sf_dir):
    """The fixture's load-bearing property at the driver-checked scales:
    ONLY the planted families are hot (organic max occupancy stays under
    the cap), so 'repairs every degraded cell' is actually demonstrated
    against a mixed corpus, not a fully-synthetic one."""
    from vmhub_data_pipeline_spark.queries.vector import ivf_multi_index_cached

    _cents, index = ivf_multi_index_cached(spark, sf_dir)
    occ = {
        int(r["bucket"]): int(r["n"])
        for r in index.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot = {b for b, n in occ.items() if n > _IVF_HOT_CAP}
    assert hot == {0, 1, 2}
    assert max(n for b, n in occ.items() if b not in hot) <= _IVF_HOT_CAP


# --- task 5: maintenance composed over the durable grown artifact ------------


def test_grown_maintenance_conserves_rows_on_both_legs(spark, sf_dir):
    """grow -> delete -> re-publish -> audit: per band, rows_before -
    rows_removed = rows_after (the banded audit IS the output); the toks
    leg of the PUBLISHED maintained artifact conserves the same way and
    holds exactly the surviving doc ids."""
    from vmhub_data_pipeline_spark.queries.streaming_queries import (
        lsh_grown_artifact_dir,
        lsh_grown_maint_artifact_dir,
    )

    rows = Q["dedup_lsh_grown_maintenance"].fn(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["rows_before"] - r["rows_removed"] == r["rows_after"], r
        assert r["rows_removed"] > 0, r  # the tombstone batch is non-empty

    grown = lsh_grown_artifact_dir(sf_dir)
    maint = lsh_grown_maint_artifact_dir(sf_dir, modulus=97)
    toks_before = spark.read.parquet(f"{grown}/toks")
    toks_after = spark.read.parquet(f"{maint}/toks")
    assert (
        toks_before.filter(F.col("id") % 97 != 0).count() == toks_after.count()
    )
    assert toks_after.filter(F.col("id") % 97 == 0).count() == 0


def test_grown_maintenance_cold_mount_serves_without_fit_or_growth(
    spark, sf_dir, monkeypatch
):
    """Once both artifacts are published, a fresh consumer (caches
    cleared; signers, the index builder AND the growth stream forbidden)
    reproduces the audit entirely from mounted parquet — the maintenance
    contract provably applies to durable state."""
    from vmhub_data_pipeline_spark.operators.caching import invalidate
    from vmhub_data_pipeline_spark.queries import streaming_queries as sq

    warm = sorted(
        tuple(r) for r in Q["dedup_lsh_grown_maintenance"].fn(spark, sf_dir).collect()
    )
    for name in ("grown_probe", "lsh_index", "lsh_persisted"):
        invalidate(name)

    def _forbidden(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("fit/growth work ran on the cold maintenance path")

    monkeypatch.setattr(sq, "streaming_lsh_index_growth", _forbidden)
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.minhash_banded", _forbidden
    )
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.hashed_token_sets", _forbidden
    )
    cold = Q["dedup_lsh_grown_maintenance"].fn(spark, sf_dir)
    assert sorted(tuple(r) for r in cold.collect()) == warm


def test_grown_maint_artifact_path_is_distinct_and_rule_keyed(sf_dir):
    from vmhub_data_pipeline_spark.queries.streaming_queries import (
        lsh_grown_artifact_dir,
        lsh_grown_maint_artifact_dir,
    )

    p = lsh_grown_maint_artifact_dir(sf_dir, modulus=97)
    assert p == lsh_grown_maint_artifact_dir(sf_dir, modulus=97)
    assert p != lsh_grown_artifact_dir(sf_dir)
    assert p != lsh_grown_maint_artifact_dir(sf_dir, modulus=101)


# --- task 2: grown-index compaction ------------------------------------------


def test_compact_grown_index_folds_partitions_and_conserves_rows(
    spark, tmp_path
):
    """Synthetic leg with 3 __sb partitions x 3 files: compaction folds
    them into one canonical __sb=-1 base, conserves every row, shrinks
    the file count, and a second pass skips (already canonical)."""
    from vmhub_data_pipeline_spark.operators.index_compact import (
        _leg_stats,
        compact_grown_index,
    )

    grown = str(tmp_path / "grown")
    leg = f"{grown}/lists"
    src = spark.range(300).select(
        F.col("id").alias("vec_id"), (F.col("id") % 7).alias("bucket")
    )
    for sb in (-1, 0, 1):
        src.filter(F.col("vec_id") % 3 == sb % 3).repartition(3).write.parquet(
            f"{leg}/__sb={sb}"
        )
    parts, files, _ = _leg_stats(leg)
    assert parts == 3 and files >= 9

    [m] = compact_grown_index(spark, grown, ("lists",))
    assert m["compacted"] is True
    assert m["partitions_before"] == 3 and m["partitions_after"] == 1
    assert m["files_after"] < m["files_before"]
    assert m["rows"] == 300
    after = spark.read.parquet(leg)
    assert after.count() == 300
    assert set(after.columns) == {"vec_id", "bucket", "__sb"}
    assert _same_rowset(src, after.select("vec_id", "bucket"))

    [m2] = compact_grown_index(spark, grown, ("lists",))
    assert m2["compacted"] is False and m2["rows"] == 300


@pytest.mark.slow
def test_compact_grown_lsh_dir_preserves_probe_without_reencode(
    spark, sf_dir, monkeypatch
):
    """Compacting the REAL grown dedup serving dir: the streamed-growth
    probe is row-identical before vs after, and compaction runs with the
    signer functions forbidden — OPTIMIZE rewrites encoded rows, it never
    re-signs (the no-re-encode claim, pinned rather than just
    plan-gated)."""
    from vmhub_data_pipeline_spark.operators.index_compact import (
        compact_grown_index,
    )
    from vmhub_data_pipeline_spark.queries import streaming_queries as sq

    before = {
        tuple(r)
        for r in Q["streaming_lsh_index_growth"].fn(spark, sf_dir).collect()
    }
    grown = sq._lsh_growth_dir(spark, sf_dir)

    def _forbidden(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("compaction re-encoded index rows")

    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.minhash_banded", _forbidden
    )
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.hashed_token_sets", _forbidden
    )
    metrics = compact_grown_index(spark, grown, ("banded", "toks"))
    monkeypatch.undo()
    assert {m["leg"] for m in metrics} == {"banded", "toks"}
    for m in metrics:
        assert m["compacted"] is True, m
        assert m["partitions_before"] >= 3, m  # seed + >=2 micro-batches
        assert m["partitions_after"] == 1, m

    # the stream replays nothing (checkpoint intact); the probe recompiles
    # off the compacted dir (sink fingerprint changed) and serves the
    # identical rows
    after = {
        tuple(r)
        for r in Q["streaming_lsh_index_growth"].fn(spark, sf_dir).collect()
    }
    assert after == before


# --- task 6: the maintenance runbook as one query ----------------------------


@pytest.mark.slow
def test_index_maintenance_flagship_composes_all_steps(spark, sf_dir):
    """detect->repair->compact->prune across both families in one pass:
    the audit trail carries each family's native totals, and a SECOND
    invocation (compaction now a skip, prune re-planted) emits the
    identical rows — the scheduled job is deterministic run-to-run."""
    first = sorted(
        tuple(r) for r in Q["pipeline_index_maintenance"].fn(spark, sf_dir).collect()
    )
    steps = {(r[0], r[1]) for r in first}
    assert steps == {
        ("ann", "repair"), ("dedup", "repair"),
        ("dedup", "compact"), ("store", "prune"),
    }
    by_step = {(r[0], r[1]): r for r in first}
    assert by_step[("ann", "repair")][2:] == (3, 0, 0)
    assert by_step[("dedup", "repair")][2:] == (24, 0, 0)
    c = by_step[("dedup", "compact")]
    assert c[2] == c[3] and c[4] == 0  # conserved rows, nothing lost
    assert by_step[("store", "prune")][2:] == (2, 0, 2)
    second = sorted(
        tuple(r) for r in Q["pipeline_index_maintenance"].fn(spark, sf_dir).collect()
    )
    assert second == first


@pytest.mark.slow
def test_index_maintenance_plan_adds_no_corpus_scans(spark, sf_dir):
    """The flagship's plan gate (VERDICT r12 task 6): both repair legs
    aggregate RESIDENT checkpointed indexes and the operator-action rows
    ride in as literals — adding a family must never add a corpus scan,
    so the composed plan contains zero parquet scans and no Python
    evaluator."""
    from vmhub_data_pipeline_spark.plans import explain_str

    df = Q["pipeline_index_maintenance"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# --- ADVICE r12: artifact-op hardening ---------------------------------------


def test_delete_artifact_unmarks_before_removing(tmp_path, monkeypatch):
    """If the rmtree fails partway, the remains must read as INCOMPLETE
    (marker removed first) and the failure must be reported — never a
    marker-bearing husk that artifact_complete endorses."""
    import shutil

    from vmhub_data_pipeline_spark.operators import artifacts as A

    root = tmp_path / "store"
    root.mkdir()
    monkeypatch.setenv("VMHUB_SPARK_ARTIFACTS", str(root))
    art = root / "lshidx-partial"
    art.mkdir()
    (art / A._MARKER).write_bytes(b"")
    (art / "part-0.parquet").write_bytes(b"x")
    assert A.artifact_complete(str(art))

    real_rmtree = shutil.rmtree
    monkeypatch.setattr(
        A.shutil, "rmtree", lambda *a, **k: None
    )  # simulated EACCES: nothing gets removed
    with pytest.raises(OSError):
        A.delete_artifact(str(art))
    monkeypatch.setattr(A.shutil, "rmtree", real_rmtree)
    # the husk is no longer mountable and publish_artifact would rebuild
    assert not A.artifact_complete(str(art))
    assert A.delete_artifact(str(art)) is True
    assert not art.exists()


def test_artifact_inventory_survives_concurrent_deletion(tmp_path, monkeypatch):
    """Files vanishing between the walk listing and the stat (a builder
    renaming staging into place, an operator deleting an artifact) are
    skipped, not crashed — the ADVICE r12 concurrent regime."""
    from vmhub_data_pipeline_spark.operators import artifacts as A

    root = tmp_path / "store"
    root.mkdir()
    monkeypatch.setenv("VMHUB_SPARK_ARTIFACTS", str(root))
    a = root / "lshidx-live"
    a.mkdir()
    (a / "part-0.parquet").write_bytes(b"x")
    ghost = a / "part-1.parquet"
    ghost.write_bytes(b"y")

    real_stat = os.stat

    def racing_stat(path, *a, **k):
        if str(path).endswith("part-1.parquet"):
            raise FileNotFoundError(path)  # deleted mid-scan
        return real_stat(path, *a, **k)

    monkeypatch.setattr(A.os, "stat", racing_stat)
    inv = A.artifact_inventory()
    assert [r["kind"] for r in inv] == ["lshidx"]
    assert inv[0]["bytes"] == 1  # only the surviving file is sized
