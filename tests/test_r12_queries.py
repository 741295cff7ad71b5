"""Round-12 pins: the production bucket cap threaded into the CLUSTER
path (VERDICT r11 task 1 — the last uncapped consumer), the pair set as
a durable content-keyed artifact (task 2), the one-pass detect->repair->
verify re-band maintenance entry (task 5), durable grown indexes with
cold grown-serve (task 4), and the infra hardening from ADVICE r11
(stable dir_fingerprint, corpus-fingerprint guards)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from vmhub_data_pipeline_spark import queries as catalog
from vmhub_data_pipeline_spark.operators.dedup import (
    minhash_banded,
    minhash_pairs_from_index,
)
from vmhub_data_pipeline_spark.operators.graph import connected_components
from vmhub_data_pipeline_spark.queries.dedup import _LSH_HOT_CAP

catalog._load_all()
Q = catalog.REGISTRY


def _same_rowset(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# --- task 1: the cap reaches the cluster path ------------------------------


def _skewed_docs(spark, n_boiler: int = 150, n_pairs: int = 20):
    """Same templated corpus as tests/test_r11_queries.py: a degenerate
    boilerplate family (one hot bucket per band) plus organic occupancy-2
    near-dup pairs over disjoint vocabularies."""
    t = " ".join(f"w{j}" for j in range(30))
    rows = [(i, f"{t} uniq{i}") for i in range(n_boiler)]
    for i in range(2 * n_pairs):
        pair = i // 2
        body = " ".join(f"org{pair}x{j}" for j in range(30))
        rows.append((10_000 + i, f"{body} tail{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.slow
def test_capped_cluster_work_stays_bounded_on_skewed_corpus(spark):
    """The cluster pipeline's PAIR stage under the production cap never
    materializes the boilerplate bucket's quadratic pair set — the r11
    probe-family guarantee extended to the batch cluster path. The
    organic clusters survive intact either way (precision is exact;
    the cap only limits recall inside over-cap buckets)."""
    from vmhub_data_pipeline_spark.operators.dedup import hashed_token_sets

    docs = _skewed_docs(spark)
    cap = 50
    banded = minhash_banded(docs, "doc_id", "text", portable=True)
    toks = hashed_token_sets(docs, "doc_id", "text", 3)
    unc = minhash_pairs_from_index(banded, toks, 0.9)
    capd = minhash_pairs_from_index(
        banded, toks, 0.9, max_bucket_occupancy=cap
    )
    n_unc, n_cap = unc.count(), capd.count()
    # uncapped: the 150-doc template family verifies all-pairs (~11k)
    assert n_unc > 5_000, n_unc
    # capped: the hot buckets generate nothing; organic pairs remain
    assert n_cap < n_unc / 5, (n_cap, n_unc)
    assert capd.exceptAll(unc).isEmpty()

    # clustering the capped pairs keeps every ORGANIC pair in one
    # cluster: the cap dropped only the template family's edges
    cc = connected_components(capd, "doc_a", "doc_b")
    comp = {r["v"]: r["component"] for r in cc.collect()}
    for pair in range(20):
        a, b = 10_000 + 2 * pair, 10_000 + 2 * pair + 1
        assert comp.get(a) is not None and comp[a] == comp.get(b), (a, b)


@pytest.mark.slow
def test_cluster_entry_consumes_capped_pairs(spark, sf_dir):
    """dedup_cluster_lsh's pair set IS the capped production artifact:
    row-identical to a direct capped mine from the maintained index, and
    the registered entry's clusters replay from those pairs."""
    from vmhub_data_pipeline_spark.queries.dedup import (
        lsh_index_cached,
        lsh_pairs_cached,
    )

    banded, toks = lsh_index_cached(spark, sf_dir)
    direct = minhash_pairs_from_index(
        banded, toks, 0.9, max_bucket_occupancy=_LSH_HOT_CAP
    )
    art = lsh_pairs_cached(
        spark, sf_dir, threshold=0.9, max_bucket_occupancy=_LSH_HOT_CAP
    )
    assert _same_rowset(
        direct.select("doc_a", "doc_b"), art.select("doc_a", "doc_b")
    )


# --- task 2: the pair set is a durable content-keyed artifact --------------


@pytest.mark.slow
def test_pair_set_artifact_is_durable_and_serves_without_remine(
    spark, sf_dir, monkeypatch
):
    """After one publish, a fresh consumer (caches cleared, the miner AND
    the index builder monkeypatched to raise) still runs the cluster
    entry entirely from the published parquet — the fit->serve handoff
    applied to a derived artifact."""
    import vmhub_data_pipeline_spark.operators.dedup as od
    from vmhub_data_pipeline_spark.operators.artifacts import artifact_complete
    from vmhub_data_pipeline_spark.operators.caching import invalidate
    from vmhub_data_pipeline_spark.queries import dedup as dq

    baseline = Q["dedup_cluster_lsh"].fn(spark, sf_dir)
    base_rows = sorted(tuple(r) for r in baseline.collect())
    path = dq.lsh_pairs_artifact_dir(sf_dir, 0.9, _LSH_HOT_CAP)
    assert artifact_complete(path)

    invalidate("lsh_pairs")

    def _forbidden(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("pair set was re-mined from a published artifact")

    monkeypatch.setattr(od, "minhash_pairs_from_index", _forbidden)
    monkeypatch.setattr(dq, "lsh_index_cached", _forbidden)
    cold = Q["dedup_cluster_lsh"].fn(spark, sf_dir)
    assert sorted(tuple(r) for r in cold.collect()) == base_rows


def test_pair_set_artifact_path_is_config_keyed(sf_dir):
    from vmhub_data_pipeline_spark.queries.dedup import lsh_pairs_artifact_dir

    p = lsh_pairs_artifact_dir(sf_dir, 0.9, _LSH_HOT_CAP)
    assert p == lsh_pairs_artifact_dir(sf_dir, 0.9, _LSH_HOT_CAP)
    assert lsh_pairs_artifact_dir(sf_dir, 0.9, None) != p
    assert lsh_pairs_artifact_dir(sf_dir, 0.8, _LSH_HOT_CAP) != p


# --- task 5: one-pass detect -> repair -> verify maintenance ----------------


def test_repair_all_clears_every_hot_bucket_in_one_pass(spark, sf_dir):
    """Every band of the three-family fixture starts with 3 over-cap
    buckets; ONE maintenance pass clears all of them and a second pass
    re-keys nothing (idempotence as output, not assertion)."""
    rows = {r["band_id"]: r for r in Q["dedup_lsh_repair_all"].fn(spark, sf_dir).collect()}
    assert len(rows) == 8
    for band, r in rows.items():
        assert r["hot_buckets_before"] == 3, (band, r)
        assert r["max_occ_before"] > _LSH_HOT_CAP
        assert r["hot_buckets_after"] == 0, (band, r)
        assert r["max_occ_after"] <= _LSH_HOT_CAP
        assert r["second_pass_changed"] == 0, (band, r)


@pytest.mark.slow
def test_reband_is_idempotent_rowwise_once_cleared(spark):
    """Operator-level pin: once one pass clears every hot bucket (true at
    the production cap on this fixture — the 150-doc family splits to
    sub-cap exact-signature groups), the repaired index is a row-wise
    fixed point of the repair. (At a cap BELOW the largest clone group
    a second pass re-salts the still-hot fragment — repair converges
    only when the cap exceeds the exact-clone family size, which is the
    exact-dup-collapse boundary the entry docstrings document.)"""
    from vmhub_data_pipeline_spark.operators.dedup import reband_hot_buckets

    docs = _skewed_docs(spark)
    banded = minhash_banded(docs, "doc_id", "text", portable=True)
    reb = reband_hot_buckets(banded, _LSH_HOT_CAP)
    occ_hot = (
        reb.groupBy("band_id", "band_hash")
        .count()
        .filter(F.col("count") > _LSH_HOT_CAP)
        .count()
    )
    assert occ_hot == 0  # one pass cleared everything at this cap
    reb2 = reband_hot_buckets(reb, _LSH_HOT_CAP)
    assert _same_rowset(reb, reb2)


# --- task 4: durable grown indexes ------------------------------------------


@pytest.mark.slow
def test_lsh_grown_cold_probe_serves_without_fit_or_growth(
    spark, sf_dir, monkeypatch
):
    """persist→grow→serve survives the session: after the growth stream
    publishes, every in-memory handle is cleared and BOTH the signer
    functions and the growth stream itself are forbidden — the cold
    entry still serves, row-identical to the warm streamed-growth
    probe."""
    from vmhub_data_pipeline_spark.operators.caching import invalidate
    from vmhub_data_pipeline_spark.queries import streaming_queries as sq

    warm_rows = {
        tuple(r) for r in Q["streaming_lsh_index_growth"].fn(spark, sf_dir).collect()
    }

    for name in ("lsh_growth_dir", "grown_probe", "lsh_index", "lsh_persisted"):
        invalidate(name)

    def _forbidden(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("fit/growth work ran on the cold grown path")

    monkeypatch.setattr(sq, "streaming_lsh_index_growth", _forbidden)
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.minhash_banded", _forbidden
    )
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.hashed_token_sets",
        _forbidden,
    )
    cold = Q["dedup_lsh_grown_cold_probe"].fn(spark, sf_dir)
    assert {tuple(r) for r in cold.collect()} == warm_rows


@pytest.mark.slow
def test_ann_grown_cold_reload_serves_without_fit_or_growth(
    spark, sf_dir, monkeypatch
):
    """The ANN twin: grown lists + frozen model mount from one published
    path; fit entry points AND the growth stream forbidden."""
    from vmhub_data_pipeline_spark.operators.caching import invalidate
    from vmhub_data_pipeline_spark.queries import streaming_queries as sq

    warm_rows = {
        tuple(r) for r in Q["streaming_index_growth"].fn(spark, sf_dir).collect()
    }

    for name in (
        "ivfpq_growth_dir", "grown_probe", "ivfpq_index", "ivfpq_persisted",
        "ann_probe_frame", "coarse_cents", "pq_books",
    ):
        invalidate(name)

    def _forbidden(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("fit/growth work ran on the cold grown path")

    monkeypatch.setattr(sq, "streaming_index_growth", _forbidden)
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.queries.vector.ivfpq_index_cached",
        _forbidden,
    )
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.queries.vector.ivfpq_index_persisted",
        _forbidden,
    )
    cold = Q["ann_ivfpq_grown_cold_reload"].fn(spark, sf_dir)
    assert {tuple(r) for r in cold.collect()} == warm_rows


def test_grown_artifact_paths_are_distinct_and_content_keyed(sf_dir):
    from vmhub_data_pipeline_spark.queries.dedup import lsh_artifact_dir
    from vmhub_data_pipeline_spark.queries.streaming_queries import (
        ivfpq_grown_artifact_dir,
        lsh_grown_artifact_dir,
    )
    from vmhub_data_pipeline_spark.queries.vector import ivfpq_artifact_dir

    # the grown artifact never collides with the fitted one
    assert lsh_grown_artifact_dir(sf_dir) != lsh_artifact_dir(sf_dir)
    assert ivfpq_grown_artifact_dir(sf_dir) != ivfpq_artifact_dir(sf_dir)
    assert lsh_grown_artifact_dir(sf_dir) == lsh_grown_artifact_dir(sf_dir)


# --- plan gates for the r12 entries ------------------------------------------


def test_cluster_entry_warm_path_reads_published_parquet(spark, sf_dir):
    """dedup_cluster_lsh's pair stage must be a parquet scan of the
    published artifact — zero signature expressions, zero band-join work
    in the entry's own plan (all paid once in the pair-set build line),
    which is the r12 warm-path claim behind pinning the bench median."""
    from vmhub_data_pipeline_spark.plans import explain_str

    Q["dedup_cluster_lsh"].fn(spark, sf_dir).count()  # ensure published
    from vmhub_data_pipeline_spark.queries.dedup import lsh_pairs_cached

    pairs = lsh_pairs_cached(
        spark, sf_dir, threshold=0.9, max_bucket_occupancy=_LSH_HOT_CAP
    )
    plan = explain_str(pairs)
    assert "Scan parquet" in plan, plan
    for expensive in ("md5(", "posexplode", "SortMergeJoin"):
        assert expensive not in plan, expensive


def test_repair_all_plan_is_index_grain_maintenance(spark, sf_dir):
    """dedup_lsh_repair_all: everything derives from the CHECKPOINTED
    multi-family index (ExistingRDD scans) — zero re-signing (no md5 /
    posexplode anywhere), the hot list rides a broadcast join, no
    cartesian, no single-partition window."""
    from vmhub_data_pipeline_spark.plans import (
        explain_str,
        single_partition_window_count,
    )

    df = Q["dedup_lsh_repair_all"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "ExistingRDD" in plan, plan
    for sig_expr in ("md5(", "posexplode"):
        assert sig_expr not in plan, sig_expr
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert single_partition_window_count(df) == 0


def test_grown_cold_probe_plan_reads_mounted_parquet_only(spark, sf_dir):
    """dedup_lsh_grown_cold_probe: the probe runs ENTIRELY from the
    mounted artifact — every index scan is a parquet scan (no
    ExistingRDD: the resident/grown session state is never consulted),
    the batch cutoff is pushed into the reader, and no signature
    expression appears (signatures live in the artifact)."""
    from vmhub_data_pipeline_spark.plans import (
        explain_str,
        has_pushed_filters,
        single_partition_window_count,
    )

    df = Q["dedup_lsh_grown_cold_probe"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "ExistingRDD" not in plan, plan
    assert has_pushed_filters(df, "GreaterThanOrEqual(id"), plan
    for sig_expr in ("md5(", "posexplode"):
        assert sig_expr not in plan, sig_expr
    assert "CartesianProduct" not in plan
    assert single_partition_window_count(df) == 0


def test_ann_grown_cold_plan_keeps_celled_contract(spark, sf_dir):
    """ann_ivfpq_grown_cold_reload: the celled ADC contract holds from
    the mounted grown lists — bucket equi-join (no cartesian, no nested
    loop), pure JVM expressions (no Python evaluator), query-grain
    windows only."""
    from vmhub_data_pipeline_spark.plans import (
        explain_str,
        single_partition_window_count,
    )

    df = Q["ann_ivfpq_grown_cold_reload"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert single_partition_window_count(df) == 0


# --- ADVICE r11: fingerprint hardening --------------------------------------


def test_dir_fingerprint_is_process_stable_and_content_sensitive(tmp_path):
    """sha256-based digest: stable across processes (no PYTHONHASHSEED
    salt), changes on any data-file add/resize, ignores bookkeeping."""
    import subprocess
    import sys

    from vmhub_data_pipeline_spark.operators.caching import dir_fingerprint

    d = tmp_path / "art"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 10)
    f1 = dir_fingerprint(str(d))
    assert isinstance(f1, str) and len(f1) == 64
    # cross-process stability (the regime builtin hash() breaks in)
    code = (
        "import sys; sys.path.insert(0, '/root/repo'); "
        "from vmhub_data_pipeline_spark.operators.caching import dir_fingerprint; "
        f"print(dir_fingerprint({str(d)!r}))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == f1
    (d / "_SUCCESS").write_bytes(b"")
    assert dir_fingerprint(str(d)) == f1  # bookkeeping ignored
    (d / "part-1.parquet").write_bytes(b"y" * 5)
    assert dir_fingerprint(str(d)) != f1  # appended file re-keys


def test_corpus_fingerprint_refuses_empty_corpus(tmp_path):
    from vmhub_data_pipeline_spark.operators.artifacts import stable_artifact_dir

    with pytest.raises(FileNotFoundError):
        stable_artifact_dir(
            "k", str(tmp_path / "nope"), ("p",), tables=("documents",)
        )


# --- artifact-store operator actions (r12) ----------------------------------


def test_prune_stale_staging_removes_only_old_debris(tmp_path, monkeypatch):
    """A hard-killed builder's staging dir is debris ONLY once old: young
    staging dirs (a live concurrent builder) and complete artifacts are
    never touched."""
    import os
    import time

    from vmhub_data_pipeline_spark.operators import artifacts as A

    root = tmp_path / "store"
    root.mkdir()
    monkeypatch.setenv("VMHUB_SPARK_ARTIFACTS", str(root))

    done = root / "lshidx-abc123"
    done.mkdir()
    (done / A._MARKER).write_bytes(b"")
    (done / "part-0.parquet").write_bytes(b"x")

    old_stage = root / "lshidx-abc123.tmp-dead0000"
    old_stage.mkdir()
    f = old_stage / "part-0.parquet"
    f.write_bytes(b"y")
    past = time.time() - 48 * 3600
    os.utime(f, (past, past))

    young_stage = root / "ivfpqidx-def456.tmp-live0000"
    young_stage.mkdir()
    (young_stage / "part-0.parquet").write_bytes(b"z")

    removed = A.prune_stale_staging(max_age_s=24 * 3600)
    assert removed == [str(old_stage)]
    assert done.exists() and young_stage.exists() and not old_stage.exists()

    inv = {r["path"]: r for r in A.artifact_inventory()}
    assert inv[str(done)]["complete"] and not inv[str(done)]["staging"]
    assert inv[str(young_stage)]["staging"]
    assert inv[str(done)]["kind"] == "lshidx"
    assert inv[str(young_stage)]["kind"] == "ivfpqidx"


def test_delete_artifact_refuses_paths_outside_the_root(tmp_path, monkeypatch):
    from vmhub_data_pipeline_spark.operators import artifacts as A

    root = tmp_path / "store"
    root.mkdir()
    monkeypatch.setenv("VMHUB_SPARK_ARTIFACTS", str(root))
    victim = tmp_path / "not_an_artifact"
    victim.mkdir()
    with pytest.raises(ValueError):
        A.delete_artifact(str(victim))
    with pytest.raises(ValueError):
        A.delete_artifact(str(root))  # the root itself is not deletable
    assert victim.exists()

    art = root / "lshidx-zzz"
    art.mkdir()
    assert A.delete_artifact(str(art)) is True
    assert not art.exists()
    assert A.delete_artifact(str(art)) is False  # idempotent
