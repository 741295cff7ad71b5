"""Round-9 pins: LSH index APPEND (growth ≡ rebuild, post-append probe
sees the batch), streamed IVF-PQ index growth, and OPQ recall."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from vmhub_data_pipeline_spark import queries as catalog
from vmhub_data_pipeline_spark.queries.dedup import (
    _lsh_batch_cut,
    lsh_index_appended,
    lsh_index_cached,
)

catalog._load_all()
Q = catalog.REGISTRY


def _same_rowset(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.slow
def test_lsh_append_equals_full_rebuild(spark, sf_dir):
    """append(frozen, batch) ≡ rebuild(corpus): merging the batch's
    freshly-signed band rows and shingle sets into the frozen index
    yields exactly the index a full rebuild would — the correctness
    contract that lets the daily pipeline append instead of re-mining."""
    grown_banded, grown_toks = lsh_index_appended(spark, sf_dir)
    full_banded, full_toks = lsh_index_cached(spark, sf_dir)
    assert _same_rowset(grown_banded, full_banded)
    assert _same_rowset(grown_toks, full_toks)


@pytest.mark.slow
def test_lsh_append_then_probe_finds_new_batch_dup(spark, sf_dir):
    """Index GROWTH is observable: a probe document duplicating a
    new-batch document finds it in the grown index (band-hash collision
    on every band — identical text, identical signature) and cannot find
    it in the frozen index (its rows predate the batch)."""
    from vmhub_data_pipeline_spark.operators.dedup import (
        band_candidates,
        minhash_banded,
    )
    from vmhub_data_pipeline_spark.tables import load

    cut = _lsh_batch_cut(spark, sf_dir)
    (docs,) = load(spark, sf_dir, "documents")
    target = (
        docs.filter(F.col("doc_id") >= cut)
        .orderBy(F.desc("doc_id"))
        .select("doc_id", "text")
        .limit(1)
        .collect()[0]
    )
    probe = spark.createDataFrame(
        [(-1, target["text"])], "doc_id BIGINT, text STRING"
    )
    probe_banded = minhash_banded(probe, "doc_id", "text", portable=True)

    grown_banded, _ = lsh_index_appended(spark, sf_dir)
    grown_hits = {
        r["hit_id"]
        for r in band_candidates(
            probe_banded, grown_banded, "probe_id", "hit_id", ordered=False
        ).collect()
    }
    assert target["doc_id"] in grown_hits

    frozen_hits = {
        r["hit_id"]
        for r in band_candidates(
            probe_banded,
            grown_banded.filter(F.col("id") < cut),
            "probe_id",
            "hit_id",
            ordered=False,
        ).collect()
    }
    assert target["doc_id"] not in frozen_hits


@pytest.mark.slow
def test_streamed_growth_row_equal_to_batch_rebuild(spark, sf_dir):
    """The streamed-grown index must serve the EXACT result a batch-built
    grown index serves: base lists ∪ batch add-rows (ann_ivfpq_add_batch's
    arithmetic applied batch-side), probed with the same model. Streaming
    machinery may not perturb a single row."""
    from vmhub_data_pipeline_spark.operators.similarity import (
        _nearest_centroid_expr,
        _pq_code_expr,
        ivfpq_knn,
    )
    from vmhub_data_pipeline_spark.queries.vector import (
        _pq_unit_corpus,
        ivfpq_index_cached,
    )

    streamed = Q["streaming_index_growth"].fn(spark, sf_dir)

    qdf, c = _pq_unit_corpus(spark, sf_dir)
    cents, books, base = ivfpq_index_cached(
        spark, sf_dir, dim=64, n_cells=16, coarse_iter=3, m=8, k=16, pq_iter=3
    )
    adds = qdf.select(
        F.col("vec_id").alias("corpus_id"),
        _nearest_centroid_expr(cents, F.col("embedding")).alias("bucket"),
        _pq_code_expr(F.col("embedding"), books, 64 // len(books)).alias("codes"),
        F.col("label").cast("int").alias("label"),
    )
    batch_grown = base.unionByName(adds)
    rebuilt = ivfpq_knn(
        qdf.unionByName(c), qdf, id_col="vec_id", vec_col="embedding", k=5,
        dim=64, cents=cents, books=books, nprobe=4, rerank_shortlist=40,
        index=batch_grown,
    )
    assert _same_rowset(streamed, rebuilt)


def test_streamed_growth_queries_retrieve_added_vectors(spark, sf_dir):
    """Post-growth, every query's rank-1 hit is its own newly-added
    vector at cosine 1.0 — index growth observable from the probe."""
    rows = Q["streaming_index_growth"].fn(spark, sf_dir).collect()
    by_q = {r["query_id"]: r for r in rows if r["rank"] == 1}
    assert by_q, "no rank-1 rows"
    for qid, r in by_q.items():
        assert r["corpus_id"] == qid
        assert r["cosine"] == 1.0


def test_streamed_growth_is_stateless_pure_append(spark, sf_dir):
    """The growth stream itself carries NO stateful operator (each
    micro-batch is a scan-side encode + append — state is the
    checkpoint's file log, never row state), and its appends are
    exactly-once across re-invocations: the lists row count is stable
    after a second run."""
    import os

    from vmhub_data_pipeline_spark.queries.streaming_queries import (
        _ivfpq_growth_dir,
    )

    Q["streaming_index_growth"].fn(spark, sf_dir).count()
    grown = _ivfpq_growth_dir(spark, sf_dir)
    n1 = spark.read.parquet(f"{grown}/lists").count()
    Q["streaming_index_growth"].fn(spark, sf_dir).count()
    n2 = spark.read.parquet(f"{grown}/lists").count()
    assert n1 == n2, f"re-run appended rows: {n1} -> {n2}"
    # >1 micro-batch actually ran: the checkpoint's committed-offsets log
    # advanced past batch 0
    commits = os.listdir(os.path.join(grown, "_ckpt", "commits"))
    assert {"0", "1"} <= {c for c in commits if not c.startswith(".")}


def _recall_at_5(spark, sf_dir, name: str, id_col: str = "corpus_id") -> float:
    from vmhub_data_pipeline_spark.operators.similarity import brute_force_knn
    from vmhub_data_pipeline_spark.queries.vector import _pq_unit_corpus

    q, c = _pq_unit_corpus(spark, sf_dir)
    truth: dict[int, set] = {}
    for r in brute_force_knn(c, q, "vec_id", "embedding", k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set] = {}
    for r in Q[name].fn(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r[id_col])
    hits = sum(len(got.get(qq, set()) & t) for qq, t in truth.items())
    return hits / sum(len(t) for t in truth.values())


def test_opq_recall_at_least_flat_pq(spark, sf_dir):
    """The learned transform may not LOSE recall against the flat-PQ
    baseline on the sf0.001 fixture (VERDICT r8 task 6's done-bar). At
    other sfs the random fixture is noise-bound for ORDERING (at sf0.01
    the shipped chain measures below flat PQ, 0.58 vs 0.72), so instead
    of skipping entirely — which would let a gross recall regression in
    the rotation/permutation chain pass unnoticed (ADVICE r10) — an
    absolute floor holds there. The ordering itself is pinned
    structurally on the r11 anisotropic fixture
    (tests/test_r11_queries.py::test_opq_beats_pq_on_anisotropic_fixture)."""
    opq = _recall_at_5(spark, sf_dir, "ann_opq_topk")
    if sf_dir.rstrip("/").endswith("sf0.001"):
        assert opq >= _recall_at_5(spark, sf_dir, "ann_pq_topk")
    else:
        assert opq >= 0.3, opq


@pytest.mark.slow
def test_opq_transform_is_orthogonal(spark, sf_dir):
    """Reflection + permutation is orthogonal: pairwise cosines of the
    transformed vectors equal the raw cosines to fp tolerance, and
    norms are preserved — the property that lets OPQ re-rank in rotated
    space without touching raw storage."""
    from vmhub_data_pipeline_spark.operators.similarity import (
        cosine_expr,
        dot_expr,
    )
    from vmhub_data_pipeline_spark.queries.vector import (
        _opq_transform,
        _pq_unit_corpus,
        opq_model_cached,
    )

    q, c = _pq_unit_corpus(spark, sf_dir)
    w, perm = opq_model_cached(spark, sf_dir)
    sample = c.limit(20)
    rot = _opq_transform(sample, w, perm, 64)
    a = sample.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = rot.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    both = a.join(b, a["ia"] == b["ib"])
    rows = both.select(
        dot_expr(F.col("va"), F.col("va")).alias("n_raw"),
        dot_expr(F.col("vb"), F.col("vb")).alias("n_rot"),
    ).collect()
    for r in rows:
        assert abs(r["n_raw"] - r["n_rot"]) < 1e-9
    pa = a.crossJoin(sample.select(F.col("vec_id").alias("ja"), F.col("embedding").alias("wa")))
    pb = b.crossJoin(rot.select(F.col("vec_id").alias("jb"), F.col("embedding").alias("wb")))
    cos_a = {
        (r["ia"], r["ja"]): r["cs"]
        for r in pa.select("ia", "ja", cosine_expr(F.col("va"), F.col("wa")).alias("cs")).collect()
    }
    cos_b = {
        (r["ib"], r["jb"]): r["cs"]
        for r in pb.select("ib", "jb", cosine_expr(F.col("vb"), F.col("wb")).alias("cs")).collect()
    }
    assert cos_a.keys() == cos_b.keys()
    for k_, va in cos_a.items():
        assert abs(va - cos_b[k_]) < 1e-9


def test_opq_model_permutation_is_bijective_and_snake(spark, sf_dir):
    """perm is a true permutation of range(dim), and each of the m
    subspaces receives exactly dim/m dimensions."""
    from vmhub_data_pipeline_spark.queries.vector import opq_model_cached

    w, perm = opq_model_cached(spark, sf_dir)
    assert sorted(perm) == list(range(64))
    per_sub = [0] * 8
    for newpos in perm:
        per_sub[newpos // 8] += 1
    assert per_sub == [8] * 8
    n = sum(x * x for x in w)
    assert abs(n - 1.0) < 1e-9


def test_lsh_append_audit_row_shape(spark, sf_dir):
    """One row per band; conservation (before + added = after) and
    bucket monotonicity hold on every row."""
    rows = Q["dedup_lsh_index_append"].fn(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["rows_before"] + r["rows_added"] == r["rows_after"]
        assert r["buckets_after"] >= r["buckets_before"]
        assert 0 <= r["new_buckets"] <= r["rows_added"]
        assert 0 <= r["collided_rows"] <= r["rows_added"]
        # every batch row either collides with a frozen bucket or lands in
        # a (possibly shared) new bucket
        assert r["collided_rows"] + r["new_buckets"] <= r["rows_added"]
