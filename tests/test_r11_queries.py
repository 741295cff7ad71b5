"""Round-11 pins: band-bucket occupancy cap ENFORCEMENT (VERDICT r10
what's-wrong #1), the re-band repair, crash-idempotent growth appends,
stable-path index artifacts with cold reload, and the clusterable ANN
fixture's recall-ordering pins."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from vmhub_data_pipeline_spark import queries as catalog
from vmhub_data_pipeline_spark.operators.dedup import (
    minhash_banded,
    minhash_lsh_candidates,
    minhash_neardup_pairs,
)
from vmhub_data_pipeline_spark.plans import explain_str
from vmhub_data_pipeline_spark.queries.dedup import _LSH_HOT_CAP

catalog._load_all()
Q = catalog.REGISTRY


def _same_rowset(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# --- task 1: band-bucket occupancy cap -----------------------------------


def _skewed_docs(spark, n_boiler: int = 150, n_pairs: int = 20):
    """A templated corpus: ``n_boiler`` near-identical boilerplate docs (a
    30-word template + one unique trailing token) plus ``n_pairs`` organic
    near-dup PAIRS over disjoint vocabularies. The boilerplate family
    shares one band hash per band (the degenerate bucket); the organic
    pairs live in occupancy-2 buckets."""
    t = " ".join(f"w{j}" for j in range(30))
    rows = [(i, f"{t} uniq{i}") for i in range(n_boiler)]
    for i in range(2 * n_pairs):
        pair = i // 2
        body = " ".join(f"org{pair}x{j}" for j in range(30))
        rows.append((10_000 + i, f"{body} tail{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.slow
def test_band_cap_bounds_candidates_on_skewed_corpus(spark):
    """The mirror of test_jaccard_token_cap_bounds_candidates_on_skewed_
    corpus at the band grain: uncapped, the boilerplate bucket goes
    quadratic; capped, over-cap buckets generate NOTHING while the
    organic occupancy-2 buckets are untouched."""
    docs = _skewed_docs(spark)
    cap = 50
    unc = minhash_lsh_candidates(docs, "doc_id", "text", portable=True)
    capd = minhash_lsh_candidates(
        docs, "doc_id", "text", portable=True, max_bucket_occupancy=cap
    )
    n_unc, n_cap = unc.count(), capd.count()
    # boilerplate all-pairs: ~150*149/2 candidates from the hot buckets
    assert n_unc > 5_000, n_unc
    # capped: hot buckets dropped; what's left is organic pairs plus the
    # sub-cap fringe of the boilerplate family
    assert n_cap < n_unc / 5, (n_cap, n_unc)
    # capped candidates are a SUBSET of uncapped (the cap only drops)
    assert capd.exceptAll(unc).isEmpty()

    # no surviving candidate comes from an over-cap bucket: re-derive the
    # occupancy table and check every capped pair shares a sub-cap bucket
    banded = minhash_banded(docs, "doc_id", "text", portable=True)
    occ = banded.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("occ")
    )
    kept = banded.join(
        occ.filter(F.col("occ") <= cap).select("band_id", "band_hash"),
        ["band_id", "band_hash"],
        "left_semi",
    )
    legit = (
        kept.alias("l")
        .join(
            kept.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("doc_a"), F.col("r.id").alias("doc_b")
        )
        .distinct()
    )
    assert capd.exceptAll(legit).isEmpty()


def test_band_cap_keeps_organic_recall_and_exact_precision(spark):
    """Verified output under the cap: every organic near-dup pair survives
    (their buckets are far below the cap) and every reported jaccard is
    exact — the cap trades ONLY boilerplate-family recall."""
    docs = _skewed_docs(spark)
    got = minhash_neardup_pairs(
        docs, "doc_id", "text", threshold=0.9, portable=True,
        max_bucket_occupancy=50,
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    # the 20 organic near-dup pairs (28 shared shingles of 29 each ->
    # jaccard 28/30 = 0.933 >= 0.9)
    for i in range(20):
        assert (10_000 + 2 * i, 10_000 + 2 * i + 1) in pairs
    # nothing below the threshold leaks (precision exact under the cap)
    for r in got:
        assert r["jaccard"] >= 0.9
    # no boilerplate pair survives: they collide only in over-cap buckets
    assert all(a >= 10_000 for a, _ in pairs), sorted(pairs)[:5]


def test_capped_miner_equals_organic_pairs(spark, sf_dir):
    """dedup_minhash_lsh_capped runs on documents ∪ the boilerplate slice
    with the production cap: the hot buckets (the ONLY place boilerplate
    pairs collide) are dropped, so output equals the uncapped miner on
    the un-augmented fixture exactly."""
    assert _same_rowset(
        Q["dedup_minhash_lsh_capped"].fn(spark, sf_dir),
        Q["dedup_minhash_lsh"].fn(spark, sf_dir),
    )


def test_capped_probe_plans_have_semi_join_no_cartesian(spark, sf_dir):
    """The enforced cap shows in the plan: the band join's index leg rides
    a left-semi join against the sub-cap bucket list; nothing cartesian."""
    for name in ("dedup_minhash_lsh_capped", "dedup_incremental_lsh",
                 "dedup_lsh_persist_probe"):
        plan = explain_str(Q[name].fn(spark, sf_dir))
        assert "LeftSemi" in plan, (name, plan)
        assert "CartesianProduct" not in plan, name


# --- task 5: re-band repair ----------------------------------------------


def test_reband_resolves_hot_buckets(spark, sf_dir):
    """Every band holds exactly the boilerplate hot bucket before repair;
    after the full-signature re-key, no bucket exceeds the cap and the
    candidate volume collapses — while untouched (non-hot) buckets are
    preserved bucket-for-bucket."""
    rows = Q["dedup_lsh_reband_hot"].fn(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["hot_buckets_before"] >= 1, r
        assert r["hot_buckets_after"] == 0, r
        assert r["max_occ_after"] <= _LSH_HOT_CAP, r
        assert r["cand_pairs_after"] < r["cand_pairs_before"] / 2, r
        # splitting only ADDS buckets (hot bucket -> several groups)
        assert r["buckets_after"] > r["buckets_before"], r


def test_reband_restores_serving_under_the_cap(spark, sf_dir):
    """The repair closes the loop: pre-reband, the capped band join drops
    the boilerplate family entirely (its only colliding buckets are hot);
    post-reband the split buckets sit under the cap, so the SAME capped
    join serves template-family candidates again — bounded by the
    exact-signature group sizes instead of quadratic in the family."""
    from vmhub_data_pipeline_spark.operators.dedup import (
        band_candidates,
        reband_hot_buckets,
    )
    from vmhub_data_pipeline_spark.queries.dedup import (
        _BOILER_BASE_ID,
        lsh_aug_index_cached,
    )

    banded, _toks = lsh_aug_index_cached(spark, sf_dir)

    def boiler_pairs(b) -> int:
        c = band_candidates(
            b, b, "doc_a", "doc_b", ordered=True,
            max_bucket_occupancy=_LSH_HOT_CAP,
        )
        return c.filter(
            (F.col("doc_a") >= _BOILER_BASE_ID)
            & (F.col("doc_b") >= _BOILER_BASE_ID)
        ).count()

    assert boiler_pairs(banded) == 0
    reb = reband_hot_buckets(banded, _LSH_HOT_CAP)
    served = boiler_pairs(reb)
    assert served > 0
    # still bounded: far below the family's all-pairs volume
    assert served < 150 * 149 / 2, served


@pytest.mark.slow
def test_rebanded_serving_is_superset_of_capped(spark, sf_dir):
    """The close of the cap→audit→re-band loop: serving from the repaired
    index keeps every organic pair the capped miner found (repair never
    touches sub-cap buckets) AND recovers the boilerplate family's
    near-dup pairs, each exact-verified at the threshold."""
    from vmhub_data_pipeline_spark.queries.dedup import _BOILER_BASE_ID

    capped = Q["dedup_minhash_lsh_capped"].fn(spark, sf_dir)
    served = Q["dedup_minhash_lsh_rebanded"].fn(spark, sf_dir)
    assert capped.exceptAll(served).isEmpty()
    recovered = served.exceptAll(capped).collect()
    assert recovered
    for r in recovered:
        assert r["doc_a"] >= _BOILER_BASE_ID and r["doc_b"] >= _BOILER_BASE_ID
        assert r["jaccard"] >= 0.9


# --- task 2: crash-idempotent growth appends ------------------------------


def _orderless_digest(df) -> tuple:
    """(row_count, order-insensitive content digest) over every column."""
    h = F.sha2(
        F.concat_ws("\x01", *[F.col(c).cast("string") for c in df.columns]),
        256,
    )
    agg = df.select(h.alias("h")).agg(
        # 40-bit per-row term keeps the ANSI-mode sum far from overflow
        F.sum(F.conv(F.substring("h", 1, 10), 16, 10).cast("long")).alias("d"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return agg["n"], agg["d"]


def _replay_with_fresh_checkpoint(spark, sf_dir, name, growth_dir):
    """Run a growth stream, wipe ONLY its checkpoint (keeping the grown
    parquets — the mid-crash worst case: data written, commit lost), and
    run it again so every batch replays."""
    import os
    import shutil

    Q[name].fn(spark, sf_dir).count()
    grown = growth_dir(spark, sf_dir)
    shutil.rmtree(os.path.join(grown, "_ckpt"))
    Q[name].fn(spark, sf_dir).count()
    return grown


@pytest.mark.slow
def test_lsh_growth_replay_is_idempotent(spark, sf_dir):
    """Batch-keyed partition overwrites make a FULL replay (fresh
    checkpoint, same arrival files, grown parquets already populated)
    reproduce the identical row sets on BOTH legs — where a plain append
    sink would have doubled every batch's rows (VERDICT r10 task 2)."""
    from vmhub_data_pipeline_spark.queries.streaming_queries import _lsh_growth_dir

    Q["streaming_lsh_index_growth"].fn(spark, sf_dir).count()
    grown = _lsh_growth_dir(spark, sf_dir)
    before = (
        _orderless_digest(spark.read.parquet(f"{grown}/banded")),
        _orderless_digest(spark.read.parquet(f"{grown}/toks")),
    )
    _replay_with_fresh_checkpoint(
        spark, sf_dir, "streaming_lsh_index_growth", _lsh_growth_dir
    )
    after = (
        _orderless_digest(spark.read.parquet(f"{grown}/banded")),
        _orderless_digest(spark.read.parquet(f"{grown}/toks")),
    )
    assert before == after, (before, after)


@pytest.mark.slow
def test_ivfpq_growth_replay_is_idempotent(spark, sf_dir):
    """Same pin for the IVF-PQ growth stream's lists sink."""
    from vmhub_data_pipeline_spark.queries.streaming_queries import (
        _ivfpq_growth_dir,
    )

    Q["streaming_index_growth"].fn(spark, sf_dir).count()
    grown = _ivfpq_growth_dir(spark, sf_dir)
    before = _orderless_digest(spark.read.parquet(f"{grown}/lists"))
    _replay_with_fresh_checkpoint(
        spark, sf_dir, "streaming_index_growth", _ivfpq_growth_dir
    )
    after = _orderless_digest(spark.read.parquet(f"{grown}/lists"))
    assert before == after, (before, after)


@pytest.mark.slow
def test_lsh_growth_failure_discards_and_retry_recovers(spark, sf_dir):
    """ADVICE r10: a StreamingQueryException mid-growth must run the same
    discard path as the timeout branch (pop the cache, remove the growth
    dir) so a same-session retry rebuilds from the immutable persisted
    artifact — and the retry must then produce the normal result."""
    import os

    import vmhub_data_pipeline_spark.operators.dedup as dedup_ops
    from vmhub_data_pipeline_spark.operators.caching import invalidate, store

    # reference result from a clean run, then reset the growth state
    ref = _orderless_digest(Q["streaming_lsh_index_growth"].fn(spark, sf_dir))
    key = (spark.sparkContext.applicationId, sf_dir)
    invalidate("lsh_growth_dir")

    real = dedup_ops.minhash_banded

    def _boom(*a, **k):
        raise ValueError("injected signer failure")

    dedup_ops.minhash_banded = _boom
    try:
        with pytest.raises(RuntimeError, match="discarding the growth dir"):
            Q["streaming_lsh_index_growth"].fn(spark, sf_dir).count()
    finally:
        dedup_ops.minhash_banded = real
    # the discard ran: no half-grown dir is cached or left on disk
    assert key not in store("lsh_growth_dir")
    # retry rebuilds cleanly and serves the reference result
    got = _orderless_digest(Q["streaming_lsh_index_growth"].fn(spark, sf_dir))
    assert got == ref


def test_reband_is_index_maintenance_only(spark, sf_dir):
    """The repair never re-signs anything: the full-signature salt is an
    aggregation of the banded index itself, so the audit plan contains no
    shingle/posexplode machinery beyond the (cached) index build."""
    df = Q["dedup_lsh_reband_hot"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "posexplode" not in plan, plan


# --- task 3: stable-path artifacts + cold reload ---------------------------


def test_artifact_paths_are_pure_and_content_keyed(sf_dir):
    """The artifact dir is a pure function of corpus+params: stable across
    calls, distinct across corpora and kinds, no session state."""
    from vmhub_data_pipeline_spark.queries.dedup import lsh_artifact_dir
    from vmhub_data_pipeline_spark.queries.vector import ivfpq_artifact_dir

    p = lsh_artifact_dir(sf_dir)
    assert p == lsh_artifact_dir(sf_dir)
    assert lsh_artifact_dir("/root/testdata/sf0.01") != p
    assert ivfpq_artifact_dir(sf_dir) != p
    assert ivfpq_artifact_dir(sf_dir) == ivfpq_artifact_dir(sf_dir)


@pytest.mark.slow
def test_lsh_cold_probe_serves_without_any_fit(spark, sf_dir, monkeypatch):
    """The fit→serve handoff survives the session: with the artifact
    published, every in-memory cache cleared, and the signer functions
    FORBIDDEN (monkeypatched to raise), the cold probe still serves —
    row-identical to the resident-index probe."""
    from vmhub_data_pipeline_spark.operators.caching import invalidate
    from vmhub_data_pipeline_spark.queries.dedup import lsh_index_persisted

    ref = Q["dedup_incremental_lsh"].fn(spark, sf_dir)
    ref_rows = ref.collect()
    lsh_index_persisted(spark, sf_dir)  # publish the stable artifact

    invalidate("lsh_index")
    invalidate("lsh_persisted")

    def _forbidden(*a, **k):
        raise AssertionError("fit work ran on the cold path")

    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.minhash_banded", _forbidden
    )
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.dedup.hashed_token_sets",
        _forbidden,
    )
    cold = Q["dedup_lsh_cold_probe"].fn(spark, sf_dir)
    got = {tuple(r) for r in cold.collect()}
    assert got == {tuple(r) for r in ref_rows}


def test_ann_cold_reload_serves_without_any_fit(spark, sf_dir, monkeypatch):
    """Same pin for the ANN tier: artifact published, model/index caches
    cleared, BOTH fit entry points forbidden — the cold reload serves the
    resident probe's exact rows from the mounted path alone."""
    from vmhub_data_pipeline_spark.operators.caching import invalidate
    from vmhub_data_pipeline_spark.queries.vector import ivfpq_index_persisted

    ref_rows = {tuple(r) for r in Q["ann_ivfpq_topk"].fn(spark, sf_dir).collect()}
    ivfpq_index_persisted(spark, sf_dir)  # publish the stable artifact

    for name in (
        "ivfpq_index", "coarse_cents", "pq_books", "ivfpq_persisted",
        "ann_probe_frame",
    ):
        invalidate(name)

    def _forbidden(*a, **k):
        raise AssertionError("fit work ran on the cold path")

    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.queries.vector.ivfpq_index_cached",
        _forbidden,
    )
    monkeypatch.setattr(
        "vmhub_data_pipeline_spark.operators.similarity.lloyd_fit",
        _forbidden,
    )
    cold = Q["ann_ivfpq_cold_reload"].fn(spark, sf_dir)
    assert {tuple(r) for r in cold.collect()} == ref_rows


# --- task 4: clusterable ANN fixtures — recall ordering pinned, not argued


def _fixture_frames(spark, rows):
    from vmhub_data_pipeline_spark.operators.similarity import checkpoint_index

    return checkpoint_index(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    )


def _ann_truth(corpus, queries):
    from vmhub_data_pipeline_spark.operators.similarity import brute_force_knn

    t: dict[int, set] = {}
    for r in brute_force_knn(corpus, queries, "vec_id", "embedding", k=5).collect():
        t.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return t


def _ann_recall(df, truth, id_col="corpus_id"):
    got: dict[int, set] = {}
    for r in df.collect():
        got.setdefault(r["query_id"], set()).add(r[id_col])
    return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / sum(
        len(t) for t in truth.values()
    )


@pytest.mark.slow
def test_opq_beats_pq_on_anisotropic_fixture(spark):
    """The recall ordering OPQ > PQ, pinned on a fixture where the effect
    is structural instead of noise (VERDICT r10 task 4): variance lives in
    8 hot dimensions that are CONTIGUOUS — all land in PQ subspace 0, so
    its 16 codes must encode 8 signal dimensions while subspaces 1-7 code
    noise; OPQ's energy-balanced snake permutation spreads them one per
    subspace. numpy PCG64(seed) is platform-stable, so the measured
    recalls are exact constants (0.833 vs 0.200 at authoring), pinned
    with wide margins. sf-independent (pure synthetic)."""
    import numpy as np

    import pyspark.sql.functions as F2
    from vmhub_data_pipeline_spark.operators.similarity import (
        checkpoint_index,
        lloyd_fit,
        pq_knn,
        pq_levels,
    )
    from vmhub_data_pipeline_spark.queries.vector import (
        _opq_transform,
        opq_model_fit,
    )

    dim = 64
    rng = np.random.default_rng(1107)
    scale = np.array([3.0] * 8 + [0.25] * 56)

    def mk(n, base):
        out = []
        for i in range(n):
            v = rng.normal(size=dim) * scale
            v = v / np.linalg.norm(v)
            out.append((base + i, [float(x) for x in v], 0))
        return out

    corpus = _fixture_frames(spark, mk(240, 0))
    queries = _fixture_frames(spark, mk(24, 100_000))
    truth = _ann_truth(corpus, queries)

    books_raw = lloyd_fit(
        corpus, "vec_id", "embedding", pq_levels(dim, 8, 16, 3), exact_mean=True
    )
    r_pq = _ann_recall(
        pq_knn(corpus, queries, "vec_id", "embedding", k=5, dim=dim,
               books=books_raw, rerank_shortlist=None),
        truth,
    )
    w, perm = opq_model_fit(
        corpus.select("vec_id", F2.col("embedding").alias("v")), dim, 8, 48
    )
    rot_c = checkpoint_index(_opq_transform(corpus, w, perm, dim))
    rot_q = _opq_transform(queries, w, perm, dim)
    books_rot = lloyd_fit(
        rot_c, "vec_id", "embedding", pq_levels(dim, 8, 16, 3), exact_mean=True
    )
    r_opq = _ann_recall(
        pq_knn(rot_c, rot_q, "vec_id", "embedding", k=5, dim=dim,
               books=books_rot, rerank_shortlist=None),
        truth,
    )
    assert r_opq >= r_pq + 0.3, (r_opq, r_pq)
    assert r_opq >= 0.7, r_opq
    assert r_pq <= 0.4, r_pq


@pytest.mark.slow
def test_residual_beats_vector_coded_on_clustered_fixture(spark):
    """The recall ordering residual-coded > vector-coded IVF-PQ, pinned on
    the fixture the layouts differ on: far-apart cluster centers (the
    coarse quantizer's job) plus ANISOTROPIC decaying within-cluster
    offsets (rankable structure for the codes). Vector-coded burns its
    code budget re-encoding the center; residual codes spend it on the
    offsets. This fixture also found the cross-cell ADC bias bug fixed in
    r11 (the missing ||qr||^2 term — recall was 0.000 before the fix,
    0.500 vs 0.350 after; see ivfpq_residual_knn). sf-independent."""
    import numpy as np

    import pyspark.sql.functions as F2
    from vmhub_data_pipeline_spark.operators.similarity import (
        _as_double,
        _nearest_centroid_expr,
        _residual_expr,
        ivfpq_knn,
        ivfpq_residual_knn,
        kmeans_fit,
        lloyd_fit,
        pq_levels,
    )

    dim = 64
    rng = np.random.default_rng(2211)
    centers = rng.normal(size=(8, dim)) * 3.0
    sig = 0.6 * (0.9 ** np.arange(dim))

    def mk(n, base):
        out = []
        for i in range(n):
            v = centers[i % 8] + rng.normal(size=dim) * sig
            v = v / np.linalg.norm(v)
            out.append((base + i, [float(x) for x in v], 0))
        return out

    corpus = _fixture_frames(spark, mk(240, 0))
    queries = _fixture_frames(spark, mk(24, 100_000))
    truth = _ann_truth(corpus, queries)

    cents = kmeans_fit(
        corpus, "vec_id", "embedding", k=16, max_iter=3, exact_mean=True
    )
    books_vec = lloyd_fit(
        corpus, "vec_id", "embedding", pq_levels(dim, 8, 16, 3), exact_mean=True
    )
    r_vec = _ann_recall(
        ivfpq_knn(corpus, queries, id_col="vec_id", vec_col="embedding",
                  k=5, dim=dim, cents=cents, books=books_vec, nprobe=4,
                  rerank_shortlist=None),
        truth,
    )
    v = _as_double(F2.col("embedding"))
    res = corpus.select(
        "vec_id",
        _residual_expr(v, cents, _nearest_centroid_expr(cents, v)).alias(
            "embedding"
        ),
    )
    books_res = lloyd_fit(
        res, "vec_id", "embedding", pq_levels(dim, 8, 16, 3), exact_mean=True
    )
    r_res = _ann_recall(
        ivfpq_residual_knn(corpus, queries, id_col="vec_id",
                           vec_col="embedding", k=5, dim=dim, cents=cents,
                           books=books_res, nprobe=4, rerank_shortlist=None),
        truth,
    )
    assert r_res >= r_vec + 0.1, (r_res, r_vec)
    assert r_res >= 0.45, r_res


def test_cold_probe_plan_is_parquet_only(spark, sf_dir):
    """The cold probe's plan: every index scan is a parquet scan (zero
    ExistingRDD — the resident checkpoint is never consulted), the batch
    cutoff reaches the reader, and no signature expression appears."""
    from vmhub_data_pipeline_spark.plans import has_pushed_filters

    df = Q["dedup_lsh_cold_probe"].fn(spark, sf_dir)
    plan = explain_str(df)
    assert "ExistingRDD" not in plan, plan
    assert has_pushed_filters(df, "GreaterThanOrEqual(id"), plan
    assert has_pushed_filters(df, "LessThan(id"), plan
    for sig_expr in ("md5(", "posexplode"):
        assert sig_expr not in plan, sig_expr
