"""Round-13 OPTIMIZATION pins: plan/partitioning regression gates for the
operators whose internals this round restructured for performance. Values
are covered by the oracles (the driver re-checks every entry); these pins
hold the SHAPE wins so a refactor cannot silently reintroduce the
measured pathologies:

* pipeline_rag_retrieval — corpus embedding hashes each token ONCE via
  explode + two partial aggregations (was: dim re-scans of each chunk's
  token array inside one Project);
* simhash_neardup_pairs — the doc-grain signature frame is checkpointed
  once and BOTH self-join legs read it (was: the full explode + 60-sum
  vote aggregation planned twice);
* ivf_multi_corpus — synthetic fixture legs are single-partition ranges
  (was: defaultParallelism slices per leg, a ~200-task scheduling floor
  under every warm maintenance job);
* events_rfm_segmentation — the three quintile maps attach to the
  materialized user frame independently (values pinned equal to the
  sequential composition by the oracle + the quintile test).
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from vmhub_data_pipeline_spark import queries as catalog
from vmhub_data_pipeline_spark.plans import explain_str

catalog._load_all()
Q = catalog.REGISTRY


def test_rag_corpus_embedding_is_aggregation_grain(spark, sf_dir):
    """The corpus-side hashed-BoW must stay on the token-explode +
    aggregation path (one md5 per token): the dedup'd chunk histogram
    arrives via a map-collect aggregate, never via dim per-residue
    array folds in a Project (dim x |toks| md5 evals per chunk — the
    pre-r13 shape, measured 2.6x slower at sf0.1)."""
    plan = explain_str(Q["pipeline_rag_retrieval"].fn(spark, sf_dir))
    assert "map_from_entries" in plan, plan[:2000]
    # the per-residue fold form would carry 16 filter(...) lambdas over
    # the chunk tokens in a single projection; the aggregation path has
    # exactly one corpus-side md5('emb-v1:...') site (the query batch
    # keeps the fold form but over doc words, not chunk tokens)
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_simhash_pairs_share_one_signature_build(spark, sf_dir):
    """Both pigeonhole join legs must consume the CHECKPOINTED signature
    frame: the plan scans an ExistingRDD and plans the 60-sum vote
    aggregation zero times (it ran once, eagerly, at build)."""
    from vmhub_data_pipeline_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(
        simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3, portable=True)
    )
    assert "ExistingRDD" in plan, plan[:2000]
    # pre-r13 the two legs re-planned the vote aggregation: 12
    # HashAggregate nodes; sharing the checkpoint leaves only the
    # distinct's partial/final pairs
    assert plan.count("HashAggregate") <= 6, plan[:2000]


def test_ivf_multi_corpus_partitions_bounded(spark, sf_dir):
    """The maintenance fixture corpus must not fan its ~1k rows across
    cores x legs partitions: each synthetic range leg is pinned to ONE
    slice, so the union carries at most scan-splits + 6 partitions and
    every warm maintenance job stays at a small task count."""
    from vmhub_data_pipeline_spark.queries.vector import ivf_multi_corpus

    c = ivf_multi_corpus(spark, sf_dir)
    scan_parts = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").rdd.getNumPartitions()
    )
    assert c.rdd.getNumPartitions() <= scan_parts + 6


def test_grouped_kmeans_fit_matches_per_cell_fits(spark, sf_dir):
    """ann_ivf_rebalance_all's grouped Lloyd (one job per round for ALL
    hot cells) must return bit-identical models to the per-cell
    kmeans_fit loop it replaced — same smallest-id seeds, same argmin,
    same exact-integer means — including cells of DIFFERENT k."""
    from vmhub_data_pipeline_spark.operators.similarity import (
        grouped_kmeans_fit,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # three disjoint synthetic cells with different k
    mem = emb.select(
        (F.col("vec_id") % 3).cast("int").alias("cell"),
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
    )
    k_by = {0: 3, 1: 2, 2: 4}
    grouped = grouped_kmeans_fit(mem, "cell", "id", "v", k_by, max_iter=2)
    for g, k in k_by.items():
        solo = kmeans_fit(
            mem.filter(F.col("cell") == g).select("id", "v"),
            "id", "v", k=k, max_iter=2, exact_mean=True,
        )
        assert grouped[g] == solo, f"cell {g} diverged"


def test_rfm_tiles_attach_to_user_frame_independently(spark, sf_dir):
    """The three tile maps must join the checkpointed user frame as
    SIBLINGS (three user-grain equi-joins of narrow maps), not as a
    chained composition that re-plans each previous join into the next
    ntile's range pass. Values are pinned by the oracle and
    test_rfm_scores_are_quintiles; this holds the shape."""
    import re

    df = Q["events_rfm_segmentation"].fn(spark, sf_dir)
    plan = explain_str(df)
    # three independent MapInPandas enumerate legs (one per metric),
    # each reading a narrow (user_id, metric) projection of the
    # checkpointed user frame — the chained shape dragged the previous
    # tilings' join output through each next range pass
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 3, plan[:2000]
    for leg in re.findall(r"Input \[\d+\]: \[user_id#\d+L?, (?:recency_days|frequency|monetary_cents)#\d+L?\]", plan):
        assert leg  # narrow two-column inputs ride the Arrow boundary
    rows = df.select(F.count(F.lit(1)).alias("n")).collect()
    assert rows[0]["n"] > 0
