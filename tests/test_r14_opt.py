"""Resident-frame width and plan pins.

One width rule holds for every resident frame: the build runs wide
(``spread_small_input`` fans a small input out to the core count) and
the eager ``checkpoint_index`` stores it narrow, coalesced to
ceil(sizeInBytes / slice) partitions from the frame's own Catalyst
statistics, never widened. The r13 full-cores checkpoint made every
cheap downstream job (band self-join, verify join, pair publish, Lloyd
round) pay a full-cores task floor — the lsh_pairs_build 1.89 -> 3.30 s
regression. These pins hold the width, the kept statistics and the
constraint strip, and that no call site sizes its own frames again.
"""

from __future__ import annotations

import ast
import math
import os
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from vmhub_data_pipeline_spark.operators import similarity
from vmhub_data_pipeline_spark.operators.similarity import (
    _BYTES_PER_SLICE,
    checkpoint_index,
    spread_small_input,
)

SF = "/root/testdata/sf0.001"
PKG = Path(similarity.__file__).resolve().parents[1]
LONG_MAX = 2**63 - 1


def _expected_width(sf_dir: str) -> int:
    nbytes = os.path.getsize(f"{sf_dir}/documents.parquet")
    return max(1, math.ceil(nbytes / _BYTES_PER_SLICE))


def _size(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def _fingerprint(df) -> tuple:
    """(count, order-insensitive row hash)."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return row[0], row[1]


def _spread_docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spread = spread_small_input(docs, "doc_id")
    # an input narrower than the cores fans out to the core count
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    return spread


def _range(spark):
    return spark.range(0, 100, 1, 4).repartition(16)


def _grown_union(spark):
    # the grown-index shape of lsh_index_appended: a frozen resident leg
    # and a resident batch leg, unioned, then checkpointed
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars")
    cut = docs.agg(F.percentile_approx("doc_id", 0.5)).first()[0]
    frozen = checkpoint_index(docs.repartition(8, "doc_id"))
    batch = checkpoint_index(docs.filter(F.col("doc_id") >= cut).repartition(8))
    return frozen.filter(F.col("doc_id") < cut).unionByName(batch)


def _lsh_aug_joint(spark):
    from vmhub_data_pipeline_spark.operators.dedup import minhash_signed_sets
    from vmhub_data_pipeline_spark.queries.dedup import boilerplate_corpus

    return minhash_signed_sets(
        boilerplate_corpus(spark, SF), "doc_id", "text", portable=True
    )


@pytest.mark.parametrize(
    "build", [_spread_docs, _range, _grown_union, _lsh_aug_joint],
    ids=["spread_docs", "range", "grown_union", "lsh_aug_joint"],
)
def test_checkpoint_stores_at_its_own_size(spark, build):
    """An eager checkpoint reads at min(width, ceil(sizeInBytes/slice)),
    sized from its own statistics (synthetic ranges and unions included),
    with the rows unchanged."""
    df = build(spark)
    plain = df.localCheckpoint()
    width = plain.rdd.getNumPartitions()
    resident = checkpoint_index(df)
    size = _size(resident)
    assert 0 < size < LONG_MAX
    assert size == _size(plain)
    assert resident.rdd.getNumPartitions() == min(
        width, max(1, math.ceil(size / _BYTES_PER_SLICE))
    )
    assert _fingerprint(resident) == _fingerprint(df)


def test_lazy_checkpoint_keeps_its_width(spark):
    """A lazy checkpoint is not narrowed: the coalesce would run the
    build itself narrow."""
    df = spark.range(0, 100, 1, 4).repartition(16)
    assert checkpoint_index(df, eager=False).rdd.getNumPartitions() == 16


def test_fit_reads_a_resident_input_as_it_is(spark):
    """A fit's input is materialized once: a checkpointed frame (a filter
    of one included) is read as it is, from the same blocks; a scan or
    local rows are spread and checkpointed."""
    from vmhub_data_pipeline_spark.operators.similarity import _fit_frame, _is_resident

    def leaf_rdds(df) -> set[int]:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return {leaves.apply(i).rdd().id() for i in range(leaves.size())}

    scan = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    local = spark.createDataFrame([(1, [1.0])], "id long, v array<double>")
    resident = checkpoint_index(scan).filter(F.col("id") >= 10)
    assert not _is_resident(scan) and not _is_resident(local)
    assert _is_resident(resident)
    kept = _fit_frame(resident, F.col("id"), F.col("v"))
    assert leaf_rdds(kept) == leaf_rdds(resident)
    for df in (scan, local):
        assert _is_resident(_fit_frame(df, F.col("id"), F.col("v")))


def test_small_resident_frame_plans_as_broadcast(spark):
    """A resident frame keeps its statistics, so a 10-row checkpoint
    joined to a checkpointed corpus is a broadcast in the initial
    (pre-AQE) physical plan, not a runtime rescue."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = checkpoint_index(docs.select("doc_id", "text"))
    ten = checkpoint_index(docs.select("doc_id", "n_chars").orderBy("doc_id").limit(10))
    plan = corpus.join(ten, "doc_id")._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_resident_frame_drops_origin_constraints(spark):
    """The origin plan's constraints do not ride into later plans: a
    predicate on a derived column would otherwise be re-inferred into a
    later equi-join over attributes the resident frame does not have
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    derived = docs.select(
        "doc_id", (F.col("n_chars") % 7).alias("bucket")
    ).filter(F.col("bucket") == 3)
    plain = derived.localCheckpoint()
    assert not plain._jdf.queryExecution().optimizedPlan().constraints().isEmpty()
    resident = checkpoint_index(derived)
    assert resident._jdf.queryExecution().optimizedPlan().constraints().isEmpty()
    other = checkpoint_index(
        docs.select("doc_id", (F.col("n_chars") % 7).alias("bucket"))
    )
    joined = other.join(resident, ["bucket", "doc_id"])
    assert joined.count() == derived.count() > 0


def test_lsh_index_mine_side_is_narrow(spark):
    """The maintained LSH index hands its consumers corpus-width frames:
    banded and toks must read at the byte-derived width, not the build's
    full-cores spread (the r13 lsh_pairs_build pathology)."""
    from vmhub_data_pipeline_spark.operators.caching import invalidate
    from vmhub_data_pipeline_spark.queries.dedup import lsh_index_cached

    invalidate("lsh_index")
    banded, toks = lsh_index_cached(spark, SF)
    k = _expected_width(SF)
    assert banded.rdd.getNumPartitions() <= k
    assert toks.rdd.getNumPartitions() <= k


# The width names outside operators/similarity.py, each with its reason.
WIDTH_EXEMPT = {
    # the Levenshtein verify's input is a join output: rdd.getNumPartitions
    # reads the pre-AQE shuffle width there, so spread_small_input would
    # be a no-op where AQE folds the CPU-heavy DP onto one task
    ("queries/text.py", "defaultParallelism"),
}


def test_partition_width_is_chosen_in_one_place():
    """Only operators/similarity.py reads the core count, a partition
    count or the slice constant; every other module gets its widths from
    spread_small_input and checkpoint_index."""
    names = {"defaultParallelism", "getNumPartitions", "_BYTES_PER_SLICE"}
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/similarity.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = node.name
            else:
                continue
            if name in names:
                found.append((rel, name))
    offenders = [f for f in found if f not in WIDTH_EXEMPT]
    assert not offenders, offenders
    assert WIDTH_EXEMPT <= set(found), "stale exemption"


# Calls that publish to the artifact store outside operators/artifacts.py
# and operators/index_lifecycle.py, each with its reason.
PUBLISH_EXEMPT = {
    # the verified LSH pair set is a table derived from the resident index,
    # published once per mining config; it is never grown or mounted cold
    ("queries/dedup.py", "published"),
}


def test_index_lifecycle_is_written_once():
    """No catalog module runs a foreachBatch stream of its own, and only
    the artifact store and the index lifecycle publish artifacts, so the
    persist -> grow -> publish -> mount chain cannot regrow a copy."""
    lifecycle = {"operators/artifacts.py", "operators/index_lifecycle.py"}
    streams, publishers = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "foreachBatch"
                and rel.startswith("queries/")
            ):
                streams.append(rel)
            if isinstance(node, ast.Call) and rel not in lifecycle:
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in ("publish_artifact", "published"):
                    publishers.append((rel, name))
    assert not streams, streams
    offenders = [p for p in publishers if p not in PUBLISH_EXEMPT]
    assert not offenders, offenders
    assert PUBLISH_EXEMPT <= set(publishers), "stale exemption"


def _calls_by_function(names: set[str]) -> dict[str, set[str]]:
    """``{name: {"module.py:top_level_function", ...}}`` for every call of
    one of ``names`` anywhere under the package."""
    callers: dict[str, set[str]] = {n: set() for n in names}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            where = f"{rel}:{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if name in callers:
                        callers[name].add(where)
    return callers


def test_quantizer_fits_share_one_core():
    """One Lloyd round implementation serves the IVF / PQ / IVF-PQ family:
    the centroid-mean regroup and the smallest-id seed collect run only
    in the core (``lloyd_fit``) and the grouped variant, the PQ code
    expression only in the inverted-list encoder, and no fit takes a
    ``materialize=`` switch (the input decides)."""
    core = {"operators/similarity.py:lloyd_fit", "operators/similarity.py:grouped_kmeans_fit"}
    callers = _calls_by_function(
        {"_mean_expr", "_seed_collect", "_lloyd_update", "_pq_code_expr"}
    )
    assert callers["_mean_expr"] == {"operators/similarity.py:_lloyd_update"}
    assert callers["_seed_collect"] == core
    assert callers["_lloyd_update"] == core
    assert callers["_pq_code_expr"] == {"operators/similarity.py:encode_lists"}

    materialize, defined = [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.keyword) and node.arg == "materialize":
                materialize.append(rel)
            if isinstance(node, ast.arg) and node.arg == "materialize":
                materialize.append(rel)
            if isinstance(node, ast.FunctionDef):
                defined.add(node.name)
    assert not materialize, materialize
    assert not defined & {"pq_fit", "ivfpq_fit_fused", "_residual_lut_col"}
