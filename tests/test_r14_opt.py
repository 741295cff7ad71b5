"""Round-14 OPTIMIZATION pins: partitioning gates for the mine-side
narrowing of the resident LSH index (VERDICT r13 task 3).

The r13 single-scan build spreads the signature hash work across every
core (right — it halved the index build), but the checkpointed index then
carried that full-cores layout into every cheap downstream job: the band
self-join, the verify join and the pair publish each paid a full-cores
task floor for sub-slice work, which is exactly the driver's
lsh_pairs_build 1.89 -> 3.30 s regression. ``narrow_resident`` coalesces
the RESIDENT blocks (no shuffle, the build's spread untouched) down to
ceil(source_bytes / 256 KB) — a no-op at scale. Values are oracle-covered;
these pins hold the width so a refactor cannot silently reintroduce the
full-cores mine.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F

from vmhub_data_pipeline_spark.operators.similarity import (
    _FIT_BYTES_PER_SLICE,
    checkpoint_index,
    narrow_resident,
)

SF = "/root/testdata/sf0.001"


def _expected_width(sf_dir: str) -> int:
    nbytes = os.path.getsize(f"{sf_dir}/documents.parquet")
    return max(1, math.ceil(nbytes / _FIT_BYTES_PER_SLICE))


def test_narrow_resident_widths(spark):
    """Parquet-sourced frames narrow to the byte-derived width; unsized
    sources (synthetic ranges) leave the frame untouched."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wide = checkpoint_index(docs.repartition(16, F.col("doc_id")))
    narrowed = narrow_resident(wide, docs)
    assert narrowed.rdd.getNumPartitions() == _expected_width(SF)
    # values untouched — partitioning only
    assert narrowed.count() == docs.count()
    synthetic = spark.range(0, 100, 1, 4)
    wide2 = checkpoint_index(synthetic.repartition(16))
    assert narrow_resident(wide2, synthetic).rdd.getNumPartitions() == 16


def test_capped_spread_keeps_resident_layout(spark):
    """A byte-capped spread over an UNSIZEABLE input (resident/
    checkpointed frames have no inputFiles) must keep the input's own
    layout, not fall back to a full-cores repartition: the sequential
    fit rounds (Lloyd, power iteration) pay the width as a per-round
    task floor (the r13 ann_opq_rotation_fit / ann_coarse_fit
    regression — the cap was inert exactly where it was written for)."""
    from vmhub_data_pipeline_spark.operators.similarity import (
        spread_small_input,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    resident = checkpoint_index(docs.select("doc_id", "n_chars"))
    before = resident.rdd.getNumPartitions()
    spread = spread_small_input(resident, "doc_id", _FIT_BYTES_PER_SLICE)
    assert spread.rdd.getNumPartitions() == before
    # an UNCAPPED spread of the same frame still fans out (the hash-chain
    # builders' contract is unchanged)
    wide = spread_small_input(resident, "doc_id")
    assert (
        wide.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


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
