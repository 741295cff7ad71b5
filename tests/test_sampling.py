"""Unit tests for dataset-assembly operators (operators/sampling.py).

The catalog queries hash-match DuckDB oracles (tests/test_queries_oracle.py);
these tests pin the *operator* properties the oracles can't see: stability
under corpus growth, per-stratum caps + the WindowGroupLimit plan shape,
bin-budget semantics, and the distributed zipWithIndex invariants (dense,
boundary-independent, empty-partition-safe).
"""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from vmhub_data_pipeline_spark.operators.sampling import (
    assign_split,
    pack_sequences,
    stratified_sample,
    zip_with_global_index,
)


def test_assign_split_stable_under_corpus_growth(spark):
    """A row's split must be a pure function of (seed, id): growing the
    corpus cannot move an existing row between splits."""
    small = spark.range(0, 200).withColumnRenamed("id", "k")
    big = spark.range(0, 2000).withColumnRenamed("id", "k")
    s_small = {r["k"]: r["split"] for r in assign_split(small, "k").collect()}
    s_big = {r["k"]: r["split"] for r in assign_split(big, "k").collect()}
    assert all(s_big[k] == v for k, v in s_small.items())
    # rough 80/10/10 at n=2000 (binomial tolerance)
    from collections import Counter

    c = Counter(s_big.values())
    assert 0.74 < c["train"] / 2000 < 0.86
    assert 0.06 < c["val"] / 2000 < 0.14
    assert 0.06 < c["test"] / 2000 < 0.14


def test_assign_split_requires_catchall(spark):
    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="catch-all"):
        assign_split(df, "k", thresholds=(("a", "8888"), ("b", "ffff")))


def test_stratified_sample_caps_and_plan(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    out = stratified_sample(df, ["g"], 7, "k")
    rows = out.collect()
    from collections import Counter

    per = Counter(r["g"] for r in rows)
    assert all(v == 7 for v in per.values()) and len(per) == 3
    # ranks are 1..7 within each stratum
    assert sorted(r["sample_rank"] for r in rows if r["g"] == 0) == list(range(1, 8))
    # rank<=n must compile to per-partition top-k (map-side prune), not a
    # full sort of each stratum
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_pack_sequences_budget_semantics(spark):
    rows = [("a", i, t) for i, t in enumerate([60, 60, 60, 60, 10])] + [
        ("b", 0, 250),
        ("b", 1, 5),
    ]
    df = spark.createDataFrame(rows, "shard string, seq long, n_tokens long")
    out = pack_sequences(df, "shard", "seq", "n_tokens", budget=100).collect()
    got = {(r["shard"], r["seq"]): (r["tokens_before"], r["bin_id"]) for r in out}
    # shard a: cum-excl 0,60,120,180,240 -> bins 0,0,1,1,2 (straddlers stay
    # in the bin they start in)
    assert [got[("a", i)][1] for i in range(5)] == [0, 0, 1, 1, 2]
    # an oversized doc occupies its own bin span; next doc starts a new bin
    assert got[("b", 0)] == (0, 0)
    assert got[("b", 1)] == (250, 2)


def test_zip_with_global_index_dense_and_ordered(spark):
    df = spark.range(0, 997).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    out = zip_with_global_index(df, "h", "k", num_partitions=8).collect()
    assert sorted(r["global_index"] for r in out) == list(range(997))
    by_idx = sorted(out, key=lambda r: r["global_index"])
    keys = [(r["h"], r["k"]) for r in by_idx]
    assert keys == sorted(keys)


def test_zip_with_global_index_more_partitions_than_rows(spark):
    df = spark.range(0, 3).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("h")
    )
    out = zip_with_global_index(df, "h", "k", num_partitions=16).collect()
    assert sorted((r["h"], r["global_index"]) for r in out) == [
        ("0", 0),
        ("1", 1),
        ("2", 2),
    ]


@pytest.mark.slow
def test_pagerank_integer_chain_hand_computed(spark):
    """a-b-c chain, 2 rounds, hand-computed integer arithmetic: the center
    accumulates mass, ends are symmetric, every digit exact."""
    from vmhub_data_pipeline_spark.operators.graph import pagerank_integer

    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "x string, y string")
    got = {
        r["v"]: r["score"]
        for r in pagerank_integer(pairs, "x", "y", iterations=2).collect()
    }
    # round 1: a=c=150000+85*500000//100=575000; b=150000+85*2000000//100=1850000
    # round 2: a=c=150000+85*(1850000//2)//100=936250; b=150000+85*1150000//100=1127500
    assert got == {"a": 936250, "b": 1127500, "c": 936250}


def test_assign_split_null_id_lands_in_catchall(spark):
    """md5(concat(seed, NULL)) is NULL, every threshold comparison is NULL,
    so a NULL id falls through to the catch-all split — pinned so the
    semantic is deliberate, not accidental."""
    df = spark.createDataFrame([(1,), (None,)], "k long")
    got = {r["k"]: r["split"] for r in assign_split(df, "k").collect()}
    assert got[None] == "test"


def test_assign_split_rejects_bad_bounds(spark):
    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="lowercase hex"):
        assign_split(df, "k", thresholds=(("a", "CCCC"), ("b", None)))
    with pytest.raises(ValueError, match="ascend"):
        assign_split(df, "k", thresholds=(("a", "e666"), ("b", "cccc"), ("c", None)))


def test_sample_chunks_empty_payload_yields_no_rows(spark):
    from vmhub_data_pipeline_spark.operators.multimodal import sample_chunks

    df = spark.createDataFrame(
        [(1, b"\x00" * 100), (2, b"")], "id long, payload binary"
    )
    rows = sample_chunks(df, "id", "payload", chunk_size=64, every_k=2).collect()
    assert {r["id"] for r in rows} == {1}  # empty payload: zero chunks, no crash


@pytest.mark.slow
def test_decontaminate_ngram_hot_gram_cap(spark):
    """A boilerplate 13-gram shared by every doc must NOT generate e*t pair
    rows once the train-side doc-frequency cap kicks in — only pairs sharing
    a sub-cap (genuine-content) gram survive, with the hot gram excluded
    from their shared counts."""
    from vmhub_data_pipeline_spark.queries.sampling import decontaminate_ngram_pairs

    boiler = " ".join(f"b{j}" for j in range(13))
    docs = [(i, f"{boiler} " + " ".join(f"u{i}x{j}" for j in range(13))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    splits = {r["doc_id"]: r["split"] for r in assign_split(df, "doc_id").collect()}
    train_ids = [i for i, s in splits.items() if s == "train"]
    eval_ids = [i for i, s in splits.items() if s != "train"]
    assert len(train_ids) > 6 and len(eval_ids) > 2  # 80/10/10 over 60 ids

    # graft one genuine shared 13-gram onto exactly one (train, eval) pair
    special = " ".join(f"s{j}" for j in range(13))
    docs = [
        (i, f"{t} {special}") if i in (train_ids[0], eval_ids[0]) else (i, t)
        for i, t in docs
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = decontaminate_ngram_pairs(df, max_gram_train_df=None).collect()
    assert len(uncapped) == len(train_ids) * len(eval_ids)  # quadratic blow-up

    capped = decontaminate_ngram_pairs(df, max_gram_train_df=5).collect()
    assert len(capped) == 1
    (row,) = capped
    assert (row["train_doc"], row["eval_doc"]) == (train_ids[0], eval_ids[0])
    assert row["n_shared_13grams"] == 1  # the special gram only; boilerplate ignored


def test_bpe_merges_classic_example_hand_computed(spark):
    """The textbook BPE corpus (low x3, lower x2, newest x1): merge order and
    weighted pair counts are hand-derivable, including the count-5 tie
    between (l,o) and (o,w) broken lexicographically and the count-2 tie
    between (e,r) and (low,e) where 'e' < 'low'."""
    from vmhub_data_pipeline_spark.queries.sampling import bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "low low low"), (2, "lower lower"), (3, "newest")],
        "doc_id long, text string",
    )
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_freq"])
        for r in bpe_learn_merges(df, rounds=4).orderBy("merge_rank").collect()
    ]
    assert got == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "e", "r", "er", 2),
        (4, "low", "er", "lower", 2),
    ]


def test_budget_apportion_sums_exactly_to_budget(spark, sf_dir):
    """Largest-remainder quotas must sum to EXACTLY the budget — the
    property float-proportional rounding lacks — and every source's quota
    must differ from exact proportionality by less than 1 slot."""
    from vmhub_data_pipeline_spark.queries.sampling import _APPORTION_B
    import pyspark.sql.functions as F
    from vmhub_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["curation_budget_apportion"].fn(spark, sf_dir)
    rows = df.collect()
    assert sum(r["final_quota"] for r in rows) == _APPORTION_B
    grand = sum(r["n_total"] for r in rows)
    for r in rows:
        exact = _APPORTION_B * r["n_total"] / grand
        assert abs(r["final_quota"] - exact) < 1.0, r


def test_temperature_mix_isqrt_exact_over_range(spark):
    """The corrected integer sqrt must satisfy w^2 <= n < (w+1)^2 for every
    n — checked in one Spark batch over boundary-heavy values (perfect
    squares, squares±1, large 2^k±1 values) where a raw double sqrt seed
    can land one off."""
    import pyspark.sql.functions as F

    vals = []
    for k in list(range(1, 60)):
        for base in (2**k, 3**min(k, 37)):
            for d in (-1, 0, 1):
                v = base + d
                if 1 <= v <= 2**52:
                    vals.append(v)
    for r in range(1, 2000, 7):
        for d in (-1, 0, 1):
            v = r * r + d
            if v >= 1:
                vals.append(v)
    df = spark.createDataFrame([(v,) for v in set(vals)], "n_total long")
    w = df.withColumn(
        "r0", F.floor(F.sqrt(F.col("n_total").cast("double"))).cast("long")
    ).withColumn(
        "wgt",
        F.expr(
            "CASE WHEN (r0 + 1) * (r0 + 1) <= n_total THEN r0 + 1 "
            "WHEN r0 * r0 > n_total THEN r0 - 1 ELSE r0 END"
        ),
    )
    bad = w.filter(
        ~((F.col("wgt") * F.col("wgt") <= F.col("n_total"))
          & ((F.col("wgt") + 1) * (F.col("wgt") + 1) > F.col("n_total")))
    ).count()
    assert bad == 0


@pytest.mark.slow
def test_distributed_ntile_matches_builtin_ntile(spark):
    """distributed_ntile must reproduce SQL-standard NTILE exactly across
    remainder shapes: n % k == 0, n % k != 0, n < k, and k == 1."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from vmhub_data_pipeline_spark.operators.sampling import distributed_ntile

    for n, k in [(10, 4), (12, 5), (3, 5), (7, 1), (100, 7)]:
        df = spark.range(n).select(
            F.col("id").alias("key"),
            # non-monotone order column with ties to exercise the tiebreak
            (F.col("id") * 37 % 11).alias("metric"),
        )
        expect = {
            r["key"]: r["t"]
            for r in df.select(
                "key", F.ntile(k).over(Window.orderBy("metric", "key")).alias("t")
            ).collect()
        }
        got = {
            r["key"]: r["tile"]
            for r in distributed_ntile(df, k, "metric", "key", num_partitions=4).collect()
        }
        assert got == expect, f"mismatch at n={n} k={k}"


def test_distributed_ntile_rejects_bad_k(spark):
    import pytest as _pytest

    from vmhub_data_pipeline_spark.operators.sampling import distributed_ntile

    df = spark.range(3).selectExpr("id as key", "id as metric")
    with _pytest.raises(ValueError):
        distributed_ntile(df, 0, "metric", "key")


def test_global_order_values_matches_sorted_list(spark):
    """Order statistics must equal a Python sort of the same total order:
    scattered positions, duplicates in positions, callable positions,
    boundary (0, n-1), tied order values, and out-of-range rejection."""
    import pytest as _pytest

    from vmhub_data_pipeline_spark.operators.sampling import global_order_values

    n = 97
    df = spark.range(n).select(
        F.col("id").alias("key"),
        (F.col("id") * 37 % 11).alias("metric"),  # heavy ties
    )
    ordered = [
        m for m, _ in sorted((i * 37 % 11, i) for i in range(n))
    ]
    pos = [0, 1, 5, 5, 48, 95, 96]
    got = global_order_values(df, "metric", "key", pos, num_partitions=4)
    assert got == [ordered[p] for p in sorted(set(pos))]
    # callable positions: deciles via NTILE cumulative sizes
    fn = lambda total: {  # noqa: E731
        t * (total // 10) + min(t, total % 10) - 1 for t in range(1, 10)
    }
    got2 = global_order_values(df, "metric", "key", fn, num_partitions=4)
    assert got2 == [ordered[p] for p in sorted(fn(n))]
    assert global_order_values(df, "metric", "key", [], num_partitions=4) == []
    with _pytest.raises(ValueError):
        global_order_values(df, "metric", "key", [n], num_partitions=4)
    with _pytest.raises(ValueError):
        global_order_values(df, "metric", "key", [-1], num_partitions=4)


def test_distributed_prefix_sums_matches_global_window(spark):
    """distributed_prefix_sums must reproduce SUM() OVER (ORDER BY ...)
    exactly across partition-count shapes (more partitions than rows,
    fewer, one), including negative values and ties on the order column."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from vmhub_data_pipeline_spark.operators.sampling import distributed_prefix_sums

    n = 60
    df = spark.range(n).select(
        F.col("id").alias("key"),
        (F.col("id") * 37 % 11).alias("metric"),  # ties
        ((F.col("id") * 13 % 9) - 4).cast("long").alias("a"),  # negatives
        (F.col("id") % 5).cast("long").alias("b"),
    )
    w = (
        Window.orderBy("metric", "key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expect = {
        r["key"]: (r["ca"], r["cb"])
        for r in df.select(
            "key",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
        ).collect()
    }
    for p in [1, 4, 128]:
        got = {
            r["key"]: (r["a_cum"], r["b_cum"])
            for r in distributed_prefix_sums(
                df, "metric", "key", ["a", "b"], num_partitions=p
            ).collect()
        }
        assert got == expect, f"mismatch at num_partitions={p}"


def test_order_statistic_preamble_cache_reuse(spark):
    """cache_key shares the ranged/checkpointed preamble across
    invocations (the drift monitors' fitted-model contract): a second
    call must return identical results without inserting a new entry,
    and entries from other applicationIds are evicted on insert."""
    from vmhub_data_pipeline_spark.operators.caching import invalidate, store
    from vmhub_data_pipeline_spark.operators.sampling import (
        distributed_prefix_sums,
        global_order_values,
    )

    df = spark.range(100).selectExpr(
        "id AS k", "CAST((id * 37) % 50 AS BIGINT) AS metric", "CAST(1 AS BIGINT) AS one"
    )
    preambles = store("order_preamble")
    invalidate("order_preamble")
    app = spark.sparkContext.applicationId
    # stale-session entry must be evicted on the first insert
    preambles[("dead-app", "x")] = ("stale", "stale")
    key = (app, "fixture", "m")
    got1 = global_order_values(df, "metric", "k", [0, 50, 99], num_partitions=4,
                               cache_key=key)
    assert ("dead-app", "x") not in preambles
    n_entries = len(preambles)
    got2 = global_order_values(df, "metric", "k", [0, 50, 99], num_partitions=4,
                               cache_key=key)
    assert got1 == got2
    assert len(preambles) == n_entries  # warm call: no new entry
    # prefix sums: cached preamble + return_totals match the uncached path
    cum, totals = distributed_prefix_sums(
        df, "metric", "k", ["one"], num_partitions=4,
        cache_key=key, return_totals=True,
    )
    assert totals == [100]
    plain = distributed_prefix_sums(df, "metric", "k", ["one"], num_partitions=4)
    assert sorted(r["one_cum"] for r in cum.collect()) == sorted(
        r["one_cum"] for r in plain.collect()
    )


def test_zip_with_global_index_return_count_tuple(spark):
    """return_count=True returns (df, n) with n from the partition-count
    job — the tuple shape distributed_ntile consumes (ADVICE r7: the flag
    exists WITH a caller and this pin, or not at all)."""
    df = spark.range(57).selectExpr("id AS k", "CAST(id * 7 % 13 AS BIGINT) AS h")
    out, n = zip_with_global_index(df, "h", "k", num_partitions=4, return_count=True)
    assert n == 57
    rows = out.collect()
    assert sorted(r["global_index"] for r in rows) == list(range(57))
