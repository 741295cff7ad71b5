"""Dataset-assembly queries: the steps between "cleaned corpus" and
"training set" — deterministic split, stratified sampling, sequence
packing, global shuffle. All randomness is md5-derived from a seed + key
(see operators/sampling.py), so every query is a pure function and the
DuckDB oracle reproduces it exactly — including the distributed
zipWithIndex, whose dense positions are provably independent of Spark's
range-partition boundary sampling.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.sampling import (
    assign_split,
    pack_sequences,
    stratified_sample,
    zip_with_global_index,
)
from ..tables import load
from . import register
from ..operators.caching import get

_SPLIT_ORACLE = """
WITH s AS (
  SELECT
    doc_id,
    n_chars,
    CASE
      WHEN substr(md5(concat('split-v1:', CAST(doc_id AS VARCHAR))), 1, 4) < 'cccc' THEN 'train'
      WHEN substr(md5(concat('split-v1:', CAST(doc_id AS VARCHAR))), 1, 4) < 'e666' THEN 'val'
      ELSE 'test'
    END AS split
  FROM documents
)
SELECT
  split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s
GROUP BY split
"""


@register("curation_hash_split", oracle=_SPLIT_ORACLE, tags=("curation",))
def curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test by derived hash — membership is a pure
    function of (seed, doc_id), so growing the corpus never moves a document
    between splits (no eval contamination). The split itself is a zero-
    shuffle projection; only this audit aggregation shuffles (3 groups)."""
    (docs,) = load(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id", seed="split-v1")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


_STRATIFIED_ORACLE = """
SELECT doc_id, lang, source, sample_rank
FROM (
  SELECT
    doc_id, lang, source,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY lang, source
      ORDER BY md5(concat('sample-v1:', CAST(doc_id AS VARCHAR))), doc_id
    ) AS BIGINT) AS sample_rank
  FROM documents
)
WHERE sample_rank <= 20
"""


@register("curation_stratified_sample", oracle=_STRATIFIED_ORACLE, tags=("curation",))
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per (lang, source) stratum, chosen by a seeded uniform
    permutation. Compiles to WindowGroupLimit: map tasks forward at most 20
    rows per stratum into the shuffle, so a billion-row stratum costs the
    same as a hundred-row one downstream."""
    (docs,) = load(spark, sf_dir, "documents")
    return stratified_sample(
        docs, ["lang", "source"], 20, "doc_id", seed="sample-v1"
    ).select("doc_id", "lang", "source", "sample_rank")


_PACK_ORACLE = """
WITH t AS (
  SELECT
    source, doc_id,
    CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
p AS (
  SELECT
    source, doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS BIGINT) AS tokens_before
  FROM t
)
SELECT
  source,
  CAST(FLOOR(tokens_before / 2048.0) AS BIGINT) AS bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM p
GROUP BY source, bin_id
"""


@register("curation_pack_sequences", oracle=_PACK_ORACLE, tags=("curation",))
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 2048-token sequence packing, sharded by source: each shard
    packs independently (one hash shuffle, shards in parallel) — the
    pretraining shard layout. A doc straddling a boundary stays in the bin
    it starts in. Audited per (source, bin): doc count + token total."""
    (docs,) = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        tokens, shard_col="source", order_col="doc_id", token_col="n_tokens", budget=2048
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


_SHUFFLE_ORACLE = """
SELECT
  doc_id,
  CAST(ROW_NUMBER() OVER (
    ORDER BY md5(concat('shuffle-v1:', CAST(doc_id AS VARCHAR))), doc_id
  ) - 1 AS BIGINT) AS global_index
FROM documents
"""


@register("curation_global_shuffle", oracle=_SHUFFLE_ORACLE, tags=("curation",))
def curation_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: dense 0-based position in the seeded-
    hash total order, computed WITHOUT a single-partition window — range
    repartition + per-partition prefix-sum enumerate (DataFrame-native
    zipWithIndex, see operators/sampling.py). The oracle's plain
    ROW_NUMBER() proves the distributed index equals the logical one."""
    (docs,) = load(spark, sf_dir, "documents")
    from ..operators.sampling import derived_hash

    keyed = docs.select(
        "doc_id", derived_hash("shuffle-v1", "doc_id").alias("sort_key")
    )
    indexed = zip_with_global_index(keyed, "sort_key", "doc_id", num_partitions=16)
    return indexed.select("doc_id", "global_index")


_MIX_ORACLE = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents GROUP BY source
),
w AS (
  SELECT source, n_total,
    CAST((CAST(substr(source, 4) AS INTEGER) % 4) + 1 AS INTEGER) AS weight
  FROM c
),
k AS (SELECT *, n_total * (12 // weight) AS kk FROM w),
m AS (SELECT n_total AS c_m, weight AS w_m FROM k ORDER BY kk, source LIMIT 1),
t AS (
  SELECT k.source, k.weight, k.n_total,
    CAST((65536 * k.weight * m.c_m) // (m.w_m * k.n_total) AS BIGINT) AS thresh
  FROM k, m
),
kept AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM documents d JOIN t ON d.source = t.source
  WHERE t.thresh >= 65536
     OR substr(md5(concat('mix-v1:', CAST(d.doc_id AS VARCHAR))), 1, 4)
        < lpad(lower(to_hex(t.thresh)), 4, '0')
  GROUP BY d.source
)
SELECT
  t.source, t.weight, t.n_total, t.thresh,
  COALESCE(kept.n_kept, CAST(0 AS BIGINT)) AS n_kept
FROM t LEFT JOIN kept ON t.source = kept.source
"""


@register("curation_domain_mix", oracle=_MIX_ORACLE, tags=("curation",))
def curation_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling: hit target per-source mixture weights by
    deriving a deterministic per-source acceptance threshold from the
    corpus's own counts — the mixture-control step of pretraining-data
    assembly.

    The scarcest source relative to its weight (argmin n/w, exact integer
    key n*(LCM/w)) is kept whole; every other source is hash-downsampled to
    weight-proportional size. Thresholds use ONLY integer arithmetic
    (t = 65536*w*c_min div (w_min*c), compared against the first 4 md5 hex
    chars lexically), so Spark and DuckDB agree bit-for-bit — no float
    boundary can flip a keep decision. The whole computation is driver-free:
    counts (|sources| rows) flow through broadcast joins into the per-doc
    filter, which runs at scan speed; weights here derive from the source id
    (suffix%4+1) as a stand-in for a configured mixture table.
    """
    (docs,) = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_total"))
    w = counts.withColumn(
        "weight",
        ((F.substring("source", 4, 10).cast("int") % 4) + 1).cast("int"),
    ).withColumn("kk", F.expr("n_total * (12 div weight)"))
    m = (
        w.orderBy("kk", "source")
        .limit(1)
        .select(F.col("n_total").alias("c_m"), F.col("weight").alias("w_m"))
    )
    thresholds = w.crossJoin(F.broadcast(m)).select(
        "source",
        "weight",
        "n_total",
        F.expr("CAST((65536 * weight * c_m) div (w_m * n_total) AS BIGINT)").alias(
            "thresh"
        ),
    )
    h4 = F.substring(
        F.md5(F.concat(F.lit("mix-v1:"), F.col("doc_id").cast("string"))), 1, 4
    )
    kept = (
        docs.join(F.broadcast(thresholds), "source")
        .filter(
            (F.col("thresh") >= 65536)
            | (h4 < F.lpad(F.lower(F.hex("thresh")), 4, "0"))
        )
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return (
        thresholds.join(kept, "source", "left")
        .select(
            "source",
            "weight",
            "n_total",
            "thresh",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
    )


_UPSAMPLE_ORACLE = """
SELECT
  doc_id,
  source,
  UNNEST(generate_series(1, (CAST(substr(source, 4) AS INTEGER) % 4) + 1)) AS epoch
FROM documents
"""


@register("curation_upsample_epochs", oracle=_UPSAMPLE_ORACLE, tags=("curation",))
def curation_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repetition knob of mixture construction — the complement of
    curation_domain_mix's downsampling: high-weight sources are repeated
    for multiple epochs (doc x epoch rows), the standard way to boost
    scarce high-quality domains without dropping anything. Pure
    projection + generate-and-explode: zero shuffle, scan speed; epoch
    count derives from the source id exactly like domain_mix's weights."""
    (docs,) = load(spark, sf_dir, "documents")
    repeats = (F.substring("source", 4, 10).cast("int") % 4) + 1
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), repeats)).alias("epoch"),
    )


_SPLIT_CASE = """
    CASE
      WHEN substr(md5(concat('split-v1:', CAST(doc_id AS VARCHAR))), 1, 4) < 'cccc' THEN 'train'
      WHEN substr(md5(concat('split-v1:', CAST(doc_id AS VARCHAR))), 1, 4) < 'e666' THEN 'val'
      ELSE 'test'
    END
"""

_DECON_EXACT_ORACLE = f"""
WITH s AS (
  SELECT doc_id, md5(lower(text)) AS fp, {_SPLIT_CASE} AS split
  FROM documents
),
train_fp AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_train_copies FROM s WHERE split = 'train' GROUP BY fp
)
SELECT
  e.doc_id, e.split,
  COALESCE(t.n_train_copies, CAST(0 AS BIGINT)) AS n_train_copies,
  (t.fp IS NOT NULL) AS is_contaminated
FROM s e LEFT JOIN train_fp t ON e.fp = t.fp
WHERE e.split <> 'train'
"""


@register("curation_decontaminate_exact", oracle=_DECON_EXACT_ORACLE, tags=("curation", "dedup"))
def curation_decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination audit, exact tier: for every val/test
    document, does its text fingerprint appear verbatim in the train split?
    One row per eval doc with the train-copy count — the report a pipeline
    materializes before shipping an eval set. One shuffle on the 128-bit
    fingerprint; the split is the same zero-shuffle derived-hash
    assignment as curation_hash_split, so membership (and hence this
    audit) is stable as the corpus grows."""
    (docs,) = load(spark, sf_dir, "documents")
    s = assign_split(docs, "doc_id", seed="split-v1").select(
        "doc_id", "split", F.md5(F.lower(F.col("text"))).alias("fp")
    )
    train_fp = (
        s.filter(F.col("split") == "train")
        .groupBy("fp")
        .agg(F.count("*").cast("long").alias("n_train_copies"))
    )
    ev = s.filter(F.col("split") != "train")
    return ev.join(train_fp, "fp", "left").select(
        "doc_id",
        "split",
        F.coalesce("n_train_copies", F.lit(0).cast("long")).alias("n_train_copies"),
        F.col("n_train_copies").isNotNull().alias("is_contaminated"),
    )


# Hot-gram guard: a boilerplate 13-gram (license header, nav bar) present in
# t train docs and e eval docs emits t*e join rows — quadratic on real web
# corpora. GPT-3's decontamination appendix handles this by IGNORING n-grams
# that occur too often in training; we mirror that with a train-side
# doc-frequency cap, identical in Spark and oracle so parity is exact.
_DECON_MAX_GRAM_TRAIN_DF = 1_000

_DECON_NGRAM_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w, {_SPLIT_CASE} AS split
  FROM documents
),
grams AS (
  SELECT doc_id, split,
    UNNEST(list_distinct(list_transform(
      generate_series(0, LEN(w) - 13),
      i -> md5(array_to_string(w[(i + 1):(i + 13)], ' '))
    ))) AS gh
  FROM base
  WHERE LEN(w) >= 13
),
tr AS (
  SELECT doc_id, gh FROM grams WHERE split = 'train'
),
tr_kept AS (
  SELECT doc_id, gh FROM tr
  QUALIFY COUNT(*) OVER (PARTITION BY gh) <= {_DECON_MAX_GRAM_TRAIN_DF}
)
SELECT
  e.doc_id AS eval_doc,
  e.split  AS eval_split,
  t.doc_id AS train_doc,
  CAST(COUNT(*) AS BIGINT) AS n_shared_13grams
FROM grams e
JOIN tr_kept t ON e.gh = t.gh AND e.split <> 'train'
GROUP BY 1, 2, 3
"""


def decontaminate_ngram_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_gram_train_df: int | None = _DECON_MAX_GRAM_TRAIN_DF,
) -> DataFrame:
    """(eval doc, train doc) pairs sharing >=1 n-token window, with counts.

    ``max_gram_train_df`` excludes n-grams appearing in more than that many
    TRAIN documents from matching entirely (GPT-3-style hot-gram ignore):
    without it, one boilerplate gram in t train x e eval docs materializes
    t*e join rows. Capped grams are dropped from the shared count on both
    engines identically, so the oracle stays exact. Pass ``None`` for the
    uncapped audit on corpora known to be boilerplate-free.
    """
    ws = assign_split(docs, id_col, seed="split-v1").select(
        F.col(id_col).alias("doc_id"), "split", F.split(F.col(text_col), " ").alias("w")
    )
    grams_arr = F.when(
        F.size("w") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - n),
                lambda i: F.md5(F.array_join(F.slice("w", i + 1, n), " ")),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = ws.select("doc_id", "split", F.explode(grams_arr).alias("gh"))
    ev = grams.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("eval_doc"), F.col("split").alias("eval_split"), "gh"
    )
    tr = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "gh"
    )
    if max_gram_train_df is not None:
        # per-gram train doc-frequency (grams are per-doc distinct already);
        # keep-set stays on the (gram) grain — two longs on the wire, and the
        # hot tail it drops is exactly the part that would go quadratic.
        gram_df = tr.groupBy("gh").agg(F.count(F.lit(1)).alias("df_"))
        tr = tr.join(
            gram_df.filter(F.col("df_") <= max_gram_train_df).select("gh"), "gh"
        )
    return (
        ev.join(tr, "gh")
        .groupBy("eval_doc", "eval_split", "train_doc")
        .agg(F.count("*").cast("long").alias("n_shared_13grams"))
    )


@register("curation_decontaminate_ngram", oracle=_DECON_NGRAM_ORACLE, tags=("curation", "dedup"))
def curation_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination, n-gram tier (the GPT-3-style 13-gram
    overlap test): (eval doc, train doc) pairs sharing at least one
    13-token window, with the shared-window count. Windows are md5-hashed
    in the scan-stage projection and deduped per doc with array_distinct
    BEFORE exploding, so the join shuffle carries (doc_id, digest) only —
    never window text. Grams present in more than _DECON_MAX_GRAM_TRAIN_DF
    train docs are ignored (hot-boilerplate guard, see
    decontaminate_ngram_pairs) — identically in the oracle, so the count
    contract is exact. Docs shorter than 13 tokens have no windows by
    definition (guarded: Spark's sequence() would otherwise run BACKWARD on
    a negative stop, not return empty like SQL generate_series)."""
    (docs,) = load(spark, sf_dir, "documents")
    return decontaminate_ngram_pairs(docs)


_VOCAB_ORACLE = """
WITH tok AS (
  SELECT UNNEST(regexp_extract_all(text, '[a-z0-9]+')) AS token FROM documents
),
freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM tok GROUP BY token
),
ranked AS (
  SELECT token, n_occurrences,
    CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) - 1 AS BIGINT) AS token_id
  FROM freq
)
SELECT token_id, token, n_occurrences FROM ranked WHERE token_id < 32
"""


@register("curation_build_vocab", oracle=_VOCAB_ORACLE, tags=("curation", "text"))
def curation_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocab construction: corpus token frequencies with
    dense contiguous ids assigned by (count desc, token asc) — the
    deterministic tie-break every reproducible tokenizer build needs.

    Scale shape: the only corpus-sized work is explode + count groupBy
    (map-side partial aggregation shrinks it to |vocab| before the
    shuffle). The rank-and-truncate runs over the tiny aggregated vocab;
    the filter is on the BARE row_number attribute vs a literal — the only
    shape the limit-pushdown rules match, and for this unpartitioned
    window Spark plans it as TakeOrderedAndProject(limit=32), the
    distributed global top-k (filtering on the derived token_id = rn - 1
    instead defeats the rule and fully sorts the vocab in one partition;
    measured). token_id is derived after the prune; no collect anywhere."""
    (docs,) = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = docs.select(
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), F.lit(0))).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").cast("long").alias("n_occurrences"))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    ranked = freq.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 32)
    return ranked.select(
        (F.col("rn") - 1).cast("long").alias("token_id"), "token", "n_occurrences"
    )


# Tokenizer APPLICATION: encode every document with the 16-entry top-frequency
# vocab (small enough that the fixture produces real OOV). The per-doc
# checksum is position-weighted — sum over in-vocab tokens of pos*(id+1) with
# 1-based positions — so it pins the full ordered id sequence, not just the
# bag of counts, while staying exact-integer (order-independent summation).
_TOKENIZE_ORACLE = """
WITH tok AS (
  SELECT UNNEST(regexp_extract_all(text, '[a-z0-9]+')) AS token FROM documents
),
freq AS (
  SELECT token, COUNT(*) AS n_occ FROM tok GROUP BY token
),
vocab AS (
  SELECT token,
    CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) - 1 AS BIGINT) AS token_id
  FROM freq
  QUALIFY ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) <= 16
),
d0 AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS l FROM documents
),
d1 AS (
  SELECT doc_id, l, UNNEST(RANGE(1, LEN(l) + 1)) AS pos FROM d0
),
dtok AS (
  SELECT doc_id, pos, l[pos] AS token FROM d1
)
SELECT
  dtok.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN vocab.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  ROUND(CAST(SUM(CASE WHEN vocab.token_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate,
  CAST(SUM(CASE WHEN vocab.token_id IS NULL THEN 0
            ELSE dtok.pos * (vocab.token_id + 1) END) AS BIGINT) AS ids_checksum
FROM dtok LEFT JOIN vocab ON vocab.token = dtok.token
GROUP BY dtok.doc_id
"""


@register("curation_tokenize_apply", oracle=_TOKENIZE_ORACLE, tags=("curation", "text"))
def curation_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a trained vocab to the corpus (the encode step after
    curation_build_vocab): per-document token count, OOV count/rate against
    a top-16 vocab, and a position-weighted id checksum that pins the exact
    ordered token-id sequence a real encoder would emit.

    Scale shape: the vocab is derived by the same explode->count groupBy as
    the build query (map-side combine shrinks it to |vocab| pre-shuffle) and
    joins the positional token stream as a broadcast — the corpus-sized side
    moves through one explode projection and one doc-grain groupBy, never a
    shuffle keyed on token. OOV handling is a LEFT join + null check, the
    same topology as a real id-lookup encode."""
    (docs,) = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks_arr = F.regexp_extract_all("text", F.lit("[a-z0-9]+"), F.lit(0))
    freq = (
        docs.select(F.explode(toks_arr).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occ"))
    )
    w = Window.orderBy(F.col("n_occ").desc(), F.col("token"))
    vocab = (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 16)
        .select("token", (F.col("rn") - 1).cast("long").alias("token_id"))
    )
    dtok = docs.select(
        "doc_id", F.posexplode(toks_arr).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    is_oov = F.col("token_id").isNull()
    return (
        dtok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(is_oov, 1).otherwise(0)).cast("long").alias("n_oov"),
            F.round(
                F.sum(F.when(is_oov, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
            F.sum(
                F.when(is_oov, 0).otherwise(F.col("pos") * (F.col("token_id") + 1))
            )
            .cast("long")
            .alias("ids_checksum"),
        )
    )


# BPE merge learning — the third leg of the tokenizer-prep trio (build_vocab
# counts whole words, tokenize_apply encodes with a fixed vocab; this LEARNS
# the subword merge table itself). Classic byte-pair encoding over the
# aggregated word-frequency table: each round counts adjacent symbol pairs
# weighted by word frequency, picks the most frequent pair (count desc, then
# lexicographic — the deterministic tie-break), and rewrites every word with
# the pair fused. The oracle unrolls the same rounds as DuckDB CTEs, so every
# round's argmax and rewrite must agree exactly between engines.
_BPE_ROUNDS = 6


def _bpe_learn_ctes(rounds: int) -> str:
    """The shared learning CTE chain (``w0..w{rounds}`` word tables,
    ``m0..m{rounds-1}`` single-row merge winners) — used by both the
    merge-table oracle and the encode oracle, so the two queries can
    never drift on what was learned."""
    parts = [
        "WITH w0 AS (",
        "  SELECT TRIM(regexp_replace(token, '(.)', '\\1 ', 'g')) AS wsym,",
        "         CAST(COUNT(*) AS BIGINT) AS freq",
        "  FROM (SELECT UNNEST(regexp_extract_all(text, '[a-z0-9]+')) AS token FROM documents)",
        "  GROUP BY 1",
        ")",
    ]
    for r in range(rounds):
        parts.append(
            f""", s{r} AS (
  SELECT string_split(wsym, ' ') AS l, freq FROM w{r}
), p{r} AS (
  SELECT l[i] AS lft, l[i + 1] AS rgt, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT l, freq, UNNEST(RANGE(1, LEN(l))) AS i FROM s{r})
  GROUP BY 1, 2
), m{r} AS (
  SELECT lft, rgt, cnt FROM p{r} ORDER BY cnt DESC, lft, rgt LIMIT 1
), w{r + 1} AS (
  SELECT regexp_replace(w.wsym, '\\b' || m.lft || ' ' || m.rgt || '\\b',
                        m.lft || m.rgt, 'g') AS wsym, w.freq
  FROM w{r} w CROSS JOIN m{r} m
)"""
        )
    return "\n".join(parts)


def _bpe_oracle(rounds: int) -> str:
    selects = [
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, lft AS left_sym, rgt AS right_sym,"
        f" lft || rgt AS merged, cnt AS pair_freq FROM m{r}"
        for r in range(rounds)
    ]
    return _bpe_learn_ctes(rounds) + "\n" + "\nUNION ALL\n".join(selects)


def bpe_learn_merges(docs: DataFrame, text_col: str = "text", rounds: int = _BPE_ROUNDS) -> DataFrame:
    """Learn a BPE merge table: (merge_rank, left_sym, right_sym, merged,
    pair_freq), one row per round, in learned order.

    Scale shape: the corpus is touched exactly once — explode + count
    groupBy collapses it to the (word, freq) table (map-side combine makes
    the shuffle vocab-sized, the same shape every published BPE trainer
    exploits; production additionally truncates to the top-K words before
    training, which bounds the per-round work at any corpus size). Each
    round then runs at vocab grain: one pair-count groupBy, one global
    top-1 (TakeOrderedAndProject, not a full sort), one broadcast of the
    single winning pair into a regexp rewrite. localCheckpoint() per round
    cuts lineage so round r doesn't recompute rounds 0..r-1 (the same
    iterative-algorithm discipline as operators/graph.py)."""
    words = (
        docs.select(
            F.explode(F.regexp_extract_all(text_col, F.lit("[a-z0-9]+"), F.lit(0))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        # "abc" -> "a b c": symbols stay space-separated [a-z0-9]+ strings,
        # so the merge regex below never needs escaping
        .select(F.trim(F.regexp_replace("token", "(.)", "$1 ")).alias("wsym"), "freq")
    )
    w = words.localCheckpoint(eager=False)
    merge_rows = []
    for r in range(rounds):
        pair_idx = F.when(
            F.size("l") >= 2, F.sequence(F.lit(1), F.size("l") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = (
            w.select(F.split("wsym", " ").alias("l"), "freq")
            .select("l", "freq", F.explode(pair_idx).alias("i"))
            .select(
                F.element_at("l", F.col("i")).alias("lft"),
                F.element_at("l", F.col("i") + 1).alias("rgt"),
                "freq",
            )
            .groupBy("lft", "rgt")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.desc("cnt"), F.asc("lft"), F.asc("rgt"))
            .limit(1)
            .localCheckpoint(eager=True)  # 1 row; reused by table AND rewrite
        )
        merge_rows.append(
            top.select(
                F.lit(r + 1).cast("long").alias("merge_rank"),
                F.col("lft").alias("left_sym"),
                F.col("rgt").alias("right_sym"),
                F.concat("lft", "rgt").alias("merged"),
                F.col("cnt").alias("pair_freq"),
            )
        )
        # \b anchors match whole space-separated symbols only: "l l" cannot
        # match the tail of "ll l" (no word boundary inside "ll"). Java and
        # RE2 agree on ASCII \b and on left-to-right non-overlapping global
        # replacement, which IS the greedy BPE rewrite.
        pat = F.concat(F.lit("\\b"), F.col("_l"), F.lit(" "), F.col("_r"), F.lit("\\b"))
        w = (
            w.crossJoin(
                F.broadcast(top.select(F.col("lft").alias("_l"), F.col("rgt").alias("_r")))
            )
            .select(F.regexp_replace("wsym", pat, F.concat("_l", "_r")).alias("wsym"), "freq")
            .localCheckpoint(eager=False)
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


@register("curation_bpe_merges", oracle=_bpe_oracle(_BPE_ROUNDS), tags=("curation", "text"))
def curation_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge-table learning over the corpus (see
    bpe_learn_merges): 6 rounds, each hash-matched against an unrolled
    DuckDB CTE computing the identical pair-argmax and word rewrite — an
    iterative distributed algorithm verified round-for-round, like
    graph_pagerank_dups."""
    (docs,) = load(spark, sf_dir, "documents")
    return bpe_learn_merges(docs)


# BPE ENCODE (r7) — the fourth tokenizer leg: APPLY the learned merge
# table to every document, the step a training pipeline runs over the
# whole corpus after learning merges on a sample. Per word: spell into
# space-separated symbols, then one leftmost non-overlapping global
# regex rewrite per merge IN RANK ORDER (Java regex and RE2 agree on
# ASCII \b and left-to-right global replacement — the greedy BPE apply,
# the exact rewrite the learner itself uses).
def _bpe_encode_oracle(rounds: int) -> str:
    parts = [_bpe_learn_ctes(rounds)]
    parts.append(""", dw AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS w FROM documents
),
de0 AS (
  SELECT doc_id, generate_subscripts(w, 1) AS i,
         TRIM(regexp_replace(UNNEST(w), '(.)', '\\1 ', 'g')) AS e
  FROM dw
)""")
    for r in range(rounds):
        parts.append(f""", de{r + 1} AS (
  SELECT doc_id, i,
         regexp_replace(d.e, '\\b' || m.lft || ' ' || m.rgt || '\\b',
                        m.lft || m.rgt, 'g') AS e
  FROM de{r} d CROSS JOIN m{r} m
)""")
    parts.append(f""", agg AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_words,
    CAST(SUM(LEN(string_split(e, ' '))) AS BIGINT) AS n_tokens,
    CAST(SUM(('0x' || substr(md5(e || ':' || CAST(i AS VARCHAR)), 1, 12))::BIGINT)
      AS BIGINT) AS enc_checksum
  FROM de{rounds} GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(a.n_words, 0) AS n_words,
  COALESCE(a.n_tokens, 0) AS n_tokens,
  COALESCE(a.enc_checksum, 0) AS enc_checksum
FROM documents d LEFT JOIN agg a USING (doc_id)""")
    return "\n".join(parts)


def bpe_merges_cached(spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS) -> list:
    """The learned merge list per (session, sf_dir) — O(rounds) driver
    state, the tokenizer model a real pipeline ships to every executor.
    Learned once via bpe_learn_merges, then applied scan-side as string
    literals."""

    def build() -> list:
        (docs,) = load(spark, sf_dir, "documents")
        rows = bpe_learn_merges(docs, rounds=rounds).orderBy("merge_rank").collect()
        return [(r["left_sym"], r["right_sym"]) for r in rows]

    return get("bpe_merges", spark, (sf_dir, rounds), build)


@register("curation_bpe_encode", oracle=_bpe_encode_oracle(_BPE_ROUNDS), tags=("curation", "text"))
def curation_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to the corpus (the ENCODE pass a
    training pipeline runs over 100 TB after learning merges on a
    sample): per document — words, per word — symbol spelling, then the
    6 merges as chained leftmost-greedy regex rewrites in rank order,
    exactly the rewrite the learner uses. Output per doc: word count,
    post-merge token count, and a position-sensitive md5-int48 checksum
    of the encoded stream (order-independent SUM of per-(word, position)
    digests, so no ordered concat is needed on either engine; 48-bit
    terms keep a multi-thousand-word doc far from BIGINT overflow).

    Scale shape: the merge table is O(rounds) driver state inlined as
    string literals (the tokenizer model every executor gets); encoding
    is a PURE SCAN — transform() over the word array, zero shuffle, zero
    UDF, embarrassingly parallel, exactly how a tokenizer pass should
    look. (A vocab-grain dedup + hash-join variant would amortize hot
    words at the price of two shuffles; on a Zipf corpus the scan wins
    until words repeat far more than the fixture's ~30-word vocabulary
    already does — the regex chain is cheap relative to the scan
    itself.) The oracle replays LEARNING + ENCODING in one statement
    (``_bpe_learn_ctes`` shared with curation_bpe_merges), so the two
    stages can never drift."""
    merges = bpe_merges_cached(spark, sf_dir)
    (docs,) = load(spark, sf_dir, "documents")

    def encode(w):
        e = F.trim(F.regexp_replace(w, "(.)", "$1 "))
        for lft, rgt in merges:
            # symbols are [a-z0-9]+ concatenations — regex-safe unescaped
            e = F.regexp_replace(e, f"\\b{lft} {rgt}\\b", f"{lft}{rgt}")
        return e

    d = docs.select(
        "doc_id",
        # NULL text must encode as zero words (the oracle's LEFT JOIN
        # coalesces to 0) — without this, size(transform(NULL)) is NULL
        # and a NULL-text fixture row breaks hash parity (ADVICE r7)
        F.coalesce(
            F.transform(
                F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"), encode
            ),
            F.array().cast("array<string>"),
        ).alias("ew"),
    )
    n = F.size("ew")
    term = F.zip_with(
        F.col("ew"),
        F.sequence(F.lit(1), n),
        lambda e, i: F.conv(
            F.substring(F.md5(F.concat(e, F.lit(":"), i.cast("string"))), 1, 12),
            16,
            10,
        ).cast("long"),
    )
    zero = F.lit(0).cast("long")
    return d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.when(
            n > 0,
            F.aggregate("ew", zero, lambda a, x: a + F.size(F.split(x, " "))),
        ).otherwise(zero).cast("long").alias("n_tokens"),
        F.when(n > 0, F.aggregate(term, zero, lambda a, x: a + x))
        .otherwise(zero).cast("long").alias("enc_checksum"),
    )


# Overlapping chunk windows — retrieval-index prep (the RAG shape): split
# each document into fixed-size token windows with stride overlap, so a
# passage near a boundary is fully contained in at least one chunk. Chunk
# text is reconstructed from the token array; md5 gives the chunk identity
# key an embedding/index stage would join on.
_CHUNK_WINDOWS_N = 64   # tokens per chunk
_CHUNK_WINDOWS_STRIDE = 48  # tokens between chunk starts (16-token overlap)

_CHUNK_WINDOWS_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, w,
    UNNEST(generate_series(
      0,
      CAST(CEIL(GREATEST(LEN(w) - {_CHUNK_WINDOWS_N}, 0) / {_CHUNK_WINDOWS_STRIDE}.0)
           AS BIGINT),
      1
    )) AS chunk_no
  FROM ws
)
SELECT doc_id, chunk_no,
  CAST(chunk_no * {_CHUNK_WINDOWS_STRIDE} + 1 AS BIGINT) AS start_token,
  CAST(LEN(w[(chunk_no * {_CHUNK_WINDOWS_STRIDE} + 1):
             (chunk_no * {_CHUNK_WINDOWS_STRIDE} + {_CHUNK_WINDOWS_N})]) AS BIGINT)
    AS n_tokens,
  md5(array_to_string(
    w[(chunk_no * {_CHUNK_WINDOWS_STRIDE} + 1):
      (chunk_no * {_CHUNK_WINDOWS_STRIDE} + {_CHUNK_WINDOWS_N})], ' ')) AS chunk_md5
FROM idx
"""


@register("curation_chunk_windows", oracle=_CHUNK_WINDOWS_ORACLE, tags=("curation", "text"))
def curation_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks: 64-token windows every 48 tokens (16
    overlap), one row per (doc, chunk) with start offset, actual token
    count (the tail chunk is short), and the chunk digest an embedding
    index would key on. The chunk count per doc is
    ceil(max(len-64,0)/48)+1, so every token lands in >=1 chunk and no
    empty trailing chunk is emitted.

    Scale shape: pure scan-stage array math — sequence/explode/slice/md5,
    zero shuffle, zero UDF; the explode fan-out is len/stride ~ 1.33x the
    token volume, the price of overlap by construction. Digests (not chunk
    text) are what any downstream join moves."""
    (docs,) = load(spark, sf_dir, "documents")
    n, st = _CHUNK_WINDOWS_N, _CHUNK_WINDOWS_STRIDE
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    n_chunks = (
        F.ceil(F.greatest(F.size("w") - n, F.lit(0)) / F.lit(float(st))).cast("long") + 1
    )
    chunked = ws.select(
        "doc_id", "w", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_no")
    )
    sl = F.slice("w", (F.col("chunk_no") * st + 1).cast("int"), n)
    return chunked.select(
        "doc_id",
        "chunk_no",
        (F.col("chunk_no") * st + 1).cast("long").alias("start_token"),
        F.size(sl).cast("long").alias("n_tokens"),
        F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
    )


# RAG index manifest — the composed pipeline a retrieval stack actually runs:
# chunk the corpus (overlapping windows), dedup chunks corpus-wide by digest
# (boilerplate chunks collapse to their first occurrence), and attach the doc
# metadata the index needs for filtering at query time. One declarative plan,
# one oracle statement.
_RAG_MANIFEST_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, lang, source, string_split(text, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, lang, source, w,
    UNNEST(generate_series(
      0,
      CAST(CEIL(GREATEST(LEN(w) - {_CHUNK_WINDOWS_N}, 0) / {_CHUNK_WINDOWS_STRIDE}.0)
           AS BIGINT),
      1
    )) AS chunk_no
  FROM ws
),
chunks AS (
  SELECT doc_id, lang, source, chunk_no,
    md5(array_to_string(
      w[(chunk_no * {_CHUNK_WINDOWS_STRIDE} + 1):
        (chunk_no * {_CHUNK_WINDOWS_STRIDE} + {_CHUNK_WINDOWS_N})], ' ')) AS chunk_md5
  FROM idx
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_no) AS r
  FROM chunks
)
SELECT doc_id, lang, source, chunk_no, chunk_md5, (r = 1) AS is_index_copy
FROM rn
"""


@register("pipeline_rag_manifest", oracle=_RAG_MANIFEST_ORACLE, tags=("curation", "pipeline"))
def pipeline_rag_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-index build manifest: every (doc, chunk) with its digest,
    filterable metadata (lang, source), and an is_index_copy flag — true on
    the first corpus-wide occurrence of the chunk digest, false on every
    later duplicate (those rows keep their provenance but point at the
    indexed copy via the digest). The downstream embedding job encodes only
    is_index_copy rows: chunk dedup BEFORE the GPU pass is where a RAG
    pipeline saves real money.

    Scale shape: chunking is the zero-shuffle scan projection of
    curation_chunk_windows; the dedup decision is one digest-keyed window
    (first-occurrence, same WindowGroupLimit family as keep-latest) whose
    shuffle carries digests + two longs + short metadata strings — never
    chunk text. One shuffle total."""
    (docs,) = load(spark, sf_dir, "documents")
    n, st = _CHUNK_WINDOWS_N, _CHUNK_WINDOWS_STRIDE
    ws = docs.select("doc_id", "lang", "source", F.split(F.col("text"), " ").alias("w"))
    n_chunks = (
        F.ceil(F.greatest(F.size("w") - n, F.lit(0)) / F.lit(float(st))).cast("long") + 1
    )
    chunked = ws.select(
        "doc_id", "lang", "source", "w",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_no"),
    )
    sl = F.slice("w", (F.col("chunk_no") * st + 1).cast("int"), n)
    chunks = chunked.select(
        "doc_id", "lang", "source", "chunk_no", F.md5(F.array_join(sl, " ")).alias("chunk_md5")
    )
    from pyspark.sql import Window as W

    r = F.row_number().over(W.partitionBy("chunk_md5").orderBy("doc_id", "chunk_no"))
    return chunks.select(
        "doc_id", "lang", "source", "chunk_no", "chunk_md5", (r == 1).alias("is_index_copy")
    )


# Weighted sampling without replacement (Efraimidis-Spirakis A-ES shape):
# each row draws u ~ U(0,1] from the derived-hash primitive and competes on
# key u^(1/weight) — equivalently on cost -ln(u)/weight, smaller is better.
# The log is quantized to integer micro-nats BEFORE the divide (the langid
# determinism trick) and the divide is integer division by the integer
# weight, so the per-source top-k cut is bit-identical across engines and
# cluster topologies — no float comparison ever decides membership.
_WS_SEED = "wsample-v1"
_WS_K = 5
_WS_DENOM = float(1 << 52)  # 13 hex chars of md5 = 52 uniform bits

_WSAMPLE_ORACLE = f"""
WITH u AS (
  SELECT doc_id, source, n_chars,
    CAST(concat('0x',
      substr(md5(concat('{_WS_SEED}:', CAST(doc_id AS VARCHAR))), 1, 13)
    ) AS BIGINT) AS u_int
  FROM documents
),
keyed AS (
  SELECT doc_id, source, n_chars,
    CAST(ROUND(-LN((CAST(u_int AS DOUBLE) + 1.0) / {_WS_DENOM!r}) * 1000000.0)
         AS BIGINT) * 1000000 // n_chars AS cost_q
  FROM u
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY cost_q, doc_id) AS wrank
  FROM keyed
)
SELECT source, doc_id, n_chars, cost_q, CAST(wrank AS BIGINT) AS wrank
FROM ranked WHERE wrank <= {_WS_K}
"""


@register("curation_weighted_sample", oracle=_WSAMPLE_ORACLE, tags=("curation", "sampling"))
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k per source (A-ES): rows
    compete on -ln(u)/weight with u md5-derived and weight = n_chars, so
    longer documents are proportionally likelier to be drawn — the
    token-budget-aware variant of stratified_sample.

    Scale shape: the cost is a zero-shuffle scan projection (hash, one LN,
    integer ops); the per-source rank<=k plans as WindowGroupLimit, so each
    map task forwards at most k rows per source into the single shuffle.
    Quantizing ln(u) to micro-nats before the integer divide makes the
    selection a pure integer function of (seed, doc_id, weight): rerunning
    on a different cluster, partitioning, or engine picks the same rows."""
    (docs,) = load(spark, sf_dir, "documents")
    u_int = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{_WS_SEED}:"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    lnq = F.round(
        -F.log((u_int.cast("double") + F.lit(1.0)) / F.lit(_WS_DENOM)) * 1000000.0
    ).cast("long")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (lnq * F.lit(1000000)).alias("cost_num"),
    ).withColumn("cost_q", F.expr("cost_num div n_chars")).drop("cost_num")
    w = Window.partitionBy("source").orderBy("cost_q", "doc_id")
    return (
        keyed.withColumn("wrank", F.row_number().over(w).cast("long"))
        .filter(F.col("wrank") <= _WS_K)
        .select("source", "doc_id", "n_chars", "cost_q", "wrank")
    )


# RAG RETRIEVAL end-to-end — the round-3 flagship composition: the ENTIRE
# retrieval stack (chunk -> corpus-wide chunk dedup -> embed -> similarity
# search -> metadata attach) in one declarative plan, and every stage
# deterministic, so the full pipeline hash-matches one oracle statement.
# The embedding is a hashed bag-of-words histogram (dim 16: e_d = count of
# tokens whose 52-bit md5 falls in residue class d) — integer-exact, which
# is what makes a GPU-free, cross-engine-checkable stand-in for a neural
# encoder: the retrieval MACHINERY (dedup-before-embed, index join shape,
# top-k semantics, metadata filters) is identical to production; only the
# encoder weights differ.
_RAG_EMB_DIM = 16
_RAG_TOPK = 3

_RAG_RETRIEVAL_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, source, w,
    UNNEST(generate_series(
      0,
      CAST(CEIL(GREATEST(LEN(w) - {_CHUNK_WINDOWS_N}, 0) / {_CHUNK_WINDOWS_STRIDE}.0)
           AS BIGINT),
      1
    )) AS chunk_no
  FROM ws
),
chunks AS (
  SELECT doc_id, source, chunk_no,
    w[(chunk_no * {_CHUNK_WINDOWS_STRIDE} + 1):
      (chunk_no * {_CHUNK_WINDOWS_STRIDE} + {_CHUNK_WINDOWS_N})] AS ct,
    md5(array_to_string(
      w[(chunk_no * {_CHUNK_WINDOWS_STRIDE} + 1):
        (chunk_no * {_CHUNK_WINDOWS_STRIDE} + {_CHUNK_WINDOWS_N})], ' ')) AS chunk_md5
  FROM idx
),
index_chunks AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_no) AS rn
    FROM chunks
  ) WHERE rn = 1
),
cvec AS (
  SELECT doc_id, source, chunk_no, chunk_md5,
    list_transform(range(0, {_RAG_EMB_DIM}), d ->
      CAST(LEN(list_filter(ct, t ->
        CAST(concat('0x', substr(md5(concat('emb-v1:', t)), 1, 13)) AS BIGINT)
          % {_RAG_EMB_DIM} = d)) AS DOUBLE)
    ) AS e
  FROM index_chunks
),
qvec AS (
  SELECT doc_id AS query_doc_id,
    list_transform(range(0, {_RAG_EMB_DIM}), d ->
      CAST(LEN(list_filter(w, t ->
        CAST(concat('0x', substr(md5(concat('emb-v1:', t)), 1, 13)) AS BIGINT)
          % {_RAG_EMB_DIM} = d)) AS DOUBLE)
    ) AS qe
  FROM ws WHERE doc_id < 3
),
scored AS (
  SELECT q.query_doc_id, c.doc_id AS src_doc_id, c.chunk_no, c.chunk_md5, c.source,
    CASE WHEN list_dot_product(q.qe, q.qe) > 0 AND list_dot_product(c.e, c.e) > 0
         THEN list_dot_product(q.qe, c.e)
              / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e)))
    END AS cosine
  FROM qvec q CROSS JOIN cvec c
)
SELECT query_doc_id, rank, src_doc_id, chunk_no, chunk_md5, source,
       ROUND(cosine, 4) AS cosine_r
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_doc_id ORDER BY cosine DESC NULLS LAST, chunk_md5
    ) AS BIGINT) AS rank
  FROM scored
)
WHERE rank <= {_RAG_TOPK}
"""


def _hashed_bow(toks, dim: int):
    """dim-bucket hashed bag-of-words histogram as a double array — the
    deterministic embedding. Each residue-class count re-scans the token
    array (dim x |toks| hash evals, a constant-factor trade documented at
    text_winnow_fingerprint for why the 'hash once into an array column'
    form is O(n^2) after CollapseProject inlining). Kept only for the
    row-grain query batch (a handful of rows); corpus-sized embedding
    uses the token-explode aggregation path in pipeline_rag_retrieval,
    which hashes every token exactly once."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.size(
            F.filter(
                toks,
                lambda t: F.pmod(
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit("emb-v1:"), t)), 1, 13), 16, 10
                    ).cast("long"),
                    F.lit(dim),
                )
                == d,
            )
        ).cast("double"),
    )


@register("pipeline_rag_retrieval", oracle=_RAG_RETRIEVAL_ORACLE, tags=("pipeline", "curation", "vector"))
def pipeline_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full retrieval stack in one plan: overlapping 64/48 chunks ->
    corpus-wide chunk dedup (embed each distinct chunk ONCE — the
    dedup-before-GPU economics) -> hashed-BoW embedding -> cosine top-3
    index chunks per query document -> source metadata attached from the
    canonical doc.

    Scale shape: chunking is scan-stage array math; corpus embedding is
    one md5 per token (explode + two digest-keyed partial aggregations);
    the dedup is one digest-keyed WindowGroupLimit pass; scoring broadcasts
    the (tiny) query batch across the streamed index — the brute-force
    leg of the kNN tier, swappable for the IVF/LSH/PQ paths when the
    query batch grows; the per-query top-3 is a WindowGroupLimit. The
    only data-sized shuffles key on digests, never chunk text."""
    (docs,) = load(spark, sf_dir, "documents")
    n, st, dim = _CHUNK_WINDOWS_N, _CHUNK_WINDOWS_STRIDE, _RAG_EMB_DIM
    ws = docs.select("doc_id", "source", F.split(F.col("text"), " ").alias("w"))
    n_chunks = (
        F.ceil(F.greatest(F.size("w") - n, F.lit(0)) / F.lit(float(st))).cast("long") + 1
    )
    chunked = ws.select(
        "doc_id", "source", "w",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_no"),
    )
    sl = F.slice("w", (F.col("chunk_no") * st + 1).cast("int"), n)
    chunks = chunked.select(
        "doc_id", "source", "chunk_no",
        sl.alias("ct"),
        F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
    )
    wdig = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_no")
    index_chunks = (
        chunks.withColumn("rn", F.row_number().over(wdig)).filter(F.col("rn") == 1)
    )
    from ..operators.similarity import dot_expr, norm_expr

    # r13 (guide §2.3): per-row norms factored out of the pair scoring
    # (the brute_force_knn treatment) — one array fold per (query, chunk)
    # pair instead of three; same sqrt values multiplied in cosine_expr's
    # order, so every cosine and rank is bit-identical.
    #
    # r13 (guide §1.2 step 2): the corpus-side embedding hashes every
    # token exactly ONCE (explode -> md5 -> residue-class counts -> dense
    # histogram) instead of the _hashed_bow form's dim re-scans of each
    # chunk's token array (dim x |toks| md5 evals per chunk). The counts
    # are the same exact integers cast to double, so every e, norm,
    # cosine and rank is bit-identical (A/B: 10.3 -> 4.0 s at sf0.1).
    # The aggregation keys on (chunk_md5 & co) — digests, never text —
    # and both levels partial-aggregate map-side. The query batch keeps
    # _hashed_bow (a handful of rows; exploding it would add a shuffle).
    _ckeys = ["src_doc_id", "source", "chunk_no", "chunk_md5"]
    tok = index_chunks.select(
        F.col("doc_id").alias("src_doc_id"), "source", "chunk_no", "chunk_md5",
        F.explode_outer("ct").alias("t"),
    )
    _h = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("emb-v1:"), F.col("t"))), 1, 13), 16, 10
        ).cast("long"),
        F.lit(dim),
    )
    bucket_counts = tok.select(*_ckeys, _h.alias("d")).groupBy(*_ckeys, "d").agg(
        F.count(F.lit(1)).alias("c")
    )
    cvec = (
        bucket_counts.groupBy(*_ckeys)
        .agg(
            F.map_from_entries(
                F.collect_list(
                    # explode_outer keeps empty chunks as one null token
                    # (null d) so they still yield an all-zero histogram
                    F.when(F.col("d").isNotNull(), F.struct(F.col("d"), F.col("c")))
                )
            ).alias("m")
        )
        .select(
            *_ckeys,
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.lit(dim - 1).cast("long")),
                lambda d: F.coalesce(F.element_at(F.col("m"), d), F.lit(0)).cast(
                    "double"
                ),
            ).alias("e"),
        )
    ).withColumn("__cn", norm_expr(F.col("e")))
    qvec = ws.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_doc_id"), _hashed_bow(F.col("w"), dim).alias("qe")
    ).withColumn("__qn", norm_expr(F.col("qe")))
    rag_denom = F.col("__qn") * F.col("__cn")
    scored = F.broadcast(qvec).crossJoin(cvec).select(
        "query_doc_id", "src_doc_id", "chunk_no", "chunk_md5", "source",
        F.when(rag_denom > 0, dot_expr(F.col("qe"), F.col("e")) / rag_denom).alias(
            "cosine"
        ),
    )
    wr = Window.partitionBy("query_doc_id").orderBy(
        F.desc_nulls_last("cosine"), F.asc("chunk_md5")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _RAG_TOPK)
        .select(
            "query_doc_id", "rank", "src_doc_id", "chunk_no", "chunk_md5", "source",
            F.round("cosine", 4).alias("cosine_r"),
        )
    )


_TEMPERATURE_ORACLE = """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents GROUP BY lang
),
s0 AS (
  SELECT lang, n_total,
    CAST(FLOOR(SQRT(CAST(n_total AS DOUBLE))) AS BIGINT) AS r0
  FROM c
),
w AS (
  SELECT lang, n_total,
    CASE WHEN (r0 + 1) * (r0 + 1) <= n_total THEN r0 + 1
         WHEN r0 * r0 > n_total THEN r0 - 1
         ELSE r0 END AS wgt
  FROM s0
),
m AS (SELECT n_total AS n_m, wgt AS w_m FROM w ORDER BY n_total, lang LIMIT 1),
t AS (
  SELECT w.lang, w.n_total, w.wgt,
    CAST((65536 * w.wgt * m.n_m) // (m.w_m * w.n_total) AS BIGINT) AS thresh
  FROM w, m
),
kept AS (
  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM documents d JOIN t ON d.lang = t.lang
  WHERE t.thresh >= 65536
     OR substr(md5(concat('temp-v1:', CAST(d.doc_id AS VARCHAR))), 1, 4)
        < lpad(lower(to_hex(t.thresh)), 4, '0')
  GROUP BY d.lang
)
SELECT
  t.lang, t.n_total, t.wgt, t.thresh,
  COALESCE(kept.n_kept, CAST(0 AS BIGINT)) AS n_kept
FROM t LEFT JOIN kept ON t.lang = kept.lang
"""


@register("curation_temperature_mix", oracle=_TEMPERATURE_ORACLE, tags=("curation", "sampling"))
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling (alpha = 0.5): downsample each
    language so kept counts are proportional to sqrt(n_lang) — the standard
    rebalancing step of multilingual pretraining mixes (XLM-R-style
    p_l proportional to n_l^alpha), expressed with ONLY integer arithmetic so
    Spark and DuckDB agree bit-for-bit.

    The alpha-power weight is an EXACT integer sqrt: a double ``sqrt`` seed
    corrected by one ±1 step (``(r+1)^2 <= n`` / ``r^2 > n``), valid for all
    n < 2^52, so no float rounding can flip a threshold. The smallest
    language (argmin n, tie-break lang) keeps rate 1; every other language's
    acceptance threshold is ``65536*w*n_m div (w_m*n)`` compared against the
    first 4 md5 hex chars of the doc id — the same keep-decision machinery as
    ``curation_domain_mix``, reused deliberately so one audited primitive
    backs both mixture controls. Per-language stats (|langs| rows) broadcast
    into the scan-speed per-doc filter; no driver-side math. Overflow bound:
    ``65536 * w * n_m`` stays under 2^63 while ``w * n_m < 1.4e14`` — at 100 TB
    (n ~ 1e12, w ~ 1e6) the smallest-language count n_m must stay under ~1e8,
    true whenever rebalancing is needed at all; beyond that, swap the
    constant to a 128-bit decimal in both engines.
    """
    (docs,) = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_total"))
    w = counts.withColumn(
        "r0", F.floor(F.sqrt(F.col("n_total").cast("double"))).cast("long")
    ).withColumn(
        "wgt",
        F.expr(
            "CASE WHEN (r0 + 1) * (r0 + 1) <= n_total THEN r0 + 1 "
            "WHEN r0 * r0 > n_total THEN r0 - 1 ELSE r0 END"
        ),
    ).drop("r0")
    m = (
        w.orderBy("n_total", "lang")
        .limit(1)
        .select(F.col("n_total").alias("n_m"), F.col("wgt").alias("w_m"))
    )
    thresholds = w.crossJoin(F.broadcast(m)).select(
        "lang",
        "n_total",
        "wgt",
        F.expr("CAST((65536 * wgt * n_m) div (w_m * n_total) AS BIGINT)").alias(
            "thresh"
        ),
    )
    h4 = F.substring(
        F.md5(F.concat(F.lit("temp-v1:"), F.col("doc_id").cast("string"))), 1, 4
    )
    kept = (
        docs.join(F.broadcast(thresholds), "lang")
        .filter(
            (F.col("thresh") >= 65536)
            | (h4 < F.lpad(F.lower(F.hex("thresh")), 4, "0"))
        )
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return thresholds.join(kept, "lang", "left").select(
        "lang",
        "n_total",
        "wgt",
        "thresh",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
    )


_APPORTION_B = 100000  # training-slot budget to distribute

_APPORTION_ORACLE = f"""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(n_total) AS BIGINT) AS grand FROM c),
q AS (
  SELECT c.source, c.n_total,
         CAST({_APPORTION_B} * c.n_total // t.grand AS BIGINT) AS base_quota,
         CAST({_APPORTION_B} * c.n_total % t.grand AS BIGINT) AS remainder
  FROM c CROSS JOIN t
),
lo AS (SELECT CAST({_APPORTION_B} AS BIGINT) - CAST(SUM(base_quota) AS BIGINT) AS leftover FROM q),
r AS (
  SELECT q.*, lo.leftover,
         ROW_NUMBER() OVER (ORDER BY q.remainder DESC, q.source) AS rk
  FROM q CROSS JOIN lo
)
SELECT source, n_total, base_quota,
       CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS final_quota
FROM r
"""


@register("curation_budget_apportion", oracle=_APPORTION_ORACLE, tags=("curation", "sampling"))
def curation_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hare-quota) apportionment of a fixed training
    budget across sources: each source gets floor(B*n/N) slots, and the
    leftover slots go to the largest remainders (tie-break source asc) —
    so quotas sum to EXACTLY B with no float rounding drift, the
    correctness property proportional-float-then-round allocation lacks.
    This is the "allocate 100k training slots across domains" step of
    dataset budgeting.

    Scale shape: the corpus collapses to |sources| rows in one map-side-
    combinable aggregate; everything after — grand total, remainders,
    the ranking window — runs at source grain (tens of rows), so the
    unpartitioned ROW_NUMBER window is over a provably tiny frame (same
    stance as the tercile windows in text_perplexity_filter). Integer
    arithmetic throughout; overflow bound B*n < 2^63 holds to n ~ 9e13
    docs at B=1e5."""
    (docs,) = load(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_total"))
    t = c.agg(F.sum("n_total").cast("long").alias("grand"))
    B = _APPORTION_B
    q = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_total",
        F.expr(f"CAST({B} * n_total div grand AS BIGINT)").alias("base_quota"),
        F.expr(f"CAST({B} * n_total % grand AS BIGINT)").alias("remainder"),
    )
    lo = q.agg(
        (F.lit(B).cast("long") - F.sum("base_quota").cast("long")).alias("leftover")
    )
    w = Window.orderBy(F.col("remainder").desc(), F.col("source").asc())
    return (
        q.crossJoin(F.broadcast(lo))
        .withColumn("rk", F.row_number().over(w))
        .select(
            "source",
            "n_total",
            "base_quota",
            F.when(F.col("rk") <= F.col("leftover"), 1)
            .otherwise(0)
            .cast("long")
            .alias("extra"),
            (
                F.col("base_quota")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).alias("final_quota"),
        )
    )


_DATASET_CARD_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, source, n_chars,
         LEN(string_split(text, ' ')) AS n_words,
         md5(LOWER(text)) AS fp
  FROM documents
),
dup AS (
  SELECT CAST(SUM(c - 1) AS BIGINT) AS n_exact_dups
  FROM (SELECT COUNT(*) AS c FROM base GROUP BY fp)
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(n_words) AS BIGINT) AS total_words,
  CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars,
  CAST(MIN(n_words) AS BIGINT) AS min_words,
  CAST(MAX(n_words) AS BIGINT) AS max_words,
  (SELECT n_exact_dups FROM dup) AS n_exact_dups,
  CAST(10000 * (SELECT n_exact_dups FROM dup) // COUNT(*) AS BIGINT) AS dup_rate_bp
FROM base
"""


@register("curation_dataset_card", oracle=_DATASET_CARD_ORACLE, tags=("curation", "audit"))
def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the summary block published alongside a
    training corpus — document/language/source counts, exact char and
    token totals, length bounds, and the exact-duplicate rate in basis
    points. The release artifact every curated dataset ships with,
    computed in-engine so the card can never drift from the data.

    Two passes, both linear and map-side-combinable: one corpus scan for
    the counts/totals, one digest-grain aggregate for the dup rate (the
    same md5 fingerprint as dedup_exact, so the card's dup number is BY
    CONSTRUCTION consistent with the dedup operator's). Everything
    integer; the two one-row legs join by broadcast."""
    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", "source", "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.md5(F.lower(F.col("text"))).alias("fp"),
    )
    dup = (
        base.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") - 1).cast("long").alias("n_exact_dups"))
    )
    card = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.expr("CAST(SUM(n_chars) div COUNT(*) AS BIGINT)").alias("mean_chars"),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
    )
    return card.crossJoin(F.broadcast(dup)).select(
        "*",
        F.expr("CAST(10000 * n_exact_dups div n_docs AS BIGINT)").alias("dup_rate_bp"),
    )


# Cluster-aware (leakage-free) split (r5): a hash split keyed on doc_id
# sends two near-duplicate documents to DIFFERENT splits with probability
# ~2·p·(1−p) — train/test leakage that inflates eval scores. The fix every
# serious pretraining pipeline ships: split on the near-dup CLUSTER id, so
# a whole duplicate family lands in one split. The oracle replays the full
# composition — inverted-index Jaccard pairs, RECURSIVE-CTE transitive
# closure, singleton fill-in, md5-threshold split on the cluster id.
_CLUSTER_SPLIT_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, LIST_DISTINCT(string_split(text, ' ')) AS ws FROM documents
),
inv AS (
  SELECT doc_id, lang, LEN(ws) AS n, UNNEST(ws) AS w FROM toks
),
inter AS (
  SELECT
    a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
    COUNT(*) AS n_common
  FROM inv a
  JOIN inv b ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.9
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
verts AS (SELECT DISTINCT a AS v FROM edges),
reach(src, dst) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM alldocs GROUP BY cluster_id
)
SELECT
  a.doc_id,
  a.cluster_id,
  s.cluster_size,
  CASE
    WHEN substr(md5(concat('split-v1:', CAST(a.cluster_id AS VARCHAR))), 1, 4) < 'cccc'
      THEN 'train'
    WHEN substr(md5(concat('split-v1:', CAST(a.cluster_id AS VARCHAR))), 1, 4) < 'e666'
      THEN 'val'
    ELSE 'test'
  END AS split
FROM alldocs a JOIN sizes s ON a.cluster_id = s.cluster_id
"""


@register("curation_cluster_split", oracle=_CLUSTER_SPLIT_ORACLE, tags=("curation", "dedup"))
def curation_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: near-dup clusters (exact Jaccard
    pairs -> iterative connected components) are assigned to splits as whole
    units by hashing the CLUSTER id — a duplicate family can never straddle
    the train/eval boundary, the contamination mode a per-document hash
    split permits by construction (`curation_hash_split` keeps the
    per-doc-key role for corpora already deduplicated).

    Still growth-stable: cluster id is the family's min doc_id, so adding
    unrelated documents never reassigns an existing family (merging two
    families can — exactly when leaving them separate would have leaked).

    Scale shape: the pair stage here is the uncapped fixture configuration
    (tiny ~30-word vocabulary; the oracle demands every pair) — at 100x the
    pair stage swaps to `dedup_jaccard_pairs_capped` (df<=100) or the
    LSH path (`dedup_cluster_lsh`) with this exact downstream unchanged.
    CC is 2 shuffles/round on the edge list; the split itself stays a
    zero-shuffle projection on the cluster id; cluster_size is one
    cluster-grain aggregate joined back."""
    from ..operators.dedup import jaccard_similarity_pairs
    from ..operators.graph import connected_components

    (docs,) = load(spark, sf_dir, "documents")
    pairs = jaccard_similarity_pairs(
        docs, "doc_id", "text", threshold=0.9, group_col="lang",
        max_token_doc_freq=None,
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    clustered = docs.select("doc_id").join(
        cc.select(F.col("v").alias("doc_id"), "component"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
    )
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        assign_split(clustered, "cluster_id", seed="split-v1")
        .join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size", "split")
    )


# Balanced shard manifest (r5): the write-side counterpart of
# pack_sequences — assign documents to a FIXED number of output shards so
# shard token totals stay near-equal (downstream data-loader workers then
# finish together instead of straggling on one fat shard). Longest-
# processing-time heuristic approximated deterministically: docs ranked by
# (tokens DESC, doc_id) via the distributed zip_with_global_index (never a
# one-partition window), then dealt round-robin — rank r -> shard r mod N,
# which interleaves big and small docs across shards.
_SHARD_ORACLE = """
WITH t AS (
  SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT doc_id, n_tokens,
    ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rnk
  FROM t
),
assigned AS (
  SELECT doc_id, n_tokens, CAST(rnk % 16 AS BIGINT) AS shard FROM ranked
),
per_shard AS (
  SELECT shard,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM assigned GROUP BY shard
),
ideal AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS grand FROM per_shard)
SELECT
  shard, n_docs, total_tokens,
  CAST(total_tokens * 160000 // grand AS BIGINT) AS share_permyriad16
FROM per_shard CROSS JOIN ideal
"""


@register("curation_shard_manifest", oracle=_SHARD_ORACLE, tags=("curation",))
def curation_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding: documents dealt into 16 shards by
    round-robin over the (tokens DESC, doc_id) rank, so every shard's token
    total lands within one document of ideal — the manifest a distributed
    tokenizer/writer consumes, sized so training data-loader workers finish
    together. share_permyriad16 is each shard's share of the corpus scaled
    to 16 shards x 10000 (ideal = 10000 exactly).

    Scale shape: the global rank comes from ``zip_with_global_index``
    (range repartition + per-partition prefix-sum enumerate — the audited
    distributed zipWithIndex, never a single-partition window); assignment
    is a scan-side mod; the manifest rollup is one 16-key aggregate with a
    1-row broadcast grand total. All outputs BIGINT."""
    (docs,) = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    ).withColumn("neg_tokens", -F.col("n_tokens"))
    ranked = zip_with_global_index(t, "neg_tokens", "doc_id", num_partitions=16)
    assigned = ranked.select(
        "doc_id", "n_tokens", (F.col("global_index") % 16).cast("long").alias("shard")
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    ideal = per_shard.agg(F.sum("total_tokens").cast("long").alias("grand"))
    return per_shard.crossJoin(F.broadcast(ideal)).select(
        "shard",
        "n_docs",
        "total_tokens",
        F.expr("CAST(total_tokens * 160000 div grand AS BIGINT)").alias(
            "share_permyriad16"
        ),
    )


# DSIR-style importance weights (r6): Data Selection via Importance
# Resampling (Xie et al., NeurIPS'23) — score every raw document by how
# much its hashed n-gram profile looks like a TARGET domain vs the RAW
# pool: score(doc) = sum over tokens of [ln p_target(bucket) - ln
# p_raw(bucket)], with tokens hashed into 256 md5-derived buckets and
# add-one smoothing per bucket. High scores select target-like documents
# when assembling a pretraining mix. Target here = the 'en' slice; raw =
# the whole corpus. Log-ratios are quantized to integer micro-nats per
# bucket BEFORE the per-doc sum (the langid/PMI determinism convention),
# so every output is BIGINT and hash-exact.
_DSIR_BUCKETS = 256
_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w FROM documents
),
b AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('dsir-v1:' || w), 1, 12))::BIGINT % {_DSIR_BUCKETS} AS bkt
  FROM tok
),
prof AS (
  SELECT bkt,
    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(COUNT(*) AS BIGINT) AS n_r
  FROM b GROUP BY bkt
),
tot AS (
  SELECT CAST(SUM(n_t) AS BIGINT) AS tt, CAST(SUM(n_r) AS BIGINT) AS tr FROM prof
),
lr AS (
  SELECT bkt,
    CAST(ROUND(LN(
      (CAST(n_t + 1 AS DOUBLE) / (tt + {_DSIR_BUCKETS}))
      / (CAST(n_r + 1 AS DOUBLE) / (tr + {_DSIR_BUCKETS}))
    ) * 1000000.0) AS BIGINT) AS lr_micro
  FROM prof CROSS JOIN tot
)
SELECT
  b.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(lr.lr_micro) AS BIGINT) AS dsir_score_micro,
  CAST(SUM(lr.lr_micro) AS BIGINT) > 0 AS target_like
FROM b JOIN lr ON lr.bkt = b.bkt
GROUP BY b.doc_id
"""


@register("curation_dsir_weights", oracle=_DSIR_ORACLE, tags=("curation", "sampling", "text"))
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance score per document: hashed-unigram log-likelihood
    ratio of a target domain (the 'en' slice) against the raw pool, the
    importance-resampling selection signal for assembling pretraining
    mixtures from heterogeneous crawls (select where score ranks high /
    exceeds 0). Completes the curation tier's selection family: hash
    split, stratified, weighted A-ES, temperature mix — and now
    distribution-matching selection.

    Scale shape: the bucket profile is a 256-row (``_DSIR_BUCKETS``)
    aggregate (map-side combinable, bounded state) broadcast back into
    the token stream; the per-doc score is one doc-grain sum — the only
    data-sized shuffle. Bucket log-ratios are quantized to integer
    micro-nats BEFORE summation, so the result is BIGINT-exact on both
    engines."""
    (docs,) = load(spark, sf_dir, "documents")
    # r13 batch 4 (guide §2.4/§5): the 256-row bucket profile and its
    # 1-row total each re-planned the full tokenize+md5 pass inside their
    # own broadcast subtree (3 corpus passes at runtime, no reuse —
    # measured in the final adaptive plan). The profile is BUCKET-grain
    # (256 rows), so it is materialized eagerly once off the spread input
    # and the total derives from the resident frame: 2 corpus passes,
    # both parallel. (The r12 experiment that checkpointed the TOKEN-
    # grain bucket frame regressed — materializing ~1M rows cost more
    # than the re-run; the 256-row profile is the right grain.) Counts
    # are the same exact integers; scores unchanged.
    from ..operators.similarity import checkpoint_index, spread_small_input

    tok = spread_small_input(docs, "doc_id").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    b = tok.select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dsir-v1:"), F.col("w"))), 1, 12),
                16,
                10,
            ).cast("long")
            % _DSIR_BUCKETS
        ).alias("bkt"),
    )
    prof = checkpoint_index(
        b.groupBy("bkt").agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("long")
            .alias("n_t"),
            F.count(F.lit(1)).cast("long").alias("n_r"),
        )
    )
    tot = prof.agg(
        F.sum("n_t").cast("long").alias("tt"), F.sum("n_r").cast("long").alias("tr")
    )
    p_t = (F.col("n_t") + 1).cast("double") / (F.col("tt") + _DSIR_BUCKETS)
    p_r = (F.col("n_r") + 1).cast("double") / (F.col("tr") + _DSIR_BUCKETS)
    lr = prof.crossJoin(F.broadcast(tot)).select(
        "bkt", F.round(F.log(p_t / p_r) * 1000000.0).cast("long").alias("lr_micro")
    )
    score = F.sum("lr_micro").cast("long")
    return (
        b.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            score.alias("dsir_score_micro"),
            (score > 0).alias("target_like"),
        )
    )
