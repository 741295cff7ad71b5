"""Text-analysis operators over the documents table — driver-mandated [X]
tier (BASELINE.json north_star: language-ID, quality scoring, token
counting, document fingerprinting).

All expressions are JVM built-ins (split / higher-order array functions /
regexp / md5) — zero Python in the hot path. Language-ID is the one
multi-stage op: it trains unigram profiles from the labeled corpus and
scores docs distributively (explode -> profile join -> integer-quantized
log-prob sum -> argmax), the same plan shape at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.caching import get
from ..tables import load
from . import register

_STATS_ORACLE = """
SELECT
  doc_id,
  lang,
  LENGTH(text) AS n_chars_calc,
  CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
    / CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS avg_word_len
FROM documents
"""


@register("text_stats", oracle=_STATS_ORACLE, tags=("text",))
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document length/word-count/avg-word-length (quality features)."""
    (docs,) = load(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_calc"),
        n_words.alias("n_words"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / n_words.cast("double")
        ).alias("avg_word_len"),
    )


_TOKENS_ORACLE = """
SELECT
  doc_id,
  CAST(LEN(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens,
  CAST(LEN(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS n_distinct_tokens
FROM documents
"""


@register("text_token_count", oracle=_TOKENS_ORACLE, tags=("text",))
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex tokenizer counts (BPE-ish alnum runs): total + distinct."""
    (docs,) = load(spark, sf_dir, "documents")
    toks = F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


# Stopword set drawn from the fixture vocabulary; the operator semantics
# (stopword-density quality gate) are what matters, not the list.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

_QUALITY_ORACLE = f"""
SELECT
  doc_id,
  CAST(LEN(list_filter(string_split(text, ' '), w -> w IN ({_SW_SQL}))) AS BIGINT)
    AS n_stopwords,
  CAST(LEN(list_filter(string_split(text, ' '), w -> w IN ({_SW_SQL}))) AS DOUBLE)
    / CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
  (LEN(string_split(text, ' ')) BETWEEN 20 AND 1000) AS length_ok
FROM documents
"""


@register("text_quality", oracle=_QUALITY_ORACLE, tags=("text",))
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword density + length gate (the pretraining-data
    filter shape). Higher-order filter keeps it JVM-side."""
    (docs,) = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))).cast("long")
    return docs.select(
        "doc_id",
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / F.size(words).cast("double")).alias("stop_ratio"),
        F.size(words).between(20, 1000).alias("length_ok"),
    )


_FP_ORACLE = """
SELECT
  doc_id,
  MD5(LOWER(text)) AS fingerprint,
  MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
    AS bow_fingerprint
FROM documents
"""


@register("text_fingerprint", oracle=_FP_ORACLE, tags=("text", "dedup"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: raw (exact-dup key) and sorted bag-of-words
    (word-order-insensitive dup key)."""
    (docs,) = load(spark, sf_dir, "documents")
    bow = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("fingerprint"),
        F.md5(bow).alias("bow_fingerprint"),
    )


# Language-ID: unigram Bayes with add-1 smoothing, profiles trained from the
# labeled corpus itself. Scores are per-word log-probs quantized to integer
# micro-nats BEFORE summation, so the argmax is bit-deterministic across
# engines and cluster topologies (same trick as functions.exact).
_LANGID_ORACLE = """
WITH wd AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word FROM documents
),
wc AS (
  SELECT doc_id, word, COUNT(*) AS wcnt FROM wd GROUP BY doc_id, word
),
profile AS (
  SELECT lang, word, COUNT(*) AS cnt FROM wd GROUP BY lang, word
),
lang_tot AS (
  SELECT lang, COUNT(*) AS tot FROM wd GROUP BY lang
),
vocab AS (
  SELECT COUNT(DISTINCT word) AS v FROM wd
),
scored AS (
  SELECT
    wc.doc_id,
    lang_tot.lang AS cand_lang,
    CAST(SUM(wc.wcnt * CAST(ROUND(LN(
      (CAST(COALESCE(profile.cnt, 0) + 1 AS DOUBLE))
      / (CAST(lang_tot.tot + vocab.v AS DOUBLE))
    ) * 1000000.0) AS BIGINT)) AS BIGINT) AS score_q
  FROM wc
  CROSS JOIN lang_tot
  CROSS JOIN vocab
  LEFT JOIN profile ON profile.lang = lang_tot.lang AND profile.word = wc.word
  GROUP BY wc.doc_id, lang_tot.lang
)
SELECT doc_id, cand_lang AS predicted_lang, score_q
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_q DESC, cand_lang) AS rn
  FROM scored
)
WHERE rn = 1
"""


def _langid_scored(docs: DataFrame) -> DataFrame:
    """Shared langid scoring subplan: per-(doc, candidate-lang) quantized
    log-prob sums. Used by text_langid (argmax) and text_langid_margin
    (top-2 gap); both oracles inline the identical CTE chain.

    r14 (VERDICT r13 #1): REVERTED to direct per-grain aggregation over
    the exploded word frame. The r13 "one token-grain pass" derived
    profile/lang_tot/vocab from a per-(doc, lang, word) count frame; the
    values were exact-integer identical, but Catalyst plans the four
    consumers as independent subtrees (pruning specializes the legs, so
    no exchange/stage reuse ever fires), which means the rewrite fused
    NOTHING at runtime and each leg carried an extra aggregation whose
    exchange moved from vocabulary grain ((lang, word) / (lang)) to
    per-doc token grain ((doc_id, lang, word)) — at scale that is shuffle
    volume proportional to per-doc distinct tokens instead of vocabulary
    size. Plans regressed 20 -> 26 Exchanges / 24 -> 36 HashAggregates
    and the driver bench read text_langid -31%. Direct aggregation keeps
    every exchange at its natural coarse grain (map-side partial
    aggregation collapses the token stream before the shuffle), and the
    four cheap explode+partial-agg legs execute concurrently.
    Also measured (r13) and rejected: eagerly materializing the
    vocabulary-grain profile regressed the siblings +55% (the serial
    checkpoint job costs more than the concurrent re-runs — split+explode
    carries no per-token hash work, unlike the dsir profile, where the
    same treatment wins 30%)."""
    wd = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    wc = wd.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("wcnt"))
    profile = wd.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("cnt"))
    lang_tot = wd.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    vocab = wd.agg(F.countDistinct("word").alias("v"))

    scored = (
        wc.crossJoin(F.broadcast(lang_tot.select(F.col("lang").alias("cand_lang"), "tot")))
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(
                profile.select(
                    F.col("lang").alias("p_lang"), F.col("word").alias("p_word"), "cnt"
                )
            ),
            on=[F.col("cand_lang") == F.col("p_lang"), F.col("word") == F.col("p_word")],
            how="left",
        )
        .select(
            "doc_id",
            "cand_lang",
            (
                F.col("wcnt")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                        / (F.col("tot") + F.col("v")).cast("double")
                    )
                    * 1_000_000.0
                ).cast("long")
            ).alias("term_q"),
        )
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum("term_q").alias("score_q"))
    )
    return scored


@register("text_langid", oracle=_LANGID_ORACLE, tags=("text", "langid"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via unigram profiles (n-gram heuristic).

    Plan: explode words -> per-(doc,word) count (the fact side collapses to
    distinct words per doc BEFORE the language expansion — the quantized
    log-prob just multiplies by the count, integer-exact) -> profile agg
    (shuffle on (lang,word)) -> wc x langs broadcast-joined against the
    profile (profile cardinality = vocab x langs — tiny for a fixed
    reference profile; the self-trained variant grows with corpus vocab, so
    at scale cap the vocab or fall back to a shuffle join, see
    text_perplexity_filter) -> integer log-prob sum per (doc, lang) (shuffle on
    doc_id) -> argmax window. The expensive fact-side data moves through
    exactly two shuffles regardless of corpus size, at distinct-word (not
    token) volume.
    """
    (docs,) = load(spark, sf_dir, "documents")
    scored = _langid_scored(docs)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("cand_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("predicted_lang"), "score_q")
    )


# Gopher-style repetition signals. "Lines" are the same deterministic 10-word
# windows as text_line_dedup (the fixture has no newlines); bigrams are
# adjacent word pairs. Both fractions are ratios of exact integers.
_REP_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
chunked AS (
  SELECT doc_id, w,
    UNNEST(generate_series(0, CAST(CEIL(LEN(w) / 10.0) AS BIGINT) - 1)) AS line_no
  FROM ws
),
lines AS (
  SELECT doc_id, array_to_string(w[(line_no * 10 + 1):(line_no * 10 + 10)], ' ') AS line
  FROM chunked
),
lc AS (
  SELECT doc_id, line, COUNT(*) AS cnt, LENGTH(line) AS n_chars
  FROM lines GROUP BY doc_id, line
),
line_stats AS (
  SELECT
    doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_lines,
    SUM(CASE WHEN cnt >= 2 THEN cnt * n_chars ELSE 0 END) AS dup_chars,
    SUM(cnt * n_chars) AS tot_chars
  FROM lc GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
    UNNEST(LIST_TRANSFORM(
      RANGE(1, LEN(w)),
      i -> CONCAT(w[i], ' ', w[i + 1])
    )) AS bigram
  FROM ws
),
bc AS (
  SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram
),
bigram_stats AS (
  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS tot_cnt FROM bc GROUP BY doc_id
)
SELECT
  l.doc_id,
  l.n_lines,
  ROUND(CAST(l.dup_chars AS DOUBLE) / CAST(l.tot_chars AS DOUBLE), 6) AS dup_line_char_frac,
  ROUND(COALESCE(CAST(b.top_cnt AS DOUBLE) / CAST(b.tot_cnt AS DOUBLE), 0.0), 6)
    AS top_bigram_frac,
  (CAST(l.dup_chars AS DOUBLE) / CAST(l.tot_chars AS DOUBLE) < 0.3)
    AND (COALESCE(CAST(b.top_cnt AS DOUBLE) / CAST(b.tot_cnt AS DOUBLE), 0.0) < 0.18)
    AS repetition_ok
FROM line_stats l LEFT JOIN bigram_stats b ON b.doc_id = l.doc_id
"""


@register("text_repetition_signals", oracle=_REP_ORACLE, tags=("text", "filter"))
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition filters: fraction of characters in duplicated
    lines + fraction of tokens in the single most-frequent bigram, with the
    paper's 0.30/0.18 keep thresholds folded into a verdict column.

    Scale shape: both signals aggregate at exploded (doc, line) / (doc,
    bigram) grain — groupBy shuffles sized by corpus volume, never an
    in-array O(len^2) self-count, so per-doc cost stays linear in doc
    length (a 1 MB scraped page can't quadratically stall its task). The
    two signal branches shuffle independently and meet in a final doc-grain
    join; fractions are exact-integer ratios rounded only on output."""
    (docs,) = load(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("w"))
    n_chunks = F.ceil(F.size("w") / F.lit(10)).cast("int")
    lines = ws.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("w", i * 10 + 1, 10), " "),
            )
        ).alias("line"),
    )
    lc = lines.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("cnt"))
    line_stats = (
        lc.select(
            "doc_id",
            "cnt",
            (F.col("cnt") * F.length("line")).alias("chars"),
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("line")).otherwise(0).alias("dup"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_lines"),
            F.sum("dup").alias("dup_chars"),
            F.sum("chars").alias("tot_chars"),
        )
    )
    # one-word docs yield an empty bigram array (explode emits no rows),
    # mirroring the oracle's empty RANGE(1, 1); the final LEFT join then
    # keeps the doc with top_bigram_frac defaulted to 0.0 (a bigram-free doc
    # trivially passes the bigram filter) — one row per document, always.
    bigram_arr = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(" ", F.element_at("w", i), F.element_at("w", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = ws.select("doc_id", F.explode(bigram_arr).alias("bigram"))
    bc = bigrams.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    bigram_stats = bc.groupBy("doc_id").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("tot_cnt")
    )
    dup_frac = F.col("dup_chars").cast("double") / F.col("tot_chars").cast("double")
    top_frac = F.coalesce(
        F.col("top_cnt").cast("double") / F.col("tot_cnt").cast("double"), F.lit(0.0)
    )
    return line_stats.join(bigram_stats, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.round(dup_frac, 6).alias("dup_line_char_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        ((dup_frac < 0.3) & (top_frac < 0.18)).alias("repetition_ok"),
    )


# CCNet-style perplexity filtering: score every document under a unigram LM
# of ITS OWN language (trained on the corpus itself here; production swaps in
# counts from a trusted reference corpus — same join topology), then bucket
# per-language into head/middle/tail terciles. Cross-entropy accumulates in
# integer micro-nats (same quantization as langid) so bucket boundaries are
# bit-deterministic across engines.
_PPL_ORACLE = """
WITH wd AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word FROM documents
),
wc AS (
  SELECT doc_id, lang, word, COUNT(*) AS wcnt FROM wd GROUP BY doc_id, lang, word
),
profile AS (
  SELECT lang, word, COUNT(*) AS cnt FROM wd GROUP BY lang, word
),
lang_tot AS (
  SELECT lang, COUNT(*) AS tot FROM wd GROUP BY lang
),
vocab AS (
  SELECT COUNT(DISTINCT word) AS v FROM wd
),
xent AS (
  SELECT
    wc.doc_id,
    wc.lang,
    CAST(SUM(wc.wcnt) AS BIGINT) AS n_tokens,
    CAST(-SUM(wc.wcnt * CAST(ROUND(LN(
      CAST(profile.cnt + 1 AS DOUBLE) / CAST(lang_tot.tot + vocab.v AS DOUBLE)
    ) * 1000000.0) AS BIGINT)) AS BIGINT) AS xent_q
  FROM wc
  JOIN profile ON profile.lang = wc.lang AND profile.word = wc.word
  JOIN lang_tot ON lang_tot.lang = wc.lang
  CROSS JOIN vocab
  GROUP BY wc.doc_id, wc.lang
)
SELECT
  doc_id,
  lang,
  n_tokens,
  xent_q,
  CASE NTILE(3) OVER (PARTITION BY lang ORDER BY xent_q * 1.0 / n_tokens, doc_id)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM xent
"""


@register("text_perplexity_filter", oracle=_PPL_ORACLE, tags=("text", "curation"))
def text_perplexity_filter(
    spark: SparkSession, sf_dir: str, profile_max_rows: int | None = 100_000_000
) -> DataFrame:
    """Perplexity-based quality bucketing (the CCNet filter shape): unigram
    LM per language, per-document cross-entropy, head/middle/tail terciles
    within each language — 'head' is the lowest-perplexity (most fluent)
    third a pretraining pipeline keeps or upweights.

    Scale shape: fact side collapses to per-(doc,word) counts before any
    join. The LM profile broadcasts safely when trained on a FIXED reference
    corpus (the production CCNet setup — bounded vocab). The self-trained
    variant here grows with corpus vocabulary, so the broadcast hint is
    CODE-GUARDED by ``profile_max_rows``: if the fitted profile exceeds it,
    the hint is dropped and the (lang,word) equi-join runs as a shuffle
    join — identical semantics, no driver/executor memory pressure. The
    guard's probe count is CACHED per (sf_dir, threshold) so only the first
    invocation against a given corpus pays the extra job; set
    ``profile_max_rows=0`` to force the shuffle path unconditionally, or
    ``None`` (caller asserts a bounded vocabulary — the fixed-reference-
    corpus production CCNet setup) to skip the probe AND broadcast
    unconditionally. The
    inner join (every scored word was observed in training here) means no
    smoothing-only rows materialize. Two fact shuffles total — (doc,word)
    grain then doc grain — plus one per-language tercile window. The mean
    cross-entropy used for ordering divides two exact integers, so tercile
    cuts can't drift with summation order; doc_id breaks exact ties."""
    (docs,) = load(spark, sf_dir, "documents")
    wd = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    # r14 (VERDICT r13 #1): profile/lang_tot/vocab aggregate DIRECTLY over
    # the exploded word frame again. Deriving them from the per-(doc, lang,
    # word) counts was value-identical but fused nothing at runtime (no
    # exchange reuse fires across the independently-pruned legs) and moved
    # each leg's exchange from vocabulary grain to per-doc token grain —
    # strictly more shuffled bytes at scale. Direct aggregation lets the
    # map-side partial agg collapse the token stream before each shuffle
    # (see _langid_scored for the full adjudication).
    wc = wd.groupBy("doc_id", "lang", "word").agg(F.count(F.lit(1)).alias("wcnt"))
    profile = wd.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("cnt"))
    lang_tot = wd.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    vocab = wd.agg(F.countDistinct("word").alias("v"))

    profile_side = profile.select(
        F.col("lang").alias("p_lang"), F.col("word").alias("p_word"), "cnt"
    )
    # limit(N+1).count() early-stops at the threshold instead of scanning the
    # full aggregate when it is far over the cap; the verdict is registered
    # per (session, sf_dir, threshold) so re-invocations (bench medians, repeated driver
    # calls) build the plan with zero extra jobs.
    if profile_max_rows is None:
        profile_side = F.broadcast(profile_side)
    elif profile_max_rows > 0:
        fits = get(
            "profile_guard",
            spark,
            (sf_dir, profile_max_rows),
            lambda: profile_side.limit(profile_max_rows + 1).count() <= profile_max_rows,
        )
        if fits:
            profile_side = F.broadcast(profile_side)

    qlogp = F.round(
        F.log(
            (F.col("cnt") + 1).cast("double") / (F.col("tot") + F.col("v")).cast("double")
        )
        * 1_000_000.0
    ).cast("long")
    xent = (
        wc.join(
            profile_side,
            on=[F.col("lang") == F.col("p_lang"), F.col("word") == F.col("p_word")],
        )
        .join(F.broadcast(lang_tot.select(F.col("lang").alias("t_lang"), "tot")),
              on=[F.col("lang") == F.col("t_lang")])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "lang", "wcnt", (F.col("wcnt") * qlogp).alias("term_q"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("wcnt").cast("long").alias("n_tokens"),
            (-F.sum("term_q")).alias("xent_q"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("xent_q") * 1.0 / F.col("n_tokens"), F.asc("doc_id")
    )
    bucket = F.ntile(3).over(w)
    return xent.select(
        "doc_id",
        "lang",
        "n_tokens",
        "xent_q",
        F.when(bucket == 1, "head").when(bucket == 2, "middle").otherwise("tail").alias("ppl_bucket"),
    )


_SHINGLE_ORACLE = """
SELECT
  doc_id,
  CAST(GREATEST(LEN(string_split(text, ' ')) - 2, 0) AS BIGINT) AS n_shingles,
  CAST(LEN(LIST_DISTINCT(
    LIST_TRANSFORM(
      RANGE(1, GREATEST(LEN(string_split(text, ' ')) - 1, 1)),
      i -> ARRAY_TO_STRING(string_split(text, ' ')[i:i+2], ' ')
    )
  )) AS BIGINT) AS n_distinct_shingles
FROM documents
"""


@register("text_shingles", oracle=_SHINGLE_ORACLE, tags=("text", "dedup"))
def text_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram shingling stats (the MinHash front end)."""
    (docs,) = load(spark, sf_dir, "documents")
    # words materialized in its own projection: inlined into the slice
    # lambda, Catalyst re-evaluates split() per shingle (O(words^2)/doc)
    staged = docs.select("doc_id", F.split(F.col("text"), " ").alias("w")).withColumn(
        "nw", F.size("w")
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("nw") - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, 3)),
    )
    return staged.select(
        "doc_id",
        F.greatest(F.col("nw") - 2, F.lit(0)).cast("long").alias("n_shingles"),
        F.size(F.array_distinct(shingles)).cast("long").alias("n_distinct_shingles"),
    )


_QFILTER_ORACLE = f"""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
m AS (
  SELECT
    doc_id,
    CAST(LEN(ws) AS BIGINT) AS n_words,
    CAST(LEN(LIST_DISTINCT(ws)) AS DOUBLE) / CAST(LEN(ws) AS DOUBLE) AS distinct_ratio,
    CAST(LEN(LIST_FILTER(ws, w -> w IN ({_SW_SQL}))) AS DOUBLE)
      / CAST(LEN(ws) AS DOUBLE) AS stop_ratio,
    CAST(LIST_SUM(LIST_TRANSFORM(ws, w -> LEN(w))) AS DOUBLE)
      / CAST(LEN(ws) AS DOUBLE) AS mean_word_len
  FROM s
)
SELECT
  doc_id, n_words, distinct_ratio, stop_ratio, mean_word_len,
  (n_words BETWEEN 20 AND 1000)
    AND distinct_ratio >= 0.3
    AND stop_ratio >= 0.01
    AND mean_word_len BETWEEN 2.0 AND 12.0 AS keep,
  CASE
    WHEN NOT (n_words BETWEEN 20 AND 1000) THEN 'length'
    WHEN NOT (distinct_ratio >= 0.3) THEN 'repetitive'
    WHEN NOT (stop_ratio >= 0.01) THEN 'no_stopwords'
    WHEN NOT (mean_word_len BETWEEN 2.0 AND 12.0) THEN 'word_length'
    ELSE 'ok'
  END AS reason
FROM m
"""


@register("text_quality_filter", oracle=_QFILTER_ORACLE, tags=("text", "filter"))
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher/C4-style document filter: length bounds, repetition
    (distinct-token ratio), stopword presence, and mean-word-length rules
    folded into a keep decision plus the FIRST failing rule as the drop
    reason — the per-document verdict a corpus-cleaning pass materializes
    alongside the data so drops are auditable.

    Entirely narrow (per-row, zero shuffles, whole-stage codegen): at
    100 TB this runs at scan speed, which is the point — rule filters are
    the cheap first pass before any pairwise dedup. The word array is
    staged in its own projection once and every signal derives from it
    (the measured inline-lambda re-evaluation pitfall)."""
    (docs,) = load(spark, sf_dir, "documents")
    staged = docs.select("doc_id", F.split("text", " ").alias("ws")).withColumn(
        "n_words", F.size("ws").cast("long")
    )
    m = staged.select(
        "doc_id",
        "n_words",
        (F.size(F.array_distinct("ws")).cast("double") / F.col("n_words")).alias(
            "distinct_ratio"
        ),
        (
            F.size(
                F.filter("ws", lambda w: w.isin(*_STOPWORDS))
            ).cast("double")
            / F.col("n_words")
        ).alias("stop_ratio"),
        (
            F.aggregate(
                "ws", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            ).cast("double")
            / F.col("n_words")
        ).alias("mean_word_len"),
    )
    length_ok = F.col("n_words").between(20, 1000)
    distinct_ok = F.col("distinct_ratio") >= 0.3
    stop_ok = F.col("stop_ratio") >= 0.01
    mwl_ok = F.col("mean_word_len").between(2.0, 12.0)
    return m.select(
        "doc_id",
        "n_words",
        "distinct_ratio",
        "stop_ratio",
        "mean_word_len",
        (length_ok & distinct_ok & stop_ok & mwl_ok).alias("keep"),
        F.when(~length_ok, "length")
        .when(~distinct_ok, "repetitive")
        .when(~stop_ok, "no_stopwords")
        .when(~mwl_ok, "word_length")
        .otherwise("ok")
        .alias("reason"),
    )


_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_PAT = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
_PHONE_PAT = r"\+?\d[\d-]{7,}\d"

_PII_ORACLE = rf"""
WITH aug AS (
  SELECT
    doc_id,
    concat(
      text,
      ' Contact user', CAST(doc_id AS VARCHAR), '@example.com or +1-555-',
      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      ' at 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
      CAST((doc_id * 7) % 256 AS VARCHAR), '.'
    ) AS t
  FROM documents
)
SELECT
  doc_id,
  CAST(LEN(regexp_extract_all(t, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
  CAST(LEN(regexp_extract_all(t, '{_IP_PAT}')) AS BIGINT) AS n_ips,
  CAST(LEN(regexp_extract_all(t, '{_PHONE_PAT}')) AS BIGINT) AS n_phones,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(t, '{_EMAIL_PAT}', '[EMAIL]', 'g'),
        '{_IP_PAT}', '[IP]', 'g'),
      '{_PHONE_PAT}', '[PHONE]', 'g')
  ) AS redacted_md5
FROM aug
"""


def pii_redact_projection(docs: DataFrame) -> DataFrame:
    """The PII-scrub projection shared verbatim by the batch query and the
    streaming run (streaming_pii_redact): augment with the deterministic
    contact block, count each pattern, hash the fully-redacted text. Pure
    stateless JVM expressions, so the SAME code path serves both engines'
    execution modes — the declarative-plan promise made concrete."""
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit("."),
        ).alias("t"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_PAT, "[EMAIL]"),
            _IP_PAT,
            "[IP]",
        ),
        _PHONE_PAT,
        "[PHONE]",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_PAT), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_IP_PAT), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_PAT), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register("text_pii_redact", oracle=_PII_ORACLE, tags=("text", "curation"))
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline runs
    before a corpus ships: count and replace emails, IPv4 addresses, and
    phone numbers with typed placeholders.

    The fixture text carries no PII, so each doc is first augmented with a
    deterministic contact block derived from doc_id (both engines build the
    identical string); the oracle then hash-matches the fully-redacted text,
    proving the regex semantics — patterns are kept inside the Java-regex /
    RE2 common subset — and the replacement order (email -> IP -> phone)
    byte-for-byte. Pure JVM regexp projection: zero shuffle, scan speed at
    100 TB. Shared with the real streaming execution (streaming_pii_redact)
    via pii_redact_projection.
    """
    (docs,) = load(spark, sf_dir, "documents")
    return pii_redact_projection(docs)


_LINE_DEDUP_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
ser AS (
  SELECT doc_id, w,
    UNNEST(generate_series(0, CAST(CEIL(LEN(w) / 10.0) AS BIGINT) - 1)) AS line_no
  FROM ws
),
lines AS (
  SELECT doc_id, line_no,
    md5(array_to_string(w[(line_no * 10 + 1):(line_no * 10 + 10)], ' ')) AS lh
  FROM ser
),
rn AS (
  SELECT doc_id, line_no,
    ROW_NUMBER() OVER (PARTITION BY lh ORDER BY doc_id, line_no) AS r
  FROM lines
)
SELECT
  doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept
FROM rn
GROUP BY doc_id
"""


@register("text_line_dedup", oracle=_LINE_DEDUP_ORACLE, tags=("text", "dedup", "curation"))
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide LINE-level exact dedup (the C4/RefinedWeb step that strips
    boilerplate repeated across pages): keep only the first occurrence of
    each line, first = min (doc_id, line_no). The fixture has no newlines,
    so "lines" are deterministic 10-word windows — the chunker is the
    fixture stand-in; the dedup itself is the production shape.

    Scale shape: lines are md5-hashed in the scan-stage projection, so the
    one dedup shuffle carries 32-hex digests, never line text; first-
    occurrence is a row_number window on the digest (same WindowGroupLimit
    family as keep-latest), then one groupBy back to doc grain. The w array
    is materialized in its own projection before the slice loop (measured
    Spark 4 pitfall: inline arrays re-evaluate per lambda call)."""
    (docs,) = load(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    n_chunks = F.ceil(F.size("w") / F.lit(10)).cast("int")
    chunked = ws.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("w", i * 10 + 1, 10), " "),
            )
        ).alias("line_no", "line"),
    )
    hashed = chunked.select(
        "doc_id", F.col("line_no").cast("long").alias("line_no"), F.md5("line").alias("lh")
    )
    w = Window.partitionBy("lh").orderBy("doc_id", "line_no")
    rn = hashed.withColumn("r", F.row_number().over(w))
    return rn.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).cast("long").alias("n_lines_kept"),
    )


# fastText-style hashed linear model: w(token) = first 32 md5 bits of
# ('clf-v1:' + token) recentred to a signed 32-bit integer. A real deployment
# swaps the hash-derived weights for trained ones (same hashing-trick lookup,
# e.g. a CCNet/DSIR-style quality model exported as a weight table); the
# plumbing — per-token weight lookup folded JVM-side with exact integer
# arithmetic — is identical, and hash weights keep the query a pure function
# both engines reproduce bit-for-bit.
_CLF_SCALE = 2147483648  # 2^31: recentre offset and score denominator

_CLF_ORACLE = f"""
WITH t AS (
  SELECT
    doc_id,
    list_transform(
      string_split(lower(text), ' '),
      w -> CAST(concat('0x', substr(md5(concat('clf-v1:', w)), 1, 8)) AS BIGINT)
           - {_CLF_SCALE}
    ) AS ws
  FROM documents
)
SELECT
  doc_id,
  CAST(LEN(ws) AS BIGINT) AS n_tokens,
  CAST(list_aggregate(ws, 'sum') AS BIGINT) AS score_num,
  ROUND(CAST(list_aggregate(ws, 'sum') AS DOUBLE)
        / (CAST(LEN(ws) AS DOUBLE) * {_CLF_SCALE}.0), 6) AS clf_score,
  (list_aggregate(ws, 'sum') >= 0) AS clf_keep
FROM t
"""


@register("text_classifier_score", oracle=_CLF_ORACLE, tags=("text", "curation"))
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality-classifier scoring (the fastText/DSIR filter
    shape): per-token weight via the hashing trick, folded to a per-document
    score, thresholded to a keep/drop label.

    Scale shape: the weight lookup is md5 -> 32-bit int inside a transform()
    lambda and the fold is aggregate() over the token array — all JVM
    built-ins in one scan-stage projection, zero shuffle, no UDF, no model
    broadcast. The score accumulates in exact int64 (sum of signed-int32
    weights can't overflow below ~2^32 tokens/doc), so the keep/drop cut and
    the hash-compare are order-independent; only the final ratio touches
    floating point, after the exact division operands are fixed."""
    (docs,) = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    weights = F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(F.concat(F.lit("clf-v1:"), t)), 1, 8), 16, 10
        ).cast("long")
        - F.lit(_CLF_SCALE).cast("long"),
    )
    score_num = F.aggregate(weights, F.lit(0).cast("long"), lambda acc, x: acc + x)
    n_tokens = F.size(toks).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        score_num.alias("score_num"),
        F.round(
            score_num.cast("double") / (n_tokens.cast("double") * F.lit(float(_CLF_SCALE))), 6
        ).alias("clf_score"),
        (score_num >= 0).alias("clf_keep"),
    )


# Line-dedup REBUILD: the mutation counterpart of text_line_dedup's audit —
# actually emit the cleaned corpus with duplicate lines stripped.
_LINE_REBUILD_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
ser AS (
  SELECT doc_id, w,
    UNNEST(generate_series(0, CAST(CEIL(LEN(w) / 10.0) AS BIGINT) - 1)) AS line_no
  FROM ws
),
lines AS (
  SELECT doc_id, line_no,
    array_to_string(w[(line_no * 10 + 1):(line_no * 10 + 10)], ' ') AS line
  FROM ser
),
rn AS (
  SELECT doc_id, line_no, line,
    ROW_NUMBER() OVER (PARTITION BY md5(line) ORDER BY doc_id, line_no) AS r
  FROM lines
)
SELECT
  doc_id,
  CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
  COALESCE(
    array_to_string(array_agg(line ORDER BY line_no) FILTER (WHERE r = 1), ' '),
    ''
  ) AS cleaned_text
FROM rn
GROUP BY doc_id
"""


@register(
    "text_line_dedup_rebuild",
    oracle=_LINE_REBUILD_ORACLE,
    tags=("text", "dedup", "curation"),
)
def text_line_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup with DOCUMENT RECONSTRUCTION: drop every
    non-first occurrence of each line (same keep rule as text_line_dedup),
    then reassemble each document's surviving lines in original order —
    the step that actually writes the boilerplate-stripped corpus, not
    just the audit counts. Docs whose every line was seen earlier come
    back as empty text (kept as rows: downstream length filters decide).

    Scale shape: the keep decision still rides the digest-keyed window,
    but a rebuild inescapably moves surviving line TEXT once — here inside
    that same single shuffle (line payload alongside its digest), followed
    by one doc-grain groupBy whose collect_list is bounded by document
    size. That one text-carrying shuffle is the floor for any rebuild; the
    audit variant stays digests-only for pipelines that only need counts."""
    (docs,) = load(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    n_chunks = F.ceil(F.size("w") / F.lit(10)).cast("int")
    chunked = ws.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("w", i * 10 + 1, 10), " "),
            )
        ).alias("line_no", "line"),
    )
    w = Window.partitionBy(F.md5("line")).orderBy("doc_id", "line_no")
    rn = chunked.select(
        "doc_id", F.col("line_no").cast("long").alias("line_no"), "line"
    ).withColumn("r", F.row_number().over(w))
    kept_struct = F.when(F.col("r") == 1, F.struct("line_no", "line"))
    return rn.groupBy("doc_id").agg(
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).cast("long").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            " ",
        ).alias("cleaned_text"),
    )


# TF-IDF top terms — the classic per-document salient-term extraction used
# for topic tagging and near-dup explanation. IDF is quantized to integer
# micro-nats before the tf multiply (same determinism trick as langid), so
# every score and the per-doc top-5 ranking are exact integers both engines
# reproduce bit-for-bit.
_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, UNNEST(regexp_extract_all(text, '[a-z0-9]+')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
n AS (
  SELECT COUNT(*) AS n_docs FROM documents
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
    tf.tf * CAST(ROUND(LN(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
                       * 1000000.0) AS BIGINT) AS score_q
  FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
)
SELECT doc_id, token, tf, score_q,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_q DESC, token) AS BIGINT)
    AS term_rank
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_q DESC, token) <= 5
"""


@register("text_tfidf_topterms", oracle=_TFIDF_ORACLE, tags=("text", "curation"))
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document with integer-quantized IDF
    (micro-nats, the langid determinism trick): (doc_id, token, tf,
    score_q, term_rank).

    Scale shape: tf is the standard (doc, token) groupBy (map-side combine
    makes the shuffle distinct-pairs-sized); df aggregates the same
    exploded stream to vocab grain and joins back as a broadcast — the
    fixed-reference-vs-self-trained caveat from text_perplexity_filter
    applies identically (cap the vocab or fall back to a shuffle join
    above ~100M vocab rows). The per-doc top-5 is a rank<=k filter on the
    bare row_number, which plans as WindowGroupLimit — per-partition
    pruning before the doc-grain shuffle."""
    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), F.lit(0))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_q = F.round(
        F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")) * 1_000_000.0
    ).cast("long")
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", "tf", (F.col("tf") * idf_q).alias("score_q"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= 5)
        .select("doc_id", "token", "tf", "score_q", "term_rank")
    )


# Language-ID with CONFIDENCE: same quantized unigram-Bayes scores as
# text_langid, but keeping the top-2 candidates per doc and reporting the
# integer score margin — the CLD-style "reliable?" signal a pipeline
# thresholds before trusting the label (ambiguous docs get routed to a
# heavier model or dropped).
_LANGID_MARGIN_ORACLE = """
WITH wd AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word FROM documents
),
wc AS (
  SELECT doc_id, word, COUNT(*) AS wcnt FROM wd GROUP BY doc_id, word
),
profile AS (
  SELECT lang, word, COUNT(*) AS cnt FROM wd GROUP BY lang, word
),
lang_tot AS (
  SELECT lang, COUNT(*) AS tot FROM wd GROUP BY lang
),
vocab AS (
  SELECT COUNT(DISTINCT word) AS v FROM wd
),
scored AS (
  SELECT
    wc.doc_id,
    lang_tot.lang AS cand_lang,
    CAST(SUM(wc.wcnt * CAST(ROUND(LN(
      (CAST(COALESCE(profile.cnt, 0) + 1 AS DOUBLE))
      / (CAST(lang_tot.tot + vocab.v AS DOUBLE))
    ) * 1000000.0) AS BIGINT)) AS BIGINT) AS score_q
  FROM wc
  CROSS JOIN lang_tot
  CROSS JOIN vocab
  LEFT JOIN profile ON profile.lang = lang_tot.lang AND profile.word = wc.word
  GROUP BY wc.doc_id, lang_tot.lang
),
ranked AS (
  SELECT doc_id, cand_lang, score_q,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_q DESC, cand_lang) AS rn
  FROM scored
)
SELECT
  r1.doc_id,
  r1.cand_lang AS predicted_lang,
  r1.score_q,
  CAST(r1.score_q - r2.score_q AS BIGINT) AS margin_q,
  (r1.score_q - r2.score_q) >= 500000 AS is_reliable
FROM ranked r1
JOIN ranked r2 ON r2.doc_id = r1.doc_id AND r2.rn = 2
WHERE r1.rn = 1
"""


@register("text_langid_margin", oracle=_LANGID_MARGIN_ORACLE, tags=("text", "langid"))
def text_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID with a confidence margin: winner + integer micro-nat gap
    to the runner-up, thresholded (0.5 nats) into an is_reliable flag.
    Same two-fact-shuffle plan as text_langid (shared _langid_scored
    subplan); the rank<=2 prune is a WindowGroupLimit, and the top-2
    self-pair is a doc-grain self-join of an already-tiny (doc, 2-row)
    set."""
    (docs,) = load(spark, sf_dir, "documents")
    scored = _langid_scored(docs)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("cand_lang"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    top1 = ranked.filter(F.col("rn") == 1).select(
        "doc_id", F.col("cand_lang").alias("predicted_lang"), "score_q"
    )
    top2 = ranked.filter(F.col("rn") == 2).select(
        "doc_id", F.col("score_q").alias("score2_q")
    )
    margin = (F.col("score_q") - F.col("score2_q")).cast("long")
    return top1.join(top2, "doc_id").select(
        "doc_id",
        "predicted_lang",
        "score_q",
        margin.alias("margin_q"),
        (margin >= 500_000).alias("is_reliable"),
    )


# Per-source corpus QUALITY REPORT — the rollup a curation team reviews after
# each crawl: per (source, lang) document counts, rule-filter keep rate,
# exact-duplicate exposure, and volume. Composes the text_quality_filter
# rules with the dedup_exact fingerprint grouping in one statement.
_QREPORT_ORACLE = f"""
WITH m AS (
  SELECT doc_id, source, lang,
    MD5(LOWER(text)) AS fp,
    CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
    CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
      / CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
    CAST(LEN(list_filter(string_split(text, ' '), w -> w IN ({_SW_SQL}))) AS DOUBLE)
      / CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
    CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      / CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS mean_word_len
  FROM documents
),
dup AS (
  SELECT fp, COUNT(*) AS copies FROM m GROUP BY fp
),
scored AS (
  SELECT m.source, m.lang, m.n_words, dup.copies,
    ((m.n_words BETWEEN 20 AND 1000)
     AND m.distinct_ratio >= 0.3
     AND m.stop_ratio >= 0.01
     AND (m.mean_word_len BETWEEN 2.0 AND 12.0)) AS keep
  FROM m JOIN dup ON dup.fp = m.fp
)
SELECT source, lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate,
  CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_group,
  CAST(SUM(n_words) AS BIGINT) AS total_words
FROM scored
GROUP BY source, lang
"""


@register("text_corpus_quality_report", oracle=_QREPORT_ORACLE, tags=("text", "curation", "agg"))
def text_corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) curation dashboard: doc counts, Gopher/C4 rule
    keep rate, exact-dup exposure (docs whose fingerprint has >1 copy
    corpus-wide), and token volume — the analytics layer OVER the curation
    operators, in one declarative plan.

    Scale shape: the rule signals are the same zero-shuffle scan
    projections as text_quality_filter; the dup exposure adds one
    digest-keyed groupBy and a digest join (fingerprints, never text);
    the final rollup aggregates to |sources| x |langs| rows with map-side
    combine. Three shuffles total, all digest- or group-keyed."""
    (docs,) = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_words = F.size(ws).cast("long")
    m = docs.select(
        "doc_id", "source", "lang",
        F.md5(F.lower(F.col("text"))).alias("fp"),
        n_words.alias("n_words"),
        (F.size(F.array_distinct(ws)).cast("double") / n_words.cast("double")).alias(
            "distinct_ratio"
        ),
        (
            F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).cast("double")
            / n_words.cast("double")
        ).alias("stop_ratio"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / n_words.cast("double")
        ).alias("mean_word_len"),
    )
    dup = m.groupBy("fp").agg(F.count(F.lit(1)).alias("copies"))
    keep = (
        F.col("n_words").between(20, 1000)
        & (F.col("distinct_ratio") >= 0.3)
        & (F.col("stop_ratio") >= 0.01)
        & F.col("mean_word_len").between(2.0, 12.0)
    )
    scored = m.join(dup, "fp").select(
        "source", "lang", "n_words", "copies", keep.alias("keep")
    )
    return scored.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        F.round(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("keep_rate"),
        F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).cast("long").alias("n_in_dup_group"),
        F.sum("n_words").cast("long").alias("total_words"),
    )


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): the rolling-hash
# document-fingerprinting scheme MOSS uses. Hash every K-word shingle,
# slide a W-hash window over the sequence, keep each window's minimum —
# the selected set is guaranteed to include at least one hash from every
# match of length >= K + W - 1, at ~2/(W+1) of the shingle volume.
_WINNOW_K = 4  # words per shingle
_WINNOW_W = 5  # hashes per winnowing window

_WINNOW_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
g AS (
  SELECT doc_id,
    list_transform(
      range(1, LEN(w) - {_WINNOW_K} + 2),
      i -> CAST(concat('0x',
             substr(md5(array_to_string(w[i:i + {_WINNOW_K} - 1], ' ')), 1, 13)
           ) AS BIGINT)
    ) AS h
  FROM ws
  WHERE LEN(w) >= {_WINNOW_K}
),
m AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, GREATEST(LEN(h) - {_WINNOW_W} + 1, 1) + 1),
      i -> list_aggregate(h[i:i + {_WINNOW_W} - 1], 'min')
    )) AS fps
  FROM g
)
SELECT doc_id, UNNEST(fps) AS fp FROM m
"""


@register("text_winnow_fingerprint", oracle=_WINNOW_ORACLE, tags=("text", "dedup"))
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints: K-word shingle hashes -> sliding-W-window
    minima -> per-document distinct fingerprint set (doc_id, fp).

    Scale shape: the entire selection — shingling, hashing, window minima,
    dedup — is higher-order array math in TWO scan-stage projections,
    zero shuffle, zero UDF; the only post-scan op is the explode.
    Winnowing is embarrassingly parallel per document, and the ~2/(W+1)
    selection density is what makes corpus-wide fingerprint joins
    tractable at 100 TB (vs joining every shingle). Hash = first 52 bits
    of md5, the repo's cross-engine derived-randomness primitive
    (operators/sampling.py:derived_hash).

    Each gram is hashed EXACTLY ONCE into an array column, then every
    window minimum is array_min(slice(h, i, W)) over the materialized
    array. The naive two-projection form of that is O(n²): CollapseProject
    inlines the single-use hash-array expression into every slice() call,
    re-deriving ALL n gram hashes per window (measured 128 s vs 4 s at
    sf0.1). The nondeterministic sentinel column (spark_partition_id,
    dropped unread) blocks the collapse, pinning the n-eval shape: 0.8 s
    vs 2.4 s for the previous W·n least()-of-direct-evals form at sf0.1.
    The plan gate counts md5 occurrences (exactly 1) so an optimizer
    change that re-inlines the array would fail loudly, not silently."""
    (docs,) = load(spark, sf_dir, "documents")
    k, w = _WINNOW_K, _WINNOW_W

    hashed = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (k - 1)),
                lambda j: F.conv(
                    F.substring(
                        F.md5(F.array_join(F.slice(F.col("w"), j, k), " ")), 1, 13
                    ),
                    16,
                    10,
                ).cast("long"),
            ).alias("h"),
            # nondeterministic sentinel: forbids CollapseProject from inlining
            # `h` into the W slice() consumers below (see docstring)
            F.spark_partition_id().alias("_barrier"),
        )
    )
    return hashed.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size("h") - (w - 1), F.lit(1))
                    ),
                    lambda i: F.array_min(F.slice("h", i, w)),
                )
            )
        ).alias("fp"),
    )


# Candidate pairs from shared winnowing fingerprints — the MOSS match step.
# Two documents sharing >= _WINNOW_MIN_SHARED selected fingerprints are
# near-dup/plagiarism candidates. Fingerprints selected from more than
# _WINNOW_MAX_FP_DF documents are boilerplate (licence headers, navigation
# chrome) and are dropped BEFORE the self-join — the same hot-key guard as
# jaccard_similarity_pairs (operators/dedup.py) — so candidate volume stays
# sum-of-df^2 over rare fingerprints, never corpus-quadratic.
_WINNOW_MAX_FP_DF = 20
_WINNOW_MIN_SHARED = 3

_WINNOW_PAIRS_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
g AS (
  SELECT doc_id,
    list_transform(
      range(1, LEN(w) - {_WINNOW_K} + 2),
      i -> CAST(concat('0x',
             substr(md5(array_to_string(w[i:i + {_WINNOW_K} - 1], ' ')), 1, 13)
           ) AS BIGINT)
    ) AS h
  FROM ws
  WHERE LEN(w) >= {_WINNOW_K}
),
fp AS (
  SELECT DISTINCT doc_id, UNNEST(list_distinct(list_transform(
      range(1, GREATEST(LEN(h) - {_WINNOW_W} + 1, 1) + 1),
      i -> list_aggregate(h[i:i + {_WINNOW_W} - 1], 'min')
    ))) AS fp
  FROM g
),
rare AS (
  SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {_WINNOW_MAX_FP_DF}
),
pairs AS (
  SELECT a.doc_id AS doc_lo, b.doc_id AS doc_hi, COUNT(*) AS shared_fps
  FROM fp a
  JOIN rare r ON a.fp = r.fp
  JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_lo, doc_hi, CAST(shared_fps AS BIGINT) AS shared_fps
FROM pairs
WHERE shared_fps >= {_WINNOW_MIN_SHARED}
"""


@register("dedup_winnow_pairs", oracle=_WINNOW_PAIRS_ORACLE, tags=("dedup", "text"))
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints (the MOSS
    match step): docs sharing >= 3 selected fingerprints, boilerplate
    fingerprints (document frequency > 20) dropped before the self-join.

    Scale shape: the fingerprint relation is ~2/(W+1) the shingle volume
    (winnowing's guarantee), the join key is a 52-bit hash (never text),
    and the hot-fingerprint cap bounds candidate fan-out exactly like the
    Jaccard inverted-index cap — per-fingerprint work is df^2 with df <= 20,
    so total candidates are linear in fingerprint volume, not corpus^2."""
    # materialize the (small, post-selection) fingerprint relation once: it
    # feeds three plan legs (df count, pruned a-side, b-side) and winnowing
    # selection is the expensive part — 3x cheaper than re-deriving per leg
    fps = text_winnow_fingerprint(spark, sf_dir).localCheckpoint()
    rare = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _WINNOW_MAX_FP_DF
    )
    pruned = fps.join(rare.select("fp"), "fp")
    a = pruned.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_lo"), F.col("b.doc_id").alias("doc_hi")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _WINNOW_MIN_SHARED)
    )


# Fuzzy near-dup pairs: winnowing candidates re-verified by EDIT DISTANCE —
# the entity-resolution shape (candidate generation by cheap fingerprints,
# expensive exact metric only on candidates). Levenshtein is quadratic in
# string length, so running it on candidate pairs (linear via the winnow
# df cap) instead of all pairs is the difference between feasible and
# corpus-squared at scale.
_LEV_MAX_RATIO = 0.4  # edits <= 40% of the longer text

_LEV_PAIRS_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
g AS (
  SELECT doc_id,
    list_transform(
      range(1, LEN(w) - {_WINNOW_K} + 2),
      i -> CAST(concat('0x',
             substr(md5(array_to_string(w[i:i + {_WINNOW_K} - 1], ' ')), 1, 13)
           ) AS BIGINT)
    ) AS h
  FROM ws
  WHERE LEN(w) >= {_WINNOW_K}
),
fp AS (
  SELECT DISTINCT doc_id, UNNEST(list_distinct(list_transform(
      range(1, GREATEST(LEN(h) - {_WINNOW_W} + 1, 1) + 1),
      i -> list_aggregate(h[i:i + {_WINNOW_W} - 1], 'min')
    ))) AS fp
  FROM g
),
rare AS (
  SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {_WINNOW_MAX_FP_DF}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_lo, b.doc_id AS doc_hi
  FROM fp a
  JOIN rare r ON a.fp = r.fp
  JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_lo, c.doc_hi,
    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
    GREATEST(LENGTH(da.text), LENGTH(db.text)) AS max_len
  FROM cands c
  JOIN documents da ON da.doc_id = c.doc_lo
  JOIN documents db ON db.doc_id = c.doc_hi
)
SELECT doc_lo, doc_hi, edit_dist,
  ROUND(CAST(edit_dist AS DOUBLE) / max_len, 4) AS edit_ratio
FROM verified
WHERE CAST(edit_dist AS DOUBLE) / max_len <= {_LEV_MAX_RATIO}
"""


@register("dedup_levenshtein_pairs", oracle=_LEV_PAIRS_ORACLE, tags=("dedup", "text"))
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs: winnowing fingerprints generate candidates
    (shared rare fingerprint), edit distance verifies — pairs whose
    normalized Levenshtein ratio is <= 0.4. Both engines implement the
    standard Wagner-Fischer distance, so the verdict is deterministic.

    Scale shape: the O(len^2)-per-pair Levenshtein runs ONLY on winnow
    candidates (bounded by the fingerprint df cap), never corpus x corpus;
    text joins into the verify stage by doc id, so the candidate shuffle
    itself moves only id pairs."""
    (docs,) = load(spark, sf_dir, "documents")
    # materialize the fingerprint relation once for its three join legs
    # (same reasoning as dedup_winnow_pairs)
    fps = text_winnow_fingerprint(spark, sf_dir).localCheckpoint()
    rare = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _WINNOW_MAX_FP_DF
    )
    pruned = fps.join(rare.select("fp"), "fp")
    cands = (
        pruned.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_lo"), F.col("b.doc_id").alias("doc_hi"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc_lo"), F.col("text").alias("text_a"))
    db = docs.select(F.col("doc_id").alias("doc_hi"), F.col("text").alias("text_b"))
    # length-difference lower bound: levenshtein >= |len_a - len_b|, so a
    # pair whose length gap already exceeds the ratio threshold cannot
    # qualify — pruned BEFORE the O(len^2) DP runs (cuts the verify cost
    # without changing a single output row)
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    len_gap = F.abs(F.length("text_a") - F.length("text_b"))
    verified = (
        cands.join(da, "doc_lo")
        .join(db, "doc_hi")
        .filter(len_gap.cast("double") <= F.lit(_LEV_MAX_RATIO) * max_len)
        # the candidate relation is bytes-tiny but CPU-heavy (len^2 DP per
        # row), so AQE's size-based coalescing serializes it onto one task;
        # spread the DP across the cluster explicitly before computing it
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_lo",
            "doc_hi",
            F.levenshtein("text_a", "text_b").cast("long").alias("edit_dist"),
            max_len.alias("max_len"),
        )
        # materialize the DP output: the ratio filter + both output columns
        # reference edit_dist, and predicate pushdown would otherwise inline
        # the levenshtein call into each consumer — re-running the O(len^2)
        # DP up to 3x per pair (the CollapseProject pitfall again, in
        # filter-pushdown form)
        .localCheckpoint()
    )
    ratio = F.col("edit_dist").cast("double") / F.col("max_len")
    return verified.filter(ratio <= _LEV_MAX_RATIO).select(
        "doc_lo", "doc_hi", "edit_dist", F.round(ratio, 4).alias("edit_ratio")
    )


# Collocation mining: adjacent-bigram PMI (pointwise mutual information)
# — which word pairs co-occur far above chance. The statistic behind
# phrase detection (word2vec's phrase pass, tokenizer merge heuristics).
# PMI is quantized to integer micro-nats (the langid trick) so the
# ranking cut is bit-deterministic cross-engine.
_PMI_MIN_COUNT = 30

_PMI_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
uni AS (
  SELECT UNNEST(w) AS tok FROM ws
),
ucnt AS (
  SELECT tok, COUNT(*) AS n FROM uni GROUP BY tok
),
utot AS (SELECT SUM(n) AS t FROM ucnt),
bi AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM ws, UNNEST(range(1, LEN(w))) AS r(i)
),
bcnt AS (
  SELECT w1, w2, COUNT(*) AS n FROM bi GROUP BY w1, w2
),
btot AS (SELECT SUM(n) AS t FROM bcnt)
SELECT
  b.w1, b.w2,
  CAST(b.n AS BIGINT) AS pair_count,
  CAST(ROUND(LN(
    (CAST(b.n AS DOUBLE) / CAST(btot.t AS DOUBLE))
    / ((CAST(u1.n AS DOUBLE) / CAST(utot.t AS DOUBLE))
       * (CAST(u2.n AS DOUBLE) / CAST(utot.t AS DOUBLE)))
  ) * 1000000.0) AS BIGINT) AS pmi_q
FROM bcnt b
JOIN ucnt u1 ON b.w1 = u1.tok
JOIN ucnt u2 ON b.w2 = u2.tok
CROSS JOIN utot CROSS JOIN btot
WHERE b.n >= {_PMI_MIN_COUNT}
"""


@register("text_collocations_pmi", oracle=_PMI_ORACLE, tags=("text",))
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram collocations by PMI: bigram probability against the
    product of unigram probabilities, quantized to integer micro-nats,
    reported for pairs above the minimum count.

    Scale shape: bigrams explode linearly in token volume (adjacent pairs
    only, never within-document pairs); unigram counts broadcast back into
    the vocab-grain bigram relation; the two corpus totals are single-row
    broadcasts. All shuffles are vocab-grain, not corpus-grain."""
    (docs,) = load(spark, sf_dir, "documents")
    ws = docs.select(F.split(F.lower("text"), " ").alias("w"))
    uni = ws.select(F.explode("w").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    utot = ucnt.agg(F.sum("n").alias("t"))
    bi = ws.select(
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] as w1, w[i] as w2))")
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
    btot = bcnt.agg(F.sum("pair_count").alias("bt"))
    u1 = ucnt.select(F.col("tok").alias("w1"), F.col("n").alias("n1"))
    u2 = ucnt.select(F.col("tok").alias("w2"), F.col("n").alias("n2"))
    joined = (
        bcnt.filter(F.col("pair_count") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
    )
    pmi = F.round(
        F.log(
            (F.col("pair_count").cast("double") / F.col("bt").cast("double"))
            / (
                (F.col("n1").cast("double") / F.col("t").cast("double"))
                * (F.col("n2").cast("double") / F.col("t").cast("double"))
            )
        )
        * 1000000.0
    ).cast("long")
    return joined.select("w1", "w2", "pair_count", pmi.alias("pmi_q"))


_LANGID_CONFUSION_ORACLE = """
WITH wd AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS word FROM documents
),
wc AS (
  SELECT doc_id, word, COUNT(*) AS wcnt FROM wd GROUP BY doc_id, word
),
profile AS (
  SELECT lang, word, COUNT(*) AS cnt FROM wd GROUP BY lang, word
),
lang_tot AS (
  SELECT lang, COUNT(*) AS tot FROM wd GROUP BY lang
),
vocab AS (
  SELECT COUNT(DISTINCT word) AS v FROM wd
),
scored AS (
  SELECT
    wc.doc_id,
    lang_tot.lang AS cand_lang,
    CAST(SUM(wc.wcnt * CAST(ROUND(LN(
      (CAST(COALESCE(profile.cnt, 0) + 1 AS DOUBLE))
      / (CAST(lang_tot.tot + vocab.v AS DOUBLE))
    ) * 1000000.0) AS BIGINT)) AS BIGINT) AS score_q
  FROM wc
  CROSS JOIN lang_tot
  CROSS JOIN vocab
  LEFT JOIN profile ON profile.lang = lang_tot.lang AND profile.word = wc.word
  GROUP BY wc.doc_id, lang_tot.lang
),
pred AS (
  SELECT doc_id, cand_lang AS predicted_lang
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_q DESC, cand_lang) AS rn
    FROM scored
  )
  WHERE rn = 1
),
cm AS (
  SELECT d.lang AS true_lang, p.predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY d.lang, p.predicted_lang
),
tot AS (
  SELECT true_lang, CAST(SUM(n_docs) AS BIGINT) AS n_true FROM cm GROUP BY true_lang
)
SELECT cm.true_lang, cm.predicted_lang, cm.n_docs,
       CAST(10000 * cm.n_docs // tot.n_true AS BIGINT) AS row_share_bp,
       cm.true_lang = cm.predicted_lang AS is_correct
FROM cm JOIN tot ON cm.true_lang = tot.true_lang
"""


@register("text_langid_confusion", oracle=_LANGID_CONFUSION_ORACLE, tags=("text", "langid", "eval"))
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation harness for the langid classifier: the confusion
    matrix of predicted vs labeled language, with per-true-language row
    shares in basis points — the accuracy readout a curation pipeline
    publishes before trusting a classifier's keep/drop decisions.

    Reuses the SAME scoring subplan as text_langid/text_langid_margin
    (``_langid_scored``), so the three queries stay provably consistent;
    the evaluation adds one doc-grain join back to the labels and two
    lang-grain aggregates (|langs|^2 matrix rows at most — trivially small
    at any corpus size)."""
    (docs,) = load(spark, sf_dir, "documents")
    scored = _langid_scored(docs)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("cand_lang"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("predicted_lang"))
    )
    cm = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = cm.groupBy("true_lang").agg(F.sum("n_docs").cast("long").alias("n_true"))
    return cm.join(F.broadcast(tot), "true_lang").select(
        "true_lang",
        "predicted_lang",
        "n_docs",
        F.expr("CAST(10000 * n_docs div n_true AS BIGINT)").alias("row_share_bp"),
        (F.col("true_lang") == F.col("predicted_lang")).alias("is_correct"),
    )


# BM25 (Robertson k1=1.2, b=0.75): lexical ranked retrieval over the corpus
# for a fixed query set — the sparse complement to the dense-cosine RAG path.
# Per-term scores are quantized to integer micro-units BEFORE the per-doc
# sum (the langid trick), so ranking is bit-deterministic across engines and
# partitionings; idf/tf-norm doubles are assembled from exact integer counts
# with identical expression trees on both engines.
_BM25_QUERIES = [("q1", "spark"), ("q1", "join"), ("q2", "vector"), ("q2", "stream"), ("q3", "hash"), ("q3", "merge")]
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_ORACLE = f"""
WITH qt(query_id, term) AS (
  VALUES {", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)}
),
dl AS (
  SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_len FROM dl
),
tf AS (
  SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
  WHERE w IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, w
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
term_scores AS (
  SELECT
    qt.query_id, tf.doc_id,
    CAST(ROUND(
      LN(((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
          / (CAST(df.df AS DOUBLE) + 0.5)) + 1.0)
      * ((CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
         / (CAST(tf.tf AS DOUBLE)
            + {_BM25_K1} * ((1.0 - {_BM25_B})
               + {_BM25_B} * ((CAST(dl.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE))
                               / CAST(s.tot_len AS DOUBLE)))))
      * 1000000.0) AS BIGINT) AS term_score_q
  FROM qt
  JOIN tf ON tf.term = qt.term
  JOIN df ON df.term = qt.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id, CAST(SUM(term_score_q) AS BIGINT) AS score_q
  FROM term_scores GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score_q, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rn
  FROM scored
)
WHERE rn <= 10
"""


@register("text_bm25_topk", oracle=_BM25_ORACLE, tags=("text", "retrieval"))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query: the lexical ranked-retrieval scorer
    (k1=1.2, b=0.75) complementing the dense-cosine kNN path — together
    they are the hybrid-retrieval pair a RAG stack runs.

    Scale shape: the corpus term stream is FILTERED TO QUERY TERMS before
    any aggregation (the posting-list read — term stats shuffle at matched
    volume, not corpus volume); df and corpus stats are term-/1-row frames
    that broadcast back; per-term partial scores quantize to integer
    micro-units BEFORE the (query, doc) sum, so the ranking is order- and
    partitioning-independent; rank<=10 plans as WindowGroupLimit."""
    (docs,) = load(spark, sf_dir, "documents")
    k1, b = _BM25_K1, _BM25_B
    qt = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    terms = sorted({t for _, t in _BM25_QUERIES})
    dl = docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_len"),
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        (
            (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        + F.lit(1.0)
    )
    tfnorm = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b)
            * (
                (F.col("dl").cast("double") * F.col("n_docs").cast("double"))
                / F.col("tot_len").cast("double")
            )
        )
    )
    term_scores = (
        F.broadcast(qt)
        .join(tf, "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(idf * tfnorm * F.lit(1000000.0)).cast("long").alias("term_score_q"),
        )
    )
    scored = term_scores.groupBy("query_id", "doc_id").agg(
        F.sum("term_score_q").cast("long").alias("score_q")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "doc_id", "score_q", F.col("rn").cast("long").alias("rank"))
    )


_ZIPF_ORACLE = """
WITH wc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS rank
  FROM wc ORDER BY freq DESC, w LIMIT 1000
),
pts AS (
  SELECT
    CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
    CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
  FROM ranked
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(x * x) AS HUGEINT) AS sxx,
    CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(y * y) AS HUGEINT) AS syy,
    CAST(SUM(x * y) AS HUGEINT) AS sxy
  FROM pts
)
SELECT n AS n_words,
  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS zipf_slope,
  ROUND(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS r2
FROM m
"""


@register("text_zipf_slope", oracle=_ZIPF_ORACLE, tags=("text", "stats"))
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope of log(freq) on log(rank)
    over the top-1000 vocabulary — the power-law health check of a text
    corpus (natural text sits near slope -1; synthetic or boilerplate-
    heavy corpora deviate, which makes this a curation diagnostic).

    Scale shape: vocab-grain count (the only text-volume shuffle), global
    top-1000 cut as TakeOrderedAndProject (never a full sort), log points
    quantized to integer micro-nats BEFORE the moment sums (decimal-exact
    at any partitioning — same machinery as agg_regression_trend), one-row
    double assembly identical in both engines. The rank window runs over
    the 1000-row cut only."""
    (docs,) = load(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = wc.orderBy(F.desc("freq"), F.asc("w")).limit(1000)
    wr = Window.orderBy(F.desc("freq"), F.asc("w"))
    pts = top.withColumn("rank", F.row_number().over(wr)).select(
        F.round(F.log(F.col("rank").cast("double")) * 1000000.0)
        .cast("long")
        .cast("decimal(38,0)")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * 1000000.0)
        .cast("long")
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") - sxd * syd / nd
    var_x = F.col("sxx").cast("double") - sxd * sxd / nd
    var_y = F.col("syy").cast("double") - syd * syd / nd
    return m.select(
        F.col("n").alias("n_words"),
        F.round(cov / var_x, 6).alias("zipf_slope"),
        F.round(cov * cov / (var_x * var_y), 6).alias("r2"),
    )


# Bigram language-model scoring (r5): the KenLM-shaped upgrade of the
# unigram perplexity filter — fluency under a 2-gram LM with add-one
# smoothing, P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V). Per-bigram log-probs
# quantize to integer micro-nats BEFORE the per-doc sum (the langid
# determinism trick), so the cross-entropy total — and therefore the hash —
# is identical at any partitioning. The LM here trains on the corpus
# itself; production swaps in counts from a trusted reference corpus
# (fixed, bounded vocab -> profile broadcasts), identical join topology.
_BIGRAM_LM_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT doc_id,
    w[i] AS w1, w[i + 1] AS w2
  FROM ws, UNNEST(RANGE(1, LEN(w))) AS t(i)
),
dbc AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bg GROUP BY doc_id, w1, w2
),
bprof AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
),
uprof AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY w1
),
vocab AS (
  SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v
  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
)
SELECT
  dbc.doc_id,
  CAST(SUM(dbc.cnt) AS BIGINT) AS n_bigrams,
  CAST(-SUM(dbc.cnt * CAST(ROUND(LN(
    CAST(bprof.c2 + 1 AS DOUBLE) / CAST(uprof.c1 + vocab.v AS DOUBLE)
  ) * 1000000.0) AS BIGINT)) AS BIGINT) AS xent_q,
  CAST(-SUM(dbc.cnt * CAST(ROUND(LN(
    CAST(bprof.c2 + 1 AS DOUBLE) / CAST(uprof.c1 + vocab.v AS DOUBLE)
  ) * 1000000.0) AS BIGINT)) // SUM(dbc.cnt) AS BIGINT) AS mean_xent_q
FROM dbc
JOIN bprof ON bprof.w1 = dbc.w1 AND bprof.w2 = dbc.w2
JOIN uprof ON uprof.w1 = dbc.w1
CROSS JOIN vocab
GROUP BY dbc.doc_id
"""


@register("text_bigram_lm_score", oracle=_BIGRAM_LM_ORACLE, tags=("text", "curation"))
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluency scoring under a corpus-trained BIGRAM LM with add-one
    smoothing — the KenLM-shaped step up from `text_perplexity_filter`'s
    unigram model: word-order scrambles that a unigram LM scores identically
    rank as disfluent here. Output is per-document cross-entropy in exact
    integer micro-nats plus its per-bigram mean (integer division), the
    quantity a CCNet-style pipeline thresholds or terciles on.

    Scale shape: the fact side collapses to per-(doc, bigram) counts before
    any join, so the joins move count rows, never text. The bigram profile
    is vocab²-bounded (here corpus-trained, so the (w1,w2) equi-join runs as
    a shuffle join; the production fixed-reference-LM variant is
    broadcast-size by construction — same guard discipline as
    `text_perplexity_filter`). Single-word docs emit no bigram rows and are
    excluded (no sequence to score), matching the oracle's empty RANGE."""
    (docs,) = load(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("w"))
    bigram_struct = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.struct(
                F.element_at("w", i).alias("w1"),
                F.element_at("w", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = ws.select("doc_id", F.explode(bigram_struct).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    dbc = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    # r14 (VERDICT r13 #1): both profiles aggregate DIRECTLY over the bigram
    # stream again. Deriving them from the per-(doc, w1, w2) counts was
    # value-identical but fused nothing at runtime (independently-pruned
    # legs, no exchange reuse) and moved their exchanges from profile grain
    # ((w1, w2) / (w1)) to per-doc grain — strictly more shuffled bytes at
    # scale. Direct aggregation lets map-side partial aggregation collapse
    # the stream before each shuffle (see _langid_scored). The r13
    # profile-checkpoint treatment also remains rejected (+55% A/B: the
    # concurrent explode legs carry no per-token hash work, so the
    # checkpoint job costs more than the re-runs it removes).
    bprof = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")).withColumnsRenamed(
        {"w1": "p_w1", "w2": "p_w2"}
    )
    uprof = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1")).withColumnRenamed(
        "w1", "u_w1"
    )
    vocab = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).agg(F.countDistinct("word").alias("v"))
    q = F.round(
        F.log(
            (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")
        )
        * 1000000.0
    ).cast("long")
    scored = (
        dbc.join(bprof, (dbc.w1 == F.col("p_w1")) & (dbc.w2 == F.col("p_w2")))
        .join(uprof, dbc.w1 == F.col("u_w1"))
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "cnt", q.alias("q"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        (-F.sum(F.col("cnt") * F.col("q"))).cast("long").alias("xent_q"),
        F.expr("CAST(-SUM(cnt * q) div SUM(cnt) AS BIGINT)").alias("mean_xent_q"),
    )


# N-gram novelty attribution (r5): "how much NEW text does each document
# add, given everything ingested before it" — the temporal complement of
# dedup_exact_substring's global duplication audit, and the signal behind
# crawl-increment valuation (a dump whose novelty curve collapses isn't
# worth processing). A distinct 8-gram is NOVEL in the earliest doc_id
# that contains it (ingestion order) and repeated everywhere later.
_NOVELTY_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
wins AS (
  SELECT DISTINCT doc_id,
    array_to_string(list_slice(w, i, i + 7), ' ') AS win
  FROM ws, UNNEST(RANGE(1, LEN(w) - 6)) AS t(i)
  WHERE LEN(w) >= 8
),
first_seen AS (
  SELECT win, MIN(doc_id) AS first_doc FROM wins GROUP BY win
)
SELECT
  w.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_ngrams,
  CAST(SUM(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
  CAST(10000 * SUM(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END) // COUNT(*)
       AS BIGINT) AS novelty_bp
FROM wins w JOIN first_seen f ON w.win = f.win
GROUP BY w.doc_id
"""


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE, tags=("text", "dedup"))
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty under ingestion order (doc_id): the
    fraction of a doc's distinct 8-grams whose FIRST corpus occurrence is
    this doc. Novelty near 10000 bp = genuinely new content; near 0 =
    the document restates what the corpus already holds — the
    keep/skip economics of incremental crawls, at n-gram resolution.

    Scale shape: windows are a zero-shuffle array projection md5'd
    scan-side (the shuffles move digests); first-occurrence attribution is
    one digest-grain MIN — no self-join, no pair generation, linear in
    token volume. Same window machinery as ``dedup_exact_substring``
    (K=8 here) with MIN-attribution instead of a global count."""
    (docs,) = load(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("w"))
    win_arr = F.when(
        F.size("w") >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 7),
                lambda i: F.md5(F.concat_ws(" ", F.slice("w", i, 8))),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = ws.select("doc_id", F.explode(win_arr).alias("dig"))
    first_seen = wins.groupBy("dig").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        wins.join(first_seen, "dig")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_ngrams"),
            novel.alias("n_novel"),
            F.expr(
                "CAST(10000 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " div COUNT(*) AS BIGINT)"
            ).alias("novelty_bp"),
        )
    )
