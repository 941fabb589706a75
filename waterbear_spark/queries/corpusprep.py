"""Training-corpus preparation operators: context-window sequence
packing and language-balanced resampling.

These are the steps between a cleaned corpus and a training run: packing
documents into fixed-token-budget sequences (concat-and-chunk, the
standard pretraining batch prep) and rebalancing the language mix with a
deterministic, reproducible sample. Both are pure Catalyst — windows and
aggregates, no UDFs — and both carry exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import (
    SHINGLES_SQL,
    TOKENS_SQL,
    _SIG_SQL,
    _bands_sql,
    _doc_tokens,
    _lsh_bands,
    _shingle_sets,
    _signatures,
    _tokens,
)
from waterbear_spark.queries.tables import davg, oracle_davg, table

_PACK_BUDGET = 512  # tokens per packed training sequence


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end
    per source (deterministic doc_id order) and every document is
    assigned to the ``_PACK_BUDGET``-token bin its first token lands in —
    the packing layout GPT-style pretraining uses to fill context
    windows without padding. Output: per (source, bin) document and
    token counts, i.e. the packing manifest a loader would consume.

    Scale: one shuffle on ``source``, a running sum within each source
    partition, then a bounded aggregate. At 100 TB the packing domain
    key becomes (source, shard) so no single window sees unbounded rows;
    the layout stays byte-deterministic because order is (doc_id), not
    arrival. No pair space, no Python.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(_tokens(F.col("text"))).alias("tok_n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.withColumn(
        "bin",
        F.floor((F.sum("tok_n").over(w) - F.col("tok_n")) / F.lit(float(_PACK_BUDGET))).cast(
            "long"
        ),
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_n").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "bin")
    )


SEQUENCE_PACKING_SQL = f"""
WITH tok AS (
    SELECT doc_id, source, len({TOKENS_SQL}) AS tok_n FROM documents
),
laid AS (
    SELECT source, doc_id, tok_n,
           SUM(tok_n) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM tok
)
SELECT source,
       CAST(FLOOR((cum - tok_n) / {float(_PACK_BUDGET)}) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(tok_n) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc
FROM laid
GROUP BY source, bin
ORDER BY source, bin
"""


def lang_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling: every language is cut to the
    smallest language's document count, membership chosen by md5(doc_id)
    rank — a reproducible, engine-independent lottery (the same trick as
    [[deterministic_split]]). Output: per language, corpus count before,
    kept count, and the sum of kept doc_ids — the checksum pins the
    exact membership, so the oracle certifies WHICH documents were kept,
    not just how many.

    Scale: ranking is one shuffle on ``lang`` (a bounded-cardinality
    key); the per-lang floor is a broadcast 1-row scalar. Rows never
    collect; the md5 rank makes the sample stable under any partitioning
    or cluster size.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    per_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    floor_n = per_lang.agg(F.min("n_before").alias("n_keep"))

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn("rn", F.row_number().over(w)).crossJoin(
        F.broadcast(floor_n)
    )
    kept = ranked.filter(F.col("rn") <= F.col("n_keep")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("kept_checksum"),
    )
    return (
        per_lang.join(kept, "lang")
        .select("lang", "n_before", "n_kept", "kept_checksum")
        .orderBy("lang")
    )


LANG_BALANCE_SQL = """
WITH per_lang AS (
    SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY lang
),
floor_n AS (SELECT MIN(n_before) AS n_keep FROM per_lang),
ranked AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
    FROM documents
)
SELECT p.lang,
       p.n_before,
       COUNT(*) AS n_kept,
       CAST(SUM(r.doc_id) AS BIGINT) AS kept_checksum
FROM ranked r
JOIN per_lang p ON p.lang = r.lang
CROSS JOIN floor_n f
WHERE r.rn <= f.n_keep
GROUP BY p.lang, p.n_before
ORDER BY p.lang
"""


_LM_BOTTOM_K = 20
_PMI_MIN_COUNT = 5
_PMI_TOP_K = 20
_MIX_BUDGET_FRAC = 2  # budget = total_tokens DIV 2
_INC_MOD = 7  # doc_id % 7 == 0 -> "incoming" batch, else "base" corpus


def lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: fit a unigram language model on
    the corpus itself (token -> ln(count/total)) and score every document
    by its mean token log-probability — the cheap statistical stand-in
    for model-based quality filters, used to surface the least
    language-like documents. Output: the bottom-``_LM_BOTTOM_K`` docs.

    Determinism: per-token log-probs are floor-scaled to integer
    micro-nats (``floor(ln(p) * 1e6)``) so the per-doc sum is exact
    integer arithmetic; the only float steps are one ln (same libm result
    in both engines) and one final division. Ranking ties break by
    doc_id.

    Scale: the exploded token stream is pre-aggregated to distinct
    ``(doc_id, t, n)`` BEFORE anything joins it — the logprob join then
    carries each (doc, token) pair once instead of at full occurrence
    multiplicity, which is what kept the 10x-data ratio superlinear when
    repetition grows with corpus size. The vocabulary aggregate derives
    from the same pre-aggregated relation (sum of n, combinable
    map-side), and the vocab side of the join is MBs at any scale so AQE
    demotes it to broadcast. The per-doc sum is exact integer arithmetic
    either way (sum over occurrences == sum of n * lp_micro), so hashes
    are unchanged. No pair space, no Python.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    tok_cnt = (
        docs.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = tok_cnt.groupBy("t").agg(F.sum("n").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    scored = (
        tok_cnt.join(logp, "t")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lp_micro")).alias("lp_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("lp_sum").cast("double")
                / (F.col("n_tokens").cast("double") * F.lit(1000000.0)),
                4,
            ).alias("avg_logp"),
        )
    )
    return scored.orderBy("avg_logp", "doc_id").limit(_LM_BOTTOM_K)


LM_QUALITY_SCORE_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS t FROM documents
),
vocab AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
total AS (SELECT SUM(cnt) AS total FROM vocab),
logp AS (
    SELECT t,
           CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS lp_micro
    FROM vocab CROSS JOIN total
),
scored AS (
    SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp_micro) AS lp_sum
    FROM tok JOIN logp USING (t)
    GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(CAST(lp_sum AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * 1000000.0), 4) AS avg_logp
FROM scored
ORDER BY avg_logp, doc_id
LIMIT {_LM_BOTTOM_K}
"""


def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top word pairs by pointwise mutual information
    (min support ``_PMI_MIN_COUNT``) — the classic signal for
    tokenizer-vocabulary candidates and boilerplate phrase detection.
    ``pmi = ln(p(xy) / (p(x) p(y)))`` with unigram probabilities from the
    token stream and bigram probabilities from adjacent pairs.

    Determinism: counts are exact integers; the single float expression
    is written with the identical operand order in both engines, so the
    IEEE result (and hence the ranking) is bit-equal.

    Scale: bigram extraction is row-local (``arrays_zip`` of the token
    array with its shift — no self-join); both count domains are
    vocabulary-sized; the two probability joins are word-keyed
    equi-joins, broadcastable at any corpus size.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    tok = docs.select(F.explode("toks").alias("t"))
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    n_uni = uni.agg(F.sum("cnt").alias("nu"))
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                F.slice(F.col("toks"), 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cxy"))
    n_big = big.agg(F.sum("cxy").alias("nb"))
    pmi = (
        big.filter(F.col("cxy") >= _PMI_MIN_COUNT)
        .join(uni.select(F.col("t").alias("w1"), F.col("cnt").alias("cx")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("cnt").alias("cy")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "cxy",
            F.round(
                F.log(
                    (
                        F.col("cxy").cast("double")
                        * F.col("nu").cast("double")
                        * F.col("nu").cast("double")
                    )
                    / (
                        F.col("nb").cast("double")
                        * F.col("cx").cast("double")
                        * F.col("cy").cast("double")
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.col("pmi").desc(), "w1", "w2").limit(_PMI_TOP_K)


BIGRAM_PMI_SQL = f"""
WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
tok AS (SELECT unnest(toks) AS t FROM toks),
uni AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
n_uni AS (SELECT SUM(cnt) AS nu FROM uni),
pairs AS (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                  i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS bg
    FROM toks
),
big AS (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS cxy
        FROM pairs GROUP BY 1, 2),
n_big AS (SELECT SUM(cxy) AS nb FROM big)
SELECT w1, w2, cxy,
       ROUND(ln((CAST(cxy AS DOUBLE) * CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE))
                / (CAST(nb AS DOUBLE) * CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))),
             4) AS pmi
FROM big
JOIN uni u1 ON u1.t = big.w1
JOIN uni u2 ON u2.t = big.w2
CROSS JOIN n_uni CROSS JOIN n_big
, LATERAL (SELECT u1.cnt AS cx, u2.cnt AS cy) _x
WHERE cxy >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2
LIMIT {_PMI_TOP_K}
"""


def mixing_water_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing: allocate a training-token budget (half the
    corpus) across sources by *water-filling* — small sources are taken
    whole, large sources are capped at a common level L chosen so the
    allocations exactly exhaust the budget's integer part. This is the
    standard way to flatten a source mix without upsampling. Closed form,
    no iteration: sort sources by size; the level is fixed by the first
    source whose full inclusion would overshoot.

    Scale: everything after the per-source token count (one combinable
    aggregate over the corpus) operates on a sources-cardinality frame —
    single-digit rows at any data size; the window and scalar joins are
    free.

    Determinism: pure integer arithmetic (DIV, LEAST) end to end.
    """
    docs = table(spark, sf_dir, "documents").select(
        "source", F.size(_tokens(F.col("text"))).alias("tok_n")
    )
    per_src = docs.groupBy("source").agg(
        F.sum("tok_n").cast("bigint").alias("n_tokens")
    )
    budget = per_src.agg(
        F.expr(f"sum(n_tokens) div {_MIX_BUDGET_FRAC}").alias("budget"),
        F.count(F.lit(1)).alias("k"),
    )
    w = Window.orderBy("n_tokens", "source")
    laid = (
        per_src.crossJoin(F.broadcast(budget))
        .withColumn("idx", F.row_number().over(w))
        .withColumn(
            "cum_prev",
            F.coalesce(
                F.sum("n_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("k_rem", F.col("k") - F.col("idx") + 1)
    )
    # first source (smallest-first) whose level-capped tail meets the
    # budget fixes the water level; if none does, the budget covers all
    level_row = (
        laid.filter(
            F.col("cum_prev") + F.col("n_tokens") * F.col("k_rem")
            >= F.col("budget")
        )
        .orderBy("idx")
        .limit(1)
        .select(
            F.expr("(budget - cum_prev) div k_rem").alias("level")
        )
    )
    return (
        laid.crossJoin(F.broadcast(level_row))
        .select(
            "source",
            "n_tokens",
            F.least(F.col("n_tokens"), F.col("level")).alias("alloc_tokens"),
            "level",
            "budget",
        )
        .orderBy("source")
    )


MIXING_WATER_FILL_SQL = f"""
WITH per_src AS (
    SELECT source, CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
scalars AS (
    SELECT CAST(SUM(n_tokens) // {_MIX_BUDGET_FRAC} AS BIGINT) AS budget,
           COUNT(*) AS k
    FROM per_src
),
laid AS (
    SELECT source, n_tokens, budget, k,
           ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS idx,
           COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev
    FROM per_src CROSS JOIN scalars
),
level_row AS (
    SELECT CAST((budget - cum_prev) // (k - idx + 1) AS BIGINT) AS level
    FROM laid
    WHERE cum_prev + n_tokens * (k - idx + 1) >= budget
    ORDER BY idx LIMIT 1
)
SELECT source, n_tokens,
       CAST(LEAST(n_tokens, level) AS BIGINT) AS alloc_tokens,
       level, budget
FROM laid CROSS JOIN level_row
ORDER BY source
"""


def incremental_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: dedupe an incoming batch (every
    ``_INC_MOD``-th doc plays the role of today's crawl) against the
    standing corpus — exact-first (content digest anti-join), then
    near-dup (MinHash band keys semi-joined against the base corpus's
    bands, same banding as [[dedup_near_minhash]]). This is the
    production shape of dedup: the pair space is *batch x corpus*, never
    corpus x corpus, and the corpus side reduces to digests + band keys.

    Output: one census row — batch size, exact drops, near drops, kept
    docs, and a kept-membership checksum.

    Scale: the base corpus contributes only 16-byte digests and band
    keys (both precomputable and storable as an index table); joins are
    all equi-joins keyed on digest/band. At 100 TB the digest/band index
    is what you persist between ingests — the text is never rescanned.
    """
    # digest + shingle + MinHash compute is CPU-dense; _doc_tokens widens
    # the scan to cluster width before it (AQE_PROBE_r11 family: 1.7x at
    # the bench scale; no-op on production-width scans)
    docs = _doc_tokens(spark, sf_dir, F.md5("text").alias("digest"))
    is_inc = F.col("doc_id") % _INC_MOD == 0
    incoming = docs.filter(is_inc)
    base = docs.filter(~is_inc)

    def bands_of(frame: DataFrame) -> DataFrame:
        return _lsh_bands(_signatures(_shingle_sets(frame)))

    base_digests = base.select("digest").distinct()
    after_exact = incoming.join(base_digests, "digest", "left_anti")

    near_hit_ids = (
        bands_of(after_exact)
        .join(bands_of(base), ["band", "bkey"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    kept = after_exact.join(near_hit_ids, "doc_id", "left_anti")

    n_incoming = incoming.agg(F.count(F.lit(1)).alias("n_incoming"))
    n_after_exact = after_exact.agg(F.count(F.lit(1)).alias("n_after_exact"))
    kept_stats = kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("kept_checksum"),
    )
    return (
        n_incoming.crossJoin(n_after_exact)
        .crossJoin(kept_stats)
        .select(
            "n_incoming",
            (F.col("n_incoming") - F.col("n_after_exact")).alias(
                "n_exact_dropped"
            ),
            (F.col("n_after_exact") - F.col("n_kept")).alias("n_near_dropped"),
            "n_kept",
            "kept_checksum",
        )
    )


INCREMENTAL_DEDUP_SQL = f"""
WITH docs AS (
    SELECT doc_id, md5(text) AS digest, {TOKENS_SQL} AS toks FROM documents
),
incoming AS (SELECT * FROM docs WHERE doc_id % {_INC_MOD} = 0),
base AS (SELECT * FROM docs WHERE doc_id % {_INC_MOD} <> 0),
after_exact AS (
    SELECT * FROM incoming
    WHERE digest NOT IN (SELECT digest FROM base)
),
inc_sig AS (
    SELECT doc_id,
           {_SIG_SQL}
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM after_exact WHERE len(toks) >= 3)
),
base_sig AS (
    SELECT doc_id,
           {_SIG_SQL}
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM base WHERE len(toks) >= 3)
),
inc_bands AS (
    {_bands_sql('inc_sig')}
),
base_bands AS (
    {_bands_sql('base_sig')}
),
near_hits AS (
    SELECT DISTINCT i.doc_id
    FROM inc_bands i JOIN base_bands b
      ON i.band = b.band AND i.bkey = b.bkey
),
kept AS (
    SELECT * FROM after_exact
    WHERE doc_id NOT IN (SELECT doc_id FROM near_hits)
)
SELECT
    (SELECT COUNT(*) FROM incoming) AS n_incoming,
    (SELECT COUNT(*) FROM incoming) - (SELECT COUNT(*) FROM after_exact)
        AS n_exact_dropped,
    (SELECT COUNT(*) FROM after_exact) - (SELECT COUNT(*) FROM kept)
        AS n_near_dropped,
    (SELECT COUNT(*) FROM kept) AS n_kept,
    (SELECT CAST(SUM(doc_id) AS BIGINT) FROM kept) AS kept_checksum
"""


_VOCAB_K = 500  # tokenizer vocabulary budget for the OOV-coverage metric


def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit metric: freeze the top-``_VOCAB_K`` corpus tokens as
    the vocabulary (ties broken lexicographically, the deterministic
    version of a BPE vocab cut) and measure each source's out-of-vocab
    token share — the number that tells you which ingest stream a fixed
    tokenizer will shred into bytes. Rates in exact basis points.

    Scale: vocabulary = one combinable token count + top-k
    (TakeOrderedAndProject); membership is a broadcast semi-join of the
    token stream against K rows; per-source shares are one aggregate.
    """
    docs = table(spark, sf_dir, "documents").select(
        "source", _tokens(F.col("text")).alias("toks")
    )
    tok = docs.select("source", F.explode("toks").alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "t")
        .limit(_VOCAB_K)
        .select("t")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "t", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_v").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 10000 div n_tokens").alias("oov_bps"),
        )
        .orderBy("source")
    )


OOV_RATE_SQL = f"""
WITH tok AS (
    SELECT source, unnest({TOKENS_SQL}) AS t FROM documents
),
vocab AS (
    SELECT t FROM (
        SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
        ORDER BY cnt DESC, t LIMIT {_VOCAB_K}
    )
)
SELECT source,
       COUNT(*) AS n_tokens,
       COUNT(CASE WHEN v.t IS NULL THEN 1 END) AS n_oov,
       CAST(COUNT(CASE WHEN v.t IS NULL THEN 1 END) * 10000
            // COUNT(*) AS BIGINT) AS oov_bps
FROM tok LEFT JOIN vocab v USING (t)
GROUP BY source
ORDER BY source
"""


_QN_BUCKETS = 10


def quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the per-source document-length
    distributions: every source's lengths are mapped decile-for-decile
    onto the POOLED corpus distribution (each source's decile d is
    replaced by the pooled decile-d mean) — the batch-effect removal
    trick from bioinformatics, used in corpus prep to compare quality
    signals across sources with wildly different length profiles.
    Output: per (source, decile) count, raw mean, and normalized value.

    Scale: NTILE windows (pooled AND per-source) would funnel the table
    through 1 / |sources| partitions forever, so both tilings run
    through ``operators/ntile.py bucketed_ntile`` — two-pass bucketed
    order statistics that sort only boundary-holding value-buckets and
    assign tiles by broadcast comparison. The naive windows remain the
    oracle; the decile means are exact decimal sums.
    """
    from waterbear_spark.operators.ntile import ntile_bounds, ntile_tile_expr

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # the two tilings are INDEPENDENT dimensions of the same relation
    # (the rfm_segments r11 pattern): nesting whole bucketed_ntile calls
    # re-evaluated the inner tiling inside all three subtrees of the
    # outer. Compute both boundary relations as parallel subtrees and
    # attach both tiles in one projection — identical tile values, the
    # boundary math never reads the other dimension's column.
    b_src = ntile_bounds(
        docs, "n_chars", "doc_id", _QN_BUCKETS,
        part_cols=["source"], width=64.0, bnds_col="__b_s",
    )
    b_pool = ntile_bounds(
        docs, "n_chars", "doc_id", _QN_BUCKETS, width=64.0, bnds_col="__b_p"
    )
    # persisted: the pooled and per-source aggregates below would each
    # re-derive docs plus all four boundary subtrees otherwise (the
    # plan showed the whole tiling duplicated per consumer)
    tiled = scope.persist(
        docs.join(F.broadcast(b_src), ["source"], "left")
        .crossJoin(F.broadcast(b_pool))
        .withColumn("src_decile", ntile_tile_expr("__b_s", "n_chars", "doc_id"))
        .withColumn("pool_decile", ntile_tile_expr("__b_p", "n_chars", "doc_id"))
        .select("source", "n_chars", "src_decile", "pool_decile")
    )
    pooled = (
        tiled.groupBy("pool_decile")
        .agg(davg(F.col("n_chars"), "pool_mean", scale=4))
        .withColumnRenamed("pool_decile", "decile")
    )
    per_src = tiled.groupBy("source", F.col("src_decile").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(F.col("n_chars"), "raw_mean", scale=4),
    )
    return (
        per_src.join(F.broadcast(pooled), "decile")
        .select("source", "decile", "n_docs", "raw_mean",
                F.col("pool_mean").alias("normalized"))
        .orderBy("source", "decile")
    )


QUANTILE_NORMALIZE_SQL = f"""
WITH tiled AS (
    SELECT source, n_chars,
           NTILE({_QN_BUCKETS}) OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS src_decile,
           NTILE({_QN_BUCKETS}) OVER (ORDER BY n_chars, doc_id) AS pool_decile
    FROM documents
),
pooled AS (
    SELECT pool_decile AS decile, {oracle_davg("n_chars", "pool_mean", 4)}
    FROM tiled GROUP BY pool_decile
),
per_src AS (
    SELECT source, src_decile AS decile, COUNT(*) AS n_docs,
           {oracle_davg("n_chars", "raw_mean", 4)}
    FROM tiled GROUP BY source, src_decile
)
SELECT source, decile, n_docs, raw_mean, pool_mean AS normalized
FROM per_src JOIN pooled USING (decile)
ORDER BY source, decile
"""


_SENT_MIN_CHARS = 20  # C4 dedups spans long enough to be meaningful


def sentence_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sentence-level exact dedup: every document is split into
    sentences, and each distinct (normalized) sentence of at least
    ``_SENT_MIN_CHARS`` characters survives exactly ONCE corpus-wide —
    in its first occurrence by (doc_id, position), every later repeat is
    dropped. That is the line-dedup step of the C4 pipeline (boilerplate
    killer: nav text, disclaimers, repeated footers). Output: per-doc
    sentence census (total, kept, drop rate in basis points) — the
    manifest a rewrite pass would consume.

    Scale: sentences shuffle by their 128-bit MD5, never by text — the
    shuffle key is 16 bytes regardless of sentence length, and the
    first-occurrence window reads each group once. One shuffle on the
    digest, one shuffle back on doc_id for the census. No pair space;
    boilerplate hot keys (the same disclaimer a billion times) salt
    naturally because only (doc_id, pos) pairs ride the shuffle, not
    the sentence bodies.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    sent = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\.")).alias("pos", "raw"),
    ).select("doc_id", "pos", F.lower(F.trim(F.col("raw"))).alias("s"))
    sent = sent.filter(F.length("s") >= _SENT_MIN_CHARS).select(
        "doc_id", "pos", F.md5(F.col("s")).alias("key")
    )
    w = Window.partitionBy("key").orderBy("doc_id", "pos")
    flagged = sent.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sent"),
            F.sum("keep").alias("n_kept"),
            F.expr(
                "(count(1) - sum(keep)) * 10000 div count(1)"
            ).alias("drop_bps"),
        )
        .orderBy("doc_id")
    )


SENTENCE_DEDUP_SQL = f"""
WITH sent AS (
    SELECT doc_id,
           CAST(generate_subscripts(s, 1) AS INTEGER) AS pos,
           lower(trim(unnest(s))) AS sentence
    FROM (SELECT doc_id, string_split(text, '.') AS s FROM documents)
),
keyed AS (
    SELECT doc_id, pos, md5(sentence) AS key
    FROM sent WHERE length(sentence) >= {_SENT_MIN_CHARS}
),
flagged AS (
    SELECT doc_id,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY key
                                        ORDER BY doc_id, pos) = 1
                THEN 1 ELSE 0 END AS keep
    FROM keyed
)
SELECT doc_id,
       COUNT(*) AS n_sent,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST((COUNT(*) - SUM(keep)) * 10000 // COUNT(*) AS BIGINT)
           AS drop_bps
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


_SPAN_K = 10  # tokens per window: the dedup granularity


def dup_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring census at ``_SPAN_K``-token
    granularity — the window-digest form of Lee et al. 2021's
    "Deduplicating Training Data Makes Language Models Better"
    substring dedup: every overlapping k-token window is digested, a
    window is *duplicated* if its digest occurs in more than one
    document, and per doc we report how many of its windows are
    duplicated plus the LONGEST consecutive duplicated run (run + k - 1
    = the longest exactly-shared token span). This is the measure that
    motivates suffix-array dedup; at fixed k the windowed form is
    map-reduce-able and exact.

    Scale: digests are row-local (one transform over the token array —
    no explode before hashing); the only corpus-sized shuffle keys on
    the 128-bit digest (16 bytes/window, never the text). Cross-doc
    detection is min(doc)!=max(doc) — combinable, cheaper than a
    distinct count — and the run-length pass is a per-doc
    gaps-and-islands window ([[key_islands]] pattern). Inherent cost:
    ~1 digest per corpus token, which is what exact substring dedup
    costs anywhere.
    """
    # _doc_tokens widens the scan before the per-window digesting: one
    # md5 per corpus token otherwise runs inside the 1-split scan stage
    # (measured 2.2 s of this query's 2.1-3.5 s at sf0.1 on one task);
    # no-op on production-width scans
    arr = _doc_tokens(spark, sf_dir).filter(F.size("toks") >= _SPAN_K)
    # binary digests (16 bytes vs 32-char hex — bijective, so the digest
    # census groups identically); persisted, because the plan otherwise
    # re-derives the one-md5-per-corpus-token pass once per consumer
    # (shared census, run-length semi join, per-doc totals = 3 scans)
    wins = scope.persist(arr.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - _SPAN_K + 1),
                lambda i: F.unhex(
                    F.md5(F.array_join(F.slice(F.col("toks"), i, _SPAN_K), " "))
                ),
            )
        ).alias("pos", "dig"),
    ))
    shared = (
        wins.groupBy("dig")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("dig")
    )
    marked = wins.join(shared, "dig", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        marked.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("doc_id")
        .agg(
            F.sum("run").alias("n_dup"),
            F.max("run").alias("longest_run"),
        )
    )
    totals = wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    return (
        totals.join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.when(
                F.col("longest_run").isNotNull(),
                F.col("longest_run") + _SPAN_K - 1,
            )
            .otherwise(0)
            .alias("longest_span_tokens"),
            F.expr("coalesce(n_dup, 0) * 10000 div n_windows").alias(
                "dup_bps"
            ),
        )
        .orderBy("doc_id")
    )


DUP_SPAN_CENSUS_SQL = f"""
WITH arr AS (
    SELECT doc_id, {TOKENS_SQL} AS t FROM documents
    WHERE len({TOKENS_SQL}) >= {_SPAN_K}
),
wins AS (
    SELECT doc_id,
           CAST(generate_subscripts(digs, 1) AS INTEGER) AS pos,
           unnest(digs) AS dig
    FROM (
        SELECT doc_id,
               list_transform(range(1, len(t) - {_SPAN_K} + 2),
                   i -> md5(array_to_string(
                       list_slice(t, CAST(i AS INTEGER),
                                  CAST(i AS INTEGER) + {_SPAN_K} - 1), ' ')))
                   AS digs
        FROM arr
    )
),
shared AS (
    SELECT dig FROM wins GROUP BY dig HAVING MIN(doc_id) <> MAX(doc_id)
),
marked AS (
    SELECT w.doc_id, w.pos FROM wins w SEMI JOIN shared s ON w.dig = s.dig
),
runs AS (
    SELECT doc_id, grp, COUNT(*) AS run
    FROM (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM marked
    ) GROUP BY doc_id, grp
),
per_doc_runs AS (
    SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_dup,
           CAST(MAX(run) AS BIGINT) AS longest_run
    FROM runs GROUP BY doc_id
),
totals AS (
    SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY doc_id
)
SELECT t.doc_id, t.n_windows,
       COALESCE(r.n_dup, 0) AS n_dup,
       CASE WHEN r.longest_run IS NOT NULL
            THEN r.longest_run + {_SPAN_K} - 1 ELSE 0 END
           AS longest_span_tokens,
       CAST(COALESCE(r.n_dup, 0) * 10000 // t.n_windows AS BIGINT)
           AS dup_bps
FROM totals t LEFT JOIN per_doc_runs r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


_BPE_TOP = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: frequency of every
    adjacent character pair, weighted by word frequency — the statistic
    whose argmax becomes merge rule #1. Run over the corpus word-freq
    table (not raw text), exactly how BPE trainers amortize: a word seen
    f times contributes f to each of its pairs. Output: the
    ``_BPE_TOP`` most frequent pairs (tie-broken by pair) with their
    weighted counts and context-position counts.

    Scale: the word-freq aggregate is the only corpus-sized shuffle
    (combinable, key = word); pair expansion is a map-side transform
    over the *vocabulary*, which is sublinear in corpus size (Heaps'
    law), and the final aggregate runs on |pairs| <= |alphabet|^2 keys.
    This is why real BPE trainers survive trillion-token corpora.
    """
    docs = table(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(_tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    pairs = freq.select(
        "f",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substr(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("f").alias("n"),
            F.count(F.lit(1)).alias("n_contexts"),
        )
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP)
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH words AS (
    SELECT unnest({TOKENS_SQL}) AS w FROM documents
),
freq AS (
    SELECT w, COUNT(*) AS f FROM words WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
    SELECT unnest(list_transform(range(1, length(w)),
                  i -> substring(w, CAST(i AS INTEGER), 2))) AS pair,
           f
    FROM freq
)
SELECT pair, CAST(SUM(f) AS BIGINT) AS n, COUNT(*) AS n_contexts
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_TOP}
"""


def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights, τ = 2 (exponent 1/2):
    w_i = sqrt(m_i) / Σ_j sqrt(m_j) over per-source corpus mass — the
    standard multilingual/multi-source rebalance (upweight the tail
    without drowning the head; cf. multilingual LM sampling). Exponent
    1/2 is chosen deliberately: sqrt is IEEE-correctly-rounded on both
    engines (a general pow() is libm-dependent and NOT cross-engine
    stable), and the denominator folds in pinned source order, so the
    weights hash-match exactly.

    Scale: one combinable aggregate to |sources| rows; the denominator
    is a 1-row broadcast scalar. Nothing beyond the scan touches corpus
    size.
    """
    docs = table(spark, sf_dir, "documents").select("source", "n_chars")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("mass"),
    )
    dim = src.withColumn("sq", F.sqrt(F.col("mass").cast("double")))
    denom = dim.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "sq"))),
            F.lit(0.0),
            lambda acc, x: acc + x["sq"],
        ).alias("denom")
    )
    return (
        dim.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "mass",
            F.round(F.col("sq") / F.col("denom") * 10000, 2).alias(
                "weight_bps"
            ),
        )
        .orderBy("source")
    )


TEMPERATURE_MIX_SQL = """
WITH src AS (
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS mass
    FROM documents GROUP BY source
),
d AS (
    SELECT source, n_docs, mass, SQRT(CAST(mass AS DOUBLE)) AS sq FROM src
),
denom AS (
    SELECT list_aggregate(list(sq ORDER BY source), 'sum') AS denom FROM d
)
SELECT source, n_docs, mass,
       ROUND(sq / denom * 10000, 2) AS weight_bps
FROM d CROSS JOIN denom
ORDER BY source
"""


def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token frequencies: OLS of
    ``ln(freq)`` on ``ln(rank)`` across the vocabulary — the slope
    (ideally near -1) is the standard sanity check that a corpus (or a
    synthetic one) has natural-language frequency structure, and a kink
    in it flags template/boilerplate contamination.

    Determinism: ranks and counts are exact integers; the four float
    moment sums (Σx, Σy, Σxx, Σxy over the log pairs) each fold in rank
    order via ``F.aggregate`` over the rank-sorted array — DuckDB's
    ``list_reduce`` over ``list(... ORDER BY rank)`` performs the
    bit-identical fold — and the closing OLS formula is one identical
    expression chain.

    Scale: the fold runs over the VOCABULARY (Heaps-law sublinear, and
    cappable at top-K ranks without changing the estimator's character),
    not the corpus; the heavy work is the map-side-combinable token
    count. The rank window runs on the vocab micro-relation.
    """
    toks = table(spark, sf_dir, "documents").select(
        F.explode(_tokens(F.col("text"))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), "term")
    ranked = vocab.select(F.row_number().over(w).alias("rank"), "n")
    pts = ranked.select(
        "rank",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    sums = pts.select(
        F.struct("rank", "x", "y").alias("p"),
        (F.col("x") * F.col("x")).alias("xx"),
        (F.col("x") * F.col("y")).alias("xy"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.aggregate(
            F.array_sort(F.collect_list("p")), F.lit(0.0), lambda a, p: a + p["x"]
        ).alias("sx"),
        F.aggregate(
            F.array_sort(F.collect_list("p")), F.lit(0.0), lambda a, p: a + p["y"]
        ).alias("sy"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("p.rank", "xx"))),
            F.lit(0.0),
            lambda a, p: a + p["xx"],
        ).alias("sxx"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("p.rank", "xy"))),
            F.lit(0.0),
            lambda a, p: a + p["xy"],
        ).alias("sxy"),
    )
    slope = (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    # OLS needs two points; the guard also keeps the ANSI division-by-
    # zero path unreachable on an empty corpus
    return sums.filter(F.col("cnt") >= 2).select(
        F.col("cnt").cast("bigint").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("cnt"), 4).alias(
            "intercept"
        ),
    )


ZIPF_FIT_SQL = f"""
WITH toks AS (
    SELECT unnest({TOKENS_SQL}) AS term FROM documents
),
vocab AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
pts AS (
    SELECT ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank,
           LN(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS DOUBLE)) AS x,
           LN(CAST(n AS DOUBLE)) AS y
    FROM vocab
),
sums AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS cnt,
           list_reduce(list_prepend(0.0, list(x ORDER BY rank)),
                       (a, v) -> a + v) AS sx,
           list_reduce(list_prepend(0.0, list(y ORDER BY rank)),
                       (a, v) -> a + v) AS sy,
           list_reduce(list_prepend(0.0, list(x * x ORDER BY rank)),
                       (a, v) -> a + v) AS sxx,
           list_reduce(list_prepend(0.0, list(x * y ORDER BY rank)),
                       (a, v) -> a + v) AS sxy
    FROM pts
)
SELECT CAST(cnt AS BIGINT) AS n_terms,
       ROUND((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx), 4) AS zipf_slope,
       ROUND((sy - (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx) * sx) / cnt, 4)
           AS intercept
FROM sums
WHERE cnt >= 2
"""


QUERIES = {
    "sequence_packing": sequence_packing,
    "zipf_fit_tokens": zipf_fit_tokens,
    "sentence_dedup_c4": sentence_dedup_c4,
    "bpe_pair_counts": bpe_pair_counts,
    "dup_span_census": dup_span_census,
    "temperature_mix_weights": temperature_mix_weights,
    "lang_balance_resample": lang_balance_resample,
    "lm_quality_score": lm_quality_score,
    "bigram_pmi": bigram_pmi,
    "mixing_water_fill": mixing_water_fill,
    "incremental_dedup_merge": incremental_dedup_merge,
    "oov_rate_by_source": oov_rate_by_source,
    "quantile_normalize_lengths": quantile_normalize_lengths,
}

ORACLES = {
    "sequence_packing": SEQUENCE_PACKING_SQL,
    "zipf_fit_tokens": ZIPF_FIT_SQL,
    "sentence_dedup_c4": SENTENCE_DEDUP_SQL,
    "bpe_pair_counts": BPE_PAIR_COUNTS_SQL,
    "dup_span_census": DUP_SPAN_CENSUS_SQL,
    "temperature_mix_weights": TEMPERATURE_MIX_SQL,
    "lang_balance_resample": LANG_BALANCE_SQL,
    "lm_quality_score": LM_QUALITY_SCORE_SQL,
    "bigram_pmi": BIGRAM_PMI_SQL,
    "mixing_water_fill": MIXING_WATER_FILL_SQL,
    "incremental_dedup_merge": INCREMENTAL_DEDUP_SQL,
    "oov_rate_by_source": OOV_RATE_SQL,
    "quantile_normalize_lengths": QUANTILE_NORMALIZE_SQL,
}
