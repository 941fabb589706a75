"""Text-analysis operators: SimHash near-dup, n-gram Jaccard, language ID,
token counting, document fingerprinting (SURVEY.md §2b "text analysis" /
"dedup" families).

SimHash and the fingerprint use generated SQL shared between engines via
small dialect substitutions (hex->int cast, shifts, xor), so the oracle is
structurally the same computation; everything is integer/string arithmetic
— bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import SHINGLES_SQL, TOKENS_SQL, _fan_out, _tokens
from waterbear_spark.queries.tables import table

# SHINGLES_SQL in llm.py is written against a CTE column named `toks`
SHINGLES_FROM_TOKS_SQL = SHINGLES_SQL

SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 15 bits per band
SIMHASH_BAND_BITS = 15
SIMHASH_MAX_HAMMING = 3

_DUCK_DIALECT = {
    "HEX2INT": "CAST(('0x' || substr(md5({x}), 1, 15)) AS UBIGINT)::BIGINT",
    "SHL1": "(CAST(1 AS BIGINT) << {b})",
    "XOR": "xor({a}, {b})",
    "TOKENS": TOKENS_SQL,
}


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (60-bit sketch over 3-word shingles,
    4x15-bit LSH bands, Hamming <= 3).

    Classic SimHash (Charikar 2002; web-scale near-dup per Manku et al.
    2007): per document, sum +1/-1 per bit over feature hashes; the sign
    vector is the sketch. Band width follows the pigeonhole bound: <=3
    differing bits across 4 bands always leave one band untouched (full
    recall at the threshold) while 15-bit keys keep spurious candidates
    at ~n^2/2^15 per band.

    Features are 3-word shingles, not unigrams: with a small vocabulary,
    unigram sketches degenerate (every doc shares most words, everything
    collides); word order carried by the shingle keeps sketches apart.

    Scale: the whole sketch is computed **row-locally** — shingle array ->
    hash array (one md5 per shingle) -> 60 bit-sum folds -> one long.
    Nothing explodes and nothing shuffles until the 4-rows-per-doc band
    exchange. (An earlier explode-based variant was O(shingles^2) per doc
    because Generate re-evaluates its child expression per emitted row —
    see the bench history.) The tiny sketch frame is persisted because
    bands + both verify sides reuse it.
    """
    from waterbear_spark.queries.llm import _shingles

    # widen BEFORE tokenizing: a projection built under the repartition
    # exchange runs inside the 1-split scan stage (see dedup_near_minhash)
    docs = _fan_out(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", _tokens(F.col("text")).alias("raw"))
    shingled = docs.filter(F.size("raw") >= 3).select(
        "doc_id", F.array_distinct(_shingles(F.col("raw"))).alias("toks")
    )
    hashed = shingled.select(
        "doc_id",
        F.expr(
            "transform(toks, s -> CAST(CONV(SUBSTR(md5(s), 1, 15), 16, 10) AS BIGINT))"
        ).alias("hs"),
    )
    bits = hashed.select(
        "doc_id",
        *[
            F.expr(
                f"aggregate(hs, 0L, (acc, h) -> acc + ((h >> {b}) & 1) * 2 - 1)"
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    sketch = scope.persist(bits.select(
        "doc_id",
        sum(
            [
                F.expr(
                    f"CASE WHEN b{b} > 0 THEN SHIFTLEFT(CAST(1 AS BIGINT), {b})"
                    f" ELSE CAST(0 AS BIGINT) END"
                )
                for b in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("bigint"),
        ).alias("simhash"),
    ))

    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.expr(f"(simhash >> {SIMHASH_BAND_BITS * k}) & {mask}").alias("bkey"),
            )
            for k in range(SIMHASH_BANDS)
        ]
    )
    bands = sketch.select("doc_id", F.explode(band_entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    hamming = F.expr("CAST(bit_count(sa_hash ^ sb_hash) AS INT)")
    return (
        cand.join(
            sketch.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa_hash")),
            "doc_a",
        )
        .join(
            sketch.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb_hash")),
            "doc_b",
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


def _simhash_oracle_sql() -> str:
    hex2int = _DUCK_DIALECT["HEX2INT"].format(x="s")
    bit_sums = ",\n           ".join(
        f"list_sum(list_transform(hs, h -> ((h >> {b}) & 1) * 2 - 1)) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    sketch = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {_DUCK_DIALECT['SHL1'].format(b=b)} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS band,"
        f" (simhash >> {SIMHASH_BAND_BITS * k}) & {mask} AS bkey FROM sh"
        for k in range(SIMHASH_BANDS)
    )
    return f"""
WITH tokraw AS (SELECT doc_id, {_DUCK_DIALECT['TOKENS']} AS toks FROM documents),
doc_tokens AS (
    SELECT doc_id, list_distinct({SHINGLES_FROM_TOKS_SQL}) AS toks
    FROM tokraw WHERE len(toks) >= 3
),
hashed AS (SELECT doc_id, list_transform(toks, s -> {hex2int}) AS hs FROM doc_tokens),
bits AS (
    SELECT doc_id,
           {bit_sums}
    FROM hashed
),
sh AS (SELECT doc_id, {sketch} AS simhash FROM bits),
bands AS ({bands}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
FROM cand
JOIN sh sa ON sa.doc_id = cand.doc_a
JOIN sh sb ON sb.doc_id = cand.doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


SIMHASH_SQL = _simhash_oracle_sql()


LANG_PROFILES = {
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "en"),
    "fr": ("le", "la", "de", "et", "les", "est"),
}


def lang_scores(toks) -> dict:
    """Per-language stopword hit counts over a token-array column —
    the shared scoring core of [[lang_id]] and the metadata-mismatch
    census."""

    def hits(words):
        # closure, not a default-arg lambda (which would capture the HOF
        # index column instead of the word list)
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    return {lang: hits(words) for lang, words in LANG_PROFILES.items()}


def predicted_lang(toks):
    """Argmax language with alphabetical tie-break; 'und' when no
    profile hits."""
    scores = lang_scores(toks)
    best = F.greatest(*scores.values())
    predicted = F.when(best <= 0, F.lit("und"))
    for lang in sorted(LANG_PROFILES):  # alphabetical priority on ties
        predicted = predicted.when(scores[lang] == best, F.lit(lang))
    return predicted


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID from stopword-profile hit counts, argmax with
    alphabetical tie-break. A real deployment swaps the profiles for
    char-n-gram models; the operator shape (per-row scoring in codegen,
    no shuffle) is the point.
    """
    docs = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    scores = lang_scores(toks)
    return (
        docs.select(
            "doc_id",
            "lang",
            predicted_lang(toks).alias("predicted_lang"),
            *[scores[lang].cast("int").alias(f"score_{lang}") for lang in sorted(LANG_PROFILES)],
        )
        .orderBy("doc_id")
    )


_LANG_PROFILES_SQL = {
    "de": "('der','die','und','das','ist','nicht')",
    "en": "('the','a','of','and','to','is')",
    "es": "('el','la','de','que','y','en')",
    "fr": "('le','la','de','et','les','est')",
}

_SCORE_EXPRS = {
    lang: f"len(list_filter(toks, t -> t IN {words}))"
    for lang, words in _LANG_PROFILES_SQL.items()
}

# CASE fragment over a `toks` column — the SQL twin of predicted_lang()
PREDICTED_LANG_SQL = (
    f"CASE WHEN greatest({', '.join(_SCORE_EXPRS.values())}) <= 0 THEN 'und' "
    + " ".join(
        f"WHEN {_SCORE_EXPRS[lang]} = greatest({', '.join(_SCORE_EXPRS.values())})"
        f" THEN '{lang}'"
        for lang in sorted(_LANG_PROFILES_SQL)
    )
    + " END"
)

LANG_ID_SQL = f"""
WITH tok AS (SELECT doc_id, lang, {TOKENS_SQL} AS toks FROM documents)
SELECT doc_id, lang,
       CASE WHEN greatest({', '.join(_SCORE_EXPRS.values())}) <= 0 THEN 'und'
            {' '.join(f"WHEN {_SCORE_EXPRS[lang]} = greatest({', '.join(_SCORE_EXPRS.values())}) THEN '{lang}'" for lang in sorted(_LANG_PROFILES_SQL))}
       END AS predicted_lang,
       {', '.join(f"CAST({_SCORE_EXPRS[lang]} AS INTEGER) AS score_{lang}" for lang in sorted(_LANG_PROFILES_SQL))}
FROM tok
ORDER BY doc_id
"""

_BPE_ISH = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per document: whitespace tokens, BPE-ish regex
    tokens (letter runs / digit runs / single punctuation — the classic
    pre-tokenizer shape), characters. Pure codegen, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.size(_tokens(F.col("text"))).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_ISH)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id")


TOKEN_COUNTING_SQL = f"""
SELECT doc_id, lang,
       CAST(len({TOKENS_SQL}) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_ISH}')) AS INTEGER) AS n_bpe_tokens,
       LENGTH(text) AS n_chars_actual
FROM documents
ORDER BY doc_id
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint (cf. Schleimer et al., SIGMOD 2003):
    md5 over all sliding char-8-grams, keep the 3 smallest digests as the
    document's fingerprint. Equal fingerprints => near-identical content;
    robust to global shifts. Row-local (arrays never leave the row)."""
    docs = _fan_out(
        spark, table(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.md5(F.col("text").substr(i, F.lit(8))),
    )
    fp = F.concat_ws("", F.slice(F.sort_array(grams), 1, 3))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
    ).orderBy("doc_id")


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       array_to_string(list_sort(list_transform(
           generate_series(1, length(text) - 7),
           i -> md5(substr(text, i, 8))))[1:3], '') AS fingerprint
FROM documents
WHERE length(text) >= 8
ORDER BY doc_id
"""


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: the 20 most frequent tokens with counts —
    the frequency scan behind tokenizer/vocab training and stopword
    derivation. One explode + one count aggregation; map-side partial
    aggregation collapses the (tiny-vocab) key space before the shuffle.
    """
    docs = table(spark, sf_dir, "documents").select(
        _tokens(F.col("text")).alias("toks")
    )
    return (
        docs.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(20)
    )


VOCAB_TOP_TERMS_SQL = f"""
WITH tok AS (
    SELECT {TOKENS_SQL} AS toks FROM documents
)
SELECT term, COUNT(*) AS n
FROM (SELECT unnest(toks) AS term FROM tok)
GROUP BY term
ORDER BY n DESC, term
LIMIT 20
"""


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity quality filter: per document,
    the type/token ratio and the share of the most frequent bigram, plus
    a keep/drop verdict (min length, diversity floor, repetition cap) —
    the fraction-of-duplicate-n-grams rule family from the Gopher paper
    (Rae et al. 2021, §A.1.1), adapted to single-line documents.

    Scale: entirely row-local higher-order array functions in codegen —
    no shuffle, no Python. The bigram mode is O(distinct²) per row,
    bounded by document length; the whole filter streams through the
    scan at wire speed.
    """
    docs = _fan_out(spark, table(spark, sf_dir, "documents"))
    docs = docs.select("doc_id", _tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    docs = docs.withColumn("bgs", bigrams)
    n = F.size("toks")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("bgs"),
            lambda b: F.size(F.filter(F.col("bgs"), lambda x: x == b)),
        )
    )
    distinct_ratio = F.size(F.array_distinct("toks")).cast("double") / n
    top_frac = top_cnt.cast("double") / F.size("bgs")
    keep = (n >= 30) & (distinct_ratio > 0.4) & (top_frac < 0.05)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(top_frac, 4).alias("top_bigram_frac"),
        keep.alias("keep"),
    ).orderBy("doc_id")


REPETITION_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
big AS (
    SELECT doc_id, toks,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1]) AS bgs
    FROM tok WHERE len(toks) >= 2
),
sig AS (
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
           CAST(list_max(list_transform(list_distinct(bgs),
                    b -> len(list_filter(bgs, x -> x = b)))) AS DOUBLE)
               / len(bgs) AS top_bigram_frac
    FROM big
)
SELECT doc_id, n_tokens,
       ROUND(distinct_ratio, 4) AS distinct_ratio,
       ROUND(top_bigram_frac, 4) AS top_bigram_frac,
       (n_tokens >= 30 AND distinct_ratio > 0.4 AND top_bigram_frac < 0.05)
           AS keep
FROM sig
ORDER BY doc_id
"""


_EMAIL_PAT = "[a-z0-9]+@[a-z][a-z.]*[a-z]"
_IP_PAT = r"\d+\.\d+\.\d+\.\d+"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for a training corpus: scan for email / IPv4
    patterns and redact them with typed placeholders, reporting match
    counts and a post-redaction content signature. The corpus has no
    real PII, so deterministic PII is first injected into a known
    subset of rows (doc_id ≡ 0 mod 3 → email, ≡ 0 mod 5 → IP) — the
    redactor must find exactly those.

    Scale: regexp_count + regexp_replace are per-row codegen; a real
    deployment swaps the pattern list, not the plan shape.
    """
    docs = _fan_out(spark, table(spark, sf_dir, "documents"))
    with_email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact bob"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
        ),
    ).otherwise(F.col("text"))
    aug = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            with_email,
            F.lit(" from 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ),
    ).otherwise(with_email)
    docs = docs.withColumn("aug", aug)
    clean = F.regexp_replace(
        F.regexp_replace("aug", _EMAIL_PAT, "<EMAIL>"), _IP_PAT, "<IP>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count("aug", F.lit(_EMAIL_PAT)).alias("n_emails"),
        F.regexp_count("aug", F.lit(_IP_PAT)).alias("n_ips"),
        F.length(clean).alias("clean_len"),
        F.substring(F.md5(clean.cast("binary")), 1, 16).alias("clean_sig"),
    ).orderBy("doc_id")


PII_SQL = f"""
WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN base || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                ELSE base END AS aug
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' contact bob' || CAST(doc_id AS VARCHAR)
                         || '@mail.example.com'
                    ELSE text END AS base
        FROM documents
    )
),
clean AS (
    SELECT doc_id, aug,
           regexp_replace(regexp_replace(aug, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                          '{_IP_PAT}', '<IP>', 'g') AS cleaned
    FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{_EMAIL_PAT}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{_IP_PAT}')) AS INTEGER) AS n_ips,
       LENGTH(cleaned) AS clean_len,
       substr(md5(cleaned), 1, 16) AS clean_sig
FROM clean
ORDER BY doc_id
"""


_FUZZY_MAX_DIST = 2


def fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join on distinct part names: candidate pairs
    share a blocking key (the last word of the name), then an exact
    ``levenshtein`` filter keeps pairs within edit distance 2. Returns
    every near-match pair (a < b) with its distance.

    Scale: the blocking key turns an O(n²) cartesian into a per-block
    equi-join — the standard similarity-join trick (same family as the
    MinHash banding in ``dedup_near_minhash``, here for edit distance).
    Skewed blocks (a very common last word) are what AQE skew-join or a
    secondary length-band key would split; the edit-distance verify only
    ever runs inside a block.
    """
    names = (
        table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("blk", F.element_at(F.split("name", " "), -1))
    )
    left = names.select(F.col("name").alias("name_a"), "blk")
    right = names.select(F.col("name").alias("name_b"), "blk")
    return (
        left.join(right, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


FUZZY_JOIN_SQL = f"""
WITH names AS (
    SELECT DISTINCT p_name AS name,
           string_split(p_name, ' ')[-1] AS blk
    FROM part
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS dist
FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {_FUZZY_MAX_DIST}
ORDER BY name_a, name_b
"""


_TFIDF_K = 3  # top terms kept per document


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF signature: each document's top 3 terms by
    ``tf * ln((N+1)/(df+1))`` — the classic keyword extraction /
    retrieval-indexing primitive. Term frequency is a per-doc count,
    document frequency one corpus aggregate, and the corpus size N a
    broadcast 1-row scalar; ties (same score) break on the term itself
    so the pick is engine-exact.

    Scale: two shuffles (token explode -> (doc, term) counts; df per
    term) and a per-doc window over a handful of scored terms. The df
    relation is vocabulary-sized and therefore UNBOUNDED under Heaps'
    law, so its join is deliberately unhinted — both sides are already
    keyed by term, and AQE demotes the shuffle join to broadcast when
    the vocabulary happens to be small. No pair space, no Python.
    """
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = toks.distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = (
        table(spark, sf_dir, "documents")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "rk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    )


TFIDF_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
    SELECT term, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 4) AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tf, df, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rk
    FROM scored
)
SELECT doc_id, rk, term, tf, df, score
FROM ranked WHERE rk <= {_TFIDF_K}
ORDER BY doc_id, rk
"""


QUERIES = {
    "fuzzy_join_parts": fuzzy_join_parts,
    "vocab_top_terms": vocab_top_terms,
    "tfidf_top_terms": tfidf_top_terms,
    "simhash_near_dup": simhash_near_dup,
    "lang_id": lang_id,
    "token_counting": token_counting,
    "doc_fingerprint": doc_fingerprint,
    "repetition_signals": repetition_signals,
    "pii_redaction": pii_redaction,
}

ORACLES = {
    "fuzzy_join_parts": FUZZY_JOIN_SQL,
    "vocab_top_terms": VOCAB_TOP_TERMS_SQL,
    "tfidf_top_terms": TFIDF_SQL,
    "simhash_near_dup": SIMHASH_SQL,
    "lang_id": LANG_ID_SQL,
    "token_counting": TOKEN_COUNTING_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "repetition_signals": REPETITION_SQL,
    "pii_redaction": PII_SQL,
}
