"""Round-9 wave-30 operators: index-store manifest, pair-space pre-flight,
curriculum scheduling, and the covariance readout behind anisotropy.

* ``ann_index_manifest`` — the census of the STAGED ANN index store
  (round 9's ship-the-index-as-a-table layer, ``sources/ann_index.py``):
  per component (ivf_cells / ivf_centroids / pq_codes / pq_codebooks),
  the row count and distinct-key count of the exact relations the query
  path serves from. This is the "is the shipped index complete and
  consistent" gate a deployment runs after a build job — and because
  the DuckDB oracle re-derives every component from scratch through the
  shared CTE chains (``llm._ivf_ctes``, ``wave20._pq_ctes``), a
  hash-match here certifies the staged store end to end.
* ``near_dup_degree_census`` — the candidate-degree distribution of the
  MinHash band graph: for every shingled document, how many DISTINCT
  band-sharing partners it has, rolled into a (degree, n_docs)
  histogram (degree 0 included). This is the pre-flight audit for LSH
  pair generation at scale: total candidate pairs = sum(degree)/2, and
  a heavy tail (hub documents — boilerplate, templates) is exactly
  what blows a band join up toward O(n^2); run the census BEFORE the
  pair stage and cap/split hot bands if the tail says so. Same band
  construction as [[dedup_near_minhash]], so the census describes the
  real pipeline, not a model of it.
* ``curriculum_schedule`` — quality-ordered curriculum manifest
  (Bengio et al. 2009 curriculum learning, as data engineering): score
  every document by a deterministic fluency proxy (stopword share of
  its token stream — the same cheap signal quality filters use), order
  by (quality DESC, doc_id), cut into 4 equal phases with the
  engine's distributed exact NTILE (``operators/ntile.bucketed_ntile``
  — no single-partition global window), and report each phase's doc /
  token mass plus the cumulative token share a trainer would schedule
  against.
* ``embedding_covariance`` — the upper-triangle covariance matrix of
  the embedding columns: cov(i,j) over all vectors, the input to every
  spectrum-based anisotropy/whitening decision (the common-direction
  dominance [[embedding_anisotropy_audit]] measures has its principal
  axes here). Accumulation is the one-pass d(d+1)/2 partial-aggregate
  shape: each row explodes to its local outer-product terms
  (row-local, 2080 structs at d=64), every (i,j) cell combines
  map-side, and the only shuffle carries |cells| x partitions partial
  sums no matter the corpus size.

Scale notes: the manifest touches only the staged/memoised index
relations (corpus passes happen once in the shared build); the census
adds one distinct + one aggregate on top of the band join the dedup
pipeline already pays; the curriculum sort is two-pass bucketed order
statistics, never a global window; covariance sums are exact
decimal(20,6) accumulations so replicate order cannot move a bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.operators.ntile import bucketed_ntile
from waterbear_spark.queries.llm import (
    SHINGLES_SQL,
    TOKENS_SQL,
    _SIG_SQL,
    _bands_sql,
    _doc_tokens,
    _embedding_dim,
    _fan_out,
    _ivf_ctes,
    _ivf_index,
    _lsh_bands,
    _shingle_sets,
    _signatures,
)
from waterbear_spark.queries.tables import DEC, table
from waterbear_spark.queries.wave5 import _RAKE_STOP
from waterbear_spark.queries.wave20 import _PQ_K, _PQ_M, _pq_codes, _pq_ctes

_CURRICULUM_PHASES = 4


def ann_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged-index component census — see module docstring. Output:
    (component, n_rows, n_keys), one row per staged relation, where
    n_keys counts the component's distinct key (cells, clusters, or
    (m, code) combinations)."""
    cells, cent, _params = _ivf_index(spark, sf_dir)
    codes, cb = _pq_codes(spark, sf_dir)

    def census(df: DataFrame, component: str, *key_cols: str) -> DataFrame:
        return df.agg(
            F.lit(component).alias("component"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(*[F.col(c) for c in key_cols]).alias("n_keys"),
        )

    parts = [
        census(cells, "ivf_cells", "cell"),
        census(cent, "ivf_centroids", "cluster"),
        census(codes, "pq_codes", "m", "code"),
        census(cb, "pq_codebooks", "m", "code"),
    ]
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("component")


def _manifest_sql() -> str:
    ivf_ctes, ivf_final, cent_final = _ivf_ctes()
    pq_ctes, assigns, cents = _pq_ctes()
    # the chains share the identical `e` CTE — keep the IVF copy
    seen = {c.split(" AS ", 1)[0].strip() for c in ivf_ctes}
    merged = ivf_ctes + [
        c for c in pq_ctes if c.split(" AS ", 1)[0].strip() not in seen
    ]
    joined = ",\n".join(merged)
    codes_union = " UNION ALL ".join(
        f"SELECT {m} AS m, code FROM {a}" for m, a in enumerate(assigns)
    )
    cb_union = " UNION ALL ".join(
        f"SELECT {m} AS m, cluster FROM {c}" for m, c in enumerate(cents)
    )
    return f"""
WITH {joined}
SELECT component, n_rows, n_keys FROM (
    SELECT 'ivf_cells' AS component, COUNT(*) AS n_rows,
           COUNT(DISTINCT cell) AS n_keys FROM {ivf_final}
    UNION ALL
    SELECT 'ivf_centroids', COUNT(*), COUNT(DISTINCT cluster)
    FROM {cent_final}
    UNION ALL
    SELECT 'pq_codes', COUNT(*), COUNT(DISTINCT (m, code))
    FROM ({codes_union})
    UNION ALL
    SELECT 'pq_codebooks', COUNT(*), COUNT(DISTINCT (m, cluster))
    FROM ({cb_union})
)
ORDER BY component
"""


def near_dup_degree_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-degree histogram of the LSH band graph — see module
    docstring. Output: (degree, n_docs) over every shingled document,
    degree 0 included, ordered by degree."""
    sets = _shingle_sets(_doc_tokens(spark, sf_dir))
    bands = _lsh_bands(_signatures(sets))
    partners = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("p"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        sets.select("doc_id")
        .join(partners, "doc_id", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


NEAR_DUP_DEGREE_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
sig AS (
    SELECT doc_id,
           {_SIG_SQL}
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM tok WHERE len(toks) >= 3)
),
bands AS (
    {_bands_sql('sig')}
),
deg AS (
    SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT DISTINCT a.doc_id, b.doc_id AS p
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
    ) GROUP BY doc_id
)
SELECT degree, COUNT(*) AS n_docs FROM (
    SELECT COALESCE(d.degree, 0) AS degree
    FROM sig s LEFT JOIN deg d ON s.doc_id = d.doc_id
)
GROUP BY degree
ORDER BY degree
"""


def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered curriculum phases — see module docstring.
    Output per phase (1 = most fluent quartile): doc and token mass,
    quality bounds, and the cumulative token share the schedule hands
    a trainer."""
    # tokenize+score once and persist: bucketed_ntile evaluates its
    # input relation three times (bucket counts, hit-bucket rank, tile
    # assignment), and without the persist each evaluation re-runs the
    # whole token scan (r11; the same fix rfm_segments carries).
    # Stopword membership is ``isin`` — an O(1) InSet probe per token —
    # not array_contains over the 33-literal array (O(|stop|) per
    # token); same count, bit-identical quality.
    docs = scope.persist(
        _doc_tokens(spark, sf_dir)
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            F.round(
                F.size(F.filter("toks", lambda t: t.isin(*_RAKE_STOP)))
                / F.size("toks"),
                6,
            ).alias("quality"),
        )
    )
    phased = bucketed_ntile(
        docs.withColumn("negq", -F.col("quality")),
        "negq",
        "doc_id",
        _CURRICULUM_PHASES,
        out_col="phase",
        width=0.01,
    )
    per = phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        F.round(F.max("quality"), 6).alias("max_quality"),
    )
    w = Window.orderBy("phase").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "cum_token_share",
            F.round(
                F.col("cum_tokens")
                / F.sum("n_tokens").over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
                6,
            ),
        )
        .select(
            F.col("phase").cast("int").alias("phase"),
            "n_docs",
            "n_tokens",
            "min_quality",
            "max_quality",
            "cum_tokens",
            "cum_token_share",
        )
        .orderBy("phase")
    )


def _curriculum_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    return f"""
WITH scored AS (
    SELECT doc_id, len(toks) AS n_toks,
           ROUND(CAST(len(list_filter(toks, t -> list_contains([{stop_list}], t)))
                      AS DOUBLE) / len(toks), 6) AS quality
    FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
    WHERE len(toks) > 0
),
phased AS (
    SELECT doc_id, n_toks, quality,
           NTILE({_CURRICULUM_PHASES}) OVER (ORDER BY -quality, doc_id) AS phase
    FROM scored
),
per AS (
    SELECT phase, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           ROUND(MIN(quality), 6) AS min_quality,
           ROUND(MAX(quality), 6) AS max_quality
    FROM phased GROUP BY phase
)
SELECT CAST(phase AS INTEGER) AS phase, n_docs, n_tokens,
       min_quality, max_quality,
       CAST(SUM(n_tokens) OVER (ORDER BY phase) AS BIGINT) AS cum_tokens,
       ROUND(CAST(SUM(n_tokens) OVER (ORDER BY phase) AS DOUBLE)
             / SUM(n_tokens) OVER (), 6) AS cum_token_share
FROM per
ORDER BY phase
"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle embedding covariance — see module docstring.
    Output: (i, j, cov) for 0 <= i <= j < d, cov rounded to 6 decimals;
    i/j are 0-based dimension indices.

    Hot-loop shape (round-9 tuning, 18 s -> ~2 s at sf0.1): the per-row
    explode emits a FLAT double array of the d(d+1)/2 products — no
    per-element structs, no per-element index bookkeeping — and
    ``posexplode`` supplies the triangle position; the (pos -> i, j)
    decode is a 2080-row broadcast literal joined AFTER the aggregate,
    so labeling work is paid once per CELL, not once per row-element.
    Per-dimension sums ride a separate 64-group aggregate instead of
    being duplicated through every pair term. The corpus scan is
    ``_fan_out``-widened (a single small parquet file otherwise pins
    the whole product explode to one task)."""
    d = _embedding_dim(spark, sf_dir)
    emb = _fan_out(
        spark,
        table(spark, sf_dir, "embeddings").select(
            F.transform("embedding", lambda x: x.cast("double")).alias("v")
        ),
    )
    terms = emb.select(
        F.posexplode(
            F.expr(
                f"""
                flatten(transform(sequence(0, {d - 1}), i ->
                  transform(sequence(i, {d - 1}), j ->
                    element_at(v, i + 1) * element_at(v, j + 1))))
                """
            )
        ).alias("pos", "p")
    )
    pair = terms.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p").cast(DEC)).alias("sp"),
    )
    dims = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum(F.col("x").cast(DEC)).alias("s"))
    )
    mapping = spark.createDataFrame(
        [
            (i * d - i * (i - 1) // 2 + (j - i), i, j)
            for i in range(d)
            for j in range(i, d)
        ],
        "pos int, i int, j int",
    )
    return (
        pair.join(F.broadcast(mapping), "pos")
        .join(F.broadcast(dims.select("i", F.col("s").alias("si"))), "i")
        .join(
            F.broadcast(
                dims.select(F.col("i").alias("j"), F.col("s").alias("sj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            # + 0.0 canonicalizes IEEE negative zero (the cusum
            # convention): a tiny negative covariance rounds to -0.0 in
            # one engine and +0.0 in the other
            (
                F.round(
                    F.col("sp").cast("double") / F.col("n")
                    - (F.col("si").cast("double") / F.col("n"))
                    * (F.col("sj").cast("double") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


EMBEDDING_COVARIANCE_SQL = """
WITH e AS (
    SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
d AS (SELECT len(v) AS d FROM e LIMIT 1),
terms AS (
    SELECT generate_subscripts(ps, 1) - 1 AS pos, UNNEST(ps) AS p FROM (
        SELECT flatten(list_transform(range(0, len(v)), i ->
                 list_transform(range(i, len(v)), j -> v[i + 1] * v[j + 1])))
               AS ps
        FROM e
    )
),
pair AS (
    SELECT pos, COUNT(*) AS n, SUM(CAST(p AS DECIMAL(20,6))) AS sp
    FROM terms GROUP BY pos
),
dims AS (
    SELECT i, SUM(CAST(x AS DECIMAL(20,6))) AS s FROM (
        SELECT generate_subscripts(v, 1) - 1 AS i, UNNEST(v) AS x FROM e
    ) GROUP BY i
),
mapping AS (
    SELECT i * d.d - i * (i - 1) // 2 + (j - i) AS pos, i, j
    FROM d,
         (SELECT UNNEST(range(0, (SELECT d FROM d))) AS i),
         (SELECT UNNEST(range(0, (SELECT d FROM d))) AS j)
    WHERE j >= i
)
SELECT CAST(m.i AS INTEGER) AS i, CAST(m.j AS INTEGER) AS j,
       ROUND(CAST(sp AS DOUBLE) / n
             - (CAST(si.s AS DOUBLE) / n) * (CAST(sj.s AS DOUBLE) / n),
             6) + 0.0 AS cov
FROM pair p
JOIN mapping m ON m.pos = p.pos
JOIN dims si ON si.i = m.i
JOIN dims sj ON sj.i = m.j
ORDER BY i, j
"""


QUERIES = {
    "ann_index_manifest": ann_index_manifest,
    "near_dup_degree_census": near_dup_degree_census,
    "curriculum_schedule": curriculum_schedule,
    "embedding_covariance": embedding_covariance,
}

ORACLES = {
    "ann_index_manifest": _manifest_sql(),
    "near_dup_degree_census": NEAR_DUP_DEGREE_SQL,
    "curriculum_schedule": _curriculum_sql(),
    "embedding_covariance": EMBEDDING_COVARIANCE_SQL,
}
