"""LLM-data-pipeline operator catalog: dedup (exact + MinHash/LSH near-dup),
embedding similarity search, and text analysis over the ``documents`` /
``embeddings`` tables (SURVEY.md §2b "LLM ops").

Determinism design: every hash used here is ``md5`` (bit-identical in Spark
and DuckDB), MinHash takes the lexicographic min of md5 hex strings (engine
independent), Jaccard is exact integer arithmetic, and cosine similarity is
rounded to 4 decimals with vec_id tie-breaks — so all of these have exact
DuckDB oracle twins.

Scale notes per operator below; the shared principles: tokenize/shingle
with native higher-order functions (no Python), shuffle once on the group
key, and let LSH banding turn the O(n^2) near-dup problem into a
band-key equi-join.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.tables import (
    DEC,
    davg,
    dsum,
    oracle_davg,
    oracle_dsum,
    table,
)

N_HASHES = 8
N_BANDS = 4  # bands of 2 hashes each
JACCARD_THRESHOLD = 0.5


def _fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a compute-heavy stage across the cluster when the upstream
    scan produced fewer splits than cores (e.g. a few large files with
    single row groups). No-op when the input is already wide — we never
    *reduce* partitioning, so at scale this costs nothing.

    The width probe is ``df.inputFiles()`` — analyzed-plan metadata, no
    job, no RDD conversion (an ``rdd.getNumPartitions()`` probe would
    force a driver-side plan translation per call; the plan lint bans the
    RDD API outright). File count under-counts splits when one file spans
    many row groups, but that only risks a redundant repartition of an
    already-wide frame, never a narrowing.
    """
    target = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans: nothing to widen from
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def _tokens(col: Column) -> Column:
    """Whitespace tokens, lowercased, empties dropped — all in codegen."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


_MH_ABOVE_HEX = "g" * 33  # sorts lexicographically above every hex digest


def _minhash_struct(arr) -> Column:
    """All ``N_HASHES`` seeded-md5 MinHash components of a shingle-set
    array as a struct ``(h0..h7)``, computed in ONE left fold (r10).

    Bit-identical to the classic per-seed
    ``array_min(transform(arr, md5(seed|s)))`` — same seeded digests,
    same mins — but a single array traversal carrying a struct-of-mins
    accumulator instead of ``N_HASHES`` traversals each allocating a
    transient hash array: ~15% off the signature scan at sf1, and the
    scan IS the minhash pipeline's budget (BENCH_SCALING). The DuckDB
    oracles keep the per-seed ``list_min(list_transform(...))``
    spelling — the readable form of the same values. Callers guarantee
    a non-empty ``arr`` (an empty array would fold to the sentinel
    init, not NULL)."""
    init = F.struct(
        *[F.lit(_MH_ABOVE_HEX).alias(f"h{i}") for i in range(N_HASHES)]
    )

    def step(acc, s):
        return F.struct(
            *[
                F.least(
                    acc[f"h{i}"], F.md5(F.concat(F.lit(f"{i}|"), s))
                ).alias(f"h{i}")
                for i in range(N_HASHES)
            ]
        )

    return F.aggregate(arr, init, step)


TOKENS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


def _shingles(toks: Column, k: int = 3) -> Column:
    """Word k-grams via sequence+transform (1-based, mirrors the DuckDB
    generate_series oracle). Caller must guarantee size(toks) >= k."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(k)]
        ),
    )


SHINGLES_SQL = (
    "list_transform(generate_series(1, len(toks) - 2),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc per identical text (min doc_id wins).

    Scale: one shuffle on md5(text) — hashing the 128-bit digest instead of
    shuffling full document bodies keeps exchange volume tiny; the window
    row_number keeps the winner without a self-join.
    """
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT doc_id, lang, source, n_chars
FROM (
    SELECT doc_id, lang, source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
ORDER BY doc_id
"""


def _band_candidates(
    bands: DataFrame, max_band_degree: int | None = None
) -> DataFrame:
    """Distinct LSH candidate pairs ``(doc_a, doc_b)`` from a
    ``(doc_id, band, bkey)`` relation — the band-bucket equi-join shared
    by the dedup pipeline, with the r10 hub dial.

    ``max_band_degree`` caps the pair blowup of HUB band keys
    (boilerplate/template documents sharing a band key are what drag
    LSH toward O(n^2) on real corpora — [[near_dup_degree_census]] is
    the pre-flight that measures them): a key with degree d > cap is
    salted into ``ceil(d / cap)`` sub-buckets by a per-(doc, band) hash,
    so its pair work drops from d^2 to ~d * cap — linear in the hub.
    Pairs split across sub-buckets in one band are still surfaced by
    any OTHER band they agree on (non-hub keys are never split), which
    is how recall on genuine near-dups survives; the planted-hub test
    (tests/test_round10_fixes.py) pins both properties. ``None`` (the
    [[dedup_near_minhash]] oracle semantics) joins unsalted.

    The salt is the md5 48-bit draw rather than xxhash64 so a DuckDB
    oracle can derive the identical sub-bucket assignment —
    [[dedup_near_minhash_capped]] certifies the salted join
    cross-engine; the hash rides only the 4-rows-per-doc band relation,
    noise next to the 8-per-shingle signature scan."""
    keys = ["band", "bkey"]
    if max_band_degree is not None:
        # The degree census is a THIRD consumer of the band relation
        # (alongside both self-join sides): persist it so the MinHash
        # fold over the shingle sets runs once, not once more per
        # consumer — the uncapped self-join dedupes its two sides via
        # exchange reuse, but the groupBy shape does not share that
        # exchange (r10 advisor finding).
        bands = scope.persist(bands)
        deg = bands.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("__deg")
        )
        salt = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        F.col("band").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        bands = (
            bands.join(deg, ["band", "bkey"])
            .withColumn(
                "sub",
                F.pmod(
                    salt,
                    F.ceil(
                        F.col("__deg") / F.lit(float(max_band_degree))
                    ).cast("bigint"),
                ).cast("int"),
            )
            .drop("__deg")
        )
        keys = keys + ["sub"]
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for k in keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return (
        bands.alias("a")
        .join(bands.alias("b"), cond)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def dedup_near_minhash(
    spark: SparkSession, sf_dir: str, max_band_degree: int | None = None
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified by exact
    shingle Jaccard.

    Pipeline: 3-word shingle **set as a row-local array** (array_distinct,
    no explode) -> 8 MinHash signatures (array_min of per-seed md5, still
    row-local) -> 4 bands of 2 -> equi-join on (band, key) for candidates
    -> exact Jaccard via array_intersect on candidate pairs only.

    ``max_band_degree`` (r10, default off == the catalog/oracle
    semantics): salt hub band keys whose degree exceeds the cap — see
    :func:`_band_candidates`. The production dial to flip when
    [[near_dup_degree_census]] reports a heavy band-degree tail.

    Scale: signature computation is a single scan with ZERO shuffles —
    shingle sets never leave their row; the only exchanges are the band-key
    equi-join (4 rows x 34 hex chars per doc) and the candidate->signature
    lookups, whose left side is the (small) candidate set. The O(n^2)
    pairwise comparison never materializes; band width / hash count tune
    the recall-cost curve, [[dedup_recall_report]] measures that curve
    (recall per exact-Jaccard bucket) as an oracle-checked query, and
    the band-degree cap bounds the one blowup the banding itself can't.
    """
    return _near_dup_pairs(spark, sf_dir, max_band_degree)[0]


def _near_dup_pairs(
    spark: SparkSession, sf_dir: str, max_band_degree: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """[[dedup_near_minhash]]'s pairs plus the persisted shingle-set
    frame they read. The lazy query has to leave that cache in place;
    an eager consumer releases it once it has materialized what it
    needs from the pairs."""
    # widen BEFORE tokenizing: a projection built below the repartition
    # exchange runs inside the (often 1-split) scan stage, serializing
    # the per-token work the fan-out exists to spread
    docs = _fan_out(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", _tokens(F.col("text")).alias("toks"))
    # the shingle-set frame is reused three times (hashing + both sides of
    # the verify join); persist it so shingling runs once
    sets = scope.persist(
        docs.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.array_distinct(_shingles(F.col("toks"))).alias("arr"),
        )
        .withColumn("n", F.size("arr"))
    )
    sig = sets.select("doc_id", _minhash_struct("arr").alias("mh")).select(
        "doc_id", "mh.*"
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )

    candidates = _band_candidates(bands, max_band_degree)

    pair_sets = sets.select("doc_id", "arr", "n")
    n_shared = F.size(F.array_intersect(F.col("na.arr"), F.col("nb.arr"))).cast("long")
    pairs = (
        candidates.join(pair_sets.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(pair_sets.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            n_shared.alias("n_shared"),
            F.round(
                n_shared.cast("double")
                / (F.col("na.n") + F.col("nb.n") - n_shared),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )
    return pairs, sets


DEDUP_NEAR_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
sig AS (
    SELECT doc_id, arr, len(arr) AS n,
           {', '.join(f"list_min(list_transform(arr, s -> md5('{i}|' || s))) AS h{i}" for i in range(N_HASHES))}
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM tok WHERE len(toks) >= 3)
),
bands AS (
    {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS bkey FROM sig" for b in range(N_BANDS))}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (na_n + nb_n - n_shared), 4) AS jaccard
FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(na.arr, nb.arr)) AS BIGINT) AS n_shared,
           na.n AS na_n, nb.n AS nb_n
    FROM cand c
    JOIN sig na ON na.doc_id = c.doc_a
    JOIN sig nb ON nb.doc_id = c.doc_b
)
WHERE ROUND(CAST(n_shared AS DOUBLE) / (na_n + nb_n - n_shared), 4) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# the certified dial setting of [[dedup_near_minhash_capped]]: low
# enough that real band keys at the cert scales actually get salted
# (sf0.01 already has degree > 2 hub keys), so the oracle exercises the
# salted join, not a degenerate n_sub = 1 pass-through
_CAPPED_DIAL = 2


def dedup_near_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_near_minhash(spark, sf_dir, max_band_degree=_CAPPED_DIAL)


# assigned (not an inline literal-with-.format(), which would leave
# __doc__ None — r10 advisor finding) so help()/introspection keep the
# semantics of the catalog query
dedup_near_minhash_capped.__doc__ = """[[dedup_near_minhash]] with the
band-degree cap ENGAGED at ``max_band_degree = {cap}`` — the certified
twin of the r10 hub dial. Semantics: band keys with degree d > {cap}
are salted into ``ceil(d / {cap})`` sub-buckets by the md5 48-bit draw
on ``doc_id|band``, candidates form only within a sub-bucket, and the
exact-Jaccard verify is unchanged. The DuckDB oracle re-derives the
degree census, the salt, and the salted join — so the scale dial that
bounds LSH's one blowup is itself cross-engine-certified, not just
unit-tested. Output shape matches [[dedup_near_minhash]]; at a
production corpus the cap trades within-hub recall (template
boilerplate) for bounded pair work, and [[dedup_recall_report]] /
[[near_dup_degree_census]] are the instruments that price that trade.
""".format(cap=_CAPPED_DIAL)


_SALT_SQL = (
    "CAST(CAST(('0x' || SUBSTR(MD5(CAST(s.doc_id AS VARCHAR) || '|' || "
    "CAST(s.band AS VARCHAR)), 1, 12)) AS UBIGINT) AS BIGINT)"
)

DEDUP_NEAR_CAPPED_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
sig AS (
    SELECT doc_id, arr, len(arr) AS n,
           {', '.join(f"list_min(list_transform(arr, s -> md5('{i}|' || s))) AS h{i}" for i in range(N_HASHES))}
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM tok WHERE len(toks) >= 3)
),
bands AS (
    {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS bkey FROM sig" for b in range(N_BANDS))}
),
deg AS (
    SELECT band, bkey, COUNT(*) AS deg FROM bands GROUP BY band, bkey
),
salted AS (
    SELECT s.doc_id, s.band, s.bkey,
           CAST({_SALT_SQL} % CAST(CEIL(d.deg / {float(_CAPPED_DIAL)}) AS BIGINT)
                AS INTEGER) AS sub
    FROM bands s JOIN deg d USING (band, bkey)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM salted a JOIN salted b
      ON a.band = b.band AND a.bkey = b.bkey AND a.sub = b.sub
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (na_n + nb_n - n_shared), 4) AS jaccard
FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(na.arr, nb.arr)) AS BIGINT) AS n_shared,
           na.n AS na_n, nb.n AS nb_n
    FROM cand c
    JOIN sig na ON na.doc_id = c.doc_a
    JOIN sig nb ON nb.doc_id = c.doc_b
)
WHERE ROUND(CAST(n_shared AS DOUBLE) / (na_n + nb_n - n_shared), 4) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({DEDUP_NEAR_SQL}) q
),
edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT s AS v, d AS r FROM edges
    UNION
    SELECT reach.v, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (
    SELECT v AS doc_id, LEAST(v, MIN(r)) AS cluster_id FROM reach GROUP BY v
),
sized AS (
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
)
SELECT doc_id, cluster_id, CAST(cluster_size AS INTEGER) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM sized
ORDER BY doc_id
"""


def _near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vertex, component) of the near-dup pair graph. The CC call is
    eager and its result reads only driver data or its last checkpoint,
    so the shingle-set cache is released before returning. Spark keys
    its cache by plan: the release also evicts the entry that a live
    [[dedup_near_minhash]] frame over the same ``sf_dir`` shares, which
    then re-shingles on its next action."""
    from waterbear_spark.operators.starcc import star_connected_components

    pairs, sets = _near_dup_pairs(spark, sf_dir)
    try:
        return star_connected_components(
            pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b"
        )
    finally:
        scope.release(sets)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph: every
    document in a near-dup pair gets a cluster id (the minimum doc_id
    reachable from it) and an ``is_canonical`` keep-flag — the step that
    turns pairwise dedup output into an actionable keep/drop list.
    Registered under two catalog names (``dedup_clusters`` and
    ``dedup_clusters_star``).

    Algorithm: ``operators/starcc.py``. A pair graph is pairs-sized (tiny
    vs the corpus), so at bench scales its components come from one
    bounded collect + driver union-find; past the edge bound the
    alternating large-star/small-star loop (Kiveris et al. 2014) takes
    over — O(log^2 n) rounds on ANY graph shape where min-label
    propagation pays O(diameter), the difference that matters on
    chain-shaped near-dup graphs (template drift, shingled boilerplate).

    Oracle: DuckDB ``WITH RECURSIVE`` transitive closure (min reachable
    id), exact on the sparse pair graph.
    """
    labels = _near_dup_components(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "component")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("cluster_size").cast("int").alias("cluster_size"),
            (F.col("vertex") == F.col("component")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/validation/test split: the md5 lottery of
    [[deterministic_split]] keyed on the near-dup CLUSTER id instead of
    the document id, so near-duplicate documents can never straddle
    splits — the leakage mode that silently inflates eval numbers when
    val/test contain near-copies of training docs. Clusters come from
    the CC labels of [[dedup_clusters]]; singletons key on
    their own doc_id. Output: per-split census plus the computed
    cross-split leakage count — zero by construction, and the oracle
    (recursive-closure CC + the same lottery) certifies it rather than
    trusting the claim.

    Scale: the cluster labels are a near-dup-pair-sized relation (tiny
    vs the corpus) joined back broadcast; the lottery is row-local; the
    census is one 3-group aggregate. The leakage check is an aggregate
    over |groups| rows.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labels = _near_dup_components(spark, sf_dir)
    assigned = docs.join(
        F.broadcast(labels.withColumnRenamed("vertex", "doc_id")),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("group_id"),
        F.col("component").isNotNull().alias("clustered"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("split|"), F.col("group_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
    )
    tagged = assigned.withColumn("split", split)
    leaks = tagged.groupBy("group_id").agg(
        F.countDistinct("split").alias("ns")
    )
    leaked = leaks.agg(
        F.count(F.when(F.col("ns") > 1, 1)).alias("leaked_groups")
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("group_id").alias("n_groups"),
            F.count(F.when(F.col("clustered"), 1)).alias("n_clustered"),
        )
        .crossJoin(F.broadcast(leaked))
        .orderBy("split")
    )


LEAKAGE_FREE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({DEDUP_NEAR_SQL}) q
),
edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT s AS v, d AS r FROM edges
    UNION
    SELECT reach.v, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (
    SELECT v AS doc_id, LEAST(v, MIN(r)) AS component FROM reach GROUP BY v
),
assigned AS (
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS group_id,
           c.component IS NOT NULL AS clustered
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
tagged AS (
    SELECT *,
           CASE
             WHEN CAST(('0x' || substr(md5('split|' || CAST(group_id AS VARCHAR)), 1, 15))
                  AS UBIGINT)::BIGINT % 100 < 80 THEN 'train'
             WHEN CAST(('0x' || substr(md5('split|' || CAST(group_id AS VARCHAR)), 1, 15))
                  AS UBIGINT)::BIGINT % 100 < 90 THEN 'validation'
             ELSE 'test'
           END AS split
    FROM assigned
),
leaked AS (
    SELECT COUNT(*) FILTER (WHERE ns > 1) AS leaked_groups
    FROM (SELECT group_id, COUNT(DISTINCT split) AS ns
          FROM tagged GROUP BY group_id)
)
SELECT split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT group_id) AS n_groups,
       COUNT(*) FILTER (WHERE clustered) AS n_clustered,
       leaked_groups
FROM tagged CROSS JOIN leaked
GROUP BY split, leaked_groups
ORDER BY split
"""


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, the
    fraction of its distinct 3-word shingles that occur anywhere in the
    held-out benchmark set (here docs 0..9) — the screen run before
    training to keep eval data out of the corpus (cf. GPT-3 appendix C /
    Dodge et al. 2021 C4 analysis; 100% n-gram recall, unlike sketches).

    Scale: shingle sets are row-local arrays (no explode until the join);
    the benchmark side collapses to DISTINCT shingles and is tiny relative
    to the corpus -> broadcast hash join against the exploded training
    shingles, one aggregation by doc. At 100 TB the benchmark set is still
    MBs (eval suites), so the broadcast holds; zero-hit docs are kept by a
    left join against the per-doc shingle counts. The shingle frame is
    persisted: three consumers (bench, hits, left side), and without the
    materialization barrier Generate would re-evaluate the whole shingle
    expression per exploded row — O(shingles^2) per doc (benched 13x
    slower).
    """
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", _tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
    )
    shingled = scope.persist(docs.select(
        "doc_id", F.array_distinct(_shingles(F.col("toks"))).alias("arr")
    ))
    bench = (
        shingled.filter(F.col("doc_id") < 10)
        .select(F.explode("arr").alias("s"))
        .distinct()
    )
    train = shingled.filter(F.col("doc_id") >= 10).select(
        "doc_id", "arr", F.size("arr").alias("n_shingles")
    )
    hits = (
        train.select("doc_id", F.explode("arr").alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ratio = F.round(
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("n_shingles"), 4
    )
    return (
        train.select("doc_id", "n_shingles")
        .join(hits, ["doc_id"], "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            ratio.alias("contamination"),
            (ratio >= 0.5).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
sh AS (
    SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
    FROM tok WHERE len(toks) >= 3
),
bench AS (
    SELECT DISTINCT unnest(arr) AS s FROM sh WHERE doc_id < 10
),
train AS (
    SELECT doc_id, arr, CAST(len(arr) AS INTEGER) AS n_shingles
    FROM sh WHERE doc_id >= 10
),
hits AS (
    SELECT doc_id, COUNT(*) AS n_hit
    FROM (SELECT doc_id, unnest(arr) AS s FROM train) ex
    JOIN bench USING (s)
    GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles, 4)
           AS contamination,
       ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles, 4) >= 0.5
           AS is_contaminated
FROM train t LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@scope.memoised
def _embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Vector width (driver-side metadata lookup, one 1-row job,
    memoised per application + corpus — ~a dozen queries ask). An
    empty table yields a 1-dim placeholder: every consumer's row-local
    math stays well-formed and produces zero rows either way."""
    row = (
        table(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("d"))
        .first()
    )
    return row["d"] if row is not None else 1


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbours for 5 query vectors.

    Scale: the query set is broadcast (crossJoin + broadcast hint), so the
    scan side streams once with no shuffle; the only exchange is the
    window's partition-by-query (5 keys x top rows). The IVF/LSH-bucketed
    variant (round 2) replaces the cross join with a bucket equi-join.
    All arithmetic is double with per-element products and a left-fold sum
    — the same IEEE sequence DuckDB's list_dot_product runs, then rounded
    to 4 decimals with vec_id tie-breaks for deterministic membership.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    emb = emb.withColumn("nrm", F.sqrt(_fold_dot("v", "v")))
    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    dot = _fold_dot("qv", "v")
    pairs = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(dot / (F.col("qn") * F.col("nrm")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


EMBEDDING_TOPK_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
    SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
),
q AS (
    SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5
),
pairs AS (
    SELECT q.query_id, n.vec_id,
           ROUND(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 4) AS cos_sim
    FROM n, q
    WHERE n.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos_sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
FROM pairs
QUALIFY rank <= 5
ORDER BY query_id, rank
"""


def _np_round_half_away(x, decimals: int = 4):
    """Half-away-from-zero rounding for the numpy/BLAS paths — the ROUND
    mode of Spark's BigDecimal HALF_UP and DuckDB's ROUND. numpy's own
    np.round is half-EVEN, which diverges from both engines exactly on
    representable 4-decimal midpoints; this keeps the BLAS rewrites in
    the same rounding family as the folds they replaced."""
    import numpy as np

    p = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


def embedding_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (IVF-style) nearest neighbour: each vector's top-1 cosine
    neighbour **within its label bucket**, computed per-bucket with
    numpy/BLAS via ``applyInPandas``.

    Scale: this is the ANN scale path — the full cross join never happens.
    One shuffle groups vectors by bucket id (here the label column; in
    production a k-means/IVF cell id or LSH hyperplane sign computed the
    same row-local way); inside each bucket a single BLAS matmul scores
    all pairs at memory bandwidth. This is the one family where the Arrow
    +numpy path beats Catalyst: per-pair interpreted folds cost ~64
    boxed ops each, a bucket matmul amortizes to ~1 FLOP. Buckets must
    fit in a worker (bound bucket size upstream; oversized cells get
    re-split in a production IVF).

    Determinism vs the DuckDB oracle: float64 dot products differ from
    the fold order only below ~1e-12; rounding to 4 decimals + vec_id
    tie-breaks absorb it.
    """
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")

    out_schema = "vec_id long, label int, nn_vec_id long, cos_sim double"

    def bucket_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:  # singleton bucket has no neighbour (oracle parity)
            return pd.DataFrame(
                {"vec_id": [], "label": [], "nn_vec_id": [], "cos_sim": []}
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = (mat @ mat.T) / np.outer(norms, norms)
        np.fill_diagonal(sims, -np.inf)
        sims = _np_round_half_away(sims)
        # argmax with vec_id tie-break: order candidates by (-sim, id)
        order = np.lexsort((ids[np.newaxis, :].repeat(len(ids), 0), -sims), axis=1)
        best = order[:, 0]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "label": pdf["label"].to_numpy(),
                "nn_vec_id": ids[best],
                "cos_sim": sims[np.arange(len(ids)), best],
            }
        )

    # explicit hash repartition on the grouping key (r10): the shuffle
    # input is byte-small, so AQE's size-based coalesce would pack the
    # per-bucket matmuls into 1-4 tasks — pin one bucket per task
    return (
        emb.repartition(spark.sparkContext.defaultParallelism, "label")
        .groupBy("label")
        .applyInPandas(bucket_knn, schema=out_schema)
        .orderBy("vec_id")
    )


EMBEDDING_KNN_LABEL_SQL = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
    SELECT vec_id, label, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
),
pairs AS (
    SELECT a.vec_id, a.label, b.vec_id AS nn_vec_id,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT vec_id, label, nn_vec_id, cos_sim
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, nn_vec_id) AS rn
    FROM pairs
)
WHERE rn = 1
ORDER BY vec_id
"""


_IVF_K = 8  # FLOOR on the TOTAL cell count — the count scales with n (below)
_IVF_TARGET_CELL = 2048  # target vectors/cell: bounds per-cell pair work
_IVF_ITERS = 3  # assignment passes per level; centroid updates run ITERS-1 times

_IVF_TRAIN_FLOOR = 16384  # minimum training-sample size (a vec_id prefix)
_IVF_TRAIN_PER_CELL = 32  # training rows per target cell above the floor


def _ivf_kneed(n: int) -> int:
    """Total cell count needed for an n-vector corpus:
    ``max(8, ceil(n / 2048))``, so cells stay near ``_IVF_TARGET_CELL``
    vectors and [[semdedup_cells]]' per-cell pair join is O(n * target)
    — linear in the corpus. At sf0.01/sf0.1 (<= 2000 vectors) the floor
    of 8 binds; at sf1 (20k) the need is 10; at 1B vectors it is ~489k.
    """
    return max(_IVF_K, -(-n // _IVF_TARGET_CELL))


def _ivf_k12(n: int) -> tuple[int, int]:
    """Per-level branching of the two-level quantizer: ``k1 =
    ceil(sqrt(kneed))`` coarse cells, ``k2 = ceil(kneed / k1)`` fine
    cells inside each — ``k1 * k2 >= kneed`` total cells, but each
    vector is scored against only ``k1 + k2 = O(sqrt(n / 2048))``
    centroids, never all ``kneed``. That is the fix for the round-6
    verdict's one scale-weak item: single-level assignment was
    O(n * kneed) = O(n^2 / 2048); two levels make it O(n^1.5 / 45).
    ``ceil`` and ``sqrt`` are IEEE-exact on integers < 2^53, so the
    DuckDB oracle (CEIL(SQRT(kneed))) derives bit-identical k1/k2.
    """
    kneed = _ivf_kneed(n)
    k1 = math.ceil(math.sqrt(kneed))
    return k1, -(-kneed // k1)


def _ivf_train_cap(n: int) -> int:
    """Training-sample bound: centroids are trained only on vectors with
    ``vec_id < cap`` where cap = ``max(16384, 32 * kneed)`` — a
    deterministic prefix that grows like n/64, so k-means iterations
    touch ~1.6% of a huge corpus (and all of a small one) while still
    averaging ``32 * k2 / k1`` sample rows per coarse cell for fine
    training. The sample is filtered executor-side and never collected.
    """
    return max(_IVF_TRAIN_FLOOR, _IVF_TRAIN_PER_CELL * _ivf_kneed(n))


def _fold_dot(a, b) -> Column:
    """Sequential left-fold dot product of two array columns — the same
    IEEE summation order as DuckDB's ``list_dot_product``, so scores
    match the oracle bit for bit. The package's one dot product. (A flat
    64-term element_at expression was tried and is ~3x SLOWER: the giant
    expression tree exceeds codegen method limits and falls back to
    per-node interpreted eval; the higher-order fold is one interpreted
    loop and wins.)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def _km_pack(cent: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Collapse a (``[keys,] cluster, c, cc``) centroid table into one
    ``cents`` array-of-structs row per key group (one row total when
    ungrouped). Order inside the array is irrelevant: the argmin below
    is an ``array_min`` over (score, cluster) structs."""
    packed = F.collect_list(F.struct("cluster", "c", "cc")).alias("cents")
    return cent.groupBy(*keys).agg(packed) if keys else cent.agg(packed)


def _km_assign(df: DataFrame, cent: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """One k-means assignment pass: ``df`` rows (``vec_id, v[, keys]``)
    gain a ``cluster`` column = argmin over ``cent``'s centroids of
    ``c.c - 2 v.c`` (squared-distance surrogate), ties to the lowest
    cluster id.

    Scale shape: the centroid table is packed to one array row per key
    group and joined in (a broadcast 1-row cross join when ungrouped, a
    key equi-join when grouped), then the argmin is a row-local
    ``array_min`` over (score, cluster) structs — NO per-vector shuffle,
    no plan-literal centroid arrays (the round-6 verdict's fix: plan
    size is O(1) in K, and nothing is collected to the driver). Missing
    key groups (a coarse cell with no fine centroids) yield NULL,
    resolved by the caller.
    """
    packed = _km_pack(cent, keys)
    joined = (
        df.join(packed, list(keys), "left")
        if keys
        else df.crossJoin(F.broadcast(packed))
    )
    best = F.array_min(
        F.transform(
            "cents",
            lambda ct: F.struct(
                (ct["cc"] - 2 * _fold_dot(F.col("v"), ct["c"])).alias("s"),
                ct["cluster"].alias("cluster"),
            ),
        )
    )
    return joined.withColumn("cluster", best["cluster"]).drop("cents")


def _km_update(assigned: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Centroid re-estimation: per (``[keys,] cluster, dim``) the exact
    decimal mean (sum as DECIMAL(20,6), one double division — the same
    arithmetic as the oracle's ``CAST(SUM(CAST(val AS DECIMAL(20,6))) AS
    DOUBLE) / COUNT(*)``), reassembled into an array ordered by dim.
    Clusters that lose every member simply disappear — on both engines.
    The result stays a DataFrame (never collected): its size is
    (clusters x dims) rows in flight, centroid-count rows out.
    """
    grp = [*keys, "cluster"]
    return (
        assigned.select(*grp, F.posexplode("v").alias("dim", "val"))
        .groupBy(*grp, "dim")
        .agg(
            (F.sum(F.col("val").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
                "mean"
            )
        )
        .groupBy(*grp)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                lambda s: s["mean"],
            ).alias("c")
        )
        .withColumn("cc", _fold_dot("c", "c"))
    )


@scope.memoised
def _ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, dict]:
    """The shared IVF coarse quantizer behind [[ann_ivf_kmeans]],
    [[ann_recall_report]], [[semdedup_cells]], [[ann_ivf_probe_sweep]]
    and [[ivf_balance_audit]]: a two-level (coarse/fine) deterministic
    Lloyd k-means. Returns ``(cells, centroids, params)`` where cells =
    (vec_id, cell) is every vector's final inverted-list id, centroids =
    (cluster, c) are the fine-level centroids keyed by that same global
    cell id, and params = {n, k1, k2, cap} are the derived quantizer
    dials (exposed so auditors never re-scan or re-derive them).

    Recipe (mirrored CTE-for-stage by the DuckDB oracle, ``_ivf_ctes``):

    1. params: kneed = max(8, ceil(n/2048)), k1 = ceil(sqrt(kneed)),
       k2 = ceil(kneed/k1), cap = max(16384, 32*kneed).
    2. level 1: k-means over the sample (vec_id < cap), K = k1, init =
       sample vectors 0..k1-1, ``_IVF_ITERS - 1`` assign+update rounds;
       then ONE assignment pass over the full corpus -> ``coarse``.
    3. level 2: within each coarse cell, k-means over the cell's sample
       members, K = k2, init = the cell's k2 lowest sample vec_ids,
       same round count; then one grouped assignment pass over the full
       corpus -> ``fine`` (0 when a coarse cell holds corpus vectors
       but no sample members and so trained no fine centroids).
    4. cell = coarse * k2 + fine.

    100 TB shape: training touches only the bounded sample; centroids
    live in DataFrames end to end (no plan literals, no per-iteration
    driver collect — the round-6 verdict's fix); the two full-corpus
    passes are scan + broadcast/equi-join + row-local argmin, zero
    corpus shuffles; per-row work is k1 + k2 = O(sqrt(n/2048)) centroid
    scores against k1*k2 >= kneed cells. Determinism: sequential-fold
    dot products, exact decimal means, (score, cluster) tie-breaks —
    assignments are bit-identical to the oracle at every scale.

    The built index is memoised per (application, sf_dir): the five
    auditing queries share ONE build, and the build's working caches
    (the full vector relation + the coarse assignment) are unpersisted
    once the final (cells, centroids) relations are materialised — a
    long-lived session holds only the two small output relations.

    Across sessions the index is STAGED as a table
    (``sources/ann_index.py``, round 9): the first build writes
    (cells, centroids) as parquet under ``spark-warehouse/ann_index``
    keyed by a corpus fingerprint + every quantizer dial, and later
    sessions serve queries from the staged relations — the production
    shape (indexes are shipped, not rebuilt per query). Staleness or a
    knob change invalidates the stage; an empty
    ``SPARK_GRAFT_ANN_INDEX_DIR`` forces the from-scratch path (the
    bench/cert twin). Staged reads stay continuously certified because
    the DuckDB oracles re-derive the index from scratch on every check.
    """
    from waterbear_spark.sources import ann_index as _store

    fp = _store.corpus_fingerprint(spark, sf_dir)
    n = fp["n"]
    k1, k2 = _ivf_k12(n)
    cap = _ivf_train_cap(n)
    params = {"n": n, "k1": k1, "k2": k2, "cap": cap}
    if n == 0:
        # empty table: emit the output shapes with zero rows instead of
        # building untyped empty aggregates
        empty = table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        return (
            empty.select("vec_id", F.lit(None).cast("int").alias("cell")),
            spark.createDataFrame([], "cluster int, c array<double>"),
            params,
        )
    stage_dir = _store.component_dir(sf_dir, "ivf")
    stage_meta = {**fp, "k1": k1, "k2": k2, "cap": cap, "iters": _IVF_ITERS}
    staged = _store.staged_read(spark, stage_dir, stage_meta)
    if staged is not None:
        cells = scope.persist(staged["cells"], eager=True)
        centroids = scope.persist(staged["centroids"], eager=True)
        return cells, centroids, params
    emb = scope.persist(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        ),
        eager=True,
    )
    # sparse-id guard (r10, in lockstep with wave20._pq_codes): an
    # all-ids-above-cap corpus has an empty training prefix — train on
    # the full relation instead of seeding nothing. min_vec_id rides
    # the fingerprint (no extra job); the oracle's s CTE mirrors this
    # with a NOT EXISTS branch.
    if fp["min_vec_id"] is not None and fp["min_vec_id"] < cap:
        samp = emb.filter(F.col("vec_id") < cap)
    else:
        samp = emb

    # level-1 init: the k1 LOWEST sample vec_ids via row_number (not
    # ``vec_id < k1``, which silently seeds nothing — and so assigns NULL
    # cells — when ids are sparse or non-contiguous).  The window is
    # unpartitioned but runs over the cap-bounded sample only; identical
    # to the fine level's seeding rule and mirrored by the oracle's g0.
    cent = (
        samp.withColumn("rn", F.row_number().over(Window.orderBy("vec_id")))
        .filter(F.col("rn") <= k1)
        .select((F.col("rn") - 1).cast("int").alias("cluster"), F.col("v").alias("c"))
        .withColumn("cc", _fold_dot("c", "c"))
    )
    for _ in range(_IVF_ITERS - 1):
        # lazy lineage cut per round: the k1-row centroid relation is
        # checkpointed on first use, keeping plans iteration-independent
        cent = scope.checkpoint(_km_update(_km_assign(samp, cent)), eager=False)
    ac = scope.persist(_km_assign(emb, cent).withColumnRenamed("cluster", "coarse"))

    if fp["min_vec_id"] is not None and fp["min_vec_id"] < cap:
        sc = ac.filter(F.col("vec_id") < cap)
    else:  # sparse-id guard: see samp above
        sc = ac
    cent2 = (
        sc.withColumn(
            "rn", F.row_number().over(Window.partitionBy("coarse").orderBy("vec_id"))
        )
        .filter(F.col("rn") <= k2)
        .select(
            "coarse", (F.col("rn") - 1).cast("int").alias("cluster"), F.col("v").alias("c")
        )
        .withColumn("cc", _fold_dot("c", "c"))
    )
    for _ in range(_IVF_ITERS - 1):
        cent2 = scope.checkpoint(
            _km_update(_km_assign(sc, cent2, ("coarse",)), ("coarse",)), eager=False
        )
    fine = _km_assign(ac, cent2, ("coarse",))

    cells = fine.select(
        "vec_id",
        (F.col("coarse").cast("bigint") * k2 + F.coalesce(F.col("cluster"), F.lit(0)))
        .cast("int")
        .alias("cell"),
    )
    centroids = cent2.select(
        (F.col("coarse").cast("bigint") * k2 + F.col("cluster"))
        .cast("int")
        .alias("cluster"),
        "c",
    )
    # materialize the small outputs, then release the build's working
    # caches (the full vector relation and the coarse assignment) so a
    # long-lived session doesn't accumulate corpus-sized storage blocks
    cells = scope.persist(cells, eager=True)
    centroids = scope.persist(centroids, eager=True)
    scope.release(ac, emb)
    _store.staged_write(
        spark, stage_dir, {"cells": cells, "centroids": centroids}, stage_meta
    )
    # Serve (and memoise) the STAGED relations, not the build lineage:
    # the staged parquet is bit-identical to the build (deterministic
    # recipe, exact int/double round-trip), but its plan is a flat
    # FileScan — so a later ``clearCache()`` (bench iterations, plan
    # dumps) re-reads two small tables instead of resurrecting the whole
    # k-means build plan per consuming query. On a concurrent-restage
    # race ``staged_read`` returns None and the build frames serve.
    served = _store.staged_read(spark, stage_dir, stage_meta)
    if served is not None:
        scope.release(cells, centroids)
        cells = scope.persist(served["cells"], eager=True)
        centroids = scope.persist(served["centroids"], eager=True)
    return cells, centroids, params


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell): the final assignment of :func:`_ivf_index`, shared
    with [[ann_recall_report]] / [[semdedup_cells]] so the audits measure
    exactly the shipped index."""
    return _ivf_index(spark, sf_dir)[0]


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index construction: the two-level sample-trained coarse
    quantizer of :func:`_ivf_index` producing each vector's
    inverted-list cell id + cell occupancy — the real "train the coarse
    quantizer" step behind IVF ANN search (label blocking in
    ``embedding_knn_label`` is the search half; this builds the cells).
    See :func:`_ivf_index` for the recipe, determinism contract, and
    100 TB shape, and ``SCALE.md`` for the scaling analysis.
    """
    return (
        _ivf_cells(spark, sf_dir)
        .withColumn(
            "cell_size",
            F.count(F.lit(1)).over(Window.partitionBy("cell")).cast("int"),
        )
        .orderBy("vec_id")
    )


def _ivf_ctes() -> tuple[list[str], str, str]:
    """The two-level k-means CTE chain and the names of the final
    assignment CTE (vec_id, cell) and the final fine-centroid CTE
    (cluster, c) — shared between the ANN_IVF oracle, the
    [[ann_recall_report]] / [[semdedup_cells]] oracles, and the
    [[ann_ivf_probe_sweep]] oracle, so every audit twins the same index.
    Mirrors :func:`_ivf_index` stage for stage."""
    score = "list_dot_product(c.c, c.c) - 2 * list_dot_product(x.v, c.c)"

    def assign_cte(src: str, cent: str, out: str, carry: str, grouped: bool) -> str:
        join = (
            f"JOIN {cent} c ON c.coarse = x.coarse"
            if grouped
            else f"CROSS JOIN {cent} c"
        )
        return f"""{out} AS (
    SELECT {carry}, cluster FROM (
        SELECT x.*, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {score}, c.cluster) AS rn
        FROM {src} x {join}
    ) WHERE rn = 1
)"""

    def update_cte(src: str, out: str, grouped: bool) -> str:
        grp = "coarse, cluster" if grouped else "cluster"
        return f"""{out} AS (
    SELECT {grp}, list(mean ORDER BY dim) AS c FROM (
        SELECT {grp}, dim,
               CAST(SUM(CAST(val AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS mean
        FROM (SELECT {grp}, generate_subscripts(v, 1) AS dim, unnest(v) AS val
              FROM {src})
        GROUP BY {grp}, dim
    ) GROUP BY {grp}
)"""

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        # params: kneed/k1/k2/cap — the same exact integer and
        # CEIL(SQRT()) arithmetic as _ivf_kneed/_ivf_k12/_ivf_train_cap
        f"""p AS (
    SELECT kneed, k1, (kneed + k1 - 1) // k1 AS k2,
           GREATEST({_IVF_TRAIN_FLOOR}, {_IVF_TRAIN_PER_CELL} * kneed) AS cap
    FROM (SELECT kneed, CAST(CEIL(SQRT(kneed)) AS BIGINT) AS k1 FROM
          (SELECT GREATEST({_IVF_K},
                  (COUNT(*) + {_IVF_TARGET_CELL - 1}) // {_IVF_TARGET_CELL}) AS kneed
           FROM e))
)""",
        # sparse-id guard (r10): an empty vec_id < cap prefix falls back
        # to full-relation training, mirroring the Spark side's
        # min_vec_id >= cap branch
        "s AS (SELECT e.vec_id, e.v FROM e, p WHERE e.vec_id < p.cap "
        "OR NOT EXISTS (SELECT 1 FROM e, p WHERE e.vec_id < p.cap))",
        # level-1 init: the k1 LOWEST sample vec_ids (row_number, not
        # ``vec_id < k1`` — sparse ids would seed nothing); mirrors the
        # Spark side and the fine level's f0
        """g0 AS (
    SELECT CAST(rn - 1 AS INTEGER) AS cluster, v AS c FROM (
        SELECT s.v, ROW_NUMBER() OVER (ORDER BY s.vec_id) AS rn
        FROM s) z, p WHERE z.rn <= p.k1
)""",
    ]
    cent = "g0"
    for it in range(_IVF_ITERS - 1):
        ctes.append(assign_cte("s", cent, f"ga{it}", "vec_id, v", False))
        ctes.append(update_cte(f"ga{it}", f"g{it + 1}", False))
        cent = f"g{it + 1}"
    ctes.append(assign_cte("e", cent, "acx", "vec_id, v", False))
    ctes.append("ac AS (SELECT vec_id, v, cluster AS coarse FROM acx)")
    ctes.append(
        "sc AS (SELECT ac.vec_id, ac.v, ac.coarse FROM ac, p "
        "WHERE ac.vec_id < p.cap "
        "OR NOT EXISTS (SELECT 1 FROM ac, p WHERE ac.vec_id < p.cap))"
    )
    ctes.append(
        """f0 AS (
    SELECT coarse, CAST(rn - 1 AS INTEGER) AS cluster, v AS c FROM (
        SELECT sc.coarse, sc.v,
               ROW_NUMBER() OVER (PARTITION BY sc.coarse
                                  ORDER BY sc.vec_id) AS rn
        FROM sc) z, p WHERE z.rn <= p.k2
)"""
    )
    cent = "f0"
    for it in range(_IVF_ITERS - 1):
        ctes.append(assign_cte("sc", cent, f"fa{it}", "vec_id, v, coarse", True))
        ctes.append(update_cte(f"fa{it}", f"f{it + 1}", True))
        cent = f"f{it + 1}"
    ctes.append(
        f"""fbest AS (
    SELECT vec_id, cluster FROM (
        SELECT x.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                  ORDER BY {score}, c.cluster) AS rn
        FROM ac x JOIN {cent} c ON c.coarse = x.coarse
    ) WHERE rn = 1
)"""
    )
    ctes.append(
        """afinal AS (
    SELECT ac.vec_id,
           CAST(ac.coarse * p.k2 + COALESCE(fb.cluster, 0) AS INTEGER) AS cell
    FROM ac LEFT JOIN fbest fb ON fb.vec_id = ac.vec_id CROSS JOIN p
)"""
    )
    ctes.append(
        f"""centf AS (
    SELECT CAST(c.coarse * p.k2 + c.cluster AS INTEGER) AS cluster, c.c
    FROM {cent} c CROSS JOIN p
)"""
    )
    return ctes, "afinal", "centf"


def _ivf_sql() -> str:
    ctes, final, _cent = _ivf_ctes()
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT vec_id, CAST(cell AS INTEGER) AS cell,
       CAST(COUNT(*) OVER (PARTITION BY cell) AS INTEGER) AS cell_size
FROM {final}
ORDER BY vec_id
"""


ANN_IVF_SQL = _ivf_sql()


N_PLANES = 8  # 2^8 = 256 LSH buckets


# deterministic pseudo-random hyperplane component in [-1, 1):
# md5(plane|dim) -> 60-bit int -> scaled; the Spark side precomputes the
# same values driver-side (see _plane_components)
_PLANE_COMPONENT_DUCK = (
    "(CAST(CAST(('0x' || substr(md5(CONCAT({j}, '|', {i})), 1, 15)) AS UBIGINT)"
    " AS DOUBLE) / 576460752303423488.0 - 1.0)"
)


def _plane_components(j: int, dim: int) -> list[float]:
    """Plane ``j``'s component for dims 1..dim: deterministic md5 expansion.
    Precomputed driver-side as literals — int->double rounding and the
    /2^59 exponent shift are IEEE-exact, so these equal the oracle's
    SQL-side md5 expansion bit for bit, while the executors do zero
    hashing per row.
    """
    import hashlib

    return [
        int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[:15], 16)
        / 576460752303423488.0
        - 1.0
        for i in range(1, dim + 1)
    ]


def _hyperplane_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, bucket): the row-local sign-LSH assignment behind
    :func:`ann_hyperplane_buckets`, shared with [[ann_recall_report]]."""
    dim = _embedding_dim(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    plane = lambda j: _plane_components(j, dim)  # noqa: E731

    planes = [
        _fold_dot("v", F.array(*[F.lit(c) for c in plane(j)]))
        for j in range(N_PLANES)
    ]
    bucket = sum(
        [
            F.when(planes[j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(N_PLANES)
        ],
        F.lit(0),
    )
    bucketed = emb.select("vec_id", "v", bucket.cast("int").alias("bucket"))

    nrm = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return bucketed.withColumn("nrm", nrm)


def ann_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (sign) LSH over embeddings: 8 deterministic
    md5-derived hyperplanes -> 8 sign bits -> 256 buckets; report bucket
    occupancy and each bucket's top-2 closest pair.

    This is the embedding scale path beyond label blocking: bucket
    assignment is **row-local** (8 dot products per vector, no shuffle),
    the O(n^2) pair space shrinks to within-bucket pairs, and bucket keys
    shuffle as single integers. In production the same sketch feeds
    multi-probe search (flip lowest-margin bits) — the operator shape is
    identical.
    """
    bucketed = _hyperplane_bucketed(spark, sf_dir)
    a = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    b = bucketed.select(
        F.col("bucket").alias("b_bucket"), F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
    )
    dot = _fold_dot("av", "bv")
    pairs = (
        a.join(b, (F.col("bucket") == F.col("b_bucket")) & (F.col("a_id") < F.col("b_id")))
        .select(
            "bucket",
            "a_id",
            "b_id",
            F.round(dot / (F.col("an") * F.col("bn")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("cos_sim").desc(), F.col("a_id"), F.col("b_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 2)
        .select("bucket", "a_id", "b_id", "cos_sim", F.col("rn").alias("rank"))
        .orderBy("bucket", "rank")
    )


def _hyperplane_bucket_sql() -> str:
    """The 8-sign-bit bucket expression over a DOUBLE[] column ``v`` —
    shared between the ANN_HYPERPLANE oracle and [[ann_recall_report]]."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, list_transform(generate_series(1, 64),"
        f" i -> {_PLANE_COMPONENT_DUCK.format(i='i', j=j)})) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )


ANN_HYPERPLANE_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
planed AS (
    SELECT vec_id, v,
           {_hyperplane_bucket_sql()} AS bucket
    FROM e
),
n AS (
    SELECT vec_id, v, CAST(bucket AS INTEGER) AS bucket,
           SQRT(list_dot_product(v, v)) AS nrm
    FROM planed
),
pairs AS (
    SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT bucket, a_id, b_id, cos_sim, CAST(rn AS INTEGER) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                                 ORDER BY cos_sim DESC, a_id, b_id) AS rn
    FROM pairs
)
WHERE rn <= 2
ORDER BY bucket, rank
"""


def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment by key hash
    (80/10/10): bucket = md5('split|' || doc_id) mod 100 — stable under
    re-runs, re-partitioning, and data growth (a doc's split never changes
    when new docs arrive), which is the property a training pipeline needs.

    Scale: the hash is row-local; the only shuffle is the 3-group
    aggregation. On 100 TB the same expression is used as a partition
    filter (``WHERE bucket < 80``) so each split materialises with one
    scan and zero data movement beyond the write.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg(F.col("n_chars"), "avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split")
    )


DETERMINISTIC_SPLIT_SQL = f"""
WITH b AS (
    SELECT doc_id, n_chars,
           CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS UBIGINT)::BIGINT % 100 AS bucket
    FROM documents
),
s AS (
    SELECT *, CASE WHEN bucket < 80 THEN 'train'
                   WHEN bucket < 90 THEN 'validation'
                   ELSE 'test' END AS split
    FROM b
)
SELECT split, COUNT(*) AS n_docs, {oracle_davg('n_chars', 'avg_chars')},
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM s
GROUP BY split
ORDER BY split
"""


_WS_K = 100  # weighted sample size


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sample (Efraimidis-Spirakis A-RES):
    each doc draws u = md5-uniform in (0,1) and ranks by key = u^(1/w);
    the top-k keys are a sample where inclusion probability scales with
    weight w. Longer documents here get weight 4/2/1 (the "sample
    training docs proportional to quality" primitive).

    Cross-engine exactness: weights are POWERS OF TWO, so u^(1/w) is
    iterated ``sqrt`` — the one transcendental-free power, correctly
    rounded per IEEE-754 in both engines — and the ranking (rounded key,
    doc_id) is bit-identical; no libm pow/ln in sight.

    Scale: key assignment is row-local; top-k plans as
    TakeOrderedAndProject (per-task heaps, no global sort) — the same
    shape as the unweighted reservoir.
    """
    docs = table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**60))
    )
    tier = (
        F.when(F.col("n_chars") >= 400, 2)
        .when(F.col("n_chars") >= 150, 1)
        .otherwise(0)
    )
    key = (
        F.when(tier == 2, F.sqrt(F.sqrt(u)))  # w=4
        .when(tier == 1, F.sqrt(u))           # w=2
        .otherwise(u)                          # w=1
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.when(tier == 2, 4)
            .when(tier == 1, 2)
            .otherwise(1)
            .cast("bigint")
            .alias("weight"),
            F.round(key, 12).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(_WS_K)
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           CASE WHEN n_chars >= 400 THEN 2
                WHEN n_chars >= 150 THEN 1 ELSE 0 END AS tier,
           CAST(CAST(('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS UBIGINT) AS DOUBLE) / {float(2**60)} AS u
    FROM documents
)
SELECT doc_id, lang, n_chars,
       CAST(CASE tier WHEN 2 THEN 4 WHEN 1 THEN 2 ELSE 1 END AS BIGINT)
           AS weight,
       ROUND(CASE tier WHEN 2 THEN sqrt(sqrt(u))
                       WHEN 1 THEN sqrt(u) ELSE u END, 12) AS sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {_WS_K}
"""


NEAR_COS_TAU = 0.4  # synthetic embeddings are near-orthogonal; max pair ~0.51
_N_BANDS = 2  # 2 bands x 4 planes: OR-banding candidate generation


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH blocking
    + exact cosine verification (threshold ``NEAR_COS_TAU``).

    The missing dedup mode next to exact/MinHash/SimHash/n-gram: duplicates
    defined in *embedding* space. Shape: 8 row-local hyperplane sign bits
    (md5-derived planes shared bit-for-bit with the oracle) -> 2 OR-bands of
    4 bits -> per-bucket BLAS verify (cosine >= tau) -> DISTINCT collapses
    pairs caught by both bands.

    Scale: candidate generation never materialises the O(n^2) pair space —
    each bucket only pairs vectors agreeing on 4 sign bits (~6% of pairs at
    random). Verification groups each (band, key) bucket once and scores all
    its pairs with a single float64 matmul — the embedding family is the one
    place Arrow+numpy beats Catalyst (a per-pair interpreted fold costs ~64
    boxed ops; the matmul amortises to ~1 FLOP — the fold variant of this
    query benched 8x slower). The duplicate-band hit is collapsed by a
    DISTINCT on bare id pairs. At 100 TB you'd raise planes/bands to keep
    bucket sizes worker-bounded and AQE-skew-split hot buckets; the operator
    shape is unchanged.

    Determinism vs the oracle's fold-order dot products: float64 matmul
    differs only below ~1e-12; rounding to 4 decimals absorbs it (same
    argument as ``embedding_knn_label``).
    """
    import numpy as np
    import pandas as pd

    dim = _embedding_dim(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    planes = [
        _fold_dot("v", F.array(*[F.lit(c) for c in _plane_components(j, dim)]))
        for j in range(N_PLANES)
    ]
    per_band = N_PLANES // _N_BANDS

    def band_key(b: int) -> Column:
        return sum(
            [
                F.when(planes[b * per_band + k] > 0, F.lit(1 << k)).otherwise(F.lit(0))
                for k in range(per_band)
            ],
            F.lit(0),
        ).cast("int")

    keyed = emb.select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        pdf = pdf.sort_values("vec_id")  # triu below then yields a_id < b_id
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = _np_round_half_away((mat @ mat.T) / np.outer(norms, norms))
        ai, bi = np.triu_indices(len(ids), k=1)
        keep = sims[ai, bi] >= NEAR_COS_TAU
        return pd.DataFrame(
            {"a_id": ids[ai[keep]], "b_id": ids[bi[keep]], "cos_sim": sims[ai, bi][keep]}
        )

    # pinned partitioning: see embedding_knn_label (AQE would coalesce
    # the compute-dense per-bucket matmul stage below the bucket count)
    return (
        keyed.repartition(
            spark.sparkContext.defaultParallelism, "band", "key"
        )
        .groupBy("band", "key")
        .applyInPandas(bucket_pairs, schema="a_id long, b_id long, cos_sim double")
        .distinct()
        .orderBy("a_id", "b_id")
    )


def _duck_band_key(b: int, per_band: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(v, list_transform(generate_series(1, 64),"
        f" i -> {_PLANE_COMPONENT_DUCK.format(i='i', j=b * per_band + k)})) > 0"
        f" THEN {1 << k} ELSE 0 END)"
        for k in range(per_band)
    )
    return f"CAST({bits} AS INTEGER)"


DEDUP_EMBEDDING_COS_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
keyed AS (
    SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm,
           0 AS band, {_duck_band_key(0, N_PLANES // _N_BANDS)} AS key
    FROM e
    UNION ALL
    SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm,
           1 AS band, {_duck_band_key(1, N_PLANES // _N_BANDS)} AS key
    FROM e
)
SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
FROM keyed a JOIN keyed b
  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= {NEAR_COS_TAU}
ORDER BY a_id, b_id
"""


_PP_TAU = 0.5  # same threshold as dedup_near_minhash — but lossless
_PP_DOCS = 1000  # brute-force oracle bound: C(1000,2) pairs is DuckDB-feasible


def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family,
    Xiao et al., WWW 2008): two token sets with Jaccard >= t must share a
    token within each one's first ``n - ceil(t*n) + 1`` tokens when both
    are ordered rarest-first — so joining on prefix tokens is LOSSLESS
    candidate generation, unlike MinHash/SimHash banding which trade
    recall for cost. The oracle brute-forces every pair over the same
    document subset: the hash-match certifies 100% recall at the
    threshold, not just precision.

    Scale: document frequencies are one count aggregate; the rarest-first
    prefix keeps candidate fan-out near-linear on Zipfian vocabularies
    (common tokens never enter short prefixes). Everything shuffles by
    token or doc_id — the pair space never materializes. The subset cap
    exists only so the O(n²) ORACLE stays runnable; the operator itself
    (``prefix_join_pairs``, which ``graft.py scaling`` benches uncapped
    at sf1) has no such bound.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < _PP_DOCS)
    return prefix_join_pairs(docs)


def prefix_join_pairs(raw_docs: DataFrame) -> DataFrame:
    """Uncapped PPJoin core over any (doc_id, text) frame — see
    [[jaccard_prefix_join]] for semantics and the scale argument."""
    # persist the shingle sets: the frame fans out into the
    # document-frequency count AND the per-doc reorder, and without the
    # cache each branch re-pays the full parquet scan + shingling
    docs = scope.persist(
        raw_docs
        .select("doc_id", _tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.array_distinct(_shingles(F.col("toks"))).alias("toks"),
        )
    )
    toks = docs.select("doc_id", F.explode("toks").alias("tok"))
    df_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = scope.persist(
        toks.join(df_counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("arr")
        )
        .withColumn("n", F.size("arr"))
        .withColumn(
            "plen", F.col("n") - F.ceil(F.col("n") * F.lit(_PP_TAU)) + 1
        )
    )
    prefixes = ordered.select(
        "doc_id", F.explode(F.slice("arr", 1, F.col("plen"))).alias("tok")
    )
    cand = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    shared = F.size(F.array_intersect(F.col("na.arr"), F.col("nb.arr"))).cast("long")
    return (
        cand.join(ordered.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(ordered.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            shared.alias("n_shared"),
            F.round(
                shared.cast("double")
                / (F.col("na.n") + F.col("nb.n") - shared),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _PP_TAU)
        .orderBy("doc_a", "doc_b")
    )


PREFIX_JOIN_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks
    FROM documents WHERE doc_id < {_PP_DOCS}
),
sized AS (
    SELECT doc_id, arr, len(arr) AS n
    FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS arr
          FROM tok WHERE len(toks) >= 3)
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.arr, b.arr)) AS BIGINT) AS n_shared,
           a.n AS na, b.n AS nb
    FROM sized a JOIN sized b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (na + nb - n_shared), 4) AS jaccard
FROM pairs
WHERE ROUND(CAST(n_shared AS DOUBLE) / (na + nb - n_shared), 4) >= {_PP_TAU}
ORDER BY doc_a, doc_b
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram Jaccard near-dup: 3-MinHash AND-blocking (docs
    agreeing on all three seeded min-gram hashes become candidates),
    exact char-gram Jaccard verify at 0.6.

    Character grams complement word shingles: robust to whitespace and
    tokenization damage. Same row-local pattern as the word-level op:
    gram sets stay arrays, only a blocking key shuffles. Block width is a
    recall/cost dial: a single min-gram key degenerates on low-entropy
    corpora (common grams put thousands of docs in one block — measured
    3047/5000 here), while the 3-hash AND key keeps the worst block at
    ~200 docs. The recall cost of blocking is not asserted here but
    MEASURED: [[dedup_recall_report]] computes the caught-vs-planted
    curve per Jaccard bucket as an oracle-checked query.
    """
    docs = _fan_out(
        spark,
        table(spark, sf_dir, "documents").filter(F.length("text") >= 4),
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 3),
            lambda i: F.col("text").substr(i, F.lit(4)),
        )
    )

    def seeded_min(seed: int):
        return F.array_min(
            F.transform("arr", lambda g: F.md5(F.concat(F.lit(f"{seed}|"), g)))
        )

    # verify on 60-bit integer gram hashes instead of the gram strings:
    # bigint array_intersect is ~2x cheaper than string intersect, and
    # since the oracle hashes identically the comparison stays exact
    gram_hash = F.expr(
        "array_distinct(transform(arr,"
        " g -> CAST(CONV(SUBSTR(md5(g), 1, 15), 16, 10) AS BIGINT)))"
    )
    sets = scope.persist(
        docs.select("doc_id", grams.alias("arr"))
        .withColumn("block", F.concat(seeded_min(0), seeded_min(1), seeded_min(2)))
        .withColumn("harr", gram_hash)
        .withColumn("n", F.size("harr"))
        .select("doc_id", "block", "harr", "n")
    )

    cand = (
        sets.alias("a")
        .join(
            sets.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.harr").alias("arr_a"),
            F.col("b.harr").alias("arr_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
    )
    shared = F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
    return (
        cand.select(
            "doc_a",
            "doc_b",
            shared.alias("n_shared"),
            F.round(
                shared.cast("double") / (F.col("na") + F.col("nb") - shared), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.6)
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_SQL = """
WITH sets AS (
    SELECT doc_id,
           list_distinct(list_transform(generate_series(1, length(text) - 3),
                                        i -> substr(text, i, 4))) AS arr
    FROM documents
    WHERE length(text) >= 4
),
keyed AS (
    SELECT doc_id,
           list_min(list_transform(arr, g -> md5('0|' || g)))
           || list_min(list_transform(arr, g -> md5('1|' || g)))
           || list_min(list_transform(arr, g -> md5('2|' || g))) AS block,
           list_distinct(list_transform(arr,
               g -> CAST(('0x' || substr(md5(g), 1, 15)) AS UBIGINT)::BIGINT)) AS harr
    FROM sets
),
sized AS (SELECT doc_id, block, harr, len(harr) AS n FROM keyed),
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.harr, b.harr)) AS BIGINT) AS n_shared,
           a.n AS na, b.n AS nb
    FROM sized a JOIN sized b
      ON a.block = b.block AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (na + nb - n_shared), 4) AS jaccard
FROM cand
WHERE ROUND(CAST(n_shared AS DOUBLE) / (na + nb - n_shared), 4) >= 0.6
ORDER BY doc_a, doc_b
"""


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks (the
    context-window preparation step of a training/RAG pipeline).

    Row-local: the token array is sliced per chunk index and exploded to
    one row per chunk; chunk boundaries are pure arithmetic so the whole
    transform stays in one narrow stage — at 100 TB this is a map-only
    job with output ~ (1 + overlap/stride) x input.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.ceil((n - CHUNK_TOKENS) / F.lit(float(CHUNK_STRIDE))).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.slice("toks", i * CHUNK_STRIDE + 1, CHUNK_TOKENS).alias("ctoks"),
        ),
    )
    return (
        docs.filter(n > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.ctoks").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.col("c.ctoks")).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


DOC_CHUNKING_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
sized AS (
    SELECT doc_id, toks, len(toks) AS n,
           CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                ELSE CAST(CEIL((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INTEGER) + 1
           END AS n_chunks
    FROM tok WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       CAST(len(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS INTEGER)
           AS n_chunk_tokens,
       array_to_string(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')
           AS chunk_text
FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS t(i)
ORDER BY doc_id, chunk_id
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics by language: doc counts, char/token distributions."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens(F.col("text")))
    return (
        docs.select("lang", "n_chars", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            davg(F.col("n_chars"), "avg_chars"),
            F.max("n_tokens").alias("max_tokens"),
            davg(F.col("n_tokens"), "avg_tokens"),
        )
        .orderBy("lang")
    )


TEXT_STATS_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {oracle_davg('n_chars', 'avg_chars')},
       CAST(MAX(len({TOKENS_SQL})) AS INTEGER) AS max_tokens,
       {oracle_davg(f'len({TOKENS_SQL})', 'avg_tokens')}
FROM documents
GROUP BY lang
ORDER BY lang
"""

_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, stopword ratio, mean
    token length — the length/stopword heuristics of a training-data
    quality filter, all in codegen (no UDF)."""
    docs = _fan_out(spark, table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*_STOPWORDS))
    )
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            F.round(n_stop.cast("double") / n_tokens, 4).alias("stop_ratio"),
            F.round(total_len.cast("double") / n_tokens, 4).alias("mean_token_len"),
        )
        .filter(F.col("n_tokens") > 0)
        .orderBy("doc_id")
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)

DOC_QUALITY_SQL = f"""
WITH tok AS (
    SELECT doc_id, lang, {TOKENS_SQL} AS toks FROM documents
)
SELECT doc_id, lang,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       ROUND(CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE)
             / len(toks), 4) AS stop_ratio,
       ROUND(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
             / len(toks), 4) AS mean_token_len
FROM tok
WHERE len(toks) > 0
ORDER BY doc_id
"""


def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the MinHash banding used by
    [[dedup_near_minhash]]: every document is paired with a PLANTED
    near-duplicate (drop every m-th token, m = 2 + doc_id % 5, so planted
    similarity spans a range), the pair's EXACT shingle Jaccard is
    computed, and "caught" means the two variants share at least one LSH
    band key — i.e. the candidate join would have surfaced the pair.
    Output: per 0.1-wide Jaccard bucket, planted pairs vs caught pairs
    and the recall ratio. This turns the banding parameters' recall curve
    (band count x band width vs similarity) from a hand-tuned docstring
    claim into a computed, oracle-checked number.

    Scale: the planted pair lives INSIDE its row — variant construction,
    shingling, signatures, and the band-key comparison are all row-local
    codegen; the only exchange is the final ~10-row bucket aggregate. No
    join, no shuffle of text. Recall audits at 100 TB cost one scan.
    """
    # widen BEFORE tokenizing (see dedup_near_minhash): otherwise the
    # token projection lands below the repartition exchange, inside the
    # 1-split scan stage
    docs = _fan_out(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", _tokens(F.col("text")).alias("toks"))
    m = F.lit(2) + F.pmod(F.col("doc_id"), F.lit(5))
    # |vtoks| in closed form: the variant keeps indices i in [1..n] with
    # i % m != 0, so exactly n - (n div m) survive. Filtering on the
    # arithmetic instead of size(vtoks) matters because Catalyst pushes
    # filters below the repartition exchange, re-deriving every
    # expression the predicate mentions inside the scan stage — with
    # size(vtoks) that re-ran the whole per-token variant construction
    # serially in the 1-split scan (measured 3.9 s of this query's 4.5 s)
    n_toks = F.size("toks")
    pairs = (
        docs.filter(
            (n_toks >= 3) & (n_toks - F.expr("size(toks) div (2 + pmod(doc_id, 5))") >= 3)
        )
        .withColumn(
            "vtoks",
            F.transform(
                F.filter(
                    F.sequence(F.lit(1), F.size("toks")),
                    lambda i: i % m != 0,
                ),
                lambda i: F.element_at("toks", i),
            ),
        )
        .select(
            "doc_id",
            F.array_distinct(_shingles(F.col("toks"))).alias("arr_a"),
            F.array_distinct(_shingles(F.col("vtoks"))).alias("arr_b"),
        )
    )

    n_inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("double")
    jac = n_inter / (F.size("arr_a") + F.size("arr_b") - n_inter)
    # one fold per side instead of 8 transforms per side (_minhash_struct)
    sigged = pairs.select(
        (F.floor(jac * 10) / 10).alias("jaccard_bucket"),
        _minhash_struct("arr_a").alias("ma"),
        _minhash_struct("arr_b").alias("mb"),
    )
    caught = None
    for b in range(N_BANDS):
        hit = (
            F.concat(F.col(f"ma.h{2 * b}"), F.col(f"ma.h{2 * b + 1}"))
            == F.concat(F.col(f"mb.h{2 * b}"), F.col(f"mb.h{2 * b + 1}"))
        )
        caught = hit if caught is None else caught | hit
    scored = sigged.select(
        "jaccard_bucket",
        caught.cast("int").alias("caught"),
    )
    return (
        scored.groupBy("jaccard_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("caught").alias("n_caught"),
        )
        .select(
            "jaccard_bucket",
            "n_pairs",
            "n_caught",
            F.round(F.col("n_caught") / F.col("n_pairs"), 4).alias("recall"),
        )
        .orderBy("jaccard_bucket")
    )


_SHINGLES_V_SQL = SHINGLES_SQL.replace("toks", "vtoks")

_SIG_A_SQL = ", ".join(
    f"list_min(list_transform(arr_a, s -> md5('{i}|' || s))) AS ha{i}"
    for i in range(N_HASHES)
)
_SIG_B_SQL = ", ".join(
    f"list_min(list_transform(arr_b, s -> md5('{i}|' || s))) AS hb{i}"
    for i in range(N_HASHES)
)
_CAUGHT_SQL = " OR ".join(
    f"(ha{2 * b} || ha{2 * b + 1} = hb{2 * b} || hb{2 * b + 1})"
    for b in range(N_BANDS)
)

DEDUP_RECALL_SQL = f"""
WITH tok AS (
    SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
pair AS (
    SELECT doc_id, toks,
           list_transform(
               list_filter(generate_series(1, len(toks)),
                           i -> i % (2 + doc_id % 5) != 0),
               i -> toks[i]) AS vtoks
    FROM tok WHERE len(toks) >= 3
),
sets AS (
    SELECT doc_id,
           list_distinct({SHINGLES_SQL}) AS arr_a,
           list_distinct({_SHINGLES_V_SQL}) AS arr_b
    FROM pair WHERE len(vtoks) >= 3
),
sig AS (
    SELECT doc_id, arr_a, arr_b,
           CAST(len(list_intersect(arr_a, arr_b)) AS DOUBLE) AS ninter,
           {_SIG_A_SQL},
           {_SIG_B_SQL}
    FROM sets
),
scored AS (
    SELECT FLOOR(ninter / (len(arr_a) + len(arr_b) - ninter) * 10) / 10
               AS jaccard_bucket,
           CASE WHEN {_CAUGHT_SQL} THEN 1 ELSE 0 END AS caught
    FROM sig
)
SELECT jaccard_bucket,
       COUNT(*) AS n_pairs,
       CAST(SUM(caught) AS BIGINT) AS n_caught,
       ROUND(CAST(SUM(caught) AS DOUBLE) / COUNT(*), 4) AS recall
FROM scored
GROUP BY jaccard_bucket
ORDER BY jaccard_bucket
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding space (mean/std/min/max
    for each of the 64 dims) — the statistics behind whitening,
    normalization QA, and dead-dimension detection before ANN indexing.

    Float determinism: each value is scaled to exact integer micro-units
    (``round(v * 1e6)``) so the sums are EXACT integers on both engines
    and the mean/variance arithmetic is a single identical double
    expression — aggregation order can't shift a bit. At sums beyond
    ~2^63 micro-units² per dimension swap the integer sums for
    DECIMAL(38,0); the shape is otherwise scale-free (explode -> one
    hash aggregate on a 64-key space, map-side combinable).
    """
    dims = (
        table(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("dim", "vf"))
        .select(
            "dim",
            F.col("vf").cast("double").alias("v"),
            F.round(F.col("vf").cast("double") * 1e6).cast("long").alias("vi"),
        )
    )
    n = F.count(F.lit(1))
    s = F.sum("vi").cast("double")
    sq = F.sum(F.col("vi") * F.col("vi")).cast("double")
    mean = s / F.lit(1e6) / n
    var = (sq / F.lit(1e12) - (s / F.lit(1e6)) * (s / F.lit(1e6)) / n) / (n - 1)
    return (
        dims.groupBy("dim")
        .agg(
            n.alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(F.sqrt(var), 6).alias("std"),
            F.round(F.min("v"), 6).alias("vmin"),
            F.round(F.max("v"), 6).alias("vmax"),
        )
        .orderBy("dim")
    )


EMBEDDING_DIM_STATS_SQL = """
WITH dims AS (
    SELECT dim, v, CAST(ROUND(v * 1000000.0) AS BIGINT) AS vi
    FROM (
        SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
               unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        FROM embeddings
    )
)
SELECT dim,
       COUNT(*) AS n,
       ROUND(CAST(SUM(vi) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS mean,
       ROUND(SQRT((CAST(SUM(vi * vi) AS DOUBLE) / 1000000000000.0
                   - (CAST(SUM(vi) AS DOUBLE) / 1000000.0)
                     * (CAST(SUM(vi) AS DOUBLE) / 1000000.0) / COUNT(*))
                  / (COUNT(*) - 1)), 6) AS std,
       ROUND(MIN(v), 6) AS vmin,
       ROUND(MAX(v), 6) AS vmax
FROM dims
GROUP BY dim
ORDER BY dim
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_near_minhash": dedup_near_minhash,
    "dedup_near_minhash_capped": dedup_near_minhash_capped,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_star": dedup_clusters,
    "leakage_free_split": leakage_free_split,
    "decontaminate_overlap": decontaminate_overlap,
    "embedding_topk": embedding_topk,
    "embedding_knn_label": embedding_knn_label,
    "ann_hyperplane_buckets": ann_hyperplane_buckets,
    "ann_ivf_kmeans": ann_ivf_kmeans,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "embedding_dim_stats": embedding_dim_stats,
    "deterministic_split": deterministic_split,
    "weighted_sample_docs": weighted_sample_docs,
    "jaccard_prefix_join": jaccard_prefix_join,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "dedup_recall_report": dedup_recall_report,
    "doc_chunking": doc_chunking,
    "text_stats": text_stats,
    "doc_quality": doc_quality,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_near_minhash": DEDUP_NEAR_SQL,
    "dedup_near_minhash_capped": DEDUP_NEAR_CAPPED_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_clusters_star": DEDUP_CLUSTERS_SQL,
    "leakage_free_split": LEAKAGE_FREE_SPLIT_SQL,
    "decontaminate_overlap": DECONTAMINATE_SQL,
    "embedding_topk": EMBEDDING_TOPK_SQL,
    "embedding_knn_label": EMBEDDING_KNN_LABEL_SQL,
    "ann_hyperplane_buckets": ANN_HYPERPLANE_SQL,
    "ann_ivf_kmeans": ANN_IVF_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_COS_SQL,
    "embedding_dim_stats": EMBEDDING_DIM_STATS_SQL,
    "deterministic_split": DETERMINISTIC_SPLIT_SQL,
    "weighted_sample_docs": WEIGHTED_SAMPLE_SQL,
    "jaccard_prefix_join": PREFIX_JOIN_SQL,
    "ngram_jaccard_pairs": NGRAM_JACCARD_SQL,
    "dedup_recall_report": DEDUP_RECALL_SQL,
    "doc_chunking": DOC_CHUNKING_SQL,
    "text_stats": TEXT_STATS_SQL,
    "doc_quality": DOC_QUALITY_SQL,
}
