"""Round-8 wave-26 operators: the query-serving tail of the vector-index
family plus a constant-memory decontamination pre-screen.

* ``ann_refine_rerank`` — the two-stage IVF-PQ search every production
  deployment actually runs (Jégou et al. 2011 §V; FAISS's
  ``IndexIVFPQ + refine``): stage 1 scores candidates by the ADC
  approximation against the shipped index (the [[ann_ivfpq_adc_search]]
  core, shortlist depth R=20), stage 2 fetches the RAW vectors for the
  R-row shortlist only and re-ranks by exact L2. The output keeps each
  survivor's stage-1 ``adc_rank`` so the relation itself shows what the
  refine step bought (rank inversions the 8-bit codes got wrong).
* ``matryoshka_recall`` — truncated-dimension recall audit (Kusupati et
  al. 2022, "Matryoshka Representation Learning", NeurIPS): for each
  audit probe, brute-force top-5 under the first 8/16/32/64 dims vs the
  full-dim truth, reporting recall@5 per (dim_kept, probe). The go/no-go
  gate before serving a cheaper dim-sliced index.
* ``bloom_decontaminate`` — Bloom-filter benchmark decontamination
  pre-screen (Bloom 1970; the constant-memory alternative to
  [[decontaminate_overlap]]'s exact broadcast semi-join): the benchmark
  side collapses to a fixed ``m = 4096``-bit filter (k = 3 md5-derived
  positions per shingle), every distinct corpus shingle probes the
  filter, and the per-source report audits the screen against exact
  membership — candidate volume, exact hits, false positives, measured
  FPR. Zero false negatives by construction (the test asserts it).

Scale: the refine stage joins raw vectors against a per-probe R-row
shortlist — corpus scans stay in the ADC/code domain, so the exact
arithmetic touches |probes| x R rows no matter the corpus size. The
matryoshka audit is probe-bounded: one corpus scan computes all four
prefix distances per row (per-block fixed-point partials summed
cumulatively — no per-dim rescan). The Bloom screen is the 100 TB
point: the broadcast state is the FILTER (<= m rows of bit positions,
fixed at build time), not the benchmark shingle set, and the per-shingle
flags attach to the corpus through one unhinted vocabulary-shaped
equi-join (never hint-broadcast, per the repo's broadcast posture).

Float determinism: every distance is quantized to micro-units per
block/subspace BEFORE cross-block sums (exact integer addition in any
order on both engines); md5 is bit-identical in Spark and DuckDB and
positions are 60-bit ints mod m.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import TOKENS_SQL, _fold_dot, _shingles, _tokens
from waterbear_spark.queries.tables import table
from waterbear_spark.queries.wave20 import (
    _ADC_FP,
    _ADC_TOPK,
    _SWEEP_K,
    _adc_chain,
    _adc_scored,
)

_REFINE_R = 20  # stage-1 ADC shortlist depth (>> final top-k)

_MAT_DIMS = (8, 16, 32, 64)  # matryoshka prefix widths; last = full dim

_BLOOM_BITS = 4096  # filter size m (fixed — the broadcast-state bound)
_BLOOM_K = 3  # hash functions per shingle


def ann_refine_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ search: ADC shortlist (R={r}) -> exact re-rank
    (top {t}) — see module docstring. Output: (query_id, rank, vec_id,
    exact_dist, adc_rank), ordered."""
    scored, probes, emb = _adc_scored(spark, sf_dir)
    w_adc = Window.partitionBy("query_id").orderBy("s_fp", "vec_id")
    short = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= _REFINE_R)
        .select("query_id", "vec_id", "adc_rank")
    )
    # stage 2: raw vectors for the shortlist rows ONLY (per-probe R rows)
    d = (_fold_dot("v", "v") - 2 * _fold_dot("qv", "v")) + _fold_dot("qv", "qv")
    exact = (
        short.join(emb, "vec_id")
        .join(F.broadcast(probes), "query_id")
        .select(
            "query_id",
            "vec_id",
            "adc_rank",
            F.floor(d * _ADC_FP + F.lit(0.5)).cast("long").alias("d_fp"),
        )
    )
    w_ex = Window.partitionBy("query_id").orderBy("d_fp", "vec_id")
    return (
        exact.withColumn("rank", F.row_number().over(w_ex))
        .filter(F.col("rank") <= _ADC_TOPK)
        .select(
            "query_id",
            F.col("rank").cast("int"),
            "vec_id",
            F.round(F.col("d_fp") / F.lit(float(_ADC_FP)), 6).alias("exact_dist"),
            F.col("adc_rank").cast("int"),
        )
        .orderBy("query_id", "rank")
    )

ann_refine_rerank.__doc__ = ann_refine_rerank.__doc__.format(r=_REFINE_R, t=_ADC_TOPK)


REFINE_RERANK_SQL = f"""
{_adc_chain()},
short AS (
    SELECT query_id, vec_id, adc_rank FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY s_fp, vec_id) AS adc_rank
        FROM scored
    ) WHERE adc_rank <= {_REFINE_R}
),
exact AS (
    SELECT s.query_id, s.vec_id, s.adc_rank,
           CAST(FLOOR(((list_dot_product(e.v, e.v)
                        - 2 * list_dot_product(q.qv, e.v))
                       + list_dot_product(q.qv, q.qv))
                      * {_ADC_FP} + 0.5) AS BIGINT) AS d_fp
    FROM short s
    JOIN e ON e.vec_id = s.vec_id
    JOIN q ON q.query_id = s.query_id
)
SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id,
       ROUND(d_fp / {float(_ADC_FP)}, 6) AS exact_dist,
       CAST(adc_rank AS INTEGER) AS adc_rank
FROM (
    SELECT query_id, vec_id, adc_rank, d_fp,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d_fp, vec_id) AS rn
    FROM exact
) WHERE rn <= {_ADC_TOPK}
ORDER BY query_id, rank
"""


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force recall@5 of prefix-dim distances vs full-dim truth
    for the {k} audit probes at dims {dims} — see module docstring.
    Output: (dim_kept, query_id, hits, recall_at_5), ordered."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    # r11: the two self-dots of each block distance are per-VECTOR and
    # per-PROBE constants — compute them once per corpus row / probe row
    # instead of once per (pair, reference); only the cross term qb.vb
    # is per-pair work (guide §1.2 per-task work). Same fold order, so
    # the assembled (a - 2c) + q doubles are bit-identical.
    def _block_norms(col: Column) -> Column:
        arr, prev = [], 0
        for dim in _MAT_DIMS:
            sl = F.slice(col, prev + 1, dim - prev)
            arr.append(_fold_dot(sl, sl))
            prev = dim
        return F.array(*arr)

    emb2 = emb.select("vec_id", "v", _block_norms(F.col("v")).alias("nb"))
    probes = emb2.filter(F.col("vec_id") < _SWEEP_K).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nb").alias("qnb"),
    )
    pairs = emb2.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # one corpus scan: per-block fixed-point partial distances, summed
    # cumulatively into the four prefix distances. The single-element
    # explode materializes the block array ONCE per pair — without the
    # barrier each block's interpreted dot re-evaluates inside every
    # cumulative prefix referencing it (the documented HOF trap).
    blocks, prev = [], 0
    for i, dim in enumerate(_MAT_DIMS):
        width = dim - prev
        vb = F.slice("v", prev + 1, width)
        qb = F.slice("qv", prev + 1, width)
        part = (
            F.element_at("nb", i + 1) - 2 * _fold_dot(qb, vb)
        ) + F.element_at("qnb", i + 1)
        blocks.append(F.floor(part * _ADC_FP + F.lit(0.5)).cast("long"))
        prev = dim
    barrier = pairs.select(
        "query_id", "vec_id", F.explode(F.array(F.array(*blocks))).alias("bs")
    )
    dims_sql = ", ".join(str(d) for d in _MAT_DIMS)
    dists = barrier.select(
        "query_id",
        "vec_id",
        F.explode(
            F.expr(
                f"""
                transform(sequence(1, {len(_MAT_DIMS)}), i -> named_struct(
                  'dim_kept', element_at(array({dims_sql}), i),
                  'dist_fp', aggregate(slice(bs, 1, i), CAST(0 AS BIGINT),
                                       (s, x) -> s + x)))
                """
            )
        ).alias("x"),
    ).select("query_id", "vec_id", "x.dim_kept", "x.dist_fp")
    w_rk = Window.partitionBy("dim_kept", "query_id").orderBy("dist_fp", "vec_id")
    top = (
        dists.withColumn("rn", F.row_number().over(w_rk))
        .filter(F.col("rn") <= _SWEEP_K)
        .select("dim_kept", "query_id", "vec_id")
    )
    truth = (
        top.filter(F.col("dim_kept") == _MAT_DIMS[-1])
        .select("query_id", "vec_id", F.lit(1).alias("is_hit"))
    )
    return (
        top.join(truth, ["query_id", "vec_id"], "left")
        .groupBy("dim_kept", "query_id")
        .agg(F.sum(F.coalesce(F.col("is_hit"), F.lit(0))).alias("h"))
        .select(
            F.col("dim_kept").cast("int"),
            "query_id",
            F.col("h").cast("int").alias("hits"),
            F.round(F.col("h") / F.lit(float(_SWEEP_K)), 4).alias("recall_at_5"),
        )
        .orderBy("dim_kept", "query_id")
    )

matryoshka_recall.__doc__ = matryoshka_recall.__doc__.format(k=_SWEEP_K, dims=list(_MAT_DIMS))


def _mat_blocks_sql() -> tuple[str, str]:
    """(block column SQL, cumulative UNNEST lists) for the oracle."""
    cols, prev = [], 0
    for i, dim in enumerate(_MAT_DIMS, start=1):
        vb = f"e.v[{prev + 1}:{dim}]"
        qb = f"q.qv[{prev + 1}:{dim}]"
        cols.append(
            f"CAST(FLOOR(((list_dot_product({vb}, {vb})"
            f" - 2 * list_dot_product({qb}, {vb}))"
            f" + list_dot_product({qb}, {qb}))"
            f" * {_ADC_FP} + 0.5) AS BIGINT) AS b{i}"
        )
        prev = dim
    cums = [
        " + ".join(f"b{j}" for j in range(1, i + 1))
        for i in range(1, len(_MAT_DIMS) + 1)
    ]
    return ",\n           ".join(cols), ", ".join(cums)


_MAT_BLOCK_COLS, _MAT_CUMS = _mat_blocks_sql()

MATRYOSHKA_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_SWEEP_K}),
blocks AS (
    SELECT q.query_id, e.vec_id,
           {_MAT_BLOCK_COLS}
    FROM e JOIN q ON e.vec_id <> q.query_id
),
dists AS (
    SELECT query_id, vec_id,
           UNNEST([{", ".join(str(d) for d in _MAT_DIMS)}]) AS dim_kept,
           UNNEST([{_MAT_CUMS}]) AS dist_fp
    FROM blocks
),
top AS (
    SELECT dim_kept, query_id, vec_id FROM (
        SELECT dim_kept, query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY dim_kept, query_id
                                  ORDER BY dist_fp, vec_id) AS rn
        FROM dists
    ) WHERE rn <= {_SWEEP_K}
),
truth AS (
    SELECT query_id, vec_id FROM top WHERE dim_kept = {_MAT_DIMS[-1]}
)
SELECT CAST(t.dim_kept AS INTEGER) AS dim_kept, t.query_id,
       CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS INTEGER) AS hits,
       ROUND(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / {float(_SWEEP_K)}, 4) AS recall_at_5
FROM top t
LEFT JOIN truth tr ON tr.query_id = t.query_id AND tr.vec_id = t.vec_id
GROUP BY t.dim_kept, t.query_id
ORDER BY t.dim_kept, t.query_id
"""


def _bloom_pos(j: int, col) -> Column:
    """Bit position of hash function ``j`` for a shingle: md5 -> 60-bit
    int -> mod m. Identical bytes to the oracle's CONCAT/UBIGINT form."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}|"), col)), 1, 15), 16, 10
        ).cast("long")
        % _BLOOM_BITS
    )


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-screen + false-positive audit,
    per source — see module docstring. Output: (source, probed,
    bloom_pos, exact_pos, false_pos, fpr), ordered by source."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", _tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)  # _shingles requires >= k tokens
    )
    # persist = the anti-Generate-re-evaluation barrier (see
    # decontaminate_overlap); three subtrees consume the shingle sets
    # (bench filter, train explode, final flag join) — benched ~15x
    # faster persisted at sf0.1
    sh = scope.persist(docs.select(
        "doc_id", "source", F.array_distinct(_shingles(F.col("toks"))).alias("arr")
    ))
    bench = (
        sh.filter(F.col("doc_id") < 10)
        .select(F.explode("arr").alias("s"))
        .distinct()
    )
    # the filter: <= m distinct bit positions — fixed-size broadcast state
    fbits = (
        bench.select(
            F.explode(
                F.array(*[_bloom_pos(j, F.col("s")) for j in range(_BLOOM_K)])
            ).alias("p")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter(F.col("doc_id") >= 10).select(
        "doc_id", "source", F.explode("arr").alias("s")
    )
    # flag each DISTINCT corpus shingle once; flags re-attach through an
    # unhinted vocabulary-shaped equi-join (never hint-broadcast)
    vocab = train.select("s").distinct()
    vpos = vocab.select(
        "s",
        F.explode(
            F.array(*[_bloom_pos(j, F.col("s")) for j in range(_BLOOM_K)])
        ).alias("p"),
    )
    bloom_flag = (
        vpos.join(F.broadcast(fbits), "p", "left")
        .groupBy("s")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) == _BLOOM_K).alias("bloom"))
    )
    flags = bloom_flag.join(
        bench.withColumn("exact", F.lit(True)), "s", "left"
    ).select("s", "bloom", F.coalesce(F.col("exact"), F.lit(False)).alias("exact"))
    per_src = (
        train.join(flags, "s")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("probed"),
            F.sum(F.col("bloom").cast("long")).alias("bloom_pos"),
            F.sum(F.col("exact").cast("long")).alias("exact_pos"),
        )
    )
    neg = F.greatest(F.col("probed") - F.col("exact_pos"), F.lit(1))
    return per_src.select(
        "source",
        "probed",
        "bloom_pos",
        "exact_pos",
        (F.col("bloom_pos") - F.col("exact_pos")).alias("false_pos"),
        F.round((F.col("bloom_pos") - F.col("exact_pos")) / neg, 6).alias("fpr"),
    ).orderBy("source")


_BLOOM_POS_SQL = (
    "CAST(CAST(('0x' || substr(md5(CONCAT(j, '|', s)), 1, 15)) AS UBIGINT)"
    f" % {_BLOOM_BITS} AS BIGINT)"
)

BLOOM_DECONTAMINATE_SQL = f"""
WITH tok AS (
    SELECT doc_id, source, {TOKENS_SQL} AS toks FROM documents
),
sh AS (
    SELECT doc_id, source,
           list_distinct(list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS arr
    FROM tok WHERE len(toks) >= 3
),
bench AS (
    SELECT DISTINCT unnest(arr) AS s FROM sh WHERE doc_id < 10
),
hs AS (SELECT UNNEST([{", ".join(str(j) for j in range(_BLOOM_K))}]) AS j),
fbits AS (
    SELECT DISTINCT {_BLOOM_POS_SQL} AS p FROM bench, hs
),
train AS (
    SELECT doc_id, source, unnest(arr) AS s FROM sh WHERE doc_id >= 10
),
vocab AS (SELECT DISTINCT s FROM train),
vpos AS (
    SELECT s, {_BLOOM_POS_SQL} AS p FROM vocab, hs
),
bloomf AS (
    SELECT v.s,
           SUM(CASE WHEN f.p IS NOT NULL THEN 1 ELSE 0 END) = {_BLOOM_K}
               AS bloom
    FROM vpos v LEFT JOIN fbits f USING (p)
    GROUP BY v.s
),
flags AS (
    SELECT b.s, b.bloom, e.s IS NOT NULL AS exact
    FROM bloomf b LEFT JOIN bench e USING (s)
)
SELECT t.source,
       COUNT(*) AS probed,
       CAST(SUM(CASE WHEN f.bloom THEN 1 ELSE 0 END) AS BIGINT) AS bloom_pos,
       CAST(SUM(CASE WHEN f.exact THEN 1 ELSE 0 END) AS BIGINT) AS exact_pos,
       CAST(SUM(CASE WHEN f.bloom THEN 1 ELSE 0 END)
            - SUM(CASE WHEN f.exact THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
       ROUND((SUM(CASE WHEN f.bloom THEN 1 ELSE 0 END)
              - SUM(CASE WHEN f.exact THEN 1 ELSE 0 END))
             / GREATEST(COUNT(*) - SUM(CASE WHEN f.exact THEN 1 ELSE 0 END),
                        1), 6) AS fpr
FROM train t JOIN flags f USING (s)
GROUP BY t.source
ORDER BY t.source
"""


QUERIES = {
    "ann_refine_rerank": ann_refine_rerank,
    "matryoshka_recall": matryoshka_recall,
    "bloom_decontaminate": bloom_decontaminate,
}

ORACLES = {
    "ann_refine_rerank": REFINE_RERANK_SQL,
    "matryoshka_recall": MATRYOSHKA_SQL,
    "bloom_decontaminate": BLOOM_DECONTAMINATE_SQL,
}
