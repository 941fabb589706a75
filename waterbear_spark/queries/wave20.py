"""Round-6 wave-20 operators: vector-index compression and search dials.

* ``pq_reconstruction_audit`` — Product Quantization codebook training
  + reconstruction audit (Jégou et al. 2011, "Product Quantization for
  Nearest Neighbor Search", IEEE TPAMI 33(1)): the embedding splits
  into M=4 contiguous subspaces; each subspace trains its own
  deterministic Lloyd codebook (K=8, init = subvectors of vec_id
  0..K-1, three assignment passes — the classic single-level Lloyd
  recipe, run per subspace); every vector's subvector maps
  to its nearest code and the audit reports, per (subspace, code),
  the occupancy and the mean squared reconstruction error. This is the
  compression half of an IVF-PQ index ([[ann_ivf_kmeans]] is the
  coarse half; [[embedding_quantization_audit]] audits the scalar-int8
  alternative): PQ stores ceil(log2 K) bits per subspace instead of
  width floats, and the MSE table is the "is this codebook good
  enough" gate. K stays constant here BY DESIGN — a PQ codebook's
  size is an accuracy/bits dial, not a data-partitioning dial, so
  unlike the IVF cell count it must NOT scale with the corpus (no
  per-cell pair join exists to bound).
* ``ann_ivf_probe_sweep`` — the nprobe recall curve for the shipped
  IVF index: takes the exact shipped assignment and fine centroids
  from ``llm._ivf_index`` (the two-level sample-trained quantizer —
  round 7 removed this query's private single-level re-derivation,
  which could silently drift from the index it claimed to audit),
  ranks all cells by distance from each of the 5 audit probes, and
  measures recall@5 and candidate volume when the search visits the
  nearest 1, 2, or 4 cells. Extends [[ann_recall_report]] (which fixed nprobe=1 — the
  probe's own cell) into the cost/recall DIAL a production deployment
  actually tunes; same brute-force truth set ([[embedding_topk]]).

Scale: PQ training is M bounded driver loops whose update passes (r9)
touch only the ``vec_id < _PQ_TRAIN_CAP`` sample — each iteration one
SAMPLE scan scoring against K broadcast literals + a (code, dim)-keyed
decimal mean, K x width tiny — and the full corpus is scanned exactly
once per subspace, for the final assignment; the audit output is M*K
rows. The probe sweep adds only a (5 probes x K cells) ranking grid
and equi-joins candidate cells back to the one-scan assignment —
probe-side work, never a pair space. Train-on-sample +
assign-full-corpus-once is the standard IVF-PQ build shape, and it is
now the implemented one, not an aspiration.

Float determinism: every dot product is a sequential left fold (the
IEEE order of DuckDB's ``list_dot_product``), centroid means are exact
DECIMAL sums divided once, distance ties break on the lower code/cell
id, and reconstruction errors ride ``DECIMAL(20,6)`` sums — so both
engines see bit-identical assignments and 6-dp-exact error sums, no
tolerance anywhere.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import _embedding_dim, _fold_dot
from waterbear_spark.queries.tables import DEC, table

_PQ_M = 4  # subspaces
_PQ_K = 8  # codes per subspace codebook (a bits dial — never scales with n)
_PQ_ITERS = 3  # assignment passes; centroid updates run ITERS-1 times
# codebook-training sample bound (round 9, the IVF precedent): centroid
# updates touch only the deterministic ``vec_id < _PQ_TRAIN_CAP`` prefix
# (== llm's _IVF_TRAIN_FLOOR), so training cost stops scaling with the
# corpus while the one full-corpus pass per subspace is the assignment.
# Below the cap (sf0.01/sf0.1) the sample IS the corpus — hashes
# unchanged; at/above it (sf1: 20k vectors) both engines derive the
# same sample-trained codebooks through the mirrored t{m} CTEs.
_PQ_TRAIN_CAP = 16384

_SWEEP_NPROBE = (1, 2, 4)
_SWEEP_K = 5  # probe count and truth depth (matches embedding_topk)


def _vv(col: str) -> Column:
    """||v||^2 as the same sequential left fold as list_dot_product."""
    return F.aggregate(
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )


def _kmeans(
    vecs: DataFrame, k: int, iters: int, train: DataFrame | None = None
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Deterministic Lloyd k-means over a (vec_id, v double[]) frame:
    init = vectors 0..k-1, ``iters`` assignment passes, decimal-exact
    centroid means, ties to the lowest code id — the classic
    single-level Lloyd recipe as a reusable helper (the IVF index
    itself uses the two-level sampled ``llm._ivf_index``; this one is
    for bounded-K codebooks only). Returns the final assignment
    (vec_id, code, err = squared distance to the chosen centroid,
    evaluated as (c.c - 2 v.c) + v.v so both engines share the
    parenthesization) and the final centroids.

    ``train`` (round 9, the IVF precedent applied to PQ): when given,
    the seed rows and the ``iters - 1`` centroid-update passes touch
    ONLY the train frame; the full ``vecs`` relation is scanned exactly
    once, for the final assignment. With ``train=None`` (or a train
    frame covering all of ``vecs``) the result is bit-identical to the
    all-corpus recipe — same seed rows, same update inputs, same pass
    count — so small corpora certify unchanged while huge ones stop
    paying ``(iters - 1) * M`` full scans for codebook training.
    """
    train = vecs if train is None else train
    # init = the k LOWEST train vec_ids (TakeOrdered, bounded), cluster
    # ids 0..k-1 in vec_id order — not ``vec_id < k``, which silently
    # seeds nothing on sparse/non-contiguous ids (the llm._ivf_index
    # round-8 fix, applied to the PQ level in lockstep with its oracle
    # CTE); identical on contiguous ids, where rank-1 == vec_id
    seed_rows = sorted(
        train.orderBy("vec_id").limit(k).collect(), key=lambda r: r["vec_id"]
    )
    init = {i: list(r["v"]) for i, r in enumerate(seed_rows)}
    if not init:
        # empty table: no centroids to seed — emit the output shape with
        # zero rows (same contract as llm._ivf_cells)
        empty = vecs.select(
            "vec_id",
            "v",
            F.lit(None).cast("int").alias("code"),
            F.lit(None).cast("double").alias("err"),
        )
        return empty, {}

    def assign(target: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
        cids = sorted(centroids)
        scores = []
        for cid in cids:
            c = centroids[cid]
            cc = reduce(lambda a, x: a + x * x, c, 0.0)
            dot = _fold_dot("v", F.array(*[F.lit(x) for x in c]))
            scores.append(F.lit(cc) - 2 * dot)
        arr = F.array(*scores)
        idx = F.array_position(arr, F.array_min(arr)).cast("int")  # 1-based
        return target.select(
            "vec_id",
            "v",
            F.element_at(F.array(*[F.lit(c) for c in cids]), idx).alias("code"),
            (F.element_at(arr, idx) + _vv("v")).alias("err"),
        )

    centroids = init
    for _ in range(iters - 1):
        stats = (
            assign(train, centroids)
            .select("code", F.posexplode("v").alias("dim", "val"))
            .groupBy("code", "dim")
            .agg(
                F.sum(F.col("val").cast(DEC)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        centroids = {}
        for r in stats:
            centroids.setdefault(int(r["code"]), {})[int(r["dim"])] = float(
                r["s"]
            ) / int(r["n"])
        centroids = {
            cid: [dims[d] for d in sorted(dims)] for cid, dims in centroids.items()
        }
    return assign(vecs, centroids), centroids


def pq_reconstruction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(subspace, code) PQ occupancy + mean squared reconstruction
    error — see module docstring.

    Round 9: the audit serves from the shared staged/memoised PQ
    component (``_pq_codes``) instead of re-running the M per-subspace
    Lloyd loops, and re-derives each vector's squared error from its
    assigned centroid with the exact ``(c.c - 2 v.c) + v.v``
    parenthesization the build used — the centroid self-product is now
    a sequential JVM fold instead of a driver-Python fold, which is the
    same IEEE operation sequence, so every err (and hence every MSE) is
    bit-identical to the from-scratch build and the oracle."""
    dim = _embedding_dim(spark, sf_dir)
    width = dim // _PQ_M
    codes, cb = _pq_codes(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    sub = codes.join(emb, "vec_id").select(
        F.col("m").alias("subspace"),
        "vec_id",
        "code",
        F.slice("v", 1 + F.col("m") * width, width).alias("sv"),
    )
    cent = cb.select(
        F.col("m").alias("subspace"), F.col("code"), F.col("c")
    )
    allm = sub.join(F.broadcast(cent), ["subspace", "code"]).select(
        "subspace",
        "vec_id",
        "code",
        ((_fold_dot("c", "c") - 2 * _fold_dot("sv", "c")) + _fold_dot("sv", "sv")).alias(
            "err"
        ),
    )
    return (
        allm.groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_assigned"),
            F.sum(F.col("err").cast(DEC)).alias("s_err"),
        )
        .select(
            F.col("subspace").cast("int"),
            F.col("code").cast("int"),
            "n_assigned",
            F.round(F.col("s_err").cast("double") / F.col("n_assigned"), 6).alias(
                "mse"
            ),
        )
        .orderBy("subspace", "code")
    )


def _pq_ctes() -> tuple[list[str], list[str], list[str]]:
    """The per-subspace PQ Lloyd chains as a reusable CTE list — shared
    by the reconstruction-audit oracle and [[ann_ivfpq_adc_search]]'s.
    Returns (ctes, final_assign_names, final_centroid_names): one
    a{{m}}{{last}} (vec_id, v, code, score) and one c{{m}}{{last}}
    (cluster, c) per subspace. Round 9: training (seeds + the
    ``ITERS - 1`` update passes) runs over the ``t{{m}}`` sample
    (``vec_id < _PQ_TRAIN_CAP``, mirroring the Spark build); only the
    final assignment scans the full ``s{{m}}`` relation."""
    score = "list_dot_product(c.c, c.c) - 2 * list_dot_product(s.v, c.c)"
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"w AS (SELECT len(v) // {_PQ_M} AS w FROM e LIMIT 1)",
    ]
    assigns, cents = [], []
    for m in range(_PQ_M):
        ctes.append(
            f"s{m} AS (SELECT vec_id, v[1 + {m} * w.w : {m + 1} * w.w] AS v "
            "FROM e, w)"
        )
        # sparse-id guard (r10): if NO vec_id falls under the cap the
        # prefix sample is empty and the codebook would seed nothing —
        # fall back to training on the full relation, mirroring the
        # Spark side's fp["min_vec_id"] >= cap branch
        ctes.append(
            f"t{m} AS (SELECT * FROM s{m} WHERE vec_id < {_PQ_TRAIN_CAP} "
            f"OR NOT EXISTS (SELECT 1 FROM s{m} WHERE vec_id < {_PQ_TRAIN_CAP}))"
        )
        cent = f"c{m}0"
        # init mirrors the Spark side: the K lowest TRAIN vec_ids,
        # cluster ids 0..K-1 (row_number, not ``vec_id < K`` — sparse
        # ids would seed nothing)
        ctes.append(
            f"""{cent} AS (
    SELECT CAST(rn - 1 AS INTEGER) AS cluster, v AS c FROM (
        SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM t{m}) z
    WHERE z.rn <= {_PQ_K}
)"""
        )
        for it in range(_PQ_ITERS):
            src = f"s{m}" if it == _PQ_ITERS - 1 else f"t{m}"
            ctes.append(
                f"""a{m}{it} AS (
    SELECT vec_id, v, code, score FROM (
        SELECT s.vec_id, s.v, c.cluster AS code, {score} AS score,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {score}, c.cluster) AS rn
        FROM {src} s CROSS JOIN {cent} c
    ) WHERE rn = 1
)"""
            )
            if it < _PQ_ITERS - 1:
                nxt = f"c{m}{it + 1}"
                ctes.append(
                    f"""{nxt} AS (
    SELECT cluster, list(mean ORDER BY dim) AS c FROM (
        SELECT code AS cluster, dim,
               CAST(SUM(CAST(val AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS mean
        FROM (SELECT code, generate_subscripts(v, 1) AS dim, unnest(v) AS val
              FROM a{m}{it})
        GROUP BY code, dim
    ) GROUP BY cluster
)"""
                )
                cent = nxt
        assigns.append(f"a{m}{_PQ_ITERS - 1}")
        cents.append(cent)
    return ctes, assigns, cents


def _pq_sql() -> str:
    ctes, assigns, _cents = _pq_ctes()
    finals = [
        f"SELECT {m} AS subspace, vec_id, code, "
        f"score + list_dot_product(v, v) AS err FROM {assigns[m]}"
        for m in range(_PQ_M)
    ]
    joined = ",\n".join(ctes)
    union = "\n    UNION ALL\n    ".join(finals)
    return f"""
WITH {joined},
allm AS (
    {union}
)
SELECT CAST(subspace AS INTEGER) AS subspace, CAST(code AS INTEGER) AS code,
       CAST(COUNT(*) AS INTEGER) AS n_assigned,
       ROUND(CAST(SUM(CAST(err AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6)
           AS mse
FROM allm
GROUP BY subspace, code
ORDER BY subspace, code
"""


PQ_AUDIT_SQL = _pq_sql()


def ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 / candidate volume at nprobe ∈ {1, 2, 4} for the shipped
    IVF index — see module docstring."""
    from waterbear_spark.queries.llm import embedding_topk

    emb = scope.persist(
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
    )
    from waterbear_spark.queries.llm import _ivf_index

    # the SHIPPED assignment + fine centroids — the sweep audits the
    # exact index the other IVF queries build, never a re-derivation
    ivf_cells, cent, _params = _ivf_index(spark, sf_dir)
    cells = scope.persist(ivf_cells)
    probes = emb.filter(F.col("vec_id") < _SWEEP_K).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # (probe x cell) ranking grid: 5 x K rows, both sides tiny
    score = _fold_dot("c", "c") - 2 * _fold_dot("qv", "c")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("score", "cluster")
    ranked = (
        probes.crossJoin(F.broadcast(cent))
        .select("query_id", "cluster", score.alias("score"))
        .withColumn("rk", F.row_number().over(w))
    )
    nprobes = spark.range(0, 1).select(
        F.explode(F.array(*[F.lit(n) for n in _SWEEP_NPROBE])).alias("nprobe")
    )
    probe_cells = (
        ranked.crossJoin(F.broadcast(nprobes))
        .filter(F.col("rk") <= F.col("nprobe"))
        .select("nprobe", "query_id", F.col("cluster").alias("cell"))
    )
    truth = embedding_topk(spark, sf_dir).select("query_id", "vec_id")
    stats = (
        cells.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(truth.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("nprobe", "query_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("cand_n"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("int").alias("hits"),
        )
    )
    spine = nprobes.crossJoin(
        F.broadcast(
            emb.filter(F.col("vec_id") < _SWEEP_K).select(
                F.col("vec_id").alias("query_id")
            )
        )
    )
    return (
        spine.join(stats, ["nprobe", "query_id"], "left")
        .select(
            F.col("nprobe").cast("int"),
            "query_id",
            F.coalesce("cand_n", F.lit(0)).cast("int").alias("cand_n"),
            F.coalesce("hits", F.lit(0)).cast("int").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)) / F.lit(float(_SWEEP_K)), 4
            ).alias("recall_at_5"),
        )
        .orderBy("nprobe", "query_id")
    )


def _probe_sweep_sql() -> str:
    from waterbear_spark.queries.llm import _ivf_ctes

    ivf_ctes, ivf_final, cent_final = _ivf_ctes()
    joined = ",\n".join(ivf_ctes)
    return f"""
WITH {joined},
n AS (
    SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
),
q AS (
    SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < {_SWEEP_K}
),
truth AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, n.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY ROUND(list_dot_product(q.qv, n.v)
                                  / (q.qn * n.nrm), 4) DESC, n.vec_id
               ) AS rn
        FROM n, q WHERE n.vec_id <> q.query_id
    ) WHERE rn <= {_SWEEP_K}
),
ranked AS (
    SELECT q.query_id, c.cluster,
           ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_dot_product(c.c, c.c)
                        - 2 * list_dot_product(q.qv, c.c), c.cluster
           ) AS rk
    FROM q CROSS JOIN {cent_final} c
),
probe_cells AS (
    SELECT np.nprobe, r.query_id, r.cluster AS cell
    FROM (SELECT UNNEST([{", ".join(str(n) for n in _SWEEP_NPROBE)}]) AS nprobe) np
    JOIN ranked r ON r.rk <= np.nprobe
),
stats AS (
    SELECT p.nprobe, p.query_id,
           COUNT(*) AS cand_n,
           SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
    FROM probe_cells p
    JOIN {ivf_final} a ON a.cell = p.cell AND a.vec_id <> p.query_id
    LEFT JOIN truth t ON t.query_id = p.query_id AND t.vec_id = a.vec_id
    GROUP BY p.nprobe, p.query_id
),
spine AS (
    SELECT np.nprobe, q.query_id
    FROM (SELECT UNNEST([{", ".join(str(n) for n in _SWEEP_NPROBE)}]) AS nprobe) np
    CROSS JOIN (SELECT vec_id AS query_id FROM e WHERE vec_id < {_SWEEP_K}) q
)
SELECT CAST(s.nprobe AS INTEGER) AS nprobe, s.query_id,
       CAST(COALESCE(st.cand_n, 0) AS INTEGER) AS cand_n,
       CAST(COALESCE(st.hits, 0) AS INTEGER) AS hits,
       ROUND(COALESCE(st.hits, 0) / {float(_SWEEP_K)}, 4) AS recall_at_5
FROM spine s LEFT JOIN stats st
  ON st.nprobe = s.nprobe AND st.query_id = s.query_id
ORDER BY s.nprobe, s.query_id
"""


PROBE_SWEEP_SQL = _probe_sweep_sql()


_ADC_NPROBE = 2  # cells visited per probe (the middle of the sweep's dial)
_ADC_TOPK = 5
_ADC_FP = 1_000_000  # micro-units: per-subspace distances quantized before
# the cross-subspace sum so the 4-part total is an exact integer on both
# engines (double += is order-sensitive; SUM order is not guaranteed)


def ann_ivfpq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance (ADC) search — the QUERY path the
    index family builds toward (Jégou et al. 2011 §III): for each of the
    5 audit probes, visit the {np} nearest IVF cells of the SHIPPED
    two-level index (``llm._ivf_index``), score every candidate by the
    ADC approximation  d(q, v) ~= sum_m ||q_m - c_{{m, code_m(v)}}||^2
    (one 128-bit-code lookup per subspace against a per-probe
    M x K = {m} x {k} distance table — never the raw vectors), and
    return the top {t} by (distance, vec_id).

    Output: (query_id, rank, vec_id, adc_dist). Candidates touch only
    PQ codes: the scoring join carries (vec_id, m, code) rows against a
    broadcast 5 x M x K LUT, which is why IVF-PQ serves queries from
    RAM at billion scale — the audit trio ([[pq_reconstruction_audit]],
    [[ann_ivf_probe_sweep]], [[ann_recall_report]]) measures the dials
    this query runs with.

    Scale: the LUT is probe-side (5 x {m} x {k} rows); candidates are
    nprobe bounded cells per probe (~2048 vectors each by the index's
    cell-size target); the only corpus-sized relation is the code table
    (M rows per vector), equi-joined on vec_id against the small
    candidate set (AQE broadcasts the candidate side). Per-subspace
    distances are quantized to micro-units BEFORE the cross-subspace
    sum, so both engines add exact integers in any order.
    """
    from pyspark.sql import Window

    scored, _probes, _emb = _adc_scored(spark, sf_dir)
    w_top = Window.partitionBy("query_id").orderBy("s_fp", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= _ADC_TOPK)
        .select(
            "query_id",
            F.col("rank").cast("int"),
            "vec_id",
            F.round(F.col("s_fp") / F.lit(float(_ADC_FP)), 6).alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )

ann_ivfpq_adc_search.__doc__ = ann_ivfpq_adc_search.__doc__.format(np=_ADC_NPROBE, m=_PQ_M, k=_PQ_K, t=_ADC_TOPK)


@scope.memoised
def _pq_codes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The shared PQ code table + codebooks behind the ADC query path:
    ``(codes, codebooks)`` where codes = (m, vec_id, code) is every
    vector's per-subspace code and codebooks = (m, code, c) are the
    trained centroids. Memoised per (application, corpus) and STAGED as
    a table next to the IVF component (``sources/ann_index.py``):
    codes are the RAM-resident serving payload of IVF-PQ — at billion
    scale they are built once and shipped, never re-trained inside a
    search query. The stage key carries the corpus fingerprint plus
    every PQ dial (M/K/iters/dim), so knob or data changes rebuild;
    the DuckDB oracle re-derives codes from scratch on every check, so
    staged reads stay continuously certified.
    """
    from waterbear_spark.sources import ann_index as _store

    dim = _embedding_dim(spark, sf_dir)
    width = dim // _PQ_M
    fp = _store.corpus_fingerprint(spark, sf_dir)
    stage_dir = _store.component_dir(sf_dir, "pq")
    stage_meta = {
        **fp,
        "m": _PQ_M,
        "k": _PQ_K,
        "iters": _PQ_ITERS,
        "dim": dim,
        "train_cap": _PQ_TRAIN_CAP,
    }
    staged = None if fp["n"] == 0 else _store.staged_read(spark, stage_dir, stage_meta)
    if staged is not None:
        codes = scope.persist(staged["codes"], eager=True)
        cb = scope.persist(staged["codebooks"], eager=True)
        return codes, cb
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # sparse-id guard (r10, advisor): a corpus whose vec_ids ALL sit at
    # or above the cap has an empty training prefix — _kmeans would seed
    # an empty codebook and silently assign nothing. min_vec_id rides
    # the corpus fingerprint, so the check costs no extra job; train on
    # the full relation in that case (the pre-sample recipe), mirrored
    # by the oracle's NOT EXISTS branch in _pq_ctes.
    sample_nonempty = (
        fp["min_vec_id"] is not None and fp["min_vec_id"] < _PQ_TRAIN_CAP
    )
    codes_parts, cb_rows = [], []
    for m in range(_PQ_M):
        sub = emb.select("vec_id", F.slice("v", 1 + m * width, width).alias("v"))
        assigned, codebook = _kmeans(
            sub,
            _PQ_K,
            _PQ_ITERS,
            train=(
                sub.filter(F.col("vec_id") < _PQ_TRAIN_CAP)
                if sample_nonempty
                else None
            ),
        )
        codes_parts.append(assigned.select(F.lit(m).alias("m"), "vec_id", "code"))
        cb_rows.extend((m, cid, codebook[cid]) for cid in sorted(codebook))
    codes = scope.persist(
        reduce(lambda a, b: a.unionByName(b), codes_parts), eager=True
    )
    cb = spark.createDataFrame(cb_rows, "m int, code int, c array<double>")
    if fp["n"] > 0:
        _store.staged_write(
            spark, stage_dir, {"codes": codes, "codebooks": cb}, stage_meta
        )
        # Serve the STAGED relations (flat FileScan plans), mirroring
        # ``llm._ivf_index``: a later ``clearCache()`` then re-reads two
        # small parquet tables instead of re-running the M per-subspace
        # k-means trainings per consuming query. staged_read is None
        # on a concurrent-restage race — the build frames serve then.
        served = _store.staged_read(spark, stage_dir, stage_meta)
        if served is not None:
            scope.release(codes)
            codes = scope.persist(served["codes"], eager=True)
            cb = scope.persist(served["codebooks"], eager=True)
    return codes, cb


@scope.memoised
def _adc_scored(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The ADC scoring core shared by [[ann_ivfpq_adc_search]] and the
    two-stage [[ann_refine_rerank]] (wave 26): returns
    ``(scored, probes, emb)`` where ``scored`` is the full per-candidate
    ADC table ``(query_id, vec_id, s_fp)`` (micro-unit fixed point, NOT
    yet top-k-truncated), ``probes`` is ``(query_id, qv)`` and ``emb``
    is ``(vec_id, v)`` for refine stages that need raw vectors.

    ``scored`` is memoised per (application, corpus): the three
    query-path ops (ADC search, refine rerank, refine recall) share one
    candidate scoring pass. The relation is bounded — nprobe cells x
    ~2048 vectors/cell x probe count — so persisting it is probe-side
    state, never corpus-sized."""
    from pyspark.sql import Window

    from waterbear_spark.queries.llm import _ivf_index

    dim = _embedding_dim(spark, sf_dir)
    width = dim // _PQ_M
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cells, cent, _params = _ivf_index(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < _SWEEP_K).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    # coarse: rank the shipped fine centroids per probe, visit nprobe
    coarse_score = _fold_dot("c", "c") - 2 * _fold_dot("qv", "c")
    w_rk = Window.partitionBy("query_id").orderBy("score", "cluster")
    probe_cells = (
        probes.crossJoin(F.broadcast(cent))
        .select("query_id", "cluster", coarse_score.alias("score"))
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= _ADC_NPROBE)
        .select("query_id", F.col("cluster").alias("cell"))
    )
    # PQ codes per (vector, subspace) + the driver-bounded codebooks —
    # served from the staged/memoised index component (round 9)
    codes, cb = _pq_codes(spark, sf_dir)
    # per-probe ADC lookup table: ||q_m - c||^2 in micro-units
    qm = F.slice("qv", 1 + F.col("m") * width, width)
    part = _fold_dot("c", "c") - 2 * _fold_dot(qm, "c") + _fold_dot(qm, qm)
    lut = probes.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "m",
        "code",
        F.floor(part * _ADC_FP + F.lit(0.5)).cast("long").alias("part_fp"),
    )
    cand = (
        cells.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = scope.persist(
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("part_fp").alias("s_fp")),
        eager=True,
    )
    return scored, probes, emb


def _adc_chain() -> str:
    """The oracle CTE chain through ``scored`` (per-candidate ADC fixed-
    point distances) — shared by [[ann_ivfpq_adc_search]]'s oracle and
    wave 26's refine oracle. The chain also defines ``e`` (raw vectors)
    and ``q`` (probes) for refine stages."""
    from waterbear_spark.queries.llm import _ivf_ctes

    ivf_ctes, ivf_final, cent_final = _ivf_ctes()
    pq_ctes, assigns, cents = _pq_ctes()
    # the two chains share the identical `e` CTE — keep the IVF copy
    seen = {c.split(" AS ", 1)[0].strip() for c in ivf_ctes}
    merged = ivf_ctes + [
        c for c in pq_ctes if c.split(" AS ", 1)[0].strip() not in seen
    ]
    codes_union = "\n    UNION ALL\n    ".join(
        f"SELECT {m} AS m, vec_id, code FROM {assigns[m]}" for m in range(_PQ_M)
    )
    cbs_union = "\n    UNION ALL\n    ".join(
        f"SELECT {m} AS m, cluster AS code, c FROM {cents[m]}" for m in range(_PQ_M)
    )
    qm = "q.qv[1 + cb.m * w.w : (cb.m + 1) * w.w]"
    joined = ",\n".join(merged)
    return f"""
WITH {joined},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_SWEEP_K}),
coarse AS (
    SELECT query_id, cluster AS cell FROM (
        SELECT q.query_id, c.cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(c.c, c.c)
                            - 2 * list_dot_product(q.qv, c.c), c.cluster
               ) AS rk
        FROM q CROSS JOIN {cent_final} c
    ) WHERE rk <= {_ADC_NPROBE}
),
codes AS (
    {codes_union}
),
cbs AS (
    {cbs_union}
),
lut AS (
    SELECT q.query_id, cb.m, cb.code,
           CAST(FLOOR((list_dot_product(cb.c, cb.c)
                       - 2 * list_dot_product({qm}, cb.c)
                       + list_dot_product({qm}, {qm}))
                      * {_ADC_FP} + 0.5) AS BIGINT) AS part_fp
    FROM q CROSS JOIN cbs cb, w
),
cand AS (
    SELECT p.query_id, a.vec_id
    FROM coarse p
    JOIN {ivf_final} a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
scored AS (
    SELECT c.query_id, c.vec_id, SUM(l.part_fp) AS s_fp
    FROM cand c
    JOIN codes k ON k.vec_id = c.vec_id
    JOIN lut l ON l.query_id = c.query_id AND l.m = k.m AND l.code = k.code
    GROUP BY c.query_id, c.vec_id
)"""


def _adc_sql() -> str:
    return f"""
{_adc_chain()}
SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id,
       ROUND(s_fp / {float(_ADC_FP)}, 6) AS adc_dist
FROM (
    SELECT query_id, vec_id, s_fp,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s_fp, vec_id) AS rn
    FROM scored
) WHERE rn <= {_ADC_TOPK}
ORDER BY query_id, rank
"""


ADC_SEARCH_SQL = _adc_sql()


QUERIES = {
    "pq_reconstruction_audit": pq_reconstruction_audit,
    "ann_ivf_probe_sweep": ann_ivf_probe_sweep,
    "ann_ivfpq_adc_search": ann_ivfpq_adc_search,
}

ORACLES = {
    "pq_reconstruction_audit": PQ_AUDIT_SQL,
    "ann_ivf_probe_sweep": PROBE_SWEEP_SQL,
    "ann_ivfpq_adc_search": ADC_SEARCH_SQL,
}
