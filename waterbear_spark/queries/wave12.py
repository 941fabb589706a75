"""Round-4 wave-12 operators: rank correlation, market concentration,
Lorenz deciles, sparse-vector similarity, corpus novelty, co-occurrence
projection, iterative BPE merges, Markov conditional entropy, exact
Pearson moments, and the join-fanout diagnostic.

Operator families the catalog didn't cover yet:

* ``kendall_tau_qty_disc`` — exact Kendall tau-b computed on the
  (quantity, discount) CENSUS, never on row pairs: concordant /
  discordant counts are products of cell counts over the bounded value
  domain, so the O(n^2) pair space collapses to O(|cells|^2).
* ``hhi_supplier_concentration`` — Herfindahl-Hirschman index of
  supplier revenue per nation via the sum-of-squares identity
  HHI = SUM(rev_i^2)/(SUM(rev_i))^2 — exact integer/decimal sums, one
  final division, no per-row share floats to sum in arbitrary order.
* ``lorenz_curve_deciles`` — Lorenz curve (cumulative revenue share by
  customer-revenue decile) on the distributed value-census scaffold:
  deciles come from integer rank algebra over (value, count) cells, so
  no global row sort exists anywhere.
* ``sparse_cosine_topk`` — top-k most similar document pairs by cosine
  over capped term-frequency vectors, via inverted-index postings
  self-join with document-frequency pruning — the sparse sibling of the
  dense [[dedup_embedding_cosine]].
* ``ngram_novelty_rate`` — fraction of the test split's distinct word
  3-grams unseen in the train split (memorization/diversity metric for
  training-corpus curation) — two distinct-sets and one anti-join.
* ``copurchase_projection`` — bipartite projection of the
  order-supplier graph onto supplier pairs co-occurring in an order
  (the "related items" primitive); fan-out is bounded by items/order.
* ``bpe_merge_rounds`` — the first three MERGE ITERATIONS of BPE
  tokenizer training (not just round-1 pair counts as in
  [[bpe_pair_counts]]): each round takes the argmax pair over the
  vocabulary and rewrites the symbol sequences, exactly the
  word-frequency-amortized loop real BPE trainers run.
* ``markov_conditional_entropy`` — per-state conditional entropy of
  the next-event distribution (the sequence-predictability monitor),
  folded in sorted order for cross-engine float determinism.
* ``pearson_matrix`` — exact Pearson correlations for all pairs of
  (quantity, price, discount) from ONE pass of decimal moment sums —
  no built-in ``corr`` (whose partial-aggregation float order differs
  between engines).
* ``join_fanout_histogram`` — multiplicity histogram of the
  orders->lineitem join key: how many keys fan out 1x..7x and what row
  mass each multiplicity carries — the pre-join skew diagnostic.

Float determinism follows the house rules in ``tables.py``: counts and
moment sums are integers/decimals (exact, order-free), transcendental
folds run in sorted order, every division happens once at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import TOKENS_SQL, _tokens
from waterbear_spark.queries.tables import table

_D19 = "decimal(19,0)"
_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Kendall tau-b on the value census
# ---------------------------------------------------------------------------


def kendall_tau_qty_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b between line-item quantity and discount.

    The rank-pair space is O(n^2), but both variables live on bounded
    domains (50 quantities x 11 discounts), so the statistic is computed
    on the (q, d, count) census: concordant/discordant pair counts are
    sums of count products over cell pairs with q1 < q2, and the tie
    corrections are per-margin count products. Everything up to the last
    line is integer (decimal-exact), then tau-b applies the halving-free
    identity tau = 2(C - D)/sqrt((T0 - T1)(T0 - T2)) with
    T0 = n(n-1), T1/T2 the tie terms — one sqrt + one division.

    Scale: the census aggregate is the only row-scaled shuffle
    (map-side combinable); the cell self-join is |cells|^2 <= 550^2
    rows on a broadcast relation, independent of corpus size.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("q"),
        F.round(F.col("l_discount") * 100).cast("int").alias("d"),
    )
    cells = scope.persist(li.groupBy("q", "d").agg(F.count(F.lit(1)).alias("n")))

    a = cells.select(
        F.col("q").alias("qa"), F.col("d").alias("da"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("q").alias("qb"), F.col("d").alias("db"), F.col("n").alias("nb")
    )
    prod = (F.col("na").cast(_D19) * F.col("nb")).cast(_D38)
    cd = (
        a.join(F.broadcast(b), F.col("qa") < F.col("qb"))
        .agg(
            F.sum(F.when(F.col("da") < F.col("db"), prod).otherwise(F.lit(0).cast(_D38))).alias("c"),
            F.sum(F.when(F.col("da") > F.col("db"), prod).otherwise(F.lit(0).cast(_D38))).alias("dd"),
        )
    )
    tie_sum = F.sum((F.col("t").cast(_D19) * (F.col("t") - 1)).cast(_D38))
    t_q = cells.groupBy("q").agg(F.sum("n").alias("t")).agg(tie_sum.alias("t1"))
    t_d = cells.groupBy("d").agg(F.sum("n").alias("t")).agg(tie_sum.alias("t2"))
    n_tot = cells.agg(F.sum("n").alias("n"))
    joined = cd.crossJoin(F.broadcast(t_q)).crossJoin(F.broadcast(t_d)).crossJoin(
        F.broadcast(n_tot)
    )
    t0 = (F.col("n").cast(_D19) * (F.col("n") - 1)).cast(_D38)
    # empty input seeds one all-NULL row from the ungrouped aggregates;
    # tau-b also needs >= 2 rows to have any pair at all
    joined = joined.filter(F.col("n").isNotNull() & (F.col("n") >= 2))
    return joined.select(
        F.col("n").alias("n_rows"),
        F.col("c").cast("double").alias("concordant"),
        F.col("dd").cast("double").alias("discordant"),
        F.round(
            2.0
            * (F.col("c") - F.col("dd")).cast("double")
            / F.sqrt(
                (t0 - F.col("t1")).cast("double")
                * (t0 - F.col("t2")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


_KENDALL_SQL = """
WITH cells AS MATERIALIZED (
    SELECT CAST(l_quantity AS INTEGER) AS q,
           CAST(ROUND(l_discount * 100) AS INTEGER) AS d,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
),
cd AS (
    SELECT SUM(CASE WHEN a.d < b.d THEN CAST(a.n AS DECIMAL(19,0)) * b.n ELSE 0 END) AS c,
           SUM(CASE WHEN a.d > b.d THEN CAST(a.n AS DECIMAL(19,0)) * b.n ELSE 0 END) AS dd
    FROM cells a JOIN cells b ON a.q < b.q
),
tq AS (SELECT SUM(CAST(t AS DECIMAL(19,0)) * (t - 1)) AS t1
       FROM (SELECT SUM(n) AS t FROM cells GROUP BY q)),
td AS (SELECT SUM(CAST(t AS DECIMAL(19,0)) * (t - 1)) AS t2
       FROM (SELECT SUM(n) AS t FROM cells GROUP BY d)),
nt AS (SELECT SUM(n) AS n FROM cells)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(c AS DOUBLE) AS concordant,
       CAST(dd AS DOUBLE) AS discordant,
       ROUND(2.0 * CAST(c - dd AS DOUBLE)
             / SQRT(CAST(CAST(n AS DECIMAL(19,0)) * (n - 1) - t1 AS DOUBLE)
                    * CAST(CAST(n AS DECIMAL(19,0)) * (n - 1) - t2 AS DOUBLE)),
             6) AS tau_b
FROM cd, tq, td, nt
WHERE n IS NOT NULL AND n >= 2
"""


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------


def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: the
    Herfindahl-Hirschman index of revenue shares, plus the top supplier's
    share. Uses the algebraic identity
    HHI = SUM(rev_i^2) / (SUM(rev_i))^2, so every aggregate is an exact
    integer-cents (decimal) sum — shares are never materialized per row,
    which both removes the float summation-order hazard and saves a
    second pass to compute the total first.

    Scale: one shuffle to (nation, supplier) revenue (map-side
    combinable), one |suppliers|-row aggregate per nation. The squares
    live in DECIMAL(38,0) — safe up to supplier revenues of ~10^19
    cents.
    """
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    per_supp = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(cents).alias("rev"))
    )
    sq = (F.col("rev").cast(_D19) * F.col("rev")).cast(_D38)
    return (
        per_supp.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(sq).alias("ss"),
            F.sum(F.col("rev").cast(_D38)).alias("tot"),
            F.max("rev").alias("mx"),
        )
        .select(
            "nation",
            "n_suppliers",
            F.round(
                F.col("ss").cast("double")
                / (F.col("tot").cast("double") * F.col("tot").cast("double")),
                8,
            ).alias("hhi"),
            F.round(
                F.col("mx").cast("double") / F.col("tot").cast("double"), 8
            ).alias("top_share"),
        )
        .orderBy("nation")
    )


_HHI_SQL = """
WITH per_supp AS MATERIALIZED (
    SELECT n_name AS nation, s_suppkey,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2
)
SELECT nation,
       COUNT(*) AS n_suppliers,
       ROUND(CAST(SUM(CAST(rev AS DECIMAL(19,0)) * rev) AS DOUBLE)
             / (CAST(SUM(CAST(rev AS DECIMAL(38,0))) AS DOUBLE)
                * CAST(SUM(CAST(rev AS DECIMAL(38,0))) AS DOUBLE)),
             8) AS hhi,
       ROUND(CAST(MAX(rev) AS DOUBLE)
             / CAST(SUM(CAST(rev AS DECIMAL(38,0))) AS DOUBLE), 8) AS top_share
FROM per_supp
GROUP BY nation
ORDER BY nation
"""


# ---------------------------------------------------------------------------
# Lorenz curve by customer-revenue decile
# ---------------------------------------------------------------------------

_LORENZ_BUCKET = 10_000_000  # cents per rank-scaffold value bucket


def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve: customers ranked by total order revenue, the
    cumulative revenue share at each population decile — the
    inequality curve behind [[gini_customer_revenue]].

    Decile membership is pure integer rank algebra on the (value,
    count) census: a cell of ``cnt`` customers sharing revenue ``v``
    occupies rank positions [start, end], and position p lands in
    decile d iff (d-1)*n <= 10*(p-1) < d*n; the overlap of the two
    integer intervals prices the cell's contribution to each decile.
    Customers inside a cell are interchangeable (same v), so no
    row-level ordering is ever needed — the only window runs over the
    value census, bucketed exactly like [[percentile_sla_by_type]]'s
    scaffold at scale.

    Scale: one shuffle to per-customer revenue, one census aggregate,
    a window over |distinct values|, a 10-way explode of the census.
    """
    orders = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    rev = orders.groupBy("o_custkey").agg(F.sum(cents).alias("v"))
    cellsw = rev.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    # two-level rank scaffold (the [[percentile_sla_by_type]] shape):
    # value-range buckets carry the cross-bucket prefix sums, so the
    # only unpartitioned window runs over |buckets| rows, and the
    # per-value window is partitioned by bucket — no global census sort
    pb = F.floor(F.col("v") / _LORENZ_BUCKET)
    pv = cellsw.withColumn("pb", pb)
    w_off = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        pv.groupBy("pb")
        .agg(F.sum("cnt").alias("bc"))
        .select(
            "pb", F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("off")
        )
    )
    w_in = (
        Window.partitionBy("pb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = pv.join(offs, "pb").select(
        "v",
        "cnt",
        (
            F.col("off") + F.coalesce(F.sum("cnt").over(w_in), F.lit(0)) + 1
        ).alias("start"),
    ).withColumn("end", F.col("start") + F.col("cnt") - 1)
    n = rev.count()

    d = F.col("decile")
    # decile d covers positions p with (d-1)*n <= 10*(p-1) < d*n
    lb = F.floor(((d - 1) * n + 9) / 10) + 1
    ub = F.floor((d * n - 1) / 10) + 1
    overlap = F.greatest(
        F.lit(0),
        F.least(F.col("end"), ub) - F.greatest(F.col("start"), lb) + 1,
    )
    per_decile = (
        cells.select(
            "*", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile")
        )
        .select(
            "decile",
            overlap.alias("k"),
            (overlap.cast(_D19) * F.col("v")).cast(_D38).alias("contrib"),
        )
        .groupBy("decile")
        .agg(F.sum("k").alias("n_cust"), F.sum("contrib").alias("rev"))
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = F.sum(F.col("rev")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        per_decile.select(
            "decile",
            "n_cust",
            F.round(F.col("rev").cast("double") / tot.cast("double"), 8).alias(
                "rev_share"
            ),
            F.round(
                F.sum("rev").over(wc).cast("double") / tot.cast("double"), 8
            ).alias("cum_share"),
        )
        # with n < 10 customers some deciles are empty; the oracle's
        # GROUP BY never emits them, so drop the k=0 spine rows AFTER
        # the cumulative window (their rev=0 doesn't shift cum_share)
        .filter(F.col("n_cust") > 0)
        .orderBy("decile")
    )


_LORENZ_SQL = """
WITH rev AS MATERIALIZED (
    SELECT o_custkey,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS v
    FROM orders GROUP BY o_custkey
),
n AS (SELECT COUNT(*) AS n FROM rev),
r AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_custkey) AS p FROM rev
),
d AS (
    SELECT CAST((10 * (p - 1)) // (SELECT n FROM n) AS INTEGER) + 1 AS decile,
           v
    FROM r
),
per AS (
    SELECT decile, COUNT(*) AS n_cust,
           SUM(CAST(v AS DECIMAL(38,0))) AS rev
    FROM d GROUP BY decile
)
SELECT decile, n_cust,
       ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE), 8)
           AS rev_share,
       ROUND(CAST(SUM(rev) OVER (ORDER BY decile) AS DOUBLE)
             / CAST(SUM(rev) OVER () AS DOUBLE), 8) AS cum_share
FROM per
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# Sparse cosine top-k document pairs
# ---------------------------------------------------------------------------

_SC_TERMS = 20  # postings kept per document (top-tf)
_SC_MAXDF = 100  # document-frequency cap: terms above it are stop-terms
_SC_TOPK = 25


def sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most similar document pairs by cosine over CAPPED
    term-frequency vectors: each document keeps its ``_SC_TERMS``
    heaviest terms (tf desc, term asc — deterministic), terms whose
    document frequency exceeds ``_SC_MAXDF`` are dropped as stop-terms,
    and similar pairs are found by joining the inverted index on term —
    the candidate space is SUM(df^2) over surviving terms, never
    |docs|^2. Dot products are integer (exact); the norm/cosine divide
    happens once per candidate pair.

    Scale: the postings cap bounds index size at docs x 20 rows; the
    df cap is what keeps the self-join from quadratic blowup on
    stop-words (the same prefix-pruning economics as
    [[jaccard_prefix_join]]). Both caps are part of the operator's
    definition (truncated-vector cosine), applied identically in the
    oracle.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    keep = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("term")
    )
    capped = (
        tf.withColumn("rk", F.row_number().over(keep))
        .filter(F.col("rk") <= _SC_TERMS)
        .drop("rk")
    )
    df_counts = capped.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    pruned = scope.persist(capped.join(
        df_counts.filter(F.col("df") <= _SC_MAXDF).select("term"), "term"
    ))
    norms = pruned.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("ss")
    )
    a = pruned.select(
        F.col("term").alias("t"),
        F.col("doc_id").alias("doc_a"),
        F.col("tf").alias("tfa"),
    )
    b = pruned.select(
        F.col("term").alias("t"),
        F.col("doc_id").alias("doc_b"),
        F.col("tf").alias("tfb"),
    )
    dots = (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("ssa")) * F.sqrt(F.col("ssb"))),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(_SC_TOPK)
    )


_SPARSE_COSINE_SQL = f"""
WITH tf AS MATERIALIZED (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents)
    GROUP BY doc_id, term
),
capped AS MATERIALIZED (
    SELECT doc_id, term, tf FROM (
        SELECT doc_id, term, tf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tf DESC, term) AS rk
        FROM tf
    ) WHERE rk <= {_SC_TERMS}
),
pruned AS MATERIALIZED (
    SELECT c.doc_id, c.term, c.tf
    FROM capped c
    JOIN (SELECT term FROM capped GROUP BY term
          HAVING COUNT(*) <= {_SC_MAXDF}) ok USING (term)
),
norms AS MATERIALIZED (
    SELECT doc_id, SUM(tf * tf) AS ss FROM pruned GROUP BY doc_id
),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.tf * b.tf) AS dot
    FROM pruned a JOIN pruned b
      ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
       ROUND(dot / (SQRT(na.ss) * SQRT(nb.ss)), 6) AS cosine
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
ORDER BY cosine DESC, doc_a, doc_b
LIMIT {_SC_TOPK}
"""


# ---------------------------------------------------------------------------
# n-gram novelty between deterministic splits
# ---------------------------------------------------------------------------


def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the held-out split is new text? Documents get the
    [[deterministic_split]] 80/20 hash assignment; the metric is the
    fraction of the test split's DISTINCT word 3-grams that never occur
    in the train split — the memorization/diversity monitor a corpus
    curation pipeline tracks as it mixes sources.

    Scale: shingling is row-local; both distinct-sets and the anti-join
    shuffle on the 3-gram string (combinable). At 100 TB the 3-gram
    key space is Heaps-law sublinear in the corpus.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ng|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    toks = docs.select(
        (bucket < 80).alias("is_train"), _tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    shingles = toks.select(
        "is_train",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("g"),
    )
    train = shingles.filter("is_train").select("g").distinct()
    test = shingles.filter(~F.col("is_train")).select("g").distinct()
    novel = test.join(train, "g", "left_anti")
    return (
        test.agg(F.count(F.lit(1)).alias("n_test_grams"))
        .crossJoin(novel.agg(F.count(F.lit(1)).alias("n_novel")))
        # an empty test split has no denominator: report nothing rather
        # than a NULL-rate row
        .filter(F.col("n_test_grams") > 0)
        .select(
            "n_test_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_test_grams"), 6).alias(
                "novelty_rate"
            ),
        )
    )


_NOVELTY_SQL = f"""
WITH toks AS MATERIALIZED (
    SELECT CAST(('0x' || substr(md5('ng|' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS UBIGINT)::BIGINT % 100 < 80 AS is_train,
           {TOKENS_SQL} AS toks
    FROM documents
),
shingles AS MATERIALIZED (
    SELECT is_train,
           unnest(list_transform(generate_series(1, len(toks) - 2),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
    FROM toks WHERE len(toks) >= 3
),
train AS (SELECT DISTINCT g FROM shingles WHERE is_train),
test AS (SELECT DISTINCT g FROM shingles WHERE NOT is_train),
agg AS (
    SELECT (SELECT COUNT(*) FROM test) AS n_test_grams,
           (SELECT COUNT(*) FROM test WHERE g NOT IN (SELECT g FROM train))
               AS n_novel
)
SELECT n_test_grams, n_novel,
       ROUND(CAST(n_novel AS DOUBLE) / n_test_grams, 6) AS novelty_rate
FROM agg WHERE n_test_grams > 0
"""


# ---------------------------------------------------------------------------
# Bipartite co-occurrence projection
# ---------------------------------------------------------------------------

_CP_TOPK = 25


def copurchase_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the order<->supplier bipartite graph onto supplier pairs:
    two suppliers are linked with weight = number of distinct orders
    both supply ("related items" / co-occurrence projection). Returns
    the 25 heaviest pairs.

    Scale: pair generation is ROW-LOCAL — each order's sorted distinct
    supplier array unnests its own C(items_per_order, 2) <= 21
    ascending pairs (bounded for TPC-H-shaped data, unlike a
    supplier-keyed join), replacing the former self-equi-join's
    exchange with one basket aggregate. On data with pathological
    container sizes the standard cap (drop orders above a line-count
    threshold) bolts on as one size filter on the basket array; the
    s1 < s2 enumeration order makes each pair unique per order before
    counting.
    """
    baskets = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("items"))
    )
    pair_arr = F.expr(
        "flatten(transform(items, (x, i) ->"
        " transform(slice(items, i + 2, size(items)),"
        " y -> struct(x AS s1, y AS s2))))"
    )
    return (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s1", "s2")
        .limit(_CP_TOPK)
    )


_COPURCHASE_SQL = f"""
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
)
SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_orders
FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s
GROUP BY 1, 2
ORDER BY n_orders DESC, s1, s2
LIMIT {_CP_TOPK}
"""


# ---------------------------------------------------------------------------
# Iterative BPE merges
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``_BPE_ROUNDS`` merge iterations of byte-pair-encoding
    tokenizer training, run the way real trainers run it: over the
    word-FREQUENCY table (a word seen f times contributes f to each of
    its adjacent symbol pairs), with the argmax pair (count desc, pair
    asc — fully deterministic) merged into the symbol sequences between
    rounds. Output: one row per round with the merge rule it learned.

    The merge rewrite is the classic space-doubling trick: with tokens
    joined by doubled spaces, replacing ' a  b ' with ' ab ' is
    leftmost-non-overlapping in both engines, which is exactly BPE's
    merge order (e.g. 'a a a' merges to 'aa a', not 'a aa').

    Scale: state is the VOCABULARY (word, freq, symbols) — Heaps-law
    sublinear in corpus size; each round is one map over the vocab, one
    combinable pair-count aggregate, and a 1-row argmax collect (the
    same driver-scalar loop discipline as [[ann_ivf_kmeans]]'s
    centroid step). Words are restricted to ^[a-z]+$ so the char-split
    regex behaves identically across engines.
    """
    docs = table(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(_tokens(F.col("text"))).alias("w")).filter(
        (F.length("w") >= 2) & F.col("w").rlike("^[a-z]+$")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    vocab = scope.persist(vocab.withColumn(
        "seq", F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 "))
    ))

    rules = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        arr = F.split(F.col("seq"), " ")
        pairs = vocab.select(
            "f",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(arr, i), F.element_at(arr, i + 1)
                    ),
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("f").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:  # vocabulary exhausted (or empty corpus): no pair left
            break
        best = top[0]
        rules.append((rnd, best["pair"], best["n"]))
        a_b = " " + best["pair"].replace(" ", "  ") + " "
        ab = " " + best["pair"].replace(" ", "") + " "
        merged = F.trim(
            F.regexp_replace(
                F.replace(
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                        F.lit(" "),
                    ),
                    F.lit(a_b),
                    F.lit(ab),
                ),
                " +",
                " ",
            )
        )
        vocab = scope.persist(vocab.withColumn("seq", merged))
    return spark.createDataFrame(
        rules, "merge_round int, pair string, n bigint"
    ).orderBy("merge_round")


def _bpe_merge_sql() -> str:
    ctes = [
        f"""w0 AS MATERIALIZED (
    SELECT w, f, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq
    FROM (
        SELECT w, COUNT(*) AS f
        FROM (SELECT unnest({TOKENS_SQL}) AS w FROM documents)
        WHERE length(w) >= 2 AND regexp_matches(w, '^[a-z]+$')
        GROUP BY w
    )
)"""
    ]
    selects = []
    for i in range(1, _BPE_ROUNDS + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"""p{i} AS MATERIALIZED (
    SELECT pair, SUM(f) AS n FROM (
        SELECT f, unnest(list_transform(range(1, len(l)),
               j -> l[j] || ' ' || l[j+1])) AS pair
        FROM (SELECT f, string_split(seq, ' ') AS l FROM {prev})
    ) GROUP BY pair
),
b{i} AS MATERIALIZED (
    SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1
),
w{i} AS MATERIALIZED (
    SELECT w, f,
           trim(regexp_replace(
               replace(' ' || replace(seq, ' ', '  ') || ' ',
                       ' ' || (SELECT replace(pair, ' ', '  ') FROM b{i}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM b{i}) || ' '),
               ' +', ' ', 'g')) AS seq
    FROM {prev}
)"""
        )
        selects.append(
            f"SELECT {i} AS merge_round, pair, CAST(n AS BIGINT) AS n FROM b{i}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_round"
    )


# ---------------------------------------------------------------------------
# Markov conditional entropy of event sequences
# ---------------------------------------------------------------------------


def markov_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence predictability monitor: for each event type, the
    Shannon entropy (nats) of the next-event distribution across all
    user timelines — H(next | cur) per state of the first-order Markov
    chain. Low entropy states are deterministic funnels; high entropy
    states are branch points. Transition counts are exact; the only
    float work is one p*ln(p) term per (cur, next) cell folded in
    sorted next-state order ([[source_entropy]]'s determinism trick).

    Scale: the lead() window partitions by user (bounded timelines),
    the census is |types|^2 cells, and the fold never scales with rows.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = trans.groupBy("cur").agg(F.sum("n").alias("cn"))
    terms = trans.join(tot, "cur").select(
        "cur",
        "nxt",
        "n",
        (-(F.col("n") / F.col("cn")) * F.log(F.col("n") / F.col("cn"))).alias(
            "term"
        ),
    )
    return (
        terms.groupBy(F.col("cur").alias("event_type"))
        .agg(
            F.sum("n").alias("n_transitions"),
            F.count(F.lit(1)).alias("n_next_types"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("nxt", "term"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                ),
                8,
            ).alias("cond_entropy"),
        )
        .orderBy("event_type")
    )


_MARKOV_SQL = """
WITH trans AS MATERIALIZED (
    SELECT cur, nxt, COUNT(*) AS n FROM (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ) WHERE nxt IS NOT NULL
    GROUP BY cur, nxt
),
tot AS (SELECT cur, SUM(n) AS cn FROM trans GROUP BY cur),
terms AS (
    SELECT t.cur, t.nxt, t.n,
           -(CAST(t.n AS DOUBLE) / tot.cn)
           * LN(CAST(t.n AS DOUBLE) / tot.cn) AS term
    FROM trans t JOIN tot USING (cur)
)
SELECT cur AS event_type,
       CAST(SUM(n) AS BIGINT) AS n_transitions,
       COUNT(*) AS n_next_types,
       ROUND(list_aggregate(list(term ORDER BY nxt), 'sum'), 8)
           AS cond_entropy
FROM terms
GROUP BY cur
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Exact Pearson correlation matrix
# ---------------------------------------------------------------------------

_PEARSON_COLS = ("quantity", "price", "discount")


def pearson_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every pair of (quantity, price-cents,
    discount-cents) from ONE aggregation pass of exact integer moment
    sums — r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)),
    evaluated in double precision exactly once per pair. The built-in
    ``corr`` is avoided on purpose: its running-covariance partials
    accumulate in partition order, which differs between engines.

    Scale: one map-side-combinable aggregate producing 9 decimal sums;
    the matrix math happens on a single row.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("quantity"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("discount"),
    )

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _PEARSON_COLS:
        aggs.append(F.sum(F.col(c).cast(_D38)).alias(f"s_{c}"))
        aggs.append(
            F.sum((F.col(c).cast(_D19) * F.col(c)).cast(_D38)).alias(f"ss_{c}")
        )
    for x, y in (("quantity", "price"), ("quantity", "discount"), ("price", "discount")):
        aggs.append(
            F.sum((F.col(x).cast(_D19) * F.col(y)).cast(_D38)).alias(
                f"sp_{x}_{y}"
            )
        )
    m = li.agg(*aggs)

    def r_expr(x, y):
        n = F.col("n").cast("double")
        sx, sy = F.col(f"s_{x}").cast("double"), F.col(f"s_{y}").cast("double")
        sxx, syy = F.col(f"ss_{x}").cast("double"), F.col(f"ss_{y}").cast("double")
        sxy = F.col(f"sp_{x}_{y}").cast("double")
        return F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        )

    rows = [
        m.select(
            F.lit(x).alias("col_x"),
            F.lit(y).alias("col_y"),
            F.col("n").alias("n_rows"),
            r_expr(x, y).alias("r"),
        )
        for x, y in (
            ("quantity", "price"),
            ("quantity", "discount"),
            ("price", "discount"),
        )
    ]
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionAll(extra)
    return out.orderBy("col_x", "col_y")


def _pearson_sql() -> str:
    cols = {
        "quantity": "CAST(l_quantity AS BIGINT)",
        "price": "CAST(ROUND(l_extendedprice * 100) AS BIGINT)",
        "discount": "CAST(ROUND(l_discount * 100) AS BIGINT)",
    }
    sums = ["COUNT(*) AS n"]
    for c, e in cols.items():
        sums.append(f"SUM(CAST({e} AS DECIMAL(38,0))) AS s_{c}")
        sums.append(
            f"SUM(CAST(CAST({e} AS DECIMAL(19,0)) * {e} AS DECIMAL(38,0))) AS ss_{c}"
        )
    pairs = [("quantity", "price"), ("quantity", "discount"), ("price", "discount")]
    for x, y in pairs:
        sums.append(
            f"SUM(CAST(CAST({cols[x]} AS DECIMAL(19,0)) * {cols[y]} AS DECIMAL(38,0)))"
            f" AS sp_{x}_{y}"
        )
    selects = []
    for x, y in pairs:
        r = (
            f"ROUND((CAST(n AS DOUBLE) * CAST(sp_{x}_{y} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
            f" / SQRT((CAST(n AS DOUBLE) * CAST(ss_{x} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
            f" * (CAST(n AS DOUBLE) * CAST(ss_{y} AS DOUBLE)"
            f" - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))), 6)"
        )
        selects.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, n AS n_rows, {r} AS r FROM m"
        )
    return (
        "WITH m AS MATERIALIZED (SELECT "
        + ", ".join(sums)
        + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY col_x, col_y"
    )


# ---------------------------------------------------------------------------
# Join fan-out histogram
# ---------------------------------------------------------------------------


def join_fanout_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic for the orders->lineitem key: the
    multiplicity histogram — for each fan-out m, how many order keys
    have exactly m line items and what share of line-item rows they
    carry. This is the statistic that decides broadcast vs shuffle vs
    salting BEFORE running the join ([[skew_key_census]] is the
    post-hoc sibling for a single hot key).

    Scale: one combinable count per key, one aggregate over <= 7
    multiplicity buckets; nothing is row-scaled after the first
    shuffle.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("m"))
    hist = per_key.groupBy("m").agg(F.count(F.lit(1)).alias("n_keys"))
    return (
        hist.select(
            F.col("m").alias("multiplicity"),
            "n_keys",
            (F.col("m") * F.col("n_keys")).alias("n_rows"),
        )
        .withColumn(
            "pct_rows",
            F.round(
                F.col("n_rows")
                / F.sum("n_rows").over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
                6,
            ),
        )
        .orderBy("multiplicity")
    )


_FANOUT_SQL = """
WITH per_key AS MATERIALIZED (
    SELECT l_orderkey, COUNT(*) AS m FROM lineitem GROUP BY l_orderkey
),
hist AS (
    SELECT m AS multiplicity, COUNT(*) AS n_keys, m * COUNT(*) AS n_rows
    FROM per_key GROUP BY m
)
SELECT multiplicity, n_keys, n_rows,
       ROUND(CAST(n_rows AS DOUBLE) / SUM(n_rows) OVER (), 6) AS pct_rows
FROM hist
ORDER BY multiplicity
"""


QUERIES = {
    "kendall_tau_qty_disc": kendall_tau_qty_disc,
    "hhi_supplier_concentration": hhi_supplier_concentration,
    "lorenz_curve_deciles": lorenz_curve_deciles,
    "sparse_cosine_topk": sparse_cosine_topk,
    "ngram_novelty_rate": ngram_novelty_rate,
    "copurchase_projection": copurchase_projection,
    "bpe_merge_rounds": bpe_merge_rounds,
    "markov_conditional_entropy": markov_conditional_entropy,
    "pearson_matrix": pearson_matrix,
    "join_fanout_histogram": join_fanout_histogram,
}
ORACLES = {
    "kendall_tau_qty_disc": _KENDALL_SQL,
    "hhi_supplier_concentration": _HHI_SQL,
    "lorenz_curve_deciles": _LORENZ_SQL,
    "sparse_cosine_topk": _SPARSE_COSINE_SQL,
    "ngram_novelty_rate": _NOVELTY_SQL,
    "copurchase_projection": _COPURCHASE_SQL,
    "bpe_merge_rounds": _bpe_merge_sql(),
    "markov_conditional_entropy": _MARKOV_SQL,
    "pearson_matrix": _pearson_sql(),
    "join_fanout_histogram": _FANOUT_SQL,
}
