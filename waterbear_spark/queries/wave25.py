"""Round-8 wave-25 operator: cross-document duplicated-span REMOVAL
manifest — the actionable half of substring dedup.

[[dup_span_census]] measures how much of each document is duplicated;
this wave emits the keep/cut MANIFEST a dedup pass would execute, the
windowed-digest form of Lee et al. 2021 ("Deduplicating Training Data
Makes Language Models Better", arXiv:2107.06499) suffix-array substring
dedup restricted to spans duplicated ACROSS documents:

* every overlapping ``_MANIFEST_K``-token window is digested (md5 of the
  space-joined window — row-local, identical bytes in DuckDB);
* a window is cut from a document iff its digest occurs in at least one
  OTHER document and this document is not the digest's keeper (keeper =
  min doc_id over the digest's documents — the deterministic "keep the
  first copy" rule);
* per document, overlapping/adjacent cut windows merge into maximal
  islands (gaps-and-islands over window start positions), and the
  manifest reports each island as a 1-based token span
  ``[cut_start, cut_end]`` plus its token count.

``dup_span_rewrite`` is that downstream pass: it applies the manifest
with one row-local indexed filter over each affected document's token
array and emits the deduplicated text plus before/after token counts;
the keeper copy of every duplicated span survives, so no content is
lost corpus-wide.

Scale: digesting is one transform over each token array (no explode
before hashing); the only corpus-sized shuffles key on the 128-bit
digest (grouping for the keeper census, then one UNHINTED equi-join of
the window stream against the digest-keyed census — the census is
vocabulary-shaped and unbounded, so it is never hint-broadcast); island
merging is a per-document window bounded by document length. Inherent
cost ~1 digest per corpus token, the same bound as the census operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterbear_spark import scope
from waterbear_spark.queries.llm import TOKENS_SQL, _fan_out, _tokens
from waterbear_spark.queries.tables import table

_MANIFEST_K = 10  # tokens per window — same granularity as dup_span_census


def dup_span_removal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/cut manifest for cross-document duplicated spans — see module
    docstring. Output: (doc_id, cut_start, cut_end, cut_tokens), one row
    per maximal cut island, 1-based token positions, ordered."""
    # the per-window md5 transform is CPU-per-byte-dense and otherwise
    # runs at the scan's file-split width (AQE_PROBE_r11 family: 1.9x
    # at the bench scale from widening; no-op on production-width scans)
    return _removal_manifest(
        _fan_out(spark, table(spark, sf_dir, "documents").select("doc_id", "text"))
    )


def _removal_manifest(docs: DataFrame, k: int = _MANIFEST_K) -> DataFrame:
    """The manifest core over any ``(doc_id, text)`` relation — split out
    so the planted-duplicate tests drive it with synthetic corpora."""
    arr = docs.select("doc_id", _tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= k
    )
    # (doc_id, s, dig): s = 1-based window start, dig = md5 of the
    # k-token window — UNHEXed to its 16-byte binary form, halving the
    # shuffled key bytes vs the 32-char hex (bijective, so grouping and
    # joining on it is exactly the oracle's hex grouping). Persisted:
    # the digest pass (one md5 per corpus token) otherwise re-evaluates
    # once per consumer (census + cut join = 2 full scans, measured in
    # the plan as duplicated parquet scans with zero exchange reuse)
    wins = scope.persist(
        arr.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - k + 1),
                    lambda i: F.unhex(
                        F.md5(F.array_join(F.slice(F.col("t"), i, k), " "))
                    ),
                )
            ).alias("p0", "dig"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("s"), "dig")
    )
    # keeper census per digest: min doc keeps; cross-doc iff min != max
    census = wins.groupBy("dig").agg(
        F.min("doc_id").alias("keeper"), F.max("doc_id").alias("mx")
    )
    cut = (
        wins.join(census, "dig")  # unhinted: census is vocabulary-shaped
        .filter(
            (F.col("keeper") != F.col("mx"))
            & (F.col("doc_id") > F.col("keeper"))
        )
        .select("doc_id", "s")
    )
    # merge overlapping/adjacent cut windows ([s, s+k-1]) into maximal
    # islands: a window starts a new island iff it begins after the
    # running max end + 1 of everything before it
    w_ord = Window.partitionBy("doc_id").orderBy("s")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    isl = (
        cut.withColumn("pe", F.max(F.col("s") + (k - 1)).over(w_prev))
        .withColumn(
            "new_isl",
            F.when(
                F.col("pe").isNull() | (F.col("s") > F.col("pe") + 1), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(w_ord))
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("s").alias("cut_start"),
            (F.max("s") + (k - 1)).alias("cut_end"),
        )
        .select(
            "doc_id",
            "cut_start",
            "cut_end",
            (F.col("cut_end") - F.col("cut_start") + 1).alias("cut_tokens"),
        )
        .orderBy("doc_id", "cut_start")
    )


def dup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the removal manifest: for every document the manifest
    touches, emit the deduplicated text with its cut islands spliced out
    (keeper copies elsewhere in the corpus survive, so no content is
    lost). Output: (doc_id, n_before, n_after, text_after) for affected
    documents — the executable end of the measure
    ([[dup_span_census]]) -> plan ([[dup_span_removal_manifest]]) ->
    apply chain.

    Scale: the manifest aggregates to a per-doc island array (bounded by
    doc_len / k entries), joins back to the affected documents only, and
    the splice is one row-local indexed ``filter`` over the token array —
    no extra corpus shuffle beyond the manifest's own.
    """
    docs = _fan_out(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", _tokens(F.col("text")).alias("t"))
    manifest = dup_span_removal_manifest(spark, sf_dir)
    islands = manifest.groupBy("doc_id").agg(
        F.collect_list(F.struct("cut_start", "cut_end")).alias("isl")
    )
    covered = lambda i: F.exists(  # noqa: E731 — i is the 0-based token index
        F.col("isl"),
        lambda r: (r["cut_start"] <= i + 1) & (i + 1 <= r["cut_end"]),
    )
    return (
        docs.join(islands, "doc_id")
        .withColumn("kept", F.filter("t", lambda x, i: ~covered(i)))
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_before"),
            F.size("kept").cast("long").alias("n_after"),
            F.array_join("kept", " ").alias("text_after"),
        )
        .orderBy("doc_id")
    )


# shared CTE chain: tokenized docs -> window digests -> keeper census ->
# cut windows -> islands -> the per-doc manifest (man)
_MANIFEST_CTES = f"""
d AS (
    SELECT doc_id, {TOKENS_SQL} AS t FROM documents
),
wins AS (
    SELECT doc_id, i AS s,
           md5(array_to_string(list_slice(t, i, i + {_MANIFEST_K - 1}), ' ')) AS dig
    FROM d, UNNEST(generate_series(1, len(t) - {_MANIFEST_K - 1})) AS g(i)
    WHERE len(t) >= {_MANIFEST_K}
),
census AS (
    SELECT dig, MIN(doc_id) AS keeper, MAX(doc_id) AS mx
    FROM wins GROUP BY dig
),
cut AS (
    SELECT w.doc_id, w.s
    FROM wins w JOIN census c USING (dig)
    WHERE c.keeper <> c.mx AND w.doc_id > c.keeper
),
run AS (
    SELECT doc_id, s,
           MAX(s + {_MANIFEST_K - 1}) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
    FROM cut
),
isl AS (
    SELECT doc_id, s,
           SUM(CASE WHEN pe IS NULL OR s > pe + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s) AS island
    FROM run
),
man AS (
    SELECT doc_id,
           MIN(s) AS cut_start,
           MAX(s) + {_MANIFEST_K - 1} AS cut_end,
           MAX(s) + {_MANIFEST_K - 1} - MIN(s) + 1 AS cut_tokens
    FROM isl
    GROUP BY doc_id, island
)"""

DUP_SPAN_REMOVAL_SQL = f"""
WITH {_MANIFEST_CTES}
SELECT doc_id, cut_start, cut_end, cut_tokens
FROM man
ORDER BY doc_id, cut_start
"""

DUP_SPAN_REWRITE_SQL = f"""
WITH {_MANIFEST_CTES},
affected AS (SELECT DISTINCT doc_id FROM man),
pos AS (
    SELECT d.doc_id, generate_subscripts(d.t, 1) AS i, unnest(d.t) AS tok
    FROM d JOIN affected USING (doc_id)
),
kept AS (
    SELECT p.doc_id, p.i, p.tok
    FROM pos p
    WHERE NOT EXISTS (SELECT 1 FROM man m
                      WHERE m.doc_id = p.doc_id
                        AND p.i BETWEEN m.cut_start AND m.cut_end)
)
SELECT d.doc_id,
       len(d.t) AS n_before,
       COUNT(k.i) AS n_after,
       COALESCE(string_agg(k.tok, ' ' ORDER BY k.i), '') AS text_after
FROM d JOIN affected USING (doc_id)
LEFT JOIN kept k ON k.doc_id = d.doc_id
GROUP BY d.doc_id, len(d.t)
ORDER BY d.doc_id
"""


QUERIES = {
    "dup_span_removal_manifest": dup_span_removal_manifest,
    "dup_span_rewrite": dup_span_rewrite,
}

ORACLES = {
    "dup_span_removal_manifest": DUP_SPAN_REMOVAL_SQL,
    "dup_span_rewrite": DUP_SPAN_REWRITE_SQL,
}
