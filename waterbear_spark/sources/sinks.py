"""Write paths: partitioned sinks, bucketed tables, and MERGE upsert.

Delta Lake is the intended production sink (reference README.md:39-111
documents Delta + DLT); this environment has no delta-spark, so every
writer gates on its availability and falls back to parquet with the same
semantics expressed via core Spark.

Scale notes:
* partitioned writes put the partition column in the directory layout ->
  partition pruning on read (the bronze `_ingest_date` pattern);
* bucketed tables co-locate join keys at write time: two tables bucketed
  by the same key join with ZERO exchange — pre-paying the shuffle once
  at ingest, the decisive pattern for repeated 100 TB fact-fact joins;
* merge_upsert without a transaction log stages the rewritten table and
  swaps directories; with Delta it becomes a single MERGE with file-level
  pruning. The join-based rewrite is still one shuffle on the keys.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:
    from delta.tables import DeltaTable

    HAS_DELTA = True
except ImportError:
    DeltaTable = None
    HAS_DELTA = False

# the table format every writer here uses unless told otherwise
DEFAULT_FORMAT = "delta" if HAS_DELTA else "parquet"


def _staged_swap(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_cols: list[str] | None = None,
) -> None:
    """Replace the table at ``path`` with ``df``: write a staging
    directory beside it, rename the table to a backup, rename the
    staging directory in, delete the backup. Atomic enough for
    single-writer pipelines; Delta is the answer for concurrent writers.
    Pass ``partition_cols`` to keep a hive-partitioned layout."""
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite").format(fmt)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(staging)
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Partition-pruned sink (directory layout = partition columns)."""
    fmt = fmt or DEFAULT_FORMAT
    df.write.mode(mode).format(fmt).partitionBy(*partition_cols).save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted table: co-locates (and pre-sorts) rows by join
    key so equi-joins/aggregations on the bucket key need no exchange.
    Bucket metadata lives in the session catalog (saveAsTable is required
    for Spark to trust bucketing on read)."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def zorder_key(cols: list, mins: list, maxs: list, bits: int = 16):
    """Morton (Z-order) key over numeric columns: scale each to ``bits``
    bits via driver-supplied min/max, then interleave bitplanes. Pure
    Catalyst bit arithmetic — codegen-friendly, zero Python per row.
    """
    n = len(cols)
    scaled = []
    for c, mn, mx in zip(cols, mins, maxs):
        span = float(mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit((1 << bits) - 1),
                ((c.cast("double") - float(mn)) * ((1 << bits) - 1) / span).cast(
                    "long"
                ),
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 8,
    fmt: str | None = None,
) -> None:
    """Multi-dimensional clustering sink (Delta ``OPTIMIZE ZORDER BY``
    re-expressed on core Spark): rows are range-partitioned and sorted by
    a Morton interleave of the clustering columns, so every file's
    min/max footer range is tight on EVERY clustered column — parquet
    row-group/file skipping then prunes scans filtered on any of them.

    A plain sort gets one column tight and leaves the others spanning the
    full domain; the bit interleave bounds all dimensions at once. At
    100 TB this is the difference between reading one file and reading
    the table for a point lookup on the second column.

    Column min/max come from one tiny driver-side agg (two values per
    column); the z-key itself is row-local bit arithmetic, and the only
    exchange is the range partition that also sizes output files.
    """
    fmt = fmt or DEFAULT_FORMAT
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    z = zorder_key(
        [F.col(c) for c in cols],
        [stats[f"mn_{c}"] for c in cols],
        [stats[f"mx_{c}"] for c in cols],
    )
    (
        df.withColumn("_zkey", z)
        .repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def write_sorted_runs(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    sort_cols: list[str],
    num_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Secondary-sort export: co-locate each key's rows in one file and
    sort them by ``sort_cols`` within it — the time-series/training-log
    layout consumers can stream per key without re-sorting.

    The classic MapReduce "secondary sort" as one Spark exchange:
    ``repartition(key)`` clusters, ``sortWithinPartitions(key, sort)``
    orders inside each task with spillable external sort — no global
    sort, no driver involvement, and downstream readers get run-length
    locality on the key plus ordered scans per run.
    """
    (
        df.repartition(num_files, *[F.col(c) for c in key_cols])
        .sortWithinPartitions(*key_cols, *sort_cols)
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction (the OPTIMIZE half of Delta maintenance):
    rewrite a directory of many small files into ``ceil(bytes/target)``
    right-sized files via a staged write + directory swap. Returns the
    new file count.

    Small files are the classic death-by-metadata failure at 100 TB —
    every file costs a driver listing entry, a task, and a footer read.
    Compaction uses ``coalesce`` (narrow, no shuffle: tasks read several
    input files each) rather than ``repartition``, which would shuffle
    the full dataset just to even out sizes. AQE sizing does this for
    new writes; this operator fixes tables already fragmented by
    streaming/CDC appends.
    """
    import math

    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(path)

    _staged_swap(df.coalesce(n_files), path, fmt)
    return n_files


class CheckViolationError(ValueError):
    """A write/merge produced rows violating a table CHECK constraint —
    the Delta behavior (InvariantViolationException): the transaction
    fails and the table is left untouched."""


def _enforce_checks(df: DataFrame, checks: dict[str, str], action: str) -> None:
    """Delta CHECK-constraint parity: every row the transaction WRITES
    must satisfy every constraint (NULL predicate results count as
    violations, matching Delta, where CHECK (expr) requires expr to be
    TRUE for accepted rows). Raises :class:`CheckViolationError` naming
    the first violated constraint and a violation count; callers invoke
    this BEFORE any table mutation so a failed check leaves the target
    byte-identical (Delta's transactionality)."""
    for name, expr in checks.items():
        bad = df.filter(~F.coalesce(F.expr(expr), F.lit(False)))
        n = bad.limit(1001).count()
        if n:
            raise CheckViolationError(
                f"{action}: CHECK constraint `{name}` ({expr}) violated by "
                f"{'>1000' if n > 1000 else n} written row(s) — transaction "
                "aborted, target unchanged (Delta invariant semantics)"
            )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    fmt: str | None = None,
    delete_condition: str | None = None,
    merge_schema: bool = False,
    check_constraints: dict[str, str] | None = None,
) -> DataFrame:
    """MERGE ``updates`` into the table at ``target_path``: matched keys
    are replaced, unmatched keys are inserted, and — when
    ``delete_condition`` (a SQL predicate over the update row, e.g. the
    CDC flag ``_op = 'D'``) is given — matching update rows DELETE their
    target keys instead, so one batch can carry update+insert+delete.

    Delta available -> a real MERGE (file-pruned, transactional).
    Parquet fallback -> anti-join keep + union, staged write, directory
    swap (atomic enough for single-writer pipelines; Delta is the answer
    for concurrent writers).

    Contract pinned to Delta MERGE semantics (the fallback must not
    silently mean something else):

    * duplicate keys in one batch raise — Delta's MERGE errors when a
      target row matches multiple source rows, and the naive fallback
      would instead insert both copies (a divergence, not a feature);
    * ``merge_schema=True`` allows the batch to ADD columns (old rows
      read NULL for them — Delta's ``mergeSchema`` autoMerge); without
      it a schema change raises, as Delta does;
    * a delete of a key absent from the target is a no-op;
    * ``check_constraints`` ({name: SQL predicate}) replays Delta table
      CHECK constraints: every row the merge WRITES (updates + inserts
      — the post-image; deletes and untouched rows are exempt) must
      satisfy every predicate, NULL counting as a violation, else
      :class:`CheckViolationError` aborts BEFORE any mutation and the
      target stays byte-identical.
    """
    fmt = fmt or DEFAULT_FORMAT

    # Delta parity: one target row must match at most one source row
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    if dup.limit(1).count():
        raise ValueError(
            f"merge_upsert: duplicate keys {keys} in one update batch — "
            "Delta MERGE rejects multiple source matches per target row"
        )

    if fmt == "delta" and HAS_DELTA:  # pragma: no cover - delta not in env
        if check_constraints:
            post = updates
            if delete_condition is not None:
                post = updates.filter(
                    ~F.coalesce(F.expr(delete_condition), F.lit(False))
                )
            _enforce_checks(post, check_constraints, "merge_upsert")
        auto_key = "spark.databricks.delta.schema.autoMerge.enabled"
        prev_auto = spark.conf.get(auto_key, None)
        if merge_schema:
            spark.conf.set(auto_key, "true")
        try:
            target = DeltaTable.forPath(spark, target_path)
            tcols = target.toDF().columns
            extra = [c for c in updates.columns if c not in tcols]
            if extra and not merge_schema:
                if delete_condition is None:
                    # fallback parity: schema change without opt-in raises
                    raise ValueError(
                        f"merge_upsert: update batch adds columns {extra} "
                        "— pass merge_schema=True to evolve the table"
                    )
                # fallback parity (r10 advisor): a batch column that
                # exists only to drive the delete flag (e.g. CDC ``_op``)
                # must never land in the table — *UpdateAll/*InsertAll
                # would write it (or fail), so project the clauses down
                # to target columns while the merge CONDITIONS still see
                # the full update row.
                set_map = {c: f"u.{c}" for c in updates.columns if c in tcols}
            else:
                set_map = None  # schemas agree, or autoMerge evolves
            cond = " AND ".join(f"t.{k} = u.{k}" for k in keys)
            m = target.alias("t").merge(updates.alias("u"), cond)
            if delete_condition is not None:
                # a delete-flagged row that matches NO target key must
                # stay a no-op (the documented contract and the parquet
                # fallback's behavior) — an unguarded insert clause would
                # INSERT it. NULL flags count as not-deleted, matching
                # the fallback's coalesce(..., false).
                m = m.whenMatchedDelete(condition=delete_condition)
                not_del = f"NOT coalesce(({delete_condition}), false)"
                if set_map is None:
                    m = m.whenMatchedUpdateAll()
                    m = m.whenNotMatchedInsertAll(condition=not_del)
                else:
                    m = m.whenMatchedUpdate(set=set_map)
                    m = m.whenNotMatchedInsert(condition=not_del, values=set_map)
            elif set_map is None:
                m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
            else:
                m = m.whenMatchedUpdate(set=set_map).whenNotMatchedInsert(
                    values=set_map
                )
            m.execute()
        finally:
            if merge_schema:
                if prev_auto is None:
                    spark.conf.unset(auto_key)
                else:
                    spark.conf.set(auto_key, prev_auto)
        return spark.read.format("delta").load(target_path)

    target = spark.read.format(fmt).load(target_path)
    if delete_condition is not None:
        # the anti-join below removes EVERY update key from the target
        # (deletes included); only the non-delete rows are re-inserted.
        # After the split the CDC flag (and any other column the batch
        # carries only to drive the condition) is projected away unless
        # the table is evolving — the explicit-clause MERGE idiom, where
        # the _op column never lands in the table.
        is_del = F.coalesce(F.expr(delete_condition), F.lit(False))
        upserts = updates.filter(~is_del)
        if not merge_schema:
            upserts = upserts.drop(
                *[c for c in upserts.columns if c not in target.columns]
            )
    else:
        upserts = updates
    new_cols = [c for c in upserts.columns if c not in target.columns]
    if new_cols and not merge_schema:
        raise ValueError(
            f"merge_upsert: update batch adds columns {new_cols} — pass "
            "merge_schema=True to evolve the table (Delta mergeSchema)"
        )
    if check_constraints:
        _enforce_checks(upserts, check_constraints, "merge_upsert")
    kept = target.join(updates.select(*keys), on=keys, how="left_anti")
    merged = kept.unionByName(upserts, allowMissingColumns=merge_schema)
    _staged_swap(merged, target_path, fmt)
    return spark.read.format(fmt).load(target_path)


def scd2_apply(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str,
    ts_col: str,
    fmt: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current versions of
    changed keys (set ``_valid_to``) and append the new versions as
    current rows. The silver-layer history pattern on top of merge.
    """
    fmt = fmt or DEFAULT_FORMAT
    target = spark.read.format(fmt).load(target_path)

    changed_keys = updates.select(key).distinct()
    closing = (
        target.join(changed_keys, on=key, how="left_semi")
        .filter(F.col("_valid_to").isNull())
        .withColumn("_valid_to", F.current_timestamp())
    )
    untouched = target.join(changed_keys, on=key, how="left_anti").unionByName(
        target.join(changed_keys, on=key, how="left_semi").filter(
            F.col("_valid_to").isNotNull()
        )
    )
    fresh = (
        updates.withColumn("_valid_from", F.col(ts_col))
        .withColumn("_valid_to", F.lit(None).cast("timestamp"))
        .drop(ts_col)
    )
    merged = untouched.unionByName(closing).unionByName(fresh)
    _staged_swap(merged, target_path, fmt)
    return spark.read.format(fmt).load(target_path)


def delete_where(
    spark: SparkSession,
    target_path: str,
    predicate: str,
    fmt: str | None = None,
    partition_cols: list[str] | None = None,
) -> int:
    """GDPR-style conditional DELETE: remove every row matching
    ``predicate`` from the table at ``target_path``. Returns the number
    of rows deleted.

    SQL DELETE semantics (what Delta's DELETE does): a row is removed
    only when the predicate evaluates to TRUE — rows where it evaluates
    to NULL (e.g. ``v > 5`` on a NULL ``v``) are KEPT, not silently
    dropped, so the keep-side is ``NOT pred OR pred IS NULL`` rather
    than the naive ``NOT pred`` (which would lose NULL-predicate rows
    from both sides — data a GDPR delete must not touch).

    Delta available -> a transactional file-pruned DELETE. Parquet
    fallback -> keep-side rewrite with the same staged-write +
    directory-swap discipline as ``merge_upsert``.
    At scale the expensive path is the keep-side rewrite of only the
    files that CONTAIN matches — which is exactly what Delta's file
    pruning buys; the fallback rewrites the whole table and is the
    single-writer/small-table variant. Pass ``partition_cols`` when the
    table is hive-partitioned so the rewrite preserves the layout.
    """
    fmt = fmt or DEFAULT_FORMAT
    if fmt == "delta" and HAS_DELTA:  # pragma: no cover - delta not in env
        target = DeltaTable.forPath(spark, target_path)
        before = spark.read.format("delta").load(target_path).count()
        target.delete(predicate)
        return before - spark.read.format("delta").load(target_path).count()

    df = spark.read.format(fmt).load(target_path)
    dead = F.coalesce(F.expr(predicate), F.lit(False))
    n_dead = df.filter(dead).count()
    if n_dead == 0:
        return 0
    _staged_swap(df.filter(~dead), target_path, fmt, partition_cols)
    return n_dead


def overwrite_partitions(
    df: DataFrame, target_path: str, partition_cols: list[str]
) -> None:
    """Selective partition overwrite (Delta ``replaceWhere`` semantics on
    plain parquet): rewrite ONLY the hive partitions present in ``df``,
    leaving every other partition's files untouched — Spark's dynamic
    partitionOverwriteMode, pinned here per-write so the session default
    (STATIC, which would truncate the whole table) can't leak in.

    This is the incremental-backfill primitive: re-deriving one day of a
    partitioned table must not rewrite (or even list) the other days.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(target_path)
    )


def replace_where(
    spark: SparkSession,
    target_path: str,
    df: DataFrame,
    predicate: str,
    fmt: str | None = None,
    check_constraint_enabled: bool = True,
) -> DataFrame:
    """Delta ``replaceWhere`` on an arbitrary predicate: atomically
    delete every target row matching ``predicate`` and insert ``df`` —
    the declarative "replace this REGION of the table" overwrite
    (backfill a date range, restate one source, rebuild one tenant)
    that, unlike :func:`overwrite_partitions`, is not limited to hive
    partition boundaries (Delta supports arbitrary-column replaceWhere
    since 1.1).

    Contract pinned to Delta semantics:

    * rows where the predicate evaluates NULL are KEPT (delete takes
      only predicate-TRUE rows);
    * with ``check_constraint_enabled`` (Delta's
      ``replaceWhere.constraintCheck.enabled``, default true) the write
      RAISES if ``df`` contains any row that does NOT satisfy the
      predicate — replacing a region with out-of-region rows is almost
      always a bug; pass False to replicate Delta's opt-out;
    * an empty ``df`` is a pure region delete;
    * a predicate matching nothing is a pure insert (``df`` must still
      satisfy it);
    * the constraint check runs BEFORE any mutation, so a failed write
      leaves the target byte-identical;
    * ``df`` must match the target schema exactly — replaceWhere is not
      a schema-evolution path (Delta: overwriteSchema is a separate,
      whole-table opt-in).

    Parquet fallback scale shape: one predicate-filtered scan of the
    target (at 100 TB, partition/file pruning applies when the
    predicate covers layout columns) + the staged-swap write; with
    Delta it becomes a metadata-level file replacement.
    """
    fmt = fmt or DEFAULT_FORMAT

    if check_constraint_enabled:
        _enforce_checks(
            df, {"replaceWhere": predicate}, "replace_where"
        )

    if fmt == "delta" and HAS_DELTA:  # pragma: no cover - delta not in env
        # constraintCheck is a SESSION conf, not a writer option — as a
        # writer option Delta silently ignores it and its default-true
        # check would still raise under check_constraint_enabled=False.
        # Set it on the session for the write and restore after.
        conf_key = (
            "spark.databricks.delta.replaceWhere.constraintCheck.enabled"
        )
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, str(check_constraint_enabled).lower())
        try:
            (
                df.write.format("delta")
                .mode("overwrite")
                .option("replaceWhere", predicate)
                .save(target_path)
            )
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        return spark.read.format("delta").load(target_path)

    target = spark.read.format(fmt).load(target_path)
    if set(df.columns) != set(target.columns):
        raise ValueError(
            f"replace_where: frame columns {sorted(df.columns)} != table "
            f"columns {sorted(target.columns)} — replaceWhere does not "
            "evolve schemas"
        )
    kept = target.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
    _staged_swap(kept.unionByName(df), target_path, fmt)
    return spark.read.format(fmt).load(target_path)
