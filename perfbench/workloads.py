"""The two workloads: fixed catalog query lists and the medallion cycle.

Each workload is a closed loop with one client: a pass runs its
operations one after another, and each operation starts when the
previous one has finished. The query lists are fixed by name here and
never recomputed from the catalog, so a later change that removes work
from a query cannot change what is measured. README.md gives the rule
each list was drawn with.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import functions as F

from waterbear_spark.generator.records import RecordGenerator
from waterbear_spark.quality.expectations import Expectations
from waterbear_spark.quality.medallion import bronze_ingest, silver_refine
from waterbear_spark.queries.catalog import ORACLE_SQL, QUERIES
from waterbear_spark.queries.tables import TABLES, table
from waterbear_spark.schema.compiler import SchemaCompiler
from waterbear_spark.testing import compare_frames

import corpus

# queries that fire Spark jobs while their DataFrame is built (driver
# loops, collects, eager persists)
BUILD_QUERIES = [
    "pagerank_bipartite",
]

# queries that fire no job while their DataFrame is built, one per query
# module, with one applyInPandas query (llm)
LEAN_QUERIES = [
    "embedding_knn_label",
    "exists_subquery",
    "hypothetical_rank",
    "lsh_band_planner",
    "quality_report_customer",
    "window_topk_parts",
]

MODEL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "model")
ENTITY = "member"
MEDALLION_ROWS = 120_000
# (rule broken, column, SQL replacement) injected into disjoint shares of
# rows; each replacement breaks exactly that one rule
INJECTED = [
    ("[`balance`] VALUE", "balance", "-1.0D"),
    ("[`tier`] VALUE", "tier", "'UNKNOWN'"),
    ("[`joined_on`] NULLABLE", "joined_on", "CAST(NULL AS DATE)"),
    (
        "[`address`.`zip`] LENGTH",
        "address",
        "named_struct('city', address.city, 'zip', '123', 'country', address.country)",
    ),
    ("[`interests`] SIZE", "interests", "CAST(array() AS array<string>)"),
]
INJECT_SHARE = 0.01  # per rule, so about 5% of rows break one rule


class Catalog:
    """The fixed catalog queries over seeded sf0.01 tables, noop sink."""

    def __init__(self, workdir: str, seed: int):
        self.queries = BUILD_QUERIES + LEAN_QUERIES
        self.sf_dir = os.path.join(workdir, "sf0.01")
        self.seed = seed

    def prepare(self) -> Future:
        """Write the seeded input tables and start their DuckDB twins on a
        second thread (DuckDB releases the GIL); not part of set-up time."""
        corpus.write_tables(self.sf_dir, self.seed)
        pool = ThreadPoolExecutor(1)
        self._twins = pool.submit(self._oracle)
        pool.shutdown(wait=False)
        return self._twins

    def setup(self, spark) -> dict[str, float]:
        """Table listing: resolve every table once in this session."""
        t0 = time.perf_counter()
        for name in TABLES:
            table(spark, self.sf_dir, name)
        return {"tables": time.perf_counter() - t0}

    def reset(self) -> None:
        pass

    def verify(self, spark, tracer, log) -> tuple[int, int]:
        """Collect each query once and compare it with its DuckDB twin.

        This is also the discarded first pass, which warms the JIT and the
        Python workers. Queries without a twin must return rows. Returns
        (attempted, failed).
        """
        results = {}
        for name in self.queries:
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, self.sf_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as err:  # noqa: BLE001 - one query must not stop the run
                results[name] = f"{type(err).__name__}: {err}"[:300]
            log(f"  {name} {time.perf_counter() - t0:.2f}s")
        expected = self._twins.result()
        failed = 0
        for name in self.queries:
            got, want = results[name], expected.get(name)
            if isinstance(got, str):
                problems = [got]
            elif want is None:
                problems = [] if got[1] else ["no rows"]
            else:
                problems = compare_frames(*got, *want)
            if problems:
                failed += 1
                log(f"INCORRECT {name}: {problems}")
        return len(self.queries), failed

    def _oracle(self) -> dict[str, tuple[list, list]]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads = 4")
            for name in TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.sf_dir}/{name}.parquet'")
            out = {}
            for name in self.queries:
                if name in ORACLE_SQL:
                    res = con.execute(ORACLE_SQL[name])
                    out[name] = ([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def check_pass(self, log) -> int:
        return 0

    def run_pass(self, spark, tracer, label: str) -> tuple[list[float], int]:
        """One pass over the list; returns (per-query seconds, failures)."""
        latencies, failed = [], 0
        with tracer.span(label):
            for name in self.queries:
                t0 = time.perf_counter()
                try:
                    with tracer.span(name, count_rdds=True):
                        with tracer.span("build"):
                            df = QUERIES[name](spark, self.sf_dir)
                        if tracer.on:
                            with tracer.span("plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("execute"):
                            df.write.mode("overwrite").format("noop").save()
                except Exception:  # noqa: BLE001 - counted, the pass goes on
                    failed += 1
                latencies.append(time.perf_counter() - t0)
        return latencies, failed


class Medallion:
    """compile -> bronze_ingest -> silver_refine -> report over generated
    member records with a seeded share of injected rule violations."""

    def __init__(self, workdir: str, seed: int):
        self.seed = seed
        self.raw = os.path.join(workdir, "raw")
        self.out = {k: os.path.join(workdir, k) for k in ("bronze", "silver", "quarantine")}
        self.expected: dict[str, int] = {}

    def prepare(self) -> None:
        return None

    def _records(self, spark):
        """Generated rows with violations injected; the bucket column says
        which rule (if any) a row was made to break."""
        df = RecordGenerator(MODEL_DIR, seed=self.seed).frame(spark, ENTITY, MEDALLION_ROWS)
        df = df.withColumn("_bucket", F.floor(F.rand(self.seed + 7919) / INJECT_SHARE))
        for i, (_, col, value) in enumerate(INJECTED):
            df = df.withColumn(col, F.when(F.col("_bucket") == i, F.expr(value)).otherwise(F.col(col)))
        return df

    def setup(self, spark) -> dict[str, float]:
        """Raw-record generation: compile the entity, generate and write
        the raw JSON records bronze ingests."""
        t0 = time.perf_counter()
        SchemaCompiler(MODEL_DIR).compile(ENTITY)
        t1 = time.perf_counter()
        self._records(spark).drop("_bucket").write.mode("overwrite").json(self.raw)
        t2 = time.perf_counter()
        return {"compile": t1 - t0, "frame": t2 - t1}

    def reset(self) -> None:
        """bronze_ingest appends, so every pass starts from empty outputs."""
        for path in self.out.values():
            shutil.rmtree(path, ignore_errors=True)

    def verify(self, spark, tracer, log) -> tuple[int, int]:
        """Count the violations injected into the raw records, then run one
        discarded, checked cycle that warms the JIT. Returns (attempted,
        failed)."""
        counts = dict(self._records(spark).groupBy("_bucket").count().collect())
        self.expected = {rule: counts.get(i, 0) for i, (rule, _, _) in enumerate(INJECTED)}
        log(f"injected {self.expected} into {MEDALLION_ROWS} rows")
        self.reset()
        latencies, _ = self.run_pass(spark, tracer, "warm")
        return len(latencies), self.check_pass(log)

    def run_pass(self, spark, tracer, label: str) -> tuple[list[float], int]:
        """One cycle; returns ([its seconds], failures). The cycle is the
        operation: its steps are too few and too unequal for percentiles
        over them to be steady, and the trace times each step."""
        t0 = time.perf_counter()
        with tracer.span(label):
            with tracer.span("compile"):
                compiled = SchemaCompiler(MODEL_DIR).compile(ENTITY)
            with tracer.span("bronze"):
                bronze = bronze_ingest(spark, self.raw, compiled, self.out["bronze"])
            with tracer.span("silver"):
                silver, quarantine = silver_refine(
                    spark, compiled, self.out["bronze"], self.out["silver"], self.out["quarantine"]
                )
            with tracer.span("report"):
                report = dict(Expectations.for_entity(compiled).report(bronze).collect())
        self._last = (silver, quarantine, report)
        return [time.perf_counter() - t0], 0

    def check_pass(self, log) -> int:
        """Silver plus quarantine must equal the rows in, and the report
        must count exactly the injected violations. Returns 1 if the cycle
        was wrong, else 0."""
        silver, quarantine, report = self._last
        n_silver, n_quar = silver.count(), quarantine.count()
        problems = []
        if n_silver + n_quar != MEDALLION_ROWS or n_quar != sum(self.expected.values()):
            problems.append(f"silver {n_silver} + quarantine {n_quar} rows of {MEDALLION_ROWS}")
        if report != self.expected:
            problems.append(f"report {report} != injected {self.expected}")
        for problem in problems:
            log(f"INCORRECT {problem}")
        return int(bool(problems))
