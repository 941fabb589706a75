"""applyInPandasWithState: running per-key totals across micro-batches."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.tables import table
from waterbear_spark.streaming.stateful import running_user_totals


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    events = table(spark, SF_SMOKE, "events").limit(400)
    src = str(tmp_path / "ev")
    # several files -> several micro-batches with maxFilesPerTrigger=1
    events.repartition(4).write.mode("overwrite").option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ).json(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(src)
    )
    query = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("running")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)

    # the memory sink in update mode appends every emission; the LAST
    # emission per key must equal the batch ground truth
    emitted = spark.sql("SELECT * FROM running")
    batch_truth = {
        r["user_id"]: (r["n"], round(r["s"], 2))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    # memory-sink row order across batches is unspecified; the emission
    # with the highest n_events per key is the final state (counts grow
    # monotonically)
    final = {}
    for row in emitted.collect():
        cur = final.get(row["user_id"])
        if cur is None or row["n_events"] > cur[0]:
            final[row["user_id"]] = (row["n_events"], row["total_value"])
    for uid, (n, s) in batch_truth.items():
        got_n, got_s = final[uid]
        assert got_n == n, f"user {uid}: {got_n} != {n}"
        assert abs(got_s - s) < 0.05

    # state really spanned multiple micro-batches
    assert query.lastProgress is not None

