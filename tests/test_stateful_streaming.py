"""applyInPandasWithState: per-key state must accumulate ACROSS micro-batches
and the final emitted totals must equal the batch groupBy on the same data."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import Window

from fxa_amplitude_send_spark.sources import load_table
from fxa_amplitude_send_spark.streaming.stateful import running_user_totals


def test_state_accumulates_across_batches(spark, sf_smoke, tmp_path):
    ev = load_table(spark, sf_smoke, "events").select("user_id", "value", "event_id")
    pdf = ev.toPandas()

    src = tmp_path / "in"
    src.mkdir()
    files = 3
    per = (len(pdf) + files - 1) // files
    for i in range(files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        with open(src / f"part-{i}.json", "w") as fh:
            for _, row in chunk.iterrows():
                fh.write(
                    json.dumps(
                        {
                            "user_id": int(row.user_id),
                            "value": float(row.value),
                            "event_id": int(row.event_id),
                        }
                    )
                    + "\n"
                )

    stream = (
        spark.readStream.format("json")
        .schema("user_id long, value double, event_id long")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # the LAST update per user carries the accumulated totals
    updates = spark.sql("SELECT * FROM state_out")
    final = (
        updates.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
        .collect()
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 4)) for r in final}

    expected_rows = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    )
    expected = {r["user_id"]: (r["n"], round(r["t"], 4)) for r in expected_rows}
    assert got == expected

    # state really crossed batch boundaries: some user must appear in >1 batch
    multi = updates.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert multi > 0


def test_streaming_ewma_matches_batch_fold(spark, sf_smoke, tmp_path):
    """Stream prefix through ewma_per_user == batch q_ewma ordered fold,
    bit-identical (same operation order), across micro-batch boundaries."""
    from fxa_amplitude_send_spark.plans.stats import q_ewma
    from fxa_amplitude_send_spark.streaming.stateful import ewma_per_user

    ev = load_table(spark, sf_smoke, "events").select(
        "user_id",
        "value",
        "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("tsec"),
    )
    pdf = ev.toPandas().sort_values(["tsec", "event_id"]).reset_index(drop=True)

    src = tmp_path / "in_ewma"
    src.mkdir()
    files = 3
    per = (len(pdf) + files - 1) // files
    for i in range(files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        with open(src / f"part-{i}.json", "w") as fh:
            for _, row in chunk.iterrows():
                fh.write(
                    json.dumps(
                        {
                            "user_id": int(row.user_id),
                            "value": float(row.value),
                            "event_id": int(row.event_id),
                            "tsec": float(row.tsec),
                        }
                    )
                    + "\n"
                )

    stream = (
        spark.readStream.format("json")
        .schema("user_id long, value double, event_id long, tsec double")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    q = (
        ewma_per_user(stream)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    updates = spark.sql("SELECT * FROM ewma_out")
    # the row with the max n_events per user is the final state
    final = (
        updates.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n_events"))
            ),
        )
        .filter(F.col("rk") == 1)
        .collect()
    )
    got = {r["user_id"]: (round(r["ewma"], 6), r["n_events"]) for r in final}

    batch = q_ewma(spark, sf_smoke).collect()
    expected = {r["user_id"]: (r["ewma"], r["n_events"]) for r in batch}
    assert got == expected

    # state really crossed batch boundaries
    multi = updates.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert multi > 0


def test_stateful_sessionization_matches_batch_gaps_and_islands(
    spark, sf_smoke, tmp_path
):
    """Custom EventTimeTimeout sessionization == batch gaps-and-islands over
    the same rows. Files are fed in event-time order; a far-future sentinel
    advances the watermark so open sessions time out and flush, and a final
    dummy file triggers the timeout batch."""
    from fxa_amplitude_send_spark.streaming.stateful import sessionize_stateful

    ev = load_table(spark, sf_smoke, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)

    src = tmp_path / "in_sess"
    src.mkdir()
    files = 3
    per = (len(pdf) + files - 1) // files
    for i in range(files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        with open(src / f"part-{i}.json", "w") as fh:
            for _, row in chunk.iterrows():
                fh.write(
                    json.dumps(
                        {"user_id": int(row.user_id), "ts": row.ts.isoformat()}
                    )
                    + "\n"
                )
    import pandas as pd

    far = pdf.ts.max() + pd.Timedelta(days=30)
    with open(src / "part-8-sentinel.json", "w") as fh:
        fh.write(json.dumps({"user_id": -1, "ts": far.isoformat()}) + "\n")
    with open(src / "part-9-flush.json", "w") as fh:
        fh.write(
            json.dumps(
                {"user_id": -2, "ts": (far + pd.Timedelta(hours=1)).isoformat()}
            )
            + "\n"
        )

    stream = (
        spark.readStream.format("json")
        .schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .withWatermark("ts", "1 minute")
        .select(
            "user_id", F.col("ts").cast("double").alias("tsec"), "ts"
        )
    )
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got_rows = spark.sql(
        "SELECT * FROM sess_out WHERE user_id >= 0"
    ).collect()
    got = {
        (r.user_id, round(r.session_start, 3), round(r.session_end, 3), r.n_events)
        for r in got_rows
    }

    # batch gaps-and-islands oracle over the same rows
    tsec = F.col("ts").cast("double")
    w = Window.partitionBy("user_id").orderBy("tsec")
    marked = ev.select("user_id", tsec.alias("tsec")).withColumn(
        "new_s",
        F.when(
            F.lag("tsec").over(w).isNull()
            | (F.col("tsec") - F.lag("tsec").over(w) > 1800),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    expected_rows = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.min("tsec").alias("s"),
            F.max("tsec").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    expected = {
        (r.user_id, round(r.s, 3), round(r.e, 3), r.n) for r in expected_rows
    }
    assert got == expected


def test_stateful_op_on_rocksdb_state_store(spark, sf_smoke, tmp_path):
    """The same stateful operator runs unchanged on the RocksDB state store
    provider — the production state backend once keyspaces outgrow executor
    heap (HDFS-backed in-memory state is the default; RocksDB spills to
    local disk with incremental checkpointing)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = load_table(spark, sf_smoke, "events").select(
            "user_id", "value", "event_id"
        )
        pdf = ev.toPandas()
        src = tmp_path / "in_rocks"
        src.mkdir()
        per = (len(pdf) + 1) // 2
        for i in range(2):
            chunk = pdf.iloc[i * per : (i + 1) * per]
            with open(src / f"part-{i}.json", "w") as fh:
                for _, row in chunk.iterrows():
                    fh.write(
                        json.dumps(
                            {
                                "user_id": int(row.user_id),
                                "value": float(row.value),
                                "event_id": int(row.event_id),
                            }
                        )
                        + "\n"
                    )
        stream = (
            spark.readStream.format("json")
            .schema("user_id long, value double, event_id long")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        q = (
            running_user_totals(stream)
            .writeStream.format("memory")
            .queryName("rocks_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        final = (
            spark.sql("SELECT * FROM rocks_out")
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n"), F.max("total_value").alias("t"))
            .collect()
        )
        got = {r["user_id"]: (r["n"], round(r["t"], 4)) for r in final}
        expected_rows = (
            ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
            .collect()
        )
        expected = {r["user_id"]: (r["n"], round(r["t"], 4)) for r in expected_rows}
        assert got == expected
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
