"""Spark's native stateful streaming operators, checked against their batch
answers on a drained replay: watermarked tumbling windows and a watermarked
stream-stream interval join. Per-key feature state is not kept in the Spark
state store; ``InferencePipeline`` folds it through the feature table
(tests/test_streaming.py, tests/test_checkpoint_recovery.py)."""

from __future__ import annotations


def test_watermarked_streaming_windows_match_batch(spark, sf_dir, tmp_path):
    """readStream + withWatermark + F.window must converge to the batch
    tumbling-window aggregation (q34) on a bounded replay."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.queries.extended import q34_tumbling_windows

    ev = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "wm_src")
    ev.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # update mode re-emits windows as they grow; final value = max count
    got = {}
    for r in spark.table("wm_out").collect():
        k = (r.window_start, r.event_type)
        got[k] = max(got.get(k, 0), r.n_events)
    want = {
        (r.window_start, r.event_type): r.n_events
        for r in q34_tumbling_windows(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """Stream-stream inner join with watermarks + event-time interval (the
    purchases-after-signup attribution shape): must equal the batch join."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.data import load_table

    ev = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "ss_src")
    ev.coalesce(2).write.parquet(src)

    def side(df, typ, prefix):
        return (
            df.where(F.col("event_type") == typ)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("event_id").alias(f"{prefix}_id"),
            )
        )

    s_batch = side(ev, "signup", "s")
    p_batch = side(ev, "purchase", "p")
    cond = (
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 2 DAYS"))
    )
    want = sorted(
        (r.s_id, r.p_id) for r in s_batch.join(p_batch, cond).collect()
    )

    stream = spark.readStream.schema(ev.schema).parquet(src)
    s_stream = side(stream, "signup", "s").withWatermark("s_ts", "1 hour")
    p_stream = side(stream, "purchase", "p").withWatermark("p_ts", "1 hour")
    q = (
        s_stream.join(p_stream, cond)
        .select("s_id", "p_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r.s_id, r.p_id) for r in spark.table("ss_join").collect())
    assert got == want and len(got) > 0
