"""Streaming ingest tests: availableNow mention extraction, incremental
silver, watermarked counts and streaming document dedup."""

from pyspark.sql import functions as F


def test_stream_mentions_availablenow(spark, tmp_path):
    from casualty_linking_spark import synth
    from casualty_linking_spark.streaming.ingest import stream_mentions

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = synth.transcripts_range(spark, 40)
    t.write.parquet(inp)

    q = stream_mentions(spark, inp, out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 40 * synth.TURNS_PER_CONV
    # extraction matches the batch path
    from casualty_linking_spark.operators import extract

    batch = extract.extract_mentions(spark.read.parquet(inp))
    assert (
        got.select("conv_id", "turn_idx", "snimi").exceptAll(
            batch.select("conv_id", "turn_idx", "snimi")
        ).count()
        == 0
    )

    # incremental: appending new files processes only the delta
    synth.transcripts_range(spark, 60).filter(
        F.expr("CAST(substring(conv_id, 6) AS BIGINT)") >= 40
    ).write.mode("append").parquet(inp)
    q2 = stream_mentions(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 60 * synth.TURNS_PER_CONV


def test_streaming_silver_equals_batch(spark):
    """kg_streaming_silver (availableNow file-stream -> incremental T1 ->
    record collapse) returns exactly the batch silver rows at sf0.001 —
    incremental == batch."""
    from casualty_linking_spark.queries import SILVER_COLS, q_records_silver, q_streaming_silver

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in q_records_silver(spark, sf).collect()}
    streamed = {tuple(r) for r in q_streaming_silver(spark, sf).collect()}
    assert streamed == batch
    assert len(batch) > 0


def test_watermark_bounds_state_and_drops_late(spark, tmp_path):
    """Late-data semantics of the watermarked record-counts stream: a turn
    arriving after the watermark has passed its window is dropped, and each
    finalized window is emitted exactly once (append mode). Three
    availableNow passes over one checkpoint — the watermark persists in the
    checkpoint between restarts, which is exactly how a production
    incremental job advances."""
    import datetime as dt

    from casualty_linking_spark.streaming.ingest import stream_record_counts

    inp = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "counts")
    inp.mkdir()

    def turns(conv, ts_list, start_idx=0):
        return [
            (conv, start_idx + i, "user", f"turn {i}", None,
             dt.datetime(2026, 1, 1, *hm, tzinfo=dt.timezone.utc))
            for i, hm in enumerate(ts_list)
        ]

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(inp))

    def run_pass():
        q = (
            stream_record_counts(spark, str(inp), ckpt, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # pass 1: conv A fully inside the 10:00 window
    write_file(turns("A", [(10, 0), (10, 5), (10, 40)]))
    run_pass()
    # pass 2: conv B at 12:00 -> watermark advances to 11:50, finalizing the
    # 10:00 window
    write_file(turns("B", [(12, 0)]))
    run_pass()
    # pass 3: a LATE turn for conv A at 10:05 — behind the checkpointed
    # watermark (11:50), must be dropped, not merged into the finalized
    # window (which this batch emits)
    write_file(turns("A", [(10, 5)], start_idx=10))
    run_pass()
    # passes 4+5: advance event time so B's window finalizes and emits
    write_file(turns("C", [(14, 0)]))
    run_pass()
    write_file(turns("D", [(16, 0)]))
    run_pass()

    rows = spark.read.parquet(out).collect()
    got = {(r.conv_id, r.window.start.hour): r.n_turns for r in rows}
    # exactly-once per finalized window: no (conv, window) appears twice
    assert len(got) == len(rows), rows
    # the 10:00 window for A was finalized with the on-time 3 turns only;
    # the late duplicate never reappears
    assert got[("A", 10)] == 3, got
    # B's 12:00 window finalized once later turns pushed the watermark past it
    assert got[("B", 12)] == 1, got


def test_stream_dedup_drops_duplicates_and_is_incremental(spark, tmp_path):
    """Streaming exact dedup: duplicates across micro-batches are dropped
    (bounded watermark state), NULL text dedups as one group via the
    sentinel key, and a resumed run over appended files emits only the
    genuinely-new hashes (exactly-once + state restore)."""
    from casualty_linking_spark.streaming.dedup import (
        NULL_TEXT_SENTINEL,
        stream_dedup_documents,
    )

    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    base_ts = F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id") % 60)
    # 40 docs, 10 distinct texts, plus 2 NULL-text docs -> 11 groups
    docs = (
        spark.range(40)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text-"), (F.col("id") % 10).cast("string")).alias("text"),
        )
        .unionByName(
            spark.createDataFrame([(100, None), (101, None)], "doc_id bigint, text string")
        )
        .select("doc_id", "text", base_ts.alias("ts"))
    )
    # several files so dedup must hold state ACROSS micro-batches
    docs.repartition(6).write.parquet(inp)
    stream_dedup_documents(spark, inp, outp, ckpt).awaitTermination(120)

    got = spark.read.parquet(outp)
    assert got.count() == 11
    assert got.select("text_hash").distinct().count() == 11
    assert got.filter(F.col("text_hash") == NULL_TEXT_SENTINEL).count() == 1

    # append: 3 dups of existing texts + 4 new texts, all within watermark
    extra = (
        spark.range(200, 207)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 203, F.concat(F.lit("text-"), (F.col("id") % 10).cast("string")))
            .otherwise(F.concat(F.lit("new-"), F.col("id").cast("string")))
            .alias("text"),
        )
        .select("doc_id", "text", base_ts.alias("ts"))
    )
    extra.write.mode("append").parquet(inp)
    stream_dedup_documents(spark, inp, outp, ckpt).awaitTermination(120)
    got2 = spark.read.parquet(outp)
    assert got2.count() == 15  # 11 + the 4 new texts only
    assert got2.select("text_hash").distinct().count() == 15
