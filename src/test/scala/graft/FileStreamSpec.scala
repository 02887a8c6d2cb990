package graft

import java.nio.file.Files

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end file-based streaming: readStream over a directory of parquet
  * files (one file per micro-batch via maxFilesPerTrigger) through the
  * shared transforms → memory sink, compared against the batch run on the
  * same data. This is the production shape (`readStream` → transform →
  * `writeStream`); MemoryStream tests cover the semantics matrix.
  */
class FileStreamSpec extends SparkSpec {

  test("parquet file stream through tumblingCounts equals batch") {
    val dir = Files.createTempDirectory("graft-stream").toFile
    try {
      // two "arriving" files from the events table (micro-batch per file)
      val events = Tables.events(spark, sf()).select("event_id", "event_type", "ts", "value")
      events.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)
      events.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)

      val stream = spark.readStream
        .schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.getAbsolutePath)
      val q = Streams.tumblingCounts(stream).writeStream
        .format("memory").queryName("fs_tumble").outputMode(OutputMode.Complete).start()
      try q.processAllAvailable() finally q.stop()

      val streamed = spark.table("fs_tumble")
        .orderBy("w_start", "event_type").collect().toSeq
      val batch = Streams.tumblingCounts(events)
        .orderBy("w_start", "event_type").collect().toSeq
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("JSONL file stream through LSH-index dedup: the LLM ingestion pipeline shape") {
    // the production corpus-ingestion pipeline end to end: .jsonl shards
    // arrive in a directory (the format public text datasets ship as),
    // stream in with an EXPLICIT schema (inference would scan twice), each
    // micro-batch dedups against the persisted LSH band index of the
    // existing corpus, duplicates come out flagged
    val dir = Files.createTempDirectory("graft-jsonl-stream").toFile
    try {
      import spark.implicits._
      val dup = "the quick brown fox jumps over the lazy dog"
      val corpus = Seq((1L, dup)).toDF("doc_id", "text")
      val lsh = graft.operators.MinHashLSH(12, 3, 1)
      val index = lsh.bandIndex(corpus, "doc_id", "text")
      // two arriving shards: batch 1 has a dup of doc 1 + a novel doc,
      // batch 2 re-sends the dup (suppressed) + a token-set dup
      Seq((10L, dup), (11L, "zebra xylophone quark nebula glyph prism vortex"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").json(dir.getAbsolutePath)
      Seq((10L, dup), (12L, "dog lazy the over jumps fox brown quick the"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").json(dir.getAbsolutePath)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir.getAbsolutePath)
      val q = lsh.candidatesFromBands(lsh.bandIndex(stream, "doc_id", "text"), index)
        .select(col("new_id").as("doc_id"), col("index_id").as("matched_id"))
        .dropDuplicates("doc_id", "matched_id")
        .writeStream.format("memory").queryName("fs_jsonl_dedup")
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("fs_jsonl_dedup").as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 1L), (12L, 1L)), s"got $got")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("checkpoint restart resumes exactly-once: no reprocessed rows in the sink") {
    // the operational contract a production pipeline leans on: kill the
    // query, add more input, restart from the SAME checkpoint — every
    // input row lands in the file sink exactly once
    val base = Files.createTempDirectory("graft-restart").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val events = Tables.events(spark, sf()).select("event_id", "event_type", "ts", "value")
    def run(): Unit = {
      val stream = spark.readStream
        .schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
        .select(col("event_id"), col("event_type"))
      val q = stream.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode(OutputMode.Append)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(in)
    run() // first life: processes the even half
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(in)
    run() // restart from checkpoint: must pick up ONLY the odd half
    val got = spark.read.parquet(out).select("event_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    val want = events.select("event_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(got.length == want.length, s"${got.length} vs ${want.length} (dup or loss)")
    assert(got.toSeq == want.toSeq)
  }
}
