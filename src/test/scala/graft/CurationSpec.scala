package graft

import graft.queries.Curation
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("upsertByKey merges exactly and leaves untouched buckets' files alone") {
    val t = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/t"
    val df0 = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    Curation.writeBucketed(df0, t, "id", numBuckets = 8)
    // file inventory per bucket dir: (path -> mtime); top-level _SUCCESS
    // is rewritten by any write, so only bucket contents count
    def listing(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(t))
        .filter(f => f.getPath.contains("__bucket=") && !f.getName.startsWith("."))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = listing()
    val updates = Seq((5L, "V5"), (17L, "V17"), (200L, "v200")).toDF("id", "v")
    Curation.upsertByKey(spark, t, updates, "id", numBuckets = 8)
    val got = spark.read.parquet(t).select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got.size == 101, s"expected 100 + 1 new row, got ${got.size}")
    assert(got(5L) == "V5" && got(17L) == "V17", "updated rows must win")
    assert(got(200L) == "v200", "new key must insert")
    assert(got(6L) == "v6" && got(99L) == "v99", "untouched rows must survive")
    val affected = updates
      .select(Curation.bucketOf(col("id"), 8).as("b"))
      .distinct().as[Int].collect().toSet
    assert(affected.size < 8, "fixture degenerate: every bucket touched")
    val after = listing()
    (0 until 8).filterNot(affected).foreach { b =>
      val pre = before.filter(_._1.contains(s"__bucket=$b/"))
      val post = after.filter(_._1.contains(s"__bucket=$b/"))
      assert(pre == post,
        s"untouched bucket $b was rewritten: before=$pre after=$post")
      assert(pre.nonEmpty, s"bucket $b unexpectedly empty before upsert")
    }
    // duplicate keys in one batch: merge order would be nondeterministic
    val err = intercept[IllegalArgumentException] {
      Curation.upsertByKey(spark, t,
        Seq((1L, "a"), (1L, "b")).toDF("id", "v"), "id", numBuckets = 8)
    }
    assert(err.getMessage.contains("duplicate"))
  }

  test("upsert into a bucket directory that does not exist yet creates it") {
    // sparse layout: 3 rows over 64 buckets leaves most bucket dirs absent;
    // an arriving key hashing to an absent bucket must create the partition,
    // not die on the pruned read or drop the row
    val t = java.nio.file.Files.createTempDirectory("graft_upsert_new").toString + "/t"
    Curation.writeBucketed(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t, "id", 64)
    val present = new java.io.File(t).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket=")).length
    // find keys whose bucket dir is absent AND one update to a present key
    val candidates = (4L until 200L).map(i => (i, s"n$i")).toDF("id", "v")
      .withColumn("b", Curation.bucketOf(col("id"), 64))
    val presentBuckets = spark.read.parquet(t)
      .select("__bucket").distinct().as[Int].collect().toSet
    val newKey = candidates.as[(Long, String, Int)].collect()
      .find { case (_, _, b) => !presentBuckets.contains(b) }.get
    Curation.upsertByKey(spark, t,
      Seq((newKey._1, newKey._2), (1L, "A")).toDF("id", "v"), "id", 64)
    val got = spark.read.parquet(t).select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got.size == 4 && got(newKey._1) == newKey._2 && got(1L) == "A")
    val after = new java.io.File(t).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket=")).length
    assert(after == present + 1, s"new bucket dir not created: $present -> $after")
  }

  test("streaming upsert: foreachBatch maintains the bucketed table across micro-batches") {
    // the CDC-shaped maintenance loop: a stream of corrections/arrivals
    // applied incrementally to the bucketed corpus table — foreachBatch is
    // the Spark-first bridge from a stream to a batch mutation (each
    // micro-batch is a bounded DataFrame, so upsertByKey's semantics and
    // bucket-pruning cost model apply unchanged per batch)
    implicit val sqlCtx = spark.sqlContext
    val t = java.nio.file.Files.createTempDirectory("graft_supsert").toString + "/t"
    Curation.writeBucketed(
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v"), t, "id", 8)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Curation.upsertByKey(spark, t, batch, "id", numBuckets = 8)
      }
      .start()
    try {
      input.addData(Seq((7L, "V7"), (60L, "v60")))
      q.processAllAvailable()
      input.addData(Seq((7L, "V7b"), (8L, "V8")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(t).select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got.size == 51, s"50 + 1 new, got ${got.size}")
    assert(got(7L) == "V7b", "later micro-batch must win over earlier")
    assert(got(60L) == "v60" && got(8L) == "V8" && got(0L) == "v0")
  }

  test("compactBuckets rewrites only fragmented buckets, down to one file each") {
    val t = java.nio.file.Files.createTempDirectory("graft_compactb").toString + "/t"
    val df0 = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    // one file per bucket to start
    Curation.writeBucketed(df0.coalesce(1), t, "id", numBuckets = 4)
    def dataFiles(b: Int): Seq[String] =
      Option(new java.io.File(s"$t/__bucket=$b").listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(_.getPath)
    // fragment ONE bucket the way production does: small appends, one file
    // each (new keys that hash into it, per the engine's own bucketOf)
    val hot = df0.select(Curation.bucketOf(col("id"), 4).as("b"))
      .as[Int].head()
    val extraKeys = (1000L until 1300L).map(i => (i, s"x$i")).toDF("id", "v")
      .withColumn("b", Curation.bucketOf(col("id"), 4))
      .as[(Long, String, Int)].collect().filter(_._3 == hot).take(10)
    assert(extraKeys.length == 10, "fixture degenerate: not enough keys for hot bucket")
    extraKeys.foreach { case (id, v, _) =>
      Seq((id, v)).toDF("id", "v")
        .withColumn("__bucket", Curation.bucketOf(col("id"), 4))
        .coalesce(1)
        .write.partitionBy("__bucket").mode("append").parquet(t)
    }
    assert(dataFiles(hot).size == 11, s"hot bucket has ${dataFiles(hot).size} files")
    val contentBefore = spark.read.parquet(t).select("id", "v")
      .as[(Long, String)].collect().toSet
    def listing(b: Int): Map[String, Long] =
      dataFiles(b).map(p => p -> new java.io.File(p).lastModified()).toMap
    val coldBefore = (0 until 4).filterNot(_ == hot).map(b => b -> listing(b))
    val compacted = Curation.compactBuckets(spark, t, maxFilesPerBucket = 8)
    assert(compacted == Seq(hot), s"compacted $compacted, expected only $hot")
    assert(dataFiles(hot).size == 1, s"hot bucket still ${dataFiles(hot).size} files")
    assert(spark.read.parquet(t).select("id", "v")
      .as[(Long, String)].collect().toSet == contentBefore, "compaction changed content")
    coldBefore.foreach { case (b, pre) =>
      assert(listing(b) == pre, s"cold bucket $b was rewritten")
    }
    // nothing oversized anymore: no-op, no writes
    val snap = (0 until 4).map(listing)
    assert(Curation.compactBuckets(spark, t, maxFilesPerBucket = 8).isEmpty)
    assert((0 until 4).map(listing) == snap, "no-op compaction rewrote files")
  }

  test("streaming stats: foreachBatch keeps the stats table equal to a recompute") {
    implicit val sqlCtx = spark.sqlContext
    val statsPath = java.nio.file.Files.createTempDirectory("graft_sstats").toString + "/stats"
    val docs = Tables.documents(spark, sf()).limit(60)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, String, Long)]
    val q = input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Curation.mergeDocStats(spark, statsPath, batch)
      }
      .start()
    try {
      input.addData(docs.take(25).toSeq)
      q.processAllAvailable()
      input.addData(docs.drop(25).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val all = docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val maintained = spark.read.parquet(statsPath)
      .select("source", "lang", "n_docs", "sum_chars", "checksum")
      .collect().map(key).toSet
    val full = Curation.docStats(all)
      .select("source", "lang", "n_docs", "sum_chars", "checksum")
      .collect().map(key).toSet
    assert(maintained == full)
  }

  test("living table vs reference model: random upsert/compact sequences agree") {
    // state-machine property: the bucketed table under any op sequence must
    // equal a driver-side Map applying the same ops — the whole-table
    // contract the individual tests can't cover combinatorially
    val t = java.nio.file.Files.createTempDirectory("graft_statem").toString + "/t"
    val rnd = new java.util.Random(20260812L)
    var model = (0L until 60L).map(i => i -> s"v$i").toMap
    Curation.writeBucketed(model.toSeq.toDF("id", "v"), t, "id", numBuckets = 8)
    (1 to 12).foreach { step =>
      rnd.nextInt(2) match {
        case 0 => // upsert: mix of updates and inserts, unique keys
          val keys = (0 until (1 + rnd.nextInt(6)))
            .map(_ => rnd.nextLong(200L)).distinct
          val batch = keys.map(k => k -> s"u$step-$k")
          model ++= batch
          Curation.upsertByKey(spark, t, batch.toDF("id", "v"), "id", 8)
        case 1 =>
          Curation.compactBuckets(spark, t, maxFilesPerBucket = 2)
      }
      val got = spark.read.parquet(t).select("id", "v")
        .as[(Long, String)].collect().toMap
      assert(got == model, s"diverged at step $step: " +
        s"only-table=${got.toSet -- model.toSet} only-model=${model.toSet -- got.toSet}")
    }
  }

  test("mergeDocStats: incrementally maintained stats == from-scratch recompute") {
    val docs = Tables.documents(spark, sf()).cache()
    val statsPath = java.nio.file.Files.createTempDirectory("graft_stats").toString + "/stats"
    // three uneven batches, applied in sequence (first one creates the table)
    Seq(
      docs.filter(col("doc_id") % 7 === 0),
      docs.filter(col("doc_id") % 7 === 1),
      docs.filter(!(col("doc_id") % 7).isin(0, 1))
    ).foreach(b => Curation.mergeDocStats(spark, statsPath, b))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val maintained = spark.read.parquet(statsPath)
      .select("source", "lang", "n_docs", "sum_chars", "checksum")
      .collect().map(key).toSet
    val full = Curation.docStats(docs)
      .select("source", "lang", "n_docs", "sum_chars", "checksum")
      .collect().map(key).toSet
    assert(maintained == full,
      s"maintained != recompute: only-maintained=${maintained -- full} only-full=${full -- maintained}")
    assert(full.nonEmpty)
    // the stats table stays one file regardless of batch count
    val files = Option(new java.io.File(statsPath).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files.size == 1, s"stats table fragmented: ${files.size} files")
    docs.unpersist()
  }

  test("char_bigram_counts matches the explode+count derivation") {
    import org.apache.spark.sql.graftbridge.Bridge
    val docs = Tables.documents(spark, sf()).limit(60)
    val native = docs
      .select(col("doc_id"), explode(Bridge.column(
        graft.functions.expr.CharBigramCountsF(
          Bridge.expression(col("text"))))).as(Seq("bg", "c")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong)).toSet
    val derived = docs
      .select(col("doc_id"), explode(
        when(length(col("text")) >= 2,
          transform(sequence(lit(1), length(col("text")) - 1),
            i => col("text").substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(native == derived)
    assert(native.nonEmpty)
    // edges: null and too-short text produce no rows
    val edge = Seq((1L, null.asInstanceOf[String]), (2L, "x"), (3L, "xy"))
      .toDF("doc_id", "text")
    val out = edge.select(col("doc_id"), explode(Bridge.column(
        graft.functions.expr.CharBigramCountsF(
          Bridge.expression(col("text"))))).as(Seq("bg", "c")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq == Seq((3L, "xy", 1)))
  }

  test("imperative extension installs are idempotent") {
    import graft.plans.{AsOf, AsOfJoinStrategy, GraftFunctions, RewriteDotProduct}
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    AsOf.install(spark); AsOf.install(spark)
    assert(exp.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
    GraftFunctions.installPlanRewrites(spark)
    GraftFunctions.installPlanRewrites(spark)
    assert(exp.extraOptimizations.count(_ == RewriteDotProduct) == 1)
    // leave the shared session as we found it (DotProductSpec compares the
    // HOF and native forms, which must stay distinct plans there)
    GraftFunctions.removePlanRewrites(spark)
    assert(!exp.extraOptimizations.contains(RewriteDotProduct))
  }
}
