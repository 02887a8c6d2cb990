package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** [[Artifacts]], the one memo behind the catalog's trained artifacts,
  * its on-disk stores, the deferred SQL table functions and [[Tables]]'
  * schemas: a rewritten input file is a fresh build, a cold key builds
  * once however many callers race it, and on-disk artifacts of two
  * datasets never share a path.
  */
class ArtifactsSpec extends SparkSpec {

  private def answer(q: String, dir: String): Seq[String] = {
    val d = graft.queries.Catalog.all.find(_.name.startsWith(s"${q}_"))
      .getOrElse(fail(s"no catalog query $q"))
    d.fn(spark, dir).collect().map(_.toString).toSeq.sorted
  }

  private def copyDataset(to: Path): String = {
    Files.createDirectories(to)
    Files.list(Path.of(sf())).iterator().asScala.foreach { f =>
      Files.copy(f, to.resolve(f.getFileName))
    }
    to.toString
  }

  /** The sf0.001 tables whose artifacts the catalog derives, each changed:
    * embeddings and events lose every row whose id is ≡ 0 mod 7, lineitem
    * every row whose supplier key is (so q140's communities change);
    * documents keep every row (the chat content store needs ids 0..499)
    * but those with doc_id ≡ 0 mod 7 keep only the first half of their
    * words. Written as single parquet files under `stage`. */
  private def changedTables(stage: Path): Map[String, Path] = {
    val src = sf()
    def single(name: String, df: DataFrame): (String, Path) = {
      val out = stage.resolve(name).toString
      df.coalesce(1).write.parquet(out)
      val part = Files.list(Path.of(out)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      s"$name.parquet" -> part
    }
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val words = split(col("text"), " ")
    val half = array_join(slice(words, lit(1), greatest(lit(1), floor(size(words) / 2).cast("int"))), " ")
    val cut = col("doc_id") % 7 === 0
    Map(
      single("documents", docs
        .withColumn("text", when(cut, half).otherwise(col("text")))
        .withColumn("n_chars", when(cut, length(col("text"))).otherwise(col("n_chars"))
          .cast(docs.schema("n_chars").dataType))),
      single("embeddings", spark.read.parquet(s"$src/embeddings.parquet")
        .filter(col("vec_id") % 7 =!= 0)),
      single("events", spark.read.parquet(s"$src/events.parquet")
        .filter(col("event_id") % 7 =!= 0)),
      single("lineitem", spark.read.parquet(s"$src/lineitem.parquet")
        .filter(col("l_suppkey") % 7 =!= 0)))
  }

  private def overwrite(dir: String, files: Map[String, Path]): Unit =
    files.foreach { case (name, part) =>
      Files.copy(part, Path.of(dir, name), StandardCopyOption.REPLACE_EXISTING)
    }

  test("an artifact built before its dataset's files are rewritten in place is rebuilt") {
    // one consumer per artifact kind: session-bound frames (bpe, bpe_counts,
    // centroid_scores, unigram_lm, unigram_scores, card_base, the four
    // signal frames, semdedup_cents), the session-free kmeans centroids,
    // and every on-disk store
    val queries = Seq("q122", "q129", "q147", "q154", "q176", "q132", "q111",
      "q56", "q89", "q90", "q118", "q140", "q100", "q112", "q113", "q106",
      "q109", "q156", "q159", "q160", "q167", "q169", "q174")
    val root = Files.createTempDirectory("graft-artifacts-fresh")
    val rewritten = copyDataset(root.resolve("rewritten"))
    val before = queries.map(q => q -> answer(q, rewritten)).toMap
    val old = Artifacts.tables(spark, rewritten).get
    def oldBound: Seq[String] = Artifacts.sessionBound.collect { case (kind, in) if in == old => kind }
    assert(oldBound.nonEmpty, "no session-bound artifact was built over the dataset")
    val changed = changedTables(root.resolve("stage"))
    overwrite(rewritten, changed)
    val filtered = copyDataset(root.resolve("filtered"))
    overwrite(filtered, changed)
    queries.foreach { q =>
      val expected = answer(q, filtered)
      assert(expected != before(q), s"$q: the rewrite does not change its answer")
      assert(answer(q, rewritten) == expected, s"$q served an artifact of the old files")
    }
    // rebuilding over the new files dropped every frame built over the old
    assert(oldBound.isEmpty, s"session-bound artifacts of the old files remain: ${oldBound.sorted}")
  }

  test("on-disk artifacts of datasets whose dir names share a String.hashCode stay apart") {
    assert("Aa".hashCode == "BB".hashCode)
    val root = Files.createTempDirectory("graft-artifacts-hash")
    val aa = copyDataset(root.resolve("Aa"))
    val bb = copyDataset(root.resolve("BB"))
    val other = copyDataset(root.resolve("other"))
    val changed = changedTables(root.resolve("stage"))
    overwrite(bb, changed)
    overwrite(other, changed)
    val a = answer("q56", aa)
    val b = answer("q56", bb)
    assert(a == answer("q56", sf()))
    assert(b == answer("q56", other))
    assert(a != b, "the two datasets should have different q56 answers")
  }

  test("a memoized TVF over a view re-created on rewritten parquet answers from the new files") {
    graft.plans.GraftFunctions.register(spark)
    val p = Files.createTempDirectory("graft-artifacts-tvf").resolve("edges").toString
    def edges(n: Int): Unit =
      spark.range(n).select(col("id").as("src"), pmod(col("id") + 1, lit(n)).as("dst"))
        .write.mode("overwrite").parquet(p)
    def view(): Unit = spark.read.parquet(p).createOrReplaceTempView("artifacts_tvf_edges")
    val sql = "SELECT * FROM pagerank('artifacts_tvf_edges', 'src', 'dst', 2)"
    try {
      edges(8); view()
      assert(spark.sql(sql).collect().length == 8)
      assert(spark.sql(sql).collect().length == 8)
      edges(6); view()
      assert(spark.sql(sql).collect().length == 6, "the memo served the old files' result")
    } finally spark.catalog.dropTempView("artifacts_tvf_edges")
  }

  test("eight callers of one cold key run its build once") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          Artifacts.get("spec_single_flight", None, Some(Nil)) {
            builds.incrementAndGet(); Thread.sleep(200); 42
          }
        }
      }))
      start.countDown()
      assert(got.map(_.get(60, TimeUnit.SECONDS)) == Seq.fill(8)(42))
      assert(builds.get == 1, s"the build ran ${builds.get} times")
    } finally pool.shutdownNow()
  }

  test("a build that throws is forgotten: the next caller and a woken waiter retry it") {
    val builds = new AtomicInteger(0)
    def flaky(failFirst: Boolean, slow: Boolean)(key: String): Int =
      Artifacts.get("spec_retry", None, Some(Nil), key) {
        val n = builds.incrementAndGet()
        if (slow) Thread.sleep(300)
        if (failFirst && n == 1) throw new IllegalStateException("first build fails")
        n
      }
    intercept[IllegalStateException](flaky(failFirst = true, slow = false)("next"))
    assert(flaky(failFirst = true, slow = false)("next") == 2)
    assert(flaky(failFirst = true, slow = false)("next") == 2) // remembered now

    builds.set(0)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = pool.submit(new Callable[Int] {
        def call(): Int = flaky(failFirst = true, slow = true)("waiter")
      })
      Thread.sleep(100) // the first build is in flight
      val waiter = pool.submit(new Callable[Int] {
        def call(): Int = flaky(failFirst = true, slow = true)("waiter")
      })
      assert(intercept[java.util.concurrent.ExecutionException](first.get(60, TimeUnit.SECONDS))
        .getCause.isInstanceOf[IllegalStateException])
      assert(waiter.get(60, TimeUnit.SECONDS) == 2)
    } finally pool.shutdownNow()
  }

  test("builds nest: a build may read other keys of the store") {
    // a computeIfAbsent around the build throws "Recursive update" when a
    // nested key lands in the same bin; 64 pairs cover every bin shape
    val got = (0 until 64).map { i =>
      Artifacts.get("spec_outer", None, Some(Nil), i) {
        Artifacts.get("spec_inner", None, Some(Nil), i)(i) + 1
      }
    }
    assert(got == (1 to 64))
  }

  test("an input that cannot be stat'ed is built every time") {
    val builds = new AtomicInteger(0)
    val missing = Artifacts.version(spark, "/nonexistent/graft/table.parquet")
    assert(missing.isEmpty)
    (1 to 2).foreach { _ =>
      Artifacts.get("spec_unstatable", None, missing.map(Seq(_)))(builds.incrementAndGet())
    }
    assert(builds.get == 2)
  }
}
