package graft

import graft.operators.TextIndex
import graft.queries.Catalog

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  test("indexed BM25 equals the inline form on the real corpus") {
    val inline = Catalog.queries("q108_bm25")(spark, sf())
      .as[(Long, Double)].collect().toSeq
    val indexed = Catalog.queries("q109_bm25_indexed")(spark, sf())
      .as[(Long, Double)].collect().toSeq
    assert(inline.nonEmpty && indexed == inline)
  }

  test("search reads only the query terms' postings: In filter pushed to the scan") {
    val root = java.nio.file.Files.createTempDirectory("textidx").toString
    val docs = Seq(
      (1L, "spark joins the stream"), (2L, "a quiet unrelated sentence"),
      (3L, "spark spark spark")).toDF("doc_id", "text")
    TextIndex.buildTextIndex(docs, "doc_id", "text", root)
    val q = TextIndex.bm25TopK(spark, root, Seq("spark"))
    q.collect()
    val scans = q.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    // a single term plans as EqualTo, several as In — either proves the
    // term predicate reached the parquet scan
    assert(scans.contains("PushedFilters") &&
      (scans.contains("In(word") || scans.contains("EqualTo(word,spark)")), scans)
    // and the scoring itself: doc 3 (tf=3, shortest) must outrank doc 1
    val top = q.as[(Long, Double)].collect()
    assert(top.head._1 == 3L && top.map(_._1).toSet == Set(1L, 3L))
  }

  test("search scans only the postings and the stats row") {
    val root = java.nio.file.Files.createTempDirectory("ti_nodl").toString
    val docs = Seq(
      (1L, "spark joins the stream"), (2L, "a quiet unrelated sentence"),
      (3L, "spark spark spark")).toDF("doc_id", "text")
    TextIndex.buildTextIndex(docs, "doc_id", "text", root)
    val q = TextIndex.bm25TopK(spark, root, Seq("spark", "stream"))
    q.collect()
    // dl is denormalized onto the postings rows at build time, so scoring
    // joins no |docs|-row side table: the plan reads exactly two tables
    val scans = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("FileScan")).toSeq
    assert(scans.forall(l => l.contains("postings") || l.contains("stats")) &&
      scans.exists(_.contains("postings")) && scans.exists(_.contains("stats")),
      scans.mkString("\n"))
  }

  test("a died rebuild is detected loudly and a rebuild repairs it") {
    val root = java.nio.file.Files.createTempDirectory("ti_crash").toString
    val docs = Seq(
      (1L, "spark joins the stream"), (2L, "spark quiet sentence")).toDF("doc_id", "text")
    TextIndex.buildTextIndex(docs, "doc_id", "text", root)
    val before = TextIndex.bm25TopK(spark, root, Seq("spark"))
      .as[(Long, Double)].collect().toSeq
    // simulate a rebuild that died between the postings write and the
    // stats commit: the committed stats name another build
    val st = spark.read.parquet(s"$root/stats").collect()(0)
    Seq((st.getLong(0), st.getLong(1), st.getDouble(2), "stale-build"))
      .toDF("n_docs", "sum_dl", "avgdl", "build_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/stats")
    // queries fail loudly instead of scoring postings against another
    // build's corpus constants
    val e = intercept[Exception] {
      TextIndex.bm25TopK(spark, root, Seq("spark")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("rebuild the index")), e.toString)
    TextIndex.buildTextIndex(docs, "doc_id", "text", root)
    assert(TextIndex.bm25TopK(spark, root, Seq("spark"))
      .as[(Long, Double)].collect().toSeq == before)
  }

  test("rebuild is overwrite-idempotent: same scores after a second build") {
    val root = java.nio.file.Files.createTempDirectory("textidx2").toString
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha delta")).toDF("doc_id", "text")
    TextIndex.buildTextIndex(docs, "doc_id", "text", root)
    val first = TextIndex.bm25TopK(spark, root, Seq("alpha")).as[(Long, Double)].collect().toSeq
    TextIndex.buildTextIndex(docs, "doc_id", "text", root)
    val second = TextIndex.bm25TopK(spark, root, Seq("alpha")).as[(Long, Double)].collect().toSeq
    assert(first == second && first.nonEmpty)
  }
}
