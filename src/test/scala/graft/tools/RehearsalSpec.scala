package graft.tools

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.Bridge

/** The rehearsal tools on the shared test session: [[ScaleDataGen]] is
  * deterministic, [[ScaleRehearsal]] runs declared queries over its slice
  * and rejects undeclared names, and [[StageMetrics]] is complete after a
  * listener-bus drain and empty after `reset()`.
  */
class RehearsalSpec extends graft.SparkSpec {
  private val dirs = scala.collection.mutable.ArrayBuffer[Path]()

  /** A fresh 300-doc / 200-vector / 2,000-event slice. */
  private def generate(): String = {
    val d = Files.createTempDirectory("graft_rehearsal")
    dirs += d
    ScaleDataGen.generate(spark, d.toString, nDocs = 300, nVecs = 200, nEvents = 2000)
    d.toString
  }

  private lazy val slice = generate()

  override def afterAll(): Unit = {
    dirs.foreach { d =>
      Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
    super.afterAll()
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("two generations of a slice are row-identical") {
    val other = generate()
    for (t <- Seq("documents", "embeddings", "events")) {
      val a = rows(spark.read.parquet(s"$slice/$t.parquet"))
      val b = rows(spark.read.parquet(s"$other/$t.parquet"))
      assert(a.nonEmpty, s"$t is empty")
      assert(a.size == b.size && a.diff(b).isEmpty, s"$t differs between generations")
    }
    assert(spark.read.parquet(s"$slice/documents.parquet").count() == 300)
    assert(spark.read.parquet(s"$slice/embeddings.parquet").count() == 200)
  }

  test("rehearsing a documents query and an events query emits ok lines") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    ScaleRehearsal.run(spark, slice, Seq("q57_chunking", "q37_sliding_batch"), lines += _)
    assert(lines.size == 2, lines)
    assert(lines(0).startsWith("""{"query":"q57_chunking","ok":true,"""), lines(0))
    assert(lines(1).startsWith("""{"query":"q37_sliding_batch","ok":true,"""), lines(1))
    assert(lines.forall(l => l.contains("\"shuffle_write_gb\":") && l.endsWith("\"}")))
  }

  test("an undeclared query name fails before anything runs, naming it") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val e = intercept[IllegalArgumentException] {
      ScaleRehearsal.run(spark, slice, Seq("q57_chunking", "no_such_probe"), lines += _)
    }
    assert(e.getMessage.contains("no_such_probe"), e.getMessage)
    assert(!e.getMessage.contains("q57_chunking"), e.getMessage)
    assert(lines.isEmpty)
  }

  /** `f(metrics)` after one shuffling job ran and the bus was drained.
    * A listener ahead of the metrics on the same queue holds the bus at
    * job start, so the job's events reach the metrics well after the
    * write returns, as under load: only the drain makes the counters
    * complete. */
  private def afterShuffle[T](f: StageMetrics => T): T = {
    val sc = spark.sparkContext
    val lag = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(500)
    }
    val m = new StageMetrics
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(lag)
    sc.addSparkListener(m)
    try {
      spark.range(0, 20000, 1, 4).repartition(3).write.format("noop").mode("overwrite").save()
      Bridge.drainListenerBus(sc)
      f(m)
    } finally { sc.removeSparkListener(m); sc.removeSparkListener(lag) }
  }

  test("StageMetrics holds the shuffle once the listener bus is drained") {
    afterShuffle { m =>
      assert(m.shuffleWrite > 0)
      assert(m.stageNames.nonEmpty && m.stageScopes.nonEmpty && m.stageMaxTask.nonEmpty)
    }
  }

  test("StageMetrics.reset clears every counter and stage map") {
    afterShuffle { m =>
      assert(m.shuffleWrite > 0 && m.stageNames.nonEmpty && m.stageScopes.nonEmpty)
      m.reset()
      assert(Seq(m.shuffleWrite, m.memSpill, m.diskSpill, m.peakExecMem, m.maxTaskMs)
        .forall(_ == 0L))
      assert(m.stageNames.isEmpty && m.stageScopes.isEmpty && m.stageMaxTask.isEmpty)
      assert(m.maxTaskStage == "stage -1" && m.topStages() == "")
    }
  }
}
