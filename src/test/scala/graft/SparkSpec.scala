package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM, see build.sbt `Test / fork`).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `f`'s result and the number of Spark jobs it started. The listener
    * bus is drained before the listener goes on, so earlier jobs are not
    * counted, and before it comes off, so none of `f`'s are missed. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      Bridge.drainListenerBus(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f` with the given session confs set, restoring them after. */
  def withSQLConf[T](kvs: (String, String)*)(f: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) } // set, not default
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
