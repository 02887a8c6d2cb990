package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Raster

/** Self-tests of the benchmark: its generator round-trips through the
  * reader to the closed forms, its order statistics follow the stated
  * rules, and a wrong answer is counted as a failed operation.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ctx(): Ctx = {
    val dir = Files.createTempDirectory("perfbench-spec")
    val tracer = new Tracer(false, "spec")
    new Ctx(spark, new SparkProbe(spark, tracer), tracer, dir, 2)
  }

  private val exportGrid = TiffGen.Grid(512, 256, 10.0, 50.0, 1.0 / 1024, TiffGen.wgs84)
  private val zonalGrid = TiffGen.Grid(512, 256, 14.0, 47.0, 1.0 / 512, TiffGen.wgs84)

  test("every row of the NoData pattern keeps 6 valid pixels in 8, whatever the seed") {
    for (seed <- 1L to 20L) {
      val p = TiffGen.Pattern.fromSeed(seed)
      assert(p.q == 2)
      for (r <- 0 until 16)
        assert((0 until 64).count(c => !p.masked(c, r)) == 64 / 8 * (8 - p.q))
    }
  }

  test("a tiny classic raster round-trips through raster2df to the closed forms") {
    val c = ctx()
    val w = new RasterExport(7L, exportGrid)
    w.setup(c)
    val got = w.frame(c)
      .agg(count(lit(1)), sum("mask"), sum("sec"), sum("lon"), sum("lat"), sum("area")).head()
    val e = w.expected
    assert(got.getLong(0) == w.expectedPoints)
    assert(got.getDouble(1) == e.mask.toDouble)
    assert(got.getLong(2) == e.sec)
    assert(Stats.relErr(got.getDouble(3), e.lon) < 1e-12)
    assert(Stats.relErr(got.getDouble(4), e.lat) < 1e-12)
    assert(Stats.relErr(got.getDouble(5), e.area) < 1e-9)
  }

  test("the export workload passes its own checks, CSV read-back included") {
    val c = ctx()
    val w = new RasterExport(8L, exportGrid)
    w.setup(c)
    w.pass(c, 1)
    w.finish(c)
    assert(c.attempted == 3 && c.failed == 0)
  }

  test("the zonal workload's cells match the generator through the UTM secondary") {
    val c = ctx()
    val w = new RasterZonal(9L, zonalGrid)
    w.setup(c)
    w.pass(c, 1)
    assert(c.attempted == 2 && c.failed == 0)
    assert(w.expected.values.map(_.n).sum == w.expectedPoints)
  }

  test("a wrong expected value counts as a failed operation") {
    val c = ctx()
    val z = new RasterZonal(10L, zonalGrid)
    z.setup(c)
    val rows = Raster.zonalStats(z.frame(c), z.cellDeg).collect().toSeq
    assert(z.checkCells(c, rows, z.expected))
    val (k, cell) = z.expected.head
    assert(!z.checkCells(c, rows, z.expected.updated(k, cell.copy(maskMax = cell.maskMax + 1))))
    val x = new RasterExport(11L, exportGrid)
    x.setup(c)
    val sums = x.frame(c).agg(count(lit(1)), sum("mask"), sum("sec"), sum("lon"), sum("lat"),
      sum("area")).head()
    assert(!x.checkSums(c, sums, x.expected.copy(n = x.expected.n + 1)))
    assert(c.attempted == 3 && c.failed == 2)
  }

  test("median and interpolated percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val xs = (1 to 101).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 90) == 91.0)
    assert(Stats.beyond(xs, 90) == 10)
    // 9 samples: rank 7.2 of 0..8, a fifth of the way from the 8th to the 9th
    assert(math.abs(Stats.percentile((1 to 9).map(_.toDouble), 90) - 8.2) < 1e-12)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
    assert(Stats.percentile(xs, 100) == 101.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("the heap watch records the JVM's collections only while armed") {
    val h = new HeapWatch
    try {
      System.gc()
      Thread.sleep(200)
      assert(h.samplesMb.isEmpty)
      h.armed = true
      System.gc()
      // the collector's notifications arrive on their own thread
      val deadline = System.nanoTime() + 5000000000L
      while (h.samplesMb.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(h.samplesMb.nonEmpty && h.samplesMb.forall(_ > 0))
    } finally h.close()
  }

  test("the row digest ignores row order and sees a changed value") {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", Seq(1.0, 2.0)), Row(3L, null, 1.0 / 3))
    assert(CatalogMix.digest(rows) == CatalogMix.digest(rows.reverse))
    assert(CatalogMix.digest(rows) != CatalogMix.digest(rows.updated(0, Row(1L, "a", 0.6))))
  }
}
