package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.Raster

import TiffGen._

/** Re-times the raster scans that were once measured with `count()`, both
  * ways: `count()` (the scan reads no column) and the `noop` sink (every
  * column is materialized), on a `size` × `size` mask. Prints a markdown
  * table, median of `reps` after one warm run.
  *
  *   Baseline --work DIR
  */
object Baseline {
  val size = 2048
  val reps = 5

  def main(argv: Array[String]): Unit = {
    val work = argv match {
      case Array("--work", dir) => Paths.get(dir)
      case _ => throw new IllegalArgumentException("usage: Baseline --work DIR")
    }
    val cores = Runtime.getRuntime.availableProcessors()
    Main.deleteTree(work)
    Files.createDirectories(work)
    val spark = Main.session(cores, work)
    try {
      val p = Pattern.fromSeed(1L)
      val dir = work.resolve("inputs").toFile
      dir.mkdirs()
      val grid = Grid(size, size, 14.0, 47.0, 1.0 / 2048, wgs84)
      val zonal = new RasterZonal(1L, grid)
      def path(n: String) = new File(dir, n).getPath
      val strips = Layout(bigTiff = true, rowsPerStrip = 16)
      write(path("mask.tif"), grid, F32, strips, Some(NoDataText), p.maskSample)
      write(path("same.tif"), grid, S16, strips, None, (c, r) => p.secondary(c, r).toDouble)
      write(path("utm.tif"), zonal.secGrid, S16, strips, None, (c, r) => p.secondary(c, r).toDouble)
      val mask = path("mask.tif")
      val scans = Seq(
        "plain" -> (() => Raster.raster2df(spark, Seq(mask))),
        "same-grid zip" -> (() => Raster.raster2df(spark, Seq(mask, path("same.tif")))),
        "cross-CRS zip (4326 to UTM 33N)" ->
          (() => Raster.raster2df(spark, Seq(mask, path("utm.tif")), resample = "nearest")),
        "plain with calcArea" -> (() => Raster.raster2df(spark, Seq(mask), calcArea = true)))
      def secs(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(s"| scan (${size * size / 1e6} Mpx f32 BigTIFF strips, local[$cores]) | `count()` s | `noop` sink s | `noop` Mpx/s |")
      println("|---|---|---|---|")
      scans.foreach { case (name, df) =>
        df().count(); df().write.format("noop").mode("overwrite").save() // warm
        val c = Stats.median((1 to reps).map(_ => secs(df().count())))
        val n = Stats.median((1 to reps).map(_ => secs(df().write.format("noop").mode("overwrite").save())))
        println(f"| $name | $c%.3f | $n%.3f | ${size * size / 1e6 / n}%.2f |")
      }
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }
}
