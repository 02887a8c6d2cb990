package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

import graft.sources.PointCsv

/** `Raster.raster2csv` writes through [[PointCsv]]; every file it writes
  * must equal what Spark's own CSV writer (`header=true`, same `sep`) writes
  * for the same `raster2df` frame, byte for byte and line for line in row
  * order. The write path's own rules are checked too: which windows leave
  * a file, the one accepted save mode, a failed write leaving the old
  * output, the task output metrics, and the size of what each task is
  * sent.
  */
class PointCsvSpec extends SparkSpec {
  private val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-pointcsv"

  // a 12×9 grid whose pixel size has no short decimal form, so coordinate
  // and area text runs to full double precision
  private val (w, h, x0, y0, ps) = (12, 9, 10.123, 50.456, 0.0137)
  private def masked(c: Int, r: Int): Boolean = (c * 3 + r) % 5 == 0
  private def maskValue(c: Int, r: Int): Double =
    if (masked(c, r)) -9999.0 else math.sin(c * 0.7 + r) * 1000.0

  private lazy val classicMask = TiffFixtures.write(s"$tmp/mask_classic.tif", w, h,
    TiffFixtures.F32, maskValue, x0, y0, ps, Some("-9999"))
  private lazy val bigMask = TiffFixtures.writeBigTiff(s"$tmp/mask_big.tif", w, h, maskValue,
    x0, y0, ps, Some("-9999"), rowsPerStrip = 4)

  private val f32Edges = Seq[Double](Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    -0.0, 0.0, Float.MinPositiveValue, 1e-40f, 1e-5f, 1e7f, 123.456f, Float.MaxValue, -1.5f)
  private val f64Edges = Seq[Double](Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    -0.0, 0.0, Double.MinPositiveValue, 1e-310, 1e-5, 1e7, 0.1 + 0.2, Double.MaxValue, -1e-3)
  // per sample type: its values, the edges of its range among them
  private val typed: Seq[(TiffFixtures.Dtype, (Int, Int) => Double)] = {
    def cycle(vs: Seq[Double]): (Int, Int) => Double = (c, r) => vs((c + r * w) % vs.size)
    def ints(lo: Double, hi: Double): (Int, Int) => Double =
      cycle(Seq(lo, hi, 0, 1, -1, 7, lo + 1, hi - 1).filter(v => v >= lo && v <= hi) ++
        (0 until 13).map(k => math.floor(lo + (hi - lo) * k / 13)))
    Seq(
      TiffFixtures.U8 -> ints(0, 255),
      TiffFixtures.I8 -> ints(-128, 127),
      TiffFixtures.S16 -> ints(-32768, 32767),
      TiffFixtures.U16 -> ints(0, 65535),
      TiffFixtures.I32 -> ints(Int.MinValue, Int.MaxValue),
      TiffFixtures.U32 -> ints(0, 4294967295.0),
      TiffFixtures.F32 -> cycle(f32Edges),
      TiffFixtures.F64 -> cycle(f64Edges))
  }
  private lazy val typedRasters = typed.map { case (d, v) =>
    TiffFixtures.writeBigTiff(s"$tmp/typed_$d.tif", w, h, v, x0, y0, ps, None,
      rowsPerStrip = 2, dtype = d, classic = true)
  }
  private val typedNames = typed.map(_._1.toString.toLowerCase)

  /** The `.csv` files under `dir`, in partition order. */
  private def parts(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.endsWith(".csv")).sortBy(_.getName).toSeq

  private def text(dir: String): String =
    parts(dir).map(f => new String(Files.readAllBytes(f.toPath), UTF_8)).mkString

  private def sparkCsv(df: DataFrame, sep: String, out: String): String = {
    df.write.mode("overwrite").option("sep", sep).option("header", true).csv(out)
    text(out)
  }

  private def assertSameText(got: String, want: String, what: String): Unit =
    if (got != want) {
      val (g, s) = (got.split("\n", -1), want.split("\n", -1))
      val i = g.indices.find(k => k >= s.length || g(k) != s(k)).getOrElse(g.length)
      fail(s"$what: line $i is [${g.lift(i).getOrElse("")}], Spark's CSV writer wrote " +
        s"[${s.lift(i).getOrElse("")}] (${g.length} against ${s.length} lines)")
    }

  /** `raster2csv` with `singleFile` against Spark's CSV writer over the
    * same frame in one partition; several windows when `maxBlockSize` is
    * small, so each column's cache lives across windows.
    */
  private def sameAsSpark(name: String, rasters: Seq[String], separator: String = ",",
      colNames: Seq[String] = Nil, calcArea: Boolean = false, resample: String = "",
      maxBlockSize: Int = 5): Unit = {
    val out = s"$tmp/$name"
    Raster.raster2csv(spark, rasters, s"$out/graft", separator, colNames, maxBlockSize,
      calcArea, singleFile = true, resample = resample)
    val df = Raster.raster2df(spark, rasters, colNames, maxBlockSize, calcArea,
      resample = resample)
    val want = sparkCsv(df.coalesce(1), if (separator == "t") "\t" else separator, s"$out/spark")
    assert(parts(s"$out/graft").size == 1, name)
    assert(want.count(_ == '\n') > 2, s"$name: the frame is empty")
    assertSameText(text(s"$out/graft"), want, name)
  }

  test("raster2csv equals Spark's CSV writer: classic and BigTIFF, every sample type, each separator") {
    for ((mask, kind) <- Seq(classicMask -> "classic", bigMask -> "big"); sep <- Seq(",", ";", "t"))
      sameAsSpark(s"types_${kind}_${sep.head.toInt}", mask +: typedRasters, sep,
        colNames = "mask" +: typedNames, calcArea = true)
    // the frame carries every type the reader emits
    val types = Raster.raster2df(spark, classicMask +: typedRasters).schema.fields.map(_.dataType)
    assert(types.toSet == Set(DoubleType, FloatType, ByteType, ShortType, IntegerType, LongType))
  }

  test("raster2csv equals Spark's CSV writer: NaN NoData, rotated affine, cross-CRS nearest zip, calcArea") {
    val nan = TiffFixtures.writeBigTiff(s"$tmp/nan.tif", w, h,
      (c, r) => if (masked(c, r)) Double.NaN else maskValue(c, r), x0, y0, ps, Some("nan"),
      dtype = TiffFixtures.F64, classic = true)
    sameAsSpark("nan_nodata", Seq(nan, typedRasters.last))
    val rot = Array[Double](
      0.0131, 0.0023, 0.0, x0,
      -0.0019, -0.0137, 0.0, y0,
      0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 1.0)
    val rotated = TiffFixtures.writeBigTiff(s"$tmp/rotated.tif", w, h, maskValue,
      x0, y0, ps, Some("-9999"), modelTransform = rot)
    sameAsSpark("rotated", Seq(rotated), calcArea = true)
    // a 4326 mask astride UTM zone 33's central meridian and a 4 km UTM
    // secondary covering it
    val geoMask = TiffFixtures.writeBigTiff(s"$tmp/xcrs_mask.tif", w, h, maskValue,
      14.0, 48.5, 0.37, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val utm = TiffFixtures.writeBigTiff(s"$tmp/xcrs_utm.tif", 100, 115,
      (c, r) => r * 1000.0 + c, 430000.0, 5380000.0, 4000.0, None,
      geoKeys = Seq(1024 -> 1, 3072 -> 32633), dtype = TiffFixtures.I32)
    sameAsSpark("cross_crs", Seq(geoMask, utm), separator = ";", colNames = Seq("m", "b"),
      calcArea = true, resample = "nearest")
  }

  test("PointCsv equals Spark's CSV writer on edge values, nulls and colliding cache slots") {
    import java.lang.Double.doubleToRawLongBits
    import java.lang.Float.floatToRawIntBits
    // a second value in each column whose cache slot is its first value's:
    // written in turn, each must come out as its own text
    def partner(bits: Long)(next: Long => Long): Long =
      Iterator.iterate(next(bits))(next).find(b => PointCsv.slot(b) == PointCsv.slot(bits)).get
    val d2 = java.lang.Double.longBitsToDouble(partner(doubleToRawLongBits(1.5))(b =>
      doubleToRawLongBits(math.nextUp(java.lang.Double.longBitsToDouble(b)))))
    val f2 = java.lang.Float.intBitsToFloat(partner(floatToRawIntBits(1.5f).toLong)(b =>
      floatToRawIntBits(math.nextUp(java.lang.Float.intBitsToFloat(b.toInt))).toLong).toInt)
    val l2 = partner(7L)(_ + 1)
    assert(d2 != 1.5 && f2 != 1.5f && l2 != 7L)
    val collide = Seq.tabulate(6)(k => Row(if (k % 2 == 0) 1.5 else d2,
      if (k % 2 == 0) 1.5f else f2, k.toByte, k.toShort, k, if (k % 2 == 0) 7L else l2))
    val edges = f64Edges.zip(f32Edges).zipWithIndex.map { case ((d, f), k) =>
      Row(d, f.toFloat, Seq(Byte.MinValue, Byte.MaxValue, 0.toByte)(k % 3),
        Seq(Short.MinValue, Short.MaxValue, 0.toShort)(k % 3),
        Seq(Int.MinValue, Int.MaxValue, 0)(k % 3), Seq(Long.MinValue, Long.MaxValue, 1L << 31)(k % 3))
    }
    val nulls = Seq(Row(null, null, null, null, null, null), Row(null, 2.5f, null, 3.toShort, null, 4L))
    val schema = StructType(Seq("d" -> DoubleType, "f" -> FloatType, "b" -> ByteType,
      "s" -> ShortType, "i" -> IntegerType, "l" -> LongType).map { case (n, t) => StructField(n, t) })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(collide ++ edges ++ nulls, 1), schema)
    for (sep <- Seq(",", ";", "\t")) {
      val out = s"$tmp/edges_${sep.head.toInt}"
      df.write.mode("overwrite").option("sep", sep).format(classOf[PointCsv].getName).save(s"$out/graft")
      val want = sparkCsv(df, sep, s"$out/spark")
      assertSameText(text(s"$out/graft"), want, s"edge values, separator ${sep.head.toInt}")
      assert(want.contains(s"${java.lang.Double.toString(d2)}$sep") && want.contains("1.0E-5") &&
        want.contains("1.0E7") && want.contains("4.9E-324") && want.contains("1.4E-45"))
    }
  }

  test("PointCsv rejects a column type the raster reader never emits, naming the column") {
    val df = spark.range(3).selectExpr("id", "cast(id as string) as label")
    val e = intercept[IllegalArgumentException] {
      df.write.mode("overwrite").format(classOf[PointCsv].getName).save(s"$tmp/string_col")
    }
    assert(e.getMessage.contains("'label'") && e.getMessage.contains("string"))
  }

  test("raster2csv rejects names and separators the unquoted writer cannot carry") {
    val out = s"$tmp/guard"
    for ((names, sep) <- Seq(Seq("a;b") -> ";", Seq("ok", "a,b") -> ",", Seq("a\tb") -> "t",
        Seq("a\"b") -> ",", Seq("a\nb") -> ",", Seq("a\rb") -> ",", Seq(" a") -> ",",
        Seq("a ") -> ",", Seq("\u0001a") -> ",", Seq("") -> ",", Seq("#a") -> ",")) {
      val e = intercept[IllegalArgumentException] {
        Raster.raster2csv(spark, Seq(classicMask), out, sep, colNames = names)
      }
      assert(e.getMessage.contains("column names"), names)
      assert(!new File(out).exists, s"$names: files were written before the check")
    }
    for (sep <- Seq("|", ".", "-", ",,", "\t", "")) {
      val e = intercept[IllegalArgumentException](Raster.raster2csv(spark, Seq(classicMask), out, sep))
      assert(e.getMessage.contains("separator"), sep)
    }
    // what the guard lets through, Spark's writer leaves unquoted as well
    sameAsSpark("names_comma", Seq(classicMask, typedRasters.head), ",",
      colNames = Seq("a;b", "x # é"))
    sameAsSpark("names_semicolon", Seq(classicMask, typedRasters.head), ";",
      colNames = Seq("a\tb", "c|d"))
  }

  test("raster2csv without singleFile: one headed .csv per window, all points, overwritten in place") {
    val out = s"$tmp/multi"
    val block = 4
    val windows = Raster.raster2df(spark, Seq(classicMask), maxBlockSize = block).rdd.getNumPartitions
    assert(windows > 4)
    // a first write with an area column, which the second must replace
    Raster.raster2csv(spark, Seq(classicMask), out, maxBlockSize = block, calcArea = true)
    Raster.raster2csv(spark, Seq(classicMask, typedRasters(6)), out, colNames = Seq("m", "v"),
      maxBlockSize = block)
    val files = parts(out)
    assert(files.size > 1 && files.size <= windows)
    assert(new File(out).listFiles().filter(_.getName.startsWith("part-")).forall(_.getName.endsWith(".csv")))
    val lines = files.map(f => new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").toSeq)
    assert(lines.forall(_.head == "lon,lat,m,v"))
    val data = lines.flatMap(_.tail)
    val valid = (for (r <- 0 until h; c <- 0 until w if !masked(c, r)) yield 1).size
    assert(data.size == valid)
    val want = sparkCsv(Raster.raster2df(spark, Seq(classicMask, typedRasters(6)),
      colNames = Seq("m", "v"), maxBlockSize = block), ",", s"$tmp/multi_spark")
      .split("\n").filterNot(_ == "lon,lat,m,v").toSeq
    assert(data.sorted == want.sorted)
    Raster.raster2csv(spark, Seq(classicMask), out, maxBlockSize = block, singleFile = true)
    assert(parts(out).size == 1)
  }

  /** Every file under `dir` (no checksum sidecars) by name, with its bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] =
    new File(dir).listFiles().filterNot(_.getName.endsWith(".crc"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("raster2csv leaves a file per window that has a point, plus a header-only first file") {
    val block = 4
    // NoData everywhere but the rightmost band of windows: the first window
    // and the middle ones are empty
    val right = TiffFixtures.writeBigTiff(s"$tmp/right_only.tif", w, h,
      (c, r) => if (c >= 8) maskValue(c, r) else -9999.0, x0, y0, ps, Some("-9999"), classic = true)
    val df = Raster.raster2df(spark, Seq(right), maxBlockSize = block)
    val perWindow = df.rdd.mapPartitionsWithIndex((i, it) => Iterator(i -> it.size)).collect().toMap
    assert(perWindow(0) == 0 && perWindow.count(_._2 == 0) > 1 && perWindow.exists(_._2 > 0))
    val out = s"$tmp/empty_windows"
    Raster.raster2csv(spark, Seq(right), out, maxBlockSize = block)
    val files = parts(out)
    assert(files.size == 1 + perWindow.count { case (i, n) => i != 0 && n > 0 })
    val header = df.columns.mkString(",")
    val first = files.filter(_.getName.startsWith("part-00000-"))
    assert(first.size == 1 && new String(Files.readAllBytes(first.head.toPath), UTF_8) == s"$header\n")
    assert(text(out).split("\n").count(_ != header) == perWindow.values.sum)
    assert(new File(out, "_SUCCESS").exists)
    assert(!new File(out).listFiles().exists(_.getName.startsWith("_temporary")))
    // an all-NoData raster: one header-only file, from the first window
    val none = TiffFixtures.writeBigTiff(s"$tmp/all_nodata.tif", w, h, (_, _) => -9999.0,
      x0, y0, ps, Some("-9999"), classic = true)
    Raster.raster2csv(spark, Seq(none), out, maxBlockSize = block)
    assert(parts(out).map(_.getName.take(11)) == Seq("part-00000-") && text(out) == s"$header\n")
  }

  test("PointCsv refuses every save mode but overwrite before a task runs") {
    val out = s"$tmp/modes"
    Raster.raster2csv(spark, Seq(classicMask), out, maxBlockSize = 4)
    val before = snapshot(out)
    val df = Raster.raster2df(spark, Seq(classicMask), maxBlockSize = 4)
    for (mode <- Seq("append", "errorifexists", "ignore")) {
      val (e, jobs) = jobsDuring {
        intercept[Exception](df.write.mode(mode).format(classOf[PointCsv].getName).save(out))
      }
      assert(e.isInstanceOf[IllegalArgumentException] || e.isInstanceOf[AnalysisException],
        s"$mode: ${e.getClass.getName}: ${e.getMessage}")
      if (mode == "append") assert(e.getMessage.contains("overwrite"), e.getMessage)
      assert(jobs == 0, s"$mode: $jobs Spark jobs ran")
      assert(snapshot(out) == before, s"$mode changed the output")
    }
  }

  test("a write that fails in a task leaves the previous output byte for byte, and no staging dir") {
    val out = s"$tmp/failed_write"
    Raster.raster2csv(spark, Seq(classicMask), out, maxBlockSize = 4, calcArea = true)
    val before = snapshot(out)
    assert(before.keys.count(_.startsWith("part-")) > 1)
    // four tasks, of which one throws after the others may have committed
    val bad = spark.range(0, 400, 1, 4).select(col("id").cast("double").as("x"),
      when(col("id") === 350, raise_error(lit("boom"))).otherwise(col("id")).as("y"))
    val e = intercept[Exception] {
      bad.write.mode("overwrite").format(classOf[PointCsv].getName).save(out)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e.toString)
    assert(snapshot(out) == before)
    assert(!new File(out).listFiles().exists(_.getName.startsWith("_temporary")))
  }

  test("task output metrics count the rows and bytes of the files written") {
    val out = s"$tmp/metrics"
    val (records, bytes) = (new java.util.concurrent.atomic.AtomicLong,
      new java.util.concurrent.atomic.AtomicLong)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        records.addAndGet(m.outputMetrics.recordsWritten)
        bytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      Raster.raster2csv(spark, Seq(classicMask, typedRasters(6)), out, maxBlockSize = 4,
        calcArea = true)
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    val files = parts(out)
    val valid = (for (r <- 0 until h; c <- 0 until w if !masked(c, r)) yield 1).size
    assert(files.size > 1)
    assert(records.get == valid)
    assert(files.map(f => new String(Files.readAllBytes(f.toPath), UTF_8).count(_ == '\n') - 1).sum == valid)
    assert(bytes.get == files.map(_.length).sum)
  }

  test("a write task is sent no Hadoop Configuration: the writer factory stays small") {
    val frame = Raster.raster2df(spark, Seq(classicMask, typedRasters(6)), calcArea = true).schema
    val table = new PointCsv().getTable(frame, Array.empty,
      Map("path" -> s"$tmp/factory", "sep" -> ",").asJava).asInstanceOf[SupportsWrite]
    val writeInfo = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(Map("path" -> s"$tmp/factory", "sep" -> ",").asJava)
      override def queryId(): String = "factory-size"
      override def schema(): StructType = frame
    }
    val batch = table.newWriteBuilder(writeInfo).asInstanceOf[SupportsTruncate].truncate().build().toBatch
    def javaSize(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size
    }
    try {
      val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 16
      })
      // about 2 KB when measured (schema, paths, the broadcast's handle)
      val size = javaSize(factory)
      info(s"the writer factory serializes to $size bytes")
      assert(size < 4096, s"the writer factory serializes to $size bytes")
      val conf = javaSize(new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
      assert(conf > 4096, s"a Hadoop Configuration serializes to only $conf bytes")
    } finally batch.abort(Array.empty)
  }
}
