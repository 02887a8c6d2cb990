package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.PointCsv

/** `Raster.raster2csv` writes through [[PointCsv]]; every file it writes
  * must equal what Spark's own CSV writer (`header=true`, same `sep`) writes
  * for the same `raster2df` frame, byte for byte and line for line in row
  * order.
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
}
