package graft

import org.apache.spark.sql.functions._

class GeoTiffSourceSpec extends SparkSpec {
  private val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-tiff"

  // 10x8 float32, origin (10.0, 50.0), 0.5° pixels, nodata -9999 where (r+c)%7==0
  private lazy val f32 = TiffFixtures.write(s"$tmp/f32.tif", 10, 8, TiffFixtures.F32,
    (c, r) => if ((r + c) % 7 == 0) -9999.0 else r * 100.0 + c,
    10.0, 50.0, 0.5, Some("-9999"))

  // same grid uint8: value (c + r) clipped, 0 = its own nodata (passes through)
  private lazy val u8 = TiffFixtures.write(s"$tmp/u8.tif", 10, 8, TiffFixtures.U8,
    (c, r) => (c + r) % 256, 10.0, 50.0, 0.5, Some("0"))

  // shifted grid for mismatch test
  private lazy val shifted = TiffFixtures.write(s"$tmp/shift.tif", 10, 8, TiffFixtures.F32,
    (c, r) => 1.0, 10.25, 50.0, 0.5, Some("-9999"))

  test("zonal stats: grid-cell aggregates match a driver-side recompute") {
    val pts = Raster.raster2df(spark, Seq(f32), calcArea = true)
    val zs = Raster.zonalStats(pts, cellDeg = 2.0).collect()
    // reference: same cells computed in plain Scala from the point rows
    val rows = pts.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getFloat(2).toDouble, r.getDouble(3)))
    val expect = rows.groupBy { case (lon, lat, _, _) =>
      (math.floor(lon / 2.0) * 2.0, math.floor(lat / 2.0) * 2.0) }
    assert(zs.length == expect.size)
    zs.foreach { r =>
      val key = (r.getDouble(0), r.getDouble(1))
      val cell = expect(key)
      assert(r.getLong(2) == cell.length)                       // n_pixels
      assert(r.getLong(3) == cell.length)                       // val1_n
      assert(math.abs(r.getDouble(4) - cell.map(_._3).sum / cell.length) < 1e-9)
      assert(r.getFloat(5).toDouble == cell.map(_._3).min)      // min (f32 exact)
      assert(r.getFloat(6).toDouble == cell.map(_._3).max)
      assert(math.abs(r.getDouble(7) - cell.map(_._4).sum) < 1e-6) // area_sum
    }
    // a lon/lat-only frame is a valid count rollup, not a crash
    val counts = Raster.zonalStats(pts.select(col("lon"), col("lat")), 2.0)
    assert(counts.columns.toSeq == Seq("cell_lon", "cell_lat", "n_pixels"))
    assert(counts.collect().map(_.getLong(2)).sum == pts.count())
  }

  test("tag scanner reads geometry and nodata") {
    val m = graft.sources.tiff.TiffTags.read(f32)
    assert(m.width == 10 && m.height == 8)
    assert(m.sampleFormat == 3 && m.bitsPerSample == 32)
    assert(m.pixelScaleX == 0.5 && m.pixelScaleY == 0.5)
    assert(m.originX == 10.0 && m.originY == 50.0)
    assert(m.noData.contains(-9999.0))
  }

  test("raster2df: mask filter, centroid coords, values") {
    val df = Raster.raster2df(spark, Seq(f32))
    val expectValid = (for (r <- 0 until 8; c <- 0 until 10 if (r + c) % 7 != 0) yield 1).size
    assert(df.count() == expectValid)
    assert(df.columns.toSeq == Seq("lon", "lat", "val1"))
    // pixel (c=1, r=0): centroid lon = 10 + 1.5*0.5 = 10.75, lat = 50 - 0.25
    val row = df.filter(col("val1") === 1.0f).collect()
    assert(row.length == 1)
    assert(row(0).getDouble(0) == 10.75 && row(0).getDouble(1) == 49.75)
  }

  test("golden: every emitted row matches the independently computed table") {
    // independent oracle: recompute the full expected point table from the
    // fixture's defining function + affine params (not via TiffTags)
    val expected = (for {
      r <- 0 until 8; c <- 0 until 10 if (r + c) % 7 != 0
    } yield (10.0 + (c + 0.5) * 0.5, 50.0 - (r + 0.5) * 0.5, (r * 100 + c).toFloat)).toSet
    val got = Raster.raster2df(spark, Seq(f32)).collect()
      .map(row => (row.getDouble(0), row.getDouble(1), row.getFloat(2))).toSet
    assert(got == expected)
  }

  test("multi-raster positional zip with nodata pass-through") {
    val df = Raster.raster2df(spark, Seq(f32, u8), colNames = Seq("a", "b"))
    assert(df.columns.toSeq == Seq("lon", "lat", "a", "b"))
    // u8 is uint8 -> widened to short; its 0 values pass through where raster1 valid
    assert(df.schema("b").dataType.typeName == "short")
    // pixel (c=1, r=7): raster1 = 701, (7+1)%7 != 0 so valid; u8 = 8
    val r17 = df.filter(col("a") === 701.0f).collect()(0)
    assert(r17.getShort(3) == 8)
    // raster2's own nodata (0 at c=0,r=0) would pass through, but (0,0) is
    // masked by raster1; instead check (c=2, r=5): (5+2)%7==0 masked; and
    // count matches raster1 mask only
    val expectValid = (for (r <- 0 until 8; c <- 0 until 10 if (r + c) % 7 != 0) yield 1).size
    assert(df.count() == expectValid)
  }

  test("grid mismatch raises") {
    val e = intercept[Exception] {
      Raster.raster2df(spark, Seq(f32, shifted)).collect()
    }
    assert(e.getMessage.contains("grid mismatch"))
  }

  test("multi-window read equals single-window read") {
    val big = TiffFixtures.write(s"$tmp/big.tif", 300, 200, TiffFixtures.S16,
      (c, r) => if ((c * 31 + r * 17) % 11 == 0) -1.0 else ((c * 7 + r * 3) % 1000).toDouble,
      -180.0, 90.0, 1.0, Some("-1"))
    val one = Raster.raster2df(spark, Seq(big), maxBlockSize = 4096)
    val many = Raster.raster2df(spark, Seq(big), maxBlockSize = 128)
    assert(many.rdd.getNumPartitions > 1)
    assert(one.count() == many.count())
    val d1 = one.orderBy("lat", "lon").collect().map(_.toSeq)
    val d2 = many.orderBy("lat", "lon").collect().map(_.toSeq)
    assert(d1.sameElements(d2))
  }

  test("lon/lat filters prune windows and still return exact results") {
    val big = s"$tmp/big.tif" // written by previous test (300x200, 1° pixels)
    Raster.raster2df(spark, Seq(big), maxBlockSize = 128) // ensure exists
    val df = Raster.raster2df(spark, Seq(big), maxBlockSize = 128)
      .filter(col("lon") > -10.0 && col("lon") < 10.0 && col("lat") > 40.0 && col("lat") < 60.0)
    val full = Raster.raster2df(spark, Seq(big), maxBlockSize = 4096)
      .filter(col("lon") > -10.0 && col("lon") < 10.0 && col("lat") > 40.0 && col("lat") < 60.0)
    assert(df.count() == full.count())
    // pruning visible at the physical level: fewer partitions than the
    // unfiltered 300x200/128² = 6-window plan
    assert(df.rdd.getNumPartitions < Raster.raster2df(spark, Seq(big), maxBlockSize = 128).rdd.getNumPartitions)
    // plan advertises the pushed range filters
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GeoTiffScan") || plan.contains("geotiff"))
  }

  test("tiled TIFF layout reads identically to the stripped layout") {
    val stripped = TiffFixtures.write(s"$tmp/layout_s.tif", 150, 120, TiffFixtures.F32,
      (c, r) => if ((c + r) % 5 == 0) -9999.0 else c * 1000.0 + r,
      0.0, 60.0, 0.25, Some("-9999"))
    val tiled = TiffFixtures.write(s"$tmp/layout_t.tif", 150, 120, TiffFixtures.F32,
      (c, r) => if ((c + r) % 5 == 0) -9999.0 else c * 1000.0 + r,
      0.0, 60.0, 0.25, Some("-9999"), tileSize = 64)
    val a = Raster.raster2df(spark, Seq(stripped), maxBlockSize = 70)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val b = Raster.raster2df(spark, Seq(tiled), maxBlockSize = 70)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("calc_area appends geodesic pixel area consistent with GeoMath") {
    val df = Raster.raster2df(spark, Seq(f32), calcArea = true)
    assert(df.columns.contains("area"))
    val r = df.filter(col("val1") === 1.0f).collect()(0)
    val expected = graft.functions.GeoMath.pixelAreaM2(49.75, 0.5, 0.5)
    assert(math.abs(r.getDouble(df.columns.indexOf("area")) - expected) < 1e-6)
  }

  test("nodata 'nan' (GDAL lowercase form) masks NaN pixels") {
    val p = TiffFixtures.write(s"$tmp/nan.tif", 6, 4, TiffFixtures.F32,
      (c, r) => if ((c + r) % 3 == 0) Double.NaN else c + r * 10.0,
      0.0, 10.0, 0.5, Some("nan"))
    val m = graft.sources.tiff.TiffTags.read(p)
    assert(m.noData.exists(_.isNaN))
    val n = Raster.raster2df(spark, Seq(p)).count()
    val expect = (for (r <- 0 until 4; c <- 0 until 6 if (c + r) % 3 != 0) yield 1).size
    assert(n == expect)
  }

  test("f32 nodata compares at float precision (truncated ASCII form)") {
    // -3.4e+38 has no exact float decimal expansion; the mask must compare
    // float-to-float, not the double-widened sample to the double parse
    val p = TiffFixtures.write(s"$tmp/f32nd.tif", 5, 3, TiffFixtures.F32,
      (c, r) => if (c == 0) -3.4e38 else c + r * 10.0,
      0.0, 10.0, 0.5, Some("-3.4e+38"))
    assert(Raster.raster2df(spark, Seq(p)).count() == 4 * 3)
  }

  test("BigTIFF: tag scanner reads magic-43 layout") {
    val p = TiffFixtures.writeBigTiff(s"$tmp/big43.tif", 10, 8,
      (c, r) => if ((r + c) % 7 == 0) -9999.0 else r * 100.0 + c,
      10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3)
    val m = graft.sources.tiff.TiffTags.read(p)
    assert(m.bigTiff && m.littleEndian)
    assert(m.width == 10 && m.height == 8)
    assert(m.sampleFormat == 3 && m.bitsPerSample == 32)
    assert(m.originX == 10.0 && m.originY == 50.0)
    assert(m.noData.contains(-9999.0))
    assert(m.rowsPerStrip == 3 && m.stripOffsets.length == 3)
  }

  test("BigTIFF reads identically to the classic TIFF of the same grid") {
    // same defining function as the classic f32 fixture; multi-strip layout
    val p = TiffFixtures.writeBigTiff(s"$tmp/big43b.tif", 10, 8,
      (c, r) => if ((r + c) % 7 == 0) -9999.0 else r * 100.0 + c,
      10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3)
    val classic = Raster.raster2df(spark, Seq(f32))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val big = Raster.raster2df(spark, Seq(p))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(big.nonEmpty && big.sameElements(classic))
  }

  test("BigTIFF multi-window read equals single-window read") {
    val p = TiffFixtures.writeBigTiff(s"$tmp/big43c.tif", 300, 200,
      (c, r) => if ((c * 31 + r * 17) % 11 == 0) -1.0 else ((c * 7 + r * 3) % 1000).toDouble,
      -180.0, 90.0, 1.0, Some("-1"), rowsPerStrip = 16)
    val one = Raster.raster2df(spark, Seq(p), maxBlockSize = 4096)
    val many = Raster.raster2df(spark, Seq(p), maxBlockSize = 128)
    assert(many.rdd.getNumPartitions > 1)
    val d1 = one.orderBy("lat", "lon").collect().map(_.toSeq)
    val d2 = many.orderBy("lat", "lon").collect().map(_.toSeq)
    assert(d1.nonEmpty && d1.sameElements(d2))
  }

  test("BigTIFF zips positionally with a classic raster on the same grid") {
    val p = TiffFixtures.writeBigTiff(s"$tmp/big43d.tif", 10, 8,
      (c, r) => c * 10.0 + r, 10.0, 50.0, 0.5, None)
    val df = Raster.raster2df(spark, Seq(f32, p), colNames = Seq("a", "b"))
    val r17 = df.filter(col("a") === 701.0f).collect()(0)
    assert(r17.getFloat(3) == 17.0f) // BigTIFF value at (c=1, r=7)
  }

  test("big-endian BigTIFF reads identically to little-endian") {
    def v(c: Int, r: Int): Double = if ((r + c) % 7 == 0) -9999.0 else r * 100.0 + c
    val le = TiffFixtures.writeBigTiff(s"$tmp/big43le.tif", 10, 8, v,
      10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3)
    val be = TiffFixtures.writeBigTiff(s"$tmp/big43be.tif", 10, 8, v,
      10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3, bigEndian = true)
    val mbe = graft.sources.tiff.TiffTags.read(be)
    assert(mbe.bigTiff && !mbe.littleEndian && mbe.noData.contains(-9999.0))
    val a = Raster.raster2df(spark, Seq(le)).orderBy("lat", "lon").collect().map(_.toSeq)
    val b = Raster.raster2df(spark, Seq(be)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("unsupported BigTIFF compression is rejected with a typed error") {
    // flip the compression tag of a valid fixture to 6 (OLD-style JPEG —
    // deprecated by TIFF TechNote 2 and unsupported; new-style 7 decodes),
    // under either header width
    for (classic <- Seq(false, true)) {
      val src = TiffFixtures.writeBigTiff(s"$tmp/big43e_$classic.tif", 4, 4,
        (c, r) => 1.0, 0.0, 10.0, 0.5, None, classic = classic)
      val bad = TiffFixtures.patchIfd0(src, s"$tmp/big43e_jpeg_$classic.tif") { (bb, ifd) =>
        bb.putShort(ifd.valuePos(259), 6)
      }
      val e = intercept[IllegalArgumentException] {
        graft.sources.tiff.TiffTags.read(bad)
      }
      assert(e.getMessage.contains("compression 6 unsupported"), s"classic=$classic")
    }
  }

  test("DEFLATE BigTIFF == uncompressed BigTIFF == classic TIFF on the same pixels") {
    def v(c: Int, r: Int): Double = if ((r + c) % 7 == 0) -9999.0 else r * 100.0 + c
    val deflated = TiffFixtures.writeBigTiff(s"$tmp/big43z.tif", 10, 8, v,
      10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3, compression = 8)
    val m = graft.sources.tiff.TiffTags.read(deflated)
    assert(m.compression == 8 && m.stripByteCounts.length == 3)
    val classic = Raster.raster2df(spark, Seq(f32))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val plain = Raster.raster2df(spark, Seq(TiffFixtures.writeBigTiff(s"$tmp/big43u.tif",
      10, 8, v, 10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3)))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val z = Raster.raster2df(spark, Seq(deflated))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(z.nonEmpty && z.sameElements(classic) && z.sameElements(plain))
  }

  test("u8 DEFLATE + predictor 2 BigTIFF (the GDAL shape) multi-window read is exact") {
    // real-world forest-cover layout: u8, DEFLATE, horizontal differencing
    def v(c: Int, r: Int): Double = ((c * 31 + r * 17) % 251).toDouble
    val p = TiffFixtures.writeBigTiff(s"$tmp/big43zp.tif", 300, 200, v,
      -180.0, 90.0, 1.0, Some("0"), rowsPerStrip = 16,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2)
    val m = graft.sources.tiff.TiffTags.read(p)
    assert(m.compression == 8 && m.predictor == 2 && m.bitsPerSample == 8)
    val one = Raster.raster2df(spark, Seq(p), maxBlockSize = 4096)
      .orderBy("lat", "lon").collect()
    val many = Raster.raster2df(spark, Seq(p), maxBlockSize = 128)
      .orderBy("lat", "lon").collect()
    assert(one.length == (for (r <- 0 until 200; c <- 0 until 300 if v(c, r) != 0.0) yield 1).size)
    assert(one.map(_.toSeq).sameElements(many.map(_.toSeq)))
    // spot value: u8 widens to short
    val row = one.head
    assert(row.schema("val1").dataType.typeName == "short")
  }

  test("s16 big-endian DEFLATE + predictor 2 round-trips (byte order in the predictor)") {
    def v(c: Int, r: Int): Double = ((c * 13 + r * 7) % 2000 - 1000).toDouble
    val be = TiffFixtures.writeBigTiff(s"$tmp/big43zbe.tif", 40, 30, v,
      0.0, 30.0, 0.5, None, rowsPerStrip = 7, bigEndian = true,
      dtype = TiffFixtures.S16, compression = 8, predictor = 2)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/big43ube.tif", 40, 30, v,
      0.0, 30.0, 0.5, None, rowsPerStrip = 7, dtype = TiffFixtures.S16)
    val a = Raster.raster2df(spark, Seq(be)).orderBy("lat", "lon").collect().map(_.toSeq)
    val b = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("LZW BigTIFF reads identically to uncompressed (code width growth exercised)") {
    // ~9k samples of noisy u8 per strip forces 9->10->11-bit LZW codes
    def v(c: Int, r: Int): Double = ((c * 7 + r * 13) % 251).toDouble
    val lzw = TiffFixtures.writeBigTiff(s"$tmp/big43l.tif", 96, 96, v,
      0.0, 48.0, 0.5, None, rowsPerStrip = 48,
      dtype = TiffFixtures.U8, compression = 5)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/big43lu.tif", 96, 96, v,
      0.0, 48.0, 0.5, None, rowsPerStrip = 48, dtype = TiffFixtures.U8)
    val m = graft.sources.tiff.TiffTags.read(lzw)
    assert(m.compression == 5)
    val a = Raster.raster2df(spark, Seq(lzw)).orderBy("lat", "lon").collect().map(_.toSeq)
    val b = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.length == 96 * 96 && a.sameElements(b))
  }

  test("uncompressed stripped BigTIFF with predictor 2 decodes via the full-strip path") {
    // legal tag combo some writers leave behind (predictor kept, codec
    // stripped): the raw seek-read CANNOT undo row deltas that start at
    // column 0, so this must route through the full-strip decode —
    // pixels must equal the predictor-less twin, across window splits
    def v(c: Int, r: Int): Double = ((c * 31 + r * 17) % 251).toDouble
    val pred = TiffFixtures.writeBigTiff(s"$tmp/big43up2.tif", 300, 200, v,
      -180.0, 90.0, 1.0, None, rowsPerStrip = 16,
      dtype = TiffFixtures.U8, compression = 1, predictor = 2)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/big43up1.tif", 300, 200, v,
      -180.0, 90.0, 1.0, None, rowsPerStrip = 16, dtype = TiffFixtures.U8)
    val m = graft.sources.tiff.TiffTags.read(pred)
    assert(m.compression == 1 && m.predictor == 2)
    val a = Raster.raster2df(spark, Seq(pred), maxBlockSize = 128)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val b = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.length == 300 * 200 && a.sameElements(b))
  }

  test("tiled DEFLATE BigTIFF (the COG shape) == stripped DEFLATE == uncompressed pixels") {
    // cloud-optimized GeoTIFFs are TILED + DEFLATE (+ predictor 2 for u8);
    // 64×48 tiles over a 300×200 grid leaves padded edge tiles on both axes
    def v(c: Int, r: Int): Double = ((c * 31 + r * 17) % 251).toDouble
    val tiled = TiffFixtures.writeBigTiffTiled(s"$tmp/cog.tif", 300, 200, v,
      -180.0, 90.0, 1.0, Some("0"), tileWidth = 64, tileLength = 48,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2)
    val m = graft.sources.tiff.TiffTags.read(tiled)
    assert(m.tiled && m.tileWidth == 64 && m.tileLength == 48 &&
      m.tileOffsets.length == 5 * 5 && m.compression == 8 && m.predictor == 2)
    val stripped = TiffFixtures.writeBigTiff(s"$tmp/cog_strips.tif", 300, 200, v,
      -180.0, 90.0, 1.0, Some("0"), rowsPerStrip = 16,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/cog_plain.tif", 300, 200, v,
      -180.0, 90.0, 1.0, Some("0"), rowsPerStrip = 16, dtype = TiffFixtures.U8)
    val t = Raster.raster2df(spark, Seq(tiled)).orderBy("lat", "lon").collect().map(_.toSeq)
    val s = Raster.raster2df(spark, Seq(stripped)).orderBy("lat", "lon").collect().map(_.toSeq)
    val p = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(t.nonEmpty && t.sameElements(s) && t.sameElements(p))
    // windows that cross tile boundaries read identically to one window
    val many = Raster.raster2df(spark, Seq(tiled), maxBlockSize = 100)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(many.sameElements(t))
  }

  test("tiled LZW big-endian BigTIFF reads identically to uncompressed") {
    def v(c: Int, r: Int): Double = ((c * 13 + r * 7) % 2000 - 1000).toDouble
    val tiled = TiffFixtures.writeBigTiffTiled(s"$tmp/cog_lzw.tif", 96, 80, v,
      0.0, 40.0, 0.5, None, tileWidth = 48, tileLength = 32, bigEndian = true,
      dtype = TiffFixtures.S16, compression = 5, predictor = 2)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/cog_lzw_u.tif", 96, 80, v,
      0.0, 40.0, 0.5, None, rowsPerStrip = 16, dtype = TiffFixtures.S16)
    val m = graft.sources.tiff.TiffTags.read(tiled)
    assert(m.tiled && m.compression == 5 && !m.littleEndian)
    val a = Raster.raster2df(spark, Seq(tiled)).orderBy("lat", "lon").collect().map(_.toSeq)
    val b = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.length == 96 * 80 && a.sameElements(b))
  }

  test("f32 DEFLATE + predictor 3 BigTIFF (the GDAL float shape) == uncompressed, both byte orders") {
    // real-world float layout: DEM/biomass tiles ship as Float32 DEFLATE
    // PREDICTOR=3 — plane-split byte differencing per TIFF TechNote 3
    def v(c: Int, r: Int): Double = math.sin(c * 0.37) * 1000.0 + r * 2.25
    val plain = TiffFixtures.writeBigTiff(s"$tmp/fp_plain.tif", 60, 40, v,
      0.0, 20.0, 0.5, None, rowsPerStrip = 9)
    val b = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    for ((bigEndian, name) <- Seq((false, "le"), (true, "be")); classic <- Seq(false, true)) {
      val pred = TiffFixtures.writeBigTiff(s"$tmp/fp3_${name}_$classic.tif", 60, 40, v,
        0.0, 20.0, 0.5, None, rowsPerStrip = 9, bigEndian = bigEndian,
        compression = 8, predictor = 3, classic = classic)
      val m = graft.sources.tiff.TiffTags.read(pred)
      assert(m.compression == 8 && m.predictor == 3 && m.sampleFormat == 3 &&
        m.bigTiff == !classic)
      val a = Raster.raster2df(spark, Seq(pred), maxBlockSize = 128)
        .orderBy("lat", "lon").collect().map(_.toSeq)
      assert(a.length == 60 * 40 && a.sameElements(b), s"byte order $name, classic=$classic")
    }
  }

  test("tiled f32 DEFLATE + predictor 3 (the float COG shape) == stripped, NaN nodata masked") {
    def v(c: Int, r: Int): Double =
      if ((c + r) % 11 == 0) Double.NaN else c * 1.5 - r * 0.25
    val tiled = TiffFixtures.writeBigTiffTiled(s"$tmp/fp3_cog.tif", 150, 100, v,
      -10.0, 45.0, 0.1, Some("nan"), tileWidth = 64, tileLength = 32,
      compression = 8, predictor = 3)
    val stripped = TiffFixtures.writeBigTiff(s"$tmp/fp3_strips.tif", 150, 100, v,
      -10.0, 45.0, 0.1, Some("nan"), rowsPerStrip = 16,
      compression = 8, predictor = 3)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/fp3_unc.tif", 150, 100, v,
      -10.0, 45.0, 0.1, Some("nan"), rowsPerStrip = 16)
    val m = graft.sources.tiff.TiffTags.read(tiled)
    assert(m.tiled && m.predictor == 3 && m.noData.exists(_.isNaN))
    val t = Raster.raster2df(spark, Seq(tiled)).orderBy("lat", "lon").collect().map(_.toSeq)
    val s = Raster.raster2df(spark, Seq(stripped)).orderBy("lat", "lon").collect().map(_.toSeq)
    val p = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    val expectValid = (for (r <- 0 until 100; c <- 0 until 150 if (c + r) % 11 != 0) yield 1).size
    assert(t.length == expectValid && t.sameElements(s) && t.sameElements(p))
    // windows crossing tile boundaries agree with the single-window read
    val many = Raster.raster2df(spark, Seq(tiled), maxBlockSize = 50)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(many.sameElements(t))
  }

  test("predictor-3 on-disk bytes match the TechNote-3 layout, hand-computed") {
    // [1.0f, 2.0f]: big-endian bytes 3F 80 00 00 / 40 00 00 00 -> MSB-first
    // planes [3F 40][80 00][00 00][00 00] -> stride-1 byte diff
    // [3F 01 40 80 00 00 00 00]. Pins the fixture ENCODER against the spec
    // independently of the reader, so encoder and decoder cannot be
    // mutually-inverse-but-wrong; the read-back then pins the DECODER.
    val p = TiffFixtures.writeBigTiff(s"$tmp/fp3_golden.tif", 2, 1,
      (c, _) => (c + 1).toDouble, 0.0, 1.0, 1.0, None,
      compression = 1, predictor = 3)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // fixture layout: pixel data starts right after the 16-byte header
    val strip = bytes.slice(16, 24).map(_ & 0xff)
    assert(strip.sameElements(Array(0x3f, 0x01, 0x40, 0x80, 0, 0, 0, 0)),
      s"encoded strip ${strip.map(b => f"$b%02x").mkString(" ")}")
    val rows = Raster.raster2df(spark, Seq(p)).orderBy("lon").collect()
    assert(rows.map(_.getFloat(2)).sameElements(Array(1.0f, 2.0f)))
  }

  test("multi-band f32 predictor 3 (chunky): per-channel stride, band selection exact") {
    def bv(b: Int, c: Int, r: Int): Double = b * 10000.0 + c * 3.5 - r * 1.25
    val pred = TiffFixtures.writeBigTiff(s"$tmp/fp3_mb.tif", 40, 30, null,
      0.0, 15.0, 0.5, None, rowsPerStrip = 8,
      compression = 8, predictor = 3, spp = 2, bandValue = bv)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/fp3_mbu.tif", 40, 30, null,
      0.0, 15.0, 0.5, None, rowsPerStrip = 8, spp = 2, bandValue = bv)
    for (band <- Seq(1, 2)) {
      val a = Raster.raster2df(spark, Seq(pred), bands = Seq(band))
        .orderBy("lat", "lon").collect().map(_.toSeq)
      val b = Raster.raster2df(spark, Seq(plain), bands = Seq(band))
        .orderBy("lat", "lon").collect().map(_.toSeq)
      assert(a.length == 40 * 30 && a.sameElements(b), s"band $band")
    }
  }

  test("PackBits decoder reproduces the TIFF 6.0 §9 worked example") {
    // the spec's own vector: decoder pinned against the published bytes,
    // independent of the fixture encoder
    val packed = Array(0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA,
      0x03, 0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA).map(_.toByte)
    val expect = Array(0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA,
      0xAA, 0x80, 0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA,
      0xAA, 0xAA, 0xAA, 0xAA).map(_.toByte)
    val out = new Array[Byte](expect.length)
    val n = graft.sources.tiff.StripDecode.packBitsDecode(packed, out)
    assert(n == expect.length && out.sameElements(expect))
    // and the fixture encoder round-trips through it (not necessarily the
    // spec's exact packets — any valid packetization decodes identically)
    val enc = TiffFixtures.packBitsEncode(expect)
    val out2 = new Array[Byte](expect.length)
    assert(graft.sources.tiff.StripDecode.packBitsDecode(enc, out2) == expect.length
      && out2.sameElements(expect))
  }

  test("PackBits BigTIFF (stripped and tiled) reads identically to uncompressed") {
    // legacy RLE tiles: runs of nodata zeros make PackBits worthwhile
    def v(c: Int, r: Int): Double = if ((c / 7 + r / 5) % 3 == 0) 0.0 else ((c + r) % 251).toDouble
    val stripped = TiffFixtures.writeBigTiff(s"$tmp/pb_strips.tif", 120, 90, v,
      0.0, 45.0, 0.5, Some("0"), rowsPerStrip = 16,
      dtype = TiffFixtures.U8, compression = 32773)
    val tiled = TiffFixtures.writeBigTiffTiled(s"$tmp/pb_cog.tif", 120, 90, v,
      0.0, 45.0, 0.5, Some("0"), tileWidth = 48, tileLength = 32,
      dtype = TiffFixtures.U8, compression = 32773)
    val plain = TiffFixtures.writeBigTiff(s"$tmp/pb_plain.tif", 120, 90, v,
      0.0, 45.0, 0.5, Some("0"), rowsPerStrip = 16, dtype = TiffFixtures.U8)
    val m = graft.sources.tiff.TiffTags.read(stripped)
    assert(m.compression == 32773)
    val a = Raster.raster2df(spark, Seq(stripped), maxBlockSize = 64)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val t = Raster.raster2df(spark, Seq(tiled)).orderBy("lat", "lon").collect().map(_.toSeq)
    val b = Raster.raster2df(spark, Seq(plain)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b) && t.sameElements(b))
  }

  test("COG overview pyramid: each level reads its own IFD with an inherited grid") {
    // distinct values per level prove WHICH IFD was decoded; geo tags and
    // nodata live only on IFD0 (the GDAL convention) and must inherit
    def v(k: Int, c: Int, r: Int): Double =
      if (k == 0 && c == 0 && r == 0) -9999.0 else k * 1000.0 + r * 10.0 + c
    val p = TiffFixtures.writeBigTiffOverviews(s"$tmp/ovr.tif", 20, 12, v,
      10.0, 50.0, 0.25, Some("-9999"), levels = 2, rowsPerStrip = 5,
      compression = 8)
    // level 1: 10 x 6, scale doubled; level 2: 5 x 3, scale 4x
    val m0 = graft.sources.tiff.TiffTags.read(p)
    val m1 = graft.sources.tiff.TiffTags.readOverview(p, 1)
    val m2 = graft.sources.tiff.TiffTags.readOverview(p, 2)
    assert(m0.width == 20 && m0.height == 12 && m0.pixelScaleX == 0.25)
    assert(m1.width == 10 && m1.height == 6 &&
      m1.pixelScaleX == 0.5 && m1.pixelScaleY == 0.5 &&
      m1.originX == 10.0 && m1.originY == 50.0 && m1.noData.contains(-9999.0))
    // level 2 = ceil(20/4) x ceil(12/4) = 5 x 3, scale 4x on both axes
    assert(m2.width == 5 && m2.height == 3 &&
      m2.pixelScaleX == 1.0 && m2.pixelScaleY == 1.0)
    val full = Raster.raster2df(spark, Seq(p)).orderBy("lat", "lon").collect()
    val o1 = Raster.raster2df(spark, Seq(p), overview = 1).orderBy("lat", "lon").collect()
    // full res: 20*12 minus the one nodata pixel
    assert(full.length == 20 * 12 - 1)
    assert(o1.length == 10 * 6)
    // overview-1 values are the level-1 samples, at level-1 pixel centers
    val expect1 = (for (r <- 0 until 6; c <- 0 until 10)
      yield (10.0 + (c + 0.5) * 0.5, 50.0 - (r + 0.5) * 0.5, 1000.0 + r * 10.0 + c))
      .sortBy(t => (t._2, t._1))
    val got1 = o1.map(w => (w.getDouble(0), w.getDouble(1), w.getFloat(2).toDouble))
    assert(got1.sameElements(expect1))
    // a level past the chain fails loudly
    val e = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.readOverview(p, 3)
    }
    assert(e.getMessage.contains("IFD chain has only"))
    // a single-image classic file has no overview 1 either
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.readOverview(f32, 1)
    }
    assert(e2.getMessage.contains("IFD chain has only"))
  }

  test("CLASSIC multi-page overview pyramid reads per level") {
    def v(k: Int, c: Int, r: Int): Double = (k * 50 + c * 3 + r) % 251
    val p = TiffFixtures.writeClassicOverviews(s"$tmp/ovr_classic.tif", 18, 10, v,
      5.0, 40.0, 0.5, Some("255"), levels = 2)
    val m0 = graft.sources.tiff.TiffTags.read(p)
    val m1 = graft.sources.tiff.TiffTags.readOverview(p, 1)
    assert(!m0.bigTiff && m0.width == 18 && m0.imageIndex == 0)
    assert(m1.width == 9 && m1.height == 5 && m1.imageIndex == 1 &&
      m1.pixelScaleX == 1.0 && m1.originX == 5.0 && m1.noData.contains(255.0))
    val o1 = Raster.raster2df(spark, Seq(p), overview = 1).orderBy("lat", "lon").collect()
    assert(o1.length == 9 * 5)
    o1.foreach { w =>
      val c = ((w.getDouble(0) - 5.0) / 1.0 - 0.5).round.toInt
      val r = ((40.0 - w.getDouble(1)) / 1.0 - 0.5).round.toInt
      assert(w.getShort(2).toDouble == v(1, c, r), s"($c,$r)")
    }
    // overview 2 = ceil(18/4) x ceil(10/4) = 5 x 3: the rounded dims make
    // the inherited scale NON-integral (0.5 * 18/5 = 1.8 per axis-ratio),
    // exactly the extent-preserving rule; distinct values prove selection
    val m2 = graft.sources.tiff.TiffTags.readOverview(p, 2)
    assert(m2.width == 5 && m2.height == 3 &&
      math.abs(m2.pixelScaleX - 0.5 * 18.0 / 5) < 1e-12 &&
      math.abs(m2.pixelScaleY - 0.5 * 10.0 / 3) < 1e-12)
    val o2 = Raster.raster2df(spark, Seq(p), overview = 2).orderBy("lat", "lon").collect()
    assert(o2.length == 5 * 3 && o2.forall { w =>
      val c = ((w.getDouble(0) - 5.0) / m2.pixelScaleX - 0.5).round.toInt
      val r = ((40.0 - w.getDouble(1)) / m2.pixelScaleY - 0.5).round.toInt
      w.getShort(2).toDouble == v(2, c, r)
    })
  }

  test("COG overviews of two rasters zip positionally at the same level") {
    def va(k: Int, c: Int, r: Int): Double = k * 100.0 + c + r
    def vb(k: Int, c: Int, r: Int): Double = k * 200.0 + c * 2.0 + r
    val a = TiffFixtures.writeBigTiffOverviews(s"$tmp/ovr_a.tif", 16, 8, va,
      0.0, 40.0, 0.5, None, levels = 1)
    val b = TiffFixtures.writeBigTiffOverviews(s"$tmp/ovr_b.tif", 16, 8, vb,
      0.0, 40.0, 0.5, None, levels = 1)
    val z = Raster.raster2df(spark, Seq(a, b), overview = 1)
      .orderBy("lat", "lon").collect()
    assert(z.length == 8 * 4)
    z.foreach { w =>
      val c = ((w.getDouble(0) - 0.0) / 1.0 - 0.5).round.toInt
      val r = ((40.0 - w.getDouble(1)) / 1.0 - 0.5).round.toInt
      assert(w.getFloat(2).toDouble == va(1, c, r) && w.getFloat(3).toDouble == vb(1, c, r))
    }
  }

  test("predictor/sample-format mismatches are rejected with typed errors") {
    // patch tag 317 in place (the compression-rejection trick): a u8 file
    // claiming predictor 3, and an f32 file claiming predictor 2, are both
    // malformed per spec and must fail loudly, never decode to garbage
    def patchPredictor(src: String, dst: String, to: Short): String =
      TiffFixtures.patchIfd0(src, dst)((bb, ifd) => bb.putShort(ifd.valuePos(317), to))
    def v(c: Int, r: Int): Double = (c + r).toDouble
    val u8p2 = TiffFixtures.writeBigTiff(s"$tmp/fp3_badsrc1.tif", 8, 8, v,
      0.0, 4.0, 0.5, None, dtype = TiffFixtures.U8, compression = 8, predictor = 2)
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.read(patchPredictor(u8p2, s"$tmp/fp3_bad1.tif", 3))
    }
    assert(e1.getMessage.contains("integer samples is malformed"))
    val f32p3 = TiffFixtures.writeBigTiff(s"$tmp/fp3_badsrc2.tif", 8, 8, v,
      0.0, 4.0, 0.5, None, compression = 8, predictor = 3)
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.read(patchPredictor(f32p3, s"$tmp/fp3_bad2.tif", 2))
    }
    assert(e2.getMessage.contains("floats use predictor 3"))
  }

  test("uncompressed tiled BigTIFF zips positionally with its stripped twin") {
    def v(c: Int, r: Int): Double = (c + r * 10).toDouble
    val tiled = TiffFixtures.writeBigTiffTiled(s"$tmp/cog_u.tif", 10, 8, v,
      10.0, 50.0, 0.5, None, tileWidth = 4, tileLength = 4)
    val m = graft.sources.tiff.TiffTags.read(tiled)
    assert(m.tiled && m.compression == 1 && m.tileByteCounts.isEmpty)
    val stripped = TiffFixtures.writeBigTiff(s"$tmp/cog_u_s.tif", 10, 8, v,
      10.0, 50.0, 0.5, None, rowsPerStrip = 3)
    val z = Raster.raster2df(spark, Seq(tiled, stripped))
      .filter(org.apache.spark.sql.functions.col("val1") =!=
        org.apache.spark.sql.functions.col("val2")).count()
    assert(z == 0L)
  }

  test("multi-band BigTIFF (chunky) reads bands as columns, equal to classic RGB") {
    // same band data as the classic RGB test, as a pixel-interleaved
    // DEFLATE + predictor-2 stripped BigTIFF: band selection is a byte
    // offset in the pixel stride, the predictor differences per channel
    def bv(b: Int, c: Int, r: Int): Double = b match {
      case 0 => c * 10
      case 1 => r * 20
      case _ => c + r
    }
    val big = TiffFixtures.writeBigTiff(s"$tmp/big_rgb.tif", 10, 8, null,
      10.0, 50.0, 0.5, None, rowsPerStrip = 3,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2,
      spp = 3, bandValue = bv)
    val m = graft.sources.tiff.TiffTags.read(big)
    assert(m.bigTiff && m.samplesPerPixel == 3 && m.compression == 8 && m.predictor == 2)
    val classic = TiffFixtures.writeRGB(s"$tmp/big_rgb_classic.tif", 10, 8,
      (band, c, r) => bv(band - 1, c, r).toInt, 10.0, 50.0, 0.5)
    val dfB = Raster.raster2df(spark, Seq(big, big, big),
      colNames = Seq("red", "green", "blue"), bands = Seq(1, 2, 3))
    val dfC = Raster.raster2df(spark, Seq(classic, classic, classic),
      colNames = Seq("red", "green", "blue"), bands = Seq(1, 2, 3))
    val a = dfB.orderBy("lat", "lon").collect().map(_.toSeq)
    val b = dfC.orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.length == 80 && a.sameElements(b))
    // windows that split the grid agree with the single-window read
    val many = Raster.raster2df(spark, Seq(big, big, big),
      colNames = Seq("red", "green", "blue"), bands = Seq(1, 2, 3), maxBlockSize = 4)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(many.sameElements(a))
  }

  test("multi-band TILED BigTIFF == its stripped twin; planar and bad bands reject") {
    def bv(b: Int, c: Int, r: Int): Double = b match {
      case 0 => (c * 7 + r) % 251
      case _ => (r * 5 + c) % 251
    }
    val tiled = TiffFixtures.writeBigTiffTiled(s"$tmp/cog_rgb.tif", 30, 20, null,
      0.0, 10.0, 0.5, None, tileWidth = 16, tileLength = 8,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2,
      spp = 2, bandValue = bv)
    val stripped = TiffFixtures.writeBigTiff(s"$tmp/cog_rgb_s.tif", 30, 20, null,
      0.0, 10.0, 0.5, None, rowsPerStrip = 4,
      dtype = TiffFixtures.U8, spp = 2, bandValue = bv)
    def both(p: String) = Raster.raster2df(spark, Seq(p, p),
      colNames = Seq("b1", "b2"), bands = Seq(1, 2))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val t = both(tiled)
    assert(t.length == 30 * 20 && t.sameElements(both(stripped)))
    // bogus PlanarConfiguration value: typed rejection at tag-read time
    val bogus = TiffFixtures.writeBigTiff(s"$tmp/planar_bad.tif", 10, 8, null,
      0.0, 10.0, 0.5, None, spp = 2, bandValue = bv, planarOverride = 3)
    val e = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.read(bogus)
    }
    assert(e.getMessage.contains("PlanarConfiguration 3 unsupported"))
    // out-of-range band: typed rejection at read time
    val e2 = intercept[Exception] {
      Raster.raster2df(spark, Seq(tiled), colNames = Seq("v"), bands = Seq(3)).collect()
    }
    assert(e2.getMessage != null)
  }

  test("PLANAR multi-band BigTIFF (band-separate) == its chunky twin, strips and tiles") {
    // GDAL INTERLEAVE=BAND: each band's chunks stored plane-major. Band
    // selection reads ONLY that band's plane; values must equal the chunky
    // (pixel-interleaved) twin's on every band, across window splits.
    def bv(b: Int, c: Int, r: Int): Double = b match {
      case 0 => (c * 7 + r) % 251
      case _ => (r * 5 + c) % 251
    }
    val chunky = TiffFixtures.writeBigTiff(s"$tmp/pl_chunky.tif", 30, 20, null,
      0.0, 10.0, 0.5, None, rowsPerStrip = 4,
      dtype = TiffFixtures.U8, spp = 2, bandValue = bv)
    val planarS = TiffFixtures.writeBigTiff(s"$tmp/pl_strips.tif", 30, 20, null,
      0.0, 10.0, 0.5, None, rowsPerStrip = 4,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2,
      spp = 2, bandValue = bv, planar = true)
    val planarT = TiffFixtures.writeBigTiffTiled(s"$tmp/pl_tiles.tif", 30, 20, null,
      0.0, 10.0, 0.5, None, tileWidth = 16, tileLength = 8,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2,
      spp = 2, bandValue = bv, planar = true)
    val m = graft.sources.tiff.TiffTags.read(planarS)
    assert(m.planarConfig == 2 && m.samplesPerPixel == 2 &&
      m.stripOffsets.length == 2 * 5) // 2 planes x ceil(20/4) strips
    def both(p: String, block: Int = 4096) = Raster.raster2df(spark, Seq(p, p),
      colNames = Seq("b1", "b2"), bands = Seq(1, 2), maxBlockSize = block)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val c = both(chunky)
    assert(c.length == 30 * 20)
    assert(both(planarS).sameElements(c) && both(planarT).sameElements(c))
    // windows that split the grid agree too
    assert(both(planarS, 8).sameElements(c) && both(planarT, 8).sameElements(c))
  }

  test("PLANAR f32 predictor-3 strips: per-plane stride 1, both byte orders") {
    def bv(b: Int, c: Int, r: Int): Double = b * 5000.0 + math.cos(c * 0.21) * 100.0 + r
    val chunky = TiffFixtures.writeBigTiff(s"$tmp/pl3_chunky.tif", 24, 16, null,
      0.0, 8.0, 0.5, None, rowsPerStrip = 5, spp = 2, bandValue = bv)
    for ((be, name) <- Seq((false, "le"), (true, "be")); classic <- Seq(false, true)) {
      val planar = TiffFixtures.writeBigTiff(s"$tmp/pl3_${name}_$classic.tif", 24, 16, null,
        0.0, 8.0, 0.5, None, rowsPerStrip = 5, bigEndian = be,
        compression = 8, predictor = 3, spp = 2, bandValue = bv, planar = true,
        classic = classic)
      for (band <- Seq(1, 2)) {
        val a = Raster.raster2df(spark, Seq(planar), bands = Seq(band))
          .orderBy("lat", "lon").collect().map(_.toSeq)
        val b = Raster.raster2df(spark, Seq(chunky), bands = Seq(band))
          .orderBy("lat", "lon").collect().map(_.toSeq)
        assert(a.length == 24 * 16 && a.sameElements(b), s"$name band $band classic=$classic")
      }
    }
  }

  test("LZW decoder matches the JDK's independent LZW encoder byte-for-byte") {
    // the JDK TIFF writer is an independent LZW implementation: decoding its
    // strips pins the early-change rule empirically (not just round-trip)
    val p = TiffFixtures.write(s"$tmp/classic_lzw.tif", 96, 96, TiffFixtures.U8,
      (c, r) => ((c * 7 + r * 13) % 251).toDouble,
      0.0, 48.0, 0.5, None, compressionType = "LZW")
    val m = graft.sources.tiff.TiffTags.read(p)
    assert(m.compression == 5, s"JDK writer produced compression ${m.compression}")
    assert(m.predictor == 1, s"JDK writer used predictor ${m.predictor}; test assumes none")
    assert(m.stripOffsets.nonEmpty && m.stripByteCounts.length == m.stripOffsets.length)
    val raf = new java.io.RandomAccessFile(p, "r")
    val got = new Array[Byte](96 * 96)
    try {
      var pos = 0
      for (s <- m.stripOffsets.indices) {
        val rows = math.min(m.rowsPerStrip, 96L - s * m.rowsPerStrip).toInt
        val comp = new Array[Byte](m.stripByteCounts(s).toInt)
        raf.seek(m.stripOffsets(s)); raf.readFully(comp)
        val out = new Array[Byte](rows * 96)
        val n = graft.sources.tiff.TiffLzw.decode(comp, out)
        assert(n == out.length, s"strip $s decoded $n of ${out.length} bytes")
        System.arraycopy(out, 0, got, pos, n); pos += n
      }
      assert(pos == got.length)
    } finally raf.close()
    val expect = Array.tabulate(96 * 96)(i => (((i % 96) * 7 + (i / 96) * 13) % 251).toByte)
    assert(java.util.Arrays.equals(got, expect))
  }

  test("multi-band: reading bands 1-3 of one RGB raster as three columns") {
    val p = TiffFixtures.writeRGB(s"$tmp/rgb.tif", 10, 8,
      (band, c, r) => band match {
        case 1 => c * 10
        case 2 => r * 20
        case _ => c + r
      },
      10.0, 50.0, 0.5)
    val m = graft.sources.tiff.TiffTags.read(p)
    assert(m.samplesPerPixel == 3)
    val df = Raster.raster2df(spark, Seq(p, p, p),
      colNames = Seq("red", "green", "blue"), bands = Seq(1, 2, 3))
    assert(df.columns.toSeq == Seq("lon", "lat", "red", "green", "blue"))
    assert(df.count() == 80) // no nodata: all pixels emitted
    // pixel (c=3, r=2): red 30, green 40, blue 5
    val row = df.filter(col("red") === 30 && col("green") === 40).collect()
    assert(row.exists(r => r.getShort(4) == 5))
  }

  test("multi-band: default band is 1 and out-of-range bands fail loudly") {
    val p = s"$tmp/rgb.tif" // written by previous test
    TiffFixtures.writeRGB(p, 10, 8, (b, c, r) => b * 10 + c, 10.0, 50.0, 0.5)
    val red = Raster.raster2df(spark, Seq(p)).orderBy("lat", "lon")
      .collect().map(_.getShort(2)).toSeq
    val band1 = Raster.raster2df(spark, Seq(p), bands = Seq(1)).orderBy("lat", "lon")
      .collect().map(_.getShort(2)).toSeq
    assert(red == band1)
    val e = intercept[Exception] {
      Raster.raster2df(spark, Seq(p), bands = Seq(4)).collect()
    }
    assert(e.getMessage.contains("band 4 requested"))
  }

  test("csv sink writes header and separator variants") {
    val out = s"$tmp/out_csv"
    Raster.raster2csv(spark, Seq(f32), out, separator = "t", singleFile = true)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.nonEmpty)
    val lines = scala.io.Source.fromFile(files.head).getLines().toList
    assert(lines.head == "lon\tlat\tval1")
    assert(lines.size == 69) // 68 valid pixels + header
  }

  test("column pruning skips pruned value columns") {
    val df = Raster.raster2df(spark, Seq(f32, u8), colNames = Seq("a", "b")).select("lon", "a")
    assert(df.columns.toSeq == Seq("lon", "a"))
    assert(df.count() == 68)
  }

  // ---- CRS (GeoKeyDirectory, tag 34735) ----

  def v7(c: Int, r: Int): Double = if ((r + c) % 7 == 0) -9999.0 else r * 100.0 + c

  test("geographic GeoKeyDirectory (EPSG:4326): lon/lat + calcArea accepted, classic and BigTIFF") {
    val classic = TiffFixtures.write(s"$tmp/geo4326.tif", 10, 8, TiffFixtures.F32,
      v7, 10.0, 50.0, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val big = TiffFixtures.writeBigTiff(s"$tmp/geo4326big.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3,
      geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    for (p <- Seq(classic, big)) {
      val m = graft.sources.tiff.TiffTags.read(p)
      assert(m.crsModelType.contains(2) && m.epsg.contains(4326) && !m.nonGeographic)
    }
    // golden unchanged: a declared-geographic file reads exactly like the
    // geokey-less twin, area column included
    val base = Raster.raster2df(spark, Seq(f32), calcArea = true)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    for (p <- Seq(classic, big)) {
      val got = Raster.raster2df(spark, Seq(p), calcArea = true)
        .orderBy("lat", "lon").collect().map(_.toSeq)
      assert(got.nonEmpty && got.sameElements(base))
    }
  }

  test("projected GeoKeyDirectory (EPSG:32633): x/y naming, calcArea typed-rejected") {
    // UTM-style grid: origin/scale in meters
    val big = TiffFixtures.writeBigTiff(s"$tmp/proj32633.tif", 10, 8, v7,
      500000.0, 4649776.0, 30.0, Some("-9999"), rowsPerStrip = 3,
      geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val classic = TiffFixtures.write(s"$tmp/proj32633c.tif", 10, 8, TiffFixtures.F32,
      v7, 500000.0, 4649776.0, 30.0, Some("-9999"),
      geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    for (p <- Seq(big, classic)) {
      val m = graft.sources.tiff.TiffTags.read(p)
      assert(m.crsModelType.contains(1) && m.epsg.contains(32633) && m.nonGeographic)
      val df = Raster.raster2df(spark, Seq(p))
      assert(df.columns.toSeq == Seq("x", "y", "val1"))
      // same affine math under the honest names: pixel (c=1, r=0) centroid
      val row = df.filter(col("val1") === 1.0f).collect()
      assert(row.length == 1)
      assert(row(0).getDouble(0) == 500000.0 + 1.5 * 30.0)
      assert(row(0).getDouble(1) == 4649776.0 - 0.5 * 30.0)
      // geodesic area over meters would be garbage — typed error, not numbers
      val e = intercept[IllegalArgumentException] {
        Raster.raster2df(spark, Seq(p), calcArea = true).collect()
      }
      assert(e.getMessage.contains("calcArea requires a geographic CRS"))
      assert(e.getMessage.contains("32633"))
    }
  }

  test("projected x/y filters prune windows and still return exact results") {
    val p = TiffFixtures.writeBigTiff(s"$tmp/proj_prune.tif", 300, 200,
      (c, r) => if ((c * 31 + r * 17) % 11 == 0) -1.0 else ((c * 7 + r * 3) % 1000).toDouble,
      500000.0, 4649776.0, 30.0, Some("-1"), rowsPerStrip = 16,
      geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val full = Raster.raster2df(spark, Seq(p), maxBlockSize = 64)
    val pred = col("x") > 503000.0 && col("y") < 4647000.0
    val filtered = full.filter(pred)
    // pruning: fewer partitions scanned than the unfiltered plan
    assert(filtered.rdd.getNumPartitions < full.rdd.getNumPartitions)
    val expect = full.collect().filter(r => r.getDouble(0) > 503000.0 && r.getDouble(1) < 4647000.0)
      .map(_.toSeq).sortBy(_.toString)
    val got = filtered.collect().map(_.toSeq).sortBy(_.toString)
    assert(got.nonEmpty && got.sameElements(expect))
  }

  test("geographic + projected rasters refuse to zip") {
    val geo = TiffFixtures.writeBigTiff(s"$tmp/mix_geo.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val prj = TiffFixtures.writeBigTiff(s"$tmp/mix_prj.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val e = intercept[Exception] {
      Raster.raster2df(spark, Seq(geo, prj), colNames = Seq("a", "b")).collect()
    }
    assert(e.getMessage.contains("CRS mismatch"))
  }

  test("two DIFFERENT projected CRSs refuse to zip even on identical numeric grids") {
    // UTM zones share the same false easting / scale — the identical
    // numeric grid is exactly how this silent-garbage case arises
    val z33 = TiffFixtures.writeBigTiff(s"$tmp/utm33.tif", 10, 8, v7,
      500000.0, 4649776.0, 30.0, Some("-9999"), geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val z34 = TiffFixtures.writeBigTiff(s"$tmp/utm34.tif", 10, 8, v7,
      500000.0, 4649776.0, 30.0, Some("-9999"), geoKeys = Seq(1024 -> 1, 3072 -> 32634))
    val e = intercept[Exception] {
      Raster.raster2df(spark, Seq(z33, z34), colNames = Seq("a", "b")).collect()
    }
    assert(e.getMessage.contains("EPSG:32633") && e.getMessage.contains("EPSG:32634"))
    // different geographic datums likewise
    val g1 = TiffFixtures.writeBigTiff(s"$tmp/dat1.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val g2 = TiffFixtures.writeBigTiff(s"$tmp/dat2.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4267))
    val e2 = intercept[Exception] {
      Raster.raster2df(spark, Seq(g1, g2), colNames = Seq("a", "b")).collect()
    }
    assert(e2.getMessage.contains("EPSG:4326") && e2.getMessage.contains("EPSG:4267"))
    // an UNDECLARED raster (no GeoKeyDirectory) stays zip-compatible with a
    // declared-geographic one of the same grid
    assert(Raster.raster2df(spark, Seq(f32, g1), colNames = Seq("a", "b")).count() > 0)
  }

  test("zonalStats: ambiguous coordinate pairs reject; the explicit overload resolves") {
    val prj = TiffFixtures.writeBigTiff(s"$tmp/zs_prj.tif", 10, 8, v7,
      500000.0, 4649776.0, 30.0, Some("-9999"), geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    // user-chosen value column named "lon" on a projected frame: both
    // pairs present -> guessing would aggregate band values as coordinates
    val frame = Raster.raster2df(spark, Seq(prj, prj), colNames = Seq("lon", "lat"))
    assert(frame.columns.toSeq == Seq("x", "y", "lon", "lat"))
    val e = intercept[IllegalArgumentException] {
      Raster.zonalStats(frame, 60.0)
    }
    assert(e.getMessage.contains("ambiguous"))
    val zs = Raster.zonalStats(frame, 60.0, "x", "y").collect()
    assert(zs.nonEmpty)
    assert(zs.map(_.getLong(2)).sum == frame.count()) // n_pixels accounts all rows
  }

  test("zonalStats: rows in cell order from one shuffle, two jobs, no range exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // f32 mask in EPSG:4326, 64×48 @ 0.05° from (14°E, 48.5°N), read in
    // windows of at most 16 pixels a side, zipped with a UTM 33N secondary
    // through the cross-CRS transform
    val mask = TiffFixtures.writeBigTiff(s"$tmp/zs_order_mask.tif", 64, 48,
      (c, r) => if ((3 * c + r) % 11 == 0) -9999.0 else c * 0.5 + r,
      14.0, 48.5, 0.05, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val utm = TiffFixtures.writeBigTiff(s"$tmp/zs_order_utm.tif", 100, 100,
      (c, r) => r * 1000.0 + c, 400000.0, 5400000.0, 4000.0, None,
      geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val frame = Raster.raster2df(spark, Seq(mask, utm), colNames = Seq("m", "s"),
      maxBlockSize = 16, resample = "nearest")
    assert(frame.rdd.getNumPartitions >= 12)
    val zs = Raster.zonalStats(frame, 0.25)
    val (rows, jobs) = jobsDuring(zs.collect().toSeq)
    assert(rows.length >= 50, s"${rows.length} cells")
    val keys = rows.map(r => (r.getDouble(0), r.getDouble(1)))
    assert(keys.zip(keys.tail).forall { case ((x0, y0), (x1, y1)) =>
      x0 < x1 || (x0 == x1 && y0 < y1) }, keys)
    assert(rows == zs.orderBy("cell_lon", "cell_lat").collect().toSeq)
    // the partial aggregate's map stage, then one task merges and sorts
    assert(jobs == 2, s"$jobs jobs")
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(zs.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }
    assert(shuffles.length == 1, zs.queryExecution.executedPlan)
    assert(!shuffles.head.outputPartitioning.isInstanceOf[RangePartitioning])
  }

  test("zonalStats: a non-finite or non-positive cellDeg is rejected") {
    val pts = Raster.raster2df(spark, Seq(f32))
    for (bad <- Seq(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, 0.0, -1.0)) {
      val e = intercept[IllegalArgumentException] { Raster.zonalStats(pts, bad) }
      assert(e.getMessage.contains("cellDeg"), e.getMessage)
    }
  }

  // ---- ModelTransformation (tag 34264) ----

  test("axis-aligned ModelTransformation (34264) decodes equal to its ModelPixelScale twin") {
    val mt = Array[Double](
      0.5, 0.0, 0.0, 10.0,
      0.0, -0.5, 0.0, 50.0,
      0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 1.0)
    val viaMt = TiffFixtures.writeBigTiff(s"$tmp/mt_axis.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), rowsPerStrip = 3, modelTransform = mt)
    val m = graft.sources.tiff.TiffTags.read(viaMt)
    assert(m.pixelScaleX == 0.5 && m.pixelScaleY == 0.5)
    assert(m.originX == 10.0 && m.originY == 50.0)
    val twin = Raster.raster2df(spark, Seq(f32)).orderBy("lat", "lon").collect().map(_.toSeq)
    val got = Raster.raster2df(spark, Seq(viaMt)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(got.nonEmpty && got.sameElements(twin))
  }

  test("rotated ModelTransformation (34264) reads with full-affine coordinates") {
    val rot = Array[Double](
      0.49, 0.1, 0.0, 10.0,
      -0.1, -0.49, 0.0, 50.0,
      0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 1.0)
    val p = TiffFixtures.writeBigTiff(s"$tmp/mt_rot.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), modelTransform = rot)
    val m = graft.sources.tiff.TiffTags.read(p)
    assert(m.rotX == 0.1 && m.rotY == -0.1)
    assert(m.pixelScaleX == 0.49 && m.pixelScaleY == 0.49)
    assert(m.originX == 10.0 && m.originY == 50.0)
    // every emitted point inverts exactly (2x2 affine inverse) to an
    // integer pixel whose value matches the content function — the
    // pixel→geo→pixel round-trip THROUGH the rotation, on real file bytes
    val rows = Raster.raster2df(spark, Seq(p), colNames = Seq("v")).collect()
    val expectValid = (0 until 8).flatMap(r => (0 until 10).map(c => (c, r)))
      .count { case (c, r) => v7(c, r) != -9999.0 }
    assert(rows.length == expectValid)
    val det = m.pixelScaleX * (-m.pixelScaleY) - m.rotX * m.rotY
    rows.foreach { row =>
      val (x, y, v) = (row.getDouble(0), row.getDouble(1), row.getFloat(2))
      val dx = x - m.originX
      val dy = y - m.originY
      val c = math.rint((dx * (-m.pixelScaleY) - dy * m.rotX) / det - 0.5).toInt
      val r = math.rint((m.pixelScaleX * dy - m.rotY * dx) / det - 0.5).toInt
      assert(c >= 0 && c < 10 && r >= 0 && r < 8, s"inverse mapped outside grid: ($c, $r)")
      assert(v.toDouble == v7(c, r), s"pixel ($c, $r): value $v vs ${v7(c, r)}")
      assert(math.abs(m.lonOf(c.toDouble, r.toDouble) - x) < 1e-12 &&
        math.abs(m.latOf(c.toDouble, r.toDouble) - y) < 1e-12)
    }
    // windowed reads equal the single-window read (corner-based pruning
    // plans every window; per-pixel math is window-offset-invariant)
    val whole = Raster.raster2df(spark, Seq(p), colNames = Seq("v"))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val windowed = Raster.raster2df(spark, Seq(p), colNames = Seq("v"), maxBlockSize = 3)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(windowed.sameElements(whole))
    // pushdown pruning on the rotated grid must not drop valid points:
    // compare a pushed lon/lat filter against the in-memory filter
    val filtered = Raster.raster2df(spark, Seq(p), colNames = Seq("v"), maxBlockSize = 3)
      .filter(col("lon") > 11.0 && col("lat") < 49.0)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val inMem = whole.filter(s =>
      s(0).asInstanceOf[Double] > 11.0 && s(1).asInstanceOf[Double] < 49.0)
    assert(filtered.nonEmpty && filtered.sameElements(inMem))
    // same-rotation twins zip; a rotation mismatch is a grid mismatch
    val p2 = TiffFixtures.writeBigTiff(s"$tmp/mt_rot2.tif", 10, 8,
      (c, r) => (c * r).toDouble, 10.0, 50.0, 0.5, Some("-9999"), modelTransform = rot)
    assert(Raster.raster2df(spark, Seq(p, p2), colNames = Seq("a", "b")).count() == expectValid)
    val axis = TiffFixtures.writeBigTiff(s"$tmp/mt_axis_twin.tif", 10, 8, v7,
      10.0, 50.0, 0.49, Some("-9999"))
    val eZip = intercept[Exception] {
      Raster.raster2df(spark, Seq(p, axis), colNames = Seq("a", "b")).collect()
    }
    assert(eZip.getMessage.contains("grid mismatch"))
    // geodesic area on the rotated grid (round 15): every row's area is
    // exactly the Jacobian formula at ITS centroid latitude — positive,
    // and within a whisker of |det|·(flat-degree→ellipsoid) of the
    // axis-aligned area at the same latitude (the rotation preserves
    // |det|, so the areas differ only by the quadrature across the tilt)
    val withArea = Raster.raster2df(spark, Seq(p), colNames = Seq("v"), calcArea = true)
      .collect()
    assert(withArea.length == expectValid)
    withArea.foreach { row =>
      val (lat, a) = (row.getDouble(1), row.getDouble(3))
      assert(a == graft.functions.GeoMath.pixelAreaAffineM2(
        lat, m.pixelScaleX, m.pixelScaleY, m.rotX, m.rotY),
        s"area at lat $lat diverged from the Jacobian formula")
      val axisAtLat = graft.functions.GeoMath.pixelAreaM2(
        lat, math.abs(det) / m.pixelScaleX, m.pixelScaleX)
      assert(a > 0 && math.abs(a / axisAtLat - 1.0) < 1e-4,
        s"rotated-pixel area $a vs same-|det| axis-aligned $axisAtLat at lat $lat")
    }
  }

  test("resample=nearest: coarser and finer secondaries sample the covering cell exactly") {
    // mask: 10x8 @ 0.5 deg, origin (10, 50); secondary values g(c, r) = r*10 + c
    val mask = TiffFixtures.writeBigTiff(s"$tmp/rs_mask.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"))
    def g(c: Int, r: Int): Double = r * 10.0 + c
    // 2x coarser secondary on the same origin: mask pixel (c, r) centroid
    // falls in secondary cell (c/2, r/2)
    val coarse = TiffFixtures.writeBigTiff(s"$tmp/rs_coarse.tif", 5, 4, g,
      10.0, 50.0, 1.0, None)
    val rows = Raster.raster2df(spark, Seq(mask, coarse), colNames = Seq("m", "b"),
      resample = "nearest").collect()
    val expectValid = (0 until 8).flatMap(r => (0 until 10).map(c => (c, r)))
      .count { case (c, r) => v7(c, r) != -9999.0 }
    assert(rows.length == expectValid)
    rows.foreach { row =>
      val c = math.rint((row.getDouble(0) - 10.0) / 0.5 - 0.5).toInt
      val r = math.rint((50.0 - row.getDouble(1)) / 0.5 - 0.5).toInt
      assert(row.getFloat(3).toDouble == g(c / 2, r / 2),
        s"pixel ($c, $r): got ${row.getFloat(3)}, want ${g(c / 2, r / 2)}")
    }
    // 2x finer secondary: centroid falls in cell (2c+1, 2r+1)
    val fine = TiffFixtures.writeBigTiff(s"$tmp/rs_fine.tif", 20, 16,
      (c, r) => r * 100.0 + c, 10.0, 50.0, 0.25, None)
    Raster.raster2df(spark, Seq(mask, fine), colNames = Seq("m", "b"),
      resample = "nearest").collect().foreach { row =>
      val c = math.rint((row.getDouble(0) - 10.0) / 0.5 - 0.5).toInt
      val r = math.rint((50.0 - row.getDouble(1)) / 0.5 - 0.5).toInt
      assert(row.getFloat(3).toDouble == (2 * r + 1) * 100.0 + (2 * c + 1),
        s"pixel ($c, $r): got ${row.getFloat(3)}")
    }
    // windowed reads equal the single-window read (per-window secondary
    // windows + global-index mapping must agree across window offsets)
    val whole = Raster.raster2df(spark, Seq(mask, coarse), colNames = Seq("m", "b"),
      resample = "nearest").orderBy("lat", "lon").collect().map(_.toSeq)
    val windowed = Raster.raster2df(spark, Seq(mask, coarse), colNames = Seq("m", "b"),
      resample = "nearest", maxBlockSize = 3).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(windowed.sameElements(whole))
    // a k×-FINER secondary shrinks the PLANNED mask windows so every
    // raster's read window stays ≤ maxBlockSize per side (the round-14
    // review finding: without this the secondary window grows k² pixels
    // and breaks the O(maxBlockSize²) memory contract). The post-floor
    // cell count is provably within the budget WITHOUT an extra −1 —
    // windows span (B−1) unit steps, so the flooring excess is absorbed
    // by the growth−1 slack (the round-15 proof in planInputPartitions,
    // correcting the round-14 advice's off-by-one claim). 2×-finer at
    // maxBlockSize=4 → effective block floor(4/2) = 2 →
    // ceil(10/2)·ceil(8/2) = 20 partitions vs ceil(10/4)·ceil(8/4) = 6
    // for the coarse secondary.
    val fineParts = Raster.raster2df(spark, Seq(mask, fine), colNames = Seq("m", "b"),
      resample = "nearest", maxBlockSize = 4).rdd.getNumPartitions
    assert(fineParts == 20, s"expected 20 shrunk windows, got $fineParts")
    val coarseParts = Raster.raster2df(spark, Seq(mask, coarse), colNames = Seq("m", "b"),
      resample = "nearest", maxBlockSize = 4).rdd.getNumPartitions
    assert(coarseParts == 6, s"coarser secondary must not shrink windows, got $coarseParts")
    // identical grids under resample degenerate to the plain zip
    val twin = TiffFixtures.writeBigTiff(s"$tmp/rs_twin.tif", 10, 8, g,
      10.0, 50.0, 0.5, None)
    val plain = Raster.raster2df(spark, Seq(mask, twin), colNames = Seq("m", "b"))
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val viaRs = Raster.raster2df(spark, Seq(mask, twin), colNames = Seq("m", "b"),
      resample = "nearest").orderBy("lat", "lon").collect().map(_.toSeq)
    assert(viaRs.sameElements(plain))
  }

  test("resample=nearest typed rejections: coverage, mode, CRS, and the no-resample hint") {
    val mask = TiffFixtures.writeBigTiff(s"$tmp/rs2_mask.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"))
    // secondary shifted east so the mask's west centroids fall outside
    val shifted = TiffFixtures.writeBigTiff(s"$tmp/rs2_shift.tif", 5, 4,
      (c, r) => 1.0, 10.5, 50.0, 1.0, None)
    val eCov = intercept[IllegalArgumentException] {
      Raster.raster2df(spark, Seq(mask, shifted), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    assert(eCov.getMessage.contains("does not cover"))
    // unsupported mode names itself
    val eMode = intercept[IllegalArgumentException] {
      Raster.raster2df(spark, Seq(mask, shifted), colNames = Seq("m", "b"),
        resample = "bilinear").collect()
    }
    assert(eMode.getMessage.contains("only 'nearest'"))
    // resample does NOT bypass the CRS gate for pairs WITHOUT a supported
    // transform (round 15: 4326 ↔ UTM and UTM ↔ UTM now transform; round
    // 16 added web mercator and the polar grids, so the canonical
    // UNSUPPORTED code here is now ETRS89 LAEA): still rejects on EPSG,
    // and the error teaches which pairs ARE supported
    val z33 = TiffFixtures.writeBigTiff(s"$tmp/rs2_z33.tif", 10, 8, v7,
      500000.0, 4649776.0, 30.0, Some("-9999"), geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val laea = TiffFixtures.writeBigTiff(s"$tmp/rs2_laea.tif", 20, 16,
      (c, r) => 1.0, 499900.0, 4649876.0, 30.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 3035))
    val eCrs = intercept[Exception] {
      Raster.raster2df(spark, Seq(z33, laea), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    assert(eCrs.getMessage.contains("EPSG:32633") && eCrs.getMessage.contains("EPSG:3035") &&
      eCrs.getMessage.contains("supported resample transforms"))
    // adjacent UTM zones DO transform now — this tiny zone-34 raster is
    // nowhere near the zone-33 mask once actually reprojected, so the
    // typed error moves from EPSG to coverage (proof the gate opened and
    // the transform ran)
    val z34 = TiffFixtures.writeBigTiff(s"$tmp/rs2_z34.tif", 20, 16,
      (c, r) => 1.0, 499900.0, 4649876.0, 30.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 32634))
    val eZone = intercept[IllegalArgumentException] {
      Raster.raster2df(spark, Seq(z33, z34), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    assert(eZone.getMessage.contains("does not cover"))
    // without resample, the grid-mismatch error teaches the option
    val coarse = TiffFixtures.writeBigTiff(s"$tmp/rs2_coarse.tif", 5, 4,
      (c, r) => 1.0, 10.0, 50.0, 1.0, None)
    val eGrid = intercept[Exception] {
      Raster.raster2df(spark, Seq(mask, coarse), colNames = Seq("m", "b")).collect()
    }
    assert(eGrid.getMessage.contains("grid mismatch") &&
      eGrid.getMessage.contains("resample=nearest"))
  }

  test("cross-CRS resample: a 4326 mask samples a UTM secondary through the transform") {
    import graft.sources.tiff.CrsTransform
    // mask: geographic 10×8 @ 0.5°, origin (14°E, 48.5°N) — straddling
    // zone 33's central meridian (15°E); centroids span lon [14.25, 18.75],
    // lat [44.75, 48.25]
    val mask = TiffFixtures.writeBigTiff(s"$tmp/xcrs_mask.tif", 10, 8, v7,
      14.0, 48.5, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    // secondary: UTM 32633, 100×115 @ 4 km, covering E [430k, 830k],
    // N [4.92e6, 5.38e6] — a superset of the mask centroids' images
    def g(c: Int, r: Int): Double = r * 1000.0 + c
    val utm = TiffFixtures.writeBigTiff(s"$tmp/xcrs_utm.tif", 100, 115, g,
      430000.0, 5380000.0, 4000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val rows = Raster.raster2df(spark, Seq(mask, utm), colNames = Seq("m", "b"),
      resample = "nearest").collect()
    val expectValid = (0 until 8).flatMap(r => (0 until 10).map(c => (c, r)))
      .count { case (c, r) => v7(c, r) != -9999.0 }
    assert(rows.length == expectValid)
    // per-row check: each output centroid, forwarded by the independently
    // property-pinned transform, must land in the secondary cell whose
    // value was emitted (tests the PLUMBING — window planning, read-window
    // bounds, per-pixel sampling; the transform itself is pinned in
    // CrsTransformSpec against Simpson/derivative oracles)
    val p33 = CrsTransform.utmParams(32633).get
    rows.foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = CrsTransform.forward(p33, lon, lat)
      val cc = math.floor((e - 430000.0) / 4000.0).toInt
      val rr = math.floor((5380000.0 - n) / 4000.0).toInt
      assert(b.toDouble == g(cc, rr),
        s"($lon, $lat) -> UTM ($e, $n) cell ($cc, $rr): got $b want ${g(cc, rr)}")
    }
    // windowed reads equal the single-window read (per-window boundary
    // sampling + clamping must agree across window offsets)
    val whole = Raster.raster2df(spark, Seq(mask, utm), colNames = Seq("m", "b"),
      resample = "nearest").orderBy("lat", "lon").collect().map(_.toSeq)
    val windowed = Raster.raster2df(spark, Seq(mask, utm), colNames = Seq("m", "b"),
      resample = "nearest", maxBlockSize = 3).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(windowed.sameElements(whole))
    // the REVERSE direction: a UTM mask samples a 4326 secondary via the
    // inverse transform; output keeps the mask's x/y naming
    def g2(c: Int, r: Int): Double = r * 100.0 + c
    val utmMask = TiffFixtures.writeBigTiff(s"$tmp/xcrs_utmmask.tif", 10, 8,
      v7, 500000.0, 5300000.0, 4000.0, Some("-9999"),
      geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val geoSec = TiffFixtures.writeBigTiff(s"$tmp/xcrs_geosec.tif", 20, 20, g2,
      14.5, 48.5, 0.1, None, geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val rev = Raster.raster2df(spark, Seq(utmMask, geoSec), colNames = Seq("m", "b"),
      resample = "nearest")
    assert(rev.columns.take(2).toSeq == Seq("x", "y"))
    rev.collect().foreach { row =>
      val (x, y, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (lon, lat) = CrsTransform.inverse(p33, x, y)
      val cc = math.floor((lon - 14.5) / 0.1).toInt
      val rr = math.floor((48.5 - lat) / 0.1).toInt
      assert(b.toDouble == g2(cc, rr),
        s"($x, $y) -> geo ($lon, $lat) cell ($cc, $rr): got $b want ${g2(cc, rr)}")
    }
    // calcArea still works on the geographic mask side of a cross-CRS zip
    // (the area column depends only on the MASK grid)
    val withArea = Raster.raster2df(spark, Seq(mask, utm), colNames = Seq("m", "b"),
      resample = "nearest", calcArea = true).collect()
    withArea.foreach { row =>
      assert(row.getDouble(4) == graft.functions.GeoMath.pixelAreaM2(
        row.getDouble(1), 0.5, 0.5))
    }
    // and stays typed-rejected when the MASK is the projected side
    val eArea = intercept[IllegalArgumentException] {
      Raster.raster2df(spark, Seq(utmMask, geoSec), colNames = Seq("m", "b"),
        resample = "nearest", calcArea = true).collect()
    }
    assert(eArea.getMessage.contains("geographic CRS"))
    // NAD83 family (round 15): a 4269 mask near zone 15's CM samples a
    // 26915 secondary through the GRS80 transform, row-checked the same way
    val nadMask = TiffFixtures.writeBigTiff(s"$tmp/xcrs_nadmask.tif", 10, 8, v7,
      -94.0, 47.0, 0.2, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4269))
    val nadUtm = TiffFixtures.writeBigTiff(s"$tmp/xcrs_nadutm.tif", 120, 120, g,
      350000.0, 5260000.0, 2000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 26915))
    val p15 = CrsTransform.utmParams(26915).get
    Raster.raster2df(spark, Seq(nadMask, nadUtm), colNames = Seq("m", "b"),
      resample = "nearest").collect().foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = CrsTransform.forward(p15, lon, lat)
      val cc = math.floor((e - 350000.0) / 2000.0).toInt
      val rr = math.floor((5260000.0 - n) / 2000.0).toInt
      assert(b.toDouble == g(cc, rr), s"NAD83 ($lon, $lat) cell ($cc, $rr): got $b")
    }
    // CROSS-DATUM pairs stay typed-rejected even under resample=nearest:
    // the WGS84 mask must not silently sample the NAD83 secondary
    val eDatum = intercept[Exception] {
      Raster.raster2df(spark, Seq(mask, nadUtm), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    // (rejects at the CRS-kind gate — geographic vs projected — whose
    // message teaches the supported same-datum set)
    assert(eDatum.getMessage.contains("CRS mismatch") &&
      eDatum.getMessage.contains("same-datum"))
    // and the PROJECTED×PROJECTED cross-datum twin rejects at the EPSG
    // gate with both codes named
    val wgsUtmTwin = TiffFixtures.writeBigTiff(s"$tmp/xcrs_wgstwin.tif", 120, 120, g,
      350000.0, 5260000.0, 2000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 32615))
    val eDatum2 = intercept[Exception] {
      Raster.raster2df(spark, Seq(wgsUtmTwin, nadUtm), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    assert(eDatum2.getMessage.contains("EPSG:32615") &&
      eDatum2.getMessage.contains("EPSG:26915") &&
      eDatum2.getMessage.contains("same-datum"))
  }

  test("conic cross-CRS resample (round 16): a 4269 mask samples an EPSG:5070 Albers secondary") {
    import graft.sources.tiff.CrsTransform
    val alb = CrsTransform.conicParams(5070).get
    // mask: NAD83 geographic 10×8 @ 0.2°, origin (-100°, 45°) — the NLCD
    // shape: a geographic AOI over a CONUS Albers land-cover product
    val mask = TiffFixtures.writeBigTiff(s"$tmp/alb_mask.tif", 10, 8, v7,
      -100.0, 45.0, 0.2, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4269))
    // secondary: EPSG:5070, 150×150 @ 4 km covering E [-500k, 100k],
    // N [2.1e6, 2.7e6] — a superset of the mask centroids' Albers images
    def g(c: Int, r: Int): Double = r * 1000.0 + c
    val sec = TiffFixtures.writeBigTiff(s"$tmp/alb_sec.tif", 150, 150, g,
      -500000.0, 2700000.0, 4000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 5070))
    val rows = Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "b"),
      resample = "nearest").collect()
    val expectValid = (0 until 8).flatMap(r => (0 until 10).map(c => (c, r)))
      .count { case (c, r) => v7(c, r) != -9999.0 }
    assert(rows.length == expectValid)
    // row check through the independently property-pinned Albers forward
    rows.foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = alb.fwd(lon, lat)
      val cc = math.floor((e - (-500000.0)) / 4000.0).toInt
      val rr = math.floor((2700000.0 - n) / 4000.0).toInt
      assert(b.toDouble == g(cc, rr),
        s"($lon, $lat) -> Albers ($e, $n) cell ($cc, $rr): got $b want ${g(cc, rr)}")
    }
    // windowed == single-window through the conic transform
    val whole = Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "b"),
      resample = "nearest").orderBy("lat", "lon").collect().map(_.toSeq)
    val windowed = Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "b"),
      resample = "nearest", maxBlockSize = 3).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(windowed.sameElements(whole))
    // LCC zone 3 secondary over a California-ish mask, same row-check shape
    val lcc = CrsTransform.conicParams(26943).get
    val caMask = TiffFixtures.writeBigTiff(s"$tmp/lcc_mask.tif", 10, 8, v7,
      -121.5, 38.2, 0.1, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4269))
    val lccSec = TiffFixtures.writeBigTiff(s"$tmp/lcc_sec.tif", 200, 200, g,
      1700000.0, 900000.0, 2000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 26943))
    Raster.raster2df(spark, Seq(caMask, lccSec), colNames = Seq("m", "b"),
      resample = "nearest").collect().foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = lcc.fwd(lon, lat)
      val cc = math.floor((e - 1700000.0) / 2000.0).toInt
      val rr = math.floor((900000.0 - n) / 2000.0).toInt
      assert(b.toDouble == g(cc, rr), s"LCC ($lon, $lat) cell ($cc, $rr): got $b")
    }
  }

  test("polar + web mercator cross-CRS resample (round 16): 4326 masks sample 3413 and 3857 secondaries") {
    import graft.sources.tiff.CrsTransform
    def g(c: Int, r: Int): Double = r * 1000.0 + c
    // Arctic mask: 4326, 10×8 @ 0.5°, origin (−50°, 78°N) — the sea-ice
    // shape: a geographic AOI over an NSIDC EPSG:3413 product. Centroid
    // images span x [−142.2k, −5.9k], y [−1716.6k, −1327.4k]
    val psMask = TiffFixtures.writeBigTiff(s"$tmp/ps_mask.tif", 10, 8, v7,
      -50.0, 78.0, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val psSec = TiffFixtures.writeBigTiff(s"$tmp/ps_sec.tif", 45, 110, g,
      -160000.0, -1300000.0, 4000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 3413))
    val ps = CrsTransform.polarWebParams(3413).get
    val psRows = Raster.raster2df(spark, Seq(psMask, psSec), colNames = Seq("m", "b"),
      resample = "nearest").collect()
    val expectValid = (0 until 8).flatMap(r => (0 until 10).map(c => (c, r)))
      .count { case (c, r) => v7(c, r) != -9999.0 }
    assert(psRows.length == expectValid)
    // row check through the independently pinned polar-stereo forward
    psRows.foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = ps.fwd(lon, lat)
      val cc = math.floor((e - (-160000.0)) / 4000.0).toInt
      val rr = math.floor((-1300000.0 - n) / 4000.0).toInt
      assert(b.toDouble == g(cc, rr),
        s"($lon, $lat) -> 3413 ($e, $n) cell ($cc, $rr): got $b want ${g(cc, rr)}")
    }
    // windowed == single-window through the polar transform
    val whole = Raster.raster2df(spark, Seq(psMask, psSec), colNames = Seq("m", "b"),
      resample = "nearest").orderBy("lat", "lon").collect().map(_.toSeq)
    val windowed = Raster.raster2df(spark, Seq(psMask, psSec), colNames = Seq("m", "b"),
      resample = "nearest", maxBlockSize = 3).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(windowed.sameElements(whole))
    // web mercator secondary under the mid-latitude mask (the basemap-tile
    // shape); same row-check through the pinned method-1024 forward
    val wmMask = TiffFixtures.writeBigTiff(s"$tmp/wm_mask.tif", 10, 8, v7,
      14.0, 48.5, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val wmSec = TiffFixtures.writeBigTiff(s"$tmp/wm_sec.tif", 120, 145, g,
      1550000.0, 6200000.0, 5000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 3857))
    val wm = CrsTransform.polarWebParams(3857).get
    val wmRows = Raster.raster2df(spark, Seq(wmMask, wmSec), colNames = Seq("m", "b"),
      resample = "nearest").collect()
    assert(wmRows.length == expectValid)
    wmRows.foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = wm.fwd(lon, lat)
      val cc = math.floor((e - 1550000.0) / 5000.0).toInt
      val rr = math.floor((6200000.0 - n) / 5000.0).toInt
      assert(b.toDouble == g(cc, rr),
        s"($lon, $lat) -> 3857 ($e, $n) cell ($cc, $rr): got $b want ${g(cc, rr)}")
    }
    // the reverse direction: a 3413 mask samples a 4326 secondary via the
    // pinned inverse; output keeps projected x/y naming
    def g2(c: Int, r: Int): Double = r * 100.0 + c
    val psM2 = TiffFixtures.writeBigTiff(s"$tmp/ps_mask2.tif", 10, 8, v7,
      -100000.0, -1400000.0, 4000.0, Some("-9999"),
      geoKeys = Seq(1024 -> 1, 3072 -> 3413))
    val geoSec2 = TiffFixtures.writeBigTiff(s"$tmp/ps_geosec.tif", 60, 30, g2,
      -52.0, 79.0, 0.1, None, geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val rev = Raster.raster2df(spark, Seq(psM2, geoSec2), colNames = Seq("m", "b"),
      resample = "nearest")
    assert(rev.columns.take(2).toSeq == Seq("x", "y"))
    rev.collect().foreach { row =>
      val (x, y, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (lon, lat) = ps.inv(x, y)
      val cc = math.floor((lon - (-52.0)) / 0.1).toInt
      val rr = math.floor((79.0 - lat) / 0.1).toInt
      assert(b.toDouble == g2(cc, rr),
        s"($x, $y) -> geo ($lon, $lat) cell ($cc, $rr): got $b want ${g2(cc, rr)}")
    }
  }

  test("LAEA cross-CRS resample (round 16): a 4258 mask samples an EPSG:3035 secondary; ETRS89 is datum-gated") {
    import graft.sources.tiff.CrsTransform
    val laea = CrsTransform.laeaParams(3035).get
    def g(c: Int, r: Int): Double = r * 1000.0 + c
    // ETRS89 mask 10×8 @ 0.2°, origin (8°, 53°N) — the CORINE shape: a
    // geographic AOI over the EU-standard LAEA land-cover grid
    val mask = TiffFixtures.writeBigTiff(s"$tmp/laea_mask.tif", 10, 8, v7,
      8.0, 53.0, 0.2, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4258))
    // secondary: EPSG:3035, 80×105 @ 2 km covering x [4.17e6, 4.33e6],
    // y [3.12e6, 3.33e6] — a superset of the mask centroids' images
    val sec = TiffFixtures.writeBigTiff(s"$tmp/laea_sec.tif", 80, 105, g,
      4170000.0, 3330000.0, 2000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 3035))
    val rows = Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "b"),
      resample = "nearest").collect()
    val expectValid = (0 until 8).flatMap(r => (0 until 10).map(c => (c, r)))
      .count { case (c, r) => v7(c, r) != -9999.0 }
    assert(rows.length == expectValid)
    rows.foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = laea.fwd(lon, lat)
      val cc = math.floor((e - 4170000.0) / 2000.0).toInt
      val rr = math.floor((3330000.0 - n) / 2000.0).toInt
      assert(b.toDouble == g(cc, rr),
        s"($lon, $lat) -> 3035 ($e, $n) cell ($cc, $rr): got $b want ${g(cc, rr)}")
    }
    // a WGS84 mask over the same secondary: cross-datum, rejected by
    // default; epsg1149 opts in (and the row check runs through the
    // bridge-then-LAEA composition); epsg1188 does NOT open the pair
    val wgsMask = TiffFixtures.writeBigTiff(s"$tmp/laea_wgs.tif", 10, 8, v7,
      8.0, 53.0, 0.2, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val eDef = intercept[Exception] {
      Raster.raster2df(spark, Seq(wgsMask, sec), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    assert(eDef.getMessage.contains("same-datum") ||
      eDef.getMessage.contains("datumBridge"), eDef.getMessage)
    val eWrongVal = intercept[Exception] {
      Raster.raster2df(spark, Seq(wgsMask, sec), colNames = Seq("m", "b"),
        resample = "nearest", datumBridge = "epsg1188").collect()
    }
    assert(eWrongVal.getMessage.contains("EPSG"), eWrongVal.getMessage)
    val t = CrsTransform.between(4326, 3035, datumBridge = "epsg1149").get
    Raster.raster2df(spark, Seq(wgsMask, sec), colNames = Seq("m", "b"),
      resample = "nearest", datumBridge = "epsg1149").collect().foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = t(lon, lat)
      val cc = math.floor((e - 4170000.0) / 2000.0).toInt
      val rr = math.floor((3330000.0 - n) / 2000.0).toInt
      assert(b.toDouble == g(cc, rr), s"bridged ($lon, $lat) cell ($cc, $rr): got $b")
    }
    // NAD83 x ETRS89 (shared GRS80 constants, different datums): rejected
    // under BOTH bridge values — neither names the pair
    val nadMask = TiffFixtures.writeBigTiff(s"$tmp/laea_nad.tif", 10, 8, v7,
      8.0, 53.0, 0.2, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4269))
    for (bridge <- Seq("", "epsg1188", "epsg1149")) {
      val eNad = intercept[Exception] {
        Raster.raster2df(spark, Seq(nadMask, sec), colNames = Seq("m", "b"),
          resample = "nearest", datumBridge = bridge).collect()
      }
      assert(eNad.getMessage.contains("EPSG") || eNad.getMessage.contains("same-datum"),
        s"bridge='$bridge': ${eNad.getMessage}")
    }
  }

  test("datumBridge=epsg1188 (round 16): opt-in NAD83<->WGS84 zip, default stays rejected") {
    import graft.sources.tiff.CrsTransform
    // a WGS84 mask over the same NAD83 Albers secondary as above
    val mask = TiffFixtures.writeBigTiff(s"$tmp/br_mask.tif", 10, 8, v7,
      -100.0, 45.0, 0.2, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    def g(c: Int, r: Int): Double = r * 1000.0 + c
    val sec = TiffFixtures.writeBigTiff(s"$tmp/br_sec.tif", 150, 150, g,
      -500000.0, 2700000.0, 4000.0, None, geoKeys = Seq(1024 -> 1, 3072 -> 5070))
    // default: typed rejection whose message NAMES the opt-in option
    val eDef = intercept[Exception] {
      Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    assert(eDef.getMessage.contains("datumBridge=epsg1188"), eDef.getMessage)
    // opted in: samples through bridge-then-Albers, row-checked
    val t = CrsTransform.between(4326, 5070, datumBridge = "epsg1188").get
    val rows = Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "b"),
      resample = "nearest", datumBridge = "epsg1188").collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val (lon, lat, b) = (row.getDouble(0), row.getDouble(1), row.getFloat(3))
      val (e, n) = t(lon, lat)
      val cc = math.floor((e - (-500000.0)) / 4000.0).toInt
      val rr = math.floor((2700000.0 - n) / 4000.0).toInt
      assert(b.toDouble == g(cc, rr), s"bridged ($lon, $lat) cell ($cc, $rr): got $b")
    }
    // the option does NOT open unsupported pairs: an ETRS89 LAEA secondary
    // still rejects even with the bridge requested (round 16 moved this pin
    // off 3857, which is now a supported WGS84 projection)
    val laeaSec = TiffFixtures.writeBigTiff(s"$tmp/br_laea.tif", 20, 16,
      (c, r) => 1.0, -11000000.0, 5700000.0, 30.0, None,
      geoKeys = Seq(1024 -> 1, 3072 -> 3035))
    val eLaea = intercept[Exception] {
      Raster.raster2df(spark, Seq(mask, laeaSec), colNames = Seq("m", "b"),
        resample = "nearest", datumBridge = "epsg1188").collect()
    }
    assert(eLaea.getMessage.contains("EPSG:3035") ||
      eLaea.getMessage.contains("model type"))
    // an unknown bridge value is rejected at the option boundary, naming
    // the one supported bridge
    val eVal = intercept[Exception] {
      Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "b"),
        resample = "nearest", datumBridge = "helmert").collect()
    }
    assert(eVal.getMessage.contains("epsg1188"), eVal.getMessage)
  }

  test("TM meridian guard surfaces at planning (round 16): wide-of-zone pairing fails loudly") {
    // mask at lon 27..32 — 12–17° east of zone 33's central meridian (15°):
    // the coverage gate's first boundary sample trips the Δλ guard, so the
    // job fails at PLANNING with the typed message, not mid-scan with
    // silently degraded coordinates
    val mask = TiffFixtures.writeBigTiff(s"$tmp/mg_mask.tif", 10, 8, v7,
      27.0, 46.0, 0.5, Some("-9999"), geoKeys = Seq(1024 -> 2, 2048 -> 4326))
    val utm = TiffFixtures.writeBigTiff(s"$tmp/mg_utm.tif", 100, 100,
      (c, r) => 1.0, 400000.0, 5200000.0, 8000.0, None,
      geoKeys = Seq(1024 -> 1, 3072 -> 32633))
    val e = intercept[Exception] {
      Raster.raster2df(spark, Seq(mask, utm), colNames = Seq("m", "b"),
        resample = "nearest").collect()
    }
    assert(e.getMessage.contains("central meridian"), e.getMessage)
  }

  test("flipped-axis ModelTransformation stays rejected with its own typed message") {
    val flip = Array[Double](
      0.5, 0.0, 0.0, 10.0,
      0.0, 0.5, 0.0, 50.0,
      0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 1.0)
    val pf = TiffFixtures.writeBigTiff(s"$tmp/mt_flip.tif", 10, 8, v7,
      10.0, 50.0, 0.5, Some("-9999"), modelTransform = flip)
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.read(pf)
    }
    assert(e2.getMessage.contains("flipped axes"))
  }

  test("a file with neither the pixel-scale pair nor 34264 names both options") {
    // strip the geo tags by writing a transform fixture, then zeroing its
    // 34264 tag id so the parser sees no grid source at all
    val p = TiffFixtures.writeBigTiff(s"$tmp/mt_none.tif", 4, 4,
      (c, r) => 1.0, 0.0, 10.0, 0.5, None, modelTransform = Array[Double](
        0.5, 0, 0, 0, 0, -0.5, 0, 10, 0, 0, 0, 0, 0, 0, 0, 1))
    val bad = TiffFixtures.patchIfd0(p, s"$tmp/mt_none_stripped.tif") { (bb, ifd) =>
      bb.putShort(ifd.entry(34264), 60000.toShort)
    }
    val e = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.read(bad)
    }
    assert(e.getMessage.contains("33550") && e.getMessage.contains("34264"))
  }

  // ---- ZSTD (compression 50000) ----

  test("ZSTD BigTIFF (stripped and tiled) == DEFLATE twin on the same pixels") {
    def vz(c: Int, r: Int): Double =
      if ((c * 31 + r * 17) % 11 == 0) -1.0 else ((c * 7 + r * 3) % 250).toDouble
    val deflS = TiffFixtures.writeBigTiff(s"$tmp/z_defl.tif", 64, 48, vz,
      0.0, 20.0, 0.25, Some("-1"), rowsPerStrip = 7, compression = 8,
      dtype = TiffFixtures.U8, predictor = 2)
    val a = Raster.raster2df(spark, Seq(deflS)).orderBy("lat", "lon").collect().map(_.toSeq)
    for (classic <- Seq(false, true)) {
      val zstdS = TiffFixtures.writeBigTiff(s"$tmp/z_zstd_$classic.tif", 64, 48, vz,
        0.0, 20.0, 0.25, Some("-1"), rowsPerStrip = 7, compression = 50000,
        dtype = TiffFixtures.U8, predictor = 2, classic = classic)
      val m = graft.sources.tiff.TiffTags.read(zstdS)
      assert(m.compression == 50000 && m.bigTiff == !classic)
      val b = Raster.raster2df(spark, Seq(zstdS)).orderBy("lat", "lon").collect().map(_.toSeq)
      assert(a.nonEmpty && a.sameElements(b), s"classic=$classic")
    }
    // tiled (the actual GDAL ZSTD COG shape), f32 + predictor 3
    def vf(c: Int, r: Int): Double =
      if ((r + c) % 9 == 0) -9999.0 else math.sin(c * 0.37) * 100 + r
    val deflT = TiffFixtures.writeBigTiffTiled(s"$tmp/zt_defl.tif", 70, 50, vf,
      0.0, 20.0, 0.25, Some("-9999"), tileWidth = 32, tileLength = 16,
      compression = 8, predictor = 3)
    val zstdT = TiffFixtures.writeBigTiffTiled(s"$tmp/zt_zstd.tif", 70, 50, vf,
      0.0, 20.0, 0.25, Some("-9999"), tileWidth = 32, tileLength = 16,
      compression = 50000, predictor = 3)
    val at = Raster.raster2df(spark, Seq(deflT)).orderBy("lat", "lon").collect().map(_.toSeq)
    val bt = Raster.raster2df(spark, Seq(zstdT)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(at.nonEmpty && at.sameElements(bt))
  }

  test("LZMA BigTIFF (round 16, stripped and tiled) == DEFLATE twin; alone-format sniffed") {
    def vz(c: Int, r: Int): Double =
      if ((c * 31 + r * 17) % 11 == 0) -1.0 else ((c * 7 + r * 3) % 250).toDouble
    val deflS = TiffFixtures.writeBigTiff(s"$tmp/lz_defl.tif", 64, 48, vz,
      0.0, 20.0, 0.25, Some("-1"), rowsPerStrip = 7, compression = 8,
      dtype = TiffFixtures.U8, predictor = 2)
    val a = Raster.raster2df(spark, Seq(deflS)).orderBy("lat", "lon").collect().map(_.toSeq)
    for (classic <- Seq(false, true)) {
      val lzmaS = TiffFixtures.writeBigTiff(s"$tmp/lz_lzma_$classic.tif", 64, 48, vz,
        0.0, 20.0, 0.25, Some("-1"), rowsPerStrip = 7, compression = 34925,
        dtype = TiffFixtures.U8, predictor = 2, classic = classic)
      val m = graft.sources.tiff.TiffTags.read(lzmaS)
      assert(m.compression == 34925 && m.bigTiff == !classic)
      val b = Raster.raster2df(spark, Seq(lzmaS)).orderBy("lat", "lon").collect().map(_.toSeq)
      assert(a.nonEmpty && a.sameElements(b), s"classic=$classic")
    }
    // the legacy header-less .lzma "alone" chunk layout decodes through the
    // format sniff to the identical table
    val aloneS = TiffFixtures.writeBigTiff(s"$tmp/lz_alone.tif", 64, 48, vz,
      0.0, 20.0, 0.25, Some("-1"), rowsPerStrip = 7, compression = 34925,
      dtype = TiffFixtures.U8, predictor = 2, lzmaAlone = true)
    val c = Raster.raster2df(spark, Seq(aloneS)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(a.sameElements(c))
    // tiled (the GDAL COMPRESS=LZMA COG shape), f32 + predictor 3
    def vf(c: Int, r: Int): Double =
      if ((r + c) % 9 == 0) -9999.0 else math.sin(c * 0.37) * 100 + r
    val deflT = TiffFixtures.writeBigTiffTiled(s"$tmp/lzt_defl.tif", 70, 50, vf,
      0.0, 20.0, 0.25, Some("-9999"), tileWidth = 32, tileLength = 16,
      compression = 8, predictor = 3)
    val lzmaT = TiffFixtures.writeBigTiffTiled(s"$tmp/lzt_lzma.tif", 70, 50, vf,
      0.0, 20.0, 0.25, Some("-9999"), tileWidth = 32, tileLength = 16,
      compression = 34925, predictor = 3)
    val at = Raster.raster2df(spark, Seq(deflT)).orderBy("lat", "lon").collect().map(_.toSeq)
    val bt = Raster.raster2df(spark, Seq(lzmaT)).orderBy("lat", "lon").collect().map(_.toSeq)
    assert(at.nonEmpty && at.sameElements(bt))
  }

  // ---- JPEG-in-TIFF (compression 7, TIFF TechNote 2) ----

  test("tiled JPEG BigTIFF decodes; shared-JPEGTables twin == full-stream twin") {
    // uniform gray per tile: DC-only blocks at max quality round-trip the
    // JDK encoder/decoder exactly, so values are assertable, not just
    // self-consistent
    def vg(c: Int, r: Int): Double = (((r / 16) * 5 + (c / 16)) * 37 % 255 + 1).toDouble
    val full = TiffFixtures.writeBigTiffTiled(s"$tmp/jpeg_full.tif", 70, 50, vg,
      0.0, 20.0, 0.25, Some("0"), tileWidth = 16, tileLength = 16,
      dtype = TiffFixtures.U8, compression = 7)
    val shared = TiffFixtures.writeBigTiffTiled(s"$tmp/jpeg_tabs.tif", 70, 50, vg,
      0.0, 20.0, 0.25, Some("0"), tileWidth = 16, tileLength = 16,
      dtype = TiffFixtures.U8, compression = 7, jpegTablesShared = true)
    val mF = graft.sources.tiff.TiffTags.read(full)
    val mS = graft.sources.tiff.TiffTags.read(shared)
    assert(mF.compression == 7 && mF.jpegTables.isEmpty)
    assert(mS.compression == 7 && mS.jpegTables.nonEmpty)
    // the shared layout is strictly smaller on disk (tables stored once)
    assert(new java.io.File(shared).length < new java.io.File(full).length)
    val a = Raster.raster2df(spark, Seq(full)).orderBy("lat", "lon").collect()
    val b = Raster.raster2df(spark, Seq(shared)).orderBy("lat", "lon").collect()
    assert(a.nonEmpty && a.map(_.toSeq).sameElements(b.map(_.toSeq)))
    // exact values: pixel (c, r) carries its tile's gray
    a.foreach { row =>
      val c = ((row.getDouble(0) - 0.0) / 0.25 - 0.5).round.toInt
      val r = ((20.0 - row.getDouble(1)) / 0.25 - 0.5).round.toInt
      assert(row.getShort(2).toDouble == vg(c, r), s"pixel ($c,$r)")
    }
    // multi-window == single-window across tile boundaries
    val one = Raster.raster2df(spark, Seq(shared), maxBlockSize = 4096)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    val many = Raster.raster2df(spark, Seq(shared), maxBlockSize = 24)
      .orderBy("lat", "lon").collect().map(_.toSeq)
    assert(one.sameElements(many))
  }

  test("JPEG-in-TIFF typed rejections: sample width, predictor, planar, photometric") {
    // patch helper: flip one SHORT tag value of a little-endian BigTIFF
    def patched(src: String, dst: String, tag: Int, value: Short): String =
      TiffFixtures.patchIfd0(src, dst)((bb, ifd) => bb.putShort(ifd.valuePos(tag), value))
    def rejectMsg(p: String): String =
      intercept[IllegalArgumentException] { graft.sources.tiff.TiffTags.read(p) }.getMessage
    val good = TiffFixtures.writeBigTiffTiled(s"$tmp/jpeg_ok.tif", 16, 16,
      (c, r) => 100.0, 0.0, 20.0, 0.25, None, tileWidth = 16, tileLength = 16,
      dtype = TiffFixtures.U8, compression = 7)
    // 16-bit JPEG is malformed
    assert(rejectMsg(patched(good, s"$tmp/jpeg_bad16.tif", 258, 16))
      .contains("JPEG-in-TIFF requires 8-bit"))
    // predictor over a transform codec is malformed: take a DEFLATE +
    // predictor-2 twin and flip its compression to 7
    val defl2 = TiffFixtures.writeBigTiffTiled(s"$tmp/jpeg_pred_src.tif", 16, 16,
      (c, r) => 100.0, 0.0, 20.0, 0.25, None, tileWidth = 16, tileLength = 16,
      dtype = TiffFixtures.U8, compression = 8, predictor = 2)
    assert(rejectMsg(patched(defl2, s"$tmp/jpeg_pred.tif", 259, 7))
      .contains("predictor 2 over JPEG chunks is malformed"))
    // planar JPEG is unsupported: planar DEFLATE twin, compression flipped
    val planar = TiffFixtures.writeBigTiffTiled(s"$tmp/jpeg_planar_src.tif", 16, 16,
      null, 0.0, 20.0, 0.25, None, tileWidth = 16, tileLength = 16,
      dtype = TiffFixtures.U8, compression = 8, spp = 3,
      bandValue = (b, c, r) => (b * 10 + c) % 200, planar = true)
    assert(rejectMsg(patched(planar, s"$tmp/jpeg_planar.tif", 259, 7))
      .contains("JPEG-in-TIFF planar layout unsupported"))
    // separated/CMYK photometric would decode to garbage: inject 262 = 5
    // by repurposing the SampleFormat tag id? no — patch the photometric
    // via the predictor-free good fixture's Compression... the fixture
    // writes no 262 tag, so patch an EXISTING short tag id to 262 with
    // value 5: flip tag id 339 (SampleFormat, count 1 here) to 262 and its
    // value to 5 — the resulting IFD is a legal JPEG TIFF declaring CMYK
    def photometric(dst: String, value: Short): String =
      TiffFixtures.patchIfd0(good, dst) { (bb, ifd) =>
        bb.putShort(ifd.valuePos(339), value); bb.putShort(ifd.entry(339), 262.toShort)
      }
    assert(rejectMsg(photometric(s"$tmp/jpeg_cmyk.tif", 5))
      .contains("PhotometricInterpretation 5 unsupported"))
    // RGB-stored (photometric 2) rejects too: the JDK decoder infers the
    // colorspace from the stream (3 components, no Adobe marker → assumed
    // YCbCr) and would apply a spurious inverse transform to stored RGB —
    // the round-13 advice finding. Same patch trick, value 2.
    val m2 = rejectMsg(photometric(s"$tmp/jpeg_rgb_stored.tif", 2))
    assert(m2.contains("PhotometricInterpretation 2 unsupported") &&
      m2.contains("spurious"))
  }

  // ---- overview partial geo tags; chunk-size overflow guard ----

  test("an overview IFD carrying only one of the geo-tag pair is rejected, not inherited past") {
    val p = TiffFixtures.writeBigTiffOverviews(s"$tmp/ovr_partial.tif", 16, 12,
      (k, c, r) => (k * 50 + c + r).toDouble, 0.0, 10.0, 0.5, None,
      levels = 2, dtype = TiffFixtures.U8, partialGeoLevel = 1)
    // IFD0 and the untouched level still read
    assert(graft.sources.tiff.TiffTags.read(p).width == 16)
    assert(graft.sources.tiff.TiffTags.readOverview(p, 2).width == 4)
    val e = intercept[IllegalArgumentException] {
      graft.sources.tiff.TiffTags.readOverview(p, 1)
    }
    assert(e.getMessage.contains("ModelPixelScale (33550) but no ModelTiepoint"))
    assert(e.getMessage.contains("overview IFD 1"))
  }

  test("chunk/window buffers past 2 GiB fail with the typed size error") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.tiff.StripDecode.checkedSize("big.tif", "strip 0 decode buffer",
        3L * 1024 * 1024 * 1024)
    }
    assert(e.getMessage.contains("exceeds the 2 GiB"))
    assert(e.getMessage.contains("big.tif"))
    // boundary: Int.MaxValue itself is accepted
    assert(graft.sources.tiff.StripDecode.checkedSize("f", "w", Int.MaxValue.toLong) == Int.MaxValue)
  }

  test("hostile tag and IFD entry counts fail with a typed error, never an OOM") {
    def rejects(p: String, what: String): Unit = {
      val e = intercept[IllegalArgumentException](graft.sources.tiff.TiffTags.read(p))
      assert(e.getMessage.contains(what), e.getMessage)
    }
    for (classic <- Seq(false, true)) {
      val src = TiffFixtures.writeBigTiff(s"$tmp/hostile_$classic.tif", 8, 8,
        (c, r) => (c + r).toDouble, 0.0, 4.0, 0.5, None, rowsPerStrip = 2, classic = classic)
      def setCount(tag: Int, n: Long)(bb: java.nio.ByteBuffer, ifd: TiffFixtures.Ifd0): Unit =
        if (ifd.bigTiff) bb.putLong(ifd.countPos(tag), n) else bb.putInt(ifd.countPos(tag), n.toInt)
      // 2^30 offsets (4 or 8 GiB of values in a file of a few hundred
      // bytes): a payload size multiplied in Int wraps to 0, reads as an
      // inline value and allocates 2^30 longs
      rejects(TiffFixtures.patchIfd0(src, s"$tmp/hostile_so_$classic.tif")(
        setCount(273, 1L << 30)), "tag 273")
      // the same wrap through the DOUBLE path (2^29 x 8 bytes = 2^32)
      rejects(TiffFixtures.patchIfd0(src, s"$tmp/hostile_ps_$classic.tif")(
        setCount(33550, 1L << 29)), "tag 33550")
      // IFD entry count: BigTIFF 2^31 - 1 entries overflows n * 20 to a
      // negative array size; classic 0xFFFF entries run past the file end
      rejects(TiffFixtures.patchIfd0(src, s"$tmp/hostile_n_$classic.tif") { (bb, ifd) =>
        if (ifd.bigTiff) bb.putLong(ifd.at, Int.MaxValue.toLong)
        else bb.putShort(ifd.at, 0xffff.toShort)
      }, "entries")
      // an IFD offset past the end of the file
      rejects(TiffFixtures.patchIfd0(src, s"$tmp/hostile_at_$classic.tif") { (bb, ifd) =>
        if (ifd.bigTiff) bb.putLong(8, 1L << 40) else bb.putInt(4, Int.MaxValue)
      }, "outside")
      // RowsPerStrip 0 would divide by zero when counting strips
      rejects(TiffFixtures.patchIfd0(src, s"$tmp/hostile_rps_$classic.tif") { (bb, ifd) =>
        bb.putInt(ifd.valuePos(278), 0)
      }, "RowsPerStrip")
      // chunk extents: an offset or byte count that runs past the end of
      // the file fails at planning, not as a 2 GiB allocation or an EOF in
      // a task. Strips (hand-written) and tiles (hand-written BigTIFF, JDK
      // writer classic), uncompressed (implied size) and DEFLATE (byte count)
      val deflated = TiffFixtures.writeBigTiff(s"$tmp/hostile_z_$classic.tif", 8, 8,
        (c, r) => (c + r).toDouble, 0.0, 4.0, 0.5, None, rowsPerStrip = 2, compression = 8,
        classic = classic)
      def tiled(codec: Int): String =
        if (classic) TiffFixtures.write(s"$tmp/hostile_t${codec}_$classic.tif", 40, 28,
          TiffFixtures.F32, (c, r) => (c + r).toDouble, 0.0, 4.0, 0.5, None, tileSize = 16,
          compressionType = if (codec == 1) null else "Deflate")
        else TiffFixtures.writeBigTiffTiled(s"$tmp/hostile_t${codec}_$classic.tif", 40, 28,
          (c, r) => (c + r).toDouble, 0.0, 4.0, 0.5, None, 16, 16, compression = codec)
      val (raw, zipped) = (tiled(1), tiled(8))
      def fileLen(p: String): Long = new java.io.File(p).length()
      for ((name, p, tag, chunk, v) <- Seq(
          // the last strip (2 rows) starts 8 bytes before the end of the file
          ("so_eof", src, 273, 3, fileLen(src) - 8),
          // an offset past the end: unsigned 2^32 - 16 classic, negative BigTIFF
          ("so_neg", src, 273, 0, if (classic) 0xfffffff0L else -16L),
          // a byte count of 2e9 would allocate 2 GB in a task
          ("sbc_2g", deflated, 279, 1, 2000000000L),
          ("to_eof", raw, 324, 5, fileLen(raw) - 16),
          ("tbc_2g", zipped, 325, 2, 2000000000L))) {
        rejects(TiffFixtures.patchIfd0(p, s"$tmp/hostile_${name}_$classic.tif")(
          TiffFixtures.setChunk(tag, chunk, v)), "outside")
      }
    }
  }

  test("classic ImageIO-written fixtures read identically to an ImageIO region read") {
    // ImageIO stays in the tests as the reference decoder: every classic
    // layout, codec and sample type the JDK TIFF writer can produce must
    // read through the chunk reader exactly as an ImageIO region read of
    // the same window returns it, with windows that split strips and tiles
    import javax.imageio.ImageIO
    val (w, h, block) = (40, 28, 13)
    type Pixels = Map[(Int, Int), Seq[Double]]
    def oracle(p: String, image: Int, nBands: Int, nd: Option[Double]): Pixels = {
      val reader = ImageIO.getImageReadersByFormatName("tiff").next()
      val iis = ImageIO.createImageInputStream(new java.io.File(p))
      try {
        reader.setInput(iis)
        val (iw, ih) = (reader.getWidth(image), reader.getHeight(image))
        (for (r0 <- 0 until ih by block; c0 <- 0 until iw by block) yield {
          val (rw, rh) = (math.min(block, iw - c0), math.min(block, ih - r0))
          val param = reader.getDefaultReadParam
          param.setSourceRegion(new java.awt.Rectangle(c0, r0, rw, rh))
          val ras = reader.read(image, param).getRaster
          for (y <- 0 until rh; x <- 0 until rw)
            yield (c0 + x, r0 + y) -> (0 until nBands).map(b => ras.getSampleDouble(x, y, b))
        }).flatten.filterNot { case (_, v) => nd.contains(v.head) }.toMap
      } finally { reader.dispose(); iis.close() }
    }
    def scanned(m: graft.sources.tiff.TiffTags.RasterMeta, nBands: Int, overview: Int): Pixels =
      Raster.raster2df(spark, Seq.fill(nBands)(m.path), colNames = (1 to nBands).map(b => s"b$b"),
        bands = 1 to nBands, maxBlockSize = block, overview = overview).collect().map { row =>
        val c = math.round((row.getDouble(0) - m.originX) / m.pixelScaleX - 0.5).toInt
        val r = math.round((m.originY - row.getDouble(1)) / m.pixelScaleY - 0.5).toInt
        (c, r) -> (2 until 2 + nBands).map(i => row.get(i).asInstanceOf[Number].doubleValue)
      }.toMap
    def sameAsOracle(p: String, nBands: Int, nd: Option[Double], overview: Int = 0,
        code: Int = 1, tile: Int = 0): Unit = {
      val m = graft.sources.tiff.TiffTags.readOverview(p, overview)
      assert(!m.bigTiff && m.compression == code && m.tileWidth == tile,
        s"$p: compression ${m.compression}, tile width ${m.tileWidth}")
      val want = oracle(p, overview, nBands, nd)
      val got = scanned(m, nBands, overview)
      val differ = (want.keySet ++ got.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
      val nDiffer = differ.size
      assert(want.nonEmpty)
      assert(nDiffer == 0, s"pixels differ in $p overview $overview, first: " +
        differ.take(3).map(k => s"$k read ${got.get(k)}, ImageIO ${want.get(k)}").mkString("; "))
    }
    def value(dtype: TiffFixtures.Dtype)(c: Int, r: Int): Double = dtype match {
      case TiffFixtures.U8 => (c * 7 + r * 13) % 256
      case TiffFixtures.S16 => if ((c + r) % 7 == 0) -9999 else c * 331 - r * 97 - 5000
      case TiffFixtures.F32 =>
        if ((c + r) % 7 == 0) -9999.0 else math.sin(c * 0.37) * 1000.0 + r * 2.25
      case d => throw new IllegalArgumentException(s"no ImageIO oracle for $d")
    }
    // JDK writer compression type name (null = none) -> its tag value
    val codecs = Seq[(String, Int)]((null, 1), ("LZW", 5), ("Deflate", 32946),
      ("PackBits", 32773), ("JPEG", 7))
    for (tile <- Seq(0, 16); (codec, code) <- codecs) {
      val tag = s"${if (tile > 0) "tiled" else "strips"}_${Option(codec).getOrElse("none")}"
      // JPEG carries 8-bit samples only
      val dtypes = if (codec == "JPEG") Seq(TiffFixtures.U8)
        else Seq(TiffFixtures.U8, TiffFixtures.S16, TiffFixtures.F32)
      for (dtype <- dtypes) {
        val nd = if (dtype == TiffFixtures.U8) None else Some("-9999")
        val p = TiffFixtures.write(s"$tmp/oracle_${tag}_$dtype.tif", w, h, dtype, value(dtype),
          2.0, 30.0, 0.5, nd, tileSize = tile, compressionType = codec)
        sameAsOracle(p, 1, nd.map(_.toDouble), code = code, tile = tile)
      }
      val rgb = TiffFixtures.writeRGB(s"$tmp/oracle_${tag}_rgb.tif", w, h,
        (b, c, r) => (b * 60 + c * 5 + r * 3) % 256, 2.0, 30.0, 0.5,
        tileSize = tile, compressionType = codec)
      sameAsOracle(rgb, 3, None, code = code, tile = tile)
    }
    val ovr = TiffFixtures.writeClassicOverviews(s"$tmp/oracle_ovr.tif", w, h,
      (k, c, r) => (k * 50 + c * 3 + r) % 251, 2.0, 30.0, 0.5, Some("0"), levels = 2)
    for (k <- 0 to 2) sameAsOracle(ovr, 1, Some(0.0), overview = k)
  }

  test("sparse chunks (offset 0, byte count 0) read as NoData in every layout and codec") {
    val (w, h, nd, secNd) = (40, 28, -9999.0, -7.0)
    def maskV(c: Int, r: Int): Double = if ((c * 7 + r * 3) % 11 == 0) nd else c * 0.5 + r
    def secV(c: Int, r: Int): Double = (c * 13 + r * 5) % 300 - 150.0
    def rows(paths: Seq[String], block: Int): Seq[String] =
      Raster.raster2df(spark, paths, maxBlockSize = block).collect().map(_.toString).toSeq.sorted
    // stripped (4-row strips, classic and BigTIFF) and tiled (16x16),
    // uncompressed and DEFLATE: mask chunk 2 and secondary chunk 4 sparse
    for (tiled <- Seq(false, true); classic <- Seq(true, false) if !(tiled && classic);
         codec <- Seq(1, 8)) {
      val tag = s"${if (tiled) "t" else "s"}${if (classic) "c" else "b"}$codec"
      def inChunk(k: Int)(c: Int, r: Int): Boolean =
        if (tiled) r / 16 == k / 3 && c / 16 == k % 3 else r / 4 == k
      def raster(name: String, v: (Int, Int) => Double, noData: Option[Double],
          dtype: TiffFixtures.Dtype): String = {
        val p = s"$tmp/sparse_${name}_$tag.tif"
        val ndText = noData.map(d => s"${d.toInt}")
        if (tiled) TiffFixtures.writeBigTiffTiled(p, w, h, v, 10.0, 50.0, 0.01, ndText, 16, 16,
          dtype = dtype, compression = codec)
        else TiffFixtures.writeBigTiff(p, w, h, v, 10.0, 50.0, 0.01, ndText, rowsPerStrip = 4,
          dtype = dtype, compression = codec, classic = classic)
      }
      def sparsed(p: String, k: Int): String =
        TiffFixtures.sparse(p, p.replace(".tif", "_sparse.tif"), tiled, Seq(k))
      val inMask = inChunk(2) _
      val inSec = inChunk(4) _
      val mask = raster("mask", maskV, Some(nd), TiffFixtures.F32)
      val sec = raster("sec", secV, Some(secNd), TiffFixtures.S16)
      val secBare = raster("secbare", secV, None, TiffFixtures.S16)
      // oracles: the same rasters written densely with NoData (0 without
      // one) over the sparse chunk
      val maskOracle = raster("mask_o", (c, r) => if (inMask(c, r)) nd else maskV(c, r),
        Some(nd), TiffFixtures.F32)
      val secOracle = raster("sec_o", (c, r) => if (inSec(c, r)) secNd else secV(c, r),
        Some(secNd), TiffFixtures.S16)
      val secBareOracle = raster("secbare_o", (c, r) => if (inSec(c, r)) 0.0 else secV(c, r),
        None, TiffFixtures.S16)
      for (block <- Seq(7, 64)) {
        val got = rows(Seq(sparsed(mask, 2), sparsed(sec, 4), sparsed(secBare, 4)), block)
        assert(got == rows(Seq(maskOracle, secOracle, secBareOracle), block), s"$tag block $block")
        assert(got.size < rows(Seq(mask, sec, secBare), block).size, tag)
      }
      // a mask without NoData: its sparse chunk's pixels emit no row
      val bare = raster("maskbare", (c, r) => c * 0.5 + r, None, TiffFixtures.F32)
      val n = Raster.raster2df(spark, Seq(sparsed(bare, 2)), maxBlockSize = 7).count()
      val chunkPixels = (for (r <- 0 until h; c <- 0 until w if inMask(c, r)) yield 1).size
      assert(chunkPixels > 0 && n == w * h - chunkPixels, s"$tag: $n rows")
    }
  }

  test("a chunk at offset 0 that is not sparse, and a short uncompressed byte count, fail at planning") {
    def rejects(p: String, what: String): Unit = {
      val e = intercept[IllegalArgumentException](Raster.raster2df(spark, Seq(p)).count())
      assert(e.getMessage.contains(what), e.getMessage)
    }
    val v = (c: Int, r: Int) => (c + r).toDouble
    for (codec <- Seq(1, 8)) {
      val strips = TiffFixtures.writeBigTiff(s"$tmp/off0_s$codec.tif", 8, 8, v, 0.0, 4.0, 0.5,
        None, rowsPerStrip = 2, compression = codec, classic = true)
      val tiles = TiffFixtures.writeBigTiffTiled(s"$tmp/off0_t$codec.tif", 40, 28, v, 0.0, 4.0,
        0.5, None, 16, 16, compression = codec)
      rejects(TiffFixtures.patchIfd0(strips, s"$tmp/off0_s${codec}_p.tif")(
        TiffFixtures.setChunk(273, 1, 0L)), "offset 0")
      rejects(TiffFixtures.patchIfd0(tiles, s"$tmp/off0_t${codec}_p.tif")(
        TiffFixtures.setChunk(324, 3, 0L)), "offset 0")
    }
    // uncompressed strips of 2 x 8 f32 pixels take 64 bytes; tiles 1 KiB
    val strips = TiffFixtures.writeBigTiff(s"$tmp/short_s.tif", 8, 8, v, 0.0, 4.0, 0.5,
      None, rowsPerStrip = 2, classic = true)
    rejects(TiffFixtures.patchIfd0(strips, s"$tmp/short_s_p.tif")(
      TiffFixtures.setChunk(279, 2, 63L)), "short of the 64 bytes")
    val tiles = TiffFixtures.writeBigTiffTiled(s"$tmp/short_t.tif", 40, 28, v, 0.0, 4.0, 0.5,
      None, 16, 16)
    rejects(TiffFixtures.patchIfd0(tiles, s"$tmp/short_t_p.tif")(
      TiffFixtures.setChunk(325, 5, 1000L)), "short of the 1024 bytes")
  }

  // ---- the columnar reader -------------------------------------------------

  private def scanOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.datasources.v2.BatchScanExec = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    scans.head
  }

  test("raster2df plans a columnar BatchScanExec with no row-to-unsafe ProjectExec over it") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, ProjectExec}
    val df = Raster.raster2df(spark, Seq(f32, u8), calcArea = true)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scan = scanOf(df)
    assert(scan.supportsColumnar, plan.toString)
    assert(plan.collect { case c: ColumnarToRowExec => c }.size == 1, plan.toString)
    assert(plan.collect { case p: ProjectExec => p }.isEmpty, plan.toString)
    // no row reader is kept beside the columnar one
    intercept[UnsupportedOperationException](
      scan.readerFactory.createReader(scan.inputPartitions.head))
  }

  test("a window of more than 4,096 valid pixels batches its rows in order across NoData and sparse runs") {
    import graft.sources.tiff.TiffTags
    // one 128 x 136 window in 4-row strips. Valid pixels per row: 96 in
    // row 0, 32 in row 64, 64 in every other row (a NoData checkerboard),
    // none in the sparse strip 32 (rows 128-131). So the 4,096th valid
    // pixel sits mid-row 63 before a NoData pixel, and the 8,192nd ends
    // row 127 before a NoData pixel and the sparse strip.
    val (w, h, nd, secNd) = (128, 136, -9999.0, -7.0)
    def maskNd(c: Int, r: Int): Boolean =
      if (r == 0) c >= 96 else if (r == 64) c >= 32 else (c + r) % 2 == 0
    def maskV(c: Int, r: Int): Double = if (maskNd(c, r)) nd else c * 0.5 + r
    // the secondary: a 2x coarser s16 grid over the same extent, sampled
    // at the mask centroids (cell (c / 2, r / 2)); its strip 7 (mask rows
    // 56-63, across the first batch boundary) is sparse, so reads its NoData
    def secV(c: Int, r: Int): Double = (c * 13 + r * 5) % 300 - 150.0
    val mask = TiffFixtures.sparse(
      TiffFixtures.writeBigTiff(s"$tmp/batch_mask.tif", w, h, maskV, 10.0, 50.0, 0.01,
        Some("-9999"), rowsPerStrip = 4), s"$tmp/batch_mask_sparse.tif", tiled = false, Seq(32))
    val sec = TiffFixtures.sparse(
      TiffFixtures.writeBigTiff(s"$tmp/batch_sec.tif", w / 2, h / 2, secV, 10.0, 50.0, 0.02,
        Some("-7"), rowsPerStrip = 4, dtype = TiffFixtures.S16),
      s"$tmp/batch_sec_sparse.tif", tiled = false, Seq(7))
    val valid = for (r <- 0 until h; c <- 0 until w if !maskNd(c, r) && r / 4 != 32)
      yield (c, r)
    assert(valid.size == 8448)
    val (c1, r1) = valid(4095)
    assert((c1, r1) == (62, 63) && maskNd(c1 + 1, r1))
    val (c2, r2) = valid(8191)
    assert((c2, r2) == (126, 127) && maskNd(c2 + 1, r2) && (r2 + 1) / 4 == 32)
    val m = TiffTags.read(mask)
    val expected = valid.map { case (c, r) =>
      val lat = m.latOf(c, r)
      (m.lonOf(c, r), lat, maskV(c, r).toFloat,
        (if ((r / 2) / 4 == 7) secNd else secV(c / 2, r / 2)).toShort,
        graft.functions.GeoMath.pixelAreaAffineM2(lat, 0.01, 0.01, 0.0, 0.0))
    }
    val df = Raster.raster2df(spark, Seq(mask, sec), colNames = Seq("m", "s"),
      calcArea = true, resample = "nearest")
    val got = df.collect().map(row =>
      (row.getDouble(0), row.getDouble(1), row.getFloat(2), row.getShort(3), row.getDouble(4)))
    assert(got.length == expected.size)
    val firstDiff = got.indices.find(i => got(i) != expected(i))
    assert(firstDiff.isEmpty, firstDiff.map(i => s"row $i: ${got(i)} vs ${expected(i)}"))
    val metrics = scanOf(df).metrics
    assert(metrics("windows").value == 1 && metrics("batches").value == 3)
    assert(metrics("rowsOut").value == 8448 && metrics("pixelsVisited").value == w * h)
  }

  test("count() over a zero-column scan and a pruned select return the right counts") {
    val df = Raster.raster2df(spark, Seq(f32, u8), colNames = Seq("a", "b"), calcArea = true)
    val valid = for (r <- 0 until 8; c <- 0 until 10 if (r + c) % 7 != 0) yield (c, r)
    assert(df.count() == valid.size)
    val zero = df.select()
    assert(zero.collect().length == valid.size)
    assert(scanOf(zero).output.isEmpty)
    val pruned = df.select("b")
    assert(pruned.count() == valid.size)
    assert(pruned.collect().map(_.getShort(0).toLong).sum == valid.map { case (c, r) => c + r }.sum)
    assert(scanOf(pruned).output.map(_.name) == Seq("b"))
    assert(df.select("lat", "area").count() == valid.size)
  }

  test("the scan node reports windows, pixels, rows, batches, bytes and times as SQL metrics") {
    import graft.sources.tiff.TiffTags
    val (w, h) = (40, 28)
    val v = (c: Int, r: Int) => if ((c * 5 + r * 3) % 13 == 0) -9999.0 else c + r * 0.25
    val p = TiffFixtures.writeBigTiff(s"$tmp/metrics.tif", w, h, v, 10.0, 50.0, 0.01,
      Some("-9999"), rowsPerStrip = 4, compression = 8)
    val df = Raster.raster2df(spark, Seq(p), maxBlockSize = 16)
    val n = df.collect().length
    assert(n == (for (r <- 0 until h; c <- 0 until w if v(c, r) != -9999.0) yield 1).size)
    val metrics = scanOf(df).metrics
    def m(name: String): Long = metrics(name).value
    // 3 x 2 windows of at most 16 x 16, each with valid pixels: one batch
    // per window; every window decodes each strip it overlaps at full
    // width, so each of the 3 window columns decodes all 7 strips
    assert(m("windows") == 6 && m("batches") == 6)
    assert(m("pixelsVisited") == w * h && m("rowsOut") == n)
    assert(m("bytesRead") == 3 * TiffTags.read(p).stripByteCounts.sum)
    assert(m("bytesDecoded") == 3L * w * h * 4)
    assert(m("decodeNs") > 0 && m("fillNs") > 0)
  }
}
