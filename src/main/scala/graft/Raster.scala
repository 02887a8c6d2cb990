package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public raster→points API mirroring the reference's three entry points
  * (SURVEY §3.1 E1–E3): library `raster2df`, library `raster2csv`, and a
  * CLI `main` with the reference's flags.
  *
  * raster2points/raster2points.py::raster2df / ::raster2csv / ::main
  * (anchors unverified per SURVEY §0).
  */
object Raster {

  /** One row per pixel with data in the first raster:
    * (lon, lat, <col per raster>[, area]).
    *
    * Paths and column names must not contain ',': the geotiff source's
    * options are comma-separated strings (DSv2 options are flat
    * string->string), so a comma would silently split one entry into bogus
    * ones — rejected here at the API boundary instead.
    */
  def raster2df(
      spark: SparkSession,
      rasters: Seq[String],
      colNames: Seq[String] = Nil,
      maxBlockSize: Int = 4096,
      calcArea: Boolean = false,
      bands: Seq[Int] = Nil,
      overview: Int = 0,
      resample: String = "",
      datumBridge: String = ""): DataFrame = {
    require(rasters.forall(!_.contains(",")),
      s"raster paths must not contain ',': ${rasters.filter(_.contains(","))}")
    require(colNames.forall(!_.contains(",")),
      s"column names must not contain ',': ${colNames.filter(_.contains(","))}")
    require(overview >= 0, s"overview must be >= 0, got $overview")
    var reader = spark.read.format("geotiff")
      .option("paths", rasters.mkString(","))
      .option("maxBlockSize", maxBlockSize)
      .option("calcArea", calcArea)
    if (colNames.nonEmpty) reader = reader.option("colNames", colNames.mkString(","))
    // 1-based band per raster (read N bands of one file by repeating its
    // path with different band indices); default = band 1, the reference's
    // behavior
    if (bands.nonEmpty) reader = reader.option("bands", bands.mkString(","))
    // COG overview level: scan the k-th reduced-resolution IFD of the
    // pyramid instead of full-res pixels (0 = full res)
    if (overview > 0) reader = reader.option("overview", overview)
    // resample="nearest": secondary rasters may carry a different grid —
    // same-CRS (sampled at the mask grid's pixel centroids through the
    // inverse affine) or, since round 15, a different DECLARED CRS with a
    // supported transform (EPSG:4326 ↔ UTM 326xx/327xx, or UTM ↔ UTM
    // through the shared geographic leg)
    if (resample.nonEmpty) reader = reader.option("resample", resample)
    // datumBridge: OPT-IN cross-datum resample zips through the published
    // zero-shift transform the value NAMES — "epsg1188" (NAD83<->WGS84,
    // ~1-2 m) or "epsg1149" (ETRS89<->WGS84, ~1 m); the default keeps
    // cross-datum pairs typed-rejected, and a value never opens a pair it
    // does not name
    if (datumBridge.nonEmpty) reader = reader.option("datumBridge", datumBridge)
    reader.load()
  }

  /** Write the point table as CSV: a header line, then one line per point,
    * through the point-table writer [[graft.sources.PointCsv]], which
    * formats each value as Spark's CSV writer does and each distinct value
    * once per column. `separator` is "," ";" or "t" (tab), matching the
    * reference CLI. `singleFile=true` mirrors the reference's one output
    * file: the frame is coalesced to one partition, so one task scans and
    * writes every point (avoid at scale).
    *
    * `output` is replaced, never appended to: the write runs under
    * overwrite, the only mode the sink accepts. Files land in a staging dir
    * under `output` first; once every task has committed, the old content
    * of `output` is removed, the new `part-*.csv` files move in and
    * `_SUCCESS` is written, so a write that fails leaves the old output as
    * it was. Each window with at least one valid point gives one file; the
    * first window gives a header-only file when it has none, so an
    * all-NoData raster still yields a header, and other all-NoData windows
    * give no file. The tasks' `recordsWritten`/`bytesWritten` output
    * metrics are set by the sink's writers, from the rows and bytes they
    * wrote.
    *
    * Nothing is quoted, so a column name must not contain the separator,
    * '"', CR or LF, must not be empty, start with '#' (Spark's writer would
    * quote those) or start or end with a blank or control character (Spark's
    * writer would trim it); such names are rejected here.
    */
  def raster2csv(
      spark: SparkSession,
      rasters: Seq[String],
      output: String,
      separator: String = ",",
      colNames: Seq[String] = Nil,
      maxBlockSize: Int = 4096,
      calcArea: Boolean = false,
      singleFile: Boolean = false,
      bands: Seq[Int] = Nil,
      resample: String = "",
      datumBridge: String = ""): Unit = {
    val sep = separator match {
      case "," | ";" => separator
      case "t" => "\t"
      case _ => throw new IllegalArgumentException(
        s"separator must be ',', ';' or 't' (tab), got '$separator'")
    }
    val badNames = colNames.filter(n => n.isEmpty || n.head <= ' ' || n.last <= ' ' ||
      n.head == '#' || n.exists(c => c == sep.head || c == '"' || c == '\r' || c == '\n'))
    require(badNames.isEmpty,
      s"column names must be non-empty, hold no separator, '\"', CR or LF, and neither " +
        s"start with '#' nor start or end with a blank: ${badNames.mkString("[", "], [", "]")}")
    val df = raster2df(spark, rasters, colNames, maxBlockSize, calcArea, bands,
      resample = resample, datumBridge = datumBridge)
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("sep", sep)
      .format(classOf[graft.sources.PointCsv].getName).save(output)
  }

  /** Zonal statistics over a raster point table: grid cells of
    * `cellDeg`×`cellDeg` degrees keyed by the cell's SW corner, with
    * count / mean / min / max per value column (and summed area when
    * present). The raster analog of a GROUP BY rollup — one hash
    * aggregate with map-side partials, so zone summaries of a
    * continent-scale raster shuffle only (zones × columns) rows. Composes
    * with the source's lon/lat window pruning: filter the frame first and
    * only intersecting raster windows are ever decoded.
    *
    * Rows come back ordered by (cell x, cell y). The final merge of the
    * partials and that ordering run in ONE task (`coalesce(1)` then a
    * local sort), so the plan has a single shuffle and no range
    * partitioning: no sampling job, no second map stage. The limit is a
    * zone table too large for one task to merge and sort; such a table
    * wants its own `groupBy` with a distributed `orderBy`.
    */
  def zonalStats(points: DataFrame, cellDeg: Double): DataFrame = {
    // projected frames carry x/y instead of lon/lat (CRS-gated naming in
    // the source); the cell math is identical, the cell columns keep the
    // frame's own names. When BOTH pairs exist the coordinates are
    // ambiguous (e.g. a projected frame whose USER-NAMED value columns are
    // lon/lat) — guessing would aggregate band values as coordinates, so
    // the caller must name them via the explicit overload.
    val hasLonLat = points.columns.contains("lon") && points.columns.contains("lat")
    val hasXy = points.columns.contains("x") && points.columns.contains("y")
    if (hasLonLat && hasXy)
      throw new IllegalArgumentException(
        "zonalStats: frame carries both lon/lat and x/y — ambiguous coordinates; " +
          "name them explicitly with zonalStats(points, cellDeg, xCol, yCol)")
    val (xc, yc) =
      if (hasLonLat) ("lon", "lat")
      else if (hasXy) ("x", "y")
      else throw new IllegalArgumentException(
        s"zonalStats needs lon/lat or x/y coordinate columns, got ${points.columns.mkString(", ")}")
    zonalStats(points, cellDeg, xc, yc)
  }

  /** [[zonalStats]] with explicit coordinate columns — the unambiguous door
    * when the frame's value columns shadow a coordinate naming convention.
    */
  def zonalStats(points: DataFrame, cellDeg: Double, xc: String, yc: String): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cellDeg > 0 && cellDeg.isFinite, s"cellDeg must be positive and finite, got $cellDeg")
    require(points.columns.contains(xc) && points.columns.contains(yc),
      s"zonalStats: coordinate columns $xc/$yc not in ${points.columns.mkString(", ")}")
    val valueCols = points.columns.filterNot(Seq(xc, yc, "area").contains)
    // n_pixels leads so the aggregation list is never empty (a coord-only
    // frame is a valid count-per-cell rollup, not a crash)
    val aggs = Seq(count(lit(1)).as("n_pixels")) ++ valueCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_n"), avg(col(c)).as(s"${c}_mean"),
        min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
    } ++ (if (points.columns.contains("area"))
      Seq(sum(col("area")).as("area_sum")) else Nil)
    points
      .groupBy(
        (floor(col(xc) / cellDeg) * cellDeg).as(s"cell_$xc"),
        (floor(col(yc) / cellDeg) * cellDeg).as(s"cell_$yc"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .sortWithinPartitions(col(s"cell_$xc"), col(s"cell_$yc"))
  }

  /** Parsed CLI arguments (extracted from main so the flag grammar is
    * directly testable without building a session).
    */
  final case class CliArgs(
      inputs: Seq[String],
      output: String,
      colNames: Seq[String] = Nil,
      separator: String = ",",
      maxBlockSize: Int = 4096,
      calcArea: Boolean = false,
      bands: Seq[Int] = Nil,
      resample: String = "",
      datumBridge: String = "")

  def parseArgs(args: Array[String]): CliArgs = {
    val positional = scala.collection.mutable.ArrayBuffer[String]()
    var colNames: Seq[String] = Nil
    var separator = ","
    var maxBlock = 4096
    var calcArea = false
    var bands: Seq[Int] = Nil
    var resample = ""
    var datumBridge = ""
    var i = 0
    def flagValue(name: String): String = {
      require(i + 1 < args.length, s"$name requires a value")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "--col_names" => colNames = flagValue("--col_names").split(',').toSeq; i += 2
        case "--separator" => separator = flagValue("--separator"); i += 2
        case "--max_block_size" => maxBlock = flagValue("--max_block_size").toInt; i += 2
        case "--calc_area" => calcArea = true; i += 1
        case "--bands" => bands = flagValue("--bands").split(',').toSeq.map(_.trim.toInt); i += 2
        case "--resample" => resample = flagValue("--resample"); i += 2
        case "--datum_bridge" => datumBridge = flagValue("--datum_bridge"); i += 2
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag: $f")
        case p => positional += p; i += 1
      }
    }
    require(positional.size >= 2, "usage: raster2csv INPUT... OUTPUT [options]")
    CliArgs(positional.init.toSeq, positional.last,
      colNames, separator, maxBlock, calcArea, bands, resample, datumBridge)
  }

  /** CLI: raster2csv INPUT... OUTPUT [--col_names a,b] [--separator ,|;|t]
    * [--max_block_size N] [--calc_area] [--bands 1,2,...]
    * [--resample nearest] [--datum_bridge epsg1188|epsg1149]
    */
  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
      .appName("raster2csv")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try raster2csv(spark, a.inputs, a.output, a.separator, a.colNames,
      a.maxBlockSize, a.calcArea, singleFile = false, bands = a.bands,
      resample = a.resample, datumBridge = a.datumBridge)
    finally spark.stop()
  }
}
