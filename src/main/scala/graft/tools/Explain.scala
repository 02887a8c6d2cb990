package graft.tools

/** Plan-evidence dumper for the optimization rounds: for each named
  * declared query, writes `<outDir>/<name>_<suffix>.txt` containing the
  * query's `explain("formatted")` output, and times one warm noop-sink
  * materialization (two runs; the second is reported) so a plan file
  * carries the measurement it justifies.
  *
  * Usage: runMain graft.tools.Explain <outDir> <suffix> <query...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Explain <outDir> <suffix> <query...>")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession("Explain")
    new java.io.File(outDir).mkdirs()
    graft.Bench.warmUp(spark, sfDir) // the same warm-up, so timings are comparable
    for (name <- names) {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      def timeOnce(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = timeOnce()
      val warm = timeOnce()
      val warm2 = timeOnce()
      // executed plan AFTER an action so AQE's final shape is visible
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val planTxt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
      try {
        f.println(f"// $name @ $sfDir cold=$cold%.3f warm=$warm%.3f/$warm2%.3f s")
        f.println(planTxt)
      } finally f.close()
      println(f"[explain] $name cold=$cold%.3f warm=$warm%.3f/$warm2%.3f -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
