package graft

import org.apache.spark.sql.SparkSession

/** The local session every repo main runs on (Bench, Verify and the tools):
  * `local[cpus]` with as many shuffle partitions, session time zone UTC (the
  * `Tables.events` parity precondition), no UI, WARN logging and graft's
  * plan rewrites installed. `Raster.main` builds its own, because it honours
  * the deployment setting `SPARK_MASTER`.
  */
object LocalSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.installPlanRewrites(spark)
    spark
  }
}
