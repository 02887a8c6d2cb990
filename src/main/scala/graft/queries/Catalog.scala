package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query (SURVEY.md §2C): a Spark DataFrame
  * implementation plus, where SQL-expressible, a DuckDB oracle query that
  * must hash-match it row-for-row (driver gate t2).
  *
  * Determinism contract (SURVEY §2C rules): every query ends in a total
  * ORDER BY over a unique key set; every float aggregate is ROUND(x, 4) on
  * both sides; counts are BIGINT on both sides; event timestamps are
  * compared as BIGINT microseconds (see [[graft.Tables.events]]).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Catalog {
  val all: Seq[QueryDef] = {
    val defs =
      Relational.defs ++ Analytics.defs ++ TextPipeline.defs ++ Dedup.defs ++
        StreamParity.defs ++ Media.defs ++ SqlEntry.defs ++ ScalePaths.defs ++
        Curation.defs ++ TimeSeries.defs ++ Classifier.defs ++ Tokenizer.defs ++
        Reporting.defs ++ BudgetSelect.defs ++ Coreset.defs ++ Clustering.defs ++ Mixture.defs ++ HardNegatives.defs ++
        RetrievalEval.defs ++ UnigramTok.defs ++ QualitySignals.defs ++
        CurationPipeline.defs ++ SftPrep.defs ++ Langid.defs
    // a duplicated name would silently SHADOW a query in the Maps below —
    // the driver would then verify one query twice and the other never
    val dups = defs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names in Catalog: ${dups.mkString(", ")}")
    defs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.fn).toMap
  lazy val oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
