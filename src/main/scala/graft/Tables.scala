package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md / FIXTURES.md).
  *
  * All tables are plain parquet reads except `events`, whose `ts` column's
  * physical parquet type has drifted across testdata regenerations —
  * TIMESTAMP(NANOS) through round 6, TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * from round 7's regeneration. The loader adapts to whichever encoding is on
  * disk and always exposes the same logical schema:
  *   - `ts_ns` : BIGINT nanoseconds since epoch
  *   - `ts_us` : BIGINT microseconds since epoch == DuckDB `epoch_us(ts)`
  *   - `ts`    : TIMESTAMP at microsecond precision (for interval/window ops)
  * so both engines agree bit-for-bit on every time value used in a query,
  * and no downstream operator ever sees the physical encoding.
  *
  * A table pays for one parquet schema inference (a one-task Spark job)
  * per version of its file: the inferred `StructType` is an [[Artifacts]]
  * value keyed on the table's file version (path, total length,
  * modification time) and the explicitly set `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` confs, and every later read under that
  * key passes it as the read schema, so building a query starts no job.
  * A rewritten file or a changed inference conf gets a fresh inference.
  * Only the schema is kept, never a DataFrame or plan: two reads of one
  * table still get distinct attribute ids (self-joins such as nation n1,
  * n2 stay unambiguous), and the schema guard still runs on every read.
  *
  * Scale note: these are single-file reads here; at cluster scale the same
  * code reads directory-partitioned parquet unchanged, and every downstream
  * operator is written against the DataFrame API so Catalyst pushes filters
  * and prunes columns into the scan.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else guard(name, parquet(spark, s"$dir/$name.parquet"), s"$dir/$name.parquet")

  /** On-disk bytes of a table — the cheap size-gate metric for plan-shape
    * decisions (q07's prefix sum, lpaEdges' broadcast hint): one
    * filesystem metadata call instead of running the optimizer for
    * `stats.sizeInBytes` (round 18, measured: two optimizer runs per
    * construction cost q07 ~+0.2 s per bench pass). Compressed bytes, so
    * thresholds are conservative in the safe direction — real data is
    * larger in memory. 0 for a missing path (gates then take the
    * small-input branch, which never errors on its own). */
  def fileBytes(spark: SparkSession, dir: String, name: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** `spark.read.parquet(path)` that infers the schema once per file
    * version ([[Artifacts]], keyed on the explicitly set parquet confs
    * too); `fallback` handles an inference failure (events' NANOS
    * footer), and whichever schema the read ended up with is the one kept.
    * A path that cannot be stat'ed is read as is and not remembered. */
  private def parquet(spark: SparkSession, path: String,
      fallback: PartialFunction[Throwable, DataFrame] = PartialFunction.empty): DataFrame = {
    var inferred: Option[DataFrame] = None
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    val schema = Artifacts.get("parquet_schema", None,
        Artifacts.version(spark, path).map(Seq(_)), confs) {
      val df = try spark.read.parquet(path) catch fallback
      inferred = Some(df)
      df.schema
    }
    inferred.getOrElse(spark.read.schema(schema).parquet(path))
  }

  /** Accepted microsecond-precision timestamp encodings; NANOS-era events
    * data loads as bigint via an explicit per-read schema (no session conf). */
  private val TsTypes = Set("timestamp", "timestamp_ntz")

  /** Expected logical schema per table: column name → accepted simpleString
    * types. A set (not a single type) wherever the driver's generator has
    * legitimately drifted across regenerations (ts precision/encoding) so the
    * loaders adapt to benign drift but fail LOUDLY — naming the column — on
    * anything else. Order-insensitive: queries select columns by name. */
  private val expectedSchemas: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int", "bigint"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int", "bigint"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int", "bigint")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int", "bigint"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int", "bigint"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int", "bigint"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> (TsTypes + "date"), "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int", "bigint"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> (TsTypes + "date")),
    "events" -> Seq("event_id" -> Set("bigint"),
      "ts" -> (TsTypes + "bigint"), // bigint = NANOS footer via explicit schema
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("int", "bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>", "array<double>"),
      "label" -> Set("int", "bigint"))
  )

  /** Fails with a self-describing message naming every drifted/missing/extra
    * column if `df`'s schema is outside the accepted envelope for `name`.
    * Turns the next silent testdata regeneration into a 5-minute fix instead
    * of a round of debugging downstream DATATYPE_MISMATCH errors. */
  private[graft] def guard(name: String, df: DataFrame, path: String): DataFrame = {
    expectedSchemas.get(name).foreach { exp =>
      val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val expNames = exp.map(_._1).toSet
      val problems = Seq.newBuilder[String]
      exp.foreach { case (c, accepted) =>
        actual.get(c) match {
          case None =>
            problems += s"missing column `$c` (expected one of ${accepted.mkString("/")})"
          case Some(t) if !accepted.contains(t) =>
            problems += s"column `$c` has type $t, expected one of ${accepted.mkString("/")}"
          case _ => ()
        }
      }
      (actual.keySet -- expNames).toSeq.sorted.foreach { c =>
        problems += s"unexpected extra column `$c` (${actual(c)})"
      }
      val ps = problems.result()
      if (ps.nonEmpty)
        throw new IllegalStateException(
          s"Tables.$name: testdata schema drift at $path — ${ps.mkString("; ")}. " +
            s"Loaded schema: ${df.schema.simpleString}. If the drift is benign, " +
            s"widen Tables.expectedSchemas/$name or adapt in the loader.")
    }
    df
  }

  /** True when the failure chain says the parquet footer declares a
    * TIMESTAMP(NANOS) column, which Spark 4.x cannot represent natively. */
  private def isNanosTypeError(e: Throwable): Boolean = {
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      val m = Option(t.getMessage).getOrElse("")
      m.contains("NANOS") || m.contains("nanosAsLong")
    }
  }

  /** Explicit read schema for NANOS-era events files: `ts` typed as raw
    * nanosecond BIGINT. Supplying a user schema bypasses parquet schema
    * INFERENCE (where Spark rejects TIMESTAMP(NANOS) unless the
    * session-global legacy `nanosAsLong` conf is set), and the execution
    * path accepts INT64→LongType for a user-supplied schema with no conf at
    * all — probed against a real parquet-mr-written NANOS file (round 9;
    * the per-read `.option(...)` form does NOT work, inference consults
    * SQLConf directly). This keeps the adaptation scoped to this one read:
    * no session-wide mutation, so a mixed-era multi-dataset session loads
    * OTHER nanos-typed parquet with Spark's default (loud) behavior. */
  private val nanosEraEventsSchema = org.apache.spark.sql.types.StructType(
    Seq("event_id" -> LongType, "ts" -> LongType, "user_id" -> LongType,
      "event_type" -> org.apache.spark.sql.types.StringType,
      "value" -> org.apache.spark.sql.types.DoubleType,
      "props" -> org.apache.spark.sql.types.StringType)
      .map { case (n, t) => org.apache.spark.sql.types.StructField(n, t) })

  /** Adapts to the on-disk `ts` encoding (see class doc): a NANOS footer is
    * re-read under [[nanosEraEventsSchema]] — per-read, conf-free.
    *
    * TIMESTAMP_NTZ parity precondition: the NTZ→TIMESTAMP cast interprets the
    * wall-clock value in the session timezone. DuckDB's naive read + epoch_us
    * treats it as UTC, so the session timezone MUST be UTC for the two
    * engines to agree — asserted below rather than assumed, since every entry
    * point (SparkEntry/Verify/Bench/specs) pins spark.sql.session.timeZone=UTC.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val raw = guard("events",
      parquet(spark, path, {
        case e: Throwable if isNanosTypeError(e) =>
          spark.read.schema(nanosEraEventsSchema).parquet(path)
      }), path)
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) footer read as raw nanosecond BIGINT
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case TimestampType | TimestampNTZType =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"Tables.events: session timeZone is '$tz' but must be 'UTC' — the " +
            "TIMESTAMP_NTZ→TIMESTAMP cast below is timezone-sensitive and only " +
            "matches DuckDB's naive epoch_us(ts) under UTC")
        raw.withColumn("ts_us", unix_micros(col("ts").cast(TimestampType)))
          .withColumn("ts_ns", col("ts_us") * lit(1000L))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case other =>
        throw new IllegalStateException(
          s"Tables.events: unsupported physical type for events.ts: $other " +
            s"(expected LongType via the NANOS-era explicit schema, TimestampType, or TimestampNTZType); " +
            s"testdata at $path has drifted — update Tables.events to adapt")
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
