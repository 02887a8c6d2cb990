package graft.sources

import java.io.{IOException, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** Write-only CSV source for point tables: the sink of
  * `Raster.raster2csv`, reached by `.format(classOf[PointCsv].getName)`
  * with `mode("overwrite")`, the only save mode it accepts.
  *
  * Each file is a header line, then one line per row, cells joined by the
  * `sep` option and lines ended by `\n`, in UTF-8. A cell's text is the
  * `toString` of its value, as Spark's CSV writer produces it for the six
  * numeric types the geotiff source emits; a null cell is empty. Nothing is
  * quoted, so callers must pass a separator that no cell text or column
  * name contains (`Raster.raster2csv` checks this).
  *
  * Each column keeps a direct-mapped cache from a value's raw bits to its
  * UTF-8 text, so a value seen again is not formatted again: on an
  * axis-aligned grid lon repeats per column and lat and area per row.
  *
  * The write is a DSv2 batch write, so query listeners fire as for any
  * DataFrame write. Its tasks carry no Hadoop `Configuration` of their
  * own: the session's Hadoop conf plus the write's options goes out once
  * as a broadcast, which an executor deserializes at most once. Commit
  * protocol (Spark's commit coordinator stays on):
  *   - a task attempt writes `<out>/_temporary-<queryId>/<taskId>-part-%05d-<uuid>-c000.csv`,
  *     opening it at its first row; partition 0 opens its file at commit
  *     if it saw no row, so an empty write still leaves a header, while
  *     any other partition that saw no row leaves no file;
  *   - job commit removes what the output dir held before, moves the
  *     committed attempts' files in as `part-%05d-<uuid>-c000.csv` and
  *     writes `_SUCCESS`;
  *   - job abort deletes only the staging dir, so a failed write leaves
  *     the previous output as it was.
  *
  * Spark's V2 write task leaves the task's output metrics empty, so each
  * writer sets `recordsWritten` and `bytesWritten` itself at commit.
  */
private[graft] class PointCsv extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("PointCsv is a write-only format")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    schema.fields.foreach { f =>
      if (PointCsv.kind(f.dataType) < 0)
        throw new IllegalArgumentException(
          s"PointCsv writes numeric columns only; column '${f.name}' is ${f.dataType.simpleString}")
    }
    require(partitioning.isEmpty, "PointCsv writes unpartitioned output only")
    new PointCsvTable(schema)
  }

  override def toString: String = "PointCsv"
}

private[graft] object PointCsv {

  /** log2 of the slots in each column's text cache: at 2^14 most of the
    * 4096 lon values of a default-sized window keep a slot of their own.
    */
  private val LogSlots = 14

  /** Column kinds, the codes the writer switches on; -1 = not writable. */
  def kind(t: DataType): Int = t match {
    case DoubleType => 0
    case FloatType => 1
    case ByteType => 2
    case ShortType => 3
    case IntegerType => 4
    case LongType => 5
    case _ => -1
  }

  /** A value's cache slot: a multiplicative hash of its raw bits. */
  def slot(bits: Long): Int = ((bits * 0x9E3779B97F4A7C15L) >>> (64 - LogSlots)).toInt

  /** One column's direct-mapped cache; a slot hit counts only when its
    * stored key matches.
    */
  final class TextCache(kind: Int) {
    private val keys = new Array[Long](1 << LogSlots)
    private val texts = new Array[Array[Byte]](1 << LogSlots)

    def text(bits: Long): Array[Byte] = {
      val slot = PointCsv.slot(bits)
      val hit = texts(slot)
      if (hit != null && keys(slot) == bits) hit
      else {
        val t = format(bits).getBytes(UTF_8)
        keys(slot) = bits
        texts(slot) = t
        t
      }
    }

    private def format(bits: Long): String = kind match {
      case 0 => java.lang.Double.toString(java.lang.Double.longBitsToDouble(bits))
      case 1 => java.lang.Float.toString(java.lang.Float.intBitsToFloat(bits.toInt))
      case _ => java.lang.Long.toString(bits)
    }
  }

  /** A committed task attempt's staging file; None when the attempt saw
    * no row and wrote none.
    */
  final case class Committed(file: Option[String]) extends WriterCommitMessage
}

private final class PointCsvTable(tableSchema: StructType) extends Table with SupportsWrite {
  override def name(): String = "PointCsv"

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncated = false

      override def truncate(): WriteBuilder = { truncated = true; this }

      // append reaches here without truncate(); error-if-exists and ignore
      // are refused by Spark itself for a source that supports batch writes
      override def build(): Write = {
        if (!truncated)
          throw new IllegalArgumentException(
            "PointCsv replaces its output directory: write with mode(\"overwrite\")")
        new Write {
          override def description(): String = "PointCsv"
          override def toBatch: BatchWrite = new PointCsvBatchWrite(info)
        }
      }
    }
}

private final class PointCsvBatchWrite(info: LogicalWriteInfo) extends BatchWrite {
  private val options = info.options()
  private val out = new Path(Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("PointCsv needs an output path")))
  private val staging = new Path(out, s"_temporary-${info.queryId()}")
  private val uuid = java.util.UUID.randomUUID().toString

  // the session's Hadoop conf with the write's options on top, as a file
  // source builds it
  private val conf: Configuration = SparkSession.active
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sessionState.newHadoopConfWithOptions(options.asCaseSensitiveMap().asScala.toMap)
  private var shared: Broadcast[SerializableConfiguration] = _

  override def createBatchWriterFactory(physical: PhysicalWriteInfo): DataWriterFactory = {
    if (shared == null)
      shared = SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))
    new PointCsvWriterFactory(staging.toString, uuid, options.getOrDefault("sep", ","),
      info.schema(), shared)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    try {
      val fs = out.getFileSystem(conf)
      // the old output goes only once every task has committed
      fs.listStatus(out).foreach { st =>
        if (st.getPath.getName != staging.getName && !fs.delete(st.getPath, true))
          throw new IOException(s"PointCsv could not remove ${st.getPath}")
      }
      messages.foreach {
        case PointCsv.Committed(Some(file)) =>
          val to = new Path(out, file.substring(file.indexOf('-') + 1))
          if (!fs.rename(new Path(staging, file), to))
            throw new IOException(s"PointCsv could not move $file to $to")
        case _ => ()
      }
      fs.delete(staging, true)
      fs.create(new Path(out, "_SUCCESS"), true).close()
    } finally release()

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    try { out.getFileSystem(conf).delete(staging, true); () }
    finally release()

  private def release(): Unit = if (shared != null) { shared.destroy(); shared = null }
}

/** What a write task receives: the staging dir, the file names' job uuid,
  * the separator, the schema and the broadcast Hadoop conf, and nothing
  * else (PointCsvSpec bounds its serialized size).
  */
private final class PointCsvWriterFactory(staging: String, uuid: String, sep: String,
    schema: StructType, conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PointCsvWriter(staging, f"$taskId-part-$partitionId%05d-$uuid-c000.csv", conf,
      schema, sep, openEmpty = partitionId == 0)
}

private final class PointCsvWriter(staging: String, file: String,
    conf: Broadcast[SerializableConfiguration], dataSchema: StructType, sep: String,
    openEmpty: Boolean) extends DataWriter[InternalRow] {
  private var out: OutputStream = _
  // its own buffer, not a BufferedOutputStream, which locks on every write
  private val buf = new Array[Byte](1 << 16)
  private var pos = 0
  private var records = 0L
  private var bytes = 0L
  private val sepBytes = sep.getBytes(UTF_8)
  private val newline = Array[Byte]('\n')
  private val kinds = dataSchema.fields.map(f => PointCsv.kind(f.dataType))
  private val caches = kinds.map(new PointCsv.TextCache(_))

  // the header goes out with the file, as Spark's CSV writer does it
  private def open(): Unit = {
    val p = new Path(staging, file)
    out = p.getFileSystem(conf.value.value).create(p, false)
    put(dataSchema.fieldNames.mkString(sep).getBytes(UTF_8))
    put(newline)
  }

  override def write(row: InternalRow): Unit = {
    if (out == null) open()
    var i = 0
    while (i < kinds.length) {
      if (i > 0) put(sepBytes)
      if (!row.isNullAt(i)) {
        val bits = kinds(i) match {
          case 0 => java.lang.Double.doubleToRawLongBits(row.getDouble(i))
          case 1 => java.lang.Float.floatToRawIntBits(row.getFloat(i)).toLong
          case 2 => row.getByte(i).toLong
          case 3 => row.getShort(i).toLong
          case 4 => row.getInt(i).toLong
          case _ => row.getLong(i)
        }
        put(caches(i).text(bits))
      }
      i += 1
    }
    put(newline)
    records += 1
  }

  private def put(b: Array[Byte]): Unit = {
    if (pos + b.length > buf.length) flush()
    if (b.length > buf.length) { out.write(b); bytes += b.length }
    else {
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
  }

  private def flush(): Unit = {
    out.write(buf, 0, pos)
    bytes += pos
    pos = 0
  }

  override def commit(): WriterCommitMessage = {
    if (out == null && openEmpty) open()
    val wrote = out != null
    if (wrote) flush()
    close()
    Bridge.setOutputMetrics(records, bytes)
    PointCsv.Committed(if (wrote) Some(file) else None)
  }

  // the attempt's file stays in the staging dir, which the job's commit or
  // abort deletes
  override def abort(): Unit = close()

  override def close(): Unit =
    if (out != null) {
      val o = out
      out = null
      o.close()
    }
}
