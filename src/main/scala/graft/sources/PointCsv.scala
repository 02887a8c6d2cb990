package graft.sources

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types._

/** Write-only CSV file format for point tables: the sink of
  * `Raster.raster2csv`, reached by `.format(classOf[PointCsv].getName)`.
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
  * The write stays a DataFrame write, so Spark's commit protocol, save
  * modes, task output metrics and query listeners apply as for any file
  * source.
  */
private[graft] class PointCsv extends FileFormat {

  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    throw new UnsupportedOperationException("PointCsv is a write-only format")

  override def prepareWrite(
      spark: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    dataSchema.fields.foreach { f =>
      if (PointCsv.kind(f.dataType) < 0)
        throw new IllegalArgumentException(
          s"PointCsv writes numeric columns only; column '${f.name}' is ${f.dataType.simpleString}")
    }
    new PointCsvWriterFactory(options.getOrElse("sep", ","))
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
}

private final class PointCsvWriterFactory(sep: String) extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String = ".csv"

  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter =
    new PointCsvWriter(path, dataSchema, sep, context)
}

private final class PointCsvWriter(val path: String, dataSchema: StructType, sep: String,
    context: TaskAttemptContext) extends OutputWriter {
  private val out: OutputStream = {
    val p = new Path(path)
    p.getFileSystem(context.getConfiguration).create(p, false)
  }
  // its own buffer, not a BufferedOutputStream, which locks on every write
  private val buf = new Array[Byte](1 << 16)
  private var pos = 0
  private val sepBytes = sep.getBytes(UTF_8)
  private val newline = Array[Byte]('\n')
  private val kinds = dataSchema.fields.map(f => PointCsv.kind(f.dataType))
  private val caches = kinds.map(new PointCsv.TextCache(_))

  // the header goes out with the file, as Spark's CSV writer does it, so a
  // task that writes no row still leaves a header-only file
  put(dataSchema.fieldNames.mkString(sep).getBytes(UTF_8))
  put(newline)

  override def write(row: InternalRow): Unit = {
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
  }

  private def put(b: Array[Byte]): Unit = {
    if (pos + b.length > buf.length) flush()
    if (b.length > buf.length) out.write(b)
    else {
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
  }

  private def flush(): Unit = {
    out.write(buf, 0, pos)
    pos = 0
  }

  override def close(): Unit =
    try flush()
    finally out.close()
}
