package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one memo of values derived from input files: inferred parquet
  * schemas ([[Tables]]), the catalog's trained artifacts (BPE and unigram
  * models, signal frames, centroids, on-disk indexes and stores) and the
  * materialized results of deferred SQL table functions.
  *
  * A value is kept under (kind, session, inputs' file versions, params):
  *   - the session only when the value is a session-bound frame (a
  *     checkpointed frame must never be served to another session);
  *   - a [[FileVersion]] is (path, total length, modification time), so a
  *     rewritten input file is a new key and a fresh build, never a stale
  *     answer. A catalog artifact's inputs are every table under its
  *     dataset dir ([[tables]]), so no call site lists its inputs and none
  *     can forget one;
  *   - an input that cannot be stat'ed means the value is built and not
  *     remembered.
  *
  * Builds run outside any map lock, once per key: concurrent callers of
  * a cold key wait for the one build, and a build that throws is
  * forgotten, so the next caller (or a woken waiter) retries it. Builds
  * nest freely (an encode built over a trained dictionary, every build
  * reading [[Tables]]), which a `computeIfAbsent` around the build would
  * not allow.
  *
  * On-disk artifacts ([[onDisk]]) live under a path derived from a SHA-256
  * of the full key, pid-suffixed so two JVMs never share one, deleted at
  * JVM exit and never evicted: evicting one would make the next call
  * overwrite a parquet a concurrent reader is reading. Only session-bound
  * values count toward [[Cap]]; past it they are all dropped and their
  * checkpointed blocks unpersisted (every value is reproducible, so a cold
  * rebuild is correct, just slower), so a JVM that cycles sessions does
  * not pin dead sessions' frames. A session-bound build over new input
  * versions drops and unpersists the completed entries of the same
  * (kind, session, params) over other versions at once, so a rewritten
  * dataset frees its old frames without waiting for the cap.
  */
object Artifacts {

  /** One version of an input file or directory. */
  final case class FileVersion(path: String, length: Long, mtime: Long)

  /** None when `path` cannot be stat'ed. */
  def version(spark: SparkSession, path: String): Option[FileVersion] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Some(FileVersion(path, fs.getContentSummary(p).getLength,
        fs.getFileStatus(p).getModificationTime))
    } catch { case NonFatal(_) => None }

  /** Versions of all `paths`, or None if any cannot be stat'ed. */
  def versions(spark: SparkSession, paths: Seq[String]): Option[Seq[FileVersion]] = {
    val vs = paths.map(version(spark, _))
    if (vs.forall(_.isDefined)) Some(vs.flatten) else None
  }

  /** Every table (`<name>.parquet`) under a dataset dir. */
  def tables(spark: SparkSession, dir: String): Option[Seq[FileVersion]] =
    try {
      val d = new Path(dir)
      val names = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(d).map(_.getPath.getName).filter(_.endsWith(".parquet"))
      versions(spark, names.sorted.toSeq.map(n => s"$dir/$n"))
    } catch { case NonFatal(_) => None }

  private final case class Key(kind: String, session: Option[SparkSession],
      inputs: Seq[FileVersion], params: Seq[Any])

  val Cap = 64

  private val slots = new ConcurrentHashMap[Key, CompletableFuture[Any]]()

  /** `build`'s value, built at most once per key (see the object doc);
    * `inputs` None builds without remembering. */
  def get[V](kind: String, session: Option[SparkSession],
      inputs: Option[Seq[FileVersion]], params: Any*)(build: => V): V =
    inputs match {
      case Some(in) => once(Key(kind, session, in, params))(build)
      case None => build
    }

  @annotation.tailrec
  private def once[V](key: Key)(build: => V): V = {
    val mine = new CompletableFuture[Any]()
    val prev = slots.putIfAbsent(key, mine)
    if (prev == null) {
      if (key.session.isDefined) { dropSuperseded(key); evictOverCap(key) }
      try { val v = build; mine.complete(v); v }
      catch {
        case t: Throwable =>
          slots.remove(key, mine)
          mine.completeExceptionally(t)
          throw t
      }
    } else {
      val done = try Some(prev.get()) catch { case _: ExecutionException => None }
      done match {
        case Some(v) => v.asInstanceOf[V]
        case None => once(key)(build)
      }
    }
  }

  /** A session-bound build for new input versions supersedes the
    * completed entries of its (kind, session, params) built over other
    * versions: they are dropped and unpersisted now, not at the cap. */
  private def dropSuperseded(next: Key): Unit =
    slots.keySet.asScala.filter(k => k.kind == next.kind && k.session == next.session &&
      k.params == next.params && k.inputs != next.inputs).foreach { k =>
      val f = slots.get(k)
      if (f != null && f.isDone && !f.isCompletedExceptionally && slots.remove(k, f))
        unpersist(f.join())
    }

  /** Session-bound keys held now, with their inputs (a test hook). */
  private[graft] def sessionBound: Seq[(String, Seq[FileVersion])] =
    slots.keySet.asScala.toSeq.filter(_.session.isDefined).map(k => (k.kind, k.inputs))

  private def evictOverCap(keep: Key): Unit = {
    val bound = slots.keySet.asScala.filter(k => k.session.isDefined && k != keep).toSeq
    if (bound.size > Cap) bound.foreach { k =>
      val f = slots.get(k)
      if (f != null && slots.remove(k, f) && f.isDone && !f.isCompletedExceptionally)
        unpersist(f.join())
    }
  }

  /** Dropping a checkpointed frame's reference does not free its blocks. */
  private def unpersist(v: Any): Unit = v match {
    case df: Dataset[_] =>
      try df.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false); ()
        case _ => ()
      } catch { case NonFatal(_) => () }
    case (a, b) => unpersist(a); unpersist(b)
    case _ => ()
  }

  /** A catalog artifact bound to `spark` (a checkpointed frame, or a
    * tuple holding one), kept per dataset version. */
  def sessionFrame[V](kind: String, spark: SparkSession, dir: String)(build: => V): V =
    get(kind, Some(spark), tables(spark, dir), dir)(build)

  /** A catalog artifact that holds no session state, kept per dataset
    * version. */
  def value[V](kind: String, spark: SparkSession, dir: String)(build: => V): V =
    get(kind, None, tables(spark, dir), dir)(build)

  /** The path of a catalog artifact that `write` lands on disk once per
    * dataset version. */
  def onDisk(kind: String, spark: SparkSession, dir: String)(write: String => Unit): String = {
    val inputs = tables(spark, dir)
    val path = scratch(kind, inputs.getOrElse(Nil), dir)
    get(kind, None, inputs, dir) { write(path); path }
  }

  /** A pid-suffixed scratch path named by a SHA-256 of `kind` and `parts`,
    * deleted recursively at JVM exit. */
  def scratch(kind: String, parts: Any*): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest((kind +: parts).mkString("\u0000").getBytes("UTF-8"))
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      s"${digest.take(16).map(b => f"$b%02x").mkString}_p${ProcessHandle.current().pid()}"
    issued.add(p)
    p
  }

  private val issued = ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      issued.forEach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(p))
      }))
  }

  /** Test hook: forget every value (on-disk artifacts are rebuilt in
    * place on next use). */
  def clear(): Unit = slots.clear()
}
