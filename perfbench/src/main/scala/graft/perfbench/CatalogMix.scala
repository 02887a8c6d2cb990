package graft.perfbench

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

import graft.queries.Catalog

/** The relational and LLM-pipeline layer, no raster code: one query from
  * each of six `graft.queries` modules, each written through the noop
  * sink, in an order the seed permutes on every pass.
  *
  * The list is frozen. Per module it takes a query whose cold run (artifact
  * builds included) and warm run are both short on four cores at sf0.001, so
  * that set-up and several passes fit one run. Each one does its module's
  * work on every call: a query whose warm answer is a projection of a cached
  * artifact (`q122_bpe_train` reads its merges from the BPE cache) is not
  * taken. `q136_tokenizer_fertility` reuses the cached BPE dictionary but
  * explodes and joins the whole corpus on each call.
  */
final class CatalogMix(seed: Long, dataDir: String) extends Workload {
  val name = "catalog_mix"
  val setupReps = 1
  val mpx = 0.0

  /** query -> (rows, digest); digest None means the rows are checked by count only. */
  lazy val expected: Map[String, (Long, Option[String])] = CatalogMix.loadExpected(dataDir)

  private def run(ctx: Ctx, q: String): DataFrame = Catalog.queries(q)(ctx.spark, dataDir)

  def setup(ctx: Ctx): Unit = {
    graft.plans.GraftFunctions.installPlanRewrites(ctx.spark)
    // the cold pass: artifact builds, code generation, and the full answer check
    order(0).foreach { case (_, q) =>
      val t0 = System.nanoTime()
      val rows = run(ctx, q).collect()
      Main.log(f"cold $q ${(System.nanoTime() - t0) / 1e9}%.3f s")
      checkRows(ctx, q, rows.length.toLong, Some(CatalogMix.digest(rows.toSeq)))
    }
  }

  def prepare(ctx: Ctx): Unit = { expected; () }

  def order(p: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 1000003L + p).shuffle(CatalogMix.queries)

  /** A query that throws counts as failed; its time stays out of the samples. */
  def pass(ctx: Ctx, p: Int): Seq[OpStat] = order(p).flatMap { case (module, q) =>
    try {
      val obs = Observation()
      val (_, st, _) = ctx.op(module)(run(ctx, q).observe(obs, count(lit(1)).as("rows")))(
        _.write.format("noop").mode("overwrite").save())
      checkRows(ctx, q, obs.get("rows").asInstanceOf[Long], None)
      Some(st)
    } catch {
      case scala.util.control.NonFatal(e) =>
        ctx.check(false, s"$q failed: ${e.getMessage}")
        None
    }
  }

  /** Row count, and digest when one is given and recorded, against the expected values. */
  def checkRows(ctx: Ctx, q: String, rows: Long, digest: Option[String]): Boolean =
    expected.get(q) match {
      case None => ctx.check(false, s"$q: no expected answer recorded")
      case Some((n, d)) =>
        val digestOk = (for (want <- d; got <- digest) yield want == got).getOrElse(true)
        ctx.check(rows == n && digestOk,
          s"$q: $rows rows, digest ${digest.getOrElse("-")}; expected $n rows, digest ${d.getOrElse("-")}")
    }

  def layers(ctx: Ctx, passes: Seq[Seq[OpStat]]): Seq[(String, Double)] =
    CatalogMix.modules.map { m =>
      s"queries.$m.s" -> Stats.median(passes.map(_.filter(_.module == m).map(_.wall).sum))
    }
}

object CatalogMix {
  val queries: Seq[(String, String)] = Seq(
    "Curation" -> "q64_hash_split",
    "Relational" -> "q15_topk",
    "SqlEntry" -> "q43_grouping_sets",
    "StreamParity" -> "q37_sliding_batch",
    "TextPipeline" -> "q57_chunking",
    "Tokenizer" -> "q136_tokenizer_fertility")

  val modules: Seq[String] = queries.map(_._1)

  /** The expected answers sit next to the data they were recorded from. */
  def expectedPath(dataDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dataDir).resolveSibling("catalog_expected.tsv")

  def loadExpected(dataDir: String): Map[String, (Long, Option[String])] = {
    val lines = java.nio.file.Files.readAllLines(expectedPath(dataDir))
    scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(q, n, d) = l.split("\t")
        q -> (n.toLong, if (d == "-") None else Some(d))
      }.toMap
  }

  /** Order-insensitive digest: the wrapping sum of a 64-bit hash per row.
    * Floating values enter with 9 significant digits, so a last-bit
    * difference from a different summation order does not change it.
    */
  def digest(rows: Seq[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case xs: scala.collection.Map[_, _] =>
        xs.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(norm).mkString("[", ",", "]")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case other => other.toString
    }
    val h = rows.foldLeft(0L) { (acc, r) =>
      val s = norm(r)
      val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
      val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x6b43a9b5)
      acc + ((hi.toLong << 32) | (lo.toLong & 0xffffffffL))
    }
    f"$h%016x"
  }
}
