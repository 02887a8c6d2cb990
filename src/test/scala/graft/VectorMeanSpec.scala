package graft

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** q41_vector_stats' posexplode/avg long form checked against a typed
  * Aggregator that sums each group's vectors element-wise.
  */
class VectorMeanSpec extends SparkSpec {
  import spark.implicits._

  test("typed Aggregator centroids equal the posexplode/avg long form") {
    val e = Tables.embeddings(spark, sf())
    val viaAgg = e.select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new VectorMean(64).toColumn.name("centroid"))
      .collect().toMap
    val viaExplode = graft.SparkEntry.queries("q41_vector_stats")(spark, sf())
      .collect()
      .groupBy(_.getAs[Int]("label"))
      .view.mapValues(_.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("mean_c")))
      .toMap
    assert(viaAgg.keySet == viaExplode.keySet)
    viaAgg.foreach { case (label, centroid) =>
      centroid.zip(viaExplode(label)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 5e-5, s"label $label: $a vs rounded $b")
      }
    }
  }

  test("aggregator handles an empty group gracefully") {
    val empty = spark.emptyDataset[(Int, Array[Float])]
    val out = empty.groupByKey(_._1).mapValues(_._2)
      .agg(new VectorMean(4).toColumn).collect()
    assert(out.isEmpty)
  }
}

/** Element-wise mean of a group of float vectors. The buffer is (running
  * component sums, count); merge is associative and commutative, so Spark
  * combines map-side partials before the shuffle.
  */
final case class VecMeanBuf(sums: Array[Double], n: Long)

class VectorMean(dim: Int)
  extends Aggregator[Array[Float], VecMeanBuf, Array[Double]] {

  override def zero: VecMeanBuf = VecMeanBuf(Array.ofDim[Double](dim), 0L)

  override def reduce(b: VecMeanBuf, a: Array[Float]): VecMeanBuf = {
    require(a.length == dim,
      s"ragged embedding dimensions: got ${a.length}, expected $dim")
    var i = 0
    while (i < dim) { b.sums(i) += a(i); i += 1 }
    VecMeanBuf(b.sums, b.n + 1)
  }

  override def merge(x: VecMeanBuf, y: VecMeanBuf): VecMeanBuf = {
    var i = 0
    while (i < dim) { x.sums(i) += y.sums(i); i += 1 }
    VecMeanBuf(x.sums, x.n + y.n)
  }

  override def finish(b: VecMeanBuf): Array[Double] =
    if (b.n == 0) Array.ofDim[Double](dim) else b.sums.map(_ / b.n)

  override def bufferEncoder: Encoder[VecMeanBuf] = Encoders.product[VecMeanBuf]
  override def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}
