package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise mean of a group of equal-length double vectors.
  *
  * The grouped form of the reference's combiner + reducer pair
  * (`KMeans.java:128-144` list-concat combiner, `KMeans.java:148-198`
  * reducer mean; SURVEY.md §7.3). Unlike the reference — whose
  * combiner only concatenates row lists, so every feature vector still
  * crosses the network — Spark runs this Aggregator in partial mode
  * before the exchange, so each map task ships exactly one (sum[d],
  * count) pair per group: (d+1) numbers per group per task instead of
  * all rows, a shuffle independent of row count.
  *
  * Callers: Classifier (standardizer moments and the per-iteration
  * logistic-regression gradient) and Similarity.groupCentroids.
  * K-Means sums the same way without a shuffle, one single-stage job
  * per Lloyd step (VectorKernels.lloydSums), pinned against the
  * groupBy form of this aggregate in KMeansTwins.
  *
  * Buffer = (running element-wise sum, count). The sum array starts
  * empty and adopts the first vector's length (the reference discovers
  * dimensionality per row, `KMeans.java:92-96`) — but unlike the
  * reference, which would silently mis-index a ragged file
  * (SURVEY.md §1.3), a later vector of a different length fails fast.
  */
class VectorMeanAgg extends Aggregator[Array[Double], (Array[Double], Long), Array[Double]] {
  def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)

  def reduce(b: (Array[Double], Long), v: Array[Double]): (Array[Double], Long) = {
    if (v == null) return b
    val (s, n) = b
    if (n == 0L) (v.clone(), 1L)
    else {
      require(v.length == s.length,
        s"ragged vector in group: expected dim ${s.length}, got ${v.length}")
      var i = 0
      while (i < s.length) { s(i) += v(i); i += 1 }
      (s, n + 1L)
    }
  }

  def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._2 == 0L) b
    else if (b._2 == 0L) a
    else {
      require(a._1.length == b._1.length,
        s"ragged vector in group: expected dim ${a._1.length}, got ${b._1.length}")
      val s = a._1
      var i = 0
      while (i < s.length) { s(i) += b._1(i); i += 1 }
      (s, a._2 + b._2)
    }
  }

  def finish(b: (Array[Double], Long)): Array[Double] = {
    val (s, n) = b
    if (n == 0L) null
    else {
      val out = new Array[Double](s.length)
      var i = 0
      while (i < s.length) { out(i) = s(i) / n; i += 1 }
      out
    }
  }

  def bufferEncoder: Encoder[(Array[Double], Long)] =
    Encoders.tuple(ExprEnc.arrayDouble, Encoders.scalaLong)
  def outputEncoder: Encoder[Array[Double]] = ExprEnc.arrayDouble
}

object VectorMeanAgg {
  /** Column form: `df.groupBy("cluster").agg(VectorMeanAgg.vecMean($"features"))`. */
  def vecMean(c: Column): Column = udaf(new VectorMeanAgg).apply(c)
}

private[graft] object ExprEnc {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import scala.reflect.runtime.universe.TypeTag
  private def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
  val arrayDouble: Encoder[Array[Double]] = enc[Array[Double]]
}
