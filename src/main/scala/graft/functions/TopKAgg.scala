package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import scala.collection.mutable.ArrayBuffer

/** Bounded top-k aggregation: keeps the k (score desc, id asc)-best
  * (id, score) pairs per group.
  *
  * This is the similarity-search scale primitive: a window
  * `row_number() <= k` over (probe × corpus) shuffles EVERY scored row
  * to the probe's partition — O(corpus) network per probe. This
  * Aggregator runs in partial mode before the exchange, so each map
  * task ships at most k pairs per probe: the shuffle is
  * O(k · tasks · probes), independent of corpus size — the same
  * shape-change VectorMeanAgg gives a grouped mean (SURVEY.md §2 op 7-8).
  *
  * Determinism: the final order is (score desc, id asc), so equal
  * scores break toward the lowest id — matching the oracle SQL's
  * ORDER BY score DESC, id.
  */
class TopKAgg(k: Int) extends Aggregator[(Long, Double), ArrayBuffer[(Long, Double)], Seq[(Long, Double)]] {
  require(k > 0, s"k must be positive, got $k")

  // keep buffers slightly over-full and trim lazily to amortize sorting
  private val slack = math.max(4 * k, 64)

  private def trim(b: ArrayBuffer[(Long, Double)]): ArrayBuffer[(Long, Double)] =
    if (b.length <= k) b
    else b.sortInPlace()(ordering).take(k)

  private val ordering: Ordering[(Long, Double)] =
    Ordering.by { case (id, score) => (-score, id) }

  def zero: ArrayBuffer[(Long, Double)] = ArrayBuffer.empty

  // The runtime buffer object persists between reduce calls within a
  // group (serialization only happens at shuffle boundaries), so the
  // ArrayBuffer is appended to IN PLACE — amortized O(1) per row
  // instead of the old O(buffer) `ArrayBuffer.from(seq)` copy per
  // scored pair in the hottest path of the similarity suite.
  def reduce(b: ArrayBuffer[(Long, Double)], v: (Long, Double)): ArrayBuffer[(Long, Double)] = {
    b += v
    if (b.length > slack) trim(b) else b
  }

  def merge(a: ArrayBuffer[(Long, Double)], b: ArrayBuffer[(Long, Double)]): ArrayBuffer[(Long, Double)] = {
    a ++= b
    trim(a)
  }

  def finish(b: ArrayBuffer[(Long, Double)]): Seq[(Long, Double)] =
    b.sorted(ordering).take(k).toSeq

  def bufferEncoder: Encoder[ArrayBuffer[(Long, Double)]] = TopKAgg.bufEnc
  def outputEncoder: Encoder[Seq[(Long, Double)]] = TopKAgg.seqEnc
}

object TopKAgg {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  private[functions] val seqEnc: Encoder[Seq[(Long, Double)]] =
    ExpressionEncoder[Seq[(Long, Double)]]()
  private[functions] val bufEnc: Encoder[ArrayBuffer[(Long, Double)]] =
    ExpressionEncoder[ArrayBuffer[(Long, Double)]]()

  /** `groupBy(probe).agg(topK(k, id, score))` — long id, double score. */
  def topK(k: Int, id: Column, score: Column): Column =
    udaf(new TopKAgg(k)).apply(id, score)

  /** Precondition for every operator that funnels an id through the
    * (long, double) race: a string/UUID id would cast("long") to NULL
    * and degrade SILENTLY (ADVICE r11), and a fractional float id
    * would truncate and alias. Accepted: the integral types and
    * scale-0 decimals — the exact-long-cast family (a surrogate
    * DECIMAL(38,0) id is a common warehouse shape; values beyond the
    * long range are the caller's contract). Driver-side schema check,
    * zero runtime cost. */
  def requireLongCastableId(df: org.apache.spark.sql.DataFrame,
                            idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(longCastable(dt),
      s"$op needs a long-castable id column (TopKAgg race pairs are " +
        s"(long, double)); '$idCol' is ${dt.simpleString} — string/UUID ids " +
        "cast to NULL and fractional ids truncate, both silently; hash to a " +
        "long (xxhash64) or use an integral surrogate id")
  }

  /** Whether cast("long") keeps every value of `dt` exact: the
    * integral types and scale-0 decimals. */
  private[graft] def longCastable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
  }
}
