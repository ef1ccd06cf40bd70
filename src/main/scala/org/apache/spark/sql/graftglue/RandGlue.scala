package org.apache.spark.sql.graftglue

import org.apache.spark.util.random.XORShiftRandom

/** The per-partition stream of `rand(seed)`. Spark's Rand draws one
  * nextDouble() per row from XORShiftRandom(seed + partitionIndex),
  * a private[spark] class; a kernel that replays the stream over the
  * same partition's rows, in the same order, draws the same doubles. */
object RandGlue {
  def stream(seed: Long, partitionIndex: Int): java.util.Random =
    new XORShiftRandom(seed + partitionIndex)
}
