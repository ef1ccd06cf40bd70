package graft.functions

import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow

/** Up to [[VecChunk.Rows]] rows of an (id: long, f: array<double>)
  * projection in primitive arrays — the form every K-Means round
  * kernel reads (VectorKernels). Row r's vector is
  * values(off(r) until off(r + 1)); flags(r) marks a NULL id, a NULL
  * vector (no values) and a NULL element, which is stored as 0.0 —
  * what a Lloyd sum adds for it. A NULL id is stored as 0. */
private[graft] final class VecChunk(val ids: Array[Long], val off: Array[Int],
                                    val values: Array[Double], val flags: Array[Byte])
    extends Serializable {
  import VecChunk._

  def rows: Int = ids.length
  def len(r: Int): Int = off(r + 1) - off(r)
  def has(r: Int, flag: Int): Boolean = (flags(r) & flag) != 0
  /** f has length d and no NULL element — what centValid admits. */
  def whole(r: Int, d: Int): Boolean = (flags(r) & (NullVec | NullElem)) == 0 && len(r) == d
  /** A copy of row r's vector, a NULL element as 0.0. */
  def vector(r: Int): Array[Double] = Arrays.copyOfRange(values, off(r), off(r + 1))
}

private[graft] object VecChunk {
  /** Rows per chunk, fixed: 512 KB of values at the gene data's d = 16,
    * few enough objects per partition that a round's per-chunk cost
    * vanishes beside its per-row loop. */
  final val Rows = 4096

  final val NullId = 1
  final val NullVec = 2
  final val NullElem = 4

  /** `rows` packed in row order: id (long) at `idIdx`, or no id when
    * idIdx < 0; f (array<double>) at `fIdx`. Lazy — when it yields a
    * chunk it has read at most Rows rows past the previous one, so a
    * streaming reader holds one chunk (plus the packer's buffers) per
    * task. Each chunk is trimmed to its rows, ready to persist. */
  def pack(rows: Iterator[InternalRow], idIdx: Int, fIdx: Int): Iterator[VecChunk] =
    new Iterator[VecChunk] {
      private val ids = new Array[Long](Rows)
      private val off = new Array[Int](Rows + 1)
      private val flags = new Array[Byte](Rows)
      private var values = new Array[Double](Rows * 16)

      def hasNext: Boolean = rows.hasNext

      def next(): VecChunk = {
        var n = 0
        var m = 0
        while (n < Rows && rows.hasNext) {
          val r = rows.next()
          var fl = 0
          if (idIdx >= 0) {
            if (r.isNullAt(idIdx)) { fl = NullId; ids(n) = 0L } else ids(n) = r.getLong(idIdx)
          }
          if (r.isNullAt(fIdx)) fl |= NullVec
          else {
            val a = r.getArray(fIdx)
            val len = a.numElements()
            if (m + len > values.length)
              values = Arrays.copyOf(values, math.max(values.length * 2, m + len))
            var i = 0
            while (i < len) {
              if (a.isNullAt(i)) { fl |= NullElem; values(m + i) = 0.0 }
              else values(m + i) = a.getDouble(i)
              i += 1
            }
            m += len
          }
          flags(n) = fl.toByte
          n += 1
          off(n) = m
        }
        new VecChunk(Arrays.copyOf(ids, n), Arrays.copyOf(off, n + 1),
          Arrays.copyOf(values, m), Arrays.copyOf(flags, n))
      }
    }
}
