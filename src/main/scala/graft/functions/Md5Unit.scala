package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Native Catalyst expression for the md5-unit contract: uniform
  * [0, 1) from the first 32 bits of md5(input), scaled by 2^-32 —
  * bit-identical to the string chain
  * `conv(substring(md5(s), 1, 8), 16, 10).cast("double") / 2^32`
  * (pinned in Md5UnitSpec against that twin). Every step is exact:
  * the 4 digest bytes ARE the 8 hex chars, an unsigned 32-bit int
  * fits a double, and the scale is a power of two.
  *
  * Why an Expression: the chain costs a fresh MessageDigest, a
  * 32-char hex string, a substring, a base conversion and a
  * string-to-double parse per row; this kernel digests into one
  * per-partition MessageDigest (codegen mutable state) and reads the
  * bytes directly.
  *
  * Input is BinaryType with ImplicitCastInputTypes, exactly like
  * Spark's Md5, so string callers coerce to their UTF-8 bytes the
  * same way. NULL in, NULL out.
  */
case class Md5UnitExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "md5_unit"
  override def inputTypes: Seq[ColumnGlue.AbstractType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Md5Unit.unit(Md5Unit.threadDigest.get(), input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // MessageDigest.getInstance declares a checked exception, which
    // Janino refuses in generated code (whole-stage codegen would
    // then silently fall back to interpreted) — newDigest declares none
    val md = ctx.addMutableState("java.security.MessageDigest", "md5UnitDigest",
      v => s"$v = graft.functions.Md5Unit.newDigest();")
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Unit.unit($md, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5UnitExpr =
    copy(child = newChild)
}

object Md5Unit {

  /** Column form: md5 unit of a binary column, or of a string
    * column's UTF-8 bytes. */
  def md5Unit(c: Column): Column = ColumnGlue.column(Md5UnitExpr(ColumnGlue.expression(c)))

  def newDigest(): MessageDigest = MessageDigest.getInstance("MD5")

  /** Interpreted-mode digest: the expression instance may be shared
    * by threads, a MessageDigest may not. */
  private[functions] val threadDigest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => newDigest())

  /** The kernel: first 4 digest bytes as an unsigned int, / 2^32.
    * `md` is reset by digest(), so one instance serves every row. */
  def unit(md: MessageDigest, bytes: Array[Byte]): Double = {
    val h = md.digest(bytes)
    ((h(0) & 0xffL) << 24 | (h(1) & 0xffL) << 16 | (h(2) & 0xffL) << 8 | (h(3) & 0xffL))
      .toDouble / 4294967296.0
  }

  /** Driver-side md5 unit of a string's UTF-8 bytes — the same
    * kernel the executors run. */
  def unit(md: MessageDigest, s: String): Double =
    unit(md, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** md5 units of `prefix + id` for long ids — what unit(md, prefix +
    * id) returns, without building a string per id: the prefix's
    * UTF-8 bytes are copied once and each id's decimal digits are
    * written after them in a reused buffer. One instance per thread. */
  private[graft] final class IdUnits(prefix: String) {
    private val md = newDigest()
    private val p = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    private val buf = java.util.Arrays.copyOf(p, p.length + 20)
    private val h = new Array[Byte](16)

    def apply(id: Long): Double = {
      var n = p.length
      if (id < 0) { buf(n) = '-'; n += 1 }
      // digits of -|id| (≤ 0, so Long.MinValue needs no special case)
      var v = if (id < 0) id else -id
      var len = 1
      var t = v / 10
      while (t != 0) { len += 1; t /= 10 }
      var j = n + len - 1
      while (j >= n) { buf(j) = ('0' - (v % 10)).toByte; v /= 10; j -= 1 }
      md.update(buf, 0, n + len)
      md.digest(h, 0, 16)
      ((h(0) & 0xffL) << 24 | (h(1) & 0xffL) << 16 | (h(2) & 0xffL) << 8 | (h(3) & 0xffL))
        .toDouble / 4294967296.0
    }
  }
}
