package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for the hot dense-vector folds —
  * squared Euclidean distance, dot product, and the PQ pair (ADC
  * distance over codes + encode) — bit-identical to the HOF forms
  * they replace (kept as twins: VectorOps for the folds, pinned in
  * VectorOpsSpec; Similarity.adcDistHof/encodePQHof for PQ, pinned
  * in PqEncodeSpec) but one primitive double loop per row.
  *
  * Why Expressions: the HOF form materializes the zipped product
  * array, then folds it with per-element lambda dispatch — an array
  * allocation plus ~2 boxed evaluations per dimension per row. In an
  * N×M scoring join (ANN verify, K-Means assignment with k centroid
  * literals) that allocation sits in the innermost loop of the whole
  * engine. The kernels run the SAME arithmetic in the SAME order —
  * per-element product/difference rounded first, then one sequential
  * left-to-right add chain starting at 0.0, no FMA (Java semantics
  * forbid fusing) — so results are bit-equal to the HOFs and to the
  * oracle's list_reduce folds.
  *
  * Null contract (matches the HOF chain exactly): any null element,
  * or a length mismatch (zip_with pads with null), nulls the result;
  * two empty arrays give 0.0 (the fold init).
  */
abstract class VectorFold extends BinaryExpression with ImplicitCastInputTypes {
  /** array<double> via ImplicitCastInputTypes, so SQL callers passing
    * integer/float arrays (e.g. vec_dot(array(1,2), array(3,4))) get
    * the analyzer's element-wise numeric coercion — the same leniency
    * as the HOF twins and Spark's own numeric built-ins — instead of
    * an analysis failure. Leniency cuts both ways, exactly as with
    * built-ins: string arrays also coerce, and a non-numeric string
    * element becomes a null element (non-ANSI mode), which valid()
    * then turns into a null result — a typo'd text column yields
    * NULLs, not an error. */
  override def inputTypes: Seq[ColumnGlue.AbstractType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def kernelCall(a: String, b: String): String

  /** Codegen splits validity (length match + null elements — a bit
    * scan, no allocation) from the primitive fold, so the hot path
    * never boxes the result: a per-row Double.valueOf would be
    * exactly the allocation these kernels exist to remove. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (!graft.functions.VectorKernels.valid($a, $b)) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${kernelCall(a, b)}; }
       """.stripMargin)
}

case class SqDistExpr(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "vec_sqdist"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (!VectorKernels.valid(x, y)) null else VectorKernels.sqDist(x, y)
  }
  override protected def kernelCall(a: String, b: String): String =
    s"graft.functions.VectorKernels.sqDist($a, $b)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistExpr =
    copy(left = l, right = r)
}

case class DotExpr(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "vec_dot"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (!VectorKernels.valid(x, y)) null else VectorKernels.dot(x, y)
  }
  override protected def kernelCall(a: String, b: String): String =
    s"graft.functions.VectorKernels.dot($a, $b)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotExpr =
    copy(left = l, right = r)
}

/** ADC distance over PQ codes — the native form of
  * foldSum(transform(codes, (c, j) => sqDist(slice_j(pv),
  * codeword(j, c)))), with the codebook embedded dense and
  * CID-INDEXED (see the layout note on the kernels below). `books` /
  * `present` are Vectors for sane case-class equality; the codegen
  * path references the primitive arrays directly. */
case class AdcDistExpr(left: Expression, right: Expression,
                       books: Vector[Double], present: Vector[Boolean],
                       m: Int, k: Int, dsub: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "pq_adc_dist"
  override def inputTypes: Seq[ColumnGlue.AbstractType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val booksArr: Array[Double] = books.toArray
  @transient private lazy val presentArr: Array[Boolean] = present.toArray
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (c, p) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (!VectorKernels.adcValid(c, p, presentArr, m, k, dsub)) null
    else VectorKernels.adc(c, p, booksArr, m, k, dsub)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("adcBooks", booksArr, "double[]")
    val presentRef = ctx.addReferenceObj("adcPresent", presentArr, "boolean[]")
    nullSafeCodeGen(ctx, ev, (c, p) =>
      s"""
         |if (!graft.functions.VectorKernels.adcValid($c, $p, $presentRef, $m, $k, $dsub)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.adc($c, $p, $booksRef, $m, $k, $dsub);
         |}
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcDistExpr =
    copy(left = l, right = r)
}

/** PQ encode — the native form of array(assignColumn(codebook_0,
  * slice_0(pv)), ..., assignColumn(codebook_{m-1}, slice_{m-1}(pv))):
  * one primitive pass emitting all m 1-based codes, same distances,
  * same lowest-cid tie-break. */
case class PqEncodeExpr(child: Expression,
                        books: Vector[Double], present: Vector[Boolean],
                        m: Int, k: Int, dsub: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "pq_encode"
  override def inputTypes: Seq[ColumnGlue.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  @transient private lazy val booksArr: Array[Double] = books.toArray
  @transient private lazy val presentArr: Array[Boolean] = present.toArray
  override def nullSafeEval(a: Any): Any = {
    val p = a.asInstanceOf[ArrayData]
    if (!VectorKernels.pqEncodeValid(p, m, dsub)) null
    else VectorKernels.pqEncode(p, booksArr, presentArr, m, k, dsub)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", booksArr, "double[]")
    val presentRef = ctx.addReferenceObj("pqPresent", presentArr, "boolean[]")
    nullSafeCodeGen(ctx, ev, p =>
      s"""
         |if (!graft.functions.VectorKernels.pqEncodeValid($p, $m, $dsub)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.pqEncode($p, $booksRef, $presentRef, $m, $k, $dsub);
         |  if (${ev.value} == null) { ${ev.isNull} = true; }
         |}
       """.stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
}

/** Nearest-centroid id — the native form of array_min over
  * transform(centLit, struct(sqDist, cid)).getField("cid"). `cids`
  * must be ascending (KMeans sorts); a malformed vector (length ≠ d,
  * a null element, or the NULL vector itself) yields the LOWEST cid,
  * exactly as the HOF's struct min does when every dist field is
  * null (nulls-first struct ordering) — pinned in KMeansSpec,
  * including the NULL-input case (review r15: the usual
  * nullSafeEval short-circuit would return NULL instead, silently
  * routing null-embedding rows into the never-probed
  * __HIVE_DEFAULT_PARTITION__ cell of every partitioned index
  * instead of cell cids(0) as every pre-kernel release did — so this
  * expression handles the null child itself). Empty centroid set →
  * null. */
case class NearestCentroidExpr(child: Expression, cids: Vector[Int],
                               cents: Vector[Double], d: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "nearest_centroid"
  override def inputTypes: Seq[ColumnGlue.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = cids.isEmpty
  @transient private lazy val centsArr: Array[Double] = cents.toArray
  @transient private lazy val cidsArr: Array[Int] = cids.toArray
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    if (cids.isEmpty) return null
    val v = child.eval(input)
    if (v == null) return Integer.valueOf(cidsArr(0))
    val pv = v.asInstanceOf[ArrayData]
    if (!VectorKernels.centValid(pv, d)) Integer.valueOf(cidsArr(0))
    else Integer.valueOf(
      cidsArr(VectorKernels.nearestCentroid(pv, centsArr, d)))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    if (cids.isEmpty) {
      return ev.copy(code =
        code"""
          ${childGen.code}
          boolean ${ev.isNull} = true;
          int ${ev.value} = -1;""")
    }
    val centsRef = ctx.addReferenceObj("ncCents", centsArr, "double[]")
    val cidsRef = ctx.addReferenceObj("ncCids", cidsArr, "int[]")
    ev.copy(
      code =
        code"""
          ${childGen.code}
          int ${ev.value} = $cidsRef[0];
          if (!${childGen.isNull} && graft.functions.VectorKernels.centValid(${childGen.value}, $d)) {
            ${ev.value} = $cidsRef[graft.functions.VectorKernels.nearestCentroid(${childGen.value}, $centsRef, $d)];
          }""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroidExpr =
    copy(child = c)
}

/** Gradient row for logistic-regression GD — the native form of
  * concat(transform(x, e => e · r), array(r, l)): one primitive pass
  * emitting [x₁·r … x_d·r, r, l], the (d+2)-vector VectorMeanAgg
  * folds per training row (gradient + bias gradient + loss in one
  * pass). Native for the trainLogReg hot path (VERDICT r18 item 4):
  * the HOF form is CodegenFallback — per row it pays lambda dispatch
  * plus a boxed element allocation per dimension, inside an
  * imperative aggregate's interpreted input projection, once per
  * iteration per row. Same IEEE multiply per element, same element
  * order — bit-identical (pinned in ClassifierSpec against the
  * retained gradRowHof twin).
  *
  * Null contract (the HOF chain's exactly): NULL x nulls the row
  * (transform → concat propagate); a NULL x element or NULL r nulls
  * that element; r and l ride along nullable. */
case class GradRowExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "lr_grad_row"
  override def inputTypes: Seq[ColumnGlue.AbstractType] =
    Seq(ArrayType(DoubleType), DoubleType, DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = first.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val x = first.eval(input)
    if (x == null) return null
    VectorKernels.gradRow(x.asInstanceOf[ArrayData],
      second.eval(input).asInstanceOf[java.lang.Double],
      third.eval(input).asInstanceOf[java.lang.Double])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val xGen = first.genCode(ctx)
    val rGen = second.genCode(ctx)
    val lGen = third.genCode(ctx)
    ev.copy(code =
      code"""
        ${xGen.code}
        boolean ${ev.isNull} = ${xGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${rGen.code}
          ${lGen.code}
          ${ev.value} = graft.functions.VectorKernels.gradRow(${xGen.value},
            ${rGen.isNull} ? null : java.lang.Double.valueOf(${rGen.value}),
            ${lGen.isNull} ? null : java.lang.Double.valueOf(${lGen.value}));
        }""")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): GradRowExpr =
    copy(first = f, second = s, third = t)
}

/** Residual against an assigned coarse cell — vec − centroid(cell),
  * the IVF-ADC subtraction (Jégou, Douze & Schmid, TPAMI 2011): in
  * residual PQ mode every stored code quantizes x − c(x) and every
  * probe ADCs with q − c(cell), so this expression sits once per
  * corpus row at index build and once per (probe, cell) pair at
  * stream serve. Native for the same reason as the PQ pair: the HOF
  * form (zip_with over an element_at into a map literal) allocates
  * per row outside whole-stage codegen. `cids` ascending (KMeans
  * sorts), looked up by binary search — cids are arbitrary ints
  * (k-means++ seeds use row ids), so no dense array by cid.
  *
  * Null contract: null vec, null cell, a cell id not in the set, or
  * a malformed vec (length ≠ d / null element) nulls the result —
  * encodePQ then nulls the codes, exactly as a malformed raw vector
  * does (the HOF twin diverges on malformed input only: zip_with
  * pads, this nulls — the kernels' documented gentler contract). */
case class CellResidualExpr(left: Expression, right: Expression,
                            cids: Vector[Int], cents: Vector[Double], d: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "cell_residual"
  override def inputTypes: Seq[ColumnGlue.AbstractType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  @transient private lazy val cidsArr: Array[Int] = cids.toArray
  @transient private lazy val centsArr: Array[Double] = cents.toArray
  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val idx = java.util.Arrays.binarySearch(cidsArr, b.asInstanceOf[Int])
    if (idx < 0 || !VectorKernels.centValid(v, d)) null
    else VectorKernels.cellResidual(v, centsArr, idx * d, d)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("crCids", cidsArr, "int[]")
    val centsRef = ctx.addReferenceObj("crCents", centsArr, "double[]")
    val idx = ctx.freshName("crIdx")
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"""
         |int $idx = java.util.Arrays.binarySearch($cidsRef, $c);
         |if ($idx < 0 || !graft.functions.VectorKernels.centValid($v, $d)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.cellResidual($v, $centsRef, $idx * $d, $d);
         |}
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CellResidualExpr =
    copy(left = l, right = r)
}

/** Squared distance to the nearest centroid — the native form of
  * array_min over transform(centLit, sqDist). A malformed vector
  * nulls (array_min skips null elements; all null → null); empty
  * centroid set → null. */
case class MinSqDistToSetExpr(child: Expression, cents: Vector[Double], d: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "min_sqdist_to_set"
  override def inputTypes: Seq[ColumnGlue.AbstractType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val centsArr: Array[Double] = cents.toArray
  override def nullSafeEval(a: Any): Any = {
    val pv = a.asInstanceOf[ArrayData]
    if (cents.isEmpty || !VectorKernels.centValid(pv, d)) null
    else java.lang.Double.valueOf(
      VectorKernels.minSqDistToSet(pv, centsArr, d))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("msdCents", centsArr, "double[]")
    nullSafeCodeGen(ctx, ev, p =>
      if (cents.isEmpty) s"${ev.isNull} = true;"
      else
        s"""
           |if (!graft.functions.VectorKernels.centValid($p, $d)) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = graft.functions.VectorKernels.minSqDistToSet($p, $centsRef, $d);
           |}
         """.stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): MinSqDistToSetExpr =
    copy(child = c)
}

object VectorKernels {

  def sqDistCol(a: Column, b: Column): Column =
    ColumnGlue.column(SqDistExpr(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  def dotCol(a: Column, b: Column): Column =
    ColumnGlue.column(DotExpr(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  def gradRowCol(x: Column, r: Column, l: Column): Column =
    ColumnGlue.column(GradRowExpr(ColumnGlue.expression(x),
      ColumnGlue.expression(r), ColumnGlue.expression(l)))

  /** [x₁·r … x_d·r, r, l] — call with x non-null (GradRowExpr gates).
    * Fast path: no null element anywhere → one primitive array; the
    * boxed path replays the HOF chain's per-element null propagation
    * (x_i or r null → null element). */
  def gradRow(x: ArrayData, r: java.lang.Double,
              l: java.lang.Double): ArrayData = {
    val d = x.numElements()
    var clean = r != null && l != null
    var i = 0
    while (clean && i < d) { clean = !x.isNullAt(i); i += 1 }
    if (clean) {
      val rv = r.doubleValue()
      val out = new Array[Double](d + 2)
      var j = 0
      while (j < d) { out(j) = x.getDouble(j) * rv; j += 1 }
      out(d) = rv
      out(d + 1) = l.doubleValue()
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    val out = new Array[Any](d + 2)
    var j = 0
    while (j < d) {
      out(j) = if (r == null || x.isNullAt(j)) null
               else java.lang.Double.valueOf(x.getDouble(j) * r.doubleValue())
      j += 1
    }
    out(d) = r
    out(d + 1) = l
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Lengths equal and no null element — the HOF chain's implicit
    * null contract, checked WITHOUT computing (and without boxing a
    * nullable result). */
  def valid(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Primitive folds — call only after valid(a, b). */
  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc = acc + d * d
      i += 1
    }
    acc
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = acc + a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  // ── PQ kernels (ADC distance + encode) ───────────────────────────
  //
  // Same rationale as the folds above, but the stakes are higher: ADC
  // sits in the innermost loop of every PQ/IVF-PQ serve (one call per
  // (probe, candidate) pair) and encode in every index build (one per
  // corpus row), and the HOF forms they replace (transform + slice +
  // element_at per subspace) are evaluated OUTSIDE whole-stage codegen
  // with per-subspace array allocations — measured 16× slower per pair
  // than the plain float fold at the sf10 stress. The kernels run the
  // SAME arithmetic in the SAME order (per-subspace sequential sqDist
  // fold, subspaces ascending, one left-to-right add chain from 0.0),
  // so results are bit-equal to the HOF twins kept in Similarity.
  //
  // Codebook layout (built once per plan by Similarity.denseBooks):
  // dense cid-indexed arrays — books((j·k + (c-1))·dsub + i) is
  // codeword c of subspace j, present(j·k + c - 1) says whether cid c
  // exists. Lookup is BY CID, not by position: a Lloyd-trained
  // codebook can lose empty cells (KMeans.fit keepEmpty=false), and a
  // positional lookup against a sparse cid set silently reads the
  // WRONG codeword for every code above a vanished cid.

  def adcCol(codes: Column, pv: Column, books: Array[Double],
             present: Array[Boolean], m: Int, k: Int, dsub: Int): Column =
    ColumnGlue.column(AdcDistExpr(ColumnGlue.expression(codes),
      ColumnGlue.expression(pv), books.toVector, present.toVector, m, k, dsub))

  def pqEncodeCol(pv: Column, books: Array[Double], present: Array[Boolean],
                  m: Int, k: Int, dsub: Int): Column =
    ColumnGlue.column(PqEncodeExpr(ColumnGlue.expression(pv),
      books.toVector, present.toVector, m, k, dsub))

  /** ADC validity. A vanished/absent cid, a probe vector too short
    * for the used subspaces, or a null code/probe element nulls the
    * distance — matching the HOF twin (null codeword slot → null
    * sqDist term). A code OUTSIDE 1..k or more codes than subspaces
    * also nulls here, where the HOF twin's ANSI element_at throws —
    * the kernel is deliberately the gentler contract (corrupt codes
    * surface as dropped candidates, pinned in PqEncodeSpec). */
  def adcValid(codes: ArrayData, pv: ArrayData, present: Array[Boolean],
               m: Int, k: Int, dsub: Int): Boolean = {
    val n = codes.numElements()
    if (n > m || pv.numElements() < n * dsub) return false
    var j = 0
    while (j < n) {
      if (codes.isNullAt(j)) return false
      val c = codes.getInt(j)
      if (c < 1 || c > k || !present(j * k + c - 1)) return false
      j += 1
    }
    var i = 0
    val used = n * dsub
    while (i < used) {
      if (pv.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** ADC distance — call only after adcValid. Identical add chain to
    * foldSum(transform(codes, j => sqDist(slice_j(pv), codeword))):
    * per-subspace sequential folds, then one ascending-j sum. */
  def adc(codes: ArrayData, pv: ArrayData, books: Array[Double],
          m: Int, k: Int, dsub: Int): Double = {
    val n = codes.numElements()
    var total = 0.0
    var j = 0
    while (j < n) {
      val base = (j * k + codes.getInt(j) - 1) * dsub
      val off = j * dsub
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val d = pv.getDouble(off + i) - books(base + i)
        acc = acc + d * d
        i += 1
      }
      total = total + acc
      j += 1
    }
    total
  }

  // ── K-Means assignment kernels ────────────────────────────────────
  //
  // Native forms of assignColumn / minSqDistColumn (array_min over
  // transform(centLit, struct(sqDist, cid))) — the innermost loop of
  // every Lloyd pass, every IVF index build, SemDeDup's cell
  // partition, and the K-Means cost rows. Same selection contract:
  // centroids visited in ascending-cid order, strict-improvement
  // compare (java.lang.Double.compare — matches Spark's double
  // ordering: squared distances are never -0.0, NaN sorts largest),
  // so ties break to the lowest cid bit-identically to the struct
  // min. Centroids embed flat (idx·d + i), cids as a parallel array —
  // cids are arbitrary ints (k-means++ seeds use row ids), NOT 1..k.

  def nearestCentroidCol(pv: Column, cids: Array[Int], cents: Array[Double],
                         d: Int): Column =
    ColumnGlue.column(NearestCentroidExpr(ColumnGlue.expression(pv),
      cids.toVector, cents.toVector, d))

  def minSqDistToSetCol(pv: Column, cents: Array[Double], d: Int): Column =
    ColumnGlue.column(MinSqDistToSetExpr(ColumnGlue.expression(pv),
      cents.toVector, d))

  def cellResidualCol(v: Column, cell: Column, cids: Array[Int],
                      cents: Array[Double], d: Int): Column =
    ColumnGlue.column(CellResidualExpr(ColumnGlue.expression(v),
      ColumnGlue.expression(cell), cids.toVector, cents.toVector, d))

  /** vec − centroid — call only after centValid; `base` is the
    * centroid's flat offset (ascending-cid position · d). Plain IEEE
    * subtraction per element, bit-identical to the HOF zip_with twin
    * and to the oracle's list_transform(list_zip(...), p->p[1]-p[2]). */
  def cellResidual(v: ArrayData, cents: Array[Double], base: Int, d: Int): ArrayData = {
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      out(i) = v.getDouble(i) - cents(base + i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The HOF sqDist nulls on a length mismatch or a null element;
    * with one uniform centroid dim that is all-or-nothing per row. */
  def centValid(pv: ArrayData, d: Int): Boolean = {
    if (pv.numElements() != d) return false
    var i = 0
    while (i < d) {
      if (pv.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Index (ascending-cid position, NOT the cid) of the nearest
    * centroid — call only after centValid and with n ≥ 1 centroids. */
  def nearestCentroid(pv: ArrayData, cents: Array[Double], d: Int): Int = {
    val n = cents.length / d
    var best = Double.NaN
    var bestIdx = -1
    var c = 0
    while (c < n) {
      val base = c * d
      var acc = 0.0
      var i = 0
      while (i < d) {
        val x = pv.getDouble(i) - cents(base + i)
        acc = acc + x * x
        i += 1
      }
      if (bestIdx == -1 || java.lang.Double.compare(acc, best) < 0) {
        best = acc; bestIdx = c
      }
      c += 1
    }
    bestIdx
  }

  /** Squared distance to the nearest centroid — call only after
    * centValid and with n ≥ 1 centroids. Same loop as above; the
    * returned value is one of the exact per-centroid sqDists (a
    * selection, not a re-fold) — bit-identical to array_min over the
    * HOF distances. */
  def minSqDistToSet(pv: ArrayData, cents: Array[Double], d: Int): Double = {
    val n = cents.length / d
    var best = Double.NaN
    var first = true
    var c = 0
    while (c < n) {
      val base = c * d
      var acc = 0.0
      var i = 0
      while (i < d) {
        val x = pv.getDouble(i) - cents(base + i)
        acc = acc + x * x
        i += 1
      }
      if (first || java.lang.Double.compare(acc, best) < 0) {
        best = acc; first = false
      }
      c += 1
    }
    best
  }

  // ── K-Means round kernels ─────────────────────────────────────────
  //
  // One kernel per K-Means round type, each ONE primitive loop over a
  // partition's VecChunks. KMeans packs its fit's (id, f) projection
  // once (toRdd → VecChunk.pack, persisted MEMORY_AND_DISK like
  // Dataset.cache) and every round reads those chunks: a round is a
  // single-stage job with no Catalyst plan, no exchange, no encoder
  // and no decode of a columnar cache back into UnsafeRows. Public
  // step() packs its rows as it streams them, one chunk live per
  // task. A task returns O(k·d) numbers, except the k-means‖ parity
  // cost (its sorted d² values) and draw (its sampled rows). Same
  // arithmetic as the twins in KMeansTwins (the SQL inits and rounds,
  // and the row kernels over the cached projection), pinned in
  // KMeansSpec.

  /** nearestCentroid over the packed vector at v(o): the ascending-cid
    * position of the nearest centroid, its d² left in best(0) — the
    * value minSqDistToSet selects. Call with a whole row. Centroids
    * are scanned four at a time: four independent add chains, each in
    * nearestCentroid's order, so every d² is bit-identical while the
    * chains overlap in the FPU; the four are then compared in
    * ascending position. */
  private def nearestAt(v: Array[Double], o: Int, cents: Array[Double], d: Int,
                        best: Array[Double]): Int = {
    val n = cents.length / d
    var bestIdx = -1
    var bst = 0.0
    var c = 0
    while (c + 4 <= n) {
      val b0 = c * d
      val b1 = b0 + d
      val b2 = b1 + d
      val b3 = b2 + d
      var a0 = 0.0
      var a1 = 0.0
      var a2 = 0.0
      var a3 = 0.0
      var i = 0
      while (i < d) {
        val x = v(o + i)
        val y0 = x - cents(b0 + i)
        val y1 = x - cents(b1 + i)
        val y2 = x - cents(b2 + i)
        val y3 = x - cents(b3 + i)
        a0 = a0 + y0 * y0
        a1 = a1 + y1 * y1
        a2 = a2 + y2 * y2
        a3 = a3 + y3 * y3
        i += 1
      }
      if (bestIdx == -1 || java.lang.Double.compare(a0, bst) < 0) { bst = a0; bestIdx = c }
      if (java.lang.Double.compare(a1, bst) < 0) { bst = a1; bestIdx = c + 1 }
      if (java.lang.Double.compare(a2, bst) < 0) { bst = a2; bestIdx = c + 2 }
      if (java.lang.Double.compare(a3, bst) < 0) { bst = a3; bestIdx = c + 3 }
      c += 4
    }
    while (c < n) {
      val base = c * d
      var acc = 0.0
      var i = 0
      while (i < d) {
        val x = v(o + i) - cents(base + i)
        acc = acc + x * x
        i += 1
      }
      if (bestIdx == -1 || java.lang.Double.compare(acc, bst) < 0) { bst = acc; bestIdx = c }
      c += 1
    }
    best(0) = bst
    bestIdx
  }

  /** `f(chunk, row, d²)` for every row with a d² to `cents` — a whole
    * row (MinSqDistToSetExpr nulls the others) — in row order. */
  private def foreachSqDist(chunks: Iterator[VecChunk], cents: Array[Double], d: Int)
                           (f: (VecChunk, Int, Double) => Unit): Unit = {
    val best = new Array[Double](1)
    chunks.foreach { ch =>
      var r = 0
      while (r < ch.rows) {
        if (ch.whole(r, d)) {
          nearestAt(ch.values, ch.off(r), cents, d, best)
          f(ch, r, best(0))
        }
        r += 1
      }
    }
  }

  /** One partition's Lloyd sums. Each row goes to its nearest
    * centroid's ascending-cid position, or to position 0 when it has a
    * NULL element — NearestCentroidExpr's routing — and adds its
    * values there (a NULL element as 0.0, what VectorMeanAgg's encoder
    * read). A NULL vector counts toward no mean; a length ≠ d refuses.
    * `cost` sums the rows' d² in row order from 0.0: the cost of
    * `cents`, as Spark's sum(minSqDist) takes it per partition. */
  private[graft] def lloydSums(chunks: Iterator[VecChunk], cents: Array[Double], d: Int): LloydSums = {
    val acc = new LloydSums(cents.length / d, d)
    val best = new Array[Double](1)
    chunks.foreach { ch =>
      var r = 0
      while (r < ch.rows) {
        if (!ch.has(r, VecChunk.NullVec)) {
          require(ch.len(r) == d, s"ragged vector in group: expected dim $d, got ${ch.len(r)}")
          if (ch.has(r, VecChunk.NullElem)) acc.add(0, ch.values, ch.off(r))
          else {
            acc.add(nearestAt(ch.values, ch.off(r), cents, d, best), ch.values, ch.off(r))
            acc.cost += best(0)
          }
        }
        r += 1
      }
    }
    acc
  }

  /** One partition's k-means++ race entry: the minimum (key, id) over
    * rows with key = -ln(u)/d², u the md5 unit of `prefix + id`, d²
    * the squared distance to the nearest chosen centroid — or nothing.
    * The SQL form's exclusions, in its arithmetic: a NULL id (u is
    * NULL), a NULL or malformed f (d² is NULL), d² ≤ 0, u ≤ 0 (Spark's
    * Log is StrictMath.log and NULL there) and a NaN key. Equal
    * (key, id) keep the earlier row. u is computed only for rows that
    * survive the d² test. */
  private[graft] def plusPlusRace(chunks: Iterator[VecChunk], chosen: Array[Double], d: Int,
                   prefix: String): Iterator[(Double, Long, Array[Double])] = {
    val unit = new Md5Unit.IdUnits(prefix)
    val best = new Array[Double](1)
    var found = false
    var bestKey = 0.0
    var bestId = 0L
    var bestF: Array[Double] = null
    chunks.foreach { ch =>
      var r = 0
      while (r < ch.rows) {
        if (!ch.has(r, VecChunk.NullId) && ch.whole(r, d)) {
          nearestAt(ch.values, ch.off(r), chosen, d, best)
          val d2 = best(0)
          if (d2 > 0.0) {
            val id = ch.ids(r)
            val u = unit(id)
            if (u > 0.0) {
              val key = -StrictMath.log(u) / d2
              if (!key.isNaN &&
                  (!found || key < bestKey || (key == bestKey && id < bestId))) {
                found = true; bestKey = key; bestId = id; bestF = ch.vector(r)
              }
            }
          }
        }
        r += 1
      }
    }
    if (found) Iterator.single((bestKey, bestId, bestF)) else Iterator.empty
  }

  /** One partition's round-0 pick of k-means++ / k-means‖: the least
    * (u, id), u the md5 unit of `prefix + id`, over rows with a
    * non-NULL id and vector (any length) — or nothing. Equal pairs
    * keep the earlier row. */
  private[graft] def leastUnit(chunks: Iterator[VecChunk],
                prefix: String): Iterator[(Double, Long, Array[Double])] = {
    val unit = new Md5Unit.IdUnits(prefix)
    var found = false
    var bestU = 0.0
    var bestId = 0L
    var bestF: Array[Double] = null
    chunks.foreach { ch =>
      var r = 0
      while (r < ch.rows) {
        if (!ch.has(r, VecChunk.NullId | VecChunk.NullVec)) {
          val id = ch.ids(r)
          val u = unit(id)
          if (!found || u < bestU || (u == bestU && id < bestId)) {
            found = true; bestU = u; bestId = id; bestF = ch.vector(r)
          }
        }
        r += 1
      }
    }
    if (found) Iterator.single((bestU, bestId, bestF)) else Iterator.empty
  }

  /** One partition's cost of `cents`: the rows' d² summed in row order
    * from 0.0, as Spark's sum aggregate takes it per partition. */
  private[graft] def costSum(chunks: Iterator[VecChunk], cents: Array[Double], d: Int): Double = {
    var s = 0.0
    foreachSqDist(chunks, cents, d)((_, _, d2) => s += d2)
    s
  }

  /** One partition's d² values to `cents`, sorted ascending (NaN last,
    * as array_sort) — the k-means‖ parity cost's share of its fold. */
  private[graft] def sortedSqDists(chunks: Iterator[VecChunk], cents: Array[Double], d: Int): Array[Double] = {
    val b = new scala.collection.mutable.ArrayBuilder.ofDouble
    foreachSqDist(chunks, cents, d)((_, _, d2) => b += d2)
    val out = b.result()
    java.util.Arrays.sort(out)
    out
  }

  /** One partition's k-means‖ draw, in row order: the rows with a
    * non-NULL id and a d² to `cents` whose md5 unit u of `prefix + id`
    * is below p = least(1, l·d²/cost) — Spark's least, which takes 1
    * over a NaN. */
  private[graft] def parallelDraw(chunks: Iterator[VecChunk], cents: Array[Double], d: Int, prefix: String,
                   l: Double, cost: Double): Iterator[(Long, Array[Double])] = {
    val unit = new Md5Unit.IdUnits(prefix)
    val out = Vector.newBuilder[(Long, Array[Double])]
    foreachSqDist(chunks, cents, d) { (ch, r, d2) =>
      if (!ch.has(r, VecChunk.NullId)) {
        val x = l * d2 / cost
        val p = if (x < 1.0) x else 1.0
        val id = ch.ids(r)
        if (unit(id) < p) out += id -> ch.vector(r)
      }
    }
    out.result().iterator
  }

  /** One partition's row count per nearest ascending-cid position —
    * NearestCentroidExpr's routing, which sends a NULL or malformed
    * vector to position 0. */
  private[graft] def nearestCounts(chunks: Iterator[VecChunk], cents: Array[Double], d: Int): Array[Long] = {
    val n = new Array[Long](cents.length / d)
    val best = new Array[Double](1)
    chunks.foreach { ch =>
      var r = 0
      while (r < ch.rows) {
        n(if (ch.whole(r, d)) nearestAt(ch.values, ch.off(r), cents, d, best) else 0) += 1L
        r += 1
      }
    }
    n
  }

  /** One partition's first k rows with a non-NULL vector in KeyedRow
    * order. `rand`, when given, is the partition's rand(seed) stream
    * (RandGlue.stream): it draws one double per row, NULL vector or
    * not, as Rand does in a projection; without it every draw is 0.0.
    * Only rows that beat the current k-th enter the buffer, so a
    * partition in id order copies k vectors. */
  private[graft] def leastRows(chunks: Iterator[VecChunk], k: Int, rand: java.util.Random): Array[KeyedRow] = {
    if (k <= 0) return Array.empty
    var buf = Vector.empty[KeyedRow]
    var kth: KeyedRow = null
    def trim(): Unit = { buf = buf.sorted(KeyedRow.order).take(k); if (buf.length == k) kth = buf.last }
    chunks.foreach { ch =>
      var r = 0
      while (r < ch.rows) {
        val draw = if (rand == null) 0.0 else rand.nextDouble()
        if (!ch.has(r, VecChunk.NullVec)) {
          val nullId = ch.has(r, VecChunk.NullId)
          if (kth == null || KeyedRow.before(draw, nullId, ch.ids(r), kth)) {
            buf :+= KeyedRow(draw, nullId, ch.ids(r), ch.vector(r))
            if (buf.length >= 2 * k) trim()
          }
        }
        r += 1
      }
    }
    trim()
    buf.toArray
  }

  /** One partition's rows whose id is in `ids`, in row order, a NULL
    * vector as null. */
  private[graft] def rowsWithIds(chunks: Iterator[VecChunk], ids: Set[Long]): Iterator[(Long, Array[Double])] =
    chunks.flatMap { ch =>
      (0 until ch.rows).iterator
        .filter(r => !ch.has(r, VecChunk.NullId) && ids(ch.ids(r)))
        .map(r => ch.ids(r) -> (if (ch.has(r, VecChunk.NullVec)) null else ch.vector(r)))
    }

  /** Encode validity: vector long enough for all m subspaces and no
    * null element in the used range; extra trailing elements are
    * ignored, as slice ignores them. The HOF twin enforces the same
    * gate explicitly (encodePQHof's `when(valid, …)` — review r15:
    * without it the per-subspace argmin would fabricate the lowest
    * cid for a truncated slice instead of nulling, because
    * assignColumn's malformed-vector convention is lowest-cid, and
    * garbage codes would be silently indexed). */
  def pqEncodeValid(pv: ArrayData, m: Int, dsub: Int): Boolean = {
    if (pv.numElements() < m * dsub) return false
    var i = 0
    val used = m * dsub
    while (i < used) {
      if (pv.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** PQ encode — call only after pqEncodeValid. Per subspace, the
    * 1-based cid of the nearest PRESENT codeword; ties break to the
    * lowest cid, exactly like assignColumn's array_min over
    * struct(dist, cid) (strict-improvement compare in ascending cid
    * order; java.lang.Double.compare matches Spark's double ordering
    * here because squared distances are never -0.0). Returns null when
    * some subspace has no codeword at all (an impossible fit output,
    * but a constructible model). */
  def pqEncode(pv: ArrayData, books: Array[Double], present: Array[Boolean],
               m: Int, k: Int, dsub: Int): ArrayData = {
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * dsub
      var best = Double.NaN
      var bestC = -1
      var c = 1
      while (c <= k) {
        if (present(j * k + c - 1)) {
          val base = (j * k + c - 1) * dsub
          var acc = 0.0
          var i = 0
          while (i < dsub) {
            val d = pv.getDouble(off + i) - books(base + i)
            acc = acc + d * d
            i += 1
          }
          if (bestC == -1 || java.lang.Double.compare(acc, best) < 0) {
            best = acc; bestC = c
          }
        }
        c += 1
      }
      if (bestC == -1) return null
      codes(j) = bestC
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }
}

/** Per-cluster sums of one Lloyd step: sums(c·d + i) and n(c) over the
  * vectors at ascending-cid position c, and `cost`, the rows' summed
  * d² to the step's centroids. A cluster's first vector is adopted
  * (not added to 0.0, so -0.0 survives) and later ones added in
  * arrival order; partials merge the same way, in the order given —
  * VectorMeanAgg's reduce/merge arithmetic without its encoder. */
final class LloydSums(val k: Int, val d: Int) extends Serializable {
  val sums = new Array[Double](k * d)
  val n = new Array[Long](k)
  var cost = 0.0

  /** Adds the d values at v(o) to position c. */
  def add(c: Int, v: Array[Double], o: Int): Unit = {
    val base = c * d
    if (n(c) == 0L) System.arraycopy(v, o, sums, base, d)
    else {
      var i = 0
      while (i < d) { sums(base + i) += v(o + i); i += 1 }
    }
    n(c) += 1L
  }

  def merge(o: LloydSums): LloydSums = {
    var c = 0
    while (c < k) {
      if (o.n(c) > 0L) {
        val base = c * d
        var i = 0
        if (n(c) == 0L) System.arraycopy(o.sums, base, sums, base, d)
        else while (i < d) { sums(base + i) += o.sums(base + i); i += 1 }
        n(c) += o.n(c)
      }
      c += 1
    }
    cost += o.cost
    this
  }

  /** Element-wise mean of position c — call with n(c) > 0. */
  def mean(c: Int): Array[Double] = Array.tabulate(d)(i => sums(c * d + i) / n(c))
}

/** A row leastRows keeps: its rand draw (0.0 without one), its id
  * (NULL as nullId) and a copy of its vector. */
private[graft] final case class KeyedRow(draw: Double, nullId: Boolean, id: Long, f: Array[Double])

private[graft] object KeyedRow {
  /** (draw, id) ascending with NULL ids first — orderBy(rand(seed),
    * id) and orderBy(id); a stable sort keeps equal keys in row order. */
  val order: Ordering[KeyedRow] = new Ordering[KeyedRow] {
    def compare(a: KeyedRow, b: KeyedRow): Int =
      if (before(a.draw, a.nullId, a.id, b)) -1
      else if (before(b.draw, b.nullId, b.id, a)) 1
      else 0
  }

  def before(draw: Double, nullId: Boolean, id: Long, b: KeyedRow): Boolean =
    draw < b.draw || (draw == b.draw &&
      (if (nullId || b.nullId) nullId && !b.nullId else id < b.id))
}
