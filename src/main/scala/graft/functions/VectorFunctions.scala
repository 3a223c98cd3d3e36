package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/**
 * Native Catalyst expressions for the vector hot path [EXT].
 *
 * The higher-order-function formulation (`aggregate(zip_with(a, b, _*_),...)`)
 * allocates an intermediate array and interprets a lambda per element —
 * fine for one-off scoring, too slow for the O(corpus × queries × dim)
 * inner loop of similarity search. [[DotProduct]] is the same computation
 * as a codegen'd primitive loop over the unsafe array data: no
 * allocation, no boxing, fused into whole-stage codegen with the
 * surrounding expressions.
 *
 * Numeric contract: accumulates strictly left-to-right from +0.0 — the
 * exact order both the HOF fold and the DuckDB oracle's `list_reduce`
 * use, so swapping implementations never changes a single bit.
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<double> arguments, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer sibling of [[DotProduct]] for quantized (int8-in-long) vectors:
  * Σ aᵢ·bᵢ over two `array<bigint>` columns as one codegen'd loop — the
  * coarse-stage scoring kernel of two-stage retrieval, replacing the
  * interpreted `aggregate(zip_with(a, b, _*_), 0L, _+_)` HOF pair that
  * dominated [[graft.operators.Similarity.annRerank]]'s corpus × queries
  * hot loop. Integer addition is associative, so unlike the double fold
  * the evaluation order is free and the result is exactly reproducible
  * under any fusion.
  *
  * Contract on malformed input (where this intentionally diverges from
  * the HOF it replaced): a length mismatch truncates to the shorter
  * array (the HOF's `zip_with` null-pads and its fold then returns
  * NULL), and a NULL array ELEMENT reads as 0 through the unsafe
  * accessor (the HOF propagates NULL). Callers needing NULL propagation
  * must pre-validate; both call sites feed equal-dimension, null-free
  * quantized vectors, where the two formulations are bit-identical. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> arguments, got $l and $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Nearest-centroid assignment (argmax cosine over a plan-constant centroid
 * table, ties to the smallest centroid id) as ONE native expression.
 *
 * The previous formulation baked the k·dim centroid doubles into the plan
 * as `array(struct(dot(v, array(lit…))…))` + `array_max` — k·dim literal
 * nodes INLINED into the generated Java of whatever whole-stage-codegen
 * stage the projection fused into. Standalone that compiles fine, but
 * fused into a join's consume path the method cannot be split, blows past
 * the JIT's compilation threshold, and executes as interpreted bytecode
 * (measured: a 2000-row broadcast join evaluating it took ~0.9 s vs
 * ~0.07 s for the same projection in its own stage). Here the centroid
 * matrix rides in the codegen `references` array (`addReferenceObj`) and
 * the per-row work is one static JIT-friendly method call — constant
 * generated-code size no matter k·dim, so the expression can fuse into
 * any stage safely. At 100 TB that matters doubly: assignment stays a
 * zero-shuffle scan AND the scan stays whole-stage-codegen-compiled.
 *
 * Bit-identical to the literal formulation: same left-to-right dot fold,
 * same `dot / (nrm * cn)` double arithmetic, and the argmax mirrors
 * `array_max` over `struct(ccos, -id)` — nan-safe lexicographic max
 * (greatest cosine; ties to the smallest id), NaN greater than any value.
 */
case class NearestCentroid(left: Expression, right: Expression,
    cents: Array[Array[Double]], cns: Array[Double], ids: Array[Long])
    extends BinaryExpression {

  require(cents.length == cns.length && cents.length == ids.length
            && cents.nonEmpty,
    "NearestCentroid needs equal-length, non-empty centroid tables")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, double) arguments, got $l and $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestCentroid.nearest(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Double], cents, cns, ids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm) => {
      val c = ctx.addReferenceObj("cents", cents, "double[][]")
      val n = ctx.addReferenceObj("cns", cns, "double[]")
      val i = ctx.addReferenceObj("ids", ids, "long[]")
      s"${ev.value} = graft.functions.NearestCentroid.nearest($v, $nrm, $c, $n, $i);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {
  /** Spark's nan-safe double compare (NaN greatest, NaN == NaN),
    * the ordering struct-max/min uses for the score field (also the
    * distance compare of [[PqAssign]]). */
  def cmpNanSafe(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || (x == y)) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1 else -1
  }

  /** Argmax cosine(v, cents(j)) with ties to the smallest ids(j). Called
    * from generated code — keep it static and allocation-free. */
  def nearest(v: ArrayData, nrm: Double, cents: Array[Array[Double]],
              cns: Array[Double], ids: Array[Long]): Long = {
    var bestScore = Double.NaN
    var bestId = 0L
    var first = true
    var j = 0
    while (j < cents.length) {
      val cv = cents(j)
      val n = math.min(v.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * cv(i); i += 1 }
      val score = s / (nrm * cns(j))
      val c = if (first) 1 else cmpNanSafe(score, bestScore)
      if (c > 0 || (c == 0 && ids(j) < bestId)) {
        bestScore = score; bestId = ids(j)
      }
      first = false
      j += 1
    }
    bestId
  }
}

/**
 * Product-quantization code assignment — ALL subspaces' argmins in ONE
 * native expression: for each of the `m` codebooks, the argmin squared-L2
 * code of the corresponding subvector of `v` (ties to the smaller code),
 * returned as an `array<bigint>` of `m` codes.
 *
 * Replaces the per-subspace `array_min(transform(bookLit, …))` stack —
 * higher-order functions interpret a lambda per element and allocate a
 * 16-struct array per row PER SUBSPACE (8 × 16 l2sq folds = 1024
 * interpreted lambda frames per row). Here the codebooks ride in the
 * codegen `references` array and the whole assignment is one static
 * JIT-friendly triple loop — constant generated-code size, fuses into any
 * whole-stage-codegen stage (same rationale as [[NearestCentroid]]).
 *
 * Bit-identical to the HOF form: squared-L2 accumulates (x−c)² strictly
 * left-to-right from +0.0 over min(subDim, centroid length) elements, and
 * the argmin mirrors `array_min` over `struct(d, code)` — nan-safe
 * lexicographic min (smallest distance; ties to the smallest code; NaN
 * greater than any value).
 *
 * Subvector m is `v[m·subDim … m·subDim+subDim)` — the [[Similarity]]
 * `pqSub` slice — read in place; no slice allocation.
 */
case class PqAssign(child: Expression, books: Array[Array[Array[Double]]],
    codes: Array[Array[Long]], subDim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(books.length == codes.length && books.nonEmpty &&
            books.indices.forall(m => books(m).length == codes(m).length
                                        && books(m).nonEmpty),
    "PqAssign needs equal-shape, non-empty codebook/code tables")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<double> argument, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_assign"

  override def nullSafeEval(a: Any): Any =
    PqAssign.assign(a.asInstanceOf[ArrayData], books, codes, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.addReferenceObj("books", books, "double[][][]")
      val c = ctx.addReferenceObj("codes", codes, "long[][]")
      s"${ev.value} = graft.functions.PqAssign.assign($v, $b, $c, $subDim);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAssign {
  /** Per-subspace argmin squared-L2 over the codebooks (ties to the
    * smaller code, NaN-safe like `array_min`). Called from generated
    * code — static, one result allocation. */
  def assign(v: ArrayData, books: Array[Array[Array[Double]]],
             codes: Array[Array[Long]], subDim: Int): ArrayData = {
    val out = new Array[Long](books.length)
    var m = 0
    while (m < books.length) {
      val book = books(m)
      val off = m * subDim
      var bestD = Double.NaN
      var bestCode = 0L
      var first = true
      var j = 0
      while (j < book.length) {
        val cv = book(j)
        val n = math.min(subDim, cv.length)
        var d = 0.0
        var i = 0
        while (i < n) {
          val t = v.getDouble(off + i) - cv(i)
          d += t * t
          i += 1
        }
        val c = if (first) -1 else NearestCentroid.cmpNanSafe(d, bestD)
        if (c < 0 || (c == 0 && codes(m)(j) < bestCode)) {
          bestD = d; bestCode = codes(m)(j)
        }
        first = false
        j += 1
      }
      out(m) = bestCode
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object VectorFunctions {
  /** Column-level dot product over two `array<double>` columns. */
  def dotProduct(a: Column, b: Column): Column =
    GraftShims.column(
      DotProduct(GraftShims.expression(a), GraftShims.expression(b)))

  /** Column-level exact integer dot product over two `array<bigint>`
    * columns. */
  def dotProductLong(a: Column, b: Column): Column =
    GraftShims.column(
      DotProductLong(GraftShims.expression(a), GraftShims.expression(b)))

  /** Column-level nearest-centroid assignment: argmax cosine of `v`
    * (norm `nrm`) against the plan-constant centroid table, ties to the
    * smallest id — see [[NearestCentroid]]. */
  def nearestCentroid(v: Column, nrm: Column, cents: Array[Array[Double]],
                      cns: Array[Double], ids: Array[Long]): Column =
    GraftShims.column(NearestCentroid(
      GraftShims.expression(v), GraftShims.expression(nrm), cents, cns, ids))

  /** Column-level PQ code assignment: per-codebook argmin squared-L2
    * codes of `v`'s subvectors as one `array<bigint>` — see [[PqAssign]]. */
  def pqAssign(v: Column, books: Array[Array[Array[Double]]],
               codes: Array[Array[Long]], subDim: Int): Column =
    GraftShims.column(PqAssign(GraftShims.expression(v), books, codes, subDim))
}
