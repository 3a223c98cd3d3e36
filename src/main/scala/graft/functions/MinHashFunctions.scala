package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * All [[numHashes]] minhash values of a shingle array in ONE native pass
 * [EXT] — the codegen replacement for the row-local signature form's
 * interpreted HOF pipeline:
 *
 *   hs  = transform(shingles, s => md5Long(s) % m)        // 1 pass
 *   mhᵢ = array_min(transform(hs, x => (x*(2i+1) + (i+1)*7919) % m))
 *                                                          // 16 passes
 *
 * Every `transform` is CodegenFallback (an interpreted lambda closure
 * per element, plus an intermediate array per pass), so the stateless
 * streaming signature paid 17 interpreted passes per document — and,
 * because the guard filter `size(hs) > 0` repeated the md5 pass's whole
 * expression, the shingle hashing ran TWICE per row (no cross-operator
 * subexpression elimination outside whole-stage codegen). This
 * expression takes the shingle strings directly and runs md5 → mod →
 * 16 running mins in one fused loop (the [[WsTokens]]/[[NgramsJoined]]
 * treatment applied to the minhash family).
 *
 * BIT-EXACT equivalence to the HOF form (MinHashSigsSpec pins it): same
 * [[Md5Long60.hash]] digest-to-long, same Java long arithmetic (inputs
 * are md5-derived values in [0, m), m = 2^31−1, so x*(2i+1) ≤ 31·2^31
 * never overflows), null elements skipped exactly as `array_min`
 * ignores nulls, an element set with no non-null values yields a null
 * min, and an EMPTY array yields all-null mins — `array_min([]) = null`
 * per hash. A caller filtering `result[0] IS NOT NULL` keeps exactly
 * the rows the old `size(hs) > 0` guard kept (hash 0's min is non-null
 * iff at least one shingle hashed).
 */
case class MinHashSigs(child: Expression, numHashes: Int, m: Long)
    extends UnaryExpression {
  require(numHashes >= 1, "MinHashSigs needs numHashes >= 1")
  require(m > 0, "MinHashSigs needs m > 0")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sigs"

  override def nullSafeEval(a: Any): Any =
    MinHashSigs.computeStrings(a.asInstanceOf[ArrayData], numHashes, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashSigs.computeStrings($a, $numHashes, ${m}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigs {
  /** Running mins of ((2i+1)·x + (i+1)·7919) % m, x = `md5Long(s) % m`
    * per non-null shingle string, in one fused pass. Called from
    * generated code (named `computeStrings`, not `eval` — see
    * [[NgramsJoined.compute]] for why). */
  def computeStrings(ss: ArrayData, numHashes: Int, m: Long): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    val n = ss.numElements()
    var j = 0
    while (j < n) {
      if (!ss.isNullAt(j)) {
        seen = true
        val x = Md5Long60.hash(ss.getUTF8String(j).getBytes) % m
        step(x, mins, numHashes, m)
      }
      j += 1
    }
    finish(seen, mins, numHashes)
  }

  private def step(x: Long, mins: Array[Long], numHashes: Int, m: Long): Unit = {
    var i = 0
    while (i < numHashes) {
      val v = (x * (2 * i + 1) + (i + 1) * 7919L) % m
      if (v < mins(i)) mins(i) = v
      i += 1
    }
  }

  private def finish(seen: Boolean, mins: Array[Long], numHashes: Int): ArrayData =
    if (!seen) new GenericArrayData(new Array[Any](numHashes)) // all nulls
    else new GenericArrayData(mins)

  /** Column form: all `numHashes` minhash values as array<bigint>, over
    * a raw shingle array<string>. */
  def minHashSigs(hs: Column, numHashes: Int, m: Long): Column =
    GraftShims.column(MinHashSigs(GraftShims.expression(hs), numHashes, m))
}
