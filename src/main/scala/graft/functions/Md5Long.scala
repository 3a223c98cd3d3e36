package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native 60-bit md5 hash [EXT] — the engine-portable hash primitive under
 * every dedup/sampling/sketch operator, as ONE codegen'd expression.
 *
 * Bit-identical to the composed form `conv(substring(md5(x),1,15),16,10)`
 * (and to DuckDB's `CAST(('0x' || substring(md5(x),1,15)) AS BIGINT)`):
 * the first 15 hex chars of an md5 digest are its top 60 bits, i.e. the
 * first 8 bytes big-endian shifted right by 4. The composed form
 * materializes a 32-char hex string, substrings it, and runs a base-16
 * string-to-decimal conversion PER ROW; this computes the long straight
 * from the digest bytes — no hex string, no parse, one 16-byte digest
 * allocation (thread-local MessageDigest). On the shingle family that
 * path runs millions of times per query.
 */
case class Md5Long60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or binary argument, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5long"

  override def nullSafeEval(in: Any): Any = child.dataType match {
    case StringType => Md5Long60.hash(in.asInstanceOf[UTF8String].getBytes)
    case _          => Md5Long60.hash(in.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = if (child.dataType == StringType) s"$c.getBytes()" else c
      s"${ev.value} = graft.functions.Md5Long60.hash($bytes);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Long60 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(bytes): first 8 digest bytes big-endian >>> 4 —
    * exactly `parseLong(hex(digest).take(15), 16)`. */
  def hash(bytes: Array[Byte]): Long = {
    val digest = md.get()
    digest.reset()
    val d = digest.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Column form over a string/binary column. */
  def md5Long60(c: Column): Column =
    GraftShims.column(Md5Long60(GraftShims.expression(c)))
}
