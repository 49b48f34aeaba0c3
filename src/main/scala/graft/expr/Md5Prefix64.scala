package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helper for [[Md5Prefix64]]; also the plan-build-time reference
  * implementation used by `Similarity.planeSigns`.
  */
object HashUtil {
  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Value of the first `digits` hex characters of md5(bytes) — identical
    * to `conv(substr(md5(s), 1, digits), 16, 10)` / DuckDB
    * `('0x' || substr(md5(s), 1, digits))::BIGINT`, without materializing
    * the hex string. `digits` ≤ 15 keeps the value in positive signed-64
    * range.
    */
  def md5Prefix64(bytes: Array[Byte], digits: Int): Long = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < digits) {
      val b = d(i >> 1)
      val nibble = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }

  def md5Prefix64(s: UTF8String, digits: Int): Long =
    md5Prefix64(s.getBytes, digits)

  def md5Prefix64(s: String, digits: Int): Long =
    md5Prefix64(s.getBytes("UTF-8"), digits)
}

/** Codegen'd Catalyst expression for the engine-portable hash
  * (SURVEY.md §7.3 tier (b)): the composed built-in form
  * `conv(substring(md5(c), 1, n), 16, 10)` allocates a 32-char hex
  * string, slices it, and re-parses it per row; this computes the value
  * straight from the digest bytes. Used on the dedup/fingerprint hot
  * paths where millions of shingles hash per round.
  */
case class Md5Prefix64(child: Expression, digits: Int)
    extends UnaryExpression {

  require(digits >= 1 && digits <= 15, "digits must be in [1, 15]")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix64"

  // reject non-string input at analysis instead of codegen/runtime
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_prefix64 requires STRING input, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    HashUtil.md5Prefix64(input.asInstanceOf[UTF8String], digits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.HashUtil.md5Prefix64($c, $digits)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}
