package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** First 32 bits of md5(str) as an unsigned long — the fused native form
  * of [[graft.ops.Sampling.md5Prefix32]], THE deterministic-decision
  * primitive behind splits, sampling, sharding, mixing, DSIR buckets and
  * the Gumbel draw (~20 queries scan through it). The builtin spelling
  * is a 4-expression chain (md5 → 32-char hex string → substr → base-16
  * conv parse) that materializes a hex UTF8String per row; this computes
  * the digest once and reads 4 bytes — same value, bit-identical
  * (spec-pinned against the builtin chain, and every md5 oracle
  * re-validates it end-to-end since Verify runs with GraftExtensions).
  *
  * Registered as `md5_prefix32(str)` by [[GraftExtensions]];
  * `Sampling.md5Prefix32` calls it.
  */
case class Md5Prefix32(child: Expression) extends UnaryExpression {

  override def prettyName: String = "md5_prefix32"
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix32.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5Prefix32.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix32 =
    copy(child = newChild)
}

object Md5Prefix32 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Unsigned value of the digest's first 4 bytes (== parsing the first
    * 8 hex chars of `md5(s)` in base 16, the builtin spelling).
    */
  def hash(s: UTF8String): Long = word(s, 0)

  /** Unsigned value of digest bytes [4w, 4w+4) — word 0 is [[hash]];
    * word 1 (hex chars 9-16) is the second independent 32-bit value the
    * 64-bit SimHash draws from the SAME digest, so widening costs no
    * extra md5 computation on the native path.
    */
  def word(s: UTF8String, w: Int): Long = {
    val d = md.get()
    d.reset()
    val b = d.digest(s.getBytes)
    val o = 4 * w
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
  }
}

/** Digest bytes 4-7 of md5(str) as an unsigned long — the second 32-bit
  * word of the same digest [[Md5Prefix32]] reads bytes 0-3 of (builtin
  * spelling: hex chars 9-16). Registered as `md5_second32`; the 64-bit
  * SimHash takes its high word from here so both halves stay
  * DuckDB-replayable (`('0x' || substr(md5(t), 9, 8))::BIGINT`).
  */
case class Md5Second32(child: Expression) extends UnaryExpression {

  override def prettyName: String = "md5_second32"
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix32.word(input.asInstanceOf[UTF8String], 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5Prefix32.word($c, 1)")

  override protected def withNewChildInternal(newChild: Expression): Md5Second32 =
    copy(child = newChild)
}
