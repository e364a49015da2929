package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct xxhash64 char-n-gram set as one codegen'd kernel:
  * `tri_hashes(text, gram)` is bit-identical to the declarative
  * spelling
  * `array_distinct(transform(charNgrams(text, gram), g => xxhash64(g)))`
  * (first-occurrence order, seed-42 XXH64 over the gram's UTF-8 bytes,
  * empty array for null/short text — `charNgrams`' `when` routes a null
  * length to the `array()` branch, so the kernel does too) but with
  * zero per-gram UTF8String allocation: one offsets pass over the
  * document's byte buffer, then each gram hashes in place via
  * [[XXH64.hashUnsafeBytes]] on the same byte span `substr` would copy.
  *
  * This is the q21/q39/q50/q118/q140 edge pipeline's dominant cost
  * (measured at sf0.1: 1.8 s of the 2.4 s consecutive-pair edge build
  * is the gram+hash+distinct projection); the kernel keeps the whole
  * corpus pass inside one scan projection like [[WinnowFps]].
  *
  * `gram` must be a foldable positive int. Null text → EMPTY ARRAY
  * (matching the declarative spelling — the [[WinnowFps]] null-contract
  * lesson, pinned in OpsSpec).
  */
case class TriHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "tri_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType != StringType || right.dataType != IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"tri_hashes expects (string, int), got " +
          s"(${left.dataType}, ${right.dataType})")
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "tri_hashes gram must be foldable")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  // null text maps to the empty array, so the default null-intolerant
  // eval/codegen paths (which would return null) are overridden whole
  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    val g = right.eval(input)
    if (t == null || g == null) TriHashes.empty
    else TriHashes.hashes(t.asInstanceOf[UTF8String], g.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tGen = left.genCode(ctx)
    val gGen = right.genCode(ctx)
    val code =
      code"""
        ${tGen.code}
        ${gGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
        if (${tGen.isNull} || ${gGen.isNull}) {
          ${ev.value} = graft.plans.TriHashes.empty();
        } else {
          ${ev.value} = graft.plans.TriHashes.hashes(${tGen.value}, ${gGen.value});
        }
      """
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TriHashes =
    copy(left = newLeft, right = newRight)
}

object TriHashes {

  private val EMPTY: ArrayData = new GenericArrayData(Array.empty[Long])
  def empty(): ArrayData = EMPTY

  /** UTF-8 char length from the lead byte — same table as
    * [[WinnowFps.charLen]] (continuation bytes never lead in the
    * well-formed UTF-8 UTF8String guarantees).
    */
  private def charLen(b: Byte): Int = {
    val u = b & 0xFF
    if (u < 0x80) 1
    else if (u < 0xE0) 2
    else if (u < 0xF0) 3
    else 4
  }

  def hashes(text: UTF8String, gram: Int): ArrayData = {
    require(gram > 0, "tri_hashes gram must be positive")
    val bytes = text.getBytes // may copy if offset-shared; once per doc
    val nBytes = bytes.length
    var nChars = 0
    var i = 0
    while (i < nBytes) { i += charLen(bytes(i)); nChars += 1 }
    val nGrams = nChars - gram + 1
    if (nGrams <= 0) return EMPTY
    // code-point start offsets (+ end sentinel): grams count CHARS, so
    // hash spans match substr's byte spans exactly on non-ASCII too
    val offs = new Array[Int](nChars + 1)
    i = 0; var c = 0
    while (i < nBytes) { offs(c) = i; i += charLen(bytes(i)); c += 1 }
    offs(nChars) = nBytes
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[java.lang.Long]()
    i = 0
    while (i < nGrams) {
      val h = XXH64.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + offs(i), offs(i + gram) - offs(i), 42L)
      if (seen.add(h)) out.add(h): Unit
      i += 1
    }
    val arr = new Array[Long](out.size)
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
