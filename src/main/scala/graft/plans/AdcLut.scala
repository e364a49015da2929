package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native ADC (asymmetric-distance-computation) lookup-table builder for
  * PQ serve — `adc_lut(gridVector, codebooks)` returns the m×ksub table
  * of exact long squared distances from each of the query's m grid
  * subvectors to every centroid of that subspace's codebook.
  *
  * Why native: the builtin spelling is a doubly-nested
  * `transform(transform(aggregate(zip_with(slice(...)))))` — interpreted
  * higher-order-function machinery that measured ~2.6 ms/row at the
  * default 8×16×8 geometry (26 s for the 10⁴-query serve probe, 2× the
  * whole r18 serve wall). An unrolled `element_at` spelling has no
  * lambdas but is a 1024-term expression tree that overflows janino's
  * method limit (whole-stage codegen can't split expressions that read
  * pipeline-local variables), falling back to interpreted eval. This
  * expression is one flat multiply-add loop (`AdcLut.compute`) invoked
  * from both the interpreted and generated paths: exact long arithmetic,
  * zero lambda dispatch, codebook flattened once per plan.
  *
  * The codebook child must be a foldable `array<array<array<bigint>>>`
  * literal (m×ksub×sub — driver-sized like every ANN codebook). Null
  * semantics: null if the vector is null, its length isn't m·sub, or any
  * element is null (serve-path grid vectors are never element-null; the
  * builtin spelling nulls per-entry instead, a difference no caller
  * observes).
  */
case class AdcLut(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "adc_lut"
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val parsed: (Array[Long], Int, Int, Int) = {
    require(right.foldable, "adc_lut: codebook must be a literal")
    val books = right.eval(null).asInstanceOf[ArrayData]
    require(books != null, "adc_lut: codebook literal is null")
    val m = books.numElements()
    val ksub = if (m > 0) books.getArray(0).numElements() else 0
    val sub =
      if (m > 0 && ksub > 0) books.getArray(0).getArray(0).numElements()
      else 0
    val flat = new Array[Long](m * ksub * sub)
    var j = 0
    while (j < m) {
      val book = books.getArray(j)
      require(book.numElements() == ksub, "adc_lut: ragged codebook")
      var c = 0
      while (c < ksub) {
        val cent = book.getArray(c)
        require(cent.numElements() == sub, "adc_lut: ragged centroid")
        var i = 0
        while (i < sub) {
          flat((j * ksub + c) * sub + i) = cent.getLong(i)
          i += 1
        }
        c += 1
      }
      j += 1
    }
    (flat, m, ksub, sub)
  }

  override protected def nullSafeEval(q: Any, b: Any): Any = {
    val (flat, m, ksub, sub) = parsed
    AdcLut.compute(q.asInstanceOf[ArrayData], flat, m, ksub, sub)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (flat, m, ksub, sub) = parsed
    val flatRef = ctx.addReferenceObj("adcBooks", flat, "long[]")
    nullSafeCodeGen(ctx, ev, (q, _) =>
      s"""
         |${ev.value} = graft.plans.AdcLut.compute($q, $flatRef, $m, $ksub, $sub);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLut =
    copy(left = newLeft, right = newRight)
}

object AdcLut {
  /** The shared inner loop — called from both interpreted eval and
    * generated code. Returns null on geometry mismatch or null element.
    */
  def compute(qg: ArrayData, flat: Array[Long], m: Int, ksub: Int,
      sub: Int): ArrayData = {
    if (qg.numElements() != m * sub) return null
    val q = new Array[Long](m * sub)
    var i = 0
    while (i < q.length) {
      if (qg.isNullAt(i)) return null
      q(i) = qg.getLong(i)
      i += 1
    }
    val outer = new Array[Any](m)
    var j = 0
    while (j < m) {
      val inner = new Array[Any](ksub)
      val qo = j * sub
      var c = 0
      while (c < ksub) {
        val off = (j * ksub + c) * sub
        var d = 0L
        var k = 0
        while (k < sub) {
          val t = q(qo + k) - flat(off + k)
          d += t * t
          k += 1
        }
        inner(c) = d
        c += 1
      }
      outer(j) = new GenericArrayData(inner)
      j += 1
    }
    new GenericArrayData(outer)
  }
}
