package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst product aggregate — the one genuinely custom aggregate
  * the reference surface needs (SURVEY §2.6): cumulative products of chain
  * links / growth factors. The built-in alternative `exp(sum(ln(x)))`
  * loses precision, requires positivity guards, and cannot represent
  * negative factors; a declarative product is exact and stays inside
  * codegen (all buffer updates are plain expressions, usable in both
  * groupBy aggregation and window frames).
  *
  * Null semantics match SQL aggregates (and DuckDB's `product()`): null
  * inputs are skipped, empty input yields null.
  */
case class ProductAgg(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  // input coercion happens at registration (the builder wraps the child in
  // Cast(_, DoubleType)); AbstractDataType/ExpectsInputTypes are
  // private[sql] and unavailable to external expressions
  override def prettyName: String = "product_agg"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  private lazy val product = AttributeReference("product", DoubleType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(product)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, DoubleType))

  // null-skip in one expression: product*child when both set, else
  // whichever is set, else null
  override lazy val updateExpressions: Seq[Expression] =
    Seq(Coalesce(Seq(Multiply(product, child), child, product)))

  override lazy val mergeExpressions: Seq[Expression] =
    Seq(Coalesce(Seq(Multiply(product.left, product.right),
      product.left, product.right)))

  override lazy val evaluateExpression: Expression = product

  override protected def withNewChildInternal(newChild: Expression): ProductAgg =
    copy(child = newChild)
}

/** Session extension registering the graft native functions; install with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * ([[graft.SparkEntry.session]] does, and checks it). The kernels and
  * operators call these functions directly — there is no builtin
  * fallback, so a session without the extension fails at analysis.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // the range-join binning rewrite: hint("range_bin", secs) →
    // RangeBinHint marker (resolution) → binned equi-join (optimizer)
    ext.injectResolutionRule(RangeBinHintRule)
    ext.injectOptimizerRule(RangeBinJoinRule)
    // after the fixed-point operator batch: last rewrite attempt, then
    // strip unmatched markers WITH a warning (silent-fallback guard)
    ext.injectPreCBORule(RangeBinStripRule)
    // the per-key series operator behind keyed and keyless $chain / nlrx
    ext.injectPlannerStrategy(_ => PerKeySeriesStrategy)
    ext.injectFunction((
      FunctionIdentifier("product_agg"),
      new ExpressionInfo(classOf[ProductAgg].getName, "product_agg"),
      (children: Seq[Expression]) =>
        ProductAgg(Cast(children.head, DoubleType))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) =>
        DotProduct(Cast(children(0), org.apache.spark.sql.types.ArrayType(DoubleType)),
          Cast(children(1), org.apache.spark.sql.types.ArrayType(DoubleType)))))
    ext.injectFunction((
      FunctionIdentifier("adc_lut"),
      new ExpressionInfo(classOf[AdcLut].getName, "adc_lut"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"adc_lut expects 2 arguments (gridVec, codebooks), got ${children.length}")
        AdcLut(Cast(children(0),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"nfc_normalize expects 1 argument, got ${children.length}")
        NfcNormalize(Cast(children.head,
          org.apache.spark.sql.types.StringType))
      }))
    ext.injectFunction((
      FunctionIdentifier("md5_prefix32"),
      new ExpressionInfo(classOf[Md5Prefix32].getName, "md5_prefix32"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"md5_prefix32 expects 1 argument, got ${children.length}")
        Md5Prefix32(Cast(children.head,
          org.apache.spark.sql.types.StringType))
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"winnow_fps expects 3 arguments, got ${children.length}")
        WinnowFps(Cast(children(0),
          org.apache.spark.sql.types.StringType), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("tri_hashes"),
      new ExpressionInfo(classOf[TriHashes].getName, "tri_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"tri_hashes expects 2 arguments, got ${children.length}")
        TriHashes(Cast(children(0),
          org.apache.spark.sql.types.StringType), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"jaro_winkler expects 2 arguments, got ${children.length}")
        JaroWinkler(
          Cast(children(0), org.apache.spark.sql.types.StringType),
          Cast(children(1), org.apache.spark.sql.types.StringType))
      }))
    // the FAME session as a SQL table function — the SQL-first entry
    // surface (see FameRun): FROM fame_run('script', 'table'[, 'keys'])
    ext.injectTableFunction((
      FunctionIdentifier("fame_run"),
      new ExpressionInfo(FameRun.getClass.getName, "fame_run"),
      (children: Seq[Expression]) => FameRun.build(children)))
    ext.injectFunction((
      FunctionIdentifier("min_shingle_fp"),
      new ExpressionInfo(classOf[MinShingleFp].getName, "min_shingle_fp"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"min_shingle_fp expects 2 arguments, got ${children.length}")
        MinShingleFp(Cast(children(0),
          org.apache.spark.sql.types.StringType), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("gram_wsum"),
      new ExpressionInfo(classOf[GramWsum].getName, "gram_wsum"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"gram_wsum expects 2 arguments (tokens, weights), got ${children.length}")
        GramWsum(children(0),
          Cast(children(1), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_topk"),
      new ExpressionInfo(classOf[KmvTopK].getName, "kmv_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"kmv_topk expects 2 arguments (value, k), got ${children.length}")
        KmvTopK(Cast(children(0), org.apache.spark.sql.types.LongType),
          children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("md5_second32"),
      new ExpressionInfo(classOf[Md5Second32].getName, "md5_second32"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"md5_second32 expects 1 argument, got ${children.length}")
        Md5Second32(Cast(children.head,
          org.apache.spark.sql.types.StringType))
      }))
    // Spark's runtime-filter Bloom expressions (BloomFilterAggregate /
    // BloomFilterMightContain) are public Catalyst classes the optimizer
    // uses for injected join filters, but they are NOT in the SQL
    // FunctionRegistry. Register them so the incremental-dedup Bloom
    // pre-screen (Dedup.exactAgainstBloom) runs on the codegen'd
    // built-ins instead of a UDF. Usage mirrors the optimizer's own:
    // bloom_filter_agg(xxhash64(key), estItems, numBits) -> binary;
    // might_contain(bloomBinary, xxhash64(key)) -> boolean.
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"bloom_filter_agg expects 3 arguments (value, estItems, numBits), got ${children.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"might_contain expects 2 arguments (bloom, value), got ${children.length}")
        new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
  }
}
