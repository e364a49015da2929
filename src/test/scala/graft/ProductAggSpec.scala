package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native ProductAgg (graft.plans) — registered via GraftExtensions in the
  * shared test session.
  */
class ProductAggSpec extends SparkSpec {

  private def df(vals: Seq[Any]) = {
    val rows = vals.zipWithIndex.map { case (v, i) => Row(i, v) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("i", IntegerType),
        StructField("x", DoubleType))))
  }

  test("extension is registered in the session") {
    assert(spark.catalog.functionExists("product_agg"))
  }

  test("grouped product with null-skip") {
    val out = df(Seq(1.5, 2.0, null, 4.0))
      .agg(call_function("product_agg", col("x"))).collect()(0)
    assert(out.getDouble(0) == 12.0)
  }

  test("all-null and empty input give null") {
    val out = df(Seq(null, null))
      .agg(call_function("product_agg", col("x"))).collect()(0)
    assert(out.isNullAt(0))
  }

  test("negative factors are exact (exp-log cannot represent them)") {
    val out = df(Seq(-2.0, 3.0, -0.5))
      .agg(call_function("product_agg", col("x"))).collect()(0)
    assert(out.getDouble(0) == 3.0)
  }

  test("running product over a window frame") {
    val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    val out = df(Seq(2.0, null, 3.0, 0.5))
      .withColumn("p", call_function("product_agg", col("x")).over(w))
      .orderBy("i").select("p").collect().map(r => r.getDouble(0))
    assert(out.toSeq == Seq(2.0, 2.0, 6.0, 3.0))
  }

  test("integer input is coerced") {
    val rows = Seq(Row(1, 2L), Row(2, 5L))
    val d = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("i", IntegerType), StructField("x", LongType))))
    assert(d.agg(call_function("product_agg", col("x")))
      .collect()(0).getDouble(0) == 10.0)
  }

  // ---- native dot_product (plans.DotProduct)

  private def vecDf(rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])]) = {
    val rs = rows.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rs).asJava),
      StructType(Seq(StructField("i", IntegerType),
        StructField("a", ArrayType(DoubleType)),
        StructField("b", ArrayType(DoubleType)))))
  }
  private def jd(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  test("dot_product matches the zip_with/aggregate spelling bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((jd(Seq.fill(17)(rnd.nextDouble() * 2 - 1): _*),
      jd(Seq.fill(17)(rnd.nextDouble() * 2 - 1): _*)))
    val d = vecDf(rows)
    val out = d.select(
      call_function("dot_product", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("builtin")).collect()
    // bit-identical, not approximately equal: same sequential fold order
    assert(out.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("dot_product null semantics: null input, null element, length mismatch") {
    val d = vecDf(Seq(
      (jd(1, 2), jd(3, 4)),       // 11.0
      (null, jd(1, 2)),           // null input
      (jd(1, 2), jd(1, 2, 3)),    // length mismatch
      (Seq(Double.box(1.0), null), jd(1, 2)))) // null element
    val out = d.orderBy("i")
      .select(call_function("dot_product", col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0) && out(3).isNullAt(0))
  }

  test("Similarity.dot routes to the native expression in this session") {
    val d = vecDf(Seq((jd(1, 0, 2), jd(3, 1, 0.5))))
    val q = d.select(graft.ops.Similarity.dot(col("a"), col("b")).as("s"))
    assert(q.queryExecution.analyzed.toString.contains("dot_product"))
    assert(q.collect()(0).getDouble(0) == 4.0)
  }

  test("nfc_normalize composes decomposed accents; cleanText strips controls") {
    import spark.implicits._
    val composed = "caf\u00e9"            // é as one codepoint
    val decomposed = "cafe\u0301"         // e + combining acute
    val df = Seq(
      (1L, decomposed), (2L, composed), (3L, null.asInstanceOf[String]),
      (4L, "abc\tkeep\nme"))
      .toDF("id", "s")
    val out = df.orderBy("id").select(
      call_function("nfc_normalize", col("s")).as("nfc"),
      graft.ops.TextOps.cleanText(col("s")).as("clean")).collect()
    assert(out(0).getString(0) == composed)       // NFC composes
    assert(out(0).getString(0).length == 4)
    assert(out(1).getString(0) == composed)       // already-NFC unchanged
    assert(out(2).isNullAt(0) && out(2).isNullAt(1)) // null in, null out
    assert(out(3).getString(1) == "abc\tkeep\nme") // controls out, \t\n kept
    // decomposed and composed spellings hash identically after cleanup
    val fp = df.where(col("id") <= 2).select(
      graft.ops.TextOps.contentHash(
        graft.ops.TextOps.cleanText(col("s"))).as("h"))
      .collect().map(_.getLong(0))
    assert(fp(0) == fp(1))
  }

  test("md5_prefix32 is bit-identical to the builtin md5 chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(555)
    val strs = Seq("", "a", "héllo wörld", "日本語",
      "x" * 5000, "123#salt") ++
      Seq.fill(300)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) :+
      null.asInstanceOf[String]
    val out = strs.toDF("s").select(
        call_function("md5_prefix32", col("s")).as("native"),
        conv(substr(md5(col("s")), lit(1), lit(8)), 16, 10).cast("long")
          .as("builtin"))
      .collect()
    out.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(r.getLong(0) == r.getLong(1), s"mismatch: $r")
    }
    // Sampling routes through the native expression in this session
    assert(graft.ops.Sampling.md5Prefix32(col("s")).toString
      .toLowerCase.contains("md5_prefix32"))
  }

  test("md5_second32 is bit-identical to the builtin md5 chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(556)
    val strs = Seq("", "a", "héllo wörld", "日本語",
      "x" * 5000, "123#salt") ++
      Seq.fill(300)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) :+
      null.asInstanceOf[String]
    val out = strs.toDF("s").select(
        call_function("md5_second32", col("s")).as("native"),
        conv(substr(md5(col("s")), lit(9), lit(8)), 16, 10).cast("long")
          .as("builtin"))
      .collect()
    out.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(r.getLong(0) == r.getLong(1), s"mismatch: $r")
    }
    assert(graft.ops.Sampling.md5Second32(col("s")).toString
      .toLowerCase.contains("md5_second32"))
  }

  test("adc_lut matches the nested transform/zip_with spelling bit-for-bit") {
    val rnd = new scala.util.Random(4242)
    val (m, ksub, sub) = (4, 8, 3)
    val books = Seq.fill(m, ksub, sub)(rnd.nextInt(2001).toLong - 1000L)
    val booksLit = typedlit(books)
    val vecs = Seq.fill(60)(Seq.fill(m * sub)(
      Long.box(rnd.nextInt(200001).toLong - 100000L))) :+ null
    val d = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(vecs.zipWithIndex.map { case (v, i) => Row(i, v) })
        .asJava),
      StructType(Seq(StructField("i", IntegerType),
        StructField("qg", ArrayType(LongType)))))
    val qg = col("qg")
    val builtin = transform(booksLit, (book, j) =>
      transform(book, cent =>
        aggregate(
          zip_with(slice(qg, j * lit(sub) + lit(1), lit(sub)), cent,
            (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x)))
    val out = d.orderBy("i").select(
      call_function("adc_lut", qg, booksLit).as("native"),
      builtin.as("builtin")).collect()
    def table(r: Row, i: Int) =
      r.getSeq[scala.collection.Seq[Any]](i).map(_.toSeq)
    out.init.foreach { r =>
      val native = table(r, 0)
      assert(native.length == m && native.forall(_.length == ksub))
      assert(native == table(r, 1), s"mismatch: $r")
    }
    // null vector: the native table is null; the builtin spelling nulls
    // every entry instead (no serve path sees a null grid vector)
    assert(out.last.isNullAt(0))
    assert(table(out.last, 1).flatten.forall(_ == null))
  }

  test("operators built on a thread with no active session still compile " +
      "to the native expressions") {
    import spark.implicits._
    var built: Seq[org.apache.spark.sql.Column] = Nil
    var hadSession = true
    val t = new Thread(() => {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      hadSession = org.apache.spark.sql.SparkSession.getActiveSession.nonEmpty
      built = Seq(
        graft.ops.Sampling.md5Prefix32(col("s")).as("h"),
        graft.ops.Similarity.dot(col("a"), col("b")).as("d"),
        graft.ops.TextOps.minShingleFingerprint(col("s"), 3).as("f"))
    })
    t.start(); t.join()
    assert(!hadSession && built.length == 3)
    val q = Seq(("hello world", Seq(1.0, 2.0), Seq(3.0, 4.0)))
      .toDF("s", "a", "b").select(built: _*)
    val plan = q.queryExecution.analyzed.toString.toLowerCase
    Seq("md5_prefix32", "dot_product", "min_shingle_fp").foreach { f =>
      assert(plan.contains(f), s"$f missing from the analyzed plan:\n$plan")
    }
    assert(q.collect()(0).getDouble(1) == 11.0)
  }
}
