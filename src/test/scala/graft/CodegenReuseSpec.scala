package graft

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.FameSession
import graft.ops.{Dedup, Dsir, Output, Sampling, TextOps}

/** A warm pass reuses the code its cold pass generated: the same query
  * planned again compiles nothing. Fails when the code cache is smaller
  * than one plan's classes, or when the whole-stage codegen ids that AQE
  * assigns in varying order name the classes (`SparkEntry.sessionDefaults`).
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `pass` three times and checks that runs 2 and 3 reuse the code
    * run 1 compiled. Without the settings each warm run recompiles 137-168
    * classes. With them a warm run compiles 0, but once in a full suite
    * run a third keyed run compiled 2 (not traced; a cache already full
    * from earlier suites, or an AQE plan that depends on the order stages
    * finish, could each do it), so a handful of strays is allowed.
    */
  private def assertWarmRunsReuse(pass: Int => Unit): Unit = {
    val perRun = (1 to 3).map { k =>
      val c0 = compiles
      pass(k)
      compiles - c0
    }
    assert(perRun.tail.sum <= 5, s"compiles per run: $perRun")
  }

  /** ENTITY × month panel of positive levels A, B, C, D and prices PA, PB,
    * read back from parquet as a file-backed workload reads its input.
    */
  private lazy val panel: DataFrame = {
    val names = Seq("A", "B", "C", "D", "PA", "PB")
    val rnd = new scala.util.Random(7)
    val rows = for (e <- 0 until 3; m <- 0 until 48) yield Row.fromSeq(
      Seq(s"E$e", Date.valueOf(LocalDate.of(2000, 1, 1).plusMonths(m))) ++
        names.indices.map(i => 100.0 + 10 * i + m + rnd.nextDouble() * 5))
    val schema = StructType(Seq(StructField("ENTITY", StringType),
      StructField("DATE", DateType)) ++ names.map(StructField(_, DoubleType)))
    val path = tmpDir("codegen_panel").resolve("panel.parquet").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(path)
    spark.read.parquet(path)
  }

  /** The keyed model of the `fame_keyed_batch` benchmark workload: every
    * FAME feature it exercises, once.
    */
  private val keyedScript =
    """freq m
      |ga = pct(a)
      |gb = pct(b, 12)
      |da = (a - a[t-1])
      |ratio = (a / b)
      |mix = (((a * 0.4) + (b[t-1] * 0.6)) / c)
      |tot = lsum(a, b[t-2], c)
      |up = if ga gt 0.0 then a else b
      |date 2001-01-01 to 2003-01-01
      |la = lastvalue(a)
      |rel = (a / la)
      |date *
      |aq = convert(a, q, discrete, sum)
      |bq = convert(b, q, discrete, average)
      |dm = convert(d, m, linear, average, q)
      |ix = $chain("a - b", "2002")
      |fv = fishvol_rebase({a, b}, {pa, pb}, 2002)
      |hp = nlrx(1600, c, c, c, c, c, c, c)
      |lv = d
      |date 2000-01-01 to 2003-12-01
      |lv[t] = lv[t+1] / (1 + (pct(c[t+1]) / 100))
      |date *""".stripMargin

  test("the session reuses generated code: ids out of class names, a cache above one plan") {
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SparkEntry.sessionDefaults("spark.sql.codegen.cache.maxEntries"))
  }

  test("warm runs of a keyed FAME model compile no code") {
    assertWarmRunsReuse { _ =>
      FameSession.run(keyedScript, panel, partitionKeys = Seq("ENTITY")).df
        .write.format("noop").mode("overwrite").save()
    }
  }

  test("warm runs of the corpus chain compile no code") {
    // 40 originals, 5 exact copies and 5 near copies (one word changed)
    val rnd = new scala.util.Random(11)
    val vocab = Seq("the", "of", "and", "data", "model", "river", "stone",
      "light", "market", "garden", "engine", "paper", "window", "signal")
    val originals = (0 until 40).map { _ =>
      Seq.fill(30 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))) }
    val texts = originals ++ originals.take(5) ++
      originals.slice(10, 15).map(w => w.updated(3, "zebra"))
    val docs = texts.zipWithIndex.map { case (w, i) =>
      (i.toLong, w.mkString(" "), if (i % 7 == 0) "es" else "en", f"src${i % 6}%02d") }
    val input = tmpDir("codegen_corpus").resolve("corpus.parquet").toString
    spark.createDataFrame(docs).toDF("id", "text", "lang", "source")
      .write.parquet(input)
    val out = tmpDir("codegen_corpus_out")

    assertWarmRunsReuse { k =>
      val docs = spark.read.parquet(input)
      val groups = Dedup.exact(docs, "id", "text")
      val kept = docs.join(groups.select(col("keep_id").as("id")), Seq("id"),
        "left_semi").localCheckpoint(true)
      val pairs = Dedup.minHashLshPairs(kept, "id", "text")
        .where(col("jaccard") >= 0.5).localCheckpoint(true)
      val comp = Dedup.connectedComponents(pairs, "id1", "id2", kept, "id")
      val firsts = kept.join(comp.where(col("id") === col("component"))
        .select("id"), Seq("id"), "left_semi").localCheckpoint(true)
      val good = firsts.withColumn("quality", TextOps.qualityScore(col("text")))
        .where(col("quality") >= 0.0).localCheckpoint(true)
      val w = Dsir.importanceWeights(good,
        col("lang") === "en" && col("source") < "src03", "id", "text", 4096)
      val weighted = good.join(w.select("id", "log_weight"), Seq("id"))
        .localCheckpoint(true)
      val split = Sampling.splitByHash(weighted, "id",
        Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      Output.writeSharded(split, "id", out.resolve(s"run$k").toString, 8)
    }
  }
}
