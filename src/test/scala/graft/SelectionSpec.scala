package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Dsir, MixPlan, Sampling, Similarity}

/** Data-selection operators: DSIR importance weights, token-budget mix
  * planning, and SemDeDup semantic deduplication — each pinned to an
  * independent reference computation on hand-built fixtures.
  */
class SelectionSpec extends SparkSpec {

  private def docFrame(rows: (Long, String)*): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows.map { case (i, t) => Row(i, t) }).asJava), schema)
  }

  // ---- independent md5/bucket reference (mirrors Sampling.md5Prefix32) --
  private def md5Prefix32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  private def refTokens(text: String): Seq[String] =
    text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      .filter(_.nonEmpty).toSeq

  private def refFeats(text: String): Seq[String] = {
    val t = refTokens(text)
    t ++ (if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq
          else Seq.empty)
  }

  /** Round-half-up to 4 dp the way Spark's round() does (via the
    * Double.toString decimal form).
    */
  private def r4(x: Double): JBigDecimal =
    JBigDecimal.valueOf(x).setScale(4, RoundingMode.HALF_UP)

  test("DSIR weights match an independent reference computation") {
    val buckets = 64
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the the the quick quick dog",
      3L -> "zebra xylophone quartz vortex glyph",
      4L -> "quick brown dog runs fast",
      5L -> "vortex glyph zebra nightfall quartz hum")
    val targetIds = Set(1L, 2L, 4L) // "english-like" target
    val df = docFrame(corpus: _*)
    val got = Dsir.importanceWeights(df,
      df.where(col("doc_id").isin(targetIds.toSeq: _*)),
      "doc_id", "text", buckets)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // reference: bucket counts, add-1 smoothing, 4dp-quantized log2 diff
    val bucketOf = (g: String) => md5Prefix32(g) % buckets
    val tFeats = corpus.filter(c => targetIds(c._1))
      .flatMap(c => refFeats(c._2)).map(bucketOf)
    val rFeats = corpus.flatMap(c => refFeats(c._2)).map(bucketOf)
    val tc = tFeats.groupBy(identity).view.mapValues(_.size).toMap
    val rc = rFeats.groupBy(identity).view.mapValues(_.size).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def lr(b: Long): JBigDecimal =
      r4(log2((tc.getOrElse(b, 0) + 1).toDouble / (tFeats.size + buckets)))
        .subtract(
          r4(log2((rc.getOrElse(b, 0) + 1).toDouble / (rFeats.size + buckets))))
    val expected = corpus.map { case (id, text) =>
      val bs = refFeats(text).map(bucketOf)
      val w = bs.groupBy(identity).map { case (b, os) =>
        lr(b).multiply(new JBigDecimal(os.size))
      }.reduce(_.add(_))
      (id, bs.size.toLong, w.doubleValue)
    }
    assert(got.toSeq == expected,
      s"got ${got.toSeq}\nexpected $expected")
  }

  test("DSIR flag overload equals the two-frame overload on a subset target") {
    val corpus = Seq(
      1L -> "the quick brown fox", 2L -> "zebra quartz glyph",
      3L -> "quick dog runs", 4L -> "vortex hum nightfall")
    val df = docFrame(corpus: _*)
    val twoFrame = Dsir.importanceWeights(df,
      df.where(col("doc_id") % 2 === 1), "doc_id", "text", buckets = 128)
      .orderBy("doc_id").collect().toSeq
    val flagged = Dsir.importanceWeights(df, col("doc_id") % 2 === 1,
      "doc_id", "text", buckets = 128)
      .orderBy("doc_id").collect().toSeq
    assert(flagged == twoFrame)
  }

  test("DSIR scoreExpr reproduces importanceWeights bit-for-bit") {
    val corpus = Seq(
      1L -> "the quick brown fox jumps", 2L -> "zebra quartz glyph hum",
      3L -> "quick dog runs far", 4L -> "vortex hum nightfall dusk",
      5L -> "the dog and the fox")
    val df = docFrame(corpus: _*)
    val isTarget = col("doc_id") <= 2
    val viaFrames = Dsir.importanceWeights(df, isTarget,
      "doc_id", "text", buckets = 128)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val m = Dsir.fit(df, isTarget, "doc_id", "text", buckets = 128)
    val viaExpr = df.select(col("doc_id"),
      Dsir.scoreExpr(col("text"), m).as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaExpr == viaFrames)
  }

  test("scoreExpr featurization matches the naive reference on edge docs") {
    // guards the gram construction's boundary arithmetic (zip_with over
    // the tail slice with a clamped length): 0 tokens, 1 token, exactly
    // 2, whitespace-only, repeated tokens
    val corpus = Seq(1L -> "anchor doc with enough tokens to fit a model",
      2L -> "second anchor document for smoothing")
    val edges = Seq(3L -> "", 4L -> "   ", 5L -> "solo",
      6L -> "two tokens", 7L -> "dup dup dup", 8L -> " padded  both\tends ")
    val df = docFrame((corpus ++ edges): _*)
    val m = Dsir.fit(df, col("doc_id") <= 1, "doc_id", "text", buckets = 64)
    val got = df.select(col("doc_id"), Dsir.scoreExpr(col("text"), m).as("w"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    (corpus ++ edges).foreach { case (id, text) =>
      val feats = refFeats(text)
      val want =
        if (feats.isEmpty) None
        else Some(feats.map(g => m.lr4dp(md5Prefix32(g) % 64)).sum.toDouble / 1e4)
      assert(got(id) == want, s"doc $id '$text': ${got(id)} vs $want")
    }
  }

  test("gram_wsum equals the interpreted aggregate gram-bucket spelling " +
      "on random text, incl. empty and null") {
    val rnd = new scala.util.Random(2718)
    val buckets = 64
    val wArr = typedLit(
      Seq.fill(buckets)(rnd.nextInt(200001).toLong - 100000L))
    val vocab = Seq("the", "a", "Data", "data,", "x", "ünïcode", "日本語",
      "😀", "", " ", "\t", "quick", "fox")
    val texts = Seq.fill(80)(Seq.fill(rnd.nextInt(25))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")) ++
      Seq("", "   ", "solo", "two tokens", null)
    val df = docFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
      .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("t"))
    val toks = col("t")
    // the interpreted serving spelling: unigrams + strict word bigrams,
    // one md5 bucket lookup per gram, step sum and gram count together
    val grams = concat(toks,
      filter(
        zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        g => g.isNotNull))
    val acc = aggregate(grams,
      struct(lit(0L).as("s"), lit(0L).as("n")),
      (acc, g) => struct(
        (acc.getField("s") + element_at(wArr,
          (Dsir.gramBucket(g, buckets) + 1).cast("int"))).as("s"),
        (acc.getField("n") + lit(1L)).as("n")))
    val sn = call_function("gram_wsum", toks, wArr)
    val rows = df.select(col("doc_id"),
        element_at(sn, 1).as("s"), element_at(sn, 2).as("n"),
        acc.getField("s").as("ref_s"), acc.getField("n").as("ref_n"))
      .orderBy("doc_id").collect()
    def opt(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    rows.foreach { r =>
      assert((opt(r, 1), opt(r, 2)) == (opt(r, 3), opt(r, 4)),
        s"doc ${r.getLong(0)} '${texts(r.getLong(0).toInt)}': native " +
          s"(${opt(r, 1)}, ${opt(r, 2)}) != reference (${opt(r, 3)}, ${opt(r, 4)})")
    }
    val tail = rows.takeRight(5)
    // empty and whitespace-only text: no grams; null text: null
    assert(opt(tail(0), 2).contains(0L) && opt(tail(1), 2).contains(0L))
    assert(opt(tail(2), 2).contains(1L) && opt(tail(3), 2).contains(3L))
    assert(tail(4).isNullAt(1) && tail(4).isNullAt(2) && tail(4).isNullAt(3))
    assert(rows.count(r => opt(r, 2).exists(_ > 0)) > 60)
  }

  test("DSIR ranks target-like docs above off-target docs") {
    val target = (1 to 20).map(i =>
      (100L + i) -> "alpha beta gamma delta epsilon zeta")
    val scored = docFrame(
      (Seq(1L -> "alpha beta gamma delta",
           2L -> "qqq www eee rrr ttt") ++ target): _*)
    val w = Dsir.importanceWeights(scored,
      scored.where(col("doc_id") >= 100), "doc_id", "text", buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(2L),
      s"target-like doc should outscore off-target: $w")
  }

  test("epoch plan water-fills overflow into open sources under caps") {
    // three sources: tiny (10 tok), mid (40 tok), big (100 tok);
    // budget 150, maxEpochs 2 -> caps 20/80/200
    val df = docFrame(
      (1L, "a " * 10),
      (2L, "b " * 40),
      (3L, "c " * 100))
      .withColumn("source", when(col("doc_id") === 1, "tiny")
        .when(col("doc_id") === 2, "mid").otherwise("big"))
    val nt = graft.ops.TextOps.tokenCount(col("text"))
    val got = MixPlan.epochPlan(df, "source", nt, budget = 150L,
        maxEpochs = 2, rounds = 3)
      .orderBy("source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // round 0: equal split 50 each; tiny caps at 20 (overflow 30),
    // mid keeps 50, big keeps 50
    // round 1: surplus 30 over 2 open -> +15 each: mid 65, big 65
    // round 2-3: nothing left
    assert(got("tiny") == (10L, 20L, 20L, 0L, 2000L), got("tiny"))
    assert(got("mid") == (40L, 80L, 65L, 0L, 1625L), got("mid"))
    assert(got("big") == (100L, 200L, 65L, 0L, 650L), got("big"))
    // conservation: allocations + global unallocated == budget
    assert(got.values.map(_._3).sum + got("big")._4 == 150L)
    // caps respected
    got.values.foreach { case (_, cap, alloc, _, _) => assert(alloc <= cap) }
  }

  test("mix plan computes uniform-share rates, deficits, and execution") {
    val df = docFrame(
      (1L, "a " * 50), (2L, "b " * 30),     // src big: 80 tokens
      (3L, "c " * 5), (4L, "d " * 5))       // src small: 10 tokens
      .withColumn("source",
        when(col("doc_id") <= 2, "big").otherwise("small"))
    val nt = graft.ops.TextOps.tokenCount(col("text"))
    val plan = MixPlan.plan(df, "source", nt, budget = 40)
      .orderBy("source").collect()
    // uniform share: 20 tokens per source
    val big = plan(0); val small = plan(1)
    assert(big.getString(0) == "big" && big.getLong(1) == 80L)
    assert(big.getDouble(2) == 20.0 && big.getDouble(3) == 0.25)
    assert(big.getDouble(4) == 0.0)
    assert(small.getLong(1) == 10L && small.getDouble(3) == 1.0)
    assert(small.getDouble(4) == 10.0) // can't fill its share
    // execution keeps exactly the rows whose salted uniform clears the rate
    val planDf = MixPlan.plan(df, "source", nt, budget = 40)
    val kept = MixPlan.execute(df, "doc_id", "source", planDf, salt = "#t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = Seq(1L -> "big", 2L -> "big", 3L -> "small", 4L -> "small")
      .filter { case (id, src) =>
        val rate = if (src == "big") 0.25 else 1.0
        (md5Prefix32(s"$id#t").toDouble / 4294967296.0) < rate
      }.map(_._1).toSet
    assert(kept == expected)
  }

  test("mix plan with explicit weights zeroes unlisted sources") {
    val df = docFrame((1L, "a b c"), (2L, "d e f"))
      .withColumn("source", when(col("doc_id") === 1, "keep").otherwise("drop"))
    val plan = MixPlan.plan(df, "source", graft.ops.TextOps.tokenCount(col("text")),
      budget = 100, weights = Map("keep" -> 1.0))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(plan("keep") == 1.0 && plan("drop") == 0.0)
  }

  test("chunking covers every token with the declared stride and overlap") {
    // 10 tokens, chunk 4, overlap 1 -> stride 3, last start = ceil(6/3)*3=6
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = docFrame((1L, text), (2L, "a b"), (3L, "   "))
    val out = graft.ops.TextOps.chunkDocs(df, "doc_id", "text",
      chunkTokens = 4, overlapTokens = 1)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 3L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 6L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 0L, 2L, "a b")))   // short doc = one clamped chunk; blank none
  }

  test("chunking invariants hold across random lengths and params") {
    val rnd = new scala.util.Random(7)
    for ((chunk, ov) <- Seq((4, 1), (7, 3), (5, 0))) {
      val stride = chunk - ov
      val fixture = (0 until 40).map { i =>
        val n = rnd.nextInt(25)
        (i.toLong, (1 to n).map(j => s"w$j").mkString(" "))
      }
      val out = graft.ops.TextOps.chunkDocs(docFrame(fixture: _*),
        "doc_id", "text", chunk, ov)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      fixture.foreach { case (id, text) =>
        val n = text.split(" ").count(_.nonEmpty)
        val cs = out.getOrElse(id, Array.empty).sortBy(_._2)
        if (n == 0) assert(cs.isEmpty, s"doc $id")
        else {
          assert(cs.head._3 == 0 && cs.map(_._2).toSeq ==
            cs.indices.map(_.toLong), s"doc $id ids/starts")
          cs.sliding(2).foreach {
            case Array(a, b) => assert(b._3 - a._3 == stride)
            case _ => ()
          }
          assert(cs.last._3 + chunk >= n, s"doc $id tail uncovered")
          assert(cs.last._3 < n, s"doc $id empty tail chunk")
          cs.foreach { c =>
            assert(c._4 == math.min(chunk.toLong, n - c._3), s"doc $id len") }
        }
      }
    }
  }

  test("top-k per group keeps k best with deterministic ties") {
    val df = docFrame((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"))
      .withColumn("source", when(col("doc_id") <= 3, "a").otherwise("b"))
      .withColumn("score",
        when(col("doc_id") === 2, 9.0).otherwise(lit(5.0)))
    val out = Sampling.topKPerGroup(df, "source", col("score"), "doc_id", 2)
      .select("doc_id", "group_rank").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // group a: doc 2 (9.0) first, then tie 5.0 broken by id -> doc 1
    assert(out == Map(2L -> 1, 1L -> 2, 4L -> 1))
  }

  test("quality classifier separates classes; training is deterministic") {
    val good = Seq("well written prose with structure and meaning",
      "another thoughtful paragraph with real sentences",
      "clear informative text explaining a concept properly")
    val bad = Seq("buy cheap buy cheap buy cheap click here",
      "zzz spam spam keywords keywords keywords click click",
      "lorem garbage garbage click buy cheap zzz")
    val rows = (good ++ bad).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docFrame(rows: _*)
      .withColumn("y", col("doc_id") < good.size)
    val m = graft.ops.QualityClassifier.train(df, col("y"), "doc_id",
      "text", buckets = 256, epochs = 80, lrRate = 10.0)
    val p = df.select(col("doc_id"),
        graft.ops.QualityClassifier.scoreExpr(col("text"), m).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    good.indices.foreach(i => assert(p(i.toLong) > 0.7, s"good $i: ${p(i.toLong)}"))
    bad.indices.foreach(i => assert(p((good.size + i).toLong) < 0.3,
      s"bad $i: ${p((good.size + i).toLong)}"))
    // determinism: a different partitioning fits the identical model
    val m2 = graft.ops.QualityClassifier.train(df.repartition(7), col("y"),
      "doc_id", "text", buckets = 256, epochs = 80, lrRate = 10.0)
    assert(m2 == m)
    // serving parity: scores don't depend on partitioning either
    val p2 = df.repartition(5)
      .select(col("doc_id"),
        graft.ops.QualityClassifier.scoreExpr(col("text"), m).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p2 == p)
    // empty text scores null, as in training
    val pn = docFrame((99L, "")).select(
      graft.ops.QualityClassifier.scoreExpr(col("text"), m)).head()
    assert(pn.isNullAt(0))
  }

  test("gumbel resampling keeps top-k by perturbed weight, reproducibly") {
    import org.apache.spark.sql.types.DoubleType
    val rows = (1L to 30L).map(i => Row(i, -(i % 7).toDouble))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("log_weight", DoubleType))))
    val salt = "#g"
    val got = Dsir.gumbelResample(df.repartition(4), "doc_id", 10, salt)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // independent reference: same salted-uniform Gumbel arithmetic
    def score(i: Long): Double = {
      val u = md5Prefix32(i.toString + salt).toDouble / 4294967296.0
      val g = BigDecimal(-math.log(-math.log(u)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      -(i % 7).toDouble + g
    }
    val want = (1L to 30L).map(i => i -> score(i))
      .sortBy { case (i, s) => (-s, i) }.take(10).toMap
    assert(got == want)
    assert(got.size == 10)
  }

  test("JS divergence: zero on identical corpora, matches reference") {
    val a = docFrame((1L, "alpha beta gamma"), (2L, "beta beta delta"))
    val b = docFrame((3L, "epsilon zeta zeta"), (4L, "eta theta"))
    val B = 64
    val same = graft.ops.Divergence.jsDivergence(a, a, "text", B)
      .head()
    assert(same.getLong(0) == 6L && same.getLong(1) == 6L)
    assert(same.getDouble(2) == 0.0)

    // independent reference on the same quantized arithmetic
    def counts(texts: Seq[String]): (Map[Long, Long], Long) = {
      val toks = texts.flatMap(_.split(" "))
      (toks.groupBy(t => md5Prefix32(t) % B).view
        .mapValues(_.size.toLong).toMap, toks.size.toLong)
    }
    val (caM, na) = counts(Seq("alpha beta gamma", "beta beta delta"))
    val (cbM, nb) = counts(Seq("epsilon zeta zeta", "eta theta"))
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val want = (0L until B).map { k =>
      val p = (caM.getOrElse(k, 0L) + 1).toDouble / (na + B)
      val q = (cbM.getOrElse(k, 0L) + 1).toDouble / (nb + B)
      val m = (p + q) / 2.0
      BigDecimal((p * log2(p / m) + q * log2(q / m)) / 2.0)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val got = graft.ops.Divergence.jsDivergence(a, b, "text", B).head()
    assert(got.getLong(0) == 6L && got.getLong(1) == 5L)
    assert(got.getDouble(2) == want, s"got=${got.getDouble(2)} want=$want")
    assert(got.getDouble(2) > 0.0 && got.getDouble(2) <= 1.0)
  }

  test("exact per-group sample matches the md5 reference and is exact-k") {
    val ids = (1L to 40L)
    val df = docFrame(ids.map(i => (i, "t")): _*)
      .withColumn("grp", when(col("doc_id") % 3 === 0, "a")
        .when(col("doc_id") % 3 === 1, "b").otherwise("c"))
    val k = 4
    val salt = "#s"
    val got = Sampling.sampleExactPerGroup(df, "grp", "doc_id", k, salt)
      .select("grp", "doc_id", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))

    // independent reference: sort each group by the salted md5 uniform
    val byGrp = ids.groupBy(i =>
      if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c")
    val want = byGrp.flatMap { case (g, members) =>
      members.sortBy(i => (md5Prefix32(i.toString + salt), i))
        .take(k).zipWithIndex.map { case (i, r) => (g, i, r + 1) }
    }.toSet
    assert(got.toSet == want)
    assert(got.groupBy(_._1).forall(_._2.length == k))
    // determinism under repartitioning: same kept set on 1 partition
    val again = Sampling
      .sampleExactPerGroup(df.repartition(1), "grp", "doc_id", k, salt)
      .select("grp", "doc_id", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(again.toSet == want)
  }

  test("BM25 matches an independent reference computation") {
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick dog barks",
      3L -> "brown foxes and quick dogs run",
      4L -> "zebra quartz glyph vortex",
      5L -> "the fox and the dog and the fox")
    val df = docFrame(corpus: _*)
    val got = graft.ops.TfIdf.bm25TopK(df.where(col("doc_id") <= 2), df,
      "doc_id", "text", k = 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3))))
      .toMap

    // reference: plain-Scala BM25 with the same quantization contract
    val k1 = 1.5; val b = 0.75
    val toks = corpus.map { case (id, t) => id -> refTokens(t) }.toMap
    val n = corpus.size
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val dfc = toks.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    def r6(x: Double): java.math.BigDecimal =
      JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
    def idf(t: String): Double =
      r6(math.log((n.toDouble - dfc(t) + 0.5) / (dfc(t) + 0.5) + 1))
        .doubleValue
    def tfOf(id: Long) = toks(id).groupBy(identity)
      .view.mapValues(_.size).toMap
    val expected = (for {
      q <- Seq(1L, 2L); d <- corpus.map(_._1) if d != q
      qt = tfOf(q); dt = tfOf(d)
      shared = qt.keySet intersect dt.keySet if shared.nonEmpty
    } yield {
      val dl = toks(d).size
      val score = shared.toSeq.map { t =>
        val sat = (dt(t).toDouble * (k1 + 1.0)) /
          (dt(t).toDouble + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl)))
        r6((qt(t).toDouble * idf(t)) * sat)
      }.reduce(_.add(_)).doubleValue
      (q, d) -> score
    }).toMap
    // engine top-3 per query must equal the reference's top-3 by
    // (score desc, id asc), scores bit-equal
    Seq(1L, 2L).foreach { q =>
      val ref = expected.collect { case ((`q`, d), s) => (d, s) }.toSeq
        .sortBy { case (d, s) => (-s, d) }.take(3)
      ref.zipWithIndex.foreach { case ((d, s), i) =>
        assert(got((q, d)) == ((s, i + 1)),
          s"query $q neighbor $d: got ${got.get((q, d))}, want ($s, ${i + 1})")
      }
    }
  }

  private def vecFrame(rows: (Long, Seq[Double])*): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows.map { case (i, v) => Row(i, v) }).asJava), schema)
  }

  test("semantic dedup finds identical vectors and resolves survivors") {
    // three exact-duplicate groups + isolated vectors; identical vectors
    // always share a cluster (deterministic assignment), so recall on
    // exact dups is total regardless of the k-means split
    val dup1 = Seq(1.0, 0.0, 0.0, 0.0)
    val dup2 = Seq(0.0, 1.0, 0.0, 0.0)
    val rows = Seq(
      1L -> dup1, 2L -> dup1, 3L -> dup1,
      10L -> dup2, 11L -> dup2,
      20L -> Seq(0.0, 0.0, 1.0, 0.0),
      21L -> Seq(0.0, 0.0, 0.0, 1.0))
    val df = vecFrame(rows: _*)
    val comp = Dedup.semanticDedup(df, "vec_id", "embedding",
      minCosine = 0.99, nlist = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("semantic dedup pairs equal brute-force pairs within each cluster") {
    // deterministic pseudo-random vectors (no RNG state in tests either)
    def vec(i: Long): Seq[Double] =
      (0 until 6).map(d => Similarity.planeCoefs(8, 6)((i % 8).toInt)(d) +
        0.01 * i * (d + 1))
    val rows = (0L until 30L).map(i => i -> vec(i))
    val df = vecFrame(rows: _*)
    val minCos = 0.8
    val got = Dedup.semanticDedupPairs(df, "vec_id", "embedding",
      minCos, nlist = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val (assigned, _) = Similarity.kmeansAssign(df, "vec_id", "embedding",
      nlist = 4, iters = 2)
    val clusters = assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val vm = rows.toMap
    val expected = (for {
      i <- 0L until 30L; j <- (i + 1) until 30L
      if clusters(i) == clusters(j) && cos(vm(i), vm(j)) >= minCos
    } yield (i, j)).toSet
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("boilerplate lines drop; prose survives in order; empty docs stay") {
    val footer = "all rights reserved"
    val df = docFrame(
      (1L, s"real prose one\n$footer\nmore prose"),
      (2L, s"other text\n  $footer  "), // trims to the same footer
      (3L, s"$footer"),                 // all-boilerplate doc
      (4L, "standalone document"))
    val out = Dedup.stripBoilerplateLines(df, "doc_id", "text", maxLineDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "real prose one\nmore prose"),
      (2L, 2L, 1L, "other text"),
      (3L, 1L, 0L, ""),
      (4L, 1L, 1L, "standalone document")))
  }

  test("paragraph dedup keeps only the canonical first occurrence") {
    val shared = "shared disclaimer text"
    val df = docFrame(
      (1L, s"own prose a\n$shared"),
      (2L, s"$shared\nown prose b"),   // loses the shared para (doc 1 first)
      (3L, s"  $shared  "),            // trims equal; all-dup doc -> empty
      (4L, "untouched"))
    val out = Dedup.dedupParagraphs(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, s"own prose a\n$shared"),
      (2L, 2L, 1L, "own prose b"),
      (3L, 1L, 0L, ""),
      (4L, 1L, 1L, "untouched")))
  }

  test("paragraph dedup canonical = min (doc, pos) within one doc too") {
    val df = docFrame((1L, "rep\nother\nrep\nrep"))
    val out = Dedup.dedupParagraphs(df, "doc_id", "text").collect()
    assert(out.head.getString(3) == "rep\nother")
  }

  test("paragraph dedup is idempotent and identity on unique-line docs") {
    val df = docFrame(
      (1L, "alpha one\nbeta two"), (2L, "gamma three"),
      (3L, "shared tail\ndelta"), (4L, "shared tail\nepsilon"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.dedupParagraphs(d, "doc_id", "text")
        .select(col("doc_id"), col("cleaned").as("text"))
    val once = run(df).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val twice = run(run(df)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once == twice) // a dedup'd corpus has nothing left to dedup
    // docs whose lines are corpus-unique pass through byte-identical
    assert(once(1L) == "alpha one\nbeta two" && once(2L) == "gamma three")
  }

  test("random corpora: boilerplate strip equals a naive reference") {
    val rnd = new scala.util.Random(7171)
    val linePool = Vector("footer x", "menu", "prose aa", "prose bb",
      "prose cc", "", "   ")
    (1 to 3).foreach { _ =>
      val corpus = (1L to 10L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(5))(
          linePool(rnd.nextInt(linePool.length))).mkString("\n")
      }
      val cap = 3
      // naive: line df = #docs containing the trimmed non-blank line;
      // lines with df > cap drop everywhere, the rest keep doc order
      val df = scala.collection.mutable.Map.empty[String, Int]
      corpus.foreach { case (_, t) =>
        t.split("\n", -1).map(_.trim).filter(_.nonEmpty).distinct
          .foreach(l => df(l) = df.getOrElse(l, 0) + 1)
      }
      val expect = corpus.map { case (id, t) =>
        val lines = t.split("\n", -1).map(_.trim).filter(_.nonEmpty)
        val kept = lines.filter(l => df(l) <= cap)
        (id, (lines.length.toLong, kept.length.toLong, kept.mkString("\n")))
      }.toMap
      val got = Dedup.stripBoilerplateLines(docFrame(corpus: _*),
        "doc_id", "text", maxLineDf = cap)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got == expect, s"corpus=$corpus")
    }
  }

  test("random corpora: paragraph dedup equals a naive reference") {
    val rnd = new scala.util.Random(9090)
    val paraPool = Vector("aa bb", "cc", "dd ee ff", "gg", "hh ii", "", "  ")
    (1 to 3).foreach { _ =>
      val corpus = (1L to 12L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(5))(
          paraPool(rnd.nextInt(paraPool.length))).mkString("\n")
      }
      // naive reference: canonical = min (doc, pos) occurrence of each
      // trimmed non-blank paragraph; only DUPLICATED paragraphs lose
      // their non-canonical occurrences; order within doc preserved
      val canon = scala.collection.mutable.Map.empty[String, (Long, Int)]
      corpus.foreach { case (id, t) =>
        t.split("\n", -1).map(_.trim).zipWithIndex
          .filter(_._1.nonEmpty).foreach { case (p, pos) =>
            canon.get(p) match {
              case None => canon(p) = (id, pos)
              case Some((cd, cp)) if cd > id || (cd == id && cp > pos) =>
                canon(p) = (id, pos)
              case _ => ()
            }
          }
      }
      val dupSet = {
        val counts = scala.collection.mutable.Map.empty[String, Int]
        corpus.foreach { case (_, t) =>
          t.split("\n", -1).map(_.trim).filter(_.nonEmpty)
            .foreach(p => counts(p) = counts.getOrElse(p, 0) + 1)
        }
        counts.filter(_._2 > 1).keySet
      }
      val expect = corpus.map { case (id, t) =>
        val paras = t.split("\n", -1).map(_.trim).zipWithIndex
          .filter(_._1.nonEmpty)
        val kept = paras.filter { case (p, pos) =>
          !dupSet.contains(p) || canon(p) == ((id, pos))
        }.map(_._1)
        (id, (paras.length.toLong, kept.length.toLong, kept.mkString("\n")))
      }.toMap
      val got = Dedup.dedupParagraphs(docFrame(corpus: _*), "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got == expect, s"corpus=$corpus")
    }
  }

  test("corpus diff labels added, removed, changed, unchanged") {
    val old = docFrame((1L, "same text"), (2L, "old version"), (3L, "gone"))
    val nu = docFrame((1L, "Same  TEXT"), // equal after normalization
      (2L, "new version"), (4L, "brand new"))
    val got = Dedup.corpusDiff(old, nu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("semantic dedup is deterministic across runs") {
    def vec(i: Long): Seq[Double] =
      (0 until 5).map(d => math.sin(i * 1.7 + d) + 0.1 * d)
    val df = vecFrame((0L until 20L).map(i => i -> vec(i)): _*)
    def run() = Dedup.semanticDedup(df, "vec_id", "embedding",
      minCosine = 0.9, nlist = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == run())
  }

  test("weighted per-group sample matches the -ln(u)/w reference and " +
      "favors heavy rows") {
    val ids = (1L to 60L)
    val salt = "#w"
    val df = docFrame(ids.map(i => (i, "t")): _*)
      .withColumn("grp", when(col("doc_id") % 2 === 0, "a").otherwise("b"))
      // one heavy row per group (weight 1000 vs 1)
      .withColumn("wt", when(col("doc_id") <= 2, 1000L).otherwise(1L))
    val k = 5
    val got = Sampling.sampleWeightedPerGroup(df, "grp", "doc_id",
        col("wt"), k, salt)
      .select("grp", "doc_id", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))

    // independent reference: the same exponential-race keys in plain JVM
    // arithmetic (md5 word + 1 scaled, -ln, /w, 12 dp half-up)
    def key(i: Long): BigDecimal = {
      val u = (md5Prefix32(i.toString + salt) + 1).toDouble / 4294967296.0
      val w = if (i <= 2) 1000.0 else 1.0
      BigDecimal(-math.log(u) / w)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }
    val want = ids.groupBy(i => if (i % 2 == 0) "a" else "b")
      .flatMap { case (g, members) =>
        members.sortBy(i => (key(i), i))
          .take(k).zipWithIndex.map { case (i, r) => (g, i, r + 1) }
      }.toSet
    assert(got.toSet == want)
    // a 1000x weight divides the race key by 1000: both heavy rows must
    // be in their group's kept set (P(miss) < (k/n)^1000, i.e. never)
    val keptIds = got.map(_._2).toSet
    assert(keptIds.contains(1L) && keptIds.contains(2L))
    // determinism under repartitioning
    val again = Sampling.sampleWeightedPerGroup(df.repartition(1), "grp",
        "doc_id", col("wt"), k, salt)
      .select("grp", "doc_id", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(again.toSet == want)
  }
}
