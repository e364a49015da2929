package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Data Selection via Importance Resampling (DSIR) — score every raw
  * document by how target-like its hashed n-gram profile is, per the
  * published method (Xie et al. 2023, "Data Selection for Language Models
  * via Importance Resampling"): unigram+bigram features hashed into a
  * fixed number of buckets, bag-of-words bucket distributions fitted on
  * the target and raw corpora with add-1 smoothing, and per-document
  * log importance weight `Σ_f count_f · (log₂ p_target(b_f) − log₂
  * p_raw(b_f))`. Selection then keeps the top-weight documents (or
  * Gumbel-resamples on the weights — both are a filter over this score).
  *
  * Engine-reproducibility contract (what makes the score oracle-checkable
  * and re-runs byte-stable): bucket assignment is md5-derived
  * ([[Sampling.md5Prefix32]] mod buckets — universal arithmetic, no
  * engine-specific hash), each bucket's log-ratio is quantized to 4
  * decimal places, and the per-document sum runs in DECIMAL, so the
  * result is independent of partitioning, add order, and engine.
  *
  * Scale shape (the 100 TB plan): feature extraction is an explode over
  * tokens — the same one-pass shuffle as the vocab/contamination family;
  * both corpus distributions are groupBys onto ≤ `buckets` keys
  * (map-side partial counts collapse the token stream to a bounded-size
  * aggregate); the ratio table is `buckets` rows and is BROADCAST to the
  * scoring join, so scoring itself is one aggregation per document.
  * Nothing driver-side except the bounded bucket table (the
  * IVF-centroid class of boundary).
  */
object Dsir {

  /** Hashed feature id of a gram: md5-prefix mod `buckets` (non-negative;
    * md5Prefix32 is already unsigned-32 in a long).
    */
  def gramBucket(gram: Column, buckets: Int): Column =
    pmod(Sampling.md5Prefix32(gram), lit(buckets.toLong))

  /** Unigrams + strict word bigrams of a token array — THE featurizer.
    * Single-sourced because training ([[featRows]]) and serving
    * ([[scoreExpr]]) must tokenize identically or scoring parity breaks.
    *
    * Bigrams come from `zip_with(toks, slice(toks, 2, …))` rather than a
    * `transform` whose lambda slices `toks` per index: a column captured
    * inside a HOF lambda re-evaluates per ELEMENT, so when `toks` is the
    * full tokenizer chain (the serving path — no materialized token
    * column to lean on) the old spelling re-ran regex normalization once
    * per bigram position. zip_with's array arguments evaluate once; the
    * shorter side pads with null, which concat propagates and the filter
    * drops — same strings, same order, same counts.
    */
  private[ops] def gramsOf(toks: Column): Column =
    concat(toks,
      filter(
        zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        g => g.isNotNull))

  /** (id, bucket) — one row per unigram + strict word bigram occurrence.
    * Multiplicity is meaningful (bag-of-words counts), so no distinct.
    * The token array is materialized in its own projection so the
    * normalize-regex runs once per document, not once per derived array
    * (the triFrame lesson).
    */
  private[ops] def featRows(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, keep: Seq[String] = Seq.empty): DataFrame = {
    val keepCols = keep.map(col)
    df.select(col(idCol) +: TextOps.tokens(col(textCol)).as("__toks") +:
        keepCols: _*)
      .select(col(idCol) +: explode(gramsOf(col("__toks"))).as("__gram") +:
        keepCols: _*)
      .select(col(idCol) +: gramBucket(col("__gram"), buckets).as("__b") +:
        keepCols: _*)
  }

  /** The smoothed 4dp-quantized log₂-ratio table as a Spark frame over
    * the FULL bucket domain (unseen buckets get the smoothed default) —
    * `buckets` rows from collected counts. Single-sourced: both the
    * frame-scoring join and the fitted [[Model]] derive from THIS
    * expression, so the quantization arithmetic exists in exactly one
    * engine (no driver-side libm re-implementation to drift by an ulp).
    */
  private def ratioFrame(spark: SparkSession, bc: Array[Row], nT: Long,
      nR: Long, buckets: Int): DataFrame = {
    val bcDf = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(bc.toSeq).asJava),
      StructType(Seq(StructField("__b", LongType),
        StructField("nt", LongType), StructField("nr", LongType))))
    spark.range(buckets).select(col("id").as("__b"))
      .join(bcDf, Seq("__b"), "left")
      .select(col("__b"),
        // each log₂ is quantized to 4dp SEPARATELY before the difference —
        // the LmScore trick: a coarse per-term grid absorbs cross-engine
        // libm ulp differences, after which all arithmetic is exact
        (round(log2((coalesce(col("nt"), lit(0L)) + 1).cast("double") /
            lit((nT + buckets).toDouble)), 4).cast(DecimalType(18, 4)) -
         round(log2((coalesce(col("nr"), lit(0L)) + 1).cast("double") /
            lit((nR + buckets).toDouble)), 4).cast(DecimalType(18, 4)))
          .as("__lr"))
  }

  /** Score `raw`'s documents against `target`'s feature distribution.
    *
    * Returns (idCol, n_feats, log_weight): feature count and the
    * 4dp-quantized DECIMAL-summed log₂ importance weight (cast to double
    * at the end — every addend is exact in DECIMAL(18,4), so the sum is
    * order-independent). Documents with no features get no row (a doc
    * with zero grams has weight 0 by definition and nothing to score).
    *
    * Execution shape: the exploded gram stream of BOTH corpora runs
    * EXACTLY ONCE — a flagged union, persisted and reused for (a) the
    * two bucket distributions (one aggregation onto ≤ `buckets` keys,
    * collected — driver-bounded like IVF centroids, and the totals have
    * to become plan literals anyway) and (b) the scoring join against
    * the broadcast ratio table. The per-doc result is eagerly
    * checkpointed so the feature cache can be released before returning
    * (the q22 cache-lifetime discipline); it is one narrow row per
    * document — two orders smaller than the token stream it replaces.
    *
    * @param buckets hash-feature dimensionality (DSIR uses 10⁴; anything
    *                ≥ a few thousand keeps collisions immaterial). The
    *                ratio table is `buckets` rows — bounded and
    *                broadcast, never corpus-sized.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame = {
    val flagged = featRows(raw, idCol, textCol, buckets)
        .withColumn("__t", lit(false))
      .unionByName(featRows(target, idCol, textCol, buckets)
        .withColumn("__t", lit(true)))
    weightsFromFlagged(flagged, idCol, buckets, targetWithinRaw = false)
  }

  /** [[importanceWeights]] for an IN-CORPUS target: `isTarget` marks the
    * target rows of `raw` itself (e.g. `col("lang") === "en"`), so the
    * corpus is scanned and exploded ONCE — target features count into
    * both distributions, exactly as if the subset had been passed as the
    * second frame. Prefer this whenever the target is a predicate over
    * the raw corpus; the two-frame overload exists for a genuinely
    * separate reference corpus (Wikipedia vs crawl).
    */
  def importanceWeights(raw: DataFrame, isTarget: Column, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    val flagged = featRows(
      raw.withColumn("__t", isTarget), idCol, textCol, buckets,
      keep = Seq("__t"))
    weightsFromFlagged(flagged, idCol, buckets, targetWithinRaw = true)
  }

  /** Flagged feature rows → per-bucket (nt, nr) counts + totals.
    * `targetWithinRaw` decides whether __t rows are raw too (flag
    * overload) or a separate stream (two-frame overload).
    */
  private def bucketCounts(rows: DataFrame,
      targetWithinRaw: Boolean): (Array[Row], Long, Long) = {
    val rawSide = if (targetWithinRaw) lit(true) else !col("__t")
    val bc = rows.groupBy("__b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("nt"),
      sum(when(rawSide, 1L).otherwise(0L)).as("nr"))
      .collect()
    (bc, bc.map(_.getLong(1)).sum, bc.map(_.getLong(2)).sum)
  }

  /** Shared scoring core over flagged feature rows (idCol, __b, __t).
    *
    * The exploded feature stream is persisted RAW — a per-(doc, bucket)
    * pre-aggregation was measured to collapse almost nothing (grams
    * rarely repeat within a doc), so it was a full extra shuffle for no
    * volume reduction. Both consumers aggregate with map-side partials:
    * the bucket distributions collapse onto ≤ `buckets` keys, and the
    * scoring pass sums one broadcast-joined `lr` term per occurrence
    * (identical in exact DECIMAL to the count·lr formulation).
    */
  private def weightsFromFlagged(flagged: DataFrame, idCol: String,
      buckets: Int, targetWithinRaw: Boolean): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val spark = flagged.sparkSession
    val rows = flagged.persist()
    val (bc, nT, nR) = bucketCounts(rows, targetWithinRaw)
    val ratio = ratioFrame(spark, bc, nT, nR, buckets)
    val weights = rows.where(if (targetWithinRaw) lit(true) else !col("__t"))
      .join(broadcast(ratio), "__b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("__lr")).cast("double").as("log_weight"))
      .localCheckpoint(true)
    rows.unpersist()
    weights
  }

  /** Deterministic top-fraction selection on the weights: keep the
    * documents whose log-weight clears `minLogWeight`. (A quantile-derived
    * threshold is one `percentile_approx` away; the comparison itself is
    * the reproducible part.)
    */
  def select(weights: DataFrame, minLogWeight: Double): DataFrame =
    weights.where(col("log_weight") >= minLogWeight)

  /** Gumbel-top-k resampling over the importance weights — the SAMPLE
    * step of the DSIR paper (sampling without replacement with
    * probability ∝ exp(log_weight), via the Gumbel-max trick: perturb
    * each score with Gumbel(0,1) noise and take the k largest).
    *
    * The noise is g = −ln(−ln u) of the salted md5 uniform, so the
    * "random" draw is a pure function of (id, salt): re-runs, retries,
    * and other engines pick the identical sample — Spark's `rand()`
    * would re-draw per task attempt. g is quantized to a 6dp grid (the
    * LmScore trick) so a libm ln ulp can't flip a near-tie across
    * engines; remaining ties break by id. Adds `score` (log_weight +
    * g); `orderBy(...).limit(k)` plans as TakeOrderedAndProject —
    * per-partition top-k then a k-row merge, never a global sort.
    */
  def gumbelResample(weights: DataFrame, idCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    val u = Sampling.hashUnit(col(idCol), salt)
    val g = round(-log(-log(u)), 6)
    weights.withColumn("score", col("log_weight") + g)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** A fitted DSIR model: the 4dp log₂-ratio per bucket (scaled to an
    * integer number of 1e-4 grid steps, so literal-map arithmetic stays
    * exact in longs) — `buckets` entries, broadcast-as-literal sized.
    */
  final case class Model(buckets: Int, lr4dp: Map[Long, Long])

  /** Fit the bucket log-ratio model without scoring anything — the
    * training half of [[importanceWeights]], for when the scoring side
    * is a different frame or a STREAM. The ratios are computed by the
    * SAME Spark expression the frame pipeline uses ([[ratioFrame]],
    * collected — `buckets` rows), then stored as exact 1e-4 grid steps;
    * no arithmetic is re-implemented driver-side, so fit/score parity
    * cannot drift by a libm ulp.
    */
  def fit(raw: DataFrame, isTarget: Column, idCol: String, textCol: String,
      buckets: Int = 4096): Model = {
    require(buckets > 0, "buckets must be positive")
    val rows = featRows(raw.withColumn("__t", isTarget), idCol, textCol,
      buckets, keep = Seq("__t"))
    val (bc, nT, nR) = bucketCounts(rows, targetWithinRaw = true)
    val lr = ratioFrame(raw.sparkSession, bc, nT, nR, buckets)
      .collect()
      .map(r => r.getLong(0) ->
        r.getDecimal(1).movePointRight(4).longValueExact())
      .toMap
    Model(buckets, lr)
  }

  /** Per-row scoring COLUMN against a fitted model: the whole
    * unigram+bigram → bucket → Σ log-ratio pipeline as one in-row
    * expression over a literal lookup map — no explode, no shuffle, no
    * state. This is the serving-side form: usable in a Structured
    * Streaming `select` (stateless, append mode) and as a scan-speed
    * batch gate. Returns the log₂ weight as a double (each addend is an
    * exact 1e-4 grid step summed in longs, so the result is
    * bit-identical to [[importanceWeights]]'s DECIMAL sum).
    */
  def scoreExpr(text: Column, m: Model): Column = {
    // ADVICE r20: fail loudly at build time if the model map is sparse —
    // the dense-domain array construction below would otherwise throw an
    // opaque NoSuchElementException mid-build
    require(m.lr4dp.size == m.buckets,
      s"Dsir.Model: lr4dp must cover all ${m.buckets} buckets, has ${m.lr4dp.size}")
    // dense-domain ARRAY literal, not a map literal: element_at over a
    // literal map is a linear scan of all `buckets` entries per gram
    // (ArrayBasedMapData has no hash index) — O(buckets) per lookup
    // where a positional array read is O(1), value-identical (the model
    // covers the full 0..buckets-1 domain by construction)
    val lrArr = typedLit(
      (0L until m.buckets.toLong).map(m.lr4dp).toIndexedSeq)
    scoreFromSum(gramStepSum(text, lrArr),
      sn => sn._1.cast("double") / 1e4)
  }

  /** (step_sum, n_grams) of `text` against a dense weight-array literal —
    * the shared serving kernel of this scorer and
    * [[QualityClassifier.scoreExpr]]: the codegen'd native
    * [[graft.plans.GramWsum]] (one tight loop per row; guide §4.1). Its
    * longs equal the interpreted `aggregate` over [[gramsOf]] with
    * [[gramBucket]] lookups (same gram strings, same md5 bucket
    * arithmetic, exact long sums) — SelectionSpec pins the two, and
    * serve parity end to end.
    */
  private[ops] def gramStepSum(text: Column, wArr: Column): (Column, Column) = {
    val sn = call_function("gram_wsum", TextOps.tokens(text), wArr)
    (element_at(sn, 1), element_at(sn, 2))
  }

  /** Null-for-featureless-docs guard shared by both serving scorers. */
  private[ops] def scoreFromSum(sn: (Column, Column),
      score: ((Column, Column)) => Column): Column =
    when(sn._2 > 0, score(sn))
}
