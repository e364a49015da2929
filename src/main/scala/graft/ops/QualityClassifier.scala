package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** GPT-3-style quality classifier: logistic regression over hashed
  * unigram+bigram features (the published web-corpus quality-filter
  * recipe — a linear classifier on hashed n-grams separating a trusted
  * corpus from raw crawl), trained WITH Spark aggregations and served as
  * a stateless per-row column.
  *
  * Uses [[Dsir]]'s featurizer verbatim (same tokenization, same md5
  * bucket arithmetic), so classifier and importance-weight scores see
  * literally the same feature space.
  *
  * Determinism contract (same discipline as Dsir/LmScore): weights live
  * on a 1e-6 integer grid snapped with `floor(x*1e6 + 0.5)` — an
  * exactly-rounded IEEE op chain any engine reproduces bit-for-bit —
  * per-document margins are exact long sums of grid steps with ONE final
  * double division, gradient contributions quantize to a 12dp grid
  * before a DECIMAL sum, and the bias gradient is the EXACT decimal sum
  * of the bucket gradients. The fitted model and every score are
  * therefore independent of partitioning, re-runs, AND engine: the q78
  * oracle replays the whole training loop as DuckDB CTEs. (The sigmoid
  * is the one libm step; its output meets the 12dp gradient grid / 6dp
  * score round, where a ≤1-ulp libm difference only matters within
  * ~1e-17 of a grid boundary.)
  *
  * Scale shape: the feature explode runs ONCE, collapsing to a
  * per-(doc, bucket) count frame hash-partitioned by doc and
  * localCheckpointed; each epoch is one partitioning-reusing per-doc
  * aggregation (margins — exact long step sums), a co-partitioned
  * join, and one per-bucket aggregation (gradients onto ≤ `buckets`
  * keys, map-side partials) ending in a ≤ `buckets`-row collect — the
  * IVF-centroid class of driver boundary. Epochs are sequential by
  * definition; each shuffles only bucket aggregates, never the corpus.
  */
object QualityClassifier {

  /** Fitted model: bias and per-bucket weights as exact 1e-6 grid steps
    * (every bucket present — `buckets` entries, broadcast-literal sized).
    */
  final case class LrModel(buckets: Int, bias6dp: Long, w6dp: Map[Long, Long])

  /** margin = bias + (Σ_occurrences w(bucket)) / n_feats, from exact
    * long step-sums — the ONE spelling of the score arithmetic, shared
    * by training and [[scoreExpr]] so parity cannot drift.
    */
  private def marginOf(bias6dp: Long, stepSum: Column, n: Column): Column =
    lit(bias6dp).cast("double") / 1e6 +
      (stepSum.cast("double") / n.cast("double")) / 1e6

  private def sigmoid(x: Column): Column = lit(1.0) / (lit(1.0) + exp(-x))

  /** Train by full-batch gradient descent: `epochs` passes at rate
    * `lrRate` with L2 strength `l2`. `labelCol` marks the positive
    * (high-quality) class; docs with no features are skipped (nothing to
    * learn from, consistent with [[Dsir.importanceWeights]]).
    */
  def train(df: DataFrame, labelCol: Column, idCol: String, textCol: String,
      buckets: Int = 1024, epochs: Int = 10, lrRate: Double = 1.0,
      l2: Double = 0.0): LrModel = {
    require(epochs >= 1 && buckets > 0, "need epochs >= 1, buckets > 0")
    // r21 epoch-loop shape (guide §2.4, VERDICT r20 item 7): the feature
    // stream is EPOCH-INVARIANT, so it collapses ONCE to a per-(doc,
    // bucket) count frame, hash-partitioned by doc and localCheckpointed.
    // Each epoch then runs exchange-free until the ≤`buckets`-key
    // gradient aggregation: the margin groupBy(doc) reuses the leaf's
    // partitioning, the margins↔counts join is co-partitioned, and only
    // bucket-sized partial aggregates cross the wire — where the r20 loop
    // re-shuffled the occurrence stream per epoch (groupBy + two joins),
    // 43 scheduler-latency-bound single-task jobs over 6 epochs in the
    // r20 profile. Margins and gradients are value-identical: the margin
    // step-sum Σ_occ w(b) == Σ_(b) c·w(b) in exact longs, and each
    // occurrence's 12dp-quantized gradient addend is a constant per (doc,
    // bucket), so c·addend in DECIMAL equals the occurrence sum exactly.
    val cnts = Dsir.featRows(
        df.withColumn("__y", labelCol.cast("boolean").cast("double")),
        idCol, textCol, buckets, keep = Seq("__y"))
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c"), first(col("__y")).as("__y"))
      .repartition(col(idCol))
      .localCheckpoint(true)
    var bias = 0L
    var w: Map[Long, Long] = (0L until buckets.toLong).map(_ -> 0L).toMap
    val nDocs = math.max(1L, // docs with ≥1 feature — constant across epochs
      cnts.select(countDistinct(col(idCol))).collect()(0).getLong(0))
    // 1e-6 grid snap as pure fp ops (multiply, add, floor — all exactly
    // rounded), NOT BigDecimal HALF_UP: the same three ops in SQL give
    // the same long on any IEEE-754 engine, which is what lets the q78
    // oracle replay training
    def grid6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    (0 until epochs).foreach { _ =>
      // weights as an ARRAY literal indexed by bucket, not a map literal:
      // element_at over a literal map is a LINEAR SCAN of all `buckets`
      // entries per lookup (ArrayBasedMapData has no hash index), which
      // made every feature-row lookup O(buckets) — the dominant per-epoch
      // cost at 1024 buckets. The bucket domain is dense 0..buckets-1, so
      // a positional array lookup is O(1) and value-identical.
      val wArr = typedLit((0L until buckets.toLong).map(w).toIndexedSeq)
      // per-doc margin: exact long sum of grid steps (count × weight per
      // bucket), one division; __n/__y ride the same aggregation — no
      // perDoc join
      val margins = cnts
        .groupBy(col(idCol))
        .agg(sum(col("__c") * element_at(wArr, (col("__b") + 1).cast("int")))
            .as("__steps"),
          sum(col("__c")).as("__n"), first(col("__y")).as("__y"))
        .select(col(idCol),
          (sigmoid(marginOf(bias, col("__steps"), col("__n"))) - col("__y"))
            .as("__r"),
          col("__n"))
      // per-bucket gradient: 12dp-quantized contributions, DECIMAL sum —
      // c · round(r/n, 12) is the exact DECIMAL sum of c identical
      // occurrence addends, so the grid arithmetic is unchanged. The
      // bias gradient is Σ_docs r = Σ_feats (r/n) up to the grid — i.e.
      // the SUM of the bucket gradients — so one aggregation feeds both
      // updates (summed in bucket order for determinism).
      val grads = cnts.join(margins, idCol)
        .groupBy(col("__b"))
        .agg(sum(col("__c").cast(DecimalType(10, 0)) *
          round(col("__r") / col("__n"), 12)
            .cast(DecimalType(28, 12))).as("__g"))
        .collect()
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      // bias gradient = Σ bucket gradients as the EXACT decimal sum
      // (associative, so order-free — a double fold here would pin an
      // arbitrary summation order no SQL engine reproduces), converted
      // to double once for the update arithmetic
      val biasGrad = grads.values
        .foldLeft(java.math.BigDecimal.ZERO)(_ add _).doubleValue()
      w = w.map { case (b, stepsOld) =>
        val old = stepsOld.toDouble / 1e6
        val g = grads.get(b).map(_.doubleValue()).getOrElse(0.0)
        b -> grid6(old - lrRate * (g / nDocs + l2 * old))
      }
      bias = grid6(bias.toDouble / 1e6 - lrRate * biasGrad / nDocs)
    }
    LrModel(buckets, bias, w)
  }

  /** Per-row quality probability against a fitted model — the serving
    * form: the whole gram → bucket → weight-sum → sigmoid pipeline as
    * one in-row expression over a literal lookup map. No explode, no
    * shuffle, no state: usable in a streaming select and as a
    * scan-speed batch gate. Null for docs with no features (mirroring
    * training, which skips them).
    */
  def scoreExpr(text: Column, m: LrModel): Column = {
    // ADVICE r20: fail loudly at build time if the model map is sparse —
    // the dense-domain array construction below would otherwise throw an
    // opaque NoSuchElementException mid-build
    require(m.w6dp.size == m.buckets,
      s"LrModel: w6dp must cover all ${m.buckets} buckets, has ${m.w6dp.size}")
    // dense-domain ARRAY literal, not a map literal: element_at on a
    // literal map linear-scans all `buckets` entries per gram (see train).
    // The gram walk itself is the shared serving kernel
    // [[Dsir.gramStepSum]] — the codegen'd native gram_wsum (r21,
    // guide §4.1).
    val wArr = typedLit(
      (0L until m.buckets.toLong).map(m.w6dp).toIndexedSeq)
    Dsir.scoreFromSum(Dsir.gramStepSum(text, wArr),
      sn => sigmoid(marginOf(m.bias6dp, sn._1, sn._2)))
  }
}
