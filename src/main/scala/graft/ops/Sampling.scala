package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for training-data pipelines.
  *
  * Everything here keys off [[hashUnit]] — an md5-derived uniform in
  * [0, 1) of the row's id — instead of Spark's RNG-based `sample`/
  * `sampleBy`: the assignment is then (a) stable under repartitioning,
  * retries, and AQE re-plans, (b) reproducible from any other engine
  * (md5 is universal — the DuckDB oracles recompute it exactly), and
  * (c) a pure per-row projection/filter, so sampling never shuffles.
  * That is the property a 100-TB train/val/test split actually needs:
  * re-running the pipeline, or running it on a different cluster, must
  * put every document in the same split.
  */
object Sampling {

  /** First 8 md5 hex digits of `c`'s string form as an unsigned 32-bit
    * value in a long — THE engine-reproducible hash primitive every
    * deterministic decision here and in [[Output]] derives from (oracles
    * must mirror this exact arithmetic; keep it in one place).
    *
    * The fused native [[graft.plans.Md5Prefix32]] expression (one
    * digest + 4-byte read; no per-row hex string). Its value equals the
    * builtin `conv(substr(md5(c), 1, 8), 16, 10)` chain any engine can
    * replay (spec-pinned), so oracles never depend on the engine.
    */
  def md5Prefix32(c: Column): Column =
    call_function("md5_prefix32", c.cast("string"))

  /** Digest bytes 4-7 of md5(`c`) as an unsigned 32-bit value — the
    * second word of the SAME digest [[md5Prefix32]] reads the first word
    * of. Oracle twin: `('0x' || substr(md5(t), 9, 8))::BIGINT`. The
    * 64-bit SimHash's high half; independent of the first word.
    */
  def md5Second32(c: Column): Column =
    call_function("md5_second32", c.cast("string"))

  /** Uniform [0, 1) hash of `key`: [[md5Prefix32]] scaled by 2⁻³².
    * Exact in double, so threshold comparisons are bit-reproducible
    * across engines.
    */
  def hashUnit(key: Column): Column =
    md5Prefix32(key).cast("double") / 4294967296.0

  /** [[hashUnit]] with a salt appended to the key's string form. Every
    * INDEPENDENT per-row decision in a pipeline (subsample, split,
    * shard …) must draw from a differently-salted uniform: reusing one
    * hash correlates the decisions — e.g. rows subsampled at rate 0.5
    * (u < 0.5) could then never land in a split assigned from the top of
    * the same u. The empty salt is the identity (md5 input unchanged).
    */
  def hashUnit(key: Column, salt: String): Column =
    if (salt.isEmpty) hashUnit(key)
    else hashUnit(concat(key.cast("string"), lit(salt)))

  /** Assign each row to a named split. `splits` are (name, weight) with
    * weights summing to ~1; boundaries are the cumulative weights, so
    * e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)` sends
    * hashUnit < 0.8 to train, < 0.9 to val, the rest to test.
    * Adds a `split` string column; no shuffle.
    */
  def splitByHash(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"split weights sum to $total, not 1")
    val u = hashUnit(col(idCol), salt)
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    val assign = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), hi), alt) =>
      when(u < hi, name).otherwise(alt)
    }
    df.withColumn("split", assign)
  }

  /** Keep a deterministic `fraction` of rows: pure filter, no shuffle,
    * stable under re-runs (the scalable replacement for `df.sample`).
    */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double,
      salt: String = ""): DataFrame =
    df.where(hashUnit(col(idCol), salt) < fraction)

  /** Deterministic top-k rows per group by a score (FineWeb-style
    * per-domain quality cut: keep each source's k best documents). Ties
    * break by ascending id, so the kept set is reproducible on any
    * engine/partitioning. One shuffle on the group key; k bounds every
    * group's survivors, so a giant domain can't flood the output.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, scoreCol: Column,
      idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(scoreCol.desc, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .withColumnRenamed("__rk", "group_rank")
  }

  /** Exactly-k uniform sample per group: rank rows inside each group by
    * their salted [[hashUnit]] (ties by ascending id — impossible for
    * distinct ids, but keeps the ordering total) and keep the first k.
    * The reservoir-sampling use case, made deterministic: unlike
    * `rand()`-ordered sampling the kept set is a pure function of
    * (id, salt), so re-runs, retried tasks, and other engines agree
    * row-for-row. Unlike [[sampleByHash]] the group sizes are EXACT —
    * min(k, |group|) — which is what "give me 10k eval docs per
    * language" actually needs. One shuffle on the group key; adds
    * `sample_rank` (1-based rank within the group's kept set).
    */
  def sampleExactPerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(hashUnit(col(idCol), salt), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Exactly-k WEIGHTED sample per group, without replacement
    * (Efraimidis–Spirakis A-ES via the exponential race): each row draws
    * key = −ln(u)/w from its salted md5 uniform u ∈ (0, 1] and the k
    * smallest keys per group win — inclusion probability proportional to
    * weight, the importance-weighted cousin of [[sampleExactPerGroup]]
    * (DSIR-style quality-weighted subcorpus draws). Deterministic and
    * engine-reproducible: u is exact md5 arithmetic, the key is rounded
    * to 12 dp so cross-engine libm ln differences (≤1 ulp) vanish, and
    * ties break by ascending id. Non-positive weights are clamped to 1
    * (a 0-weight row must not produce ±inf keys that ANSI-mode engines
    * disagree on). One shuffle on the group key; adds `sample_key` and
    * `sample_rank`.
    */
  def sampleWeightedPerGroup(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    // (m + 1) / 2^32 ∈ (0, 1]: never 0, so -ln(u) is finite
    val u = (md5Prefix32(
      if (salt.isEmpty) col(idCol) else concat(col(idCol).cast("string"),
        lit(salt))) + 1).cast("double") / 4294967296.0
    val key = round(-log(u) / greatest(weight.cast("double"), lit(1.0)), 12)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(key, col(idCol))
    df.withColumn("sample_key", key)
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Per-stratum deterministic sampling — `DataFrameStatFunctions.sampleBy`
    * without the RNG: rows whose `strataCol` value is missing from
    * `fractions` fall back to `default`.
    */
  def sampleByHashStratified(df: DataFrame, idCol: String, strataCol: String,
      fractions: Map[String, Double], default: Double = 0.0,
      salt: String = ""): DataFrame = {
    val frac = fractions.foldLeft(lit(default)) { case (alt, (value, f)) =>
      when(col(strataCol) === value, f).otherwise(alt)
    }
    df.where(hashUnit(col(idCol), salt) < frac)
  }
}
