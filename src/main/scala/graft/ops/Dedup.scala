package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Four families, each with a different recall/cost point:
  *  - [[exact]] — hash-groupBy on normalized text; one shuffle, exact.
  *  - [[minHashLshPairs]] — MinHash signatures + banded LSH: candidate
  *    pairs only meet inside a band bucket, so the all-pairs O(n²) never
  *    materializes; candidates are then verified with true shingle Jaccard.
  *  - [[simHash]] / [[simHashPairs]] — 64-bit SimHash; near-dup pairs via
  *    16-bit chunk blocking (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks
  *    equal), verified with `bit_count(xor)`.
  *  - [[embeddingNearDupPairs]] — cosine near-dups over an embedding
  *    column, bucketed by [[Similarity.lshBucket]] hyperplane signs.
  *
  * Scale design: every stage is groupBy/join on a key whose cardinality
  * grows with n (shingle hash, band bucket, chunk value) — no driver
  * collects, no cross join, no global windows. Skewed buckets (boilerplate
  * shingles) are bounded by `maxBucketSize` which drops pathological
  * buckets the way production LSH dedup does.
  */
object Dedup {

  /** Content key for exact dedup: the normalized text itself, or — the
    * corpus-scale path — its full 128-bit md5 as a 32-char hex string.
    * The fingerprint key cuts the exchange payload from the whole
    * document to 32 bytes/row (at 100 TB that is the difference between
    * shuffling the corpus and shuffling ~32 bytes × n). Collision risk
    * is n²/2¹²⁹ (~10⁻²⁰ at 10¹⁰ docs), and md5 — not an engine hash —
    * keeps recorded dedup decisions replayable on any engine (the q20
    * oracle still groups by the text and must see identical groups).
    */
  private def contentKey(textCol: String, byFingerprint: Boolean): Column =
    if (byFingerprint) md5(TextOps.normText(col(textCol)).cast("binary"))
    else TextOps.normText(col(textCol))

  /** Exact dedup: one row per distinct normalized text with the surviving
    * (minimum) id and the duplicate-group size. Single hash shuffle;
    * map-side partial aggregation applies. `byFingerprint` shuffles the
    * 128-bit [[contentKey]] instead of the full text — the 100 TB path;
    * both produce identical groups (OpsSpec pins equality).
    */
  def exact(df: DataFrame, idCol: String, textCol: String,
      byFingerprint: Boolean = false): DataFrame =
    df.groupBy(contentKey(textCol, byFingerprint).as("text_norm"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup: rows of `df` whose normalized text does NOT
    * already appear in `reference` — the daily-ingest primitive (dedup a
    * new crawl against the standing corpus without touching the corpus).
    * One left-anti equi-join on the content key; both sides shuffle on
    * it, reference rows are pre-deduped so the build side carries one
    * row per distinct key. `byFingerprint` joins on the 128-bit
    * [[contentKey]] instead of the full text (the 100 TB path).
    */
  def exactAgainst(df: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, byFingerprint: Boolean = false): DataFrame = {
    val refKeys = reference
      .select(contentKey(textCol, byFingerprint).as("__tn")).distinct()
    df.withColumn("__tn", contentKey(textCol, byFingerprint))
      .join(refKeys, Seq("__tn"), "left_anti")
      .drop("__tn")
  }

  /** [[exactAgainst]] with a broadcast Bloom pre-screen — the 100 TB
    * shape of the nightly screen. The plain anti-join ships EVERY
    * new-batch key through the shuffle against the standing corpus; at
    * corpus scale almost all of tonight's keys are misses, so that
    * shuffle is mostly wasted motion. Here a Bloom filter built over the
    * standing fingerprints (Spark's own runtime-filter aggregate,
    * registered by GraftExtensions) rides to every scan task as a ~1
    * byte/key literal: definite-misses are kept MAP-SIDE with no
    * shuffle at all, and only the `might_contain` maybes (true dups +
    * the fpp sliver) pay the exact anti-join. Bloom filters have no
    * false negatives, so the kept set is IDENTICAL to [[exactAgainst]]
    * (q94's oracle pins this against the same NOT EXISTS replay as q55).
    *
    * The standing-side count + one-row Bloom binary are the two
    * driver-side scalars — the same bounded boundary class as the
    * k-means centroids; in a real nightly loop both persist with the
    * corpus and amortize across runs. Spark clamps the sketch at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (64 MiB
    * default ≈ 4G keys at acceptable fpp) — beyond that, raise the conf
    * or shard the filter; the fallback is always plain [[exactAgainst]].
    *
    * Null keys never match an anti-join, so the null branch of
    * `might_contain` (null in → null out) is coalesced to `false`:
    * null-keyed rows take the definite-miss path and survive, exactly
    * as they survive the plain anti-join.
    */
  def exactAgainstBloom(df: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, byFingerprint: Boolean = false,
      fpp: Double = 0.01): DataFrame = {
    val refKeys = reference
      .select(contentKey(textCol, byFingerprint).as("__tn")).distinct()
    val n = refKeys.count()
    if (n == 0) return df
    // optimal m = -n ln(p) / ln(2)^2, floored at 64 bits
    val numBits = math.max(64L,
      math.ceil(-n.toDouble * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong)
    val bloom = refKeys
      .agg(expr(s"bloom_filter_agg(xxhash64(__tn), ${n}L, ${numBits}L)")
        .as("bf"))
      .head().getAs[Array[Byte]](0)
    val keyed = df.withColumn("__tn", contentKey(textCol, byFingerprint))
      .withColumn("__maybe", coalesce(
        call_function("might_contain", lit(bloom), xxhash64(col("__tn"))),
        lit(false)))
    val definiteMiss = keyed.where(!col("__maybe"))
    val maybes = keyed.where(col("__maybe"))
      .join(refKeys, Seq("__tn"), "left_anti")
    definiteMiss.unionByName(maybes).drop("__tn", "__maybe")
  }

  /** Distinct word `w`-shingles as rows (id, __sh).
    *
    * Built with posexplode + windowed `lead` rather than an array
    * higher-order function: a lambda that re-references the token array
    * re-tokenizes the document once PER SHINGLE (no common-subexpression
    * elimination inside `transform`), which profiling showed dominating the
    * whole LSH pipeline. Here tokenization happens once per doc and each
    * shingle is one window row — linear work, partitioned by doc id.
    * By default docs shorter than `w` tokens contribute their whole text
    * as one shingle (concat_ws skips the null leads) so short docs still
    * dedup; `strict = true` drops them instead (exact `w`-windows only —
    * the contamination/span semantics).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      w: Int, strict: Boolean = false): DataFrame =
    posGramRows(df, idCol, textCol, w, wholeDocFallback = !strict)
      .select(col(idCol), col("gram").as("__sh")).distinct()

  /** Positional word `w`-grams as rows (id, pos, gram) — the one
    * tokenize-once/lead construction behind [[shingleRows]] and
    * [[duplicateSpans]] (an array `transform` lambda would re-tokenize
    * the document once per gram; this is linear, partitioned by doc).
    * With `wholeDocFallback`, a doc shorter than `w` tokens contributes
    * its whole text as one gram at pos 0 (concat_ws skips the null
    * leads) instead of nothing.
    *
    * Measured round 8 and kept as the window form deliberately: a
    * mapPartitions gram emitter (no doc exchange, grams at scan) was
    * 10–30% SLOWER at sf0.1 AND at 10× — one boxed Row per gram through
    * the object boundary costs more than the codegen'd window exchange,
    * at both scales. mapPartitions pays off when it kills interpreted-
    * HOF re-evaluation ([[lshIndexRows]], 100×), not when it replaces
    * an already-codegen'd exchange with per-row object churn.
    */
  def posGramRows(df: DataFrame, idCol: String, textCol: String,
      w: Int, wholeDocFallback: Boolean = false): DataFrame = {
    val tok = df.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "__t")))
    if (w <= 1) tok.select(col(idCol), col("pos"), col("__t").as("gram"))
    else {
      val win = Window.partitionBy(idCol).orderBy("pos")
      val parts = col("__t") +: (1 until w).map(k => lead(col("__t"), k).over(win))
      val complete = lead(col("__t"), w - 1).over(win).isNotNull
      val keep =
        if (!wholeDocFallback) complete
        else complete || (col("pos") === 0 &&
          count(lit(1)).over(Window.partitionBy(idCol)) < w)
      tok.select(col(idCol), col("pos"), concat_ws(" ", parts: _*).as("gram"),
          keep.as("__keep"))
        .where(col("__keep")).drop("__keep")
    }
  }

  /** Deterministic MinHash signature table: (id, sig_0 … sig_{h-1}) over
    * word `w`-shingle hashes.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, shingleWidth: Int = 3): DataFrame =
    signaturesFromShingles(shingleRows(df, idCol, textCol, shingleWidth),
      idCol, numHashes)

  /** Content-defined chunking: split each document at positions where
    * the hash of the trailing `window`-token context ≡ 0 mod `divisor`
    * — CDC, the storage-dedup chunker (LBFS/rsync lineage) applied at
    * the token level. Because boundaries depend only on LOCAL content,
    * chunk edges RESYNCHRONIZE after an insertion or deletion: two
    * documents sharing a long passage emit identical interior chunks
    * even when the passage sits at different offsets — exactly what
    * fixed-size chunking destroys, and the property that makes
    * chunk-level exact dedup find partially-duplicated documents that
    * document-level dedup misses. Mean chunk length ≈ `divisor`
    * tokens.
    *
    * Returns (idCol, chunk_id, n_tokens, chunk). One tokenize pass +
    * two windows per doc (context hash via lag, chunk id via a
    * cumulative cut-count) + one groupBy — all partitioned by doc id,
    * linear at any corpus size. The cut decision is md5-word
    * arithmetic, so chunk boundaries and chunk hashes replay on any
    * engine (chunk manifests written at 100 TB re-verify anywhere).
    */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 16): DataFrame = {
    val win = Window.partitionBy(idCol).orderBy("pos")
    val tok = df.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "__t")))
      .withColumn("__p1", lag(col("__t"), 1).over(win))
      .withColumn("__p2", lag(col("__t"), 2).over(win))
    val cut = when(col("__p2").isNotNull &&
      graft.ops.Sampling.md5Prefix32(
        concat_ws(" ", col("__p2"), col("__p1"), col("__t"))) % divisor === 0,
      1).otherwise(0)
    val chunked = tok.withColumn("__cut", cut)
      .withColumn("chunk_id", coalesce(
        sum(col("__cut")).over(win.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    chunked.groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("__t")))),
          s => s.getField("__t"))).as("chunk"))
  }

  /** b-bit MinHash compression at b=1 (Li & König, WWW 2010): keep only
    * the LOWEST BIT of each signature component, packed into one long —
    * 4 bytes per doc at 32 hashes where the full signature is 256, the
    * 64× index-size trick b-bit similarity indexes are built on. For a
    * pair with Jaccard J a full component collides with prob J; its
    * retained bit collides with prob J + (1−J)/2, so the debiased
    * estimator is Ĵ = 2·(agree/n) − 1 and pair agreement is one
    * `bit_count(xor)` over the packed codes. The price is ~2× estimator
    * variance at equal n (production b-bit indexes raise n to
    * compensate); q107 reports the 1-bit and full-signature estimates
    * side by side against exact Jaccard so the trade is measured, not
    * asserted. Bit arithmetic on the engine-portable signature family,
    * so codes replay cell-exact on any engine.
    */
  def oneBitMinHashCodes(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, shingleWidth: Int = 3): DataFrame = {
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingleWidth)
    val code = (0 until numHashes)
      .map(i => (col(s"sig_$i") % 2) * lit(1L << i))
      .reduce(_ + _)
    sigs.select(col(idCol), code.as("code"))
  }

  /** Modulus for the affine MinHash permutations: the smallest prime
    * above 2³² (md5_prefix32 base hashes are < 2³²), so h → (a·h+b) mod P
    * is a universal-hash family over the full base range.
    */
  val MinHashPrime: Long = 4294967311L

  /** Affine permutation parameters (aᵢ ∈ [1, 2³⁰), bᵢ ∈ [0, 2³⁰)) for
    * MinHash component i — splitmix64-derived: deterministic with no RNG
    * state, and small enough that aᵢ·h + bᵢ < 2⁶² for any 32-bit h (no
    * overflow under ANSI arithmetic on any engine — the q22/q76 oracles
    * replay the identical integers in SQL).
    */
  def minHashParams(i: Int): (Long, Long) = {
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val a = ((mix(2L * i) & 0x3FFFFFFFL) % ((1L << 30) - 1)) + 1
    val b = mix(2L * i + 1) & 0x3FFFFFFFL
    (a, b)
  }

  /** MinHash permutation i of a 32-bit base hash: integer affine map mod
    * [[MinHashPrime]] — pure arithmetic, bit-identical on any engine
    * (the reason the LSH family is oracle-replayable; an engine hash like
    * xxhash64 here would make every signature engine-private).
    */
  def minHashPermuted(i: Int, h: Column): Column = {
    val (a, b) = minHashParams(i)
    (h * lit(a) + lit(b)) % lit(MinHashPrime)
  }

  private def signaturesFromShingles(shingles: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val shingled = shingles.withColumn("__h",
      graft.ops.Sampling.md5Prefix32(col("__sh")))
    // the base hash is computed ONCE per shingle; each permutation is two
    // integer ops on it (cheaper than numHashes re-hashes, and replayable)
    val aggs = (0 until numHashes).map { i =>
      min(minHashPermuted(i, col("__h"))).as(s"sig_$i")
    }
    shingled.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Band bucket key: the band's signature slice joined as a string.
    * Grouping on the slice VALUES (vs hashing the slice) costs a few
    * extra shuffle bytes per doc but is collision-free and — like the
    * signatures — reproduces on any engine.
    */
  private def bandBucket(sigCol: Int => Column, b: Int, rows: Int): Column =
    concat_ws("|", (b * rows until (b + 1) * rows).map(sigCol): _*)

  /** Near-duplicate candidate pairs via banded LSH over MinHash signatures,
    * verified with true word-shingle Jaccard.
    *
    * Candidate generation is ONE aggregation: bucket members are collected
    * per (band, bucket) — skew-capped by `maxBucketSize` first — and the
    * id<id pairs plus their signature-agreement estimate are expanded
    * in-row with array higher-order functions. Carrying the (numHashes
    * longs) signature through that single bucket shuffle costs
    * `bands × 8·numHashes` bytes per doc and replaces BOTH sides of the
    * signature-lookup join a classic formulation needs (two full shuffles
    * of the signature table) — fewer stages here, strictly less shuffled
    * data at corpus scale.
    *
    * @param minEstJaccard drop candidates whose signature-agreement
    *        estimate is below this floor before the (expensive) exact
    *        shingle-intersection verify join. Note banding guarantees every
    *        candidate agrees on ≥ one full band, i.e. est ≥
    *        `(numHashes/bands)/numHashes` — a floor at or below that is a
    *        no-op; a useful floor sits between that bound and the caller's
    *        true near-dup threshold.
    * @return (id1, id2, est_jaccard, jaccard) with id1 < id2, one row per
    *         verified candidate pair; filter on `jaccard` downstream.
    */
  /** Banding plan computed by [[bandsFor]]: `bands` bands of
    * `rowsPerBand` MinHash components each, plus the plan's derived
    * diagnostics — `knee` is the S-curve threshold (1/b)^(1/r) where
    * pair-detection probability crosses ~63%, and
    * `expectedFalseCandidates` is the modeled corpus-wide count of
    * sub-threshold pairs that still collide in ≥1 band,
    * `bands · n(n−1)/2 · s̄^r` for background similarity s̄.
    */
  final case class BandPlan(bands: Int, rowsPerBand: Int, knee: Double,
      expectedFalseCandidates: Double)

  /** Compute (bands, rows-per-band) for [[minHashLshPairs]] from corpus
    * size and threshold — the r13 100× sweep's lesson promoted from
    * prose (SCALING.md §6b) to API. A FIXED rows-per-band gives every
    * unrelated pair a fixed per-band collision probability s̄^r, so
    * false candidates grow Θ(n²): measured on the documents corpus,
    * 8 bands × 4 rows produced 2,945,644 candidates at 500k docs of
    * which ~2.86M were noise (J < 0.5), shuffling 4.8 GB and spilling
    * 13.3 GB in the verify join. Holding the false-candidate mass
    * LINEAR in n requires r ≥ ln(n)/ln(1/s̄) — rows-per-band grows
    * with log of corpus size, exactly as the LSH literature
    * prescribes. Re-banded 4×8 by this rule, the same corpus measured
    * 20 false candidates (the model here predicts 19.5), zero spill,
    * ~40% less wall, 91.4% recall at the J ≥ 0.5 knee.
    *
    * `backgroundJaccard` (s̄) is the typical similarity of UNRELATED
    * doc pairs under the shingle set in use; 0.05 is the documents
    * corpus's empirical value (back-solved from both the 8×4 and 4×8
    * measurements above) and a reasonable default for natural-language
    * word-shingles. The returned `rowsPerBand` is the smallest divisor
    * of `numHashes` satisfying the linearity bound, so the plan drops
    * straight into `minHashLshPairs(..., bands = plan.bands)` (which
    * requires bands to divide numHashes); the divisor step-up is
    * conservative (more rows = fewer false candidates, never more).
    *
    * Recall trade-off is explicit, not hidden: `knee` in the returned
    * plan is where detection reaches ~63%. Growing r at fixed
    * numHashes RAISES the knee — recall at a LOW target threshold
    * needs more total hashes (b ≥ (1/t)^r), which is the other lever
    * this plan surfaces rather than silently spending. Callers whose
    * true pairs sit well above the threshold (near-twin dedup — the
    * common corpus case) keep high recall regardless, because
    * detection at s is 1−(1−s^r)^b, ≈1 for s near 1.
    */
  def bandsFor(n: Long, targetJaccard: Double, numHashes: Int = 32,
      backgroundJaccard: Double = 0.05): BandPlan = {
    require(n >= 1, s"corpus size must be >= 1, got $n")
    require(targetJaccard > 0 && targetJaccard < 1,
      s"targetJaccard must be in (0,1), got $targetJaccard")
    require(backgroundJaccard > 0 && backgroundJaccard < targetJaccard,
      s"backgroundJaccard ($backgroundJaccard) must be in (0, targetJaccard)")
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    // linearity bound: E[false candidates] = b·C(n,2)·s̄^r ≤ O(n)
    // ⇔ s̄^r ≤ ~1/n ⇔ r ≥ ln(n)/ln(1/s̄)
    val rMin = math.ceil(
      math.log(math.max(n, 2).toDouble) /
        math.log(1.0 / backgroundJaccard)).toInt.max(1)
    // smallest divisor of numHashes ≥ rMin (conservative: larger r only
    // shrinks the false-candidate mass); all hashes in one band if none
    val r = (1 to numHashes).find(d =>
      numHashes % d == 0 && d >= rMin).getOrElse(numHashes)
    val b = numHashes / r
    val knee = math.pow(b.toDouble, -1.0 / r)
    val pairs = n.toDouble * (n.toDouble - 1) / 2
    val fc = b * pairs * math.pow(backgroundJaccard, r.toDouble)
    BandPlan(b, r, knee, fc)
  }

  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleWidth: Int = 3,
      maxBucketSize: Int = 1000, minEstJaccard: Double = 0.0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // ONE shingle table feeds both the signatures and the verification
    // join; it is persisted and released before returning — the result is
    // materialized eagerly below, so the cache never outlives this call.
    // (The signature table now has exactly one consumer, so unlike
    // round 2/3 it is NOT cached.)
    val shingles = shingleRows(df, idCol, textCol, shingleWidth).persist()
    val sig = signaturesFromShingles(shingles, idCol, numHashes)

    // per-doc signature array + per-band slice hashes, one projection
    val bandArr = sig.select(col(idCol),
      array((0 until numHashes).map(i => col(s"sig_$i")): _*).as("__sig"),
      array((0 until bands).map(b =>
        bandBucket(i => col(s"sig_$i"), b, rows)): _*).as("__bands"))
    val buckets = bandArr.select(col(idCol), col("__sig"),
      posexplode(col("__bands")).as(Seq("band", "bucket")))

    // drop pathological buckets (boilerplate) and pair-less singletons; the
    // groupBy below reuses this window's (band, bucket) partitioning
    val sized = buckets.withColumn("__n",
      count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .where(col("__n") <= maxBucketSize && col("__n") >= 2).drop("__n")

    // bucket arrays are ≤ maxBucketSize members by construction (bounded
    // memory per group); in-row expansion of the sorted array yields each
    // id1 < id2 pair with est = fraction of matching signature components
    val grouped = sized.groupBy("band", "bucket")
      .agg(array_sort(collect_list(struct(col(idCol).as("id"),
        col("__sig").as("s")))).as("ids"))
    val withEst = grouped.select(explode(flatten(
      transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.getField("id").as("id1"), b.getField("id").as("id2"),
            (aggregate(zip_with(a.getField("s"), b.getField("s"), (x, y) =>
              when(x === y, 1).otherwise(0)),
              lit(0), (acc, x) => acc + x).cast("double") / numHashes)
              .as("est_jaccard")))))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        col("p.est_jaccard").as("est_jaccard"))
      // a pair can meet in several bands; est is identical in each
      .groupBy("id1", "id2").agg(first(col("est_jaccard")).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
      // three consumers since r10 (candidate ids + intersection + final)
      .persist()

    // verify with true shingle Jaccard: |A∩B| via a shingle-level join.
    // Joining on (id2, shingle) keeps it an equi-join — the intersection is
    // found by hash lookup, never a per-pair cross product. The shingle
    // table is semi-joined to CANDIDATE docs first (r10), so the two
    // intersection joins shuffle only near-dup candidates' shingles — at
    // corpus scale the non-candidate majority (virtually everything) stays
    // out of both exchanges. No broadcast hint on purpose: the candidate
    // set is corpus-dependent (could be huge on a dup-heavy corpus), and
    // withEst is persisted so AQE sees its exact size and converts the
    // semi-join to broadcast at runtime exactly when that is safe.
    val candIds = withEst
      .select(explode(array(col("id1"), col("id2"))).as("__cid")).distinct()
    // candidate shingles are small (near-dups only) and feed three
    // consumers (sizes + both intersection sides) — persist so the
    // full-table semi-join shuffle runs exactly once
    val sh = shingles.withColumnRenamed(idCol, "__id")
      .join(candIds, col("__id") === col("__cid"), "left_semi")
      .persist()
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("__sz"))
    val inter = withEst.select("id1", "id2")
      .join(sh.withColumnRenamed("__id", "id1"), "id1")
      .join(sh.withColumnRenamed("__id", "id2"), Seq("id2", "__sh"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("__inter"))

    val out = withEst
      .join(inter, Seq("id1", "id2"), "left")
      .join(sizes.withColumnRenamed("__id", "id1")
        .withColumnRenamed("__sz", "__sz1"), "id1")
      .join(sizes.withColumnRenamed("__id", "id2")
        .withColumnRenamed("__sz", "__sz2"), "id2")
      .withColumn("jaccard",
        coalesce(col("__inter"), lit(0L)).cast("double") /
          (col("__sz1") + col("__sz2") - coalesce(col("__inter"), lit(0L))))
      .select("id1", "id2", "est_jaccard", "jaccard")
      // eager: the verified-pair set is tiny (near-dups only); computing it
      // now, while shingles/sig are cached, lets us unpersist both before
      // returning instead of leaking executor memory for the session's
      // lifetime. localCheckpoint blocks are context-cleaned on GC.
      .localCheckpoint(true)
    withEst.unpersist()
    sh.unpersist()
    shingles.unpersist()
    out
  }

  /** Incremental near-dup: MinHash-LSH pairs BETWEEN a new batch and a
    * standing reference corpus — the nightly-crawl complement of
    * [[exactAgainst]] (and of [[minHashLshPairs]], which finds pairs
    * WITHIN one corpus). Same banding/verification machinery, but the
    * in-bucket expansion crosses only new × reference members, so
    * within-reference pairs — the overwhelming majority when the
    * standing corpus dwarfs the batch — are never generated, expanded,
    * or verified. Docs ride the pipeline under a (side, id) struct key,
    * so the two frames' id spaces may overlap freely.
    *
    * At production scale the reference's signatures/buckets would be a
    * materialized index updated per batch; the operator recomputes them
    * so it stays self-contained — the join shape is identical either
    * way.
    *
    * @return (new_id, ref_id, est_jaccard, jaccard), one row per
    *         verified candidate pair; filter on `jaccard` downstream.
    */
  def minHashLshAgainstPairs(df: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32, bands: Int = 8,
      shingleWidth: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val tagged = df.select(col(idCol), col(textCol)).withColumn("__new", lit(true))
      .unionByName(reference.select(col(idCol), col(textCol))
        .withColumn("__new", lit(false)))
      .select(struct(col("__new"), col(idCol).as("__id")).as("__k"),
        col(textCol))
    val shingles = shingleRows(tagged, "__k", textCol, shingleWidth).persist()
    val sig = signaturesFromShingles(shingles, "__k", numHashes)
    val bandArr = sig.select(col("__k"),
      array((0 until numHashes).map(i => col(s"sig_$i")): _*).as("__sig"),
      array((0 until bands).map(b =>
        bandBucket(i => col(s"sig_$i"), b, rows)): _*).as("__bands"))
    val buckets = bandArr.select(col("__k"), col("__sig"),
      posexplode(col("__bands")).as(Seq("band", "bucket")))
    val sized = buckets.withColumn("__n",
      count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .where(col("__n") <= maxBucketSize && col("__n") >= 2).drop("__n")
    val grouped = sized.groupBy("band", "bucket")
      .agg(array_sort(collect_list(struct(col("__k").as("k"),
        col("__sig").as("s")))).as("ids"))
    // cross ONLY new × reference members — the incremental asymmetry
    val news = filter(col("ids"), m => m.getField("k").getField("__new"))
    val refs = filter(col("ids"), m => !m.getField("k").getField("__new"))
    val withEst = grouped.select(explode(flatten(
      transform(news, a => transform(refs, b =>
        struct(a.getField("k").getField("__id").as("new_id"),
          b.getField("k").getField("__id").as("ref_id"),
          (aggregate(zip_with(a.getField("s"), b.getField("s"), (x, y) =>
            when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / numHashes)
            .as("est_jaccard")))))).as("p"))
      .select(col("p.new_id").as("new_id"), col("p.ref_id").as("ref_id"),
        col("p.est_jaccard").as("est_jaccard"))
      .groupBy("new_id", "ref_id").agg(first(col("est_jaccard")).as("est_jaccard"))
      .persist()
    // candidate-restricted verify (r10), per side, as in minHashLshPairs
    val candNew = withEst.select(col("new_id").as("__cid")).distinct()
    val candRef = withEst.select(col("ref_id").as("__cid")).distinct()
    // each side feeds two consumers (intersection + size) — persist the
    // small candidate-only frames so the full-table semi-joins run once
    val newSh = shingles.where(col("__k").getField("__new"))
      .select(col("__k").getField("__id").as("new_id"), col("__sh"))
      .join(candNew, col("new_id") === col("__cid"), "left_semi")
      .persist()
    val refSh = shingles.where(!col("__k").getField("__new"))
      .select(col("__k").getField("__id").as("ref_id"), col("__sh"))
      .join(candRef, col("ref_id") === col("__cid"), "left_semi")
      .persist()
    val inter = withEst.select("new_id", "ref_id")
      .join(newSh, "new_id")
      .join(refSh, Seq("ref_id", "__sh"))
      .groupBy("new_id", "ref_id").agg(count(lit(1)).as("__inter"))
    val nSz = newSh.groupBy("new_id").agg(count(lit(1)).as("__sz1"))
    val rSz = refSh.groupBy("ref_id").agg(count(lit(1)).as("__sz2"))
    val out = withEst
      .join(inter, Seq("new_id", "ref_id"), "left")
      .join(nSz, "new_id").join(rSz, "ref_id")
      .withColumn("jaccard",
        coalesce(col("__inter"), lit(0L)).cast("double") /
          (col("__sz1") + col("__sz2") - coalesce(col("__inter"), lit(0L))))
      .select("new_id", "ref_id", "est_jaccard", "jaccard")
      .localCheckpoint(true)
    withEst.unpersist()
    newSh.unpersist()
    refSh.unpersist()
    shingles.unpersist()
    out
  }

  /** LSH index rows computed ENTIRELY in-row — no shuffle, no
    * aggregation: the shingle set materializes as one array column, each
    * MinHash signature component is an `array_min` over it (identical
    * arithmetic to [[minHashSignatures]]' grouped min — same md5 base
    * hash and affine permutations — so the two constructions index
    * identically), and band buckets join signature slices as in
    * [[minHashLshPairs]].
    *
    * Returns (idCol, `__shs` shingle array, `__buckets` per-band bucket
    * array, `band`, `bucket`) — one row per (doc, band). Because nothing
    * shuffles, this is the construction that works on a STREAMING frame
    * (stateless select + explode), where the groupBy signature path
    * would need an aggregation state store; it is also the right shape
    * for building a static LSH index once and joining batches against
    * it. Docs with no tokens contribute nothing (mirroring the grouped
    * path); short docs index their whole text as one shingle.
    *
    * Implemented as ONE `mapPartitions` pass (the per-partition-
    * imperative exemption: md5 digests + affine integer mins, the same
    * class of JVM work as the zlib/BPE kernels), so the tokens →
    * shingles → hashes → signatures → buckets chain runs exactly once
    * per row by construction. A pure-Column spelling cannot guarantee
    * that: Catalyst merges projections through the final Generate
    * regardless of reference count, inlining the shingle construction
    * into every signature lambda (33 copies in the optimized plan,
    * ~28 ms/doc interpreted — caught by the round-8 q89 bench), and any
    * column captured inside a higher-order-function body re-evaluates
    * per element, so nesting the chain in one expression multiplies the
    * work instead. Every normalization/hash step here mirrors the
    * Column path bit-for-bit (UTF8String.toLowerCase, java.util.regex
    * `\s+`, space-only trim, [[graft.plans.Md5Prefix32.hash]], the
    * [[minHashParams]] affine mins) — OpsSpec pins both constructions
    * to an independent naive reference on random corpora.
    */
  def lshIndexRows(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleWidth: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val params = (0 until numHashes).map(minHashParams).toArray
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields(0),
      org.apache.spark.sql.types.StructField("__shs",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      org.apache.spark.sql.types.StructField("__buckets",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.StringType, nullable = false)))
    in.mapPartitions { it =>
      it.flatMap { r =>
        {
          val toks = TextOps.tokensJvm(
            if (r.isNullAt(1)) null else r.getString(1))
          if (toks.isEmpty) Iterator.empty
          else {
            val grams = if (toks.length >= shingleWidth)
              toks.sliding(shingleWidth).map(_.mkString(" ")).toArray
            else Array(toks.mkString(" "))
            val shs = grams.distinct // first-occurrence order, as array_distinct
            val hs = shs.map(s => graft.plans.Md5Prefix32.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(s)))
            val sigs = params.map { case (a, b) =>
              var m = Long.MaxValue; var i = 0
              while (i < hs.length) {
                val v = (hs(i) * a + b) % MinHashPrime
                if (v < m) m = v
                i += 1
              }
              m
            }
            val buckets = (0 until bands).map(bd =>
              sigs.slice(bd * rows, (bd + 1) * rows).mkString("|"))
            val shsSeq = shs.toSeq
            (0 until bands).iterator.map(bd =>
              org.apache.spark.sql.Row(r.get(0), shsSeq, buckets, bd,
                buckets(bd)))
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }

  /** Rows of `df` that are NOT near-duplicates (true Jaccard ≥
    * `minJaccard`) of any `reference` document — [[exactAgainst]]'s
    * near-dup sibling: the filter a pipeline runs on each new crawl
    * batch against the standing corpus. Within-batch near-dups are a
    * separate [[minHashLshPairs]] pass by design.
    */
  def nearDupAgainst(df: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, minJaccard: Double, numHashes: Int = 32,
      bands: Int = 8, shingleWidth: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val hit = minHashLshAgainstPairs(df, reference, idCol, textCol,
      numHashes, bands, shingleWidth, maxBucketSize)
      .where(col("jaccard") >= minJaccard)
      .select(col("new_id").as(idCol)).distinct()
    df.join(hit, Seq(idCol), "left_anti")
  }

  /** [[nearDupAgainst]] against a PERSISTED LSH index — the real nightly
    * cadence. [[nearDupAgainst]] recomputes the standing side's shingles
    * and signatures inside every run; at corpus scale the standing index
    * is a stored `(idCol, band, bucket)` table written once (built with
    * [[lshIndexRows]], appended per batch as q89 proves) and the screen
    * is: batch buckets (computed in-row, no shuffle) equi-joined against
    * the index SCAN. Only candidate REFERENCE docs are consulted for
    * true-Jaccard verification — corpus-size-independent given the index
    * prunes, so nothing in the plan rescans the standing corpus's text
    * except the semi-joined candidate sliver.
    *
    * Bucket-cap semantics mirror the self-contained path exactly: a
    * (band, bucket) is skipped when its COMBINED occupancy (persisted
    * standing count + tonight's batch count) exceeds `maxBucketSize`, so
    * the candidate set — and therefore the kept set — is identical to
    * [[nearDupAgainst]]'s shared-bucket-space run (q76's oracle replays
    * that shared space; OpsSpec pins the two operators equal on random
    * corpora).
    *
    * @param index persisted standing index: one row per (doc, band) with
    *              columns (`idCol`, band, bucket), as produced by
    *              `lshIndexRows(...).select(idCol, "band", "bucket")`
    * @param reference the standing docs store (`idCol`, `textCol`),
    *                  consulted only for candidate verification
    * @param batchIndex optional precomputed index rows of `df` (same
    *                   shape/parameters as `index`). The nightly loop
    *                   computes tonight's rows ONCE and reuses them for
    *                   the screen AND the survivor append (q89) — passing
    *                   them here avoids a second signature pass over the
    *                   batch. Must be `lshIndexRows(df)` with the same
    *                   numHashes/bands/shingleWidth, or results are
    *                   undefined.
    */
  def nearDupAgainstIndex(df: DataFrame, index: DataFrame,
      reference: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, numHashes: Int = 32, bands: Int = 8,
      shingleWidth: Int = 3, maxBucketSize: Int = 1000,
      batchIndex: Option[DataFrame] = None): DataFrame = {
    // deliberately NO persist/localCheckpoint anywhere in this operator:
    // the returned frame keeps its full lazy plan (so the index SCAN is
    // visible in explain/plan audits — the contract of the persisted-
    // index design), and the repeated `cand`/`bat` subtrees below
    // deduplicate at execution via ReusedExchange (their shuffles
    // canonicalize identically), so no cache-lifetime bookkeeping is
    // needed.
    val idx = index.select(col(idCol).as("__ref_id"), col("band"),
      col("bucket"))
    val bat = batchIndex.getOrElse(
      lshIndexRows(df, idCol, textCol, numHashes, bands, shingleWidth))
      .select(col(idCol).as("__new_id"), col("band"), col("bucket"))
    // combined occupancy cap — identical to the shared-bucket-space
    // `count(*) over (band, bucket) <= maxBucketSize` of the
    // self-contained path (the >= 2 lower bound is implied: a cross-side
    // pair needs one member on each side)
    val overCap = idx.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__ni"))
      .join(bat.groupBy("band", "bucket").agg(count(lit(1)).as("__nb")),
        Seq("band", "bucket"), "full")
      .where(coalesce(col("__ni"), lit(0L)) +
        coalesce(col("__nb"), lit(0L)) > maxBucketSize)
      .select("band", "bucket")
    // the cap prunes BOTH sides BEFORE the pair join — discarding
    // over-cap pairs after expansion would materialize the very
    // |bucket|² blowup the cap exists to prevent (measured: a post-join
    // cap ran 16× at 10× data on the hot-bucket 10× fixture; this
    // pre-join form restores the self-contained path's linearity)
    val cand = bat.join(overCap, Seq("band", "bucket"), "left_anti")
      .join(idx.join(overCap, Seq("band", "bucket"), "left_anti"),
        Seq("band", "bucket"))
      .select("__new_id", "__ref_id").distinct()
    // true-Jaccard verification over the candidate sliver only: semi-join
    // pulls just the candidate docs' texts before any shingle work
    val refSh = shingleRows(
      reference.join(cand.select(col("__ref_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi"),
      idCol, textCol, shingleWidth)
      .select(col(idCol).as("__ref_id"), col("__sh"))
    val newSh = shingleRows(
      df.join(cand.select(col("__new_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi"),
      idCol, textCol, shingleWidth)
      .select(col(idCol).as("__new_id"), col("__sh"))
    val inter = cand.join(newSh, "__new_id")
      .join(refSh, Seq("__ref_id", "__sh"))
      .groupBy("__new_id", "__ref_id").agg(count(lit(1)).as("__inter"))
    val nSz = newSh.groupBy("__new_id").agg(count(lit(1)).as("__sz1"))
    val rSz = refSh.groupBy("__ref_id").agg(count(lit(1)).as("__sz2"))
    val hits = cand
      .join(inter, Seq("__new_id", "__ref_id"), "left")
      .join(nSz, "__new_id").join(rSz, "__ref_id")
      .where(coalesce(col("__inter"), lit(0L)).cast("double") /
        (col("__sz1") + col("__sz2") - coalesce(col("__inter"), lit(0L)))
        >= minJaccard)
      .select(col("__new_id").as(idCol)).distinct()
    df.join(hits, Seq(idCol), "left_anti")
  }

  /** Retire documents from a persisted LSH index — the UPDATE/DELETE
    * half of index maintenance ([[nearDupAgainstIndex]] screens,
    * appends cover adds — q89; this covers the document-update
    * boundary the nightly loop otherwise leaks). Without retirement, a
    * changed or deleted doc's OLD band buckets stay in the standing
    * index forever: the index bloats monotonically, and every future
    * screen drags stale candidate pairs through the verify join
    * against text that no longer exists (or worse, verifies against
    * the doc's NEW text under its OLD buckets, silently shifting the
    * candidate set).
    *
    * The operation is one anti-join on the id column — same layout in,
    * same layout out (`idCol`, band, bucket), so the result overwrites
    * or compacts into the standing index table directly. An UPDATE is
    * retire(old) then append(lshIndexRows(newText)) — see
    * q211_index_retire for the composed nightly form with a cell-exact
    * oracle replaying add+retire. At 100 TB the anti-join broadcasts
    * when tonight's retire set is small (the usual case) and hash-joins
    * on the index's own key otherwise; nothing rescans any text.
    *
    * @param index persisted standing index rows (`idCol`, band, bucket)
    * @param docIds frame whose `idCol` column lists the docs to retire
    *               (changed + deleted); extra columns are ignored
    */
  def retireFromIndex(index: DataFrame, docIds: DataFrame,
      idCol: String): DataFrame =
    index.join(docIds.select(idCol), Seq(idCol), "left_anti")

  /** SimHash per document over word tokens: bit i of the hash is the
    * sign of Σ_tokens (±1 by bit i of the token hash). md5 arithmetic
    * (vs an engine hash) makes the value itself reproducible on any
    * engine — integer bit math end to end, so the q23 oracle replays it
    * cell-exact. `bits` is 64 (default — two independent 32-bit words of
    * ONE md5 digest: bytes 0-3 and 4-7, both `('0x'||substr(md5(t),…))`
    * replayable) or 32 (legacy/compact). Output is two 32-bit columns
    * `simhash_lo`/`simhash_hi` rather than one packed 64-bit value: the
    * high word shifted by 32 would overflow signed BIGINT differently
    * per engine, and two unsigned-in-long words stay portable.
    * At 64 bits the value space (1.8×10¹⁹) outlives any corpus; the
    * 32-bit space saturates around 4×10⁹ docs.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64): DataFrame = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    val tok = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("__t"))
      .withColumn("__hlo", graft.ops.Sampling.md5Prefix32(col("__t")))
      .withColumn("__hhi",
        if (bits == 64) graft.ops.Sampling.md5Second32(col("__t")) else lit(0L))
    val bitSums = (0 until 32).flatMap { i =>
      val lo = sum(when(shiftright(col("__hlo"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"__lo$i")
      if (bits == 64)
        Seq(lo, sum(when(shiftright(col("__hhi"), i).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"__hi$i"))
      else Seq(lo)
    }
    val summed = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    def word(p: String): Column = (0 until 32).map { i =>
      when(col(s"__$p$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    summed.select(col(idCol), word("lo").as("simhash_lo"),
      (if (bits == 64) word("hi") else lit(0L)).as("simhash_hi"))
  }

  /** Near-dup pairs with hamming(simhash) ≤ `maxHamming`, blocked on
    * `numChunks` equal bit slices — the pigeonhole guarantee is EXACT for
    * `maxHamming < numChunks` (a pair within the bound must agree on some
    * whole chunk), high-recall above. Worst-case blocking cardinality is
    * n²/2^(bits/numChunks) per chunk: the 64-bit default with 4 chunks
    * blocks on 16-bit slices (n²/2¹⁶ — ~10⁹-doc-safe), vs the old 32-bit
    * 8-bit-chunk configuration's n²/2⁸. Raise `numChunks` only to support
    * a larger `maxHamming`; wider chunks always block better.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 64, numChunks: Int = 4): DataFrame =
    hammingPairs64(simHash(df, idCol, textCol, bits), idCol,
      "simhash_lo", "simhash_hi", maxHamming, bits, numChunks)

  /** The blocked hamming-pair core behind [[simHashPairs]], usable over
    * ANY 64-bit fingerprint split into two 32-bit words — text SimHash,
    * image aHash ([[Multimodal.aHashBmp]]'s hash_hi/hash_lo), audio
    * envelope hashes: chunk-block, join, hamming-filter BEFORE the
    * pair-dedup shuffle. Same pigeonhole exactness contract.
    */
  def hammingPairs64(hashed: DataFrame, idCol: String, loCol: String,
      hiCol: String, maxHamming: Int = 3, bits: Int = 64,
      numChunks: Int = 4): DataFrame = {
    require(bits % numChunks == 0, "numChunks must divide bits")
    require(numChunks > maxHamming,
      s"pigeonhole exactness needs numChunks > maxHamming " +
        s"($numChunks <= $maxHamming)")
    val w = bits / numChunks
    require(w <= 32 && 32 % w == 0,
      s"chunk width $w must divide the 32-bit words")
    val mask = (1L << w) - 1
    val sh = hashed.select(col(idCol), col(loCol).as("simhash_lo"),
      col(hiCol).as("simhash_hi"))
    // chunk c reads bits [c·w, (c+1)·w) of the lo‖hi concatenation;
    // w divides 32 so no chunk straddles the word boundary
    val chunked = sh.select(col(idCol), col("simhash_lo"), col("simhash_hi"),
      posexplode(array((0 until numChunks).map { c =>
        val word = if (c * w < 32) col("simhash_lo") else col("simhash_hi")
        shiftright(word, (c * w) % 32).bitwiseAND(mask)
      }: _*)).as(Seq("chunk", "val")))
    val l = chunked.select(col("chunk"), col("val"), col(idCol).as("id1"),
      col("simhash_lo").as("__l1"), col("simhash_hi").as("__h1"))
    val r = chunked.select(col("chunk"), col("val"), col(idCol).as("id2"),
      col("simhash_lo").as("__l2"), col("simhash_hi").as("__h2"))
    // filter on hamming BEFORE the dedup shuffle (drops most rows), then
    // dedup on the id pair alone — hamming is a function of (id1, id2), so
    // carrying it in the distinct key only widened the exchange; first()
    // rides the same aggregation for free
    l.join(r, Seq("chunk", "val"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (bit_count(col("__l1").bitwiseXOR(col("__l2"))) +
          bit_count(col("__h1").bitwiseXOR(col("__h2")))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("id1", "id2").agg(first(col("hamming")).as("hamming"))
  }

  /** Connected components over an undirected near-dup pair graph — the
    * step that turns pair detection ([[minHashLshPairs]] /
    * [[simHashPairs]] / [[embeddingNearDupPairs]]) into actual dedup
    * groups with one canonical survivor (the minimum id) per cluster.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (a) every node takes the minimum label in its closed neighborhood
    * (one equi-join + one min-aggregation), then (b) labels compress one
    * pointer hop (`label := label(label)`, a self-join) — the jumping
    * step makes convergence logarithmic in component diameter instead of
    * linear, which matters for the chain-shaped clusters boilerplate
    * produces. Labels are localCheckpoint'ed every round, so lineage
    * stays O(1) deep across iterations (the classic iterative-Spark
    * plan-explosion failure mode) and the per-round convergence count is
    * also the eager materialization of that checkpoint.
    *
    * Like Spark's own broadcast-join threshold, the algorithm is chosen
    * adaptively by size: the edge list is already eagerly materialized, so
    * a free `count()` decides. At or under `maxBroadcastEdges` the
    * components are solved with union–find on the driver and the label map
    * is broadcast back — near-dup edge lists are tiny relative to the
    * corpus (16 MB of longs per million edges), and the iterative path's
    * per-round joins are pure scheduling overhead at that size. Above the
    * threshold (a giant dup cluster at full scale) the distributed
    * propagation loop below runs instead. Both paths produce the same
    * (idCol, component=min reachable id) result — OpsSpec asserts equality.
    *
    * @param universe frame holding every node id in `idCol`; ids absent
    *                 from `pairs` come out as their own singleton
    *                 component.
    * @return (idCol, component) with component = minimum reachable id.
    */
  def connectedComponents(pairs: DataFrame, id1: String, id2: String,
      universe: DataFrame, idCol: String, maxRounds: Int = 20,
      maxBroadcastEdges: Long = 1L << 20): DataFrame = {
    // materialize the (tiny: near-dup pairs only) edge list ONCE — the
    // caller's pair frame is usually an expensive similarity pipeline, and
    // both the symmetrize union and every round would re-execute it
    val e0 = pairs.select(col(id1).cast("long").as("a"),
      col(id2).cast("long").as("b"))
      .localCheckpoint(true)
    if (e0.count() <= maxBroadcastEdges)
      return universe.select(col(idCol).cast("long").as("node")).distinct()
        .join(broadcast(driverComponents(e0)), Seq("node"), "left")
        .select(col("node").as(idCol),
          coalesce(col("label"), col("node")).as("component"))
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    // iterate over edge-endpoint nodes only: in a real corpus near-dups
    // are a small fraction of the universe, so the per-round frames carry
    // the subgraph, not every document; untouched ids join back as
    // singletons at the end
    var lab = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // labels are monotone non-increasing, so the label sum strictly
    // decreases on any change: convergence is ONE aggregation on the
    // freshly checkpointed frame, not a join against the previous round
    def labSum(d: DataFrame): java.math.BigDecimal = {
      val r = d.agg(sum(col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labSum(lab)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(lab.select(col("node").as("b"), col("label").as("nbl")), "b")
        .groupBy("a").agg(min("nbl").as("nbr"))
      val propagated = lab.join(nbrMin, lab("node") === nbrMin("a"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
      // pointer jumping: follow the label's own label — twice per round,
      // so label trees compress ~3x per iteration and the number of
      // (fixed-cost) rounds shrinks accordingly
      def jump(d: DataFrame): DataFrame = d
        .join(d.select(col("node").as("label"), col("label").as("jmp")),
          Seq("label"), "left")
        .select(col("node"), coalesce(col("jmp"), col("label")).as("label"))
      val next = jump(jump(propagated)).localCheckpoint(true)
      val s = labSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      lab = next
      round += 1
    }
    universe.select(col(idCol).cast("long").as("node")).distinct()
      .join(lab, Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("label"), col("node")).as("component"))
  }

  /** Driver union–find over a collected edge list: (node, label) for every
    * edge endpoint, label = component minimum. Union always hangs the
    * larger root under the smaller, so each tree's root IS its component
    * min; `find` path-compresses as it walks.
    */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val rows = edges.collect()
    rows.foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = rows.iterator
      .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSeq.distinct
    val spark = edges.sparkSession
    import spark.implicits._
    nodes.map(n => (n, find(n))).toDF("node", "label")
  }

  /** Leakage-free train/val/test assignment: near-duplicate documents
    * must land in the SAME split, or the eval set silently contains
    * paraphrases of training rows and every benchmark number is
    * contaminated (the well-documented C4/GPT-2 test-set leakage
    * failure). Independent per-doc hashing ([[graft.ops.Sampling
    * .splitByHash]] on doc_id, q41) cannot guarantee this — a 0.8/0.1
    * split puts a near-dup pair on opposite sides with probability
    * ~2·0.8·0.1 per pair. Here the split key is the near-dup
    * CONNECTED COMPONENT id ([[connectedComponents]] min-id label), so
    * an entire duplicate cluster moves atomically: hash once per
    * component, every member inherits the verdict.
    *
    * Scale shape: the component labeling is the existing bounded
    * machinery (broadcast union–find under 2²⁰ edges, label
    * propagation above); the split itself is a stateless salted-md5
    * projection — no extra shuffle beyond the component join. Salting
    * keeps the split draw independent of any other hash decision in
    * the pipeline (see [[graft.ops.Sampling.hashUnit]]).
    *
    * Returns (idCol, component, split).
    */
  def leakageFreeSplit(pairs: DataFrame, id1: String, id2: String,
      universe: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String): DataFrame = {
    val comp = connectedComponents(pairs, id1, id2, universe, idCol)
    Sampling.splitByHash(comp, "component", splits, salt)
      .select(col(idCol), col("component"), col("split"))
  }

  /** Substring-level exact duplication: maximal runs of ≥ `minGramRun`
    * consecutive shared word `gramWidth`-grams between two documents —
    * the equi-join formulation of suffix-array substring dedup (à la
    * "Deduplicating Training Data Makes Language Models Better": a
    * duplicated token span of length L ≥ gramWidth shows up as a run of
    * L − gramWidth + 1 consecutive matching grams at a constant position
    * offset). Complements the document-level near-dup family: MinHash
    * misses a verbatim paragraph pasted into an otherwise-unique page;
    * this catches exactly that.
    *
    * Scale shape: positional grams meet in one groupBy on the gram string
    * (the [[Contamination]] key — cardinality grows with the corpus,
    * never |docs|²), then runs are found with one window over
    * (id1, id2, diagonal) ordered by position — gaps-and-islands, linear
    * per matched pair. Two hot-key guards: `maxGramOccurrences` drops
    * grams with more total occurrences than that BEFORE anything
    * aggregates (a spillable window count — it bounds both the
    * collect buffer and the in-row pair expansion, which is quadratic in
    * a gram's occurrence count), and `maxGramDf` drops grams present in
    * more than that many distinct documents (boilerplate n-grams are
    * both the skew bomb and, at sane widths, not the duplication being
    * hunted).
    *
    * @return (id1, id2, start1, start2, n_grams, span_tokens) with
    *         id1 < id2, one row per maximal duplicated span;
    *         span_tokens = n_grams + gramWidth − 1.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      gramWidth: Int = 5, minGramRun: Int = 2,
      maxGramDf: Option[Int] = None,
      maxGramOccurrences: Int = 1000): DataFrame = {
    // candidate generation is ONE aggregation (the minHashLshPairs
    // shape): occurrences meet in their gram's group, the df cap filters
    // in-row on the distinct-doc count, and the id1 < id2 position pairs
    // expand in-row from the sorted occurrence array — no df-cap
    // pre-join, no two-sided self-join shuffle, no multi-consumer cache.
    // The occurrence cap runs in a WINDOW on the same key first (window
    // buffers spill; aggregation buffers don't), so no group's array
    // exceeds maxGramOccurrences entries no matter how pathological the
    // corpus — same spirit as minHashLshPairs' maxBucketSize.
    val g = posGramRows(df, idCol, textCol, gramWidth)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("gram")))
      .where(col("__n") <= maxGramOccurrences && col("__n") >= 2)
      .drop("__n")
    val grouped = g.groupBy("gram").agg(
      array_sort(collect_list(struct(col(idCol).as("id"), col("pos").as("p"))))
        .as("es"))
    val capped = maxGramDf match {
      case None => grouped
      case Some(cap) => grouped.where(
        size(array_distinct(transform(col("es"), e => e.getField("id"))))
          <= cap)
    }
    val hits = capped.select(explode(flatten(
      transform(col("es"), (a, i) =>
        transform(filter(slice(col("es"), i + 2, size(col("es"))),
          b => a.getField("id") < b.getField("id")), b =>
          struct(a.getField("id").as("id1"), b.getField("id").as("id2"),
            a.getField("p").as("pos1"),
            (a.getField("p") - b.getField("p")).as("diag")))))).as("h"))
      .select(col("h.id1").as("id1"), col("h.id2").as("id2"),
        col("h.pos1").as("pos1"), col("h.diag").as("diag"))
    // gaps-and-islands: consecutive pos1 at a fixed diagonal share
    // (pos1 − row_number), which identifies the maximal run; the groupBy
    // reuses the window's (id1, id2, diag) partitioning
    val w = Window.partitionBy("id1", "id2", "diag").orderBy("pos1")
    hits
      .withColumn("island", col("pos1") - row_number().over(w))
      .groupBy("id1", "id2", "diag", "island")
      .agg(min(col("pos1")).as("start1"), count(lit(1)).as("n_grams"))
      .where(col("n_grams") >= minGramRun)
      .select(col("id1"), col("id2"), col("start1"),
        (col("start1") - col("diag")).as("start2"), col("n_grams"),
        (col("n_grams") + (gramWidth - 1)).as("span_tokens"))
  }

  /** Embedding-cosine near-dup pairs: candidates from hyperplane-LSH
    * buckets, verified with exact cosine ≥ `minCosine`.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, planes: Int = 12): DataFrame = {
    val coefs = Similarity.planeCoefs(planes, Similarity.vecDim(df, vecCol))
    val b = df.select(col(idCol), col(vecCol),
      Similarity.lshBucket(col(vecCol), coefs).as("bucket"))
    val l = b.select(col("bucket"), col(idCol).as("id1"), col(vecCol).as("__v1"))
    val r = b.select(col("bucket"), col(idCol).as("id2"), col(vecCol).as("__v2"))
    // no distinct needed: each doc hashes to exactly one bucket, so a pair
    // meets at most once — a dedup here would be a pure extra shuffle
    l.join(r, "bucket")
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        Similarity.cosine(col("__v1"), col("__v2")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** [[embeddingNearDupPairs]] at PRODUCTION configuration: planes grow
    * with the corpus (planes = ⌊log₂ n⌋ + 2, one cheap count to size the
    * index) so within-bucket pair count stays ~n²/2^planes ≈ 4n instead
    * of exploding quadratically at fixed planes — the r9 10× sweep
    * measured the fixed-6-planes variant super-linear (15× at 10×,
    * SCALING.md §6b) and this knob linear. The recall lost to finer
    * buckets is bought back with ONE-BIT MULTI-PROBE (Lv et al. 2007):
    * each vector probes its own bucket plus the `planes` buckets at
    * Hamming distance 1, so a pair survives any single disagreeing
    * plane. Probing is an explode on ONE join side only — and because
    * probe p of x equals bucket(y) iff the buckets differ exactly in
    * bit p (mutually exclusive with the identity probe), every
    * qualifying pair still meets EXACTLY once: no pair-dedup shuffle.
    *
    * Scale shape: (planes+1)·n probe rows through one equi-join; bucket
    * population ~n/2^planes ≈ 1/4 keeps per-bucket pair work constant.
    */
  def embeddingNearDupPairsScaled(df: DataFrame, idCol: String,
      vecCol: String, minCosine: Double): DataFrame = {
    val n = df.count()
    val planes = (63 - java.lang.Long.numberOfLeadingZeros(
      math.max(n, 1L))).toInt + 2
    val coefs = Similarity.planeCoefs(planes, Similarity.vecDim(df, vecCol))
    val b = df.select(col(idCol), col(vecCol),
      Similarity.lshBucket(col(vecCol), coefs).as("bucket"))
    val probes = col("bucket") +:
      (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val l = b.select(col(idCol).as("id1"), col(vecCol).as("__v1"),
      explode(array(probes: _*)).as("bucket"))
    val r = b.select(col("bucket"), col(idCol).as("id2"),
      col(vecCol).as("__v2"))
    l.join(r, "bucket")
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        Similarity.cosine(col("__v1"), col("__v2")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with k-means, then compare pairs only WITHIN each cluster —
    * semantic near-duplicates land in the same cluster, so the all-pairs
    * cosine never happens; cost is Σ|cluster|² instead of n².
    *
    * Returns verified pairs (id1 < id2, cosine ≥ minCosine). Like every
    * clustered/LSH candidate generator here, recall is bounded by the
    * partitioning (a pair split across clusters is missed) — that is the
    * method, not a defect; more clusters trades recall for speed.
    *
    * Scale shape: [[Similarity.kmeansAssign]] (bounded driver centroids,
    * distributed argmin), then ONE equi-join on the cluster id. The
    * assignment frame feeds both join sides, so it is persisted and
    * released after the (tiny) pair list materializes — the q22/q39
    * cache-lifetime discipline.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, nlist: Int = 16, iters: Int = 2): DataFrame = {
    val (assigned, _) = Similarity.kmeansAssign(df, idCol, vecCol, nlist, iters)
    val a = assigned.persist()
    val l = a.select(col("__c"), col(idCol).as("id1"), col("__v").as("__v1"))
    val r = a.select(col("__c"), col(idCol).as("id2"), col("__v").as("__v2"))
    val pairs = l.join(r, Seq("__c"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        Similarity.cosine(col("__v1"), col("__v2")).as("cosine"))
      .where(col("cosine") >= minCosine)
      .localCheckpoint(true)
    a.unpersist()
    pairs
  }

  /** SemDeDup resolved to survivors: [[semanticDedupPairs]] edges fed to
    * [[connectedComponents]] — every embedding labeled with its semantic
    * dup group (component = min reachable id; keep `id == component`).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, nlist: Int = 16, iters: Int = 2): DataFrame =
    connectedComponents(
      semanticDedupPairs(df, idCol, vecCol, minCosine, nlist, iters)
        .select("id1", "id2"),
      "id1", "id2", df, idCol)

  /** Corpus-level paragraph dedup (the CCNet pass): every repeated
    * occurrence of a (trimmed) paragraph is dropped EXCEPT the canonical
    * first — minimum (doc id, position) across the corpus — so shared
    * quotes/licenses/disclaimers survive exactly once. Blank paragraphs
    * are discarded; survivors re-join in original order.
    *
    * Returns one row per input document: (idCol, n_paras_raw,
    * n_paras_kept, cleaned).
    *
    * Scale shape: the canonical-occurrence table is computed with a
    * partial-safe min(struct(doc,pos)) aggregation and RESTRICTED to
    * paragraphs occurring more than once — unique paragraphs (the
    * overwhelming majority) survive via a left-join miss, so the join's
    * build side holds only duplicated paragraphs and broadcasts; a
    * paragraph repeated across the whole corpus is one aggregation key
    * (map-side partials) and one broadcast row, never a collected group.
    */
  def dedupParagraphs(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val paras = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__raw")))
      .select(col(idCol), col("__pos"), trim(col("__raw")).as("__para"))
      .where(col("__para") =!= "")
    val dup = paras.groupBy("__para")
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol).as("__kid"), col("__pos").as("__kpos")))
          .as("__keep"))
      .where(col("__n") > 1)
      .select("__para", "__keep")
    val flagged = paras.join(dup, Seq("__para"), "left")
      .select(col(idCol), col("__pos"), col("__para").as("__line"),
        (col("__keep").isNotNull &&
          !(col("__keep.__kid") === col(idCol) &&
            col("__keep.__kpos") === col("__pos"))).as("__bad"))
    rebuildLines(df, idCol, flagged, "n_paras_raw", "n_paras_kept")
  }

  /** Reassemble per-document text from flagged (id, __pos, __line,
    * __bad) rows in ONE aggregation pass — raw count, kept count, and
    * the ordered surviving text come out of the same groupBy
    * (collect_list skips the nulls the `when` leaves for dropped rows),
    * so the exploded line stream is consumed once here, not three
    * times. Documents absent from the stream (all-blank) come out with
    * zero counts and the empty string. Shared by the line/paragraph
    * dedup passes.
    */
  private def rebuildLines(df: DataFrame, idCol: String, flagged: DataFrame,
      rawName: String, keptName: String): DataFrame = {
    val good = !col("__bad")
    val agg = flagged
      .groupBy(col(idCol))
      .agg(count(lit(1)).as(rawName),
        sum(when(good, 1L).otherwise(0L)).as(keptName),
        array_sort(collect_list(when(good,
          struct(col("__pos"), col("__line"))))).as("__ord"))
      .select(col(idCol), col(rawName), col(keptName),
        concat_ws("\n",
          transform(col("__ord"), s => s.getField("__line"))).as("cleaned"))
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(rawName), lit(0L)).as(rawName),
        coalesce(col(keptName), lit(0L)).as(keptName),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Snapshot diff between two corpus versions on normalized content:
    * (idCol, status) for every id in either frame — `added` (new only),
    * `removed` (old only), `changed` (both, different content),
    * `unchanged`. One full-outer equi-join on the id; content compares
    * by 64-bit normalized hash, never by shipping text twice.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def hashed(d: DataFrame, h: String) = d.select(col(idCol),
      xxhash64(TextOps.normText(col(textCol))).as(h))
    hashed(oldDf, "__ho").join(hashed(newDf, "__hn"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") === col("__hn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Line-level boilerplate removal (the C4/RefinedWeb/CCNet pass):
    * drop every line whose document frequency exceeds `maxLineDf` —
    * navigation, cookie banners, footers repeat across pages; real prose
    * doesn't. Lines are `\n`-split, trimmed, blanks discarded; surviving
    * lines re-join in original order.
    *
    * Returns one row per input document: (idCol, n_lines_raw,
    * n_lines_kept, cleaned) — `cleaned` is the empty string when every
    * line was boilerplate.
    *
    * Scale shape: df counting is distinct (doc, line) → groupBy(line)
    * with map-side partials, so a line appearing in every document costs
    * one count, never a collected group. The removal joins against the
    * OFFENDING line set only — by construction at most |corpus lines| /
    * maxLineDf rows, so it broadcasts (AQE) and the hot boilerplate keys
    * are flagged map-side instead of shuffling to one partition (the
    * classic skew trap this operator invites: the hottest key is always
    * boilerplate).
    */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxLineDf: Int): DataFrame = {
    require(maxLineDf >= 1, "maxLineDf must be at least 1")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__raw")))
      .select(col(idCol), col("__pos"), trim(col("__raw")).as("__line"))
      .where(col("__line") =!= "")
    val offending = lines.select(col(idCol), col("__line")).distinct()
      .groupBy("__line").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxLineDf)
      .select(col("__line"), lit(true).as("__hot"))
    val flagged = lines.join(offending, Seq("__line"), "left")
      .select(col(idCol), col("__pos"), col("__line"),
        coalesce(col("__hot"), lit(false)).as("__bad"))
    rebuildLines(df, idCol, flagged, "n_lines_raw", "n_lines_kept")
  }

  /** Winnowing fingerprint pairs — the MOSS algorithm (Schleimer,
    * Wilkerson & Aiken 2003), the guarantee-carrying substring-dedup
    * key: each sliding window of `window` consecutive `gram`-char
    * shingle hashes contributes its MINIMUM (distinct per doc), which
    * provably fingerprints every shared substring of length ≥
    * gram + window − 1 while sampling only ~2/(window+1) of the hashes.
    * Docs sharing ≥ `minShared` fingerprints pair up — the
    * guarantee-based cousin of q51's positional-gram spans.
    *
    * Scale shape: the whole per-doc pipeline — shingle hashing,
    * window-of-`window` minima over FULL windows only, per-doc dedup —
    * runs as one native expression INSIDE the scan projection, so no
    * character-level rows ever hit an exchange; only the surviving
    * fingerprints (~2/(window+1) of hashes, distinct per doc) explode.
    * The earlier doc-keyed-window formulation shuffled every character
    * position of the corpus and measured 4× slower at sf0.1. The pair
    * join is keyed on the fingerprint value with hot fingerprints
    * (boilerplate substrings) dropped by `maxFpDf` BEFORE the join
    * builds — the same cap-before-the-operator discipline as
    * q51/Contamination. All md5-word arithmetic → oracle-replayable.
    *
    * @return (id1, id2, n_shared) with id1 < id2.
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      gram: Int = 8, window: Int = 4, maxFpDf: Long = 32,
      minShared: Long = 2): DataFrame = {
    require(gram > 0 && window > 0 && minShared > 0)
    val norm = TextOps.normText(col(textCol))
    // native one-pass winnow (plans.WinnowFps): O(n) monotonic-deque
    // window min, grams sliced from the UTF8 byte buffer, codegen'd;
    // bit-identical to the declarative md5Prefix32-array spelling,
    // null text included (spec-pinned in OpsSpec)
    val fpArr = call_function("winnow_fps", norm, lit(gram), lit(window))
    val hashed = df.select(col(idCol), fpArr.as("__fps"))
    // fps feeds the hot-df count AND the anti-join, with NO exchange
    // between scan and join for ReuseExchange to dedupe — without the
    // persist the winnow kernel hashes the whole corpus twice
    val fps = hashed.select(col(idCol), explode(col("__fps")).as("__fp"))
      .persist()
    val hot = fps.groupBy("__fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxFpDf).select("__fp")
    val cold = fps.join(hot, Seq("__fp"), "left_anti")
    val a = cold.select(col("__fp"), col(idCol).as("id1"))
    val b = cold.select(col("__fp"), col(idCol).as("id2"))
    val out = a.join(b, Seq("__fp")).where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .localCheckpoint(true)
    fps.unpersist()
    out
  }

  /** EXACT Jaccard-threshold pairs by prefix filtering (the
    * PPJoin/AllPairs family — Chaudhuri et al. 2006, Xiao et al. 2008):
    * the deterministic complement of [[minHashLshPairs]]. Every doc's
    * DISTINCT token set is ordered by a global rarest-first key
    * (df asc, token); a pair with J ≥ t provably shares a token within
    * each side's first |x| − ⌈t·|x|⌉ + 1 tokens — and, generating each
    * unordered pair once in (length, id) order, the smaller side needs
    * only the first |x| − ⌈2t/(1+t)·|x|⌉ + 1 (the PPJoin index
    * prefix). Only prefix tokens join — and prefix tokens are by
    * construction the RAREST, so the
    * candidate join is driven by low-df keys (the exact opposite of the
    * hot-token trap). Candidates then verify with an exact
    * intersection count. NO false negatives (unlike LSH's probabilistic
    * recall): output == brute force, which is what the q172 oracle
    * asserts.
    *
    * Scale shape: df table + per-doc sorted list are one groupBy each;
    * the candidate join is probing-prefix × index-prefix rows only,
    * with the length filter t·|y| ≤ |x| and PPJoin's positional
    * overlap upper bound (min over shared prefix positions, a map-side-
    * combined aggregate) pruning before verification; verification
    * joins on (id, token) equi-keys for surviving pairs only.
    *
    * @return (id1, id2, n_common, l1, l2, jaccard) with id1 < id2,
    *         jaccard ≥ minJaccard.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, gram: Int = 1): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1)
    // the set item: distinct tokens (gram=1) or distinct word n-grams —
    // n-grams are the standard AllPairs practice on natural corpora:
    // a small-vocabulary corpus saturates unigram sets (every long doc
    // ≈ the whole vocabulary ⇒ a dense J-clique); shingle space doesn't
    // the item table feeds FOUR consumers (df table, per-doc lists,
    // both verification sides) — persist once, release after the
    // (tiny) pair result materializes, the bm25TopK cache lifecycle
    val tok =
      (if (gram <= 1)
        df.select(col(idCol),
          explode(array_distinct(TextOps.tokens(col(textCol)))).as("__t"))
      else
        posGramRows(df, idCol, textCol, gram)
          .select(col(idCol), col("gram").as("__t")).distinct())
        .persist()
    val dfreq = tok.groupBy("__t").agg(count(lit(1)).as("__df"))
    // r21 (guide §1.2/§2.4): `lists` has FOUR consumers — both prefix
    // sides and the two final length joins — and was re-derived per use:
    // the r21 profile showed the tok⋈dfreq join + collect_list groupBy
    // (a 6.3 MB exchange + sort per pass) executed 4× per run, the
    // dominant share of q172's 42 s cumulative task time. Persist it
    // like tok (one doc-sized row per doc — bounded), released with tok
    // below once the pair result materializes.
    val lists = tok.join(dfreq, "__t")
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("__df"), col("__t"))))
        .as("__lst"))
      .withColumn("__len", size(col("__lst")))
      .persist()
    // TWO prefix lengths per doc (the full PPJoin self-join form, Xiao
    // et al. 2008 §4, not just AllPairs): every unordered pair is
    // generated exactly once with the SMALLER doc in (length, id)
    // order as the "index" side. The later/probing doc y needs the
    // full probing prefix |y| - ceil(t*|y|) + 1, but the indexed doc x
    // only needs |x| - ceil(2t/(1+t)*|x|) + 1 tokens: with |y| >= |x|,
    // a J >= t pair's required overlap t/(1+t)*(|x|+|y|) is already
    // >= 2t/(1+t)*|x|, so a shared token must fall inside that shorter
    // index prefix. At t=0.5 the index prefix is ~|x|/3 vs the ~|x|/2
    // probing prefix — the candidate join (the measured superlinearity
    // driver in the r9/r10 10x sweeps) shrinks by the product. The
    // 1e-9 slack inside ceil keeps an fp-rounded threshold from ever
    // SHORTENING a prefix past the exact value (recall must stay
    // exact; 2t/(1+t) is not fp-representable for most t).
    val pProbe = (col("__len") -
      ceil(lit(minJaccard) * col("__len") - 1e-9) + 1).cast("int")
    val idxFrac = 2 * minJaccard / (1 + minJaccard)
    val pIdx = (col("__len") -
      ceil(lit(idxFrac) * col("__len") - 1e-9) + 1).cast("int")
    // prefix rows carry the 1-based POSITION of each token in the doc's
    // full sorted list (the prefix IS the list head, so the slice
    // position is the global position) — the positional filter needs it
    def prefixRows(plen: Column) = lists
      .select(col(idCol), col("__len"),
        posexplode(slice(col("__lst"), lit(1), plen)).as(Seq("__i", "__e")))
      .select(col(idCol), col("__len"), (col("__i") + 1).as("__i"),
        col("__e.__t").as("__t"))
    val a = prefixRows(pProbe).select(col("__t"), col(idCol).as("idP"),
      col("__len").as("lP"), col("__i").as("iP"))
    val b = prefixRows(pIdx).select(col("__t"), col(idCol).as("idI"),
      col("__len").as("lI"), col("__i").as("iI"))
    // POSITIONAL filter (PPJoin's second refinement): a shared token at
    // global sorted positions (i, j) bounds the overlap by
    //   ub = min(i-1, j-1)        (tokens strictly before the match)
    //      + 1 + min(lI-i, lP-j)  (the match + tokens after it),
    // valid for EVERY shared prefix token, so the pair's overlap is at
    // most the MIN ub across its prefix matches; J >= t needs overlap
    // >= t/(1+t)*(lI+lP), and candidates whose min-ub can't reach it
    // are pruned BEFORE the verification join. The min is
    // partial-aggregable, so the pruning costs one map-side-combined
    // shuffle of (pair) keys — strictly less than the .distinct() it
    // replaces. 1e-9 slack again: never prune a boundary-exact pair.
    val ub = least(col("iI"), col("iP")) +
      least(col("lI") - col("iI"), col("lP") - col("iP"))
    val alpha = (col("lI") + col("lP")) * (minJaccard / (1 + minJaccard))
    val cand = a.join(b, Seq("__t"))
      .where((col("lI") < col("lP")) ||
        (col("lI") === col("lP") && col("idI") < col("idP")))
      .where(col("lP") * minJaccard <= col("lI") &&
        col("lI") * minJaccard <= col("lP"))
      .groupBy("idI", "idP", "lI", "lP")
      .agg(min(ub).as("__ub"))
      .where(col("__ub") >= alpha - 1e-9)
      .select(least(col("idI"), col("idP")).as("id1"),
        greatest(col("idI"), col("idP")).as("id2"))
    val t1 = tok.select(col(idCol).as("id1"), col("__t"))
    val t2 = tok.select(col(idCol).as("id2"), col("__t"))
    val inter = cand.join(t1, "id1").join(t2, Seq("id2", "__t"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_common"))
    val out = inter
      .join(lists.select(col(idCol).as("id1"), col("__len").as("l1")),
        "id1")
      .join(lists.select(col(idCol).as("id2"), col("__len").as("l2")),
        "id2")
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("l1") + col("l2") - col("n_common")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id1", "id2", "n_common", "l1", "l2", "jaccard")
      .localCheckpoint(true)
    tok.unpersist()
    lists.unpersist()
    out
  }

  /** Bag-of-words fingerprint dedup: fp = md5-prefix32 of the SORTED
    * DISTINCT token list — docs that are token permutations or
    * repetitions of the same vocabulary collide, which exact hashing
    * (order-sensitive) misses and MinHash only catches probabilistically.
    * The template-spam / listicle-reshuffle detector between [[exact]]
    * and [[minHashLshPairs]] in strictness.
    *
    * Scale shape: the fingerprint is computed in the scan projection
    * (array ops + one md5, no explode); only the 8-byte fp + id reach
    * the grouping window — same exchange footprint as exact dedup.
    *
    * @return one row per input doc: (idCol, wordset_fp, n_same,
    *         canonical) — canonical = min id of the fp group.
    */
  def wordSetDedup(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Contract (NullTextSpec): NULL text propagates to a NULL
    // fingerprint — its own class, missing data is never conflated
    // with present-but-token-less text — while empty/whitespace-only
    // docs share the md5("") empty-vocabulary class. (DuckDB replay
    // caveat: its array_to_string([]) is NULL, not '' — the q149
    // oracle coalesces before hashing.)
    val fp = graft.ops.Sampling.md5Prefix32(array_join(
      array_sort(array_distinct(TextOps.tokens(col(textCol)))), " "))
    val w = Window.partitionBy(col("wordset_fp"))
    df.select(col(idCol), fp.as("wordset_fp"))
      .withColumn("n_same", count(lit(1)).over(w))
      .withColumn("canonical", min(col(idCol)).over(w))
  }

  /** EXACT edit-distance ≤ 1 similarity self-join over same-length
    * strings, via wildcard (substitution) neighborhood blocking: each
    * row emits its string with position i replaced by a NUL sentinel,
    * one key per position. Two equal-length strings at Hamming distance
    * ≤ 1 share a wildcard key at exactly the differing position (or
    * every key when identical) — and for equal lengths, Levenshtein ≤ 1
    * ⇔ Hamming ≤ 1 (an insert+delete pair already costs 2) — so recall
    * is exact BY CONSTRUCTION, no quadratic block and no verification
    * miss. The fuzzy record-linkage / typo-dedup primitive.
    *
    * Scale shape: len+1 keys per row (linear emit), equi-join on the
    * near-unique wildcard string; the only possible hot keys are
    * identical-value clusters, whose pairs are the operator's own
    * output. Contract: same-length substitution distance — cross-length
    * indel pairs are out of scope (keys embed length).
    *
    * @return one row per pair: (id1, id2, s1, s2, lev, diff_pos) with
    *         id1 < id2, lev ∈ {0, 1}, diff_pos = 1-based position of
    *         the differing char (0 for identical strings).
    */
  def editDistanceOnePairs(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    // length >= 1: sequence(1, 0) is DESCENDING ([1,0]), so an empty
    // string would emit the bare "NUL(0x00)" wildcard twice and pair with
    // every 1-char string, violating the same-length contract.
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .where(col("__s").isNotNull && length(col("__s")) >= 1)
    val keys = base.select(col("__id"), col("__s"),
      explode(transform(sequence(lit(1), length(col("__s"))), i =>
        concat_ws("", col("__s").substr(lit(1), i - 1), lit("\u0000"),
          col("__s").substr(i + 1, length(col("__s")) - i))))
        .as("__key"))
      // staged eagerly: the self-join references the frame twice and
      // Spark does not dedupe common subplans — without the barrier
      // the scan+explode runs once per side
      .localCheckpoint(true)
    val pairs = keys.as("a").join(keys.as("b"),
        col("a.__key") === col("b.__key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"),
        col("a.__s").as("s1"), col("b.__s").as("s2"))
      .distinct() // identical strings meet in every wildcard position
    pairs
      .withColumn("lev", levenshtein(col("s1"), col("s2")).cast("long"))
      .withColumn("diff_pos", coalesce(try_element_at(
        filter(sequence(lit(1), length(col("s1"))), i =>
          col("s1").substr(i, lit(1)) =!= col("s2").substr(i, lit(1))),
        lit(1)),
        lit(0)).cast("long"))
  }
}
