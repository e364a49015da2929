package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketches for corpus-scale statistics: HyperLogLog
  * cardinality registers, Count-Min frequency counters, and the Z-order
  * (Morton) curve for 2-D data layout.
  *
  * At 100 TB the exact forms of these questions — distinct tokens per
  * language, per-token frequencies, multi-column range locality — are
  * themselves big-data problems (a distinct-count over 10¹² tokens is a
  * full shuffle of the token stream). Sketches bound the state: HLL is
  * 256 bytes per group, CMS is depth×width counters total, and both are
  * MERGEABLE — per-partition sketch then `max`/`sum` merge, which is the
  * map-side-combine shape Spark aggregates into automatically because
  * both constructions are pure `groupBy.agg(max/sum)` over integer
  * columns. Nothing here collects to the driver.
  *
  * Everything derives from the engine-portable md5 hash family
  * ([[Sampling.md5Prefix32]] / [[Sampling.md5Second32]] + the
  * [[Dedup.minHashParams]] affine permutations): register indices, rho
  * ranks, counter cells and Morton codes are integer arithmetic on those
  * words, so a DuckDB oracle replays every register and counter
  * cell-exact — same property that made the LSH family verifiable
  * (fingerprints re-verify on any engine).
  */
object Sketches {

  // ------------------------------------------------------------------
  // HyperLogLog
  // ------------------------------------------------------------------

  /** Number of HLL registers (2^[[HllB]]). 256 registers → standard
    * error 1.04/√m ≈ 6.5% — the classic operating point (Flajolet et
    * al. 2007, §4) where the whole sketch is one cache line per group.
    */
  val HllB: Int = 8
  val HllM: Int = 1 << HllB

  /** Rank (rho) of a 32-bit hash word: position of the leftmost 1-bit =
    * leading zeros + 1, so rho ∈ [1, 33] with 33 for the all-zero word.
    * Spelled `33 - bitLength(w)` where bitLength comes from the length
    * of the binary string form — `bin()` prints without leading zeros
    * in both Spark and DuckDB, which makes this the rare rank
    * construction that is engine-portable without a bit loop.
    */
  def hllRho(word: Column): Column =
    when(word === 0, lit(33)).otherwise(lit(33) - length(bin(word)))

  /** Per-group HLL registers over the values of `item`:
    * (groupCols…, reg, rho) with reg ∈ [0, 256) from the first md5 word
    * and rho the rank of the second word (independent words of ONE
    * digest — no second hash pass). `groupBy.agg(max)` gives map-side
    * partial maxes, so the shuffle carries at most groups×256 rows no
    * matter how many items flow in — the sketch IS the shuffle shape.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], item: Column)
      : DataFrame = {
    val g = groupCols.map(col)
    df.select(g :+ (Sampling.md5Prefix32(item) % HllM).as("reg")
        :+ hllRho(Sampling.md5Second32(item)).as("rho"): _*)
      .groupBy(g :+ col("reg"): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Merge two register tables (same group columns): union + max per
    * (group, reg) — HLL's defining property. Registers built on any
    * partition of the data merge to exactly the registers of the whole:
    * the incremental-corpus shape (nightly batch sketches + standing
    * sketch → updated sketch, no re-scan of the corpus).
    */
  def hllMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String])
      : DataFrame = {
    val g = groupCols.map(col)
    a.unionByName(b)
      .groupBy(g :+ col("reg"): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Exact scale constant and estimator arithmetic, shared with the
    * DuckDB oracle:  E = alpha·m²·2³³ / S  where
    * S = Σ_j 2^(33-rho_j) over all m registers (absent register ⇒
    * rho = 0 ⇒ term 2³³). S is an INTEGER ≤ m·2³³ = 2⁴¹ — summed
    * exactly as a long on any engine, in any order — and the estimate
    * is one double division of two exactly-representable values, so it
    * is bit-identical wherever the registers match. No transcendental
    * bias corrections (the raw estimator is the contract; at m = 256
    * the small-range regime only matters below ~640 distinct, where an
    * exact count is trivial anyway).
    */
  val HllAlpha: Double = 0.7213 / (1 + 1.079 / HllM)
  val HllK: Double = HllAlpha * HllM * HllM * 8589934592.0 // alpha·m²·2³³

  /** Collapse a register table to one estimate row per group:
    * (groupCols…, regs_hit, reg_sum, est_distinct). `reg_sum` is the
    * exact integer S above — the auditable core of the estimate; two
    * engines that agree on it agree on `est_distinct` to the bit.
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    regs
      .groupBy(g: _*)
      .agg(count(lit(1)).as("regs_hit"),
        sum(call_function("shiftleft", lit(1L), lit(33) - col("rho")))
          .as("hit_sum"))
      .select(g
        :+ col("regs_hit")
        :+ ((lit(HllM.toLong) - col("regs_hit")) * lit(8589934592L)
             + col("hit_sum")).as("reg_sum"): _*)
      .withColumn("est_distinct", lit(HllK) / col("reg_sum").cast("double"))
  }

  // ------------------------------------------------------------------
  // Count-Min
  // ------------------------------------------------------------------

  /** Counter table (r, c, cnt) of a Count-Min sketch over the values of
    * `item`: depth rows × width columns, row hashes
    * g_r(h) = ((a_r·h + b_r) mod P) mod width over the md5 base word —
    * the [[Dedup.minHashParams]] universal family, so every cell
    * replays on any engine. One pass: the per-item explode emits depth
    * (r, c) pairs and `groupBy.count` partial-aggregates map-side, so
    * the shuffle carries ≤ depth·width rows per partition regardless of
    * stream length. Total state depth·width counters (the point: a
    * frequency table over 10¹² tokens in kilobytes, at the price of
    * ε = e/width overcount with failure prob e^-depth).
    */
  def cmsCounters(df: DataFrame, item: Column, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    val cells = (0 until depth).map { r =>
      struct(lit(r).as("r"),
        (Dedup.minHashPermuted(r, col("__h")) % width).as("c"))
    }
    df.select(Sampling.md5Prefix32(item).as("__h"))
      .select(explode(array(cells: _*)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for each row of `candidates`: estimated
    * count = min over rows r of counter[r, g_r(h(item))]. The join is
    * |candidates|·depth against a depth·width table — broadcast-sized
    * by construction. Estimates never undercount (every true occurrence
    * incremented every probed cell), so `est_cnt >= true count` is an
    * invariant, not a tendency.
    */
  def cmsProbe(counters: DataFrame, candidates: DataFrame, itemCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val probes = (0 until depth).map { r =>
      struct(lit(r).as("r"),
        (Dedup.minHashPermuted(r, col("__h")) % width).as("c"))
    }
    val cand = candidates
      .withColumn("__h", Sampling.md5Prefix32(col(itemCol)))
      .select(col("*"), explode(array(probes: _*)).as("probe"))
      .select(col("*"), col("probe.r").as("r"), col("probe.c").as("c"))
    cand.join(broadcast(counters), Seq("r", "c"))
      .groupBy(candidates.columns.toIndexedSeq.map(col): _*)
      .agg(min(col("cnt")).as("est_cnt"))
  }

  // ------------------------------------------------------------------
  // Z-order (Morton) layout
  // ------------------------------------------------------------------

  /** Interleave the low 16 bits of `x` and `y` into a 32-bit Morton
    * code (x in even bit positions, y in odd). Magic-mask bit spreading
    * — 4 shift/or/and steps per coordinate instead of a 16-step bit
    * loop; pure integer Column arithmetic, whole-stage-codegen'd, and
    * the DuckDB oracle replays the identical masks. Sorting a table by
    * this code clusters 2-D range queries: any (x, y) rectangle touches
    * a bounded set of Morton ranges, so file-level min/max stats prune
    * most files for point-in-rectangle scans — the multi-dimensional
    * layout trick data warehouses bill as Z-ORDER clustering, here as
    * one expression + `repartitionByRange`.
    */
  def zValue(x: Column, y: Column): Column =
    spread16(x) + spread16(y) * 2

  /** Spread the low 16 bits of `c` to the even bit positions of a
    * 32-bit word: abcd → 0a0b0c0d. Masks are the standard Morton
    * constants; arithmetic stays < 2³² so BIGINT semantics are
    * identical on every engine.
    */
  def spread16(c: Column): Column = {
    val w0 = c.bitwiseAND(lit(0xFFFFL))
    val w1 = w0.bitwiseOR(shiftleft16(w0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val w2 = w1.bitwiseOR(shiftleft16(w1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val w3 = w2.bitwiseOR(shiftleft16(w2, 2)).bitwiseAND(lit(0x33333333L))
    w3.bitwiseOR(shiftleft16(w3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Multiplicative left shift: `c · 2^n`. Both engines' `<<` on BIGINT
    * would also do, but the multiply spelling needs no operator-
    * precedence care in generated SQL and codegens identically.
    */
  private def shiftleft16(c: Column, n: Int): Column =
    c * lit(1L << n)

  // ------------------------------------------------------------------
  // Fixed-grid quantile sketch
  // ------------------------------------------------------------------

  /** Grid bin of a unit-interval value: `clamp(floor(v·bins), 0, bins-1)`.
    * [[graft.ops.TextOps.lengthProfile]]'s exact histogram is bounded by
    * DISTINCT VALUES — fine for integer token counts, unbounded for
    * continuous signals (quality scores, loss-style doubles, compression
    * ratios). The grid bounds the state at `bins` buckets per group no
    * matter the stream, which is the mergeable-sketch property (KLL /
    * t-digest solve the same problem adaptively; the fixed grid trades
    * their adaptive resolution for DETERMINISM — every bin is replayable
    * integer arithmetic, so a DuckDB oracle checks each cell the way
    * q91 replays HLL registers).
    *
    * Engine-portable when `v` is pre-quantized (e.g. cast to
    * DECIMAL(28,12)): `v·bins` stays decimal for an int literal `bins`,
    * and `floor` of a decimal is exact on both engines. Values outside
    * [0,1) clamp into the edge bins. For a general [lo,hi) signal,
    * pre-scale `(x-lo)/(hi-lo)` upstream.
    */
  def gridBin(value: Column, bins: Int): Column =
    least(greatest(floor(value * bins).cast("long"), lit(0L)),
      lit((bins - 1).toLong))

  /** Per-group grid histogram: (groupCols…, bin, cnt). The shuffle
    * carries at most groups×bins rows regardless of input size —
    * map-side partial counts apply because this is a plain
    * `groupBy.agg(count)`. This histogram IS the sketch state: merging
    * two corpora's sketches is elementwise addition ([[gridMerge]]),
    * pinned equal to sketching the union in SketchSpec.
    */
  def gridHistogram(df: DataFrame, groupCols: Seq[String], value: Column,
      bins: Int): DataFrame =
    df.groupBy((groupCols.map(col) :+ gridBin(value, bins).as("bin")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge two grid sketches: elementwise count addition per
    * (group, bin) — the mergeable-state contract (sketch(A) ⊕ sketch(B)
    * = sketch(A ∪ B), exactly, not approximately, because the state is
    * integer counts).
    */
  def gridMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String])
      : DataFrame =
    a.unionByName(b)
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from a grid histogram: for each p, the LOWER
    * EDGE (`bin/bins`, an exact binary fraction for power-of-two bins)
    * of the smallest bin whose cumulative count reaches `ceil(p·n)` —
    * the type-1 quantile at grid resolution, so the estimate is within
    * one bin width of the true quantile (SketchSpec pins the bound with
    * planted distributions). Column names: p=0.5 → `p50`, 0.999 →
    * `p99_9`.
    */
  def gridQuantiles(hist: DataFrame, groupCols: Seq[String],
      ps: Seq[Double], bins: Int): DataFrame = {
    val wCum = Window.partitionBy(groupCols.map(col): _*).orderBy(col("bin"))
    val wTot = Window.partitionBy(groupCols.map(col): _*)
    val cum = hist
      .withColumn("__cum", sum(col("cnt")).over(wCum))
      .withColumn("__n", sum(col("cnt")).over(wTot))
    val aggs = ps.map { p =>
      (min(when(col("__cum") >= ceil(col("__n") * p), col("bin")))
        .cast("double") / bins).as(pName(p))
    }
    cum.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** `0.5 → p50`, `0.99 → p99`, `0.999 → p99_9` (round at 1/10 of a
    * percent so 0.99·100's FP representation never leaks a stray digit).
    */
  private def pName(p: Double): String = {
    val tenths = math.round(p * 1000)
    val s = if (tenths % 10 == 0) (tenths / 10).toString
            else s"${tenths / 10}_${tenths % 10}"
    s"p$s"
  }

  // ------------------------------------------------------------------
  // KMV (k-minimum-values) distinct sketch + set overlap
  // ------------------------------------------------------------------

  /** KMV sketch per group: the `k` smallest DISTINCT md5-word hash
    * values of `item`, with their rank. Where HLL (q91) answers only
    * "how many distinct", KMV is a uniform SAMPLE of the distinct set,
    * so two groups' sketches compose into union / intersection /
    * Jaccard ESTIMATES (Beyer et al., SIGMOD 2007 — the K-Minimum
    * Values synopsis; the same construction Theta sketches
    * industrialize). State is k longs per group; merge = union + re-rank
    * ([[kmvMerge]]), and merging per-partition sketches equals
    * sketching the union EXACTLY (the k smallest of A∪B all lie in the
    * k smallest of A ∪ the k smallest of B) — SketchSpec pins it.
    */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], item: Column,
      k: Int): DataFrame = {
    val g = groupCols.map(col)
    val hashed = df.select(g :+ Sampling.md5Prefix32(item).as("hv"): _*)
    // r21 (guide §2.3 — aggregate before you shuffle): the k smallest
    // distinct hashes per group are ONE partially-aggregating native
    // aggregate ([[graft.plans.KmvTopK]]) — the map side reduces each
    // partition to ≤ k longs of bounded state, so the exchange carries
    // groups×partitions×k longs no matter the corpus size, where the
    // pre-r21 distinct() + bucket-prune window + rank window shuffled
    // every distinct hash three times. Same rows out: the k smallest
    // distinct values are partitioning-independent and rank = ascending
    // position (ties impossible on a distinct set); SketchSpec pins the
    // equivalence with the window form.
    kmvTopK(hashed, g, k)
  }

  /** The k smallest distinct `hv` per group as (g…, hv, rank): one
    * [[graft.plans.KmvTopK]] aggregate, exploded with 1-based ranks.
    */
  private def kmvTopK(df: DataFrame, g: Seq[Column], k: Int): DataFrame =
    df.groupBy(g: _*)
      .agg(call_function("kmv_topk", col("hv"), lit(k)).as("__hvs"))
      .select(g :+ posexplode(col("__hvs")).as(Seq("__p", "hv")): _*)
      .select(g ++ Seq(col("hv"), (col("__p") + 1).as("rank")): _*)

  /** Merge two KMV sketches (same group columns): union the value
    * sets, drop duplicate values, keep the k smallest per group.
    * Exactly the sketch of the union — the incremental-corpus shape
    * (nightly batch sketch + standing sketch → updated sketch).
    */
  def kmvMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame = {
    val g = groupCols.map(col)
    val uni = a.drop("rank").unionByName(b.drop("rank"))
    // same kmv_topk aggregate as [[kmvSketch]] (r21): dedup + k-smallest
    // + rank in one partial-aggregating exchange instead of
    // distinct + rank window (two)
    kmvTopK(uni, g, k)
  }

  /** Collapse a sketch to one row per group:
    * (groupCols…, n_k, kth, est_distinct). When the group holds fewer
    * than k distinct values the sketch IS the distinct set and the
    * estimate is the exact count; otherwise the unbiased KMV estimator
    * (k−1)·2³² / U_(k) with U_(k) the k-th smallest hash — numerator
    * and denominator are both exactly-representable doubles, so the
    * estimate is one IEEE division, bit-identical wherever the sketch
    * matches (q91's portability argument).
    */
  def kmvEstimate(sketch: DataFrame, groupCols: Seq[String], k: Int)
      : DataFrame = {
    val g = groupCols.map(col)
    sketch.groupBy(g: _*)
      .agg(count(lit(1)).as("n_k"), max(col("hv")).as("kth"))
      .withColumn("est_distinct",
        when(col("n_k") < k, col("n_k").cast("double"))
          .otherwise(lit((k - 1).toLong * 4294967296.0)
            / col("kth").cast("double")))
  }

  /** Pairwise overlap of all groups in one sketch table: for every
    * group pair a < b, combine the two sketches (union, k smallest),
    * count how many of those k live in BOTH sketches, and derive
    * (n_union_k, kth_union, n_inter_k, est_union, est_jaccard,
    * est_inter). ρ = n_inter_k / n_union_k is the classic KMV Jaccard
    * estimator and est_inter = ρ·est_union the intersection estimate —
    * the set algebra HLL registers cannot do. Work is
    * pairs × k rows (the pair frame is a broadcast of the group list);
    * the corpus itself is never touched again.
    */
  def kmvPairOverlap(sketch: DataFrame, groupCol: String, k: Int)
      : DataFrame = {
    val groups = sketch.select(col(groupCol)).distinct()
    val pairs = groups.select(col(groupCol).as("src_a"))
      .crossJoin(groups.select(col(groupCol).as("src_b")))
      .where(col("src_a") < col("src_b"))
    val aSide = sketch.join(broadcast(pairs),
        col(groupCol) === col("src_a"))
      .select(col("src_a"), col("src_b"), col("hv"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val bSide = sketch.join(broadcast(pairs),
        col(groupCol) === col("src_b"))
      .select(col("src_a"), col("src_b"), col("hv"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val uni = aSide.unionByName(bSide)
      .groupBy(col("src_a"), col("src_b"), col("hv"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val w = Window.partitionBy(col("src_a"), col("src_b")).orderBy("hv")
    uni.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_union_k"), max(col("hv")).as("kth_union"),
        sum((col("in_a") * col("in_b")).cast("long")).as("n_inter_k"))
      .withColumn("est_union",
        when(col("n_union_k") < k, col("n_union_k").cast("double"))
          .otherwise(lit((k - 1).toLong * 4294967296.0)
            / col("kth_union").cast("double")))
      .withColumn("est_jaccard",
        col("n_inter_k").cast("double") / col("n_union_k").cast("double"))
      .withColumn("est_inter", col("est_jaccard") * col("est_union"))
  }
}
