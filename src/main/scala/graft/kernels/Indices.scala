package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compile.ColumnCompiler.qcol
import graft.plans.{PerKeySeries, SeriesKernel}

/** Chain-linked volume indices (FAME `$chain`/`mchain`) and Fisher volume
  * rebasing (`fishvol_rebase`) — SURVEY §2.7.
  *
  * The reference delegates both to a closed external kernel (its dev mock
  * returns `lit(1.0)`, `fame2pygen/polars_econ_mock.py:9-11,38-40`), so the
  * math below follows the published national-accounts methodology
  * (Fisher ideal index, annual-overlap chain linking; e.g. IMF QNA manual
  * ch. 8) and is documented here as this engine's defined semantics:
  *
  *  - Laspeyres link  L_y = Σᵢ sᵢ·p̄ᵢ,y₋₁·Qᵢ,y / Σᵢ sᵢ·p̄ᵢ,y₋₁·Qᵢ,y₋₁
  *  - Paasche  link   P_y = Σᵢ sᵢ·p̄ᵢ,y·Qᵢ,y   / Σᵢ sᵢ·p̄ᵢ,y·Qᵢ,y₋₁
  *  - Fisher   link   F_y = √(L_y·P_y)
  *  - Index level     I_y = Π_{u ≤ y} F_u, re-referenced so base year = 100.
  *
  * where p̄ᵢ,y = annual average price, Qᵢ,y = annual quantity sum, and sᵢ is
  * the term sign (`$chain("a - b + c", …)` subtracts b's contributions,
  * `fame2pygen/formulas_generator.py:605-623`).
  *
  * Execution shape: a chain, seeded or not, is one
  * [[graft.plans.PerKeySeries]] operator over the frame it extends. The
  * frame is clustered by the keys and sorted by (keys, date), and
  * [[ChainKernel]] folds each key's years in date order, so the index
  * does not depend on the partition count and the plan does not branch.
  */
object Indices {

  private def win(keys: Seq[String], orderCol: String) =
    if (keys.isEmpty) Window.orderBy(orderCol)
    else Window.partitionBy(keys.map(col): _*).orderBy(orderCol)

  /** Cumulative product of the positive values of `c` over an ordered
    * window: the exact sequential native [[graft.plans.ProductAgg]]
    * (index links are guarded > 0 upstream).
    */
  def cumprod(c: Column, w: org.apache.spark.sql.expressions.WindowSpec)
      : Column =
    call_function("product_agg", when(c > 0, c))
      .over(w.rowsBetween(Window.unboundedPreceding, 0))

  /** Per-(keys, year) chain aggregates: for each term i, the year's
    * average price `__p$i = avg(P<q>)` and quantity sum
    * `__q$i = sum(<q>)`. The incremental streaming executor
    * ([[graft.streaming.FameStream.runIncremental]]) materializes CLOSED
    * years' rows of this table as carried derived state and hands them
    * back to [[chain]] as its seed: a year's aggregates are constants
    * once the year closes, and carrying them (1 row per key per year)
    * lets the chain relink its whole history each batch without
    * carrying O(history) raw rows.
    *
    * @return frame `keys :+ __year :+ (__p$i, __q$i per term)`.
    */
  def yearlyAggs(df: DataFrame, dateCol: String,
      terms: Seq[(Int, String)], keys: Seq[String]): DataFrame = {
    val y = year(col(dateCol)).as("__year")
    val aggs = terms.zipWithIndex.flatMap { case ((_, q), i) =>
      // qcol, not col: a dotted quantity series (`v.dot`) must read as a
      // literal column, not struct access (same class as the r17 q220 find)
      Seq(avg(qcol("P" + q)).as(s"__p$i"), sum(qcol(q)).as(s"__q$i"))
    }
    df.groupBy((keys.map(col) :+ y): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Marks a seed row in the series a seeded [[chain]] hands its kernel. */
  private val SeedFlag = "__CHAIN_SEED"

  /** The annually chain-linked Fisher volume index over signed
    * (quantity, price=`P<quantity>`) term pairs, as column `idxName` of
    * `df`: each key's rows feed [[ChainKernel]] through one
    * [[graft.plans.PerKeySeries]] operator.
    *
    * @param terms (sign, quantityCol) pairs; price col = "P"+quantityCol
    * @param seed  closed-year aggregate rows ([[yearlyAggs]] schema)
    *              carried by the incremental streaming executor. Each
    *              joins its key's series as one extra row, dated Jan 1
    *              of its year and flagged, that keeps its own `__p$i`
    *              and `__q$i`: it REPLACES the frame's own (possibly
    *              partial) aggregates for that year, so a work frame
    *              holding only the open year's raw rows still links
    *              against the complete history. The seed rows leave
    *              the frame after the kernel.
    */
  def chain(df: DataFrame, dateCol: String, terms: Seq[(Int, String)],
      baseYear: Int, idxName: String, keys: Seq[String] = Nil,
      seed: Option[DataFrame] = None): DataFrame = {
    val inputs = terms.flatMap { case (_, q) => Seq("P" + q, q) }
    val kernel = ChainKernel(terms.map(_._1.toDouble), baseYear)
    seed match {
      case None =>
        PerKeySeries.append(df, keys, dateCol, inputs, idxName, kernel)
      case Some(st) =>
        val carried = terms.indices.flatMap(i => Seq(s"__p$i", s"__q$i"))
        val dateType = df.select(qcol(dateCol)).schema.head.dataType
        val rows = st
          .withColumn(dateCol,
            make_date(col("__year"), lit(1), lit(1)).cast(dateType))
          .withColumn(SeedFlag, lit(true))
          .drop("__year")
        PerKeySeries.append(df.unionByName(rows, allowMissingColumns = true),
            keys, dateCol, (inputs :+ SeedFlag) ++ carried, idxName, kernel)
          .where(col(SeedFlag).isNull)
          .drop((SeedFlag +: carried): _*)
    }
  }

  /** The chain index over one key's date-sorted rows
    * `(date, P₀, Q₀, P₁, Q₁, …)`, for [[graft.plans.PerKeySeries]]. A
    * seeded chain's rows go on with `(flag, p₀, q₀, p₁, q₁, …)`: a
    * flagged row is a carried year's aggregates.
    *
    * Each year's average price is the sum of its non-null prices, taken
    * in date order from 0.0, over their count, and its quantity is the
    * sum of its non-null quantities (null when there are none): the
    * values Spark's `avg` and `sum` give over the same rows in the same
    * order. A year that holds a flagged row takes its (p, q) from that
    * row alone. Each link then takes, with p̄/Q the year's and p̄₋/Q₋
    * the previous year's aggregates (null for the first year):
    * `L = Σ((s·p̄₋)·Q) / Σ((s·p̄₋)·Q₋)` and `P = Σ((s·p̄)·Q) / Σ((s·p̄)·Q₋)`,
    * each Σ summed over the terms left to right; the link is
    * `√(L·P)` when that product is positive and 1.0 otherwise (a null
    * or negative product); the running product of the links, in the
    * order of [[graft.plans.ProductAgg]], is the raw level; and the
    * index is `raw / raw(baseYear) * 100`. Spark's semantics hold where
    * Scala's differ: a null operand gives null, NaN compares above every
    * number, and a zero divisor fails as ANSI division does. Every row
    * of a year gets that year's index.
    */
  final case class ChainKernel(signs: Seq[Double], baseYear: Int)
      extends SeriesKernel {

    private type D = Option[Double]
    private def add(a: D, b: D): D = for (x <- a; y <- b) yield x + y
    private def mul(a: D, b: D): D = for (x <- a; y <- b) yield x * y
    private def div(a: D, b: D): D = for (x <- a; y <- b) yield {
      if (y == 0) throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] Division by zero in a $chain link")
      x / y
    }
    // Spark orders NaN above every other double
    private def positive(v: Double): Boolean = v > 0 || v.isNaN

    def apply(rows: IndexedSeq[InternalRow]): Array[Option[Double]] = {
      val n = signs.length
      val flag = 1 + 2 * n
      def seedRow(r: InternalRow) = r.numFields > flag && !r.isNullAt(flag)
      val yearOf = rows.map(r =>
        java.time.LocalDate.ofEpochDay(r.getInt(0).toLong).getYear)
      // one (prices, quantities) entry per year present, ascending, and
      // each row's entry
      val years = scala.collection.mutable.ArrayBuffer.empty[Int]
      val aggs = scala.collection.mutable.ArrayBuffer.empty[(Array[D], Array[D])]
      val entryOf = new Array[Int](rows.length)
      var i = 0
      while (i < rows.length) {
        val y = yearOf(i)
        var end = i
        while (end < rows.length && yearOf(end) == y) end += 1
        val seeded = (i until end).exists(k => seedRow(rows(k)))
        // a seed row reads its own (p, q) columns, after the flag
        val at = if (seeded) flag + 1 else 1
        val pSum = new Array[Double](n); val pCnt = new Array[Long](n)
        val qSum = new Array[Double](n); val qSeen = new Array[Boolean](n)
        for (k <- i until end) {
          val r = rows(k)
          if (seedRow(r) == seeded) for (t <- 0 until n) {
            if (!r.isNullAt(at + 2 * t)) {
              pSum(t) += r.getDouble(at + 2 * t); pCnt(t) += 1
            }
            if (!r.isNullAt(at + 1 + 2 * t)) {
              qSum(t) += r.getDouble(at + 1 + 2 * t); qSeen(t) = true
            }
          }
          entryOf(k) = years.length
        }
        i = end
        years += y
        aggs += ((Array.tabulate(n)(t =>
            if (pCnt(t) == 0) None else Some(pSum(t) / pCnt(t).toDouble)),
          Array.tabulate(n)(t => if (qSeen(t)) Some(qSum(t)) else None)))
      }

      def dot(p: Array[D], q: Array[D]): D =
        (0 until n).map(t => mul(mul(Some(signs(t)), p(t)), q(t)))
          .reduce(add)
      val none = Array.fill[D](n)(None)
      var raw: D = None
      val raws = years.indices.map { k =>
        val (p, q) = aggs(k)
        // the first year has no predecessor (lag is null): a unit link
        val (pp, pq) = if (k == 0) (none, none) else aggs(k - 1)
        val lasp = div(dot(pp, q), dot(pp, pq))
        val paas = div(dot(p, q), dot(p, pq))
        val fisher =
          mul(lasp, paas).filter(positive).map(math.sqrt).getOrElse(1.0)
        // a link is positive or NaN, so ProductAgg's `> 0` guard keeps it
        raw = Some(raw.fold(fisher)(_ * fisher))
        raw
      }
      val base = years.indexOf(baseYear) match {
        case -1 => None
        case k => raws(k)
      }
      val index = raws.map(r => mul(div(r, base), Some(100.0)))
      entryOf.map(index)
    }
  }

  /** Period-to-period chained Fisher volume index over (volume, price)
    * pairs, re-referenced so the base-year average = 100
    * (FAME `fishvol_rebase({v…},{p…}, year)`,
    * `fame2pygen/fame2py_converter.py:633-644`).
    */
  def fishvol(df: DataFrame, dateCol: String, volumes: Seq[String],
      prices: Seq[String], baseYear: Int, idxName: String,
      keys: Seq[String] = Nil, seed: Option[DataFrame] = None): DataFrame =
    fishvolRaw(df, dateCol, volumes, prices, baseYear, keys, seed)
      .withColumn(idxName, col("__FV_RAW") / col("__FV_BAVG") * lit(100.0))
      .drop("__FV_RAW", "__FV_BAVG")

  /** The fishvol pipeline up to (but not including) the final rebase
    * division: returns `df` plus `__FV_RAW` (the cumulative Fisher
    * product) and `__FV_BAVG` (the base-year average of `__FV_RAW`,
    * key-constant). Split out so the incremental executor can finalize
    * its carried state — the prefix product at the newest emitted row
    * and the closed base average — from the SAME plan the kernel uses.
    *
    * @param seed per-key carried state (the incremental executor):
    *   `keys :+ __FV_SEED :+ __FV_SEED_DATE :+ __FV_BAVG_ST`.
    *   Rows dated ≤ the key's seed date get a null raw (they were
    *   emitted by earlier batches; the work frame holds them only as
    *   lag predecessors); the FIRST row after it folds the seed into
    *   its link — `(seed × l_f) × l_{f+1} × …` — which under the
    *   sequential native ProductAgg is the SAME multiplication sequence
    *   as the whole-history fold (bit-exact by induction;
    *   IncrementalPropertySpec pins every cell). The base average comes from
    *   the carried state (it finalized, in-frame and whole, the batch
    *   the base year closed); keys absent from the seed run the plain
    *   whole-history path (their entire backlog is still in frame).
    */
  def fishvolRaw(df: DataFrame, dateCol: String, volumes: Seq[String],
      prices: Seq[String], baseYear: Int, keys: Seq[String] = Nil,
      seed: Option[DataFrame] = None): DataFrame = {
    require(volumes.length == prices.length, "fishvol needs matching v/p lists")
    val w = win(keys, dateCol)
    val pairs = volumes.zip(prices)

    def dot(price: String => Column, vol: String => Column): Column =
      pairs.map { case (v, p) => price(p) * vol(v) }.reduce(_ + _)

    // qcol, not col: dotted volume/price series names read literally
    val cur  = (c: String) => qcol(c)
    val prev = (c: String) => lag(qcol(c), 1).over(w)

    val lasp = dot(prev, cur) / dot(prev, prev)
    val paas = dot(cur, cur) / dot(cur, prev)
    val lp = lasp * paas
    val link = coalesce(sqrt(when(lp > 0, lp)), lit(1.0))

    val seeded = seed match {
      case None => df
        .withColumn("__FV_SEED", lit(null).cast("double"))
        .withColumn("__FV_SEED_DATE", lit(null).cast("date"))
        .withColumn("__FV_BAVG_ST", lit(null).cast("double"))
      case Some(st) =>
        // |keys| rows (one per key) — broadcast-sized at any scale
        if (keys.isEmpty) df.crossJoin(broadcast(st))
        else df.join(broadcast(st), keys, "left")
    }
    // epoch stand-in for "no seed": every row is after it
    val sd = coalesce(col("__FV_SEED_DATE"),
      lit(java.sql.Date.valueOf("0001-01-01")))
    val prevDate = lag(col(dateCol), 1).over(w)
    val isFirst = (col(dateCol) > sd) && (prevDate.isNull || prevDate <= sd)
    val foldLink = when(col(dateCol) > sd,
      when(isFirst, coalesce(col("__FV_SEED"), lit(1.0)) * link)
        .otherwise(link))
    // materialize the link before the cumulative window — its lag() can't
    // nest inside the running product's window function
    val withRaw = seeded
      .withColumn("__fv_link", foldLink)
      .withColumn("__FV_RAW", cumprod(col("__fv_link"), w))
      .drop("__fv_link")
    val baseW =
      if (keys.isEmpty) Window.partitionBy()
      else Window.partitionBy(keys.map(col): _*)
    val baseAvg = coalesce(col("__FV_BAVG_ST"),
      avg(when(year(col(dateCol)) === baseYear, col("__FV_RAW"))).over(baseW))
    withRaw
      .withColumn("__FV_BAVG", baseAvg)
      .drop("__FV_SEED", "__FV_SEED_DATE", "__FV_BAVG_ST")
  }
}
