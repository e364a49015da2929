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
  * Execution shape: an unseeded chain is one [[graft.plans.PerKeySeries]]
  * operator over the frame it extends. The frame is clustered by the keys
  * and sorted by (keys, date), and [[ChainKernel]] folds each key's years
  * in date order, so the index does not depend on the partition count and
  * the plan does not branch. A seeded chain (the incremental streaming
  * executor's carried years) still aggregates per (keys, year) with
  * [[chainYearly]] and joins the index back on the year.
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

  /** Per-(keys, year) chain aggregates — the groupBy stage of
    * [[chainYearly]]. Only the seeded chain uses it: the incremental
    * streaming executor ([[graft.streaming.FameStream.runIncremental]])
    * materializes CLOSED years' rows of this exact table as carried
    * derived state: a year's aggregates are constants once the year
    * closes, and carrying them (1 row per key per year) is what lets
    * the chain recompute its whole link/cumprod/rebase pipeline each
    * batch without carrying O(history) raw rows.
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

  /** Annually chain-linked Fisher volume index over signed
    * (quantity, price=`P<quantity>`) term pairs, as a year table. Only
    * the seeded chain uses it, for the carried state of the incremental
    * streaming executor (`chainSeed`); the unseeded chain runs the same
    * arithmetic in [[ChainKernel]].
    *
    * @param terms   (sign, quantityCol) pairs; price col = "P"+quantityCol
    * @param seed    closed-year aggregate rows ([[yearlyAggs]] schema)
    *                carried by the incremental streaming executor: they
    *                REPLACE this frame's own (possibly partial)
    *                aggregates for those years, so a work frame holding
    *                only the open year's raw rows still links against
    *                the complete history. The link/cumprod/rebase
    *                pipeline always recomputes over the FULL year table
    *                (seed ∪ fresh) — the same window fold over the same
    *                year rows as a whole-history run, so seeding changes
    *                no fp association (fishvol's per-row fold instead
    *                seeds a running product in the incremental
    *                executor; see [[fishvolRaw]]).
    * @return frame `keys :+ __year :+ idxName` (one row per year) to join
    *         back on year.
    */
  def chainYearly(df: DataFrame, dateCol: String, terms: Seq[(Int, String)],
      baseYear: Int, idxName: String, keys: Seq[String] = Nil,
      seed: Option[DataFrame] = None): DataFrame = {

    val fresh = yearlyAggs(df, dateCol, terms, keys)
    val yearly = seed match {
      case Some(st) =>
        // the carried rows are the COMPLETE aggregates for their years
        // (finalized when the year closed); the frame's own rows for
        // those years may be partial (pinned/tail leftovers) — prefer
        // the state
        st.unionByName(fresh.join(
          st.select((keys :+ "__year").map(col): _*),
          keys :+ "__year", "left_anti"))
      case None => fresh
    }

    val w = win(keys, "__year")
    def lagc(name: String) = lag(col(name), 1).over(w)

    def dot(price: Int => Column, qty: Int => Column): Column =
      terms.zipWithIndex.map { case ((s, _), i) =>
        lit(s.toDouble) * price(i) * qty(i)
      }.reduce(_ + _)

    val lasp = dot(i => lagc(s"__p$i"), i => col(s"__q$i")) /
               dot(i => lagc(s"__p$i"), i => lagc(s"__q$i"))
    val paas = dot(i => col(s"__p$i"), i => col(s"__q$i")) /
               dot(i => col(s"__p$i"), i => lagc(s"__q$i"))
    // first-year link (lag null) and degenerate negative products (signed
    // baskets can net below zero) both collapse to a unit link — sqrt(NaN)
    // would otherwise poison the cumulative product
    val lp = lasp * paas
    val fisher = coalesce(sqrt(when(lp > 0, lp)), lit(1.0))

    val linked = yearly
      .withColumn("__f", fisher)
      .withColumn("__raw", cumprod(col("__f"), w))
    // re-reference so base year = 100
    val baseW =
      if (keys.isEmpty) Window.partitionBy()
      else Window.partitionBy(keys.map(col): _*)
    val base = max(when(col("__year") === baseYear, col("__raw"))).over(baseW)
    linked
      .withColumn(idxName, col("__raw") / base * lit(100.0))
      .select((keys.map(col) :+ col("__year") :+ col(idxName)): _*)
  }

  /** The chain index as column `idxName` of `df`. Unseeded, each key's
    * rows feed [[ChainKernel]] through one [[graft.plans.PerKeySeries]]
    * operator. Seeded, [[chainYearly]]'s year table joins back on
    * (keys, year); keyless, that table is |years| rows and is broadcast.
    */
  def chain(df: DataFrame, dateCol: String, terms: Seq[(Int, String)],
      baseYear: Int, idxName: String, keys: Seq[String] = Nil,
      seed: Option[DataFrame] = None): DataFrame = seed match {
    case None =>
      PerKeySeries.append(df, keys, dateCol,
        terms.flatMap { case (_, q) => Seq("P" + q, q) }, idxName,
        ChainKernel(terms.map(_._1.toDouble), baseYear))
    case Some(_) =>
      val yearly = chainYearly(df, dateCol, terms, baseYear, idxName, keys,
        seed)
      val build = if (keys.isEmpty) broadcast(yearly) else yearly
      df.withColumn("__year", year(col(dateCol)))
        .join(build, keys :+ "__year", "left")
        .drop("__year")
  }

  /** [[chainYearly]]'s arithmetic over one key's date-sorted rows
    * `(date, P₀, Q₀, P₁, Q₁, …)`, for [[graft.plans.PerKeySeries]].
    *
    * Each year's average price is the sum of its non-null prices, taken
    * in date order from 0.0, over their count, and its quantity is the
    * sum of its non-null quantities (null when there are none): the
    * values Spark's `avg` and `sum` give over the same rows in the same
    * order. The links then follow chainYearly expression by expression:
    * terms `(s·p)·q` summed left to right, the Laspeyres and Paasche
    * divisions, `coalesce(sqrt(when(lp > 0, lp)), 1.0)`, the running
    * product of [[graft.plans.ProductAgg]] and `raw / base * 100`. Spark's
    * semantics hold where Scala's differ: a null operand gives null, NaN
    * compares above every number, and a zero divisor fails as ANSI
    * division does. Every row of a year gets that year's index.
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
        val pSum = new Array[Double](n); val pCnt = new Array[Long](n)
        val qSum = new Array[Double](n); val qSeen = new Array[Boolean](n)
        while (i < rows.length && yearOf(i) == y) {
          val r = rows(i)
          for (t <- 0 until n) {
            if (!r.isNullAt(1 + 2 * t)) {
              pSum(t) += r.getDouble(1 + 2 * t); pCnt(t) += 1
            }
            if (!r.isNullAt(2 + 2 * t)) {
              qSum(t) += r.getDouble(2 + 2 * t); qSeen(t) = true
            }
          }
          entryOf(i) = years.length
          i += 1
        }
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
