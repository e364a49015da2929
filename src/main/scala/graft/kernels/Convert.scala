package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compile.ColumnCompiler.qcol
import graft.ast.Frequency

/** Frequency conversion (FAME `convert`) — SURVEY §2.5.
  *
  * Reference argument model: `convert(series, target_freq, technique,
  * observed[, as_freq[, start_by]])` (`fame2pygen/formulas_generator.py:
  * 154-218`); execution contract: one conversion batch per (freq, technique,
  * observed) group, result column renamed `<SRC><suffix>`, full-outer-joined
  * back on DATE (`fame2pygen/fame2py_converter.py:282-415`).
  *
  * Spark realization:
  *  - **Downsample** = `groupBy(date_trunc(unit, DATE))` + one aggregate per
  *    source column chosen by `observed` — a single shuffle for the whole
  *    group, map-side partial aggregation free from Catalyst.
  *  - **Upsample** = build the target calendar once per group
  *    (`sequence` + `explode` — parallelized by Spark, no driver loop), left
  *    join the sources, then per `technique`: constant/discrete = forward
  *    fill (`last(ignoreNulls)` running window); linear = interpolation
  *    between bracketing non-null observations using date fractions; cubic
  *    falls back to linear (documented divergence).
  *  - Business frequency = daily filtered through a pluggable
  *    [[BusinessCalendar]] (default Mon–Fri, matching the reference's
  *    `is_business_day`, `fame2py_converter.py:401-402`; supply
  *    [[BusinessCalendar.WithHolidays]] for exchange/national holidays).
  *
  * Scale: group-by keys are (partitionKeys, truncated date) so the shuffle
  * spreads across entities; the upsample windows are per partition key. With
  * no keys the ordered fill is a single task — acceptable for the
  * reference-sized series frames, parallel when callers pass keys.
  */
object Convert {

  /** date_trunc unit for a target frequency (weekly handled separately). */
  private def truncUnit(f: Frequency): String = f match {
    case Frequency.Monthly   => "month"
    case Frequency.Quarterly => "quarter"
    case Frequency.Annual    => "year"
    case Frequency.Weekly(_) => "week"
    case _                   => "day"
  }

  /** Period-start expression for grouping at the target frequency. */
  def periodStart(dateCol: Column, f: Frequency): Column = f match {
    case Frequency.Weekly(anchor) =>
      // date_trunc('week') is Monday-based; shift so the week starts on the
      // anchor weekday when one was given (e.g. `w(wed)`).
      val shift = anchor.map(a => a - 1).getOrElse(0)
      date_add(to_date(date_trunc("week", date_sub(dateCol, shift))), shift)
    case other => to_date(date_trunc(truncUnit(other), dateCol))
  }

  /** Observations of frequency `f` in one year — the ANNUALIZED restatement
    * factor. Business = 261 (52 Mon–Fri weeks + 1 weekday), the convention
    * FAME's business calendar uses for annual-rate restatement.
    */
  def periodsPerYear(f: Frequency): Double = f match {
    case Frequency.Annual    => 1.0
    case Frequency.Quarterly => 4.0
    case Frequency.Monthly   => 12.0
    case Frequency.Weekly(_) => 52.0
    case Frequency.Daily     => 365.0
    case Frequency.Business  => 261.0
  }

  /** The `observed` statistic for downsampling
    * (`fame2pygen/formulas_generator.py:104-115`).
    *
    * `annualized` follows the published FAME meaning (User's Guide,
    * OBSERVED attribute): source observations are ALREADY expressed at
    * an annual rate, so the lower-frequency value de-annualizes each
    * observation by the SOURCE periods-per-year, sums over the target
    * period, and re-annualizes by the TARGET periods-per-year —
    * `sum(c) / srcPpy * targetPpy` (evaluated in exactly that order so
    * the DuckDB oracle replays it bit-for-bit). For complete periods
    * this equals the period average (monthly→quarterly: sum/12*4 =
    * sum/3); for partial head/tail periods it correctly pro-rates
    * instead. Both ppy arguments are required — a defaulted 1.0 would
    * silently turn `annualized` into plain `sum`. The reference passes
    * `annualized` unchecked to its closed kernel, so this implements
    * the published semantics rather than an alias. `formula` (also
    * closed in the reference) takes the period average (documented
    * choice).
    */
  def observedAgg(c: Column, dateCol: Column, observed: String,
      srcPpy: Double, targetPpy: Double): Column =
    observed match {
      case "average" | "averaged" | "formula" => avg(c)
      case "annualized"             => sum(c) / lit(srcPpy) * lit(targetPpy)
      case "sum" | "summed"         => sum(c)
      case "first" | "beginning"    => min_by(c, when(c.isNotNull, dateCol))
      case "last" | "end" | "ending"=> max_by(c, when(c.isNotNull, dateCol))
      case "high"                   => max(c)
      case "low"                    => min(c)
      // the reference passes unrecognized observed values to its closed
      // kernel unchecked; we default to the period average (documented)
      case _                        => avg(c)
    }

  /** Downsample `cols` of `df` from `src` to `target` frequency.
    * Returns `keys :+ dateCol :+ cols` with DATE = period start.
    * `src` feeds the annualized de-annualization factor only.
    */
  def down(df: DataFrame, dateCol: String, cols: Seq[String],
      src: Frequency, target: Frequency, observed: String,
      keys: Seq[String] = Nil): DataFrame = {
    val grouped = df.groupBy(
      (keys.map(col) :+ periodStart(col(dateCol), target).as(dateCol)): _*)
    val srcPpy = periodsPerYear(src)
    val tgtPpy = periodsPerYear(target)
    grouped.agg(
      observedAgg(qcol(cols.head), col(dateCol), observed, srcPpy, tgtPpy).as(cols.head),
      cols.tail.map(c =>
        observedAgg(qcol(c), col(dateCol), observed, srcPpy, tgtPpy).as(c)): _*)
  }

  /** Fine-calendar step for a target frequency. */
  private def stepInterval(f: Frequency): Column = f match {
    case Frequency.Daily | Frequency.Business => expr("interval 1 day")
    case Frequency.Weekly(_)  => expr("interval 7 days")
    case Frequency.Monthly    => expr("interval 1 month")
    case Frequency.Quarterly  => expr("interval 3 months")
    case Frequency.Annual     => expr("interval 1 year")
  }

  /** Last day of the period containing `d` at frequency `f` (so the
    * upsampled calendar covers the final source period completely). */
  private def periodEnd(d: Column, f: Frequency): Column = f match {
    case Frequency.Monthly   => last_day(d)
    case Frequency.Quarterly => last_day(add_months(to_date(date_trunc("quarter", d)), 2))
    case Frequency.Annual    => last_day(add_months(to_date(date_trunc("year", d)), 11))
    case Frequency.Weekly(_) => date_add(to_date(date_trunc("week", d)), 6)
    case _                   => to_date(d)
  }

  /** Upsample `cols` from `sourceFreq` to finer `target` frequency.
    *
    * technique ∈ {constant, discrete, linear, cubic}
    * (`formulas_generator.py:96-101`); constant/discrete = step function,
    * linear = straight line between adjacent observations (null outside the
    * first/last observation), cubic → linear fallback.
    */
  def up(df: DataFrame, dateCol: String, cols: Seq[String],
      sourceFreq: Frequency, target: Frequency, technique: String,
      keys: Seq[String] = Nil,
      businessCal: BusinessCalendar = BusinessCalendar.WeekdaysOnly): DataFrame = {
    // one calendar per (partition key) group, built distributed
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(col(dateCol)).as("__lo"), max(col(dateCol)).as("__hi"))
    // a weekly target grid lands on the anchor weekday (`w(wed)` /
    // `start_by` — SURVEY §2.5): first grid day = first anchor day ≥ lo
    val seqStart: Column = target match {
      case wk: Frequency.Weekly =>
        val ps = periodStart(col("__lo"), wk)
        when(ps < to_date(col("__lo")), date_add(ps, 7)).otherwise(ps)
      case _ => to_date(col("__lo"))
    }
    val calendar = bounds
      .withColumn("__hi", periodEnd(col("__hi"), sourceFreq))
      .select((keys.map(col) :+
        explode(sequence(seqStart, col("__hi"), stepInterval(target)))
          .as(dateCol)): _*)
    val calendarF = target match {
      case Frequency.Business =>
        calendar.where(businessCal.isBusinessDay(col(dateCol)))
      case _ => calendar
    }

    val src = df.select((keys.map(col) :+ to_date(col(dateCol)).as(dateCol)) ++
      cols.map(qcol): _*)
    // FULL join so source observations that fall between grid points (e.g.
    // quarter starts under a Friday-anchored weekly grid) still feed the
    // fill/interpolation windows; only grid rows survive into the result
    val joined = calendarF.withColumn("__cal", lit(true))
      .join(src, keys :+ dateCol, "full")
    def onGrid(d: DataFrame): DataFrame = d.where(col("__cal")).drop("__cal")

    val w =
      if (keys.isEmpty) Window.orderBy(dateCol)
      else Window.partitionBy(keys.map(col): _*).orderBy(dateCol)
    val back = w.rowsBetween(Window.unboundedPreceding, 0)
    val fwd  = w.rowsBetween(0, Window.unboundedFollowing)

    val filled = technique match {
      case "constant" | "discrete" =>
        cols.foldLeft(joined) { (acc, c) =>
          acc.withColumn(c, last(qcol(c), ignoreNulls = true).over(back))
        }
      case "linear" =>
        cols.foldLeft(joined) { (acc, c) =>
          val obsDate = when(qcol(c).isNotNull, col(dateCol))
          val pv = last(qcol(c), ignoreNulls = true).over(back)
          val pd = max(obsDate).over(back)
          val nv = first(qcol(c), ignoreNulls = true).over(fwd)
          val nd = min(obsDate).over(fwd)
          val frac = datediff(col(dateCol), pd).cast("double") /
            datediff(nd, pd).cast("double")
          val interp = when(pd === nd, pv)
            .otherwise(pv + (nv - pv) * frac)
          acc.withColumn(c, interp)
        }
      case "cubic" =>
        // Catmull-Rom-style cubic Hermite between bracketing observations:
        // per-observation slopes are the centered secants (one-sided at the
        // edges) — local and distributed, no global spline solve. ALL
        // columns' slopes are computed in one windowed pass over the
        // observation frame and joined back ONCE per convert group (a
        // per-column join would add k-1 redundant shuffles for a k-column
        // group). Prev/next-non-null windows over the shared frame are
        // exactly the old per-column lag/lead over that column's non-null
        // rows, without needing a per-column filter.
        val srcW =
          if (keys.isEmpty) Window.orderBy(dateCol)
          else Window.partitionBy(keys.map(col): _*).orderBy(dateCol)
        val prevW = srcW.rowsBetween(Window.unboundedPreceding, -1)
        val nextW = srcW.rowsBetween(1, Window.unboundedFollowing)
        val slopeCols = cols.map { c =>
          val obsDate = when(qcol(c).isNotNull, col(dateCol))
          val pvv = last(qcol(c), ignoreNulls = true).over(prevW)
          val pdd = max(obsDate).over(prevW)
          val nvv = first(qcol(c), ignoreNulls = true).over(nextW)
          val ndd = min(obsDate).over(nextW)
          val centered = (nvv - pvv) / datediff(ndd, pdd).cast("double")
          val fwdSlope = (nvv - qcol(c)) / datediff(ndd, col(dateCol)).cast("double")
          val bwdSlope = (qcol(c) - pvv) / datediff(col(dateCol), pdd).cast("double")
          when(qcol(c).isNotNull,
            coalesce(centered, fwdSlope, bwdSlope)).as(s"__m_$c")
        }
        val slopes = src.select(
          (keys.map(col) :+ col(dateCol)) ++ slopeCols: _*)
        val joinedS = joined.join(slopes, keys :+ dateCol, "left")
        cols.foldLeft(joinedS) { (acc, c) =>
          val obsDate = when(qcol(c).isNotNull, col(dateCol))
          val pv = last(qcol(c), ignoreNulls = true).over(back)
          val pd = max(obsDate).over(back)
          val m0 = last(qcol(s"__m_$c"), ignoreNulls = true).over(back)
          val nv = first(qcol(c), ignoreNulls = true).over(fwd)
          val nd = min(obsDate).over(fwd)
          val m1 = first(qcol(s"__m_$c"), ignoreNulls = true).over(fwd)
          val h = datediff(nd, pd).cast("double")
          val t = datediff(col(dateCol), pd).cast("double") / h
          val t2 = t * t
          val t3 = t2 * t
          val hermite =
            (lit(2.0) * t3 - lit(3.0) * t2 + lit(1.0)) * pv +
              (t3 - lit(2.0) * t2 + t) * h * m0 +
              (lit(-2.0) * t3 + lit(3.0) * t2) * nv +
              (t3 - t2) * h * m1
          // fall back to linear when a slope is unavailable (single obs)
          val linear = pv + (nv - pv) * t
          acc.withColumn(c,
            when(pd === nd, pv).otherwise(coalesce(hermite, linear)))
        }.drop(cols.map(c => s"__m_$c"): _*)
      case _ =>
        // unrecognized technique (the reference is equally lax): step fill
        cols.foldLeft(joined) { (acc, c) =>
          acc.withColumn(c, last(qcol(c), ignoreNulls = true).over(back))
        }
    }
    onGrid(filled)
  }

  /** Whether src→target is a downsample (coarser target). */
  def isDown(src: Frequency, target: Frequency): Boolean =
    Frequency.rank(target) > Frequency.rank(src)
}
