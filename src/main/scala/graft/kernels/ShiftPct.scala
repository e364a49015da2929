package graft.kernels

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compile.ColumnCompiler.qcol

/** SHIFT_PCT backward level reconstruction — SURVEY §2.6.
  *
  * `v[t] = v[t+1] / (1 + pct(p[t+1]) / 100)` with v self-referential
  * rebuilds the level series *backwards in time* from an anchor value,
  * using the growth implied by series p. The reference implements it with a
  * DATE-descending `cum_prod` of growth factors and a repair join
  * (`fame2pygen/formulas_generator.py:1358-1418`), batching many (target,
  * pct) pairs into one pass (`fame2py_converter.py:263-273,319-328`) with
  * hard-coded anchor dates — a wart SURVEY §2.6 tells us to fix by taking
  * the range from the caller.
  *
  * Spark realization: since `1 + pct(p)_t/100 = p_t / p_{t-1}`, the product
  * of growth factors over `(t, anchor]` telescopes, but we keep the general
  * running-product form so a raw pct-change series also works:
  * newV_t = anchor / Π_{s ∈ (t, anchor]} f_s, computed as
  * `product_agg(f) over (currentRow+1, unboundedFollowing)` restricted to
  * the anchor range — one window pass for ALL pairs (no per-pair scan), no
  * descending re-sort, no repair join. Rows outside [start, anchor] keep
  * their existing value.
  */
object ShiftPct {

  /** @param pairs  (targetCol, pctSourceCol) — pctSourceCol is the p in
    *               pct(p); anchor value is read from targetCol at `anchor`.
    */
  def backwards(df: DataFrame, dateCol: String,
      pairs: Seq[(String, String)], start: Option[LocalDate],
      anchor: LocalDate, keys: Seq[String] = Nil): DataFrame = {

    val w =
      if (keys.isEmpty) Window.orderBy(dateCol)
      else Window.partitionBy(keys.map(col): _*).orderBy(dateCol)
    val suffix = w.rowsBetween(1, Window.unboundedFollowing)
    val everything = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    val anchorLit = lit(java.sql.Date.valueOf(anchor))
    val startCond = start.map(s => col(dateCol) >= lit(java.sql.Date.valueOf(s)))
      .getOrElse(lit(true))
    val inRange = startCond && col(dateCol) <= anchorLit

    // growth factor f_t = 1 + pct(p)_t / 100 = p_t / p_{t-1}; suffix
    // product via the native ProductAgg
    pairs.foldLeft(df) { case (acc, (tgt, p)) =>
      // qcol: dotted target/pct series names must read literally, not as
      // struct access (same class as the r17 q220 dotted-name find)
      val stepped = acc
        .withColumn("__f",
          when(col(dateCol) <= anchorLit, qcol(p) / lag(qcol(p), 1).over(w)))
        .withColumn("__anchor",
          max(when(col(dateCol) === anchorLit, qcol(tgt))).over(everything))
      val suffixProduct = coalesce(call_function("product_agg",
        when(col("__f") > 0, col("__f"))).over(suffix), lit(1.0))
      stepped
        .withColumn(tgt,
          when(inRange, col("__anchor") / suffixProduct).otherwise(qcol(tgt)))
        .drop("__f", "__anchor")
    }
  }
}
