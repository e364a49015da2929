package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import graft.compile.ColumnCompiler.qcol
import graft.plans.{PerKeySeries, SeriesKernel}

/** NLRX — λ-parameterized nonlinear relaxation smoothing — SURVEY §2.8.
  *
  * The reference's surface is `a_t = nlrx(lambda, y, w1, w2, w3, w4, gss,
  * gpr)` returning a new frame with the target column added; the kernel
  * itself is external/closed and its dev mock is the identity
  * (`fame2pygen/polars_econ_mock.py:42-60`,
  * `fame2py_converter.py:510-524`). Exact coefficient semantics are
  * therefore unverifiable — per SURVEY §2.8 we expose a pluggable trait:
  *
  *  - [[Nlrx.Compat]] — mock parity: target := y unchanged.
  *  - [[Nlrx.HpSmoother]] — the documented real kernel: Hodrick–Prescott-
  *    style penalized least squares, min Σ(x−y)² + λ Σ(Δ²x)², i.e. solve
  *    (I + λ DᵀD) x = y with D the second-difference operator — the
  *    standard published λ-relaxation for a single series. The
  *    pentadiagonal system is solved in O(n) with a banded Cholesky.
  *
  * Execution shape: one [[graft.plans.PerKeySeries]] operator over the
  * frame it extends. It clusters the frame by the keys (one partition
  * when there are none), sorts each key's rows by date and solves each
  * key's series in the task that holds it: no driver collect, no
  * broadcast, no join back. Rows without a date take no part and get
  * null. Weight series w1..w4/gss/gpr are accepted for surface parity
  * and currently unused (documented).
  */
trait Nlrx {
  /** `df` plus `target`: nlrx of `args.head` over each key's series, or
    * over the whole frame when `keys` is empty.
    */
  def grouped(df: DataFrame, dateCol: String, target: String, lambda: Double,
      args: Seq[String], keys: Seq[String]): DataFrame
}

object Nlrx {

  /** Mock-parity kernel: target is y itself. */
  object Compat extends Nlrx {
    def grouped(df: DataFrame, dateCol: String, target: String,
        lambda: Double, args: Seq[String], keys: Seq[String]): DataFrame =
      df.withColumn(target, qcol(args.head))
  }

  /** HP-filter penalized-least-squares smoother, (I + λDᵀD)x = y. */
  object HpSmoother extends Nlrx {
    def grouped(df: DataFrame, dateCol: String, target: String,
        lambda: Double, args: Seq[String], keys: Seq[String]): DataFrame =
      PerKeySeries.append(df, keys, dateCol, Seq(args.head), target,
        HpKernel(lambda))

    /** Solve (I + λDᵀD)x = y for the pentadiagonal HP system, O(n) banded
      * Cholesky (bandwidth 2). NaN inputs (nulls) are interpolated out
      * before solving and restored as NaN after.
      */
    def solve(y0: Array[Double], lambda: Double): Array[Double] = {
      val n = y0.length
      if (n < 3) return y0.clone()
      val nanMask = y0.map(_.isNaN)
      val y = y0.clone()
      // fill interior NaNs by nearest-neighbor carry so the solve is stable
      var lastV = Double.NaN
      for (i <- 0 until n) { if (y(i).isNaN) y(i) = lastV else lastV = y(i) }
      lastV = Double.NaN
      for (i <- (n - 1) to 0 by -1) { if (y(i).isNaN) y(i) = lastV else lastV = y(i) }
      if (y.exists(_.isNaN)) return y0.clone() // all-null series

      // A = I + λ DᵀD, symmetric pentadiagonal: build its 3 bands
      val d0 = new Array[Double](n) // diagonal
      val d1 = new Array[Double](n) // super-diagonal A(i, i+1)
      val d2 = new Array[Double](n) // A(i, i+2)
      for (i <- 0 until n) {
        // diagonal of DᵀD: sum over D-rows r of squared coefficient of
        // column i (D row r has coefs 1, -2, 1 at columns r, r+1, r+2)
        var diag = 0.0
        for (r <- math.max(0, i - 2) to math.min(n - 3, i)) {
          val coef = if (i == r) 1.0 else if (i == r + 1) -2.0 else 1.0
          diag += coef * coef
        }
        d0(i) = 1.0 + lambda * diag
        if (i + 1 < n) {
          var v = 0.0
          for (r <- math.max(0, i - 1) to math.min(n - 3, i)) {
            def coef(cIdx: Int) =
              if (cIdx == r) 1.0 else if (cIdx == r + 1) -2.0
              else if (cIdx == r + 2) 1.0 else 0.0
            v += coef(i) * coef(i + 1)
          }
          d1(i) = lambda * v
        }
        if (i + 2 < n) {
          var v = 0.0
          for (r <- math.max(0, i) to math.min(n - 3, i)) {
            def coef(cIdx: Int) =
              if (cIdx == r) 1.0 else if (cIdx == r + 1) -2.0
              else if (cIdx == r + 2) 1.0 else 0.0
            v += coef(i) * coef(i + 2)
          }
          d2(i) = lambda * v
        }
      }
      // banded Cholesky A = L Lᵀ with L lower-banded (bandwidth 2)
      val l0 = new Array[Double](n); val l1 = new Array[Double](n)
      val l2 = new Array[Double](n)
      for (i <- 0 until n) {
        var s = d0(i)
        if (i >= 1) s -= l1(i - 1) * l1(i - 1)
        if (i >= 2) s -= l2(i - 2) * l2(i - 2)
        l0(i) = math.sqrt(s)
        if (i + 1 < n) {
          var t = d1(i)
          if (i >= 1) t -= l1(i - 1) * l2(i - 1)
          l1(i) = t / l0(i)
        }
        if (i + 2 < n) l2(i) = d2(i) / l0(i)
      }
      // forward solve L z = y
      val z = new Array[Double](n)
      for (i <- 0 until n) {
        var s = y(i)
        if (i >= 1) s -= l1(i - 1) * z(i - 1)
        if (i >= 2) s -= l2(i - 2) * z(i - 2)
        z(i) = s / l0(i)
      }
      // back solve Lᵀ x = z
      val x = new Array[Double](n)
      for (i <- (n - 1) to 0 by -1) {
        var s = z(i)
        if (i + 1 < n) s -= l1(i) * x(i + 1)
        if (i + 2 < n) s -= l2(i) * x(i + 2)
        x(i) = s / l0(i)
      }
      for (i <- 0 until n) if (nanMask(i)) x(i) = Double.NaN
      x
    }
  }

  /** [[HpSmoother.solve]] over one key's date-sorted rows `(date, y)`,
    * for [[graft.plans.PerKeySeries]]: a null y enters the solve as NaN
    * and a NaN result leaves it as null.
    */
  final case class HpKernel(lambda: Double) extends SeriesKernel {
    def apply(rows: IndexedSeq[InternalRow]): Array[Option[Double]] =
      HpSmoother.solve(
        rows.map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1)).toArray,
        lambda).map(x => if (x.isNaN) None else Some(x))
  }
}
