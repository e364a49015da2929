package graft.compile

import java.time.LocalDate

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.ast._
import graft.ast.FameExpr._

/** Compiles `FameExpr` trees to Spark `Column`s.
  *
  * Design: **offset pushdown**. Every subexpression is compiled "as of
  * t+offset"; a `v[t+k]` shifts the offset at the leaf, and offset-sensitive
  * functions (`pct`, `diff`) expand into arithmetic over leaves at several
  * offsets. The result is that any expression — however deeply it nests
  * shifts inside `pct`/`diff`/conditionals — compiles to a flat projection
  * of `lead`/`lag` window calls over base columns, never a nested window
  * function (which Spark rejects). The reference gets the same effect by
  * textual `shift()` substitution (`fame2pygen/formulas_generator.py:550-553`).
  *
  * Scale: all ordered windows go through [[Ctx.win]] =
  * `Window.partitionBy(partitionKeys).orderBy(dateCol)`. With empty keys this
  * is a single-task global window — correct for reference-sized econometric
  * frames; for wide cluster runs callers supply entity keys and every
  * operator parallelizes per key (SURVEY §4 "global-order hazard").
  */
object ColumnCompiler {

  final case class CompileError(msg: String) extends RuntimeException(msg)

  /** @param lookup     driver-side point lookup: (series, date) → value,
    *                    for `v["2020-01-01"]` / `v[scalar]` (the reference
    *                    collects the same way,
    *                    `fame2py_converter.py:497-503`).
    * @param dateofStub reference-compat mode for `dateof` suffix variants:
    *                    emit the reference's literal stubs instead of the
    *                    real window implementation (SURVEY §7 compat flag).
    * @param lookupCols per-key lookup columns materialized by
    *                    [[graft.api.FameSession]] under PARTITIONED
    *                    execution: (resolved series, date) → the name of
    *                    a key-constant column carrying that key's own
    *                    value at the date. A lookup site with an entry
    *                    compiles to `col(name)` — offset-invariant like
    *                    the driver literal, and per-key correct where
    *                    the frame-global `limit(1)` literal was
    *                    frame-dependent. Empty under unkeyed execution.
    */
  final case class Ctx(
      dateCol: String = "DATE",
      partitionKeys: Seq[String] = Nil,
      scalars: Map[String, Any] = Map.empty,
      refMap: Map[String, String] = Map.empty,
      lookup: (String, LocalDate) => Any = (_, _) => null,
      dateofStub: Boolean = false,
      lookupCols: Map[(String, LocalDate), String] = Map.empty) {

    def win: WindowSpec =
      if (partitionKeys.isEmpty) Window.orderBy(dateCol)
      else Window.partitionBy(partitionKeys.map(col): _*).orderBy(dateCol)

    def unboundedWin: WindowSpec =
      win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    def resolve(name: String): String = refMap.getOrElse(name, name)
  }

  def compile(e: FameExpr, ctx: Ctx): Column = at(e, 0, ctx)

  /** Column reference by LITERAL name: FAME series names keep their
    * dots (`v.dot` → column "V.DOT", FameParser.colName), but a bare
    * `col("V.DOT")` parses as struct-field access V.DOT and fails
    * analysis — so dotted names must be backtick-quoted at every read
    * site (found by the r17 adversarial corpus: dotted series could be
    * ASSIGNED but never read back).
    */
  def qcol(name: String): Column =
    if (name.contains(".")) col("`" + name + "`") else col(name)

  /** Shift a leaf column by `o` periods (positive = forward in time). */
  private def sh(c: Column, o: Int, ctx: Ctx): Column =
    if (o == 0) c
    else if (o > 0) lead(c, o).over(ctx.win)
    else lag(c, -o).over(ctx.win)

  private def scalarLit(v: Any): Column = v match {
    case null            => lit(null).cast(DoubleType)
    case d: LocalDate    => lit(java.sql.Date.valueOf(d))
    case x               => lit(x)
  }

  private def at(e: FameExpr, o: Int, ctx: Ctx): Column = e match {
    case Num(v)   => lit(v)
    case Str(s)   =>
      // bare strings in numeric position are date literals in FAME scripts
      FameDate.parse(s).map(d => lit(java.sql.Date.valueOf(d))).getOrElse(lit(s))
    case Missing  => lit(null).cast(DoubleType)
    case TimeVar  => sh(col(ctx.dateCol), o, ctx)
    case Ref(n) if ctx.scalars.contains(n) => scalarLit(ctx.scalars(n))
    case Ref(n)   =>
      val r = ctx.resolve(n)
      // A per-key scalar materializes as a key-constant __SCL_ column;
      // it is shift-invariant by construction (like the unkeyed literal),
      // so ignore any surrounding time shift instead of lag()-ing nulls
      // into each key's boundary rows.
      sh(qcol(r), if (r.startsWith("__SCL_")) 0 else o, ctx)
    case TimeShift(s, k) =>
      val r = ctx.resolve(s)
      sh(qcol(r), if (r.startsWith("__SCL_")) 0 else o + k, ctx)

    case DateLookup(s, d) =>
      ctx.lookupCols.get((ctx.resolve(s), d))
        .map(col).getOrElse(scalarLit(ctx.lookup(ctx.resolve(s), d)))
    case DynLookup(s, scalarName) =>
      ctx.scalars.get(scalarName) match {
        case Some(d: LocalDate) =>
          ctx.lookupCols.get((ctx.resolve(s), d))
            .map(col).getOrElse(scalarLit(ctx.lookup(ctx.resolve(s), d)))
        case Some(other) => throw CompileError(
          s"scalar $scalarName is not a date (got $other) in $s[$scalarName]")
        case None if ctx.refMap.get(scalarName)
            .exists(_.startsWith("__SCL_")) => throw CompileError(
          s"scalar $scalarName is PER-KEY under partitioned execution " +
            s"and cannot be a date subscript in $s[$scalarName] (a keyed " +
            "lookup would need a different date per key)")
        case None => throw CompileError(s"unknown scalar `$scalarName`")
      }

    case Bin(op, l, r) =>
      val (cl, cr) = (at(l, o, ctx), at(r, o, ctx))
      op match {
        case "+"  => cl + cr
        case "-"  => cl - cr
        case "*"  => cl * cr
        // FAME division by zero is NC (missing): try_divide is null on a
        // zero divisor where ANSI `/` fails the job, and stays strict
        case "/"  => try_divide(cl, cr)
        case "eq" => cl === cr
        case "ne" => cl =!= cr
        case "gt" => cl > cr
        case "lt" => cl < cr
        case "ge" => cl >= cr
        case "le" => cl <= cr
        case "and" => cl && cr
        case "or"  => cl || cr
        case other => throw CompileError(s"unknown op $other")
      }
    case Un("-", x)   => -at(x, o, ctx)
    case Un("not", x) => !at(x, o, ctx)
    case Un(op, _)    => throw CompileError(s"unknown unary $op")

    case Cond(c, t, els) =>
      when(at(c, o, ctx), at(t, o, ctx)).otherwise(at(els, o, ctx))

    case Call(name, args) => callAt(name, args, o, ctx)

    case ChainCall(_, _) => throw CompileError(
      "inline $chain must be materialized by the session before compile")
  }

  private def callAt(name: String, args: Seq[FameExpr], o: Int, ctx: Ctx): Column =
    name match {
      // pct(x[,k]) = ((x - x[t-k]) / x[t-k]) * 100
      // (`fame2pygen/formulas_generator.py:869-875`)
      case "pct" =>
        val k = args.lift(1).collect { case Num(v) => v.toInt }.getOrElse(1)
        val cur = at(args.head, o, ctx)
        val prev = at(args.head, o - k, ctx)
        try_divide(cur - prev, prev) * lit(100.0)
      case "diff" =>
        val k = args.lift(1).collect { case Num(v) => v.toInt }.getOrElse(1)
        at(args.head, o, ctx) - at(args.head, o - k, ctx)
      case "sqrt" => sqrt(at(args.head, o, ctx))
      case "abs"  => abs(at(args.head, o, ctx))
      case "log"  => log(at(args.head, o, ctx))
      case "exp"  => exp(at(args.head, o, ctx))
      // min/max are declared-but-unimplemented in the reference
      // (`formulas_generator.py:23`); we close the surface as elementwise
      // least/greatest (SURVEY §2.3).
      case "min"  => least(args.map(at(_, o, ctx)): _*)
      case "max"  => greatest(args.map(at(_, o, ctx)): _*)
      // lsum: null-as-zero sum (`formulas_generator.py:1299-1307`)
      case "lsum" =>
        args.map(a => coalesce(at(a, o, ctx), lit(0.0))).reduce(_ + _)
      case "exists" => at(args.head, o, ctx).isNotNull
      // first/last non-null of the whole series, broadcast to every row
      // (`formulas_generator.py:1314-1322`); offset-invariant.
      case "firstvalue" =>
        first(at(args.head, 0, ctx), ignoreNulls = true).over(ctx.unboundedWin)
      case "lastvalue" =>
        last(at(args.head, 0, ctx), ignoreNulls = true).over(ctx.unboundedWin)
      // ave(x): whole-series mean, broadcast (`formulas_generator.py:881`)
      case "ave" =>
        avg(at(args.head, 0, ctx)).over(ctx.unboundedWin)
      case "dateof" => dateof(args, o, ctx)
      // make(date(freq), "10aug2020") → a plan-time date literal
      // (`formulas_generator.py:848-861`)
      case "make" =>
        args.collectFirst { case Str(s) => s }
          .flatMap(FameDate.parse)
          .map(d => lit(java.sql.Date.valueOf(d)))
          .getOrElse(throw CompileError(s"make(): no parseable date in $args"))
      case other => throw CompileError(s"unknown function `$other`")
    }

  /** `dateof(series, *, CONTAIN|BEFORE[, END|ENDING…])` — implemented for
    * real (the reference stubs it, `formulas_generator.py:1324-1338`;
    * SURVEY §2.3): the date of the last/first non-null observation of the
    * series; BEFORE restricts to observations at-or-before the current row.
    */
  private def dateof(args: Seq[FameExpr], o: Int, ctx: Ctx): Column = {
    if (o != 0) throw CompileError("dateof under a time shift is unsupported")
    // dateof over a series-free expression (e.g. dateof(make(date(b),
    // "10aug2020"), *, contain, end)) is the expression itself — matches
    // the reference's DATEOF_GENERIC stub returning its first arg
    // (`formulas_generator.py:1324-1329`) and the sensible semantics.
    if (FameExpr.refs(args.head).isEmpty) return at(args.head, 0, ctx)
    val series = at(args.head, 0, ctx)
    val mods = args.tail.collect {
      case Str(s) => s.toUpperCase
      case Ref(s) => s.toUpperCase
    }.toSet
    // compat flag: reproduce the reference's literal stubs for the
    // two-suffix variants (`formulas_generator.py:1331-1338`): BEFORE+ENDING
    // and CONTAIN+END are date(9999,12,31); other suffix pairs are null
    if (ctx.dateofStub && (mods - "*").size >= 2) {
      return if ((mods.contains("BEFORE") && mods.contains("ENDING")) ||
                 (mods.contains("CONTAIN") && mods.contains("END")))
        lit(java.sql.Date.valueOf(LocalDate.of(9999, 12, 31)))
      else lit(null).cast(org.apache.spark.sql.types.DateType)
    }
    val obsDate = when(series.isNotNull, col(ctx.dateCol))
    val wantFirst = mods.exists(m => m.startsWith("BEGIN") || m == "START" || m == "STARTING")
    val before = mods.contains("BEFORE")
    val frame =
      if (before) ctx.win.rowsBetween(Window.unboundedPreceding, 0)
      else ctx.unboundedWin
    if (wantFirst) min(obsDate).over(frame) else max(obsDate).over(frame)
  }
}
