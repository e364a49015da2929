package graft.api

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ast._
import graft.ast.FameExpr._
import graft.ast.FameStmt._
import graft.compile.ColumnCompiler
import graft.compile.ColumnCompiler.Ctx
import graft.kernels.{BusinessCalendar, Convert, Indices, Nlrx, ShiftPct}
import graft.parse.FameParser
import graft.plan.{Bound, Scheduler}

/** The wide time-series frame every FAME operation runs on — SURVEY §1.1:
  * one date column + one numeric column per series, plus any local-database
  * projections produced by `db'series` targets (SURVEY §1.1, F9).
  *
  * `partitionKeys` is this engine's scale extension (SURVEY §4): when set,
  * every ordered window / group in the pipeline partitions by the keys, so
  * one logical FAME program runs over millions of entities in parallel.
  */
final case class SeriesFrame(
    df: DataFrame,
    dateCol: String = "DATE",
    freq: Option[Frequency] = None,
    partitionKeys: Seq[String] = Nil,
    localDbs: Map[String, DataFrame] = Map.empty)

/** Runs a FAME script against a `SeriesFrame` as ONE lazy Catalyst plan
  * (modulo the driver-side scalar extractions the reference also makes,
  * `fame2py_converter.py:497-508`). Lifecycle per SURVEY §3.2:
  * parse → bind state → Kahn levels → per-level `withColumn` batches, with
  * the convert frequency bridge first (`fame2py_converter.py:282-415`) and
  * kernels (chain / fishvol / nlrx / shift-pct) as frame→frame ops.
  */
object FameSession {

  /** Run a FAME script loaded from a `.inp` file (the reference's CLI input
    * format, `fame2py_converter.py:785-796`): same line/comment syntax.
    */
  def runFile(path: String, input: DataFrame, dateCol: String = "DATE",
      partitionKeys: Seq[String] = Nil,
      nlrx: Nlrx = Nlrx.HpSmoother,
      businessCal: BusinessCalendar = BusinessCalendar.WeekdaysOnly): SeriesFrame =
    run(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      input, dateCol, partitionKeys, nlrx, businessCal = businessCal)

  /** @param dateofStub reference-compat: `dateof` two-suffix variants
    *                    compile to the reference's literal stubs
    *                    (`formulas_generator.py:1331-1338`) instead of the
    *                    real window implementation. Default off = real impl.
    * @param businessCal business-day calendar for b-frequency converts
    *                    (SURVEY §2.5); default Mon–Fri matches the
    *                    reference's `is_business_day`.
    * @param isoWeeks    weekly date literals `yyyy.ww` resolve to the
    *                    Monday of ISO-8601 week ww instead of the
    *                    reference's approximate Jan-1 + 7·(w−1)
    *                    arithmetic (`formulas_generator.py:312-380`,
    *                    acknowledged approximate in the reference's own
    *                    `ASSESSMENT_SUMMARY.md:181`). Default off =
    *                    reference parity.
    * @param chainSeed   per-chain-target closed-year aggregate tables
    *                    ([[Indices.yearlyAggs]] schema) carried by the
    *                    incremental streaming executor; a seeded
    *                    `$chain` statement links each key's carried
    *                    years, which replace the frame's own rows of
    *                    those years, and the frame's other years
    *                    ([[Indices.chain]]). Empty (the default) =
    *                    historical behavior for every batch caller.
    * @param fishvolSeed per-fishvol-target carried state for the
    *                    incremental streaming executor
    *                    ([[Indices.fishvolRaw]] seed schema: prefix
    *                    product at the newest emitted row + the closed
    *                    base-year average, one row per key). Empty
    *                    (the default) = whole-history fold.
    */
  def run(script: String, input: DataFrame, dateCol: String = "DATE",
      partitionKeys: Seq[String] = Nil,
      nlrx: Nlrx = Nlrx.HpSmoother,
      dateofStub: Boolean = false,
      businessCal: BusinessCalendar = BusinessCalendar.WeekdaysOnly,
      isoWeeks: Boolean = false,
      chainSeed: Map[String, DataFrame] = Map.empty,
      fishvolSeed: Map[String, DataFrame] = Map.empty): SeriesFrame =
    // date literals become plan literals during this synchronous driver-
    // thread call, so a dynamically-scoped parse mode is sound (nothing
    // re-parses after run returns)
    FameDate.withIsoWeeks(isoWeeks) {
      runImpl(script, input, dateCol, partitionKeys, nlrx, dateofStub,
        businessCal, chainSeed, fishvolSeed)
    }

  private def runImpl(script: String, input: DataFrame, dateCol: String,
      partitionKeys: Seq[String],
      nlrx: Nlrx,
      dateofStub: Boolean,
      businessCal: BusinessCalendar,
      chainSeed: Map[String, DataFrame],
      fishvolSeed: Map[String, DataFrame]): SeriesFrame = {

    // uppercase-normalize input columns (reference normalizes all names,
    // `formulas_generator.py:248-257`) — ONE select, not a rename chain: a
    // foldLeft(withColumnRenamed) builds one nested Project per column and
    // analysis cost grows quadratically on wide (hundreds-of-series) frames
    // qcol: a dotted input column must uppercase-normalize too, not fail
    // analysis as struct access (r18 — same class as the q220 find)
    val df0 = input.select(input.columns.toIndexedSeq
      .map(c => ColumnCompiler.qcol(c).as(c.toUpperCase)): _*)
    val stmts = FameParser.parseScript(script)
    val preExisting = df0.columns.toSet
    val bounds = Scheduler.bind(stmts, preExisting)

    var cur = df0
    var scalars = Map.empty[String, Any]
    var refMap = Map.empty[String, String]
    var localDbCols = Map.empty[String, Seq[String]] // db -> prefixed col names
    var sessionFreq: Option[Frequency] = bounds.flatMap(_.freq).headOption

    // the per-key lookups and scalars read each key's whole series (a
    // null key is one key, as in every per-key window)
    val keyWin = Window.partitionBy(partitionKeys.map(col): _*)
    var lookupCols = Map.empty[(String, java.time.LocalDate), String]
    var lookupSeq = 0
    // per-run names for inline `$chain(...)` columns
    val chainIds = Iterator.from(1)

    def ctx = Ctx(dateCol, partitionKeys, scalars, refMap,
      lookup = (series, date) => {
        val r = cur.where(col(dateCol) === lit(java.sql.Date.valueOf(date)))
          .select(ColumnCompiler.qcol(series)).limit(1).collect()
        if (r.isEmpty || r(0).isNullAt(0)) null else r(0).get(0)
      },
      dateofStub = dateofStub,
      lookupCols = lookupCols)

    /** Under PARTITIONED execution a fixed-date lookup must be each
      * key's OWN value at the date — the unkeyed driver literal is one
      * arbitrary row of the multi-entity frame (frame-dependent). Walk
      * the expression for lookup sites and materialize each distinct
      * (series, date) as a key-constant column: the key's value at the
      * date, `max(when(date === d, series))` over the per-key window, on
      * the frame it extends. The compiler then reads the column instead
      * of inlining a literal (Ctx.lookupCols). Entries
      * invalidate when their series is reassigned — a later lookup of
      * the new definition re-materializes under a fresh name. The
      * `__LKP_` columns are dropped from the final frame.
      */
    def materializeKeyedLookups(e: FameExpr): Unit = {
      if (partitionKeys.isEmpty) return
      def site(series0: String, d: java.time.LocalDate): Unit = {
        val series = refMap.getOrElse(series0, series0)
        if (!lookupCols.contains((series, d)) &&
            cur.columns.contains(series)) {
          lookupSeq += 1
          val name = s"__LKP_$lookupSeq"
          cur = cur.withColumn(name, max(when(
            col(dateCol) === lit(java.sql.Date.valueOf(d)),
            ColumnCompiler.qcol(series))).over(keyWin))
          lookupCols += (series, d) -> name
        }
      }
      def walk(x: FameExpr): Unit = x match {
        case DateLookup(s, d) => site(s, d)
        case DynLookup(s, sc) => scalars.get(sc) match {
          case Some(d: java.time.LocalDate) => site(s, d)
          case _ => () // non-date scalar: the compiler's error fires
        }
        case Bin(_, l, r)   => walk(l); walk(r)
        case Un(_, a)       => walk(a)
        case Cond(c, t, f)  => walk(c); walk(t); walk(f)
        case TimeShift(_, _) | Ref(_) | Num(_) | Str(_) | Missing |
             TimeVar => ()
        case Call(_, args)   => args.foreach(walk)
        case ChainCall(_, _) => () // series-name terms, no nested exprs
      }
      walk(e)
    }

    // a (re)assignment of `target` supersedes any lookup column that
    // captured the OLD definition's values
    def invalidateLookups(target: String): Unit =
      lookupCols = lookupCols.filterNot(_._1._1 == target)

    // ------------------------------------------------- convert bridge phase
    val converts = bounds.collect { case b @ Bound(_, c: ConvertAssign, _, _, _) => (b, c) }
    val rest = bounds.filterNot(_.stmt.isInstanceOf[ConvertAssign])

    // every conversion group is computed from the PRE-bridge frame (the
    // reference's bridge phase likewise reads original columns only,
    // `fame2py_converter.py:282-301`): deriving later groups from the
    // progressively-joined `cur` nests each group's plan inside all prior
    // joins — plan size grows multiplicatively and profiling showed dozens
    // of redundant sort-merge joins for a 3-convert script
    val bridgeBase = cur.withColumn(dateCol, to_date(col(dateCol)))
    // group key mirrors the reference's (freq, technique, observed,
    // start_by) batching (`fame2py_converter.py:291-299`) plus the
    // effective source frequency: the statement's as_freq override when
    // given, else the session frequency at that statement
    converts.groupBy { case (b, c) =>
      (c.freq, c.technique, c.observed, c.startBy, c.asFreq.orElse(b.freq)) }
      .toSeq.sortBy(_._2.head._1.order)
      .foreach { case ((tgtFreq, technique, observed, _, srcFreqOpt), group) =>
        val srcFreq = srcFreqOpt.orElse(sessionFreq).getOrElse(Frequency.Monthly)
        val srcCols = group.map(_._2.source).distinct
        val projected = bridgeBase.select(
          (partitionKeys.map(col) :+ col(dateCol)) ++
            srcCols.map(ColumnCompiler.qcol): _*)
        val converted0 =
          if (Convert.isDown(srcFreq, tgtFreq))
            Convert.down(projected, dateCol, srcCols, srcFreq, tgtFreq, observed,
              partitionKeys)
          else
            Convert.up(projected, dateCol, srcCols, srcFreq, tgtFreq, technique,
              partitionKeys, businessCal)
        // rename to the suffix contract: A → A_QTRLY etc. (SURVEY §2.5)
        val converted = srcCols.foldLeft(converted0)(
          (d, c) => d.withColumnRenamed(c, c + tgtFreq.suffix))
        // full outer join back on DATE (`fame2py_converter.py:409`).
        // KEYED execution hints SHUFFLE_HASH with the converted side as
        // build: the converted frame is the bucket-aggregated grid —
        // 1/span of the fact rows, per-task bounded — and a shuffled
        // HASH join needs no sort on either side, where the default
        // sort-merge join's two sort-heavy exchanges over the fact
        // frame were the measured spill driver on the keyed streaming
        // path (SCALING.md famebucketprobe: 1.22 GB external-sort
        // paging per run at 250k keys on an 8 GiB JVM, partition-count
        // independent). Keyless converts keep the default plan: their
        // converted side is |buckets| rows and AQE's broadcast choice
        // already beats any shuffle.
        val convJoin =
          if (partitionKeys.nonEmpty) converted.hint("SHUFFLE_HASH")
          else converted
        cur = cur
          .withColumn(dateCol, to_date(col(dateCol)))
          .join(convJoin, partitionKeys :+ dateCol, "full")
        group.foreach { case (_, c) =>
          refMap += c.target -> (c.source + tgtFreq.suffix)
        }
      }

    // ------------------------------------------------------ leveled execution
    val levels = Scheduler.levels(rest, preExisting)
    levels.foreach { level =>
      // statements inside a level are mutually independent (scheduler
      // invariant), so all plain assignments fuse into ONE withColumns
      // batch over the pre-level frame — the reference emits the same
      // per-level `with_columns` batches (`fame2py_converter.py:439-469`)
      val (plainAssigns, others) = level.partition {
        _.stmt.isInstanceOf[Assign]
      }
      if (plainAssigns.nonEmpty) {
        val batch = plainAssigns.map { b =>
          val Assign(target, expr0, inlineFilter, localDb) = b.stmt: @unchecked
          val (expr, df2) = materializeInlineChains(expr0, cur, dateCol,
            partitionKeys, chainIds)
          cur = df2
          materializeKeyedLookups(expr)
          val compiled = ColumnCompiler.compile(expr, ctx)
          val filter = inlineFilter.orElse(b.dateFilter)
          localDb.foreach { db =>
            localDbCols += db -> (localDbCols.getOrElse(db, Nil) :+ target)
          }
          target -> applyMask(compiled, target, filter, b.preserveExisting,
            cur, dateCol)
        }
        cur = cur.withColumns(scala.collection.immutable.ListMap(batch: _*))
        // a re-assignment of a convert target supersedes the bridge
        // redirect: later readers must resolve to the fresh column, not
        // the stale converted one (the RHS above still saw the redirect,
        // matching the reference's statement-order semantics)
        refMap --= batch.map(_._1)
        batch.foreach { case (t, _) => invalidateLookups(t) }
      }
      others.foreach { b =>
        b.stmt match {
          case ScalarAssign(name, e) =>
            if (partitionKeys.nonEmpty && staticFold(e, scalars).isEmpty) {
              // PER-KEY scalar (r18): under partitioned execution a
              // series-derived scalar is each key's OWN value — the
              // key's earliest-row extraction, the keyed analog of the
              // unkeyed evalScalar below — materialized as a hidden
              // key-constant column Ref(name) resolves to (refMap).
              // The old behavior read ONE arbitrary frame row, so every
              // entity shared whichever key's value came first (the
              // same frame-global hazard the r16 per-key lookup fix
              // removed for v[date]). Date-valued scalars stay driver
              // constants via staticFold above (make(...) is pure); a
              // per-key DATE scalar used in v[s] is not supported.
              materializeKeyedLookups(e)
              val compiled = ColumnCompiler.compile(e, ctx)
              val tmp = s"__SCL_$name"
              // the RHS goes to a column first: it may hold window
              // functions (ave → a per-key window), which cannot nest in
              // the per-key min_by. A reassignment replaces the stale
              // column in place, after the RHS has read the OLD value.
              cur = cur.withColumn(tmp, compiled)
                .withColumn(tmp, min_by(col(tmp), col(dateCol)).over(keyWin))
              refMap += name -> tmp
              scalars -= name
            } else {
              scalars += name -> evalScalar(e, cur, ctx)
              refMap -= name // keyed->unkeyed reassignment supersedes __SCL_
            }

          case PointInTime(target, date, e) =>
            materializeKeyedLookups(e)
            val v = ColumnCompiler.compile(e, ctx)
            // no otherwise: off the date the value is a null of v's type
            val atDate =
              when(col(dateCol) === lit(java.sql.Date.valueOf(date)), v)
            cur = cur.withColumn(target,
              if (cur.columns.contains(target))
                atDate.otherwise(ColumnCompiler.qcol(target))
              else atDate)

          case ChainAssign(target, terms, baseYear) =>
            cur = Indices.chain(cur, dateCol, terms, baseYear, target,
              partitionKeys, chainSeed.get(target))

          case FishvolAssign(target, vs, ps, baseYear) =>
            cur = Indices.fishvol(cur, dateCol, vs, ps, baseYear, target,
              partitionKeys, fishvolSeed.get(target))

          case NlrxAssign(target, lambdaRef, args) =>
            val lam = lambdaRef match {
              case Num(v) => v
              case Ref(n) => scalars.get(n) match {
                case Some(d: Double) => d
                // `lambda20 = 20` is a bare series assign in the reference
                // corpus, not a `scalar` statement — read its (constant)
                // value from the column
                case _ => evalScalar(FameExpr.Ref(n), cur, ctx) match {
                  case d: Double => d
                  case x => throw new IllegalArgumentException(
                    s"nlrx lambda `$n` is not numeric (got $x)")
                }
              }
              case other => evalScalar(other, cur, ctx) match {
                case d: Double => d
                case x => throw new IllegalArgumentException(s"bad nlrx lambda $x")
              }
            }
            cur = nlrx.grouped(cur, dateCol, target, lam,
              args.map(a => refMap.getOrElse(a, a)), partitionKeys)

          case ShiftPctAssign(target, pctSeries, _) =>
            // anchor range from the active date mask (fixing the reference's
            // hard-coded anchors, SURVEY §2.6); default anchor = last date
            // with a non-null target value.
            val anchor: LocalDate = b.dateFilter.flatMap(_.end).getOrElse {
              val r = cur.where(ColumnCompiler.qcol(target).isNotNull)
                .agg(max(col(dateCol))).collect()(0)
              if (r.isNullAt(0)) throw new IllegalArgumentException(
                s"shift-pct: no anchor value for $target")
              toLocalDate(r.get(0))
            }
            cur = ShiftPct.backwards(cur, dateCol,
              Seq(target -> refMap.getOrElse(pctSeries, pctSeries)),
              b.dateFilter.flatMap(_.start), anchor, partitionKeys)

          case ListAlias(_, _) => // planner-side metadata only (SURVEY §2.1 #17)
          case _ => ()
        }
        // same redirect invalidation for kernel-written targets
        b.stmt match {
          case PointInTime(t, _, _)      => refMap -= t; invalidateLookups(t)
          case ChainAssign(t, _, _)      => refMap -= t; invalidateLookups(t)
          case FishvolAssign(t, _, _, _) => refMap -= t; invalidateLookups(t)
          case NlrxAssign(t, _, _)       => refMap -= t; invalidateLookups(t)
          case ShiftPctAssign(t, _, _)   => refMap -= t; invalidateLookups(t)
          case _                         => ()
        }
      }
    }

    // the per-key lookup/scalar scaffolding is engine-internal — drop it
    cur = cur.drop(cur.columns.filter(c =>
      c.startsWith("__LKP_") || c.startsWith("__SCL_")).toIndexedSeq: _*)

    // --------------------------------------------- local-DB projections (F9)
    val dbs = localDbCols.map { case (db, cols0) =>
      val selects = col(dateCol) +: cols0.map { c =>
        ColumnCompiler.qcol(c).as(c.stripPrefix(db + "_"))
      }
      db -> cur.select(selects: _*)
    }

    SeriesFrame(cur, dateCol, sessionFreq, partitionKeys, dbs)
  }

  private def toLocalDate(v: Any): LocalDate = v match {
    case d: java.sql.Date => d.toLocalDate
    case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
    case d: LocalDate => d
    case other => throw new IllegalArgumentException(s"not a date: $other")
  }

  /** Date-range masking — SURVEY §2.2 / APPLY_DATE_FILTER
    * (`formulas_generator.py:1499-1536`): inside the range the new value,
    * outside either the previous value (`preserve_existing`) or null.
    */
  private def applyMask(value: Column, target: String, filter: Option[DateFilter],
      preserve: Boolean, cur: DataFrame, dateCol: String): Column =
    filter match {
      case None | Some(DateFilter(None, None)) => value
      case Some(DateFilter(lo, hi)) =>
        val conds = Seq(
          lo.map(d => col(dateCol) >= lit(java.sql.Date.valueOf(d))),
          hi.map(d => col(dateCol) <= lit(java.sql.Date.valueOf(d)))
        ).flatten
        val masked = when(conds.reduce(_ && _), value)
        // without preserve (or a previous value) the outside is a null of
        // value's type — `when` with no otherwise types it already
        if (preserve && cur.columns.contains(target))
          masked.otherwise(ColumnCompiler.qcol(target))
        else masked
    }

  /** Evaluate a scalar RHS. Pure-literal expressions fold on the driver with
    * no Spark job; anything touching series data evaluates via the compiled
    * column over the frame (the reference's `.item()` boundary,
    * `fame2py_converter.py:487-508`).
    */
  def evalScalar(e: FameExpr, df: DataFrame, ctx: Ctx): Any =
    staticFold(e, ctx.scalars).getOrElse {
      val c = ColumnCompiler.compile(e, ctx)
      // broadcast-style scalar RHS (ave, firstvalue, …) is constant across
      // rows; for a non-constant RHS the reference's `.item()` would error —
      // we deterministically take the earliest row's value instead of an
      // arbitrary partition's (documented divergence)
      val r = df.select(c.as("__s"), col(ctx.dateCol))
        .orderBy(ctx.dateCol).limit(1).collect()
      if (r.isEmpty || r(0).isNullAt(0)) null
      else r(0).get(0) match {
        case d: java.sql.Date => d.toLocalDate
        case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
        case x => x
      }
    }

  private def staticFold(e: FameExpr, scalars: Map[String, Any]): Option[Any] = e match {
    case Num(v) => Some(v)
    case Str(s) => FameDate.parse(s).map(identity[Any]).orElse(Some(s))
    case Missing => Some(null)
    case Ref(n) => scalars.get(n)
    case Un("-", x) => staticFold(x, scalars).collect { case d: Double => -d }
    case Bin(op, l, r) =>
      for {
        lv <- staticFold(l, scalars).collect { case d: Double => d }
        rv <- staticFold(r, scalars).collect { case d: Double => d }
        v <- op match {
          case "+" => Some(lv + rv); case "-" => Some(lv - rv)
          case "*" => Some(lv * rv)
          // division by zero is NC, as in the compiled `/`
          case "/" => Some(if (rv == 0) null else lv / rv)
          case _ => None
        }
      } yield v
    case Call("make", args) =>
      args.collectFirst { case Str(s) => s }.flatMap(FameDate.parse)
    case _ => None
  }

  /** Pre-materialize inline `$chain(...)` calls as hidden columns so the
    * expression compiler only sees column refs (SURVEY §2.3 `$chain` inline,
    * `formulas_generator.py:562-626`).
    */
  private def materializeInlineChains(e: FameExpr, df: DataFrame,
      dateCol: String, keys: Seq[String],
      chainIds: Iterator[Int]): (FameExpr, DataFrame) = {
    var cur = df
    def go(x: FameExpr): FameExpr = x match {
      case ChainCall(terms, year) =>
        val tmp = s"__CHAIN_${chainIds.next()}"
        cur = Indices.chain(cur, dateCol, terms, year, tmp, keys)
        Ref(tmp)
      case Bin(op, l, r) => Bin(op, go(l), go(r))
      case Un(op, a)     => Un(op, go(a))
      case Call(n, as)   => Call(n, as.map(go))
      case Cond(c, t, el)=> Cond(go(c), go(t), go(el))
      case other => other
    }
    (go(e), cur)
  }
}
