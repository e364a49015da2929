package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.FameSession
import graft.ast.{DateFilter, FameExpr, FameStmt, Frequency}
import graft.kernels.{BusinessCalendar, Nlrx}
import graft.parse.FameParser

/** Micro-batched FAME ingest: the streaming twin of
  * [[graft.api.FameSession.run]], closing the batch/streaming asymmetry
  * the reference's `fame_script_master.inp` CLI leaves open (reference
  * runs scripts only as one-shot batch jobs,
  * `fame2py_converter.py:785-796`).
  *
  * FAME semantics are whole-series — backward recursions (SHIFT_PCT),
  * frequency converts, and `pct`/lag chains read arbitrarily far back in
  * history — so a FAME program cannot be evaluated incrementally over
  * only the arriving rows. The honest streaming form is
  * snapshot-recompute inside `foreachBatch`, the standard lakehouse
  * bronze→gold loop:
  *
  *  1. each micro-batch APPENDS to a standing bronze table
  *     (`bronzeDir/batch=<id>` — batch-id-keyed subdir written with
  *     overwrite, so a replayed batch after checkpoint recovery
  *     overwrites its own output instead of double-appending:
  *     idempotent exactly-once bronze);
  *  2. the full accumulated frame re-runs the script (one Catalyst
  *     plan, exactly the batch path — zero forked semantics);
  *  3. the result lands as an overwritten gold snapshot at `resultDir`.
  *
  * Scale shape: the recompute cost is O(history) per batch — the right
  * trade for LOW-frequency series frames (the FAME domain: decades of
  * monthly observations are thousands of rows per entity, and
  * `partitionKeys` parallelizes entities). It is NOT the shape for
  * high-rate event streams; those use the incremental
  * [[StreamOps]]/[[graft.ops.EventOps]] operators. Readers of the gold
  * snapshot see atomic versions per Spark's parquet overwrite commit
  * protocol.
  */
object FameStream {

  /** Small daemon pool for the per-batch independent writes (emit,
    * carry, bronze, kernel states) — see the `parallel` helper in
    * [[runIncremental]]. 4 threads: more writes in flight would only
    * fight for executor slots; a batch's further writes queue.
    */
  private lazy val batchWritePool =
    java.util.concurrent.Executors.newFixedThreadPool(4,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"fame-batch-write-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })

  /** Execution mode for [[run]]: `Auto` (default) routes a script
    * whose [[incrementalPlan]] emits every row on arrival
    * ([[IncrementalPlan.emitsOnArrival]]) to the O(batch) incremental
    * evaluator and everything else to the O(history) snapshot
    * recompute; `Snapshot` forces the recompute. Force `Snapshot` when
    * ingest is NOT nondecreasing-date-ordered per key — the incremental
    * path's contract (late rows need the recompute form to revise
    * already-emitted output).
    *
    * A plan that WITHHOLDS rows — leads, bucketed converts, chain,
    * fishvol or shift_pct hold-back — emits a different row set per
    * batch than the snapshot (which emits every row at once, with null
    * leads and unfinished buckets), so `Auto` keeps those on the
    * snapshot path; call [[runIncremental]] directly to opt in. Pins
    * change the carry, not the output, so pin-bearing plans do route
    * incrementally.
    */
  sealed trait Mode
  case object Auto     extends Mode
  case object Snapshot extends Mode

  /** Thrown (inside the stream; surfaces as the cause of the query's
    * StreamingQueryException) when a micro-batch on the incremental
    * path violates the nondecreasing-date-per-key ingest contract: a
    * row older than the carried tail's newest row for its key can
    * neither see the history it lags against nor revise the
    * already-emitted rows that should have lagged against IT. Re-run
    * with `mode = Snapshot` (O(history) recompute) for late data.
    */
  final class OutOfOrderIngestException(msg: String)
      extends IllegalStateException(msg)

  /** Start the micro-batched loop; returns the running query (caller
    * stops it). `stream` must carry the same columns a batch
    * [[FameSession.run]] input would (dateCol + series columns).
    *
    * The single user-facing entry: `mode = Auto` runs a script whose
    * plan emits on arrival through [[runIncremental]] and falls back to
    * the snapshot recompute below otherwise — so callers need not know
    * which evaluator fits their script.
    * NOTE the result layouts differ: incremental appends
    * `resultDir/batch=<id>` subdirs (plus a synthetic `batch` partition
    * column on read), snapshot overwrites a flat gold snapshot; both
    * read back with `spark.read.parquet(resultDir)`.
    */
  def run(stream: DataFrame, script: String, bronzeDir: String,
      resultDir: String, dateCol: String = "DATE",
      partitionKeys: Seq[String] = Nil,
      nlrx: Nlrx = Nlrx.HpSmoother,
      businessCal: BusinessCalendar = BusinessCalendar.WeekdaysOnly,
      checkpointDir: Option[String] = None,
      mode: Mode = Auto): StreamingQuery = {
    if (mode == Auto && incrementalPlan(script, Some(stream.columns.toSet))
        .exists(_.emitsOnArrival))
      return runIncremental(stream, script, bronzeDir, resultDir, dateCol,
        partitionKeys, nlrx, businessCal, checkpointDir)
    val spark = stream.sparkSession
    val cols = stream.columns.toIndexedSeq
    var w = stream.writeStream.outputMode("append")
    checkpointDir.foreach(c => w = w.option("checkpointLocation", c))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.write.mode("overwrite").parquet(s"$bronzeDir/batch=$batchId")
      // partition discovery adds the synthetic `batch` column; project
      // back to the input columns before handing FAME the frame
      val full = spark.read.parquet(bronzeDir)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
      val out = FameSession.run(script, full, dateCol, partitionKeys,
        nlrx, businessCal = businessCal).df
      out.write.mode("overwrite").parquet(resultDir)
      ()
    }.start()
  }

  /** One permanently-carried window of input rows: every row whose
    * date falls in [start, end], PLUS — when the read series is
    * DERIVED with nonzero recorded reach — the `prec` physical rows
    * immediately preceding the window's first row and the `foll`
    * physical rows immediately following its last row, per key.
    *
    * prec/foll are ROW counts, not periods, because the engine
    * evaluates lags/leads as physical row offsets over the key's
    * ordered frame (ColumnCompiler `lag(col, k)`): with per-key date
    * gaps the physical predecessor a pinned value depends on can sit
    * arbitrarily many PERIODS before the window — a date-widened
    * window under-pins there (r16's shipped form; the r17 fix), while
    * rank adjacency is gap-proof. The rank selection is stable across
    * batches: the carried predecessors stay physically adjacent to the
    * window inside every later work frame (nothing between them and
    * the window ever existed), so re-selecting "the prec rows before
    * the window's first row" re-selects exactly them.
    */
  final case class Pin(start: java.time.LocalDate,
      end: java.time.LocalDate, prec: Int, foll: Int)

  /** A statement whose rows emit under its own per-key gate, on top of
    * the generic lead hold-back: [[ChainSpec]], [[FishvolSpec]] or
    * [[ShiftPctSpec]]. [[runIncremental]] ANDs the specs' gates into one
    * emission gate; chain and fishvol also carry versioned state.
    */
  sealed trait HoldBack { def target: String }

  /** An annually-linked `$chain` statement (r17), run under YEAR
    * hold-back — a row emits only once its calendar year has CLOSED for
    * its key (a later-year row arrived; in-order ingest proves no more
    * rows of the year can follow) AND every chain's base year has
    * closed (the rebase denominator is final; before that every index
    * value would still move). Closed years' aggregate rows
    * ([[graft.kernels.Indices.yearlyAggs]] — 1 row per key per year)
    * are carried as versioned derived state.
    * [[graft.kernels.Indices.chain]] adds them to each key's series as
    * flagged rows that replace the work frame's own rows of those
    * years, so each batch relinks the COMPLETE year history without
    * carrying O(history) raw rows. The honest latency trade: up to one
    * year of hold-back (q218's bucket argument with span =
    * periods-per-year).
    */
  final case class ChainSpec(target: String, terms: Seq[(Int, String)],
      baseYear: Int) extends HoldBack

  /** A `fishvol_rebase` statement (r18): the executor carries, per key,
    * the Fisher prefix product at the newest emitted row plus the
    * closed base-year average ([[graft.kernels.Indices.fishvolRaw]]
    * seed schema), and every batch's kernel run continues the fold
    * from the seed. The sequential native ProductAgg makes the seeded
    * fold the SAME multiplication sequence as the whole-history run
    * (bit-exact by induction; IncrementalPropertySpec checks every
    * cell). Emission holds until the key's base year closes (before
    * that the rebase denominator, hence EVERY index value, would still
    * move); after the close each row's index is final on arrival.
    */
  final case class FishvolSpec(target: String, volumes: Seq[String],
      prices: Seq[String], baseYear: Int) extends HoldBack

  /** A backward `shift_pct` statement whose date mask has a FIXED end
    * (the anchor): rows inside [start, anchor] reconstruct from the
    * anchor value and the suffix product of growth factors in
    * (t, anchor] — ALL of which live on rows dated ≤ anchor — so the
    * executor holds the window back until the key's frontier passes the
    * anchor and then flushes it whole. At the flush every window row is
    * in frame and the kernel's suffix product multiplies the SAME factor
    * sequence the whole-history run multiplies (rows outside the window
    * contribute null factors, skipped by both), so emitted values are
    * BIT-exact under either product spelling — there is never a
    * cross-batch fp fold. State is the un-flushed window's raw rows:
    * bounded by the FIXED mask span (the chain pre-base-backlog
    * argument), dropping to the generic tail forever after the flush.
    * The open/default-anchor form (`to *` or no mask) keeps its named
    * refusal — its anchor is the moving series end, so already-emitted
    * rows would be revised by every batch.
    */
  final case class ShiftPctSpec(target: String, pctSeries: String,
      start: Option[java.time.LocalDate], anchor: java.time.LocalDate)
      extends HoldBack

  /** What [[runIncremental]] needs to evaluate a script: carry the last
    * `maxLag + maxLead` input rows per key, emit a row once `maxLead`
    * rows after it have arrived, and keep every input row a `pins`
    * entry selects in the carry PERMANENTLY (per key, flagged emitted)
    * — those windows hold the fixed targets of open-ended-mask reads
    * (`set <date A to *> x = … v["d"] …`, whole-series over bounded
    * support), whose values are constants once their rows arrive but
    * sit arbitrarily far behind the frontier, beyond any bounded tail.
    *
    * `bucketed` marks a script with at least one convert. A
    * DOWN-conversion makes the executor also emit the SYNTHETIC
    * bucket-anchor rows the convert bridge's full-outer join creates
    * for buckets whose anchor date has no input row, gated by per-key
    * emission cutoffs (once per anchor, only after the bucket closes),
    * and carry one extra row per key so the previous cutoff is always
    * recoverable from the carry; an UP-conversion's synthetic tail past
    * the frontier pends behind the same cutoffs.
    *
    * `chains`, `fishvols` and `shiftPcts` are the [[HoldBack]]
    * statements, each with its own emission gate.
    */
  final case class IncrementalPlan(maxLead: Int, maxLag: Int,
      pins: Seq[Pin], bucketed: Boolean = false,
      chains: Seq[ChainSpec] = Nil,
      fishvols: Seq[FishvolSpec] = Nil,
      shiftPcts: Seq[ShiftPctSpec] = Nil) {
    def holdBacks: Seq[HoldBack] = chains ++ fishvols ++ shiftPcts

    /** Every row emits the batch it arrives — the snapshot's output
      * contract. Pins change the carry, not the output, so they do not
      * count; leads, buckets and hold-back statements withhold rows.
      */
    def emitsOnArrival: Boolean =
      maxLead == 0 && !bucketed && holdBacks.isEmpty
  }

  /** Upper bound on source rows per target-frequency bucket — the
    * hold-back distance a down-conversion needs (an overestimate only
    * delays emission, never corrupts it). None = not a downsample this
    * analysis accepts.
    */
  private def bucketSpan(src: Frequency, tgt: Frequency): Option[Int] =
    (src, tgt) match {
      case (Frequency.Monthly, Frequency.Quarterly)   => Some(3)
      case (Frequency.Monthly, Frequency.Annual)      => Some(12)
      case (Frequency.Quarterly, Frequency.Annual)    => Some(4)
      case (Frequency.Weekly(_), Frequency.Monthly)   => Some(5)
      case (Frequency.Weekly(_), Frequency.Quarterly) => Some(14)
      case (Frequency.Weekly(_), Frequency.Annual)    => Some(53)
      case (Frequency.Daily | Frequency.Business, Frequency.Weekly(_)) =>
        Some(7)
      case (Frequency.Daily | Frequency.Business, Frequency.Monthly) =>
        Some(31)
      case (Frequency.Daily | Frequency.Business, Frequency.Quarterly) =>
        Some(92)
      case (Frequency.Daily | Frequency.Business, Frequency.Annual) =>
        Some(366)
      case _ => None
    }

  /** The incremental analysis of a parsed script: `Right(plan)` when
    * every statement can be evaluated over the arriving rows plus a
    * bounded carry under per-key emission cutoffs — the
    * [[IncrementalPlan]] [[runIncremental]] executes — or
    * `Left(reason)` naming the first construct that cannot.
    *
    * A statement's value at row t may depend on rows at BOUNDED
    * distance: arithmetic/conditionals/lsum (row-local), date masks and
    * point-in-time assigns (functions of the row's own date), backward
    * lags `v[t−k]` / `pct` / `diff` (reach k, ACCUMULATED through
    * nesting — `pct(v[t-2], 3)` reaches 5 back) and leads `v[t+k]`. The
    * reach arithmetic mirrors [[graft.compile.ColumnCompiler]]'s offset
    * composition (`callAt`: pct/diff evaluate their argument at `o` and
    * `o−k`). The plan composes one term per machinery:
    *
    *  - backward reach → `maxLag`, the carried tail;
    *  - forward reach → `maxLead`, HOLD-BACK emission: each key's newest
    *    maxLead rows pend until their lookahead arrives. A lead through
    *    a derived series counts even when its NET offset is backward
    *    (`a = rev[t-3]; b = a[t+1]` reads rev[t−2] in VALUE terms, but
    *    the compiled plan is `lag(a, −1)`, which reads through the next
    *    PHYSICAL row — at a batch edge that row hasn't arrived; the
    *    frontier test in StreamingSpec carries the counterexample);
    *  - fixed reads under an OPEN-ENDED mask (`set <date A to *>` with
    *    the read target entirely before A) → `pins`: no tail reach, the
    *    target rows are carried permanently;
    *  - converts → `bucketed`, emitted by per-key date cutoffs;
    *  - chain / fishvol / fixed-anchor shift_pct → their [[HoldBack]]
    *    specs, each with its own gate and carried state.
    *
    * Refused, with the reasoning on record: open-anchor shift_pct (it
    * recurses backward from the series END, so every row's value
    * changes whenever the end advances); nlrx (a global smoother —
    * every output depends on every input); open-START masks and
    * plain-assign lookups (affected rows PRECEDE the read target — a
    * forward read no carry policy can satisfy); whole-series functions
    * (`ave`, `firstvalue`, `lastvalue`, `dateof`) and series-derived
    * scalars over UNBOUNDED support (their value moves as history
    * grows); leads inside whole-series functions and in a hold-back
    * statement's sources; and two hold-back statements of different
    * kinds in one script (each stream runs under one kind of cutoff).
    *
    * Reach is TRANSITIVE through derived series: in
    * `a = pct(rev); b = pct(a)`, `b` at row t reads `a[t−1]` which
    * reads `rev[t−2]`, so the script's maxLag is 2, not 1 — the fold
    * records each assigned series' accumulated (lead, lag) interval and
    * `Ref`/`TimeShift`/`pct`/`diff` of a derived name add the recorded
    * interval to their own offset. Without this the carried input tail
    * is too short and the first rows of every batch silently evaluate
    * chained lags against absent history (nulls where the whole-history
    * run has values), breaking the batch-equivalence contract.
    *
    * FIXED-DATE LOOKUPS become BOUNDED under a closed horizon (r13
    * verdict task 3 widening). `v["d"]` (and `v[s]` where scalar `s` is
    * a resolvable `make(...)` date literal) is unbounded in a PLAIN
    * assign — rows arbitrarily far in the future keep reading date d —
    * but inside a statement whose affected rows have a KNOWN last date
    * it is an ordinary bounded backward read:
    *
    *  - a point-in-time assign `x[D] = … v["d"] …` evaluates only at
    *    row D, so the read reaches `periods(d → D)` back (refused when
    *    d > D — that is a forward read);
    *  - a CLOSED date mask `set <date A to B> x = … v["d"] …` (inline,
    *    or the ambient `date A to B` in effect — the fold tracks
    *    SetDate/ClearDate) evaluates only at rows in [A, B], so when
    *    d ≤ A the read reaches at most `periods(d → B)` back (d inside
    *    the mask would be a forward read for rows before d — refused).
    *
    * Whole-series functions over a BOUNDED-SUPPORT series (r15) follow
    * the same arithmetic with the support start as the date — see the
    * whole-series case in `reach`, which needs `inputColumns` to know a
    * masked target had nothing to preserve.
    *
    * Period distance is CEILED per the session frequency (an over-long
    * tail is sound — it only carries extra rows; a short one silently
    * nulls the lookup); business frequency uses calendar days, an
    * overestimate of business-day rows. Lookups need a `freq` already
    * declared.
    *
    * Keyed streams get the same plan: the executor materializes keyed
    * lookups as per-key columns (FameSession.materializeKeyedLookups)
    * and compiles whole-series functions to key-partitioned windows, so
    * every accepted shape holds per key with the same reach.
    */
  def incrementalPlan(script: String,
      inputColumns: Option[Set[String]] = None)
      : Either[String, IncrementalPlan] = {
    import java.time.LocalDate
    import FameExpr._
    import FameStmt._
    val stmts = FameParser.parseScript(script)
    val scalarNames = stmts.collect { case ScalarAssign(n, _) => n }.toSet
    // BOUNDED-SUPPORT tracking (r15 widening, see the whole-series case
    // in `reach`) needs to know a target is NOT an input column: a
    // masked assign to an existing series PRESERVES it outside the mask
    // (EngineSpec F3b), so its support is only bounded when there was
    // nothing to preserve. None = schema unknown → no support recorded
    // (conservative; the streaming entry points pass the real schema).
    val inputCols: String => Boolean = inputColumns match {
      case Some(cols) =>
        val up = cols.map(_.toUpperCase); n => up.contains(n)
      case None => _ => true // unknown schema: every target might collide
    }

    // fixed-date value of a pure `make(...)` scalar RHS — such scalars
    // resolve DynLookup sites to DateLookup semantics (the compiler
    // inlines them identically, ColumnCompiler `DynLookup` case)
    def dateOfMake(e: FameExpr): Option[LocalDate] = e match {
      case Call("make", args) =>
        args.collectFirst { case Str(s) => s }.flatMap(graft.ast.FameDate.parse)
      case _ => None
    }

    // period distance from `from` to `to` (from ≤ to) under freq, CEILED
    def periods(f: Frequency, from: LocalDate, to: LocalDate): Int = {
      import java.time.temporal.ChronoUnit
      def ceilBy(unitLen: Long): Int = {
        val d = ChronoUnit.DAYS.between(from, to)
        ((d + unitLen - 1) / unitLen).toInt
      }
      f match {
        case Frequency.Monthly =>
          val m = ChronoUnit.MONTHS.between(from, to)
          (if (from.plusMonths(m).isBefore(to)) m + 1 else m).toInt
        case Frequency.Quarterly =>
          val m = ChronoUnit.MONTHS.between(from, to)
          val q = m / 3
          (if (from.plusMonths(q * 3).isBefore(to)) q + 1 else q).toInt
        case Frequency.Annual =>
          val y = ChronoUnit.YEARS.between(from, to)
          (if (from.plusYears(y).isBefore(to)) y + 1 else y).toInt
        case Frequency.Daily | Frequency.Business =>
          // business rows are a SUBSET of calendar days — day distance
          // over-counts rows, never under-counts
          ChronoUnit.DAYS.between(from, to).toInt
        case Frequency.Weekly(_) => ceilBy(7)
      }
    }

    // the statement's write horizon: `latest` = the earliest affected
    // date (a lookup dated ≤ latest is a backward read for EVERY
    // affected row); `end` = Some(lastAffectedRowDate) when the affected
    // range is CLOSED (bounded tail reach), None when OPEN-ENDED
    // (`set <date A to *>`) — there a fixed-date read has no finite
    // tail distance, but its target rows are a CONSTANT once arrived,
    // so the executor keeps them in the carry permanently (a PIN)
    // instead of reaching through the tail.
    // None (no horizon at all / open-START) = lookups unbounded here.
    final case class Horizon(latest: LocalDate, end: Option[LocalDate],
        f: Frequency)
    type Look = Option[Horizon]
    // pinned windows accumulated by accepted open-ended reads;
    // discarded with the Left on any later refusal (the fold aborts).
    // A derived read series' recorded reach goes in as PHYSICAL ROW
    // counts (Pin.prec/foll), never widened into calendar periods: the
    // engine's lags are row offsets, and with per-key date gaps the
    // dependent predecessor row can sit more periods back than rows —
    // a period-widened window would under-pin it (r17 ADVICE fix).
    val pins = scala.collection.mutable.ListBuffer.empty[Pin]
    // accepted hold-back statements, their targets (reads of a held
    // target are refused: its values are non-final until the gate
    // opens, so a derived read would leak a moving value into an
    // already-emitted row), and their source columns (reassignment
    // after the statement is refused: the executor finalizes a closed
    // year's state from the OUTPUT frame's source columns, which a
    // later reassignment would have overwritten)
    val chains = scala.collection.mutable.ListBuffer.empty[ChainSpec]
    val fishvols = scala.collection.mutable.ListBuffer.empty[FishvolSpec]
    val shiftPcts = scala.collection.mutable.ListBuffer.empty[ShiftPctSpec]
    var sealedNames = Set.empty[String]
    var frozenNames = Set.empty[String]
    // series-derived scalars accepted via pinned support windows (r17):
    // name → the support's END date. The scalar's value is a constant
    // once every support row (plus its arg's lag predecessors — both
    // pinned) has arrived, which under in-order ingest is before any
    // row dated ≥ the support end; a USE is therefore sound exactly
    // when the using statement's horizon starts at/after that end.
    // Their base series are frozen like chain sources (the extracted
    // value must keep re-deriving from the same definition).
    var seriesScalars = Map.empty[String, LocalDate]
    var scalarBaseNames = Set.empty[String]
    // FORWARD REFERENCES are refused by name (r17 find): the engine's
    // Kahn scheduler computes a later-defined series FIRST, so a read
    // site ahead of the definition sees the DERIVED values — but this
    // fold walks in script order and would treat the name as a
    // reach-free input, silently under-counting the tail (the
    // counterexample `b = a[t-1]; a = pct(rev)` verdicts Right(1)
    // where the true transitive reach is 2). Series-derived scalars
    // read before their definition have the same hazard; PURE scalars
    // are plan-time constants and stay order-free.
    lazy val assignedAnywhere: Set[String] = stmts.collect {
      case Assign(t, _, _, _)             => t
      case PointInTime(t, _, _)           => t
      case ConvertAssign(t, _, _, _, _, _, _) => t
      case ChainAssign(t, _, _)           => t
      case FishvolAssign(t, _, _, _)      => t
      case NlrxAssign(t, _, _)            => t
      case ShiftPctAssign(t, _, _)        => t
    }.toSet ++ stmts.collect {
      case ScalarAssign(n, e) if !scalarPure(e) => n
    }
    def fwdRead(n: String, env: Map[String, (Int, Int)])
        : Option[String] =
      if (!env.contains(n) && assignedAnywhere.contains(n) &&
          !seriesScalars.contains(n))
        Some(s"forward reference to $n (defined later in the script — " +
          "the scheduler computes the definition first, so the read's " +
          "reach is unknown here; write the script in dependency order)")
      else None
    def sealedRead(n: String): Option[String] =
      if (sealedNames.contains(n))
        Some(s"read of sealed series $n (a held target's values are " +
          "non-final until its gate opens; an up-convert's fine grid " +
          "mixes synthetic rows)")
      else None

    // Support interval of an expression: Some((a, b)) proves the
    // compiled column is null at every row outside [a, b]. STRICT
    // (null-in → null-out) operators — arithmetic, comparisons, unary
    // -/not, sqrt/abs/log/exp, pct/diff (which need the row's own value
    // too) — propagate any operand's bound: the parent is null wherever
    // that operand is, so its non-null set is ⊆ each bounded operand's
    // support; bounds combine by UNION (⊇ the true set — sound: over-
    // covering only lengthens the carried tail and tightens the
    // premature-read check). NON-strict shapes (and/or's Kleene logic,
    // if/else, lsum's null-as-zero, elementwise min/max's null-skipping
    // least/greatest, exists) can be non-null where their series
    // operands are null, so they contribute None — which is still
    // sound INSIDE a strict parent.
    def exprSupport(e: FameExpr,
        supports: Map[String, (LocalDate, LocalDate)],
        f: Frequency): Option[(LocalDate, LocalDate)] = {
      def union(a: Option[(LocalDate, LocalDate)],
          b: Option[(LocalDate, LocalDate)]) = (a, b) match {
        case (Some((a1, b1)), Some((a2, b2))) =>
          Some((if (a1.isBefore(a2)) a1 else a2,
            if (b1.isAfter(b2)) b1 else b2))
        case (x, None) => x
        case (None, y) => y
      }
      // date >= the one n periods after d — EXACT for calendar
      // frequencies, an OVERestimate for business (n business rows span
      // >= n calendar days; a too-late end only tightens the premature-
      // read check, never loosens it)
      def plusPeriodsCeil(d: LocalDate, n: Int): LocalDate = f match {
        case Frequency.Monthly   => d.plusMonths(n.toLong)
        case Frequency.Quarterly => d.plusMonths(3L * n)
        case Frequency.Annual    => d.plusYears(n.toLong)
        case Frequency.Weekly(_) => d.plusWeeks(n.toLong)
        case Frequency.Daily     => d.plusDays(n.toLong)
        case Frequency.Business  => d.plusDays(2L * n + 3)
      }
      // union requiring EVERY side bounded — for shapes (if/else,
      // least/greatest) that are non-null wherever ANY branch is, so a
      // single unbounded branch unbounds the whole expression (unlike
      // the strict-operator union below, where None is an identity)
      def unionAll(xs: Seq[Option[(LocalDate, LocalDate)]])
          : Option[(LocalDate, LocalDate)] =
        if (xs.isEmpty || xs.exists(_.isEmpty)) None
        else xs.reduce(union)
      e match {
        case Ref(m) => supports.get(m)
        // a LAG of a bounded series: value at row ρ is m@(ρ − k), so
        // the non-null set shifts FORWARD k periods. Only the END
        // shifts (exact or over) — the START stays put, because a
        // forward-shifted start would SHORTEN the computed reach
        // (unsound); keeping it only lengthens the carried tail.
        // Leads (offset > 0) return None — conservative (the support
        // would shift backward); whole-series over a lead-bearing
        // argument is refused in `reach` regardless, hold-back or not.
        case TimeShift(m, off) if off < 0 =>
          supports.get(m).map { case (a, b) =>
            (a, plusPeriodsCeil(b, -off)) }
        case Bin(op, l, r)
            if Set("+", "-", "*", "/",
              "eq", "ne", "gt", "lt", "ge", "le")(op) =>
          union(exprSupport(l, supports, f), exprSupport(r, supports, f))
        case Un("-", x)   => exprSupport(x, supports, f)
        case Un("not", x) => exprSupport(x, supports, f)
        case Call(n, args)
            if Set("sqrt", "abs", "log", "exp", "pct", "diff")(n) &&
              args.nonEmpty =>
          exprSupport(args.head, supports, f)
        // if/else compiles to when(c, t).otherwise(e): at a row where
        // BOTH branches are null the result is null whichever way the
        // condition goes (incl. null-condition → otherwise) — so two
        // bounded branches bound the whole conditional, condition
        // irrelevant (r16 widening)
        case Cond(_, t, els) =>
          unionAll(Seq(exprSupport(t, supports, f),
            exprSupport(els, supports, f)))
        // elementwise min/max compile to least/greatest, which SKIP
        // nulls: non-null wherever ANY argument is, so bounded only
        // when EVERY argument is (a numeric literal arg → None →
        // unbounded: least(m, 5) is 5 outside m's support). lsum stays
        // None (null-as-zero: non-null everywhere); exists stays None
        // (boolean, non-null everywhere).
        case Call(n, args) if Set("min", "max")(n) && args.nonEmpty =>
          unionAll(args.map(exprSupport(_, supports, f)))
        case _ => None
      }
    }

    // (maxLead, maxLag) reach of e relative to the current row, given
    // the reaches recorded so far for derived series (`env`); a shifted
    // evaluation point TRANSLATES a referenced series' whole interval
    // [−lg, +ld] to [k−lg, k+ld], it never narrows it. Input series and
    // pure scalars are absent from env → (0, 0).
    def reach(e: FameExpr, env: Map[String, (Int, Int)], look: Look,
        sdates: Map[String, LocalDate],
        supports: Map[String, (LocalDate, LocalDate)])
        : Either[String, (Int, Int)] = {
      def lookupReach(s: String, d: LocalDate, shown: String)
          : Either[String, (Int, Int)] = look match {
        case None => Left(s"history lookup $shown (bounded only inside a " +
          "closed date mask or point-in-time assign)")
        case Some(Horizon(latest, endOpt, f)) =>
          if (d.isAfter(latest))
            Left(s"history lookup $shown dated after the statement's " +
              "mask start — a forward read for masked rows")
          else endOpt match {
            case Some(horizon) =>
              // s's value AT date d carries s's own recorded lag behind d
              val lg = env.getOrElse(s, (0, 0))._2
              Right((0, lg + periods(f, d, horizon)))
            case None =>
              // open-ended horizon: the read target is FIXED — pin the
              // rows s@d computes from (the target row plus s's own
              // recorded interval as PHYSICAL neighbors, gap-proof)
              // and contribute no tail reach
              val (ld, lg) = env.getOrElse(s, (0, 0))
              pins += Pin(d, d, lg, ld)
              Right((0, 0))
          }
      }
      e match {
        case Num(_) | Str(_) | Missing | TimeVar => Right((0, 0))
        case Ref(n) if seriesScalars.contains(n) =>
          // the pinned support makes the value a constant once arrived;
          // affected rows must all postdate the support end so no row
          // is emitted against a still-partial extraction
          look match {
            case Some(Horizon(latest, _, _))
                if !seriesScalars(n).isAfter(latest) => Right((0, 0))
            case _ => Left(s"use of series-derived scalar $n outside a " +
              "mask starting at/after its support end (earlier rows " +
              "would be emitted against a still-partial value)")
          }
        case Ref(n) =>
          sealedRead(n).orElse(fwdRead(n, env))
            .toLeft(env.getOrElse(n, (0, 0)))
        case TimeShift(n, k) =>
          sealedRead(n).orElse(fwdRead(n, env)).toLeft {
            val (ld, lg) = env.getOrElse(n, (0, 0))
            (math.max(0, ld + k), math.max(0, lg - k))
          }
        case DynLookup(s, sc) =>
          sealedRead(s).orElse(fwdRead(s, env)).map(Left(_)).getOrElse(
            sdates.get(sc) match {
              case Some(d) => lookupReach(s, d, s"$s[$sc]")
              case None => Left(s"history lookup $s[$sc] (scalar is not a " +
                "fixed date literal)")
            })
        case DateLookup(s, d) =>
          sealedRead(s).orElse(fwdRead(s, env)).map(Left(_)).getOrElse(
            lookupReach(s, d, s"""$s["$d"]"""))
        case Bin(_, l, r)  =>
          for (a <- reach(l, env, look, sdates, supports);
               b <- reach(r, env, look, sdates, supports))
            yield (math.max(a._1, b._1), math.max(a._2, b._2))
        case Un(_, x)      => reach(x, env, look, sdates, supports)
        case Cond(c, t, f) =>
          for (a <- reach(c, env, look, sdates, supports);
               b <- reach(t, env, look, sdates, supports);
               d <- reach(f, env, look, sdates, supports))
            yield (Seq(a._1, b._1, d._1).max, Seq(a._2, b._2, d._2).max)
        case ChainCall(_, _) => Left("inline $chain (whole-series index)")
        case Call(name, args) => name match {
          case "pct" | "diff" =>
            val k = args.lift(1).collect { case Num(v) => v.toInt }.getOrElse(1)
            reach(args.head, env, look, sdates, supports)
              .map { case (ld, lg) => (ld, lg + k) }
          case "sqrt" | "abs" | "log" | "exp" | "exists" =>
            reach(args.head, env, look, sdates, supports)
          case "min" | "max" | "lsum" =>
            args.foldLeft[Either[String, (Int, Int)]](Right((0, 0))) {
              (acc, a) => for (x <- acc; y <- reach(a, env, look, sdates, supports))
                yield (math.max(x._1, y._1), math.max(x._2, y._2))
            }
          case "make" => Right((0, 0)) // plan-time date literal
          // Whole-series aggregates over a BOUNDED-SUPPORT series become
          // bounded backward reads under a closed horizon (r15 widening).
          // The aggregate ignores nulls (avg / first / last with
          // ignoreNulls — ColumnCompiler), so for a series m whose ONLY
          // definitions are closed-masked / point-in-time assigns to a
          // non-input target — null everywhere outside its recorded
          // support [sA, sB] — `ave(m)` aggregates exactly the rows in
          // [sA, sB]. A statement writing only rows ≥ latest with
          // sB ≤ latest sees every support row by the time any of its
          // rows is emitted (nondecreasing-date ingest), so the read
          // reaches `m's own lag + periods(sA → horizon)` back — the
          // DateLookup arithmetic with the support start as the date.
          // Everything else stays refused: the mask gates WRITES, not
          // the aggregation frame (avg runs over an unbounded window —
          // reference parity, `formulas_generator.py:881` broadcasts
          // the whole-series mean), so without bounded support the
          // value keeps changing as history grows.
          // Under PARTITIONED execution the same argument holds per key:
          // the executor compiles these to windows PARTITIONED BY the
          // keys (ColumnCompiler `unboundedWin`), masks are date ranges
          // identical for every key, and ingest is nondecreasing-date
          // PER KEY — so each key's aggregate over its own bounded
          // support is complete by the time any of that key's masked
          // rows is emitted, with the per-key carried tail holding the
          // same periods(supStart → horizon) rows the unkeyed proof
          // counts (r16 widening; keyed parity in StreamingSpec /
          // IncrementalPropertySpec).
          case "ave" | "firstvalue" | "lastvalue" => look match {
            case Some(Horizon(latest, endOpt, f)) =>
              exprSupport(args.head, supports, f) match {
                case Some((supStart, supEnd)) =>
                  if (supEnd.isAfter(latest))
                    Left(s"whole-series $name: the argument's support " +
                      "ends after the statement's mask start — rows " +
                      "would be written before the aggregate is complete")
                  else reach(args.head, env, look, sdates, supports)
                    .flatMap {
                      // the aggregated rows read their OWN inputs: the
                      // argument's relative lag rides on top of the
                      // support-to-horizon distance
                      case (0, lg) => endOpt match {
                        case Some(horizon) =>
                          Right((0, lg + periods(f, supStart, horizon)))
                        case None =>
                          // open-ended horizon: the aggregate over the
                          // bounded support is a CONSTANT once every
                          // support row (plus its lg PHYSICAL
                          // predecessors — row-rank, gap-proof) has
                          // arrived — pin that window, no tail reach
                          pins += Pin(supStart, supEnd, lg, 0)
                          Right((0, 0))
                      }
                      case (ld, _) =>
                        Left(s"lead +$ld inside whole-series $name")
                    }
                case None => Left(s"whole-series function $name " +
                  "aggregates the entire frame (masks gate writes, not " +
                  "reads; bounded only when strict arithmetic/lags over " +
                  "closed-masked/point-in-time-defined series bound the " +
                  "argument's support)")
              }
            case None => Left(s"whole-series $name outside a closed " +
              "horizon (bounded support needs a bounded write range)")
          }
          // dateof compiles to min/max(when(series nonNull, DATE)) over
          // the whole frame (CONTAIN) or the preceding rows (BEFORE) —
          // ColumnCompiler.dateof. Series-free heads ARE the expression
          // (the reference's DATEOF_GENERIC) — row-local. Otherwise the
          // same bounded-support argument as ave applies: the observed
          // dates come only from the argument's support, and any
          // written row (≥ the mask start ≥ the support end) has every
          // support row in frame under BOTH frame variants.
          case "dateof" if args.nonEmpty =>
            if (FameExpr.refs(args.head).isEmpty)
              reach(args.head, env, look, sdates, supports)
            else look match {
              // per-key windows make the bounded-support argument hold
              // under partitioned execution too (see ave above)
              case Some(Horizon(latest, endOpt, f)) =>
                exprSupport(args.head, supports, f) match {
                  case Some((supStart, supEnd))
                      if !supEnd.isAfter(latest) =>
                    reach(args.head, env, look, sdates, supports).flatMap {
                      case (0, lg) => endOpt match {
                        case Some(horizon) =>
                          Right((0, lg + periods(f, supStart, horizon)))
                        case None =>
                          pins += Pin(supStart, supEnd, lg, 0)
                          Right((0, 0))
                      }
                      case (ld, _) =>
                        Left(s"lead +$ld inside dateof")
                    }
                  case Some(_) =>
                    Left("dateof: the argument's support ends after " +
                      "the statement's mask start")
                  case None => Left("whole-series function dateof")
                }
              case None =>
                Left("whole-series dateof outside a closed horizon")
            }
          case "dateof" => Left("whole-series function dateof")
          case other => Left(s"function $other (unknown reach)")
        }
      }
    }

    def scalarPure(e: FameExpr): Boolean = e match {
      case Num(_) | Str(_) | Missing => true
      case Ref(n)        => scalarNames.contains(n)
      case Bin(_, l, r)  => scalarPure(l) && scalarPure(r)
      case Un(_, x)      => scalarPure(x)
      case Cond(c, t, f) => scalarPure(c) && scalarPure(t) && scalarPure(f)
      case Call("make", _) => true
      case _             => false
    }

    // fold state: global max input-lag, per-series recorded reach,
    // resolvable date scalars, the ambient freq and date filter. A
    // masked / point-in-time reassign PRESERVES rows the old definition
    // wrote, so a re-recorded series keeps the max of old and new reach
    // (never narrows — conservative is sound here: an over-long tail
    // only costs a few carried rows).
    def record(env: Map[String, (Int, Int)], name: String,
        r: (Int, Int)): Map[String, (Int, Int)] = {
      val old = env.getOrElse(name, (0, 0))
      env + (name -> (math.max(old._1, r._1), math.max(old._2, r._2)))
    }

    // supports: series whose EVERY definition so far was closed-masked /
    // point-in-time on a non-input target → null outside the recorded
    // [start, end] union (assigned tracks "has any definition", so a
    // plain or open-masked (re)assign removes the entry — outside-mask
    // rows then carry data, F3b preserve semantics)
    final case class St(lead: Int, lag: Int, env: Map[String, (Int, Int)],
        sdates: Map[String, LocalDate], freq: Option[Frequency],
        filter: Option[DateFilter],
        supports: Map[String, (LocalDate, LocalDate)],
        assigned: Set[String], bucketed: Boolean = false)

    // effective statement mask = inline if present else ambient —
    // EXACTLY the executor's rule (FameSession: inlineFilter.orElse
    // (b.dateFilter)); a closed mask yields a lookup horizon
    def maskLook(st: St, inline: Option[DateFilter]): Look =
      for {
        df <- inline.orElse(st.filter)
        a <- df.start; f <- st.freq   // open-START: no horizon at all
      } yield df.end match {
        case Some(b) =>
          if (a.isAfter(b)) Horizon(b, Some(a), f)
          else Horizon(a, Some(b), f)
        case None => Horizon(a, None, f)
      }

    stmts.foldLeft[Either[String, St]](
      Right(St(0, 0, Map.empty, Map.empty, None, None, Map.empty,
        Set.empty))) {
      (acc, s) =>
      acc.flatMap { st =>
        // target already carries the DB prefix (FameParser.colName
        // folds `aa'x` to AA_X before Assign is built, and Ref/
        // TimeShift sites see the same folded name), so it is the env
        // key as-is — re-prefixing here would record AA_AA_X and lose
        // transitive reach for every local-db chain.
        def accept(target: String, rr: (Int, Int)): St = st.copy(
          lead = math.max(st.lead, rr._1), lag = math.max(st.lag, rr._2),
          env = record(st.env, target, rr))
        // Each stream runs under ONE kind of hold-back cutoff: a convert
        // or hold-back statement is refused next to a statement of
        // another kind, naming the kinds already present.
        def alongside(kind: String, t: String): Option[String] =
          Seq("convert" -> st.bucketed, "chain" -> chains.nonEmpty,
            "fishvol" -> fishvols.nonEmpty,
            "shift_pct" -> shiftPcts.nonEmpty)
            .collect { case (k, true) if k != kind => k } match {
            case Nil => None
            case present => Some(s"$kind ($t) alongside " +
              s"${present.mkString(" and ")} (hold-back emission cutoffs " +
              "are not composed; run them as separate streams)")
          }
        // One rule for the [[HoldBack]] statements: sources must be
        // neither sealed, forward-referenced nor LEAD-bearing (the gate
        // opening proves ONE later row arrived, not a k-row lookahead).
        // Then the target is SEALED (no downstream reads), the sources
        // are frozen (no reassignment) and the carry keeps the sources'
        // lag reach plus the statement's own `linkLag` physical
        // predecessors ahead of the unemitted suffix.
        def holdBack(kind: String, t: String, srcs: Seq[String],
            linkLag: Int)(register: => Unit): Either[String, St] =
          alongside(kind, t)
            .orElse(srcs.flatMap(n =>
              sealedRead(n).orElse(fwdRead(n, st.env))).headOption)
            .orElse(srcs.find(n => st.env.getOrElse(n, (0, 0))._1 > 0)
              .map(n => s"$kind ($t) source $n carries lead reach " +
                s"+${st.env(n)._1}: opening the gate proves one later " +
                "row arrived, not the source's full lookahead"))
            .toLeft {
              register
              sealedNames += t
              frozenNames ++= srcs
              val srcLag = srcs.map(n => st.env.getOrElse(n, (0, 0))._2)
                .foldLeft(0)(math.max)
              val st2 = accept(t, (0, srcLag + linkLag))
              st2.copy(assigned = st2.assigned + t)
            }
        // bounded-support bookkeeping after an ACCEPTED definition of
        // `target` whose written range is `rng` (None = unbounded
        // writes): support stays recorded only while every definition
        // is range-bounded on a non-input target; the recorded range is
        // the UNION of the definitions' ranges (a masked reassign
        // preserves the previous bounded writes — F3b)
        def updSupport(st2: St, target: String,
            rng: Option[(LocalDate, LocalDate)]): St = {
          val sup = rng match {
            case Some((a, b)) if !inputCols(target) &&
                (!st.assigned(target) || st.supports.contains(target)) =>
              val (pa, pb) = st.supports.getOrElse(target, (a, b))
              st2.supports + (target ->
                (if (a.isBefore(pa)) a else pa,
                  if (b.isAfter(pb)) b else pb))
            case _ => st2.supports - target
          }
          st2.copy(supports = sup, assigned = st2.assigned + target)
        }
        s match {
          case SetFreq(f)       => Right(st.copy(freq = Some(f)))
          case SetDate(filter)  => Right(st.copy(filter = Some(filter)))
          case ClearDate        => Right(st.copy(filter = None))
          case ListAlias(_, _)  => Right(st)
          case Assign(target, _, _, _)
              if frozenNames.contains(target) =>
            Left(s"reassignment of hold-back source $target after its " +
              "statement (the executor finalizes state from the output " +
              "frame, which would hold the new definition)")
          case Assign(target, _, _, _)
              if scalarBaseNames.contains(target) =>
            Left(s"reassignment of $target after a scalar was derived " +
              "from it (the pinned extraction must keep re-deriving " +
              "from the same definition)")
          case Assign(target, e, inline, _) =>
            val look = maskLook(st, inline)
            reach(e, st.env, look, st.sdates, st.supports).map(r =>
              updSupport(accept(target, r), target,
                look.flatMap(h => h.end.map(b => (h.latest, b)))))
          case PointInTime(target, _, _)
              if frozenNames.contains(target) ||
                scalarBaseNames.contains(target) =>
            Left(s"reassignment of $target after a hold-back/scalar " +
              "statement froze it")
          case PointInTime(target, dte, e) =>
            reach(e, st.env, st.freq.map(f => Horizon(dte, Some(dte), f)),
              st.sdates, st.supports)
              .map(r => updSupport(accept(target, r), target,
                Some((dte, dte))))
          case ScalarAssign(n, e) =>
            // A non-date reassign must INVALIDATE any earlier make(...)
            // binding for the same name (r14 ADVICE): keeping the stale
            // date would classify a later v[n] lookup as eligible and
            // the stream would die on its first micro-batch with the
            // executor's "scalar is not a date" CompileError instead of
            // being refused here, upfront, with a named reason.
            if (scalarPure(e) &&
                !FameExpr.refs(e).exists(seriesScalars.contains))
              Right(dateOfMake(e)
                .map(d => st.copy(sdates = st.sdates + (n -> d)))
                .getOrElse(st.copy(sdates = st.sdates - n)))
            else e match {
              // r17 widening: a whole-series scalar over a BOUNDED-
              // SUPPORT series is a constant once the support (plus the
              // argument's lag predecessors) has arrived — pin that
              // window (the r16 pin machinery verbatim) and record the
              // support end for the use-site check in `reach`. KEYED
              // too since r18: the batch engine now extracts
              // series-derived scalars PER KEY (a key-constant hidden
              // column from the key's own support rows —
              // FameSession's ScalarAssign), so each batch's replay
              // re-derives every key's value from the SAME pinned
              // support rows the whole-history run reads: deterministic
              // and hash-exact. (The pre-r18 batch semantics read ONE
              // arbitrary frame row — a frame-order-dependent choice no
              // carry policy could reproduce, which is why this was
              // refused keyed.)
              case Call(ws, args)
                  if Set("ave", "firstvalue", "lastvalue")(ws) &&
                    args.nonEmpty =>
                st.freq match {
                  case Some(f) =>
                    exprSupport(args.head, st.supports, f) match {
                      case Some((sA, sB)) =>
                        reach(args.head, st.env,
                          Some(Horizon(sB, Some(sB), f)), st.sdates,
                          st.supports).flatMap {
                          case (0, lg) =>
                            pins += Pin(sA, sB, lg, 0)
                            seriesScalars += n -> sB
                            scalarBaseNames ++= FameExpr.refs(args.head)
                            Right(st.copy(sdates = st.sdates - n))
                          case (ld, _) => Left(
                            s"lead +$ld inside scalar $n's whole-series " +
                              "argument")
                        }
                      case None => Left(s"scalar $n derived from series " +
                        "data (whole-series over UNBOUNDED support — " +
                        "its value keeps moving as history grows)")
                    }
                  case None => Left(s"scalar $n derived from series " +
                    "data (no declared frequency to bound its support)")
                }
              case _ =>
                Left(s"scalar $n derived from series data (only " +
                  "whole-series ave/firstvalue/lastvalue over a bounded " +
                  "support are incrementalizable — any other shape's " +
                  "value keeps moving as history grows)")
            }
          // DOWN-conversion under hold-back (r16): the anchor row's
          // value aggregates its own bucket — up to span−1 rows FORWARD
          // of the anchor, never backward past it — so it is exactly a
          // bounded lead: hold each key's newest span−1 rows and every
          // emitted anchor's bucket is CLOSED (span−1 rows after the
          // anchor either fill the bucket or prove a later bucket
          // started; nondecreasing ingest forbids stragglers). Each
          // bucket row reads the source's own recorded interval, which
          // rides on top. Anchors with no input row at the anchor date
          // (sparse frames) surface as synthetic full-outer-join rows —
          // the `bucketed` flag makes runIncremental emit those by
          // per-key date cutoffs.
          // UP-conversions (r19): accepted under OBSERVATION hold-back.
          // A fine-grid row's fill/interpolation reads its BRACKETING
          // observations: constant/discrete need only the previous one
          // (final on arrival), linear additionally the next one — and
          // "first obs ≥ t" is fixed the moment any obs ≥ t exists, so
          // a grid row is final once the key's newest input row reaches
          // it (lead 0; the date cutoffs gate the synthetic tail past
          // the frontier, which still awaits its next observation).
          // Cubic's Hermite slope at an observation is the centered
          // secant, one-sided at the series edge — the newest obs's
          // slope CHANGES when its successor arrives — so cubic holds
          // one extra input row (lead 1): the cutoff then sits at the
          // second-newest observation, behind which every slope is
          // centered and final. Backward lag: the bracketing obs below
          // (and, for cubic, its predecessor for the slope) ride in the
          // carry (lag 1 / 2 + the source's own reach). The TARGET is
          // SEALED: downstream row-offset reads on the fine grid would
          // mix synthetic rows, whose offsets are not representable in
          // the input-row carry contract.
          case ConvertAssign(target, source, tgtFreq, technique, _, asFreq, _) =>
            val srcFOpt = asFreq.orElse(st.freq)
            val (sld, slg) = st.env.getOrElse(source, (0, 0))
            alongside("convert", target).toLeft(()).flatMap { _ =>
              srcFOpt.flatMap(srcF => bucketSpan(srcF, tgtFreq)) match {
                case Some(span) =>
                  Right(updSupport(accept(target, (span - 1 + sld, slg))
                    .copy(bucketed = true), target, None))
                case _ if srcFOpt.exists(srcF =>
                    Frequency.rank(tgtFreq) < Frequency.rank(srcF)) =>
                  val (leadK, lagK) =
                    if (technique == "cubic") (1, 2) else (0, 1)
                  sealedNames += target
                  Right(updSupport(accept(target, (leadK + sld, lagK + slg))
                    .copy(bucketed = true), target, None))
                case _ => Left(s"convert ($target) re-buckets history")
              }
            }
          // Backward shift_pct (r19): with a FIXED mask end the anchor
          // is a constant date, every factor a window row needs lives
          // on rows ≤ anchor, and the executor flushes the whole window
          // the batch the key's frontier passes the anchor — a single
          // in-frame computation, bit-exact vs the whole-history run
          // (see [[ShiftPctSpec]]). The growth factor reads the pct
          // source at t−1: one physical predecessor ahead of the held
          // window. The default/open-anchor form keeps the named
          // refusal: its anchor is the moving series end, so emitted
          // rows would be revised every batch.
          case ShiftPctAssign(t, p, _) =>
            st.filter.flatMap(_.end) match {
              case None =>
                Left(s"shift_pct ($t) recurses backward from series " +
                  "end (a fixed mask end date makes the anchor a " +
                  "constant and streams under anchor hold-back)")
              case Some(anchor) =>
                holdBack("shift_pct", t, Seq(p, t).distinct, linkLag = 1)(
                  shiftPcts += ShiftPctSpec(t, p,
                    st.filter.flatMap(_.start), anchor))
            }
          // Annually-linked chain (r17): a year-Y link reads only years
          // ≤ Y, so the statement is exactly a year-bucket hold-back
          // (q218's argument with span = periods-per-year) — the
          // executor emits a row once its year AND every base year have
          // closed, and carries closed years' aggregate rows as derived
          // state (see [[ChainSpec]]). LAGGED sources are sound: a year
          // closes with ALL its rows still carried (unemitted), and the
          // carry keeps the maxLag physical predecessors of the
          // unemitted suffix — exactly the previous year's tail a lagged
          // source's year-boundary rows read — so the closing batch's
          // fresh aggregates see complete derived values. The link reads
          // the year table, not rows: no extra lag.
          case ChainAssign(target, terms, baseYear) =>
            holdBack("chain", target,
              (terms.map(_._2) ++ terms.map("P" + _._2)).distinct,
              linkLag = 0)(chains += ChainSpec(target, terms, baseYear))
          // fishvol (r18): its cumulative product is a per-ROW left
          // fold (raw_t = raw_{t-1} × link_t), which the executor seeds
          // batch-wise with a carried scalar — the per-key prefix
          // product + closed base average, bit-exact under the
          // sequential native ProductAgg (see [[FishvolSpec]]). The
          // Fisher link reads each source at t−1: one physical
          // predecessor ahead of the unemitted suffix.
          case FishvolAssign(t, vs, ps, baseYear) =>
            holdBack("fishvol", t, (vs ++ ps).distinct, linkLag = 1)(
              fishvols += FishvolSpec(t, vs, ps, baseYear))
          case NlrxAssign(t, _, _)    => Left(s"nlrx ($t) whole-series solve")
        }
      }
    }.map(st => IncrementalPlan(st.lead, st.lag, pins.toList, st.bucketed,
      chains.toList, fishvols.toList, shiftPcts.toList))
  }

  /** Incremental micro-batched FAME for the scripts
    * [[incrementalPlan]] accepts: per-batch cost
    * O(batch + (maxLag + maxLead)·keys) instead of [[run]]'s O(history)
    * snapshot recompute. Throws IllegalArgumentException on an
    * ineligible script — callers choose the fallback explicitly
    * (auto-silently degrading to O(history) would hide a 1000× cost
    * cliff behind a flag).
    *
    * Mechanics per micro-batch, all idempotent under checkpoint replay:
    *  1. (carried rows ∪ batch) is materialized ONCE as an in-memory
    *     leaf — the batch's only scan of the source — ordered
    *     ASCENDING by date within each key, the order a whole-history
    *     scan reads them, so every order-sensitive kernel (a convert's
    *     sum, a running fold) adds in the whole-history order. ONE
    *     per-key window ranks the rows (rank of count) and flags each
    *     row new, held (step 3) and late; that one rank drives the
    *     hold, the carry tail and the pins (step 4). A late row (dated
    *     before its key's newest carried row) fails the batch with
    *     [[OutOfOrderIngestException]] before anything of it is
    *     written. Every later step reads the leaf; the writes of steps
    *     2–6 then run as concurrent jobs;
    *  2. the batch's rows land at `bronzeDir/batch=<id>` (overwrite —
    *     the [[run]] bronze contract), written from the leaf;
    *  3. the script runs over the leaf: the carry is the
    *     last `maxLag + maxLead` INPUT rows per key as of the previous
    *     batch, so every backward lag a row needs is present, and —
    *     when the script reads FORWARD (`v[t+k]`, maxLead > 0) — every
    *     still-unemitted row's lookahead accumulates until it arrives.
    *     HOLD-BACK emission: a row's outputs land at
    *     `resultDir/batch=<id>` (overwrite) only once `maxLead` rows
    *     after it (per key) have arrived — its rank is at most the
    *     key's count minus `maxLead` — at that point every forward
    *     read the row makes is in frame, so its value is FINAL (the
    *     watermark-style delay; for lag-only scripts maxLead = 0 and
    *     every batch row emits immediately, the historical behavior).
    *     Already-emitted carried rows are marked and their outputs
    *     dropped (they were emitted by the batch that first saw their
    *     lookahead complete). One emission rule covers every plan: not
    *     yet emitted, not held, every hold-back gate open (step 6) — or
    *     a newly closed synthetic anchor (step 5);
    *  4. the new carry (last `maxLag + maxLead` rows per key — plus one
    *     more when the plan is bucketed, plus every row a pin selects:
    *     the window rows and their prec/foll physical neighbors, each
    *     flagged with whether it has been emitted — all selected by the
    *     leaf's per-key rank, so the carry needs no window of its own
    *     beyond the pin and hold-back bounds) is
    *     VERSIONED at `bronzeDir/_tail/v=<id>` — a replayed batch n
    *     re-reads carry v=n−1, which a later batch never overwrites, so
    *     recovery recomputes batch n byte-identically (the pin rows,
    *     pending flags and bucket cutoffs all restore from that carry —
    *     the restart test in StreamingSpec drives all three through a
    *     real stop/start);
    *  5. bucketed plans additionally emit the SYNTHETIC bucket-anchor
    *     rows the convert bridge creates for anchors with no input row,
    *     gated per key to the window between the newest already-emitted
    *     input (from the carried flags) and the newest emittable one —
    *     each anchor exactly once, only after its bucket provably
    *     closed;
    *  6. plans with [[HoldBack]] statements emit a row only once every
    *     spec's gate opens for its key (chain: its year and every base
    *     year closed; fishvol: its base year closed; shift_pct: the
    *     frontier past the anchor); still-unemitted rows stay in the
    *     carry with their lag predecessors, and chain/fishvol state
    *     joins a per-target versioned table
    *     (`bronzeDir/_state/<target>/v=<id>`) that seeds the next
    *     batch's kernel run.
    *
    * Contract: rows arrive in nondecreasing date order per key (the
    * standard series-ingest shape — a late row would need the
    * snapshot-recompute form [[run]] to revise already-emitted output).
    * Read the result as `spark.read.parquet(resultDir)` (batch subdirs
    * union; drop the synthetic `batch` partition column). Under
    * maxLead > 0 the last `maxLead` rows per key are PENDING — emitted
    * rows match the whole-history run restricted to rows with `maxLead`
    * successors; the pending rows' values would not be final (the batch
    * run nulls their leads, a stream cannot know the series ended).
    */
  def runIncremental(stream: DataFrame, script: String, bronzeDir: String,
      resultDir: String, dateCol: String = "DATE",
      partitionKeys: Seq[String] = Nil,
      nlrx: Nlrx = Nlrx.HpSmoother,
      businessCal: BusinessCalendar = BusinessCalendar.WeekdaysOnly,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val plan = incrementalPlan(script, Some(stream.columns.toSet)) match {
      case Left(reason) => throw new IllegalArgumentException(
        s"script not incrementally evaluable: $reason (use FameStream.run)")
      case Right(p) => p
    }
    val (maxLead, maxLag) = (plan.maxLead, plan.maxLag)
    // bucketed scripts carry ONE extra row per key: the newest EMITTED
    // input row is the previous emission cutoff for synthetic anchor
    // rows, and with a carry of exactly maxLag+maxLead rows it could
    // rotate out (maxLag may be 0)
    val carrySize = maxLag + maxLead + (if (plan.bucketed) 1 else 0)
    val spark = stream.sparkSession
    val cols = stream.columns.toIndexedSeq
    val dateU = dateCol.toUpperCase
    val keysU = partitionKeys.map(_.toUpperCase)
    val hconf = spark.sparkContext.hadoopConfiguration
    // Refuse a resultDir left over from the SNAPSHOT layout (flat
    // parquet files): partition discovery over mixed flat files and
    // batch=<id> subdirs breaks spark.read.parquet(resultDir), and
    // silently unioning a stale gold snapshot with incremental batches
    // would double-count every historical row.
    locally {
      val rp = new org.apache.hadoop.fs.Path(resultDir)
      val rfs = rp.getFileSystem(hconf)
      if (rfs.exists(rp)) {
        val flat = rfs.listStatus(rp).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("batch=") && !n.startsWith("_") && !n.startsWith(".")
        }
        if (flat) throw new IllegalArgumentException(
          s"resultDir $resultDir holds a flat (snapshot-layout) result; " +
          "the incremental path writes batch=<id> subdirs — point it at " +
          "an empty directory or clear the old snapshot first")
      }
    }
    var w = stream.writeStream.outputMode("append")
    checkpointDir.foreach(c => w = w.option("checkpointLocation", c))
    // r21 per-batch fixed-cost trim (guide §5 driver / §2.4, VERDICT r20
    // item 6): the carry and kernel-state frames written by batch n−1
    // were re-READ from parquet by batch n — one driver round-trip (FS
    // listing, footer read, schema inference, fresh scan job) per frame
    // per batch, which the r20 profiles showed dominating walls on
    // streams whose task time is sub-second. Batch n−1 therefore also
    // hands batch n its frames as lazily-localCheckpointed in-memory
    // leaves, built and written inside the pool task that owns the
    // frame — under AQE building the leaf already runs the frame's
    // shuffle stage as its own execution, so it stays off the stream
    // thread — and the parquet write remains the versioned recovery
    // artifact: a restarted query has empty caches and re-reads v=n−1
    // exactly as before, so the replay contract is unchanged (the leaf
    // and the file hold the same rows by construction). Consumed leaves
    // are released as soon as the batch that read them finishes (ADVICE
    // r20: localCheckpoint blocks otherwise live until RDD GC).
    var tailCache: Option[(Long, DataFrame)] = None
    var stateCache: Map[String, (Long, DataFrame)] = Map.empty
    def releaseLeaf(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // the versioned artifact (carry or state) batch n−1 wrote under
      // `dir` — what a restarted query reads in place of the leaves
      def readPrev(dir: String): Option[DataFrame] = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/v=${batchId - 1}")
        if (batchId > 0 && p.getFileSystem(hconf).exists(p))
          Some(spark.read.parquet(p.toString))
        else None
      }
      val upper = batch.select(
        cols.map(c => col(c).as(c.toUpperCase)): _*)
      val cachedTail = tailCache.collect {
        case (v, df) if v == batchId - 1 => df }
      val prevTail: DataFrame = cachedTail
        .orElse(readPrev(s"$bronzeDir/_tail").map { t =>
          // carries written before the hold-back contract lack the
          // emitted flag; every row in such a carry was emitted
          if (t.columns.contains("__EMITTED")) t
          else t.withColumn("__EMITTED", lit(true))
        })
        .getOrElse(
          // empty tail built on the ORIGINAL session, not as a filter of
          // the micro-batch frame (r20): the stream runner's cloned
          // session pins batch-unfriendly confs (AQE off), and the work
          // frame inherits ITS session from prevTail — batch 0 would
          // otherwise run its whole pipeline under the stream clone
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            upper.schema).withColumn("__EMITTED", lit(true)))
      val keyCols = if (keysU.isEmpty) Seq(lit(1)) else keysU.map(col)
      val kw = Window.partitionBy(keyCols: _*)
      val ascOrd = kw.orderBy(col(dateU).asc)
      val wholeKey = ascOrd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      // MATERIALIZE the work frame once (r20, guide §2.4/§5) as the
      // batch's one in-memory leaf: the only action that scans the
      // micro-batch (its source is re-read by every action over it), and
      // the frame every later step reads — the late check, the bronze,
      // emit and carry writes, the chain/fishvol state finalizes. Without
      // it each of those re-executed (and re-SERIALIZED into every task
      // binary) the tail ∪ batch ∪ hold-window lineage. __NEW marks the
      // batch's rows; __LATE flags a batch row dated before its key's
      // newest carried row — a late arrival the incremental form cannot
      // evaluate correctly.
      // ONE window ranks each key's rows ascending by date — the order a
      // whole-history scan reads them, so every order-sensitive kernel
      // downstream (a convert's sum, a running fold) adds in that order —
      // and that rank (__ARN of __N) drives the hold, the carry tail and
      // the pins. The last maxLead rows per key are PENDING (__HOLD: their
      // forward reads are incomplete); everything older is emittable.
      // For lag-only scripts maxLead = 0 and every row is emittable the
      // batch it arrives. One spec, one exchange, one sort.
      val leaf = prevTail.withColumn("__NEW", lit(false))
        .unionByName(upper.withColumn("__EMITTED", lit(false))
          .withColumn("__NEW", lit(true)))
        .withColumn("__ARN", row_number().over(ascOrd))
        .withColumn("__N", count(lit(1)).over(wholeKey))
        .withColumn("__HOLD", col("__ARN") > col("__N") - lit(maxLead))
        .withColumn("__LATE", col("__NEW") &&
          col(dateU) < max(when(!col("__NEW"), col(dateU))).over(wholeKey))
        .localCheckpoint(true)
      // Enforce the ingest contract instead of documenting it: fail
      // loudly rather than emit silently-wrong output, before any write
      // of this batch has started (so a rejected batch leaves no bronze)
      val late = leaf.where(col("__LATE"))
        .select(cols.map(c => col(c.toUpperCase)): _*).limit(1).collect()
      if (late.nonEmpty) {
        releaseLeaf(leaf)
        throw new OutOfOrderIngestException(
          s"batch $batchId contains a row older than already-processed " +
          s"history (first offender: ${late.head}); the incremental path " +
          "requires nondecreasing dates per key — use mode = Snapshot " +
          "for out-of-order ingest")
      }
      val work = leaf.drop("__NEW", "__LATE")
      // the emission gate: every hold-back spec's gate ANDed (the rows
      // each gate holds form a suffix of the key's arrived rows):
      //  - chain: the row's year has closed for its key (a later-year
      //    row exists — in-order ingest proves the year complete) and
      //    so has the base year (before that the rebase denominator,
      //    hence EVERY index value, would still move); a base year
      //    closing flushes the whole pre-base backlog;
      //  - fishvol: the key's base year has closed — after it each
      //    row's raw (hence index) is final on arrival, so unlike chain
      //    the row's own year need not close;
      //  - shift_pct: a row inside [start, anchor] waits until the key's
      //    frontier has passed the anchor — then the whole window
      //    (carried as the unemitted suffix) is in frame and the flush
      //    is bit-exact (see [[ShiftPctSpec]]); rows outside every
      //    window emit on arrival.
      val maxYr = max(year(col(dateU))).over(kw)
      val holdGate: Column = plan.holdBacks.map {
        case c: ChainSpec =>
          year(col(dateU)) < maxYr && lit(c.baseYear) < maxYr
        case f: FishvolSpec => lit(f.baseYear) < maxYr
        case sp: ShiftPctSpec =>
          val aLit = lit(java.sql.Date.valueOf(sp.anchor))
          val sCond = sp.start
            .map(s0 => col(dateU) >= lit(java.sql.Date.valueOf(s0)))
            .getOrElse(lit(true))
          !(sCond && col(dateU) <= aLit) || (max(col(dateU)).over(kw) > aLit)
      }.reduceOption(_ && _).getOrElse(lit(true))
      // a row is emitted once it is past the generic lead hold AND the
      // hold-back gate — the flag the carry keeps
      val emittedNow = col("__EMITTED") || (!col("__HOLD") && holdGate)
      // The stateful specs' finalizes: next batch's seed for the target,
      // built (in a pool task) from this batch's output frame and the
      // carried seed.
      //  - chain: closed years' aggregate rows, computed from the output
      //    frame (derived source columns materialized) and unioned with
      //    the carried state — the state keeps the version finalized at
      //    close time; later partial rows of the same year (tail/pin
      //    leftovers) are anti-joined away;
      //  - fishvol: per key, the raw prefix product at the NEWEST
      //    EMITTED row (emitted ⇒ base year closed ⇒ raw final) and the
      //    closed base average — recomputed from the same
      //    [[Indices.fishvolRaw]] plan the kernel ran, so the stored
      //    seed is the kernel's own value. Keys with no new emissions
      //    keep their carried row (anti-join); the isEmpty probe (an
      //    action) runs in the pool task, off the stream thread.
      val finalizes
          : Seq[(String, (DataFrame, Option[DataFrame]) => DataFrame)] =
        plan.holdBacks.collect {
          case c: ChainSpec => c.target -> { (out: DataFrame,
              seed: Option[DataFrame]) =>
            val closed = out
              .withColumn("__CLOSED", year(col(dateU)) < maxYr)
              .where(col("__CLOSED"))
            val fresh = graft.kernels.Indices.yearlyAggs(
              closed, dateU, c.terms, keysU)
            seed.fold(fresh)(st => st.unionByName(fresh.join(
              st.select((keysU :+ "__year").map(col): _*),
              keysU :+ "__year", "left_anti")))
          }
          case f: FishvolSpec => f.target -> { (out: DataFrame,
              seed: Option[DataFrame]) =>
            val emRows = graft.kernels.Indices.fishvolRaw(out, dateU,
              f.volumes, f.prices, f.baseYear, keysU, seed)
              .withColumn("__FVEM", emittedNow && col("__FV_RAW").isNotNull)
              .where(col("__FVEM"))
            val fresh = (if (keysU.isEmpty) emRows.groupBy()
              else emRows.groupBy(keysU.map(col): _*)).agg(
                max_by(col("__FV_RAW"), col(dateU)).as("__FV_SEED"),
                max(col(dateU)).as("__FV_SEED_DATE"),
                max(col("__FV_BAVG")).as("__FV_BAVG_ST"))
              // unkeyed groupBy() yields one all-null row when nothing
              // has been emitted yet — that is "no state", not a seed
              .where(col("__FV_SEED").isNotNull)
            seed match {
              case Some(old) if keysU.nonEmpty =>
                fresh.unionByName(old.join(
                  fresh.select(keysU.map(col): _*), keysU, "left_anti"))
              case Some(old) => if (fresh.isEmpty) old else fresh
              case None => fresh
            }
          }
        }
      // each stateful target is seeded with the state the previous
      // batch finalized (versioned like the carry — replay of batch n
      // re-reads v=n−1, idempotent), so the kernel runs against the
      // complete history while the work frame holds only the unemitted
      // rows and their predecessors
      def readState(target: String): Option[DataFrame] =
        stateCache.get(target).collect {
          case (v, df) if v == batchId - 1 => df
        }.orElse(readPrev(s"$bronzeDir/_state/$target"))
      val seeds: Map[String, DataFrame] = finalizes.flatMap { case (t, _) =>
        readState(t).map(t -> _) }.toMap
      // one map serves both kernels: each looks up its own target
      val out0 = FameSession.run(script, work.drop("__ARN", "__N"), dateU,
        keysU, nlrx, businessCal = businessCal, chainSeed = seeds,
        fishvolSeed = seeds).df
      // stateful plans execute the output frame TWICE (the emit write +
      // the state finalize) — materialize it for those; any other plan
      // executes it once and materializing would only add overhead.
      // localCheckpoint, not persist (r20): persist kept the full FAME
      // plan in every downstream task binary (the state finalize ships
      // the kernel recompute PLUS the cached plan it reads), where the
      // checkpoint truncates the lineage to a leaf RDD — the same
      // task-binary bloat the work checkpoint above removes.
      val out =
        if (finalizes.nonEmpty) out0.localCheckpoint(true)
        else out0
      // Down-conversions can create SYNTHETIC rows (the convert
      // bridge's full-outer join, at bucket-anchor dates with no input row
      // — null __EMITTED/__HOLD). Emit each exactly once, after its bucket
      // closes: a bucket whose anchor is at or before the key's newest
      // EMITTABLE input (__CUT_NEW) has span−1 arrived rows past its
      // anchor — closed (the hold-back closure argument) — and anchors at
      // or before the newest ALREADY-EMITTED input (__CUT_PREV, recovered
      // from the carried flags) were emitted by an earlier batch. Anchors
      // in (__CUT_PREV, __CUT_NEW] are new: every row of such a bucket
      // postdates the previous cutoff, so it was carried (pending) or just
      // arrived — the work frame holds the WHOLE bucket and the value is
      // the whole-history one. Replay of batch n re-reads carry v=n−1 →
      // identical cutoffs, idempotent.
      val anchors: Column =
        if (!plan.bucketed) lit(false)
        else {
          val cutNew = max(when(col("__HOLD") === false, col(dateU))).over(kw)
          val cutPrev = max(when(col("__EMITTED") === true, col(dateU))).over(kw)
          col("__EMITTED").isNull && col(dateU) <= cutNew &&
            (cutPrev.isNull || col(dateU) > cutPrev)
        }
      // ONE emission rule: an input row not yet emitted, past the lead
      // hold and every hold-back gate — or a newly closed synthetic
      // anchor. Input rows have a non-null __EMITTED and synthetic rows a
      // null one, so the two selections are disjoint and one filter takes
      // both (a union of two filters would plan the FAME subplan twice).
      // Window aggregates may not sit inside WHERE: the rule is a column.
      val emit = out
        .withColumn("__EMIT",
          (!col("__EMITTED") && !col("__HOLD") && holdGate) || anchors)
        .where(col("__EMIT"))
        .drop("__EMIT")
      // Independent writes of this batch — bronze, the emit below, the
      // carry, and the state finalizes — all read the
      // MATERIALIZED leaf (or the out leaf) and land in disjoint
      // directories, so they run as concurrent jobs (guide §2.6: actions
      // are only sequential because the driver calls them sequentially).
      // Each job is tiny; sequencing them paid ~150 ms of
      // driver+scheduler latency apiece. Each task runs under the stream
      // thread's local properties and active session as of submission
      // (pool threads outlive the query that created them; inherited
      // properties would file the jobs under that first query's job
      // group, out of reach of this query's stop()), with a job
      // description naming the write. Failure of any write fails the
      // batch exactly as before (the await below rethrows), and
      // checkpoint replay overwrites every destination idempotently, so
      // the commit contract is unchanged.
      val session =
        batch.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val pendingWrites =
        scala.collection.mutable.ListBuffer.empty[java.util.concurrent.Future[_]]
      def parallel(label: String)(body: => Unit): Unit =
        pendingWrites += org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(session, batchWritePool) {
            session.sparkContext.setJobDescription(
              s"FameStream batch $batchId: $label")
            body
          }
      parallel("emit") {
        emit.drop("__EMITTED", "__HOLD")
          .write.mode("overwrite").parquet(s"$resultDir/batch=$batchId")
      }
      // next carry: last maxLag+maxLead INPUT rows per key of
      // carry ∪ batch, each flagged with whether it has been emitted —
      // PLUS every row a pin selects (the fixed targets of
      // open-ended-mask reads; once a pinned row lands in the carry it
      // stays there for the stream's lifetime, for every key). A pin
      // with nonzero prec/foll — a DERIVED read series with recorded
      // reach — also keeps the prec/foll PHYSICAL rows adjacent to the
      // window, selected by per-key row rank, NOT by widening the date
      // window: lags are row offsets, so with gapped per-key dates the
      // dependent predecessor can sit more periods back than rows and
      // a date-widened window would silently drop it (r17 ADVICE fix;
      // the rank re-selection is stable — see [[Pin]]). Retention
      // induction, scoped to the predecessors actually READ: Pin.prec
      // counts every explicit TimeShift in the argument (e.g.
      // ave(x[t-5]) records prec = lg+5), which can exceed plan.maxLag —
      // but only the predecessors within the env lag ≤ maxLag carry
      // values the derived read depends on; the extras beyond maxLag
      // contribute out-of-support/null reads. So: the first batch that
      // holds a window row still holds every value-bearing neighbor
      // (≤ maxLag rows behind it → in the tail; foll rows arrive later,
      // pinned on arrival), and every later carry re-selects them by
      // adjacency.
      // a gate-held row (open year / pre-base era / anchor window) is
      // NOT emitted even past the generic hold — the same gate governs
      // the flag. The carry reuses the leaf's ranks: no second window.
      val flagged = work.withColumn("__EMITTED", emittedNow).drop("__HOLD")
      val pinned: Column = plan.pins
        .map { p =>
          val inWin = col(dateU).between(
            lit(java.sql.Date.valueOf(p.start)),
            lit(java.sql.Date.valueOf(p.end)))
          if (p.prec == 0 && p.foll == 0) inWin
          else {
            val minRn = min(when(inWin, col("__ARN"))).over(kw)
            val maxRn = max(when(inWin, col("__ARN"))).over(kw)
            inWin ||
              (col("__ARN") < minRn &&
                col("__ARN") >= minRn - lit(p.prec)) ||
              (col("__ARN") > maxRn &&
                col("__ARN") <= maxRn + lit(p.foll))
          }
        }
        .reduceOption(_ || _).getOrElse(lit(false))
      // window aggregates (minRn/maxRn) may not sit inside WHERE —
      // materialize the predicate as a column first. Gated plans also
      // keep every still-unemitted row (the open year, the pre-base-era
      // backlog, the anchor window) — flushed, and dropped from the
      // carry, the batch their gate opens.
      // The gate holds a SUFFIX of each key's rows — but those emit in
      // a LATER batch than rows behind them, and their generic lags
      // still read those rows then. Keep the suffix AND its maxLag
      // physical predecessors (the newest-carrySize tail only guards
      // the frontier, not a held suffix).
      val keepUnemitted: Column =
        if (plan.holdBacks.isEmpty) lit(false)
        else {
          val minUnem = min(when(!col("__EMITTED"), col("__ARN"))).over(kw)
          !col("__EMITTED") || col("__ARN") >= minUnem - lit(maxLag)
        }
      // One pool task per handed-on frame: it builds the frame's lazy
      // localCheckpoint leaf (under AQE that alone runs the frame's
      // shuffle stages, as a `localCheckpoint` execution of its own),
      // then writes it, which fills the leaf's blocks. The leaf comes
      // back through the reference; it is next batch's in-memory input.
      def leafWrite(label: String, path: String)(frame: => DataFrame)
          : java.util.concurrent.atomic.AtomicReference[DataFrame] = {
        val ref = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
        parallel(label) {
          val handed = frame.localCheckpoint(false)
          ref.set(handed)
          handed.write.mode("overwrite").parquet(path)
        }
        ref
      }
      // the carry leaf is next batch's prevTail
      val carryRef = leafWrite("carry", s"$bronzeDir/_tail/v=$batchId") {
        flagged
          .withColumn("__PINNED", coalesce(pinned, lit(false)))
          .withColumn("__KEEPUN", coalesce(keepUnemitted, lit(false)))
          .where(col("__ARN") > col("__N") - lit(carrySize) ||
            col("__PINNED") || col("__KEEPUN"))
          .drop("__ARN", "__N", "__PINNED", "__KEEPUN")
      }
      parallel("bronze") {
        leaf.where(col("__NEW"))
          .select(cols.map(c => col(c.toUpperCase).as(c)): _*)
          .write.mode("overwrite").parquet(s"$bronzeDir/batch=$batchId")
      }
      // each finalized state is also handed to the next batch as an
      // in-memory leaf (built and written by its own pool task) — set
      // after quiescence below, only on batch success
      val newStateRefs = finalizes.map { case (t, finalize) =>
        t -> leafWrite(s"state:$t", s"$bronzeDir/_state/$t/v=$batchId")(
          finalize(out, seeds.get(t)))
      }
      // Await ALL pool futures before propagating any failure (ADVICE
      // r20): rethrowing at the FIRST failed write left later pool
      // writes running — a restarted query replaying this batch could
      // then overwrite _tail/_state v=N concurrently with an orphaned
      // writer. Full quiescence first; then the first failure fails the
      // batch exactly as the sequential writes did.
      val failures = pendingWrites.flatMap { f =>
        try { f.get(); None } catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(Option(e.getCause).getOrElse(e))
          case e: Throwable => Some(e)
        }
      }
      // this batch's consumed leaves are dead once the writes are done:
      // release their blocks now instead of at RDD GC (ADVICE r20)
      releaseLeaf(leaf)
      if (finalizes.nonEmpty) releaseLeaf(out)
      cachedTail.foreach(releaseLeaf)
      stateCache.foreach { case (_, (v, df)) =>
        if (v == batchId - 1) releaseLeaf(df) }
      failures.headOption.foreach(e => throw e)
      // commit the new leaves for batch n+1 (success path only — a
      // failed batch leaves the caches stale and the replay, a fresh
      // foreachBatch closure after restart, reads parquet)
      tailCache = Some((batchId, carryRef.get()))
      stateCache = newStateRefs.flatMap { case (t, ref) =>
        Option(ref.get()).map(df => t -> ((batchId, df))) }.toMap
      ()
    }.start()
  }
}
