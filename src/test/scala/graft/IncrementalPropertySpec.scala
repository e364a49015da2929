package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.api.FameSession
import graft.streaming.FameStream

/** Property test for [[FameStream.incrementalPlan]]'s reach
  * arithmetic (VERDICT r11 task 4): over randomly generated scripts
  * mixing lags, leads, nested pct/diff, whole-series functions, scalars
  * and chained derived-series references,
  *
  *  - the walker's verdict must match an INDEPENDENTLY-computed
  *    expectation carried by the generator (exact maxLag for `Right`,
  *    refusal for `Left`), and
  *  - every `Right(maxLag)` script must satisfy the contract the number
  *    exists for: evaluating the script over (last-maxLag-input-rows
  *    tail ∪ batch) — exactly [[FameStream.runIncremental]]'s per-batch
  *    work frame — reproduces the whole-history run bit-for-bit on the
  *    batch rows, across ≥3 micro-batches.
  *
  * The equivalence check deliberately bypasses the streaming harness
  * (MemoryStream + checkpoint per generated script would cost seconds
  * each); the work-frame construction IS runIncremental's (tail = last
  * maxLag input rows, outputs of tail rows dropped), and the real
  * streaming plumbing is pinned separately by StreamingSpec's
  * incremental-ingest and chained-lag tests.
  */
class IncrementalPropertySpec extends SparkSpec {

  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(0xFA7E + i), retries = 100))
    }

  // The lag-only and lead-aware projections of the one incremental
  // plan: eligibility is Right(maxLag) only for a plan that emits every
  // row on arrival from a tail alone, reach is Right((maxLead, maxLag))
  // only for a plan with no pins, buckets or hold-back specs.
  private def incrementalEligibility(script: String,
      inputColumns: Option[Set[String]] = None): Either[String, Int] =
    incrementalReach(script, inputColumns).flatMap {
      case (0, lag) => Right(lag)
      case (lead, _) => Left(s"lead reach +$lead")
    }

  private def incrementalReach(script: String,
      inputColumns: Option[Set[String]] = None)
      : Either[String, (Int, Int)] =
    graft.streaming.FameStream.incrementalPlan(script, inputColumns)
      .flatMap { p =>
        if (p.pins.isEmpty && !p.bucketed && p.holdBacks.isEmpty)
          Right((p.maxLead, p.maxLag))
        else Left(s"plan needs pins, buckets or hold-back specs: $p")
      }

  // --- generator: expression text + the generator's OWN reach algebra ---
  // Reach is Either[refused, (maxLead, maxLag)] relative to the current
  // row. This arithmetic is written independently of the walker's (the
  // walker folds statements with an env; here each emitted node carries
  // its interval forward), and the run-equivalence below is the ground
  // truth for the Right side.

  private type Reach = Either[String, (Int, Int)]
  private def merge(a: Reach, b: Reach): Reach =
    for (x <- a; y <- b)
      yield (math.max(x._1, y._1), math.max(x._2, y._2))

  // Render a folded env name back to script text. A local-db series
  // (folded AA_Vi) is written in its FAME-native apostrophe form — the
  // parser folds aa'vN and aa_vN to the same column, and emitting the
  // apostrophe form keeps the generator exercising the localDbOf path
  // on references (the r12 advice bug was invisible to a generator
  // that never produced db-prefixed names).
  private def show(n: String): String =
    if (n.startsWith("AA_")) "aa'" + n.drop(3).toLowerCase
    else n.toLowerCase

  /** `lookCtx` is the statement's lookup horizon as (loMonth, hiMonth)
    * of the enclosing closed 1995-monthly mask (PIT: lo = hi = the PIT
    * month): a fixed-date lookup `v["1995-mm-01"]` with mm ≤ lo is a
    * bounded backward read reaching `hi − mm` periods (plus the target
    * series' own recorded lag); mm > lo, or no horizon at all (plain
    * statement / open mask), is refused — mirroring the r14 walker
    * widening, with the 3-batch parity check as ground truth.
    */
  private def genExpr(depth: Int, env: Map[String, (Int, Int)],
      lookCtx: Option[(Int, Int)],
      supports: Map[String, (Int, Int)]): Gen[(String, Reach)] = {
    val names = env.keys.toSeq.sorted
    val leaf: Gen[(String, Reach)] = Gen.frequency(
      2 -> Gen.choose(2, 9).map(n => (n.toString, Right((0, 0)))),
      5 -> Gen.oneOf(names).map(n => (show(n), Right(env(n)))),
      3 -> (for {
        n <- Gen.oneOf(names); k <- Gen.choose(1, 3)
      } yield {
        val (ld, lg) = env(n)
        (s"${show(n)}[t-$k]", Right((math.max(0, ld - k), lg + k)))
      }),
      1 -> (for { // lead — usually fatal at statement level
        n <- Gen.oneOf(names); k <- Gen.choose(1, 2)
      } yield {
        val (ld, lg) = env(n)
        (s"${show(n)}[t+$k]", Right((ld + k, math.max(0, lg - k))))
      }),
      2 -> (for { // fixed-date lookup — bounded iff horizoned and mm ≤ lo
        n <- Gen.oneOf(names)
        // bias toward the eligible range when a horizon exists, so the
        // Right-side (parity-checked) lookup volume stays high; the
        // unbiased arm keeps refusal shapes in the mix
        mm <- lookCtx match {
          case Some((lo, _)) =>
            Gen.frequency(3 -> Gen.choose(1, lo), 1 -> Gen.choose(1, 9))
          case None => Gen.choose(1, 9)
        }
      } yield {
        val txt = f"""${show(n)}["1995-$mm%02d-01"]"""
        lookCtx match {
          case Some((lo, hi)) if mm <= lo =>
            (txt, Right((0, env(n)._2 + (hi - mm))))
          case _ => (txt, Left("history lookup (unbounded here)"))
        }
      }),
      2 -> (for { // whole-series — bounded iff the ARGUMENT's support
                    // is bounded (a bounded-support name, possibly under
                    // strict arithmetic) AND the horizon starts at/after
                    // the support end (r15 walker widening); biased
                    // toward supported names so the eligible
                    // (parity-checked) volume stays high
        f <- Gen.oneOf("ave", "firstvalue", "lastvalue")
        n <- {
          val supported = names.filter(supports.contains)
          if (supported.nonEmpty)
            Gen.frequency(3 -> Gen.oneOf(supported), 1 -> Gen.oneOf(names))
          else Gen.oneOf(names)
        }
        // inner shape: 0 bare name | 1 name*const | 2 abs(name) |
        // 3 name+otherName (strict Bin: support = UNION of the bounded
        // sides, lag = max of both sides' recorded lags) | 4 name[t-k]
        // (a LAG: the support END shifts forward k, the start stays —
        // the walker's conservative shift — and the lag rides on) |
        // 5 min(name, name2) (least SKIPS nulls: bounded only when
        // BOTH are — r16) | 6 if/else of two names (null when both
        // branches are: union when BOTH bounded — r16)
        shape <- Gen.frequency(3 -> 0, 1 -> 1, 1 -> 2, 1 -> 3, 1 -> 4,
          1 -> 5, 1 -> 6)
        c <- Gen.choose(2, 5)
        k <- Gen.choose(1, 2)
        n2 <- Gen.oneOf(names)
      } yield {
        val (txt, sup, lag) = shape match {
          case 0 => (s"$f(${show(n)})", supports.get(n), env(n)._2)
          case 1 => (s"$f((${show(n)} * $c))", supports.get(n), env(n)._2)
          case 2 => (s"$f(abs(${show(n)}))", supports.get(n), env(n)._2)
          case 3 =>
            val u = (supports.get(n), supports.get(n2)) match {
              case (Some((a1, b1)), Some((a2, b2))) =>
                Some((math.min(a1, a2), math.max(b1, b2)))
              case (x, None) => x
              case (None, y) => y
            }
            (s"$f((${show(n)} + ${show(n2)}))", u,
              math.max(env(n)._2, env(n2)._2))
          case 4 => (s"$f(${show(n)}[t-$k])",
            supports.get(n).map { case (a, b) => (a, b + k) },
            env(n)._2 + k)
          case 5 =>
            val u = (supports.get(n), supports.get(n2)) match {
              case (Some((a1, b1)), Some((a2, b2))) =>
                Some((math.min(a1, a2), math.max(b1, b2)))
              case _ => None // least skips nulls: one unbounded side
                             // unbounds the whole expression
            }
            (s"$f(min(${show(n)}, ${show(n2)}))", u,
              math.max(env(n)._2, env(n2)._2))
          case _ =>
            val u = (supports.get(n), supports.get(n2)) match {
              case (Some((a1, b1)), Some((a2, b2))) =>
                Some((math.min(a1, a2), math.max(b1, b2)))
              case _ => None
            }
            (s"$f(if rev gt 25 then ${show(n)} else ${show(n2)})", u,
              math.max(env(n)._2, env(n2)._2))
        }
        (sup, lookCtx) match {
          case (Some((sLo, sHi)), Some((lo, hi))) if sHi <= lo =>
            (txt, Right((0, lag + (hi - sLo))))
          case _ => (txt, Left(s"whole-series $f"))
        }
      }))
    if (depth <= 0) leaf
    else Gen.frequency(
      3 -> leaf,
      3 -> (for {
        op <- Gen.oneOf("+", "-", "*")
        l <- genExpr(depth - 1, env, lookCtx, supports)
        r <- genExpr(depth - 1, env, lookCtx, supports)
      } yield (s"(${l._1} $op ${r._1})", merge(l._2, r._2))),
      3 -> (for {
        f <- Gen.oneOf("pct", "diff"); k <- Gen.choose(1, 2)
        j <- Gen.choose(1, 3)
        a <- genExpr(depth - 1, env, lookCtx, supports)
      } yield {
        // pct divides by the lagged argument — keep it strictly
        // positive (ANSI mode turns a zero denominator into an error,
        // and the reach algebra is what's under test, not div-by-zero)
        val arg = if (f == "pct") s"(abs(${a._1}) + $j)" else a._1
        (s"$f($arg, $k)", a._2.map { case (ld, lg) => (ld, lg + k) })
      }),
      1 -> genExpr(depth - 1, env, lookCtx, supports)
        .map { case (s, r) => (s"abs($s)", r) },
      1 -> (for {
        f <- Gen.oneOf("min", "max", "lsum")
        l <- genExpr(depth - 1, env, lookCtx, supports)
        r <- genExpr(depth - 1, env, lookCtx, supports)
      } yield (s"$f(${l._1}, ${r._1})", merge(l._2, r._2))))
  }

  /** A script of 2–4 chained statements (targets v1..v4, later RHSs may
    * reference earlier targets — the transitive-reach hazard) plus the
    * generator-side expectation: Left(reason) or Right(maxLag).
    * Statement forms cover the full incremental-eligible surface
    * (VERDICT r12 task 8): plain assigns, date-MASKED assigns
    * (`set <date A to B> t = e`), and POINT-IN-TIME assigns
    * (`t[date] = e`) — the latter two sometimes REASSIGNING an earlier
    * derived series, which pins the walker's record-max rule (a
    * preserved row keeps the old definition's reach, so recorded reach
    * is max(old, new), never narrowed).
    */
  private val genScript: Gen[(String, Either[String, Int])] = {
    val base = Map("REV" -> (0, 0), "CNT" -> (0, 0))
    def stmts(i: Int, n: Int, env: Map[String, (Int, Int)],
        supports: Map[String, (Int, Int)],
        acc: List[String], expect: Either[String, Int])
        : Gen[(String, Either[String, Int])] =
      if (i > n)
        Gen.const((("freq m" :: acc.reverse).mkString("\n"), expect))
      else {
        val derived = (env.keySet -- base.keySet).toSeq.sorted
        // form first, THEN the expression: lookup leaves need the
        // statement's horizon (mask/PIT dates) to carry their reach.
        // forms: 0 plain | 1 inline mask | 2 point-in-time |
        //        3 ambient `date A to B` mask (reset by `date *` after)
        // once some series has bounded support, bias the statement
        // months HIGH (at/after the smallest support end) so horizoned
        // statements can legally read it — the whole-series-eligible
        // shape needs mask start >= support end, which uniform months
        // rarely produce
        val monthGen = supports.values.map(_._2).minOption match {
          case Some(hiMin) if hiMin < 9 =>
            Gen.frequency(2 -> Gen.choose(hiMin, 9), 1 -> Gen.choose(1, 9))
          case _ => Gen.choose(1, 9)
        }
        Gen.zip(
            Gen.frequency(5 -> 0, 2 -> 1, 2 -> 2, 2 -> 3),
            monthGen, monthGen,
            Gen.frequency(3 -> "", 1 -> "aa'"),
            Gen.oneOf(true, false)).flatMap {
          case (form, d1, d2, pfx, reuse) =>
            val (lo, hi) = (math.min(d1, d2), math.max(d1, d2))
            val lookCtx = form match {
              case 1 | 3 => Some((lo, hi))
              case 2     => Some((d1, d1))
              case _     => None
            }
            genExpr(2, env, lookCtx, supports).flatMap { case (txt, r) =>
              // masked/pit may reassign an earlier derived series; the
              // env key is always the PARSER-FOLDED name (aa'vN ->
              // AA_VN) — exactly what Ref/TimeShift sites carry
              val folded =
                if (form != 0 && reuse && derived.nonEmpty)
                  derived((i + d1) % derived.size)
                else (if (pfx.isEmpty) "" else "AA_") + s"V$i"
              val tname = show(folded)
              val lines = form match {
                case 0 => List(s"$tname = $txt")
                case 1 => List(
                  f"set <date 1995-$lo%02d-01 to 1995-$hi%02d-01> $tname = $txt")
                case 2 => List(f"$tname[1995-$d1%02d-01] = $txt")
                case _ => List(
                  f"date 1995-$lo%02d-01 to 1995-$hi%02d-01",
                  s"$tname = $txt",
                  "date *")
              }
              val nextExpect: Either[String, Int] = expect.flatMap { lag =>
                r match {
                  case Left(reason)   => Left(reason)
                  case Right((ld, _)) if ld > 0 => Left(s"lead +$ld")
                  case Right((_, lg)) => Right(math.max(lag, lg))
                }
              }
              // env only grows on an accepted statement (max with any
              // previous reach of a reassigned target); after a refusal
              // the expectation is already Left and further statements
              // can't rescue it (the walker stops at the first refusal)
              val nextEnv = r match {
                case Right((ld, lg)) if ld == 0 =>
                  val old = env.getOrElse(folded, (0, 0))
                  env + (folded ->
                    (math.max(old._1, ld), math.max(old._2, lg)))
                case _ => env
              }
              // bounded-support bookkeeping, mirroring the walker's
              // updSupport: a range-bounded (masked/PIT) definition of a
              // never-plain-assigned target records/unions the support;
              // a plain assign (or any definition after a plain one)
              // removes it. Only meaningful on the Right path — after a
              // refusal the verdict is already Left.
              val assignedBefore = (env.keySet -- base.keySet)(folded)
              val rng: Option[(Int, Int)] = form match {
                case 1 | 3 => Some((lo, hi))
                case 2     => Some((d1, d1))
                case _     => None
              }
              val nextSupports = r match {
                case Right((ld, _)) if ld == 0 => rng match {
                  case Some((a, b))
                      if !assignedBefore || supports.contains(folded) =>
                    val (pa, pb) = supports.getOrElse(folded, (a, b))
                    supports + (folded ->
                      (math.min(a, pa), math.max(b, pb)))
                  case _ => supports - folded
                }
                case _ => supports
              }
              stmts(i + 1, n, nextEnv, nextSupports,
                lines.reverse ::: acc, nextExpect)
            }
        }
      }
    Gen.choose(2, 4).flatMap(n =>
      stmts(1, n, base, Map.empty, Nil, Right(0)))
  }

  private def bits(o: Option[Double]): Option[Long] =
    o.map(java.lang.Double.doubleToLongBits)

  /** Chain-arm generator (r17 year hold-back): an annually-linked
    * `$chain` over gapped integer-valued months, optionally preceded by
    * a lag statement. Carries the independent expectation:
    * (script, maxLag, terms, baseYear, keepMask, value offset).
    */
  private val genChainScript: Gen[(String, Int, Seq[(Int, String)], Int,
      List[Boolean], Int)] =
    for {
      spec <- Gen.oneOf(
        ("a", Seq((1, "A")), false),
        ("a - b", Seq((1, "A"), (-1, "B")), false),
        ("a + b", Seq((1, "A"), (1, "B")), false),
        // r17 widening: a LAGGED derived source — its year-boundary
        // rows read the previous year's tail, carried as the suffix's
        // maxLag physical predecessors
        ("c - b", Seq((1, "C"), (-1, "B")), true))
      base <- Gen.oneOf(1995, 1996, 1997)
      lagK <- Gen.oneOf(0, 1, 2)
      off <- Gen.choose(0, 6)
      keepMask <- Gen.listOfN(42, Gen.frequency(6 -> true, 1 -> false))
        .suchThat(_.count(identity) >= 32)
    } yield {
      val (txt, terms, lagSrc) = spec
      val pre = (if (lagSrc) List("c = a[t-1]", "pc = pa[t-1]") else Nil) :::
        (lagK match {
          case 0 => Nil
          case 1 => List("mom = pct(a)")
          case _ => List("d2 = a - a[t-2]")
        })
      val script = ("freq m" :: pre :::
        List(s"""set x = $$chain("$txt", "$base")""")).mkString("\n")
      (script, math.max(if (lagSrc) 1 else 0, lagK), terms, base,
        keepMask, off)
    }

  test("chain arm (r17 year hold-back): generated chain scripts match " +
      "the independent plan algebra, and the year-close emission rule — " +
      "seeded with closed-year aggregates computed INDEPENDENTLY in " +
      "plain Scala over the integer grid — is batch-equivalent " +
      "bit-for-bit across 3 batches over gapped months") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val months = (0 until 42).map(i =>
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong))
    val dates = months.map(_.toString)
    def yr(i: Int): Int = months(i).getYear
    var lateBase = 0
    var gapped = 0
    var laggedSrc = 0
    forAllN(genChainScript, n = 30) {
      case (script, lagK, terms, base, keepMask, off) =>
        val present = (0 until 42).filter(keepMask)
        if (base == 1997) lateBase += 1
        if (present.size < 42) gapped += 1
        if (script.contains("c = a[t-1]")) laggedSrc += 1
        // integer grid: every yearly sum/avg is order-exact, so the
        // scala seed below is bitwise the engine's aggregate
        def av(i: Int) = (10 + (i + off) % 5).toDouble
        def pav(i: Int) = (2 + (i + off) % 3).toDouble
        def bv(i: Int) = (4 + (i + off) % 4).toDouble
        def pbv(i: Int) = (1 + (i + off) % 2).toDouble
        def fr(idx: Seq[Int]) = frame(idx.map(dates),
          "A" -> idx.map(av), "PA" -> idx.map(pav),
          "B" -> idx.map(bv), "PB" -> idx.map(pbv))
        val cols = Some(Set("DATE", "A", "PA", "B", "PB"))
        // the tail-only/lead-only projections refuse; the plan carries
        // the ChainSpec; keyed verdict equals unkeyed (chains stream
        // keyed)
        assert(incrementalEligibility(script,
          inputColumns = cols).isLeft, script)
        assert(incrementalReach(script,
          inputColumns = cols).isLeft, script)
        val got = FameStream.incrementalPlan(script, inputColumns = cols)
        assert(got == Right(FameStream.IncrementalPlan(0, lagK, Nil,
          bucketed = false,
          chains = Seq(FameStream.ChainSpec("X", terms, base)))),
          s"plan said $got:\n$script")
        assert(FameStream.incrementalPlan(script,
          inputColumns = Some(Set("DATE", "K", "A", "PA", "B", "PB")))
          == got, script)
        val full = FameSession.run(script, fr(present)).df
        val series = (if (script.contains("mom =")) Seq("MOM")
          else if (script.contains("d2 =")) Seq("D2")
          else Seq.empty[String]) ++
          (if (script.contains("c = a[t-1]")) Seq("C")
          else Seq.empty[String]) :+ "X"
        def byDate(df: org.apache.spark.sql.DataFrame,
            keep: Set[String]): Map[String, Seq[Option[Long]]] =
          df.where(col("DATE").isInCollection(keep.toSeq.map(d)))
            .orderBy("DATE")
            .select(series.map(col).toIndexedSeq: _*).collect().toSeq
            .map(r => series.indices.map(j =>
              bits(if (r.isNullAt(j)) None else Some(r.getDouble(j)))))
            .transpose match {
              case cs => series.zip(
                if (cs.isEmpty) series.map(_ => Seq.empty[Option[Long]])
                else cs).toMap
            }
        // independent closed-year aggregates over the integer grid:
        // avg price = exact int sum / count, sum qty = exact int sum —
        // bitwise what the engine's groupBy produces for the same rows.
        // The lagged source C/PC reads the PREVIOUS PRESENT row (the
        // engine's lag is a physical row offset); the frame's first
        // present row has no predecessor and its null is skipped, like
        // the engine's null-ignoring avg/sum.
        val prevOf: Map[Int, Int] =
          present.zip(present.drop(1)).map(_.swap).toMap
        def yearAggs(y: Int): Seq[Double] = {
          val rows = present.filter(yr(_) == y)
          terms.flatMap { case (_, q) =>
            val vals: Seq[(Double, Double)] = q match {
              case "A" => rows.map(i => (pav(i), av(i)))
              case "B" => rows.map(i => (pbv(i), bv(i)))
              case _   => rows.flatMap(i =>
                prevOf.get(i).map(p => (pav(p), av(p))))
            }
            Seq(vals.map(_._1).sum / vals.size, vals.map(_._2).sum)
          }
        }
        var emitted = Set.empty[Int]
        var carried = Seq.empty[Int]
        var state = Map.empty[Int, Seq[Double]]   // closed year -> aggs
        Seq(0 until 14, 14 until 34, 34 until 42).foreach { r =>
          val batchIdx = present.filter(r.contains)
          val workIdx = (carried ++ batchIdx).distinct.sorted
          if (workIdx.nonEmpty) {
            // seed = the state as of the END of the previous batch
            // (the executor reads _state/v=n-1)
            val seed: Map[String, org.apache.spark.sql.DataFrame] =
              if (state.isEmpty) Map.empty
              else Map("X" -> (
                if (terms.size == 1)
                  state.toSeq.sortBy(_._1)
                    .map { case (y, s) => (y, s(0), s(1)) }
                    .toDF("__year", "__p0", "__q0")
                else
                  state.toSeq.sortBy(_._1)
                    .map { case (y, s) => (y, s(0), s(1), s(2), s(3)) }
                    .toDF("__year", "__p0", "__q0", "__p1", "__q1")))
            val out = FameSession.run(script, fr(workIdx),
              chainSeed = seed).df
            val maxYr = yr(workIdx.max)
            val emitIdx = workIdx.filter(i => !emitted.contains(i) &&
              yr(i) < maxYr && base < maxYr)
            val emitDates = emitIdx.map(dates).toSet
            assert(byDate(out, emitDates) == byDate(full, emitDates),
              s"chain batch $r diverged (base=$base lag=$lagK " +
                s"present=${present.size}):\n$script")
            emitted ++= emitIdx
            // finalize years that closed this batch
            present.map(yr).distinct.filter(y => y < maxYr &&
              !state.contains(y)).foreach(y => state += y -> yearAggs(y))
            // carry: unemitted suffix + its lagK physical predecessors
            val unem = workIdx.filterNot(emitted.contains)
            val keep =
              if (unem.isEmpty) workIdx.takeRight(lagK)
              else {
                val posFirst = workIdx.indexOf(unem.min)
                workIdx.drop(math.max(0, posFirst - lagK))
              }
            carried = keep
          }
        }
        // after all batches: everything except the open last year (and,
        // for base=1997 with no 1998 rows present, nothing) is emitted
        val maxYrAll = yr(present.max)
        assert(emitted == present.filter(i =>
          yr(i) < maxYrAll && base < maxYrAll).toSet, script)
    }
    assert(lateBase >= 5, s"only $lateBase draws used the 1997 base " +
      "(the pre-base backlog flush shape)")
    assert(gapped >= 20, s"only $gapped draws had month gaps")
    assert(laggedSrc >= 4, s"only $laggedSrc draws chained a LAGGED " +
      "derived source (the r17 widening)")
  }

  test("eligibility walker: generated-script verdicts match the " +
      "independent reach algebra, and every Right(maxLag) script is " +
      "batch-equivalent over a maxLag tail across 3 micro-batches") {
    import org.apache.spark.sql.functions.col
    val dates = (1 to 9).map(m => f"1995-$m%02d-01")
    var rights = 0
    var lefts = 0
    var masked = 0
    var pits = 0
    var ambient = 0
    var lookups = 0
    var rightLookups = 0
    var wholeSeries = 0
    var rightWholeSeries = 0
    forAllN(Gen.zip(genScript,
      Gen.listOfN(9, Gen.choose(1, 50)),
      Gen.listOfN(9, Gen.choose(1, 50))), n = 160) {
      case ((script, expect), revRaw, cntRaw) =>
        if (script.contains("set <date")) masked += 1
        if (script.linesIterator.exists(l =>
          l.contains("[1995-") && l.indexOf('=') > l.indexOf(']'))) pits += 1
        if (script.linesIterator.exists(_.startsWith("date 1995"))) ambient += 1
        if (script.contains("[\"1995-")) {
          lookups += 1
          if (expect.isRight) rightLookups += 1
        }
        val ws = Seq("ave(", "firstvalue(", "lastvalue(")
          .exists(script.contains)
        if (ws) {
          wholeSeries += 1
          if (expect.isRight) rightWholeSeries += 1
        }
        // the schema is what lets the walker trust a masked target had
        // nothing to preserve (bounded support) — the streaming entry
        // points pass it the same way
        val got = incrementalEligibility(script,
          inputColumns = Some(Set("REV", "CNT")))
        expect match {
          case Left(_) =>
            lefts += 1
            assert(got.isLeft, s"walker accepted a refused script:\n$script")
          case Right(m) =>
            rights += 1
            assert(got == Right(m),
              s"walker said $got, independent algebra says Right($m):\n$script")
            // ground truth: maxLag input-tail suffices for batch parity
            val rev = revRaw.map(_ + 0.5)
            val cnt = cntRaw.map(_ + 0.25)
            val full = FameSession.run(script,
              frame(dates, "REV" -> rev, "CNT" -> cnt)).df
            val series = full.columns.filter(c =>
              c.startsWith("V") || c.startsWith("AA_V"))
            def byDate(df: org.apache.spark.sql.DataFrame,
                keep: Set[String]): Map[String, Seq[Option[Long]]] =
              df.where(col("DATE").isInCollection(keep.toSeq.map(d)))
                .orderBy("DATE")
                .select(series.map(col).toIndexedSeq: _*).collect().toSeq
                .map(r => series.indices.map(j =>
                  bits(if (r.isNullAt(j)) None else Some(r.getDouble(j)))))
                .transpose match {
                  case cols => series.zip(
                    if (cols.isEmpty) series.map(_ => Seq.empty[Option[Long]])
                    else cols).toMap
                }
            var consumed = 0
            Seq(0 until 3, 3 until 6, 6 until 9).foreach { idx =>
              val tailIdx = (consumed - m).max(0) until consumed
              val workIdx = tailIdx ++ idx
              val work = FameSession.run(script,
                frame(workIdx.map(dates),
                  "REV" -> workIdx.map(rev), "CNT" -> workIdx.map(cnt))).df
              val batchDates = idx.map(dates).toSet
              val gotCols = byDate(work, batchDates)
              val wantCols = byDate(full, batchDates)
              assert(gotCols == wantCols,
                s"batch $idx diverged from whole-history (maxLag=$m):\n" +
                  s"$script\n got=$gotCols\nwant=$wantCols")
              consumed += idx.size
            }
        }
    }
    // the generator must actually exercise both sides at real volume,
    // and the masked / point-in-time statement forms must appear (the
    // r12 stretch: their incremental coverage was previously thin)
    assert(rights >= 30, s"only $rights Right scripts generated")
    assert(lefts >= 30, s"only $lefts Left scripts generated")
    assert(masked >= 20, s"only $masked scripts with a date-masked stmt")
    assert(pits >= 20, s"only $pits scripts with a point-in-time stmt")
    // the r14 widening must actually be exercised: ambient `date A to B`
    // masks appear, fixed-date lookups appear, and — the point — some
    // lookup-bearing scripts are ELIGIBLE (bounded by their horizon)
    // and survive the bit-exact 3-batch parity check above
    assert(ambient >= 10, s"only $ambient scripts with an ambient date mask")
    assert(lookups >= 10, s"only $lookups scripts with a fixed-date lookup")
    assert(rightLookups >= 5,
      s"only $rightLookups ELIGIBLE lookup-bearing scripts generated")
    // the r15 widening must actually be exercised: whole-series calls
    // appear, and some whole-series-bearing scripts are ELIGIBLE
    // (bounded support + closed horizon) and survive bit-exact parity
    assert(wholeSeries >= 10,
      s"only $wholeSeries scripts with a whole-series call")
    assert(rightWholeSeries >= 3,
      s"only $rightWholeSeries ELIGIBLE whole-series-bearing scripts")
  }

  test("eligibility walker, PARTITIONED (r16): keyed verdicts EQUAL " +
      "unkeyed (incl. lookups — per-key columns), and every keyed " +
      "Right(maxLag) script is batch-equivalent over PER-KEY maxLag " +
      "tails across 3 micro-batches") {
    import org.apache.spark.sql.functions.col
    val dates = (1 to 9).map(m => f"1995-$m%02d-01")
    var keyedRights = 0
    var keyedWholeSeries = 0
    var keyedLookups = 0
    forAllN(Gen.zip(genScript,
      Gen.listOfN(9, Gen.choose(1, 50)),
      Gen.listOfN(9, Gen.choose(1, 50))), n = 140) {
      case ((script, expect), revRaw, cntRaw) =>
        val keyed = incrementalEligibility(script,
          inputColumns = Some(Set("REV", "CNT", "K")))
        expect match {
          case Left(_) =>
            // keyed execution supports the full eligible surface, so
            // refusals too must coincide with the unkeyed verdict
            assert(keyed.isLeft,
              s"keyed walker accepted an unkeyed-refused script:\n$script")
          case Right(m) =>
            if (script.contains("[\"1995-")) keyedLookups += 1
            // lookup-free eligible scripts keep the SAME maxLag keyed —
            // the reach arithmetic is per-row and key-blind
            assert(keyed == Right(m),
              s"keyed walker said $keyed, unkeyed algebra Right($m):\n$script")
            keyedRights += 1
            if (Seq("ave(", "firstvalue(", "lastvalue(")
                .exists(script.contains)) keyedWholeSeries += 1
            // ground truth: PER-KEY maxLag tails suffice for keyed batch
            // parity — two keys with distinct data, so a frame-global
            // evaluation of anything would diverge on at least one
            import spark.implicits._
            val revA = revRaw.map(_ + 0.5)
            val cntA = cntRaw.map(_ + 0.25)
            val revB = revRaw.reverse.map(_ + 7.5)
            val cntB = cntRaw.reverse.map(_ + 3.25)
            def kframe(idx: Seq[Int]) =
              (idx.map(i => ("A", d(dates(i)), revA(i), cntA(i))) ++
               idx.map(i => ("B", d(dates(i)), revB(i), cntB(i))))
                .toDF("K", "DATE", "REV", "CNT")
            val full = FameSession.run(script, kframe(0 until 9),
              partitionKeys = Seq("K")).df
            val series = full.columns.filter(c =>
              c.startsWith("V") || c.startsWith("AA_V"))
            def cells(df: org.apache.spark.sql.DataFrame,
                keep: Set[String]): Map[(String, String), Seq[Option[Long]]] =
              df.where(col("DATE").isInCollection(keep.toSeq.map(d)))
                .select((Seq(col("K"), col("DATE").cast("string")) ++
                  series.map(col)).toIndexedSeq: _*)
                .collect().toSeq.map { r =>
                  (r.getString(0), r.getString(1)) ->
                    series.indices.map(j => bits(
                      if (r.isNullAt(j + 2)) None else Some(r.getDouble(j + 2))))
                }.toMap
            var consumed = 0
            Seq(0 until 3, 3 until 6, 6 until 9).foreach { idx =>
              val tailIdx = (consumed - m).max(0) until consumed
              val work = FameSession.run(script,
                kframe(tailIdx ++ idx), partitionKeys = Seq("K")).df
              val batchDates = idx.map(dates).toSet
              assert(cells(work, batchDates) == cells(full, batchDates),
                s"keyed batch $idx diverged (maxLag=$m):\n$script")
              consumed += idx.size
            }
        }
    }
    assert(keyedRights >= 15, s"only $keyedRights keyed-eligible scripts")
    // the r16 widenings must actually be exercised keyed: eligible
    // scripts with whole-series calls AND with fixed-date lookups
    // survive per-key parity
    assert(keyedWholeSeries >= 2,
      s"only $keyedWholeSeries keyed-eligible whole-series scripts")
    assert(keyedLookups >= 3,
      s"only $keyedLookups keyed-eligible lookup-bearing scripts")
  }

  /** Lead-arm generator: plain assigns only, leads ALLOWED at statement
    * level — the expectation is Right((maxLead, maxLag)) with env
    * growing on every accepted statement (lead-bearing included, the
    * difference from genScript), Left for the shapes hold-back cannot
    * help (lookups/whole-series, which genExpr emits as Left under a
    * None horizon and empty supports).
    */
  private val genLeadScript: Gen[(String, Either[String, (Int, Int)])] = {
    val base = Map("REV" -> (0, 0), "CNT" -> (0, 0))
    def stmts(i: Int, n: Int, env: Map[String, (Int, Int)],
        acc: List[String], expect: Either[String, (Int, Int)])
        : Gen[(String, Either[String, (Int, Int)])] =
      if (i > n)
        Gen.const((("freq m" :: acc.reverse).mkString("\n"), expect))
      else {
        // right-bias: under a None horizon every lookup / whole-series
        // leaf is a refusal, which compounds to mostly-Left scripts;
        // retry twice so ACCEPTED (parity-checked) volume stays high
        // while genuine refusals still appear
        val biased = genExpr(2, env, None, Map.empty).flatMap {
          case l1 if l1._2.isLeft =>
            genExpr(2, env, None, Map.empty).flatMap {
              case l2 if l2._2.isLeft => genExpr(2, env, None, Map.empty)
              case r2 => Gen.const(r2)
            }
          case r1 => Gen.const(r1)
        }
        biased.flatMap { case (txt, r) =>
        val folded = s"V$i"
        val nextExpect = expect.flatMap { case (ld0, lg0) =>
          r.map { case (ld, lg) =>
            (math.max(ld0, ld), math.max(lg0, lg)) }
        }
        val nextEnv = r match {
          case Right((ld, lg)) =>
            val old = env.getOrElse(folded, (0, 0))
            env + (folded ->
              (math.max(old._1, ld), math.max(old._2, lg)))
          case _ => env
        }
        stmts(i + 1, n, nextEnv, s"v$i = $txt" :: acc, nextExpect)
        }
      }
    Gen.choose(2, 4).flatMap(n =>
      stmts(1, n, base, Nil, Right((0, 0))))
  }

  test("lead-aware reach (r16 hold-back): generated lead/lag scripts " +
      "match the independent (maxLead, maxLag) algebra, and every " +
      "accepted script is HOLD-BACK batch-equivalent — emitted rows " +
      "bit-equal the whole-history run, the newest maxLead rows pend") {
    import org.apache.spark.sql.functions.col
    val dates = (1 to 9).map(m => f"1995-$m%02d-01")
    var rights = 0
    var leadRights = 0
    var lefts = 0
    forAllN(Gen.zip(genLeadScript,
      Gen.listOfN(9, Gen.choose(1, 50)),
      Gen.listOfN(9, Gen.choose(1, 50))), n = 120) {
      case ((script, expect), revRaw, cntRaw) =>
        val got = incrementalReach(script,
          inputColumns = Some(Set("REV", "CNT")))
        // keyed verdicts must equal unkeyed across the lead surface too
        // (the q215 bug class: a keyed path silently diverging)
        assert(incrementalReach(script,
          inputColumns = Some(Set("REV", "CNT", "K"))) == got, script)
        expect match {
          case Left(_) =>
            lefts += 1
            assert(got.isLeft, s"reach accepted a refused script:\n$script")
          case Right((led, lag)) =>
            rights += 1
            if (led > 0) leadRights += 1
            assert(got == Right((led, lag)),
              s"reach said $got, independent algebra Right(($led, $lag))" +
                s":\n$script")
            // ground truth: runIncremental's hold-back mechanics —
            // carry the last (lag+lead) input rows, emit a row only
            // once `led` rows after it have arrived — reproduce the
            // whole-history run bit-for-bit on every EMITTED row,
            // across 3 micro-batches
            val rev = revRaw.map(_ + 0.5)
            val cnt = cntRaw.map(_ + 0.25)
            val full = FameSession.run(script,
              frame(dates, "REV" -> rev, "CNT" -> cnt)).df
            val series = full.columns.filter(_.startsWith("V"))
            def byDate(df: org.apache.spark.sql.DataFrame,
                keep: Set[String]): Map[String, Seq[Option[Long]]] =
              df.where(col("DATE").isInCollection(keep.toSeq.map(d)))
                .orderBy("DATE")
                .select(series.map(col).toIndexedSeq: _*).collect().toSeq
                .map(r => series.indices.map(j =>
                  bits(if (r.isNullAt(j)) None else Some(r.getDouble(j)))))
                .transpose match {
                  case cols => series.zip(
                    if (cols.isEmpty) series.map(_ => Seq.empty[Option[Long]])
                    else cols).toMap
                }
            var carried = Seq.empty[Int]
            var emitted = Set.empty[Int]
            Seq(0 until 3, 3 until 6, 6 until 9).foreach { idx =>
              val workIdx = carried ++ idx
              val work = FameSession.run(script,
                frame(workIdx.map(dates),
                  "REV" -> workIdx.map(rev), "CNT" -> workIdx.map(cnt))).df
              // emit: not yet emitted, and ≥ led rows after it in frame
              val emitIdx = workIdx.zipWithIndex.collect {
                case (gi, pos) if workIdx.size - pos > led &&
                  !emitted.contains(gi) => gi
              }
              val emitDates = emitIdx.map(dates).toSet
              assert(byDate(work, emitDates) == byDate(full, emitDates),
                s"hold-back batch $idx diverged (lead=$led, lag=$lag):\n" +
                  script)
              emitted ++= emitIdx
              carried = workIdx.takeRight(lag + led)
            }
            // after all batches exactly the newest `led` rows pend
            assert(emitted == (0 until 9 - led).toSet,
              s"emitted $emitted with lead=$led:\n$script")
        }
    }
    assert(rights >= 40, s"only $rights accepted scripts generated")
    assert(leadRights >= 15,
      s"only $leadRights accepted LEAD-bearing scripts generated")
    assert(lefts >= 10, s"only $lefts refused scripts generated")
  }

  /** Pin-arm generator (r16 open-ended-mask widening; r17 gapped-date
    * hardening): one closed-mask bounded-support statement, then 1–3
    * OPEN-ENDED-mask statements whose exprs mix lags, fixed-date
    * lookups dated ≤ the mask start (of the input AND of the lagged
    * derived series — the read series' own lag rides in as a PHYSICAL
    * prec row count, not a period-widened window), and whole-series
    * over the support. Also draws a per-month keep-mask so the frame
    * has per-key date GAPS — the case where period-widened pins
    * under-pin (the r17 ADVICE fix). Carries the independently-
    * computed expectation: (maxLag, pins as (startMonth, endMonth,
    * prec, foll) in statement/site order).
    */
  private val genPinScript
      : Gen[(String, Int, List[(Int, Int, Int, Int)], List[Boolean])] = {
    def mdate(m: Int): String = f"1995-$m%02d-01"
    for {
      j <- Gen.oneOf(0, 1)            // m1's own lag
      s1 <- Gen.choose(1, 3)
      s2 <- Gen.choose(s1, 4)
      nOpen <- Gen.choose(1, 3)
      terms <- Gen.listOfN(nOpen, for {
        lo <- Gen.choose(s2, 9)
        kind1 <- Gen.choose(0, 3)
        kind2 <- Gen.choose(0, 3)
        mm1 <- Gen.choose(1, lo)
        mm2 <- Gen.choose(1, lo)
        k <- Gen.choose(1, 2)
        ws <- Gen.oneOf("ave", "firstvalue", "lastvalue")
        inline <- Gen.oneOf(true, false)
        useScalar <- Gen.oneOf(true, false)
      } yield (lo, Seq((kind1, mm1), (kind2, mm2)), k, ws, inline,
        useScalar))
      keepMask <- Gen.listOfN(9, Gen.frequency(3 -> true, 1 -> false))
        .suchThat(_.count(identity) >= 5)
    } yield {
      val m1rhs = if (j == 0) "rev" else s"rev[t-$j]"
      val header = List("freq m",
        f"set <date ${mdate(s1)} to ${mdate(s2)}> m1 = $m1rhs")
      var lag = j                      // m1's statement records lag j
      val pins = List.newBuilder[(Int, Int, Int, Int)]
      val body = terms.zipWithIndex.map {
        case ((lo, kinds, k, ws, inline, useScalar), i) =>
          // r17 scalar arm: a whole-series slot may route through a
          // DERIVED SCALAR declared first — the scalar's pin registers
          // at ITS statement, so script order puts it before the open-
          // mask statement's own pins
          val pre = List.newBuilder[String]
          kinds.zipWithIndex.foreach {
            case ((3, _), slot) if useScalar =>
              pins += ((s1, s2, j, 0))
              pre += s"scalar sc${i + 1}_$slot = $ws(m1)"
            case _ => ()
          }
          val txt = kinds.zipWithIndex.map {
            case ((0, _), _) =>        // plain lag
              lag = math.max(lag, k); s"pct((abs(rev) + 2), $k)"
            case ((1, mm), _) =>       // input lookup: window only
              pins += ((mm, mm, 0, 0)); f"""rev["${mdate(mm)}"]"""
            case ((2, mm), _) =>       // derived lookup: + j prec ROWS
              pins += ((mm, mm, j, 0)); f"""m1["${mdate(mm)}"]"""
            case ((_, _), slot) =>     // whole-series: + j prec ROWS
              if (useScalar) s"sc${i + 1}_$slot"
              else { pins += ((s1, s2, j, 0)); s"$ws(m1)" }
          }.mkString("(", " + ", ")")
          pre.result() ++
            (if (inline)
              List(s"set <date ${mdate(lo)} to *> v${i + 1} = $txt")
            else List(s"date ${mdate(lo)} to *", s"v${i + 1} = $txt",
              "date *"))
      }
      ((header ++ body.flatten).mkString("\n"), lag, pins.result(),
        keepMask)
    }
  }

  test("pin-aware plan (r16 open-ended masks; r17 gapped frames): " +
      "generated pin scripts match the independent (maxLag, pins) " +
      "algebra with PHYSICAL-row prec counts, and the pinned work " +
      "frame — carry selected by row rank, not date windows — is " +
      "batch-equivalent on EVERY row across 3 batches over GAPPED " +
      "per-key dates") {
    import org.apache.spark.sql.functions.col
    import java.time.LocalDate
    val dates = (1 to 9).map(m => f"1995-$m%02d-01")
    var withDerivedLookup = 0
    var withWholeSeries = 0
    var gappedPinPrec = 0
    var scalarArm = 0
    forAllN(Gen.zip(genPinScript,
      Gen.listOfN(9, Gen.choose(1, 50)),
      Gen.listOfN(9, Gen.choose(1, 50))), n = 120) {
      case ((script, lag, pinSpec, keepMask), revRaw, cntRaw) =>
        if (script.contains("m1[\"")) withDerivedLookup += 1
        if (Seq("ave(m1)", "firstvalue(m1)", "lastvalue(m1)")
            .exists(script.contains)) withWholeSeries += 1
        val present = (0 until 9).filter(keepMask)
        val wantPins = pinSpec.map { case (a, b, prec, foll) =>
          FameStream.Pin(LocalDate.of(1995, a, 1),
            LocalDate.of(1995, b, 1), prec, foll)
        }
        // the tail-reach walkers refuse any pin-requiring script
        // (a draw with only plain lags under the open mask is
        // legitimately tail-eligible — no fixed reads, no pins)
        if (wantPins.nonEmpty)
          assert(incrementalReach(script,
            inputColumns = Some(Set("REV", "CNT"))).isLeft, script)
        val got = FameStream.incrementalPlan(script,
          inputColumns = Some(Set("REV", "CNT")))
        assert(got == Right(FameStream.IncrementalPlan(0, lag, wantPins)),
          s"plan said $got, independent algebra " +
            s"(0, $lag, $wantPins):\n$script")
        // EVERY shape here — scalar-bearing included since r18 —
        // verdicts identically keyed and unkeyed: the batch engine
        // extracts series-derived scalars per key, so the keyed replay
        // is as deterministic as the unkeyed one
        val keyed = FameStream.incrementalPlan(script,
          inputColumns = Some(Set("REV", "CNT", "K")))
        assert(keyed == got, script)
        if (script.contains("scalar sc")) {
          scalarArm += 1
          // keyed batch DECOMPOSITION (r18, first draws only — each is
          // 3 extra engine runs): a 2-key frame with different data per
          // key must equal per-key unkeyed runs cell-for-cell — the
          // per-key scalar extraction must not leak one key's value
          // into the other (the pre-r18 frame-global extraction did)
          if (scalarArm <= 8) {
            import org.apache.spark.sql.functions.lit
            val present9 = (0 until 9).filter(keepMask)
            val rvA = revRaw.map(_ + 0.5); val cnA = cntRaw.map(_ + 0.25)
            val rvB = revRaw.map(_ + 7.5); val cnB = cntRaw.map(_ + 3.25)
            def fr1(rv: Seq[Double], cn: Seq[Double]) =
              frame(present9.map(dates), "REV" -> present9.map(rv),
                "CNT" -> present9.map(cn))
            val keyedOut = FameSession.run(script,
              fr1(rvA, cnA).withColumn("K", lit("A")).unionByName(
                fr1(rvB, cnB).withColumn("K", lit("B"))),
              partitionKeys = Seq("K")).df
            val sers = keyedOut.columns.filter(c =>
              c.startsWith("V") || c == "M1").toSeq
            def cells(df: org.apache.spark.sql.DataFrame) =
              df.orderBy("DATE").select(sers.map(col).toIndexedSeq: _*)
                .collect().toSeq.map(r => sers.indices.map(j =>
                  bits(if (r.isNullAt(j)) None else Some(r.getDouble(j)))))
            assert(cells(keyedOut.where(col("K") === "A")) ==
              cells(FameSession.run(script, fr1(rvA, cnA)).df), script)
            assert(cells(keyedOut.where(col("K") === "B")) ==
              cells(FameSession.run(script, fr1(rvB, cnB)).df), script)
          }
        }
        // ground truth: runIncremental's pin-aware carry — last maxLag
        // rows PLUS every arrived pin-selected row, where a pin keeps
        // its window rows AND their prec/foll PHYSICAL neighbors (row
        // offsets over the present rows, independently derived here —
        // NOT the plan's date windows) — is batch-equivalent on every
        // batch row (maxLead = 0: all rows emit on arrival). On a
        // gapped frame a date-widened carry would drop the physical
        // predecessor a derived pin depends on; this emulation (and
        // the executor) must not.
        val rev = revRaw.map(_ + 0.5)
        val cnt = cntRaw.map(_ + 0.25)
        val full = FameSession.run(script,
          frame(present.map(dates),
            "REV" -> present.map(rev), "CNT" -> present.map(cnt))).df
        val series = full.columns.filter(c =>
          c.startsWith("V") || c == "M1")
        def byDate(df: org.apache.spark.sql.DataFrame,
            keep: Set[String]): Map[String, Seq[Option[Long]]] =
          df.where(col("DATE").isInCollection(keep.toSeq.map(d)))
            .orderBy("DATE")
            .select(series.map(col).toIndexedSeq: _*).collect().toSeq
            .map(r => series.indices.map(j =>
              bits(if (r.isNullAt(j)) None else Some(r.getDouble(j)))))
            .transpose match {
              case cols => series.zip(
                if (cols.isEmpty) series.map(_ => Seq.empty[Option[Long]])
                else cols).toMap
            }
        // the executor's rank selection, derived independently from
        // physical row offsets over the (sorted) work frame
        def pinRows(work: Seq[Int]): Set[Int] =
          wantPins.flatMap { p =>
            val inWin = work.filter { i =>
              val dt = LocalDate.parse(dates(i))
              !dt.isBefore(p.start) && !dt.isAfter(p.end)
            }
            if (inWin.isEmpty) Seq.empty[Int]
            else {
              val posFirst = work.indexOf(inWin.head)
              val posLast = work.indexOf(inWin.last)
              inWin ++
                work.slice(math.max(0, posFirst - p.prec), posFirst) ++
                work.slice(posLast + 1, posLast + 1 + p.foll)
            }
          }.toSet
        // count draws where the physical predecessor a derived pin
        // carries sits MORE THAN prec months back (a date gap right
        // before the window) — the exact shape the r16 date-widened
        // carry lost
        if (wantPins.exists { p =>
          p.prec > 0 && {
            val inWin = present.filter { i =>
              val dt = LocalDate.parse(dates(i))
              !dt.isBefore(p.start) && !dt.isAfter(p.end)
            }
            inWin.nonEmpty && {
              val posFirst = present.indexOf(inWin.head)
              posFirst >= p.prec &&
                inWin.head - present(posFirst - p.prec) > p.prec
            }
          }
        }) gappedPinPrec += 1
        var carried = Seq.empty[Int]
        Seq(0 until 3, 3 until 6, 6 until 9).foreach { idx =>
          val batchIdx = present.filter(idx.contains)
          val workIdx = (carried ++ batchIdx).distinct.sorted
          if (workIdx.nonEmpty) {
            val work = FameSession.run(script,
              frame(workIdx.map(dates),
                "REV" -> workIdx.map(rev), "CNT" -> workIdx.map(cnt))).df
            val batchDates = batchIdx.map(dates).toSet
            assert(byDate(work, batchDates) == byDate(full, batchDates),
              s"pinned batch $idx diverged (lag=$lag pins=$wantPins " +
                s"present=$present):\n$script")
            carried = (workIdx.takeRight(lag) ++ pinRows(workIdx))
              .distinct.sorted
          }
        }
    }
    assert(withDerivedLookup >= 10,
      s"only $withDerivedLookup scripts look up the LAGGED derived series")
    assert(withWholeSeries >= 10,
      s"only $withWholeSeries scripts aggregate the bounded support")
    assert(gappedPinPrec >= 3,
      s"only $gappedPinPrec draws put a date gap inside a derived " +
        "pin's physical-predecessor span — the r17 fix's target shape")
    assert(scalarArm >= 10,
      s"only $scalarArm scripts routed a whole-series read through a " +
        "derived scalar (the r17 pinned-scalar widening)")
  }

  test("bucket hold-back (r16 down-conversions): over generated SPARSE " +
      "month patterns, the plan is (span-1, lag, bucketed) and the " +
      "pinned emission rule — inputs past the hold, synthetic anchors " +
      "between the carried cutoffs — is batch-equivalent bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val allDates = (1 to 9).map(m => f"1995-$m%02d-01")
    var synthScripts = 0
    val gen = for {
      keepMask <- Gen.listOfN(9, Gen.frequency(3 -> true, 1 -> false))
        .suchThat(_.count(identity) >= 5)
      obs <- Gen.oneOf("sum", "average", "first", "last", "high", "low")
      withMom <- Gen.oneOf(true, false)
    } yield (keepMask, obs, withMom)
    forAllN(Gen.zip(gen, Gen.listOfN(9, Gen.choose(1, 50))), n = 60) {
      case ((keepMask, obs, withMom), revRaw) =>
        val present = (0 until 9).filter(keepMask)
        val rev = revRaw.map(_ + 0.5)
        val script = ("freq m" ::
          (if (withMom) List("mom = pct(rev)") else Nil) :::
          List(s"vq = convert(rev, q, discrete, $obs)")).mkString("\n")
        val lag = if (withMom) 1 else 0
        assert(FameStream.incrementalPlan(script,
          inputColumns = Some(Set("REV"))) ==
          Right(FameStream.IncrementalPlan(2, lag, Nil, bucketed = true)),
          script)
        assert(FameStream.incrementalPlan(script,
          inputColumns = Some(Set("REV", "K"))) ==
          FameStream.incrementalPlan(script,
            inputColumns = Some(Set("REV"))), script)
        def fr(idx: Seq[Int]) =
          frame(idx.map(allDates), "REV" -> idx.map(rev))
        val full = FameSession.run(script, fr(present)).df
        val series = (if (withMom) Seq("MOM") else Nil) :+ "REV_QTRLY"
        def cellMap(df: org.apache.spark.sql.DataFrame,
            keep: Set[String]): Map[String, Seq[Option[Long]]] =
          df.where(col("DATE").isInCollection(keep.toSeq.map(d)))
            .select((Seq(col("DATE").cast("string")) ++
              series.map(col)): _*).collect().toSeq
            .map(r => r.getString(0) -> series.indices.map(j =>
              bits(if (r.isNullAt(j + 1)) None
                else Some(r.getDouble(j + 1)))))
            .toMap
        // emulate runIncremental's bucketed mechanics: carry the last
        // lag+2+1 inputs, emit inputs past the 2-row hold, emit
        // synthetic anchors in (prevCut, cutNew]
        val hold = 2
        val carrySize = lag + hold + 1
        var carried = Seq.empty[Int]
        var emittedInputs = Set.empty[Int]
        var anySynth = false
        Seq(0 until 3, 3 until 6, 6 until 9).foreach { r =>
          val batchIdx = present.filter(r.contains)
          val workIdx = carried ++ batchIdx
          if (workIdx.nonEmpty) {
            val work = FameSession.run(script, fr(workIdx)).df
            val emitIn = workIdx.zipWithIndex.collect {
              case (gi, pos) if workIdx.size - pos > hold &&
                !emittedInputs.contains(gi) => gi
            }
            val cutNew =
              if (workIdx.size > hold) Some(workIdx(workIdx.size - 1 - hold))
              else None
            val prevCut = emittedInputs.maxOption
            val workDates = workIdx.map(allDates).toSet
            val synthDates = work.select(col("DATE").cast("string"))
              .collect().map(_.getString(0)).toSet -- workDates
            val emitSynth = synthDates.filter { sd =>
              cutNew.exists(c => sd <= allDates(c)) &&
                prevCut.forall(p => sd > allDates(p))
            }
            if (emitSynth.nonEmpty) anySynth = true
            val emitDates = emitIn.map(allDates).toSet ++ emitSynth
            assert(cellMap(work, emitDates) == cellMap(full, emitDates),
              s"bucket batch $r diverged (present=$present obs=$obs):\n" +
                script)
            emittedInputs ++= emitIn
            carried = workIdx.takeRight(carrySize)
          }
        }
        // the hold: exactly the newest 2 inputs never emitted
        assert(emittedInputs == present.dropRight(2).toSet,
          s"emitted $emittedInputs of $present")
        if ((present.map(allDates).toSet.intersect(
          Set("1995-01-01", "1995-04-01", "1995-07-01"))).size < 3)
          synthScripts += 1
    }
    assert(synthScripts >= 15,
      s"only $synthScripts scripts exercised a synthetic anchor")
  }

  test("relaxed-fp fishvol seeding (r18): for ANY split point, the " +
      "seeded fold over the suffix bit-equals the whole-history fold — " +
      "the inductive step the incremental tier rests on, checked " +
      "against an independent unseeded run (native ProductAgg makes " +
      "the seeded continuation the same multiplication sequence; the " +
      "documented tier tolerance is round(,8))") {
    import org.apache.spark.sql.functions.col
    import graft.kernels.Indices
    val dates = (0 until 24).map(i =>
      f"${1995 + i / 12}-${i % 12 + 1}%02d-01")
    val gen = Gen.zip(
      Gen.listOfN(24, Gen.choose(1, 50)), Gen.listOfN(24, Gen.choose(1, 50)),
      Gen.listOfN(24, Gen.choose(1, 9)), Gen.listOfN(24, Gen.choose(1, 9)),
      Gen.choose(2, 23))
    var checked = 0
    forAllN(gen, n = 25) { case (ar, br, par, pbr, split) =>
      val a = ar.map(_ + 0.5); val b = br.map(_ + 0.25)
      val pa = par.map(_ + 0.5); val pb = pbr.map(_ + 0.75)
      def fr(idx: Seq[Int]) = frame(idx.map(dates),
        "A" -> idx.map(a), "B" -> idx.map(b),
        "PA" -> idx.map(pa), "PB" -> idx.map(pb))
      def rawsOf(df: org.apache.spark.sql.DataFrame)
          : Map[String, (Long, Long)] =
        df.select(col("DATE").cast("string"), col("__FV_RAW"),
            col("__FV_RAW") / col("__FV_BAVG") * org.apache.spark.sql
              .functions.lit(100.0))
          .collect().filterNot(_.isNullAt(1)).map(r => r.getString(0) ->
            (java.lang.Double.doubleToLongBits(r.getDouble(1)),
             java.lang.Double.doubleToLongBits(r.getDouble(2)))).toMap
      val full = rawsOf(Indices.fishvolRaw(fr(0 until 24), "DATE",
        Seq("A", "B"), Seq("PA", "PB"), 1995))
      // seed = the full run's raw at the row before the split + the
      // closed base average — exactly what the executor carries
      val sr = full(dates(split - 1))._1
      val bavgBits = {
        val r = Indices.fishvolRaw(fr(0 until 24), "DATE",
          Seq("A", "B"), Seq("PA", "PB"), 1995)
          .select(col("__FV_BAVG")).limit(1).collect()(0)
        r.getDouble(0)
      }
      val seedDf = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          java.lang.Double.longBitsToDouble(sr),
          java.sql.Date.valueOf(dates(split - 1)), bavgBits)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__FV_SEED",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("__FV_SEED_DATE",
            org.apache.spark.sql.types.DateType),
          org.apache.spark.sql.types.StructField("__FV_BAVG_ST",
            org.apache.spark.sql.types.DoubleType)).toArray))
      // the work frame the executor would hold: the 1-row lag tail
      // (the link at the first fresh row reads its predecessor) + fresh
      val part = rawsOf(Indices.fishvolRaw(fr((split - 1) until 24),
        "DATE", Seq("A", "B"), Seq("PA", "PB"), 1995,
        seed = Some(seedDf)))
      // ProductAgg is the only product: the seeded continuation is the
      // SAME multiplication sequence, so every cell is bit-exact
      (split until 24).foreach { i =>
        assert(part(dates(i)) == full(dates(i)),
          s"split $split date ${dates(i)}: got ${part(dates(i))} " +
            s"want ${full(dates(i))}")
        checked += 1
      }
      // rows at/before the seed date are NOT recomputed (null raw)
      assert(!part.contains(dates(split - 1)))
    }
    assert(checked > 0)
  }

  test("anchored shift_pct flush (r19): for ANY window [start, anchor], " +
      "work-frame start ≤ start−1 and frontier > anchor, the backward " +
      "reconstruction over the held work frame BIT-equals the " +
      "whole-history run — the anchor hold-back's soundness argument " +
      "(every factor a window row needs lives on rows ≤ anchor, all " +
      "held; rows beyond the frontier contribute null factors to both)") {
    import org.apache.spark.sql.functions.col
    import graft.kernels.ShiftPct
    val dates = (0 until 24).map(i =>
      f"${1995 + i / 12}-${i % 12 + 1}%02d-01")
    val gen = for {
      rev <- Gen.listOfN(24, Gen.choose(50, 150))
      s <- Gen.choose(1, 8)
      a <- Gen.choose(s + 2, 20)
      frontier <- Gen.choose(a + 1, 23)
      workStart <- Gen.choose(0, s - 1)
    } yield (rev, s, a, frontier, workStart)
    forAllN(gen, n = 30) { case (revI, s, a, frontier, workStart) =>
      val rev = revI.map(_.toDouble)
      val lvl = rev.map(_ * 2)
      def fr(idx: Seq[Int]) = frame(idx.map(dates),
        "REV" -> idx.map(rev), "LVL" -> idx.map(lvl))
      def bits(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
        df.select(col("DATE").cast("string"), col("LVL"))
          .collect().filterNot(_.isNullAt(1))
          .map(r => r.getString(0) ->
            java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap
      val start = Some(java.time.LocalDate.parse(dates(s)))
      val anchor = java.time.LocalDate.parse(dates(a))
      val full = bits(ShiftPct.backwards(fr(0 until 24), "DATE",
        Seq("LVL" -> "REV"), start, anchor))
      val part = bits(ShiftPct.backwards(
        fr(workStart to frontier), "DATE",
        Seq("LVL" -> "REV"), start, anchor))
      (s to a).foreach { i =>
        assert(part(dates(i)) == full(dates(i)),
          s"window [$s,$a] frontier $frontier workStart $workStart " +
            s"date ${dates(i)}: " +
            s"${java.lang.Double.longBitsToDouble(part(dates(i)))} vs " +
            s"${java.lang.Double.longBitsToDouble(full(dates(i)))}")
      }
      // rows outside the window keep the un-shifted level on both
      (workStart until s).foreach { i =>
        assert(part(dates(i)) == full(dates(i)))
      }
    }
  }

  test("observation hold-back up-conversion (r19): for ANY gapped " +
      "observation set and ANY frontier, the upsample over the held " +
      "work frame (observations up to the frontier) BIT-equals the " +
      "whole-history run on every grid row at or before the emission " +
      "cutoff — the newest observation, or the second-newest for cubic " +
      "(the interpolation stencil is the hold-back radius)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.kernels.Convert
    import graft.ast.Frequency
    val qdates = (0 until 16).map(i =>
      java.time.LocalDate.of(1995, 1, 1).plusMonths(3L * i).toString)
    val gen = for {
      n <- Gen.choose(3, 10)
      idx <- Gen.pick(n, 0 until 16)
      rev <- Gen.listOfN(n, Gen.choose(50, 150))
      f <- Gen.choose(2, n - 1)
      tech <- Gen.oneOf("constant", "linear", "cubic")
    } yield (idx.sorted.toList, rev, f, tech)
    forAllN(gen, n = 40) { case (idx, revI, f, tech) =>
      val obsDates = idx.map(i => qdates(i))
      val rev = revI.map(_.toDouble)
      def run(k: Int) = Convert.up(
        frame(obsDates.take(k + 1), "REV" -> rev.take(k + 1)),
        "DATE", Seq("REV"), Frequency.Quarterly, Frequency.Monthly, tech)
      val cutoff = java.sql.Date.valueOf(
        if (tech == "cubic") obsDates(f - 1) else obsDates(f))
      def bits(df: org.apache.spark.sql.DataFrame): Map[String, Option[Long]] =
        df.where(col("DATE") <= lit(cutoff))
          .select(col("DATE").cast("string"), col("REV"))
          .collect()
          .map(r => r.getString(0) -> (if (r.isNullAt(1)) None
            else Some(java.lang.Double.doubleToLongBits(r.getDouble(1)))))
          .toMap
      val full = bits(run(idx.size - 1))
      val part = bits(run(f))
      assert(part == full,
        s"obs $idx frontier $f tech $tech cutoff $cutoff")
      // the emitted set is never empty: the frontier observation (or
      // its predecessor for cubic) always has a defined value
      assert(part.nonEmpty && part.values.exists(_.isDefined))
    }
  }
}
