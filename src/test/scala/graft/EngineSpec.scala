package graft

import graft.api.FameSession

/** End-to-end FAME-script execution vs hand-computed expectations — ports
  * the reference's rung-3 suite (SURVEY §5; FIXTURES F1–F5, F9).
  */
class EngineSpec extends SparkSpec {

  test("F1: z = x + y") {
    val in = frame(Seq("2020-01-01"), "X" -> Seq(10), "Y" -> Seq(20))
    val out = FameSession.run("freq m\nz = x + y", in).df
    assertSeq(column(out, "Z"), Seq(Some(30.0)))
  }

  test("F2: conditional routing (tests/test_master_suite.py:326-341)") {
    val in = frame(Seq("2020-01-01", "2020-02-01"),
      "X" -> Seq(10, 3), "Y" -> Seq(100, 200), "Z" -> Seq(0, 0))
    val out = FameSession.run("result = if x gt 5 then y else z", in).df
    assertSeq(column(out, "RESULT"), Seq(Some(100.0), Some(0.0)))
  }

  test("F2b: else nd yields null (tests/test_master_suite.py:822-836)") {
    val in = frame(Seq("2020-01-01", "2020-02-01"), "X" -> Seq(10, 3))
    val out = FameSession.run("result = if x gt 5 then x else nd", in).df
    assertSeq(column(out, "RESULT"), Seq(Some(10.0), None))
  }

  test("division by zero is NC: `/` and pct return null at a zero " +
      "divisor instead of failing the job under ANSI mode") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "A" -> Seq(1.0, 0.0, 3.0), "B" -> Seq(2.0, 0.0, 4.0))
    val out = FameSession.run("freq m\np = pct(a)\nq = a / b", in).df
    assertSeq(column(out, "Q"), Seq(Some(0.5), None, Some(0.75)))
    // pct after the zero level divides by it
    assertSeq(column(out, "P"), Seq(None, Some(-100.0), None))
    // a literal scalar division folds on the driver to the same NC
    val s = FameSession.run("freq m\nscalar s = 1 / 0\nz = a + s", in).df
    assertSeq(column(s, "Z"), Seq(None, None, None))
  }

  test("F3: date-range masking (tests/test_fame2pygen.py:319-389)") {
    val in = frame(Seq("2019-12-01", "2020-06-01", "2020-12-01", "2021-06-01"))
    val out = FameSession.run(
      """freq m
        |v_base = 100
        |date 2020-01-01 to 2020-12-31
        |v_filtered = v_base * 2
        |date *
        |v_all = v_base * 3""".stripMargin, in).df
    assertSeq(column(out, "V_BASE"), Seq.fill(4)(Some(100.0)))
    assertSeq(column(out, "V_FILTERED"), Seq(None, Some(200.0), Some(200.0), None))
    assertSeq(column(out, "V_ALL"), Seq.fill(4)(Some(300.0)))
  }

  test("F3b: piecewise re-assignment preserves existing (tests/test_fame2pygen.py:788-820)") {
    val in = frame(Seq("2019-12-01", "2020-06-01", "2021-06-01"))
    val out = FameSession.run(
      """freq m
        |v = 1
        |date 2020-01-01 to 2020-12-31
        |v = 2""".stripMargin, in).df
    assertSeq(column(out, "V"), Seq(Some(1.0), Some(2.0), Some(1.0)))
  }

  test("F4: point-in-time assignment") {
    val in = frame(Seq("2020-01-01", "2020-02-01"))
    val out = FameSession.run("""gdp["2020-01-01"] = 500""", in).df
    assertSeq(column(out, "GDP"), Seq(Some(500.0), None))
  }

  test("F4b: multiple point-in-time updates fuse") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"), "A" -> Seq(1, 1, 1))
    val out = FameSession.run(
      """a[2020-02-01] = 22
        |a[2020-03-01] = 33""".stripMargin, in).df
    assertSeq(column(out, "A"), Seq(Some(1.0), Some(22.0), Some(33.0)))
  }

  test("weekly literal end-to-end: reference approximation vs isoWeeks") {
    // weekly grid around week 5 of 2020: approx mode resolves 2020.05
    // to Jan 29 (Jan 1 + 28d), ISO mode to Mon Jan 27 — same script,
    // flag decides which row the point assignment lands on
    val in = frame(Seq("2020-01-27", "2020-01-29"))
    val approx = FameSession.run("""w[2020.05] = 7""", in).df
    assertSeq(column(approx, "W"), Seq(None, Some(7.0)))
    val iso = FameSession.run("""w[2020.05] = 7""", in, isoWeeks = true).df
    assertSeq(column(iso, "W"), Seq(Some(7.0), None))
  }

  test("F5: lsum null-as-zero (tests/test_master_suite.py:808-820)") {
    val in = frame(Seq("2020-01-01", "2020-02-01"),
      "A" -> Seq(10, null), "B" -> Seq(null, 20))
    val out = FameSession.run("total = lsum(a, b)", in).df
    assertSeq(column(out, "TOTAL"), Seq(Some(10.0), Some(20.0)))
  }

  test("lead/lag time indexing") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "V" -> Seq(1, 2, 3))
    val out = FameSession.run("x = v[t+1]\ny = v[t-1]", in).df
    assertSeq(column(out, "X"), Seq(Some(2.0), Some(3.0), None))
    assertSeq(column(out, "Y"), Seq(None, Some(1.0), Some(2.0)))
  }

  test("pct and diff") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "V" -> Seq(100, 110, 99))
    val out = FameSession.run("p = pct(v)\nd = diff(v)", in).df
    assertSeq(column(out, "P"), Seq(None, Some(10.0), Some(-10.0)))
    assertSeq(column(out, "D"), Seq(None, Some(10.0), Some(-11.0)))
  }

  test("pct of a shifted series (offset pushdown, no nested windows)") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "V" -> Seq(100, 110, 121))
    val out = FameSession.run("p = pct(v[t+1])", in).df
    // pct(v)[t+1]: at row t the pct between t+1 and t
    assertSeq(column(out, "P"), Seq(Some(10.0), Some(10.0), None))
  }

  test("firstvalue / lastvalue broadcast") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "V" -> Seq(null, 5, 7))
    val out = FameSession.run("f = firstvalue(v)\nl = lastvalue(v)", in).df
    assertSeq(column(out, "F"), Seq.fill(3)(Some(5.0)))
    assertSeq(column(out, "L"), Seq.fill(3)(Some(7.0)))
  }

  test("exists and elementwise min/max") {
    val in = frame(Seq("2020-01-01", "2020-02-01"),
      "A" -> Seq(1, null), "B" -> Seq(0, 3))
    val out = FameSession.run(
      "e = if exists(a) then 1 else 0\nm = min(a, b)\nx = max(a, b)", in).df
    assertSeq(column(out, "E"), Seq(Some(1.0), Some(0.0)))
    assertSeq(column(out, "M"), Seq(Some(0.0), Some(3.0)))
    assertSeq(column(out, "X"), Seq(Some(1.0), Some(3.0)))
  }

  test("dateofStub compat flag reproduces the reference's literal stubs") {
    val in = frame(Seq("2020-01-01", "2020-02-01"), "A" -> Seq(1, 2))
    val out = FameSession.run(
      """d1 = dateof(a, *, contain, end)
        |d2 = dateof(a, *, before, ending)
        |d3 = dateof(a, *, before, end)""".stripMargin, in,
      dateofStub = true).df.orderBy("DATE").collect()
    // CONTAIN+END and BEFORE+ENDING -> date(9999,12,31); other pairs null
    // (`formulas_generator.py:1331-1338`)
    assert(out.forall(_.getDate(out.head.fieldIndex("D1")).toString == "9999-12-31"))
    assert(out.forall(_.getDate(out.head.fieldIndex("D2")).toString == "9999-12-31"))
    assert(out.forall(_.isNullAt(out.head.fieldIndex("D3"))))
    // default (flag off) keeps the real implementation
    val real = FameSession.run("d1 = dateof(a, *, contain, end)", in)
      .df.orderBy("DATE").collect()
    assert(real.forall(_.getDate(real.head.fieldIndex("D1")).toString == "2020-02-01"))
  }

  test("re-assigning a convert target supersedes the bridge redirect") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "V" -> Seq(1, 2, 3))
    val out = FameSession.run(
      """freq m
        |xq = convert(v, q, discrete, sum)
        |xq = 7
        |z = xq + 1""".stripMargin, in).df
    // without redirect invalidation, Z would read the stale V_QTRLY column
    assertSeq(column(out, "XQ"), Seq.fill(3)(Some(7.0)))
    assertSeq(column(out, "Z"), Seq.fill(3)(Some(8.0)))
  }

  test("convert observed=annualized de-annualizes, sums, re-annualizes") {
    // monthly ANNUALIZED rates 1..6 over two quarters: each observation is
    // an annual rate, so Q1 = (1+2+3)/12*4 = 2, Q2 = 15/12*4 = 5 — the
    // period average for complete quarters (FAME OBSERVED=ANNUALIZED)
    // (two source columns: same-source same-target converts share the
    // <SRC>_QTRLY suffix name — the reference's naming contract)
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01",
      "2020-04-01", "2020-05-01", "2020-06-01"),
      "V" -> Seq(1, 2, 3, 4, 5, 6), "W" -> Seq(1, 2, 3, 4, 5, 6))
    val out = FameSession.run(
      """freq m
        |va = convert(v, q, discrete, annualized)
        |ws = convert(w, q, discrete, sum)""".stripMargin, in).df
    // converted values land on the period-start rows (join-back contract)
    assertSeq(column(out, "V_QTRLY"),
      Seq(Some(2.0), None, None, Some(5.0), None, None))
    // summed is the raw period total on the same data
    assertSeq(column(out, "W_QTRLY"),
      Seq(Some(6.0), None, None, Some(15.0), None, None))
  }

  test("convert observed=annualized pro-rates a partial period") {
    // only two months of Q1 present: de-annualize each monthly rate by
    // 12, sum, re-annualize by 4 -> (1+2)/12*4 = 1 — NOT the complete-
    // period average (1.5); the partial quarter is pro-rated, which is
    // the defensible reading of restating a partial total at an annual
    // rate (the average alias would silently overstate the rate)
    val in = frame(Seq("2020-01-01", "2020-02-01"), "V" -> Seq(1, 2))
    val out = FameSession.run(
      "vq = convert(v, q, discrete, annualized)", in).df
    assertSeq(column(out, "V_QTRLY"), Seq(Some(1.0), None))
  }

  test("convert observed=formula is the documented average alias") {
    // the compat contract (README table): FAME's OBSERVED=FORMULA runs a
    // user formula the reference never surfaces (closed kernel,
    // fame2pygen/formulas_generator.py:104-115), so graft permanently
    // aliases it to the period average — identical output to observed=avg
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01",
        "2020-04-01", "2020-05-01", "2020-06-01"),
      "V" -> Seq(1, 2, 3, 4, 5, 6), "W" -> Seq(1, 2, 3, 4, 5, 6))
    val out = FameSession.run(
      """vf = convert(v, q, discrete, formula)
        |wa = convert(w, q, discrete, average)""".stripMargin, in).df
    assertSeq(column(out, "V_QTRLY"),
      Seq(Some(2.0), None, None, Some(5.0), None, None))
    assertSeq(column(out, "W_QTRLY"),
      Seq(Some(2.0), None, None, Some(5.0), None, None))
  }

  test("scalar + ave + dependency ordering") {
    val in = frame(Seq("2020-01-01", "2020-02-01"), "V" -> Seq(10, 20))
    val out = FameSession.run(
      """scalar m = ave(v)
        |dev = v - m""".stripMargin, in).df
    assertSeq(column(out, "DEV"), Seq(Some(-5.0), Some(5.0)))
  }

  test("dynamic lookup via date scalar (fame2py_converter.py:497-503)") {
    val in = frame(Seq("2020-01-01", "2020-02-01"), "V" -> Seq(10, 20))
    val out = FameSession.run(
      """scalar idx = make(date(m), "2020-02-01")
        |x = v[idx]""".stripMargin, in).df
    assertSeq(column(out, "X"), Seq(Some(20.0), Some(20.0)))
  }

  test("dependency levels: c before d when d = f(c) (tests/test_master_suite.py:874-887)") {
    val in = frame(Seq("2020-01-01"), "A" -> Seq(1))
    val out = FameSession.run("d = c * 2\nc = a + 1", in).df
    assertSeq(column(out, "C"), Seq(Some(2.0)))
    assertSeq(column(out, "D"), Seq(Some(4.0)))
  }

  test("cycle detection errors (stricter than reference, SURVEY §7)") {
    val in = frame(Seq("2020-01-01"), "A" -> Seq(1))
    intercept[graft.plan.Scheduler.CycleError] {
      FameSession.run("x = y + 1\ny = x + 1", in)
    }
  }

  test("F9: local database projection") {
    val in = frame(Seq("2020-01-01"))
    val sf = FameSession.run("aa'abc = 5", in)
    assertSeq(column(sf.df, "AA_ABC"), Seq(Some(5.0)))
    assert(sf.localDbs.keySet == Set("AA"))
    assert(sf.localDbs("AA").columns.toSeq == Seq("DATE", "ABC"))
  }

  test("nlrx accepts a bare series assign as lambda (lambda20 = 20 style)") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "Y" -> Seq(4, 5, 6))
    val out = FameSession.run(
      """lambda20 = 0
        |sm = nlrx(lambda20, y, y, y, y, y, y, y)""".stripMargin, in).df
    // lambda 0 → identity smoother
    assertSeq(column(out, "SM"), Seq(Some(4.0), Some(5.0), Some(6.0)))
  }

  test("inline $chain materializes inside a larger expression") {
    // 2 years, constant prices PA=2: chain index = 100 in both years
    // (quantity growth with flat prices → Fisher uses price weights; with
    // a single good and constant price, L = P = Q-ratio) — so the index
    // doubles in year 2: link = 20/10 = 2 → idx 2020=100, 2021=200
    val in = frame(Seq("2020-06-01", "2021-06-01"),
      "A" -> Seq(10, 20), "PA" -> Seq(2, 2))
    val out = FameSession.run("""y = 3 + $chain("a", "2020")""", in).df
    assertSeq(column(out, "Y"), Seq(Some(103.0), Some(203.0)))
  }

  test("empty and comment-only scripts are identity") {
    val in = frame(Seq("2020-01-01"), "X" -> Seq(1))
    assert(FameSession.run("", in).df.columns.toSeq == Seq("DATE", "X"))
    assert(FameSession.run("# nothing\n-- also nothing", in)
      .df.collect().length == 1)
  }

  test("unknown function fails with a clear error") {
    val in = frame(Seq("2020-01-01"), "X" -> Seq(1))
    val e = intercept[graft.compile.ColumnCompiler.CompileError] {
      FameSession.run("y = frobnicate(x)", in).df.collect()
    }
    assert(e.getMessage.contains("frobnicate"))
  }

  test("T compiles to the date column") {
    val in = frame(Seq("2020-01-01", "2021-01-01"), "V" -> Seq(1, 2))
    val out = FameSession.run(
      """x = if t ge "2021-01-01" then v else nd""".stripMargin, in).df
    assertSeq(column(out, "X"), Seq(None, Some(2.0)))
  }

  test("pluggable business calendar drops holidays from b-freq converts") {
    import java.time.LocalDate
    import graft.ast.Frequency
    import graft.kernels.{BusinessCalendar, Convert}
    val in = frame(Seq("2020-01-01", "2020-02-01"), "V" -> Seq(10, 20))
    val holidays = Set(LocalDate.of(2020, 1, 1), LocalDate.of(2020, 1, 20))

    def dates(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("DATE").collect().map(_.getDate(0).toString).toSeq

    val default = Convert.up(in, "DATE", Seq("V"),
      Frequency.Monthly, Frequency.Business, "constant")
    val withHol = Convert.up(in, "DATE", Seq("V"),
      Frequency.Monthly, Frequency.Business, "constant",
      businessCal = BusinessCalendar.WithHolidays(holidays))
    val dd = dates(default)
    val dh = dates(withHol)
    // default = reference semantics: every weekday, including holidays
    assert(dd.contains("2020-01-01") && dd.contains("2020-01-20"))
    assert(dd.forall(s => {
      val dow = java.sql.Date.valueOf(s).toLocalDate.getDayOfWeek.getValue
      dow >= 1 && dow <= 5
    }))
    // custom calendar: exactly the two holidays removed, rest identical
    assert(dh == dd.filterNot(Set("2020-01-01", "2020-01-20")))

    // threaded end-to-end through FameSession.run (the convert target is a
    // redirect to the suffixed V_BUSD column, SURVEY §2.5)
    val out = FameSession.run("freq m\nvb = convert(v, b, constant, average)",
      in, businessCal = BusinessCalendar.WithHolidays(holidays)).df
    val vbDates = out.where(org.apache.spark.sql.functions.col("V_BUSD").isNotNull)
      .orderBy("DATE").collect().map(_.getDate(0).toString).toSeq
    assert(vbDates == dh)
  }

  test("wide input frames normalize with a single projection") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val n = 200
    val in = spark.range(1).select(
      lit(java.sql.Date.valueOf("2020-01-01")).as("DATE") +:
        (1 to n).map(i => lit(i.toDouble).as(s"c$i")): _*)
    val out = FameSession.run("z = c1 + c2", in).df
    assertSeq(column(out, "Z"), Seq(Some(3.0)))
    // a rename chain would leave one nested Project per input column
    val projects = out.queryExecution.analyzed.collect { case p: Project => p }
    assert(projects.size <= 5,
      s"wide-frame normalization built ${projects.size} Project nodes")
  }

  test("multi-column cubic upsample plans exactly one slope join") {
    import graft.ast.Frequency
    import graft.kernels.Convert
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val in = frame(Seq("2020-01-01", "2020-04-01", "2020-07-01"),
      "A" -> Seq(1, 4, 9), "B" -> Seq(2, 3, 5))
    val up = Convert.up(in, "DATE", Seq("A", "B"),
      Frequency.Quarterly, Frequency.Monthly, "cubic")
    val rows = up.orderBy("DATE").collect()
    // calendar covers the final source quarter fully: 2020-01 .. 2020-09,
    // with nulls past the last observation
    assert(rows.length == 9)
    // observation rows pass through exactly
    def a(i: Int) = rows(i).getDouble(rows(i).fieldIndex("A"))
    assert(a(0) == 1.0 && a(3) == 4.0 && a(6) == 9.0)
    // interpolated rows stay within the bracketing hull for this convex data
    assert(a(1) > 1.0 && a(2) < 4.0 && a(4) > 4.0 && a(5) < 9.0)
    assert(rows(7).isNullAt(rows(7).fieldIndex("A")) &&
      rows(8).isNullAt(rows(8).fieldIndex("A")))
    // calendar join + ONE fused slope join — not one join per column
    val joins = up.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 2, s"expected 2 joins (calendar + slopes), got ${joins.size}")
  }

  test("businessDaysBetween closed form equals a naive weekday walk " +
      "on anchors and a date sweep") {
    import java.time.{DayOfWeek, LocalDate}
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    import graft.kernels.BusinessCalendar
    def naive(a: LocalDate, b: LocalDate): Long =
      Iterator.iterate(a.plusDays(1))(_.plusDays(1))
        .takeWhile(!_.isAfter(b))
        .count(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
          d.getDayOfWeek != DayOfWeek.SUNDAY).toLong
    // anchors: Mon→Fri same week = 4; Fri→Mon = 1; over two weekends
    val anchors = Seq(
      ("2024-01-01", "2024-01-05"), // Mon → Fri
      ("2024-01-05", "2024-01-08"), // Fri → Mon
      ("2024-01-03", "2024-01-17"), // Wed → Wed, two weeks
      ("2024-01-06", "2024-01-07"), // Sat → Sun: zero
      ("2024-01-10", "2024-01-10")) // empty interval
    // plus a 60-day sweep from varied weekday starts
    val sweep = for {
      s <- Seq("2023-12-28", "2024-01-02", "2024-01-06")
      k <- 0 to 60 by 7
    } yield (s, LocalDate.parse(s).plusDays(k + 3).toString)
    val cases = anchors ++ sweep
    val got = cases.toDF("a", "b")
      .select(BusinessCalendar.businessDaysBetween(
        to_date(col("a")), to_date(col("b"))).as("bd"))
      .collect().map(_.getLong(0)).toSeq
    val expected = cases.map { case (a, b) =>
      naive(LocalDate.parse(a), LocalDate.parse(b)) }
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("ave under a date mask aggregates the WHOLE frame (masks gate " +
      "writes, not reads); over a mask-DEFINED series it aggregates " +
      "only the support") {
    // the two executor facts FameStream's r15 whole-series eligibility
    // widening rests on (reference parity: formulas_generator.py:881
    // broadcasts the whole-series mean, masks applied as write gates)
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "V" -> Seq(1, 2, 30))
    val out = FameSession.run(
      """freq m
        |date 2020-01-01 to 2020-02-01
        |x = ave(v)
        |date *
        |set <date 2020-01-01 to 2020-02-01> m = v
        |y = ave(m)""".stripMargin, in).df
    // x is WRITTEN only at Jan/Feb, but its value is the mean over all
    // three rows — (1+2+30)/3 — not the masked subset's 1.5
    assertSeq(column(out, "X"), Seq(Some(11.0), Some(11.0), None))
    // m is null outside its defining mask, so ave(m) aggregates exactly
    // the support rows: mean(1, 2) everywhere
    assertSeq(column(out, "Y"), Seq.fill(3)(Some(1.5)))
  }

  test("point-in-time / masked assigns of non-double expressions type " +
      "their null branch from the value (dateof into a fresh series)") {
    // the outside-the-range null used to be hardcoded DOUBLE, so
    // `d[pit] = dateof(...)` (date-typed) failed analysis with a
    // CASE-branch type mismatch — found by the r15 streaming widening
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "A" -> Seq(1, null, 3))
    val out = FameSession.run(
      """freq m
        |d[2020-02-01] = dateof(a, *, contain, end)
        |set <date 2020-01-01 to 2020-02-01> lastd = dateof(a, *, before, end)
        |""".stripMargin, in).df.orderBy("DATE").collect()
    def dcol(i: Int, c: String) = {
      val j = out(i).fieldIndex(c)
      if (out(i).isNullAt(j)) null else out(i).getDate(j).toString
    }
    // d: non-null only at the PIT row, carrying a's last obs date (Mar)
    assert(dcol(0, "D") == null && dcol(2, "D") == null)
    assert(dcol(1, "D") == "2020-03-01")
    // lastd: BEFORE variant inside the mask (a is null at Feb, so both
    // masked rows see Jan as the last observation), null outside
    assert(dcol(0, "LASTD") == "2020-01-01")
    assert(dcol(1, "LASTD") == "2020-01-01")
    assert(dcol(2, "LASTD") == null)
    // the plain numeric behavior is unchanged: x = nd masked stays a
    // numeric (double) series
    val nd = FameSession.run(
      "freq m\nset <date 2020-01-01 to 2020-02-01> z = nd", in).df
    assert(nd.schema("Z").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("fame_run table function: SQL-only entry matches the Scala API, " +
      "composes with outer SQL, takes partition keys, rejects bad arity") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "REV" -> Seq(10, 20, 25))
    in.createOrReplaceTempView("fame_run_in")
    val script = "freq m\np = pct(rev)\nd2 = diff(rev) * 2"
    // SQL surface == Scala API, cell for cell
    val viaSql = spark.sql(
      "SELECT * FROM fame_run('freq m\\np = pct(rev)\\nd2 = diff(rev) * 2'," +
        " 'fame_run_in')")
    val viaApi = FameSession.run(script, in).df
    assert(viaSql.columns.toSeq == viaApi.columns.toSeq)
    assertSeq(column(viaSql, "P"), column(viaApi, "P"))
    assertSeq(column(viaSql, "D2"), column(viaApi, "D2"))
    // the result is a relation: outer projection/filter/agg compose
    val agg = spark.sql(
      "SELECT sum(D2) AS s FROM fame_run('d2 = diff(rev) * 2', " +
        "'fame_run_in') WHERE D2 > 10").head()
    assert(agg.getDouble(0) == 20.0) // diffs 10,5 -> d2 20,10; >10 keeps 20
    // partitioned execution via the third argument
    val keyed = frame(Seq("2020-01-01", "2020-02-01",
        "2020-01-01", "2020-02-01"), "REV" -> Seq(10, 20, 100, 150))
      .withColumn("K",
        when(col("REV") < 50, lit("a")).otherwise(lit("b")))
    keyed.createOrReplaceTempView("fame_run_keyed")
    val perKey = spark.sql(
      "SELECT K, DATE, P FROM fame_run('p = pct(rev)', 'fame_run_keyed', " +
        "'K') ORDER BY K, DATE")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(perKey == Seq(("a", None), ("a", Some(100.0)),
      ("b", None), ("b", Some(50.0))))
    // optional 4th argument names a non-DATE date column ('' = no keys)
    in.withColumnRenamed("DATE", "OBS")
      .createOrReplaceTempView("fame_run_obs")
    val viaObs = spark.sql(
      "SELECT OBS, D2 FROM fame_run('d2 = diff(rev) * 2', " +
        "'fame_run_obs', '', 'OBS') ORDER BY OBS")
      .collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
    assert(viaObs == Seq(None, Some(20.0), Some(10.0)))
    // bad arity / non-literal args are analysis-time errors
    intercept[Exception] {
      spark.sql("SELECT * FROM fame_run('x = rev')").collect()
    }
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM fame_run('x = rev', 'fame_run_in', 'K', 'OBS', 'x')")
        .collect()
    }
  }

  test("fame_run robustness: SQL-literal escapes round-trip, missing " +
      "columns get boundary errors, outer WHERE pushes into the scan") {
    val in = frame(Seq("2020-01-01", "2020-02-01", "2020-03-01"),
      "REV" -> Seq(10, 20, 25))
    in.createOrReplaceTempView("fame_run_rb")
    // FAME double-quoted date lookups pass through a single-quoted SQL
    // literal unescaped; a local-db apostrophe name needs SQL's ''
    // doubling — both must reach the parser as written
    val viaSql = spark.sql(
      """SELECT DATE, R, AA_Z FROM fame_run(
        |  'freq m\nr = rev / rev["2020-01-01"]\naa''z = r * 2',
        |  'fame_run_rb') ORDER BY DATE""".stripMargin).collect()
    assert(viaSql.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 2.5))
    assert(viaSql.map(_.getDouble(2)).toSeq == Seq(2.0, 4.0, 5.0))
    // a wrong date column fails AT THE BOUNDARY with the remedy named,
    // not as an unresolved column deep inside the compiled plan
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM fame_run('p = pct(rev)', 'fame_run_rb', " +
        "'', 'OBS')").collect()
    }
    assert(e1.getMessage.contains("no date column 'OBS'") &&
      e1.getMessage.contains("4th argument"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM fame_run('p = pct(rev)', 'fame_run_rb', " +
        "'NO_SUCH_KEY')").collect()
    }
    assert(e2.getMessage.contains("no partition-key column 'NO_SUCH_KEY'"),
      e2.getMessage)
    // the analysis-time splice is one Catalyst plan: an outer WHERE on
    // the date reaches the PARQUET SCAN of a row-local script (pct/diff
    // would pin a window above it; v2 = rev*2 is a pure projection)
    val dir = java.nio.file.Files.createTempDirectory("famerunpush").toString
    in.write.mode("overwrite").parquet(dir)
    val pushed = spark.sql(
      s"""SELECT DATE, V2 FROM fame_run('v2 = rev * 2',
         |  'parquet.`$dir`') WHERE DATE >= DATE'2020-02-01'""".stripMargin)
    val scan = pushed.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") &&
      scan.replaceAll("\\s+", " ")
        .matches(".*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(DATE.*"),
      s"date filter not pushed to the scan:\n$scan")
    assert(pushed.count() == 2)
  }

  test("fame_run, KEYED: a WHERE on the key reaches one scan below the " +
      "per-key windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("famekeypush").toString
    Seq(("FR", java.sql.Date.valueOf("1995-01-01"), 4.0),
        ("FR", java.sql.Date.valueOf("1995-02-01"), 5.0),
        ("DE", java.sql.Date.valueOf("1995-01-01"), 9.0),
        ("DE", java.sql.Date.valueOf("1995-02-01"), 8.0))
      .toDF("K", "DATE", "REV").write.mode("overwrite").parquet(dir)
    val df = spark.sql(
      s"""SELECT K, DATE, P, R FROM fame_run(
         |  'freq m\np = pct(rev)\nr = rev / rev["1995-01-01"]',
         |  'parquet.`$dir`', 'K') WHERE K = 'FR'""".stripMargin)
    val rows = df.orderBy("DATE").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("FR", "FR"))
    assert(rows(1).getDouble(3) == 5.0 / 4.0) // FR's OWN Jan level
    // the lookup is a per-key window over the frame it extends, so the
    // key filter passes it like the pct window: one scan, pruned to the
    // key, instead of rescanning every entity for one entity's rebase
    val executed = df.queryExecution.executedPlan
    val scans = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}.collect(executed) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one file scan:\n$executed")
    assert(scans.head.toString.replaceAll("\\s+", " ")
      .matches(".*PushedFilters: \\[[^\\]]*EqualTo\\(K,FR\\).*"),
      s"key filter not pushed to the scan:\n$executed")
  }

  test("dotted series names read through every kernel (r18: chain/fishvol/" +
      "convert/nlrx/shift_pct read via qcol — r17 ADVICE, same class as " +
      "the q220 dotted-name find)") {
    // equivalence harness: the same script modulo names, run over the same
    // values under dotted vs plain column names, must agree cell-for-cell —
    // a bare col("A.X") would instead fail analysis as struct access
    val dates = (0 until 24).map(i => f"${1994 + i / 12}-${i % 12 + 1}%02d-01")
    // a dominates b so the signed basket (a - b) keeps every Fisher-link
    // dot product positive (ANSI mode turns a zero denominator into an error)
    val a  = (1 to 24).map(i => (i * 7 % 13 + 20).toDouble)
    val b  = (1 to 24).map(i => (i * 5 % 3  + 1).toDouble)
    val pa = (1 to 24).map(i => (i * 3 % 4  + 2).toDouble)
    val pb = (1 to 24).map(i => (i * 11 % 2 + 1).toDouble)
    val dotted = frame(dates, "A.X" -> a, "B.Y" -> b,
      "PA.X" -> pa, "PB.Y" -> pb)
    val plain  = frame(dates, "A" -> a, "B" -> b, "PA" -> pa, "PB" -> pb)

    // chain: PerKeySeries resolves each term's q and "P"+q column by its
    // literal name
    val cd = FameSession.run("""set x = $chain("a.x - b.y", "1995")""", dotted).df
    val cp = FameSession.run("""set x = $chain("a - b", "1995")""", plain).df
    assertSeq(column(cd, "X"), column(cp, "X"))

    // fishvol: cur/prev read via qcol
    val fd = FameSession.run(
      "x = fishvol_rebase({a.x,b.y},{pa.x,pb.y},1995)", dotted).df
    val fp = FameSession.run(
      "x = fishvol_rebase({a,b},{pa,pb},1995)", plain).df
    assertSeq(column(fd, "X"), column(fp, "X"))

    // convert down + up: per-series reads via qcol; output keeps the
    // literal dotted name + suffix (withColumnRenamed contract)
    val vd = FameSession.run("freq m\nv = convert(a.x, q, discrete, sum)",
      dotted).df.withColumnRenamed("A.X_QTRLY", "VQ")
    val vp = FameSession.run("freq m\nv = convert(a, q, discrete, sum)",
      plain).df.withColumnRenamed("A_QTRLY", "VQ")
    assertSeq(
      column(vd.where(org.apache.spark.sql.functions.col("VQ").isNotNull), "VQ"),
      column(vp.where(org.apache.spark.sql.functions.col("VQ").isNotNull), "VQ"))
    val qDates = Seq("2020-01-01", "2020-04-01", "2020-07-01", "2020-10-01")
    val qv = Seq(4.0, 8.0, 6.0, 10.0)
    val ud = FameSession.run("freq q\nu = convert(r.ev, m, linear, average)",
      frame(qDates, "R.EV" -> qv)).df.withColumnRenamed("R.EV_MON", "UM")
    val up = FameSession.run("freq q\nu = convert(rev, m, linear, average)",
      frame(qDates, "REV" -> qv)).df.withColumnRenamed("REV_MON", "UM")
    assertSeq(column(ud, "UM"), column(up, "UM"))

    // cubic up-conversion: the Hermite slope column is itself named
    // __m_<series> with the DOT preserved (__m_R.EV) and is read back via
    // window first/last — an r19 ADVICE fix (col() parsed it as struct
    // access and failed analysis; only linear was covered above)
    val cud = FameSession.run("freq q\nu = convert(r.ev, m, cubic, average)",
      frame(qDates, "R.EV" -> qv)).df.withColumnRenamed("R.EV_MON", "UM")
    val cup = FameSession.run("freq q\nu = convert(rev, m, cubic, average)",
      frame(qDates, "REV" -> qv)).df.withColumnRenamed("REV_MON", "UM")
    assertSeq(column(cud, "UM"), column(cup, "UM"))

    // nlrx: y read via qcol
    val nd = FameSession.run(
      "sm = nlrx(1600, a.x, a.x, a.x, a.x, a.x, a.x, a.x)", dotted).df
    val np = FameSession.run(
      "sm = nlrx(1600, a, a, a, a, a, a, a)", plain).df
    assertSeq(column(nd, "SM"), column(np, "SM"))

    // shift_pct with an OPEN-ended mask (`to *`): exercises the
    // default-anchor lookup (FameSession qcol(target)) plus the
    // kernel's qcol(p)/qcol(tgt) reads; target and pct source both dotted
    val sd = FameSession.run(
      """r.ev = a.x * 10
        |date 1994-01-01 to *
        |r.ev[t] = r.ev[t+1]/(1+(pct(b.y[t+1])/100))""".stripMargin, dotted).df
    val sp = FameSession.run(
      """rev = a * 10
        |date 1994-01-01 to *
        |rev[t] = rev[t+1]/(1+(pct(b[t+1])/100))""".stripMargin, plain).df
    assertSeq(
      sd.orderBy("DATE").select(org.apache.spark.sql.functions.col("`R.EV`")).collect().toSeq
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))),
      column(sp, "REV"))
  }
}
