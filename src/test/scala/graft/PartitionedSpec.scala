package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.api.FameSession

/** Partition-key (multi-entity) execution: one FAME program over many
  * entities at once — every kernel must be per-entity independent (the
  * cluster-scale path of SCALING.md §1).
  */
class PartitionedSpec extends SparkSpec {

  /** Two entities with deliberately different series. */
  private def entityFrame(series: (String, Seq[Any], Seq[Any])*): DataFrame = {
    val months = Seq("2020-01-01", "2020-02-01", "2020-03-01", "2020-04-01")
    val fields = StructField("ENT", StringType) +:
      StructField("DATE", DateType) +:
      series.map { case (n, _, _) => StructField(n, DoubleType) }.toSeq
    val rows =
      months.indices.map { i =>
        Row.fromSeq("A" +: d(months(i)) +: series.map(s => toD(s._2(i))))
      } ++ months.indices.map { i =>
        Row.fromSeq("B" +: d(months(i)) +: series.map(s => toD(s._3(i))))
      }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), StructType(fields.toArray))
  }
  private def toD(x: Any): Any = x match {
    case null => null
    case i: Int => i.toDouble
    case v => v
  }

  private def byEntity(df: DataFrame, ent: String, colName: String): Seq[Option[Double]] =
    df.where(df("ENT") === ent).orderBy("DATE").select(colName).collect()
      .toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))

  test("windows, scalars and masks are per-entity") {
    val in = entityFrame(("V", Seq(10, 20, 30, 40), Seq(100, 100, 100, 100)))
    val out = FameSession.run(
      """freq m
        |p = pct(v)
        |f = firstvalue(v)
        |l = lastvalue(v)
        |date 2020-02-01 to 2020-03-01
        |m = v * 2""".stripMargin, in, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out, "A", "P"),
      Seq(None, Some(100.0), Some(50.0), Some(100.0 / 3)))
    assertSeq(byEntity(out, "B", "P"), Seq(None, Some(0.0), Some(0.0), Some(0.0)))
    assertSeq(byEntity(out, "A", "F"), Seq.fill(4)(Some(10.0)))
    assertSeq(byEntity(out, "B", "F"), Seq.fill(4)(Some(100.0)))
    assertSeq(byEntity(out, "A", "L"), Seq.fill(4)(Some(40.0)))
    assertSeq(byEntity(out, "A", "M"),
      Seq(None, Some(40.0), Some(60.0), None))
  }

  test("series-derived SCALARS are per-key (r18): each entity's own " +
      "value, not one arbitrary frame row's") {
    val in = entityFrame(("V", Seq(10, 20, 30, 40), Seq(100, 300, 500, 700)))
    val out = FameSession.run(
      """freq m
        |scalar mu = ave(v)
        |dev = v - mu
        |scalar lv = lastvalue(v)
        |rel = v / lv""".stripMargin, in, partitionKeys = Seq("ENT")).df
    // A: mu = 25, lv = 40; B: mu = 400, lv = 700
    assertSeq(byEntity(out, "A", "DEV"),
      Seq(Some(-15.0), Some(-5.0), Some(5.0), Some(15.0)))
    assertSeq(byEntity(out, "B", "DEV"),
      Seq(Some(-300.0), Some(-100.0), Some(100.0), Some(300.0)))
    assertSeq(byEntity(out, "A", "REL"),
      Seq(Some(0.25), Some(0.5), Some(0.75), Some(1.0)))
    assertSeq(byEntity(out, "B", "REL"),
      Seq(Some(1.0 / 7), Some(3.0 / 7), Some(5.0 / 7), Some(1.0)))
    assert(!out.columns.exists(_.startsWith("__SCL_")),
      "per-key scalar scaffolding leaked into the output frame")
    // a general (non-window) RHS takes each key's EARLIEST-row value —
    // the keyed analog of the unkeyed earliest-row extraction
    val out2 = FameSession.run(
      """freq m
        |scalar base = v * 2
        |idx = v / base""".stripMargin, in, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out2, "A", "IDX"),
      Seq(Some(0.5), Some(1.0), Some(1.5), Some(2.0)))
    assertSeq(byEntity(out2, "B", "IDX"),
      Seq(Some(0.5), Some(1.5), Some(2.5), Some(3.5)))
    // pure date scalars stay driver constants (the q215 lookup path);
    // a PER-KEY scalar in date position is refused with a named reason
    val err = intercept[Exception] {
      FameSession.run(
        """freq m
          |scalar s = ave(v)
          |x = v[s]""".stripMargin, in, partitionKeys = Seq("ENT")).df.count()
    }
    assert(err.getMessage.contains("PER-KEY"), err.getMessage)
  }

  test("per-key scalar reassignment and shifted reads (r19 ADVICE): " +
      "re-assigning drops the stale __SCL_ column (no AMBIGUOUS_REFERENCE) " +
      "and a time-shifted scalar ref stays shift-invariant like the " +
      "unkeyed literal") {
    val in = entityFrame(("V", Seq(10, 20, 30, 40), Seq(100, 300, 500, 700)))
    // mu reassigned: second RHS references the OLD mu (statement-order
    // semantics), later DEV reads resolve to the NEW one unambiguously
    val out = FameSession.run(
      """freq m
        |scalar mu = ave(v)
        |scalar mu = mu * 2
        |dev = v - mu""".stripMargin, in, partitionKeys = Seq("ENT")).df
    // A: ave=25 -> mu=50; B: ave=400 -> mu=800
    assertSeq(byEntity(out, "A", "DEV"),
      Seq(Some(-40.0), Some(-30.0), Some(-20.0), Some(-10.0)))
    assertSeq(byEntity(out, "B", "DEV"),
      Seq(Some(-700.0), Some(-500.0), Some(-300.0), Some(-100.0)))
    // shifted scalar ref: mu[t-1] == mu everywhere (key-constant), in
    // particular NOT null at each key's first row; whole-expression
    // shifts leave the scalar untouched too
    val out2 = FameSession.run(
      """freq m
        |scalar mu = ave(v)
        |d1 = v - mu[t-1]
        |d2 = v[t-1] - mu""".stripMargin, in, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out2, "A", "D1"),
      Seq(Some(-15.0), Some(-5.0), Some(5.0), Some(15.0)))
    assertSeq(byEntity(out2, "A", "D2"),
      Seq(None, Some(-15.0), Some(-5.0), Some(5.0)))
    // keyed -> unkeyed reassignment: a later constant RHS supersedes the
    // __SCL_ mapping (refMap invalidated), so reads are the literal
    val out3 = FameSession.run(
      """freq m
        |scalar mu = ave(v)
        |scalar mu = 7
        |dev = v - mu""".stripMargin, in, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out3, "A", "DEV"),
      Seq(Some(3.0), Some(13.0), Some(23.0), Some(33.0)))
  }

  test("fixed-date lookups are PER-KEY (r16): each entity rebases " +
      "against its OWN value, reassignment invalidates the column, " +
      "scaffolding never leaks") {
    val in = entityFrame(("V", Seq(10, 20, 30, 40), Seq(100, 300, 400, 800)))
    val out = FameSession.run(
      """freq m
        |rel = v / v[2020-01-01]
        |scalar dd = make(date(m), "2020-02-01")
        |rel2 = v / v[dd]
        |w = v * 2
        |r3 = v / w[2020-01-01]
        |w = v * 3
        |r4 = v / w[2020-01-01]""".stripMargin,
      in, partitionKeys = Seq("ENT")).df
    // pre-r16 this inlined ONE frame-global limit(1) literal — whichever
    // entity's row happened to come first rebased BOTH entities
    assertSeq(byEntity(out, "A", "REL"),
      Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0)))
    assertSeq(byEntity(out, "B", "REL"),
      Seq(Some(1.0), Some(3.0), Some(4.0), Some(8.0)))
    // dynamic (scalar-date) lookups take the same per-key path
    assertSeq(byEntity(out, "A", "REL2"),
      Seq(Some(0.5), Some(1.0), Some(1.5), Some(2.0)))
    assertSeq(byEntity(out, "B", "REL2"),
      Seq(Some(100.0 / 300), Some(1.0), Some(400.0 / 300), Some(800.0 / 300)))
    // the lookup of w BEFORE the reassignment reads the old definition,
    // after it the new one — the cached column must invalidate
    assertSeq(byEntity(out, "A", "R3"),
      Seq(Some(0.5), Some(1.0), Some(1.5), Some(2.0)))      // / (10*2)
    assertSeq(byEntity(out, "A", "R4"),
      Seq(Some(10.0 / 30), Some(20.0 / 30), Some(1.0), Some(40.0 / 30)))
    assert(!out.columns.exists(_.startsWith("__LKP_")),
      "lookup scaffolding leaked into the output frame")
    // a date absent from one entity's grid stays null FOR THAT ENTITY
    val sparse = entityFrame(("V", Seq(10, 20, 30, 40), Seq(100, 300, 400, 800)))
      .where(!(org.apache.spark.sql.functions.col("ENT") === "B" &&
        org.apache.spark.sql.functions.col("DATE") ===
          java.sql.Date.valueOf("2020-01-01")))
    val out2 = FameSession.run("freq m\nrel = v / v[2020-01-01]",
      sparse, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out2, "A", "REL"),
      Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0)))
    assertSeq(byEntity(out2, "B", "REL"), Seq(None, None, None))
  }

  test("convert down groups per entity") {
    val in = entityFrame(("V", Seq(1, 2, 3, 4), Seq(10, 20, 30, 40)))
    val out = FameSession.run(
      """freq m
        |vq = convert(v, q, discrete, sum)""".stripMargin,
      in, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out, "A", "V_QTRLY"),
      Seq(Some(6.0), None, None, Some(4.0)))
    assertSeq(byEntity(out, "B", "V_QTRLY"),
      Seq(Some(60.0), None, None, Some(40.0)))
  }

  test("chain index links per entity") {
    // entity A: quantity doubles yearly at flat price → idx 100, 200
    // entity B: flat quantity → idx 100, 100
    val months = Seq("2020-06-01", "2021-06-01")
    val rows = Seq(
      Row("A", d(months(0)), 10.0, 2.0), Row("A", d(months(1)), 20.0, 2.0),
      Row("B", d(months(0)), 5.0, 3.0), Row("B", d(months(1)), 5.0, 3.0))
    val in = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("ENT", StringType), StructField("DATE", DateType),
        StructField("A", DoubleType), StructField("PA", DoubleType))))
    val out = FameSession.run("""set x = $chain("a", "2020")""",
      in, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out, "A", "X"), Seq(Some(100.0), Some(200.0)))
    assertSeq(byEntity(out, "B", "X"), Seq(Some(100.0), Some(100.0)))
  }

  test("nlrx solves per entity without a driver collect") {
    // lambda=0 → the HP system reduces to I·x = y: smoothed == input,
    // so any cross-entity leakage would show immediately
    val in = entityFrame(("Y", Seq(10, 20, 30, 40), Seq(5, 5, 5, 5)))
    val out = FameSession.run(
      "sm = nlrx(0, y, y, y, y, y, y, y)", in, partitionKeys = Seq("ENT")).df
    assertSeq(byEntity(out, "A", "SM"),
      Seq(Some(10.0), Some(20.0), Some(30.0), Some(40.0)))
    assertSeq(byEntity(out, "B", "SM"), Seq.fill(4)(Some(5.0)))
    // positive lambda smooths toward the trend per entity
    val out2 = FameSession.run(
      "sm = nlrx(1600, y, y, y, y, y, y, y)", in, partitionKeys = Seq("ENT")).df
    val smB = byEntity(out2, "B", "SM")
    assert(smB.forall(v => math.abs(v.get - 5.0) < 1e-6)) // flat stays flat
  }

  test("nlrx grouped solve equals independent per-entity solves (q86 digest)") {
    // the q86 contract: the keyed per-key operator must produce, per
    // entity, exactly what a standalone keyless HP solve of that entity's
    // series produces — checked value-for-value at a real lambda on
    // distinct non-trivial series
    val months = (1 to 12).map(i => f"2020-$i%02d-01")
    val mkSeries: String => Seq[Double] = {
      case "A" => (1 to 12).map(i => i * i * 1.0)        // convex
      case "B" => (1 to 12).map(i => 100.0 - 3 * i)      // linear
      case _   => (1 to 12).map(i => 50 + 20 * math.sin(i.toDouble)) // wavy
    }
    val ents = Seq("A", "B", "C")
    val rows = for { e <- ents; (m, v) <- months.zip(mkSeries(e)) }
      yield Row(e, d(m), v)
    val in = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("ENT", StringType),
        StructField("DATE", DateType), StructField("Y", DoubleType))))
    val out = FameSession.run(
      "sm = nlrx(1600, y, y, y, y, y, y, y)", in, partitionKeys = Seq("ENT")).df
    ents.foreach { e =>
      val got = byEntity(out, e, "SM").map(_.get)
      val want = graft.kernels.Nlrx.HpSmoother.solve(
        mkSeries(e).toArray, 1600.0)
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"entity $e: $g != $w")
      }
    }
  }

  test("nlrx smooths an entity whose partition key is null") {
    // null keys must round-trip the solve/join-back key encoding: the old
    // two-encoding scheme silently nulled the whole entity's output
    val months = Seq("2020-01-01", "2020-02-01", "2020-03-01", "2020-04-01")
    val rows = months.indices.map(i => Row(null, d(months(i)), (i + 1) * 10.0)) ++
      months.indices.map(i => Row("B", d(months(i)), 5.0))
    val in = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("ENT", StringType),
        StructField("DATE", DateType), StructField("Y", DoubleType))))
    val out = FameSession.run(
      "sm = nlrx(0, y, y, y, y, y, y, y)", in, partitionKeys = Seq("ENT")).df
    val nullEnt = out.where(out("ENT").isNull).orderBy("DATE")
      .select("SM").collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assertSeq(nullEnt, Seq(Some(10.0), Some(20.0), Some(30.0), Some(40.0)))
    assertSeq(byEntity(out, "B", "SM"), Seq.fill(4)(Some(5.0)))
  }

  test("a null partition key is one entity for lookups, scalars and the " +
      "seeded chain") {
    import org.apache.spark.sql.functions.{col, year}
    // 24 months of integer levels and prices, so every yearly sum and
    // average is exact in any order
    val months = (0 until 24).map(m =>
      java.time.LocalDate.of(2020, 1, 1).plusMonths(m.toLong))
    val rows = for ((k, lvl) <- Seq[(String, Int)]((null, 10), ("B", 100));
                    (m, i) <- months.zipWithIndex)
      yield Row(k, java.sql.Date.valueOf(m), (lvl + 2 * i).toDouble,
        (3 + i % 4).toDouble)
    val in = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("ENT", StringType),
        StructField("DATE", DateType), StructField("V", DoubleType),
        StructField("PV", DoubleType))))
    val out = FameSession.run(
      """freq m
        |p = pct(v)
        |l = lastvalue(v)
        |rel = v / v[2020-01-01]
        |scalar mu = ave(v)
        |dev = v - mu""".stripMargin, in, partitionKeys = Seq("ENT")).df
    def nullKey(df: DataFrame, c: String): Seq[Option[Double]] =
      df.where(df("ENT").isNull).orderBy("DATE").select(c).collect()
        .toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val v = (0 until 24).map(i => 10.0 + 2 * i)
    // pct and lastvalue already read the null key's own rows…
    assertSeq(nullKey(out, "P"),
      None +: (1 until 24).map(i => Some((v(i) / v(i - 1) - 1) * 100)))
    assertSeq(nullKey(out, "L"), Seq.fill(24)(Some(v.last)))
    // …and so do the fixed-date lookup and the per-key scalar
    assertSeq(nullKey(out, "REL"), v.map(x => Some(x / 10.0)))
    assertSeq(nullKey(out, "DEV"), v.map(x => Some(x - v.sum / 24)))
    assertSeq(byEntity(out, "B", "REL"),
      (0 until 24).map(i => Some((100.0 + 2 * i) / 100.0)))
    // a seeded chain over 2021, with 2020 carried, gives every key,
    // the null one included, the whole-history index
    val script = """set x = $chain("v", "2020")"""
    val whole = FameSession.run(script, in, partitionKeys = Seq("ENT")).df
      .where(year(col("DATE")) === 2021)
    val seed = graft.kernels.Indices.yearlyAggs(
      in.where(year(col("DATE")) === 2020), "DATE", Seq(1 -> "V"), Seq("ENT"))
    val seeded = FameSession.run(script,
      in.where(year(col("DATE")) === 2021), partitionKeys = Seq("ENT"),
      chainSeed = Map("X" -> seed)).df
    assert(seeded.count() == 24)
    assert(nullKey(seeded, "X").forall(_.isDefined))
    assert(nullKey(seeded, "X") == nullKey(whole, "X"))
    assert(byEntity(seeded, "B", "X") == byEntity(whole, "B", "X"))
  }

  test("keyed nlrx gives a null-DATE row null and solves the key's other " +
      "rows as without it") {
    // the grouped solve sorted by date and threw on a null one; keyless
    // nlrx always left such a row out and gave it null
    val months = Seq("2020-01-01", "2020-02-01", "2020-03-01", "2020-04-01")
    val ys = Seq(10.0, 14.0, 11.0, 19.0)
    val dated = months.indices.map(i => Row("A", d(months(i)), ys(i))) ++
      months.indices.map(i => Row("B", d(months(i)), 5.0 + i))
    val schema = StructType(Seq(StructField("ENT", StringType),
      StructField("DATE", DateType), StructField("Y", DoubleType)))
    def df(rows: Seq[Row]) = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    def run(rows: Seq[Row]) = FameSession.run(
      "sm = nlrx(1600, y, y, y, y, y, y, y)", df(rows),
      partitionKeys = Seq("ENT")).df
    val out = run(dated :+ Row("A", null, 1000.0))
    val clean = run(dated)
    val nullDate = out.where(out("DATE").isNull).select("SM").collect()
    assert(nullDate.length == 1 && nullDate.head.isNullAt(0))
    Seq("A", "B").foreach { e =>
      assert(byEntity(out.where(out("DATE").isNotNull), e, "SM") ==
        byEntity(clean, e, "SM"), s"entity $e")
    }
  }

  test("backward shift-pct anchors per entity") {
    // cnt-style driver series P grows 10%/period for A, flat for B;
    // rev2 anchored at the 2020-04-01 value and reconstructed backwards
    val in = entityFrame(
      ("REV", Seq(0, 0, 0, 1000), Seq(0, 0, 0, 500)),
      ("P", Seq(100, 110, 121, 133.1), Seq(7, 7, 7, 7)))
    val out = FameSession.run(
      """rev2 = rev
        |date 2020-01-01 to 2020-04-01
        |rev2[t] = rev2[t+1]/(1+(pct(p[t+1])/100))""".stripMargin,
      in, partitionKeys = Seq("ENT")).df
    // A: level telescopes as anchor * p_t / p_anchor
    val a = byEntity(out, "A", "REV2")
    assert(math.abs(a(3).get - 1000.0) < 1e-6)
    assert(math.abs(a(2).get - 1000.0 * 121 / 133.1) < 1e-6)
    assert(math.abs(a(0).get - 1000.0 * 100 / 133.1) < 1e-6)
    val b = byEntity(out, "B", "REV2")
    assert(b.forall(v => math.abs(v.get - 500.0) < 1e-9)) // flat P → flat level
  }

  test("keyed and keyless chain: one per-key operator, no join back, no hint") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    import graft.plans.PerKeySeries
    val months = Seq("2020-06-01", "2021-06-01")
    val rows = Seq(
      Row("A", d(months(0)), 10.0, 2.0), Row("A", d(months(1)), 20.0, 2.0),
      Row("B", d(months(0)), 5.0, 3.0), Row("B", d(months(1)), 5.0, 3.0))
    val in = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("ENT", StringType), StructField("DATE", DateType),
        StructField("A", DoubleType), StructField("PA", DoubleType))))
    // the |entities|x|years| index never leaves the frame: no year
    // table, no join back on (keys, year), nothing to broadcast
    val keyed = graft.kernels.Indices.chain(in, "DATE", Seq(1 -> "A"),
      2020, "X", keys = Seq("ENT"))
    val keyless = graft.kernels.Indices.chain(in.drop("ENT"), "DATE",
      Seq(1 -> "A"), 2020, "X")
    Seq(keyed, keyless).foreach { out =>
      val plan = out.queryExecution.analyzed
      assert(plan.collect { case h: ResolvedHint => h }.isEmpty, plan)
      assert(plan.collect { case j: Join => j }.isEmpty, plan)
      assert(plan.collect { case p: PerKeySeries => p }.size == 1, plan)
    }
    assertSeq(byEntity(keyed, "A", "X"), Seq(Some(100.0), Some(200.0)))
    // keyless: both entities' rows form one basket per year
    assertSeq(column(keyless, "X"),
      Seq(Some(100.0), Some(100.0), Some(100.0 * 25 / 15), Some(100.0 * 25 / 15)))
  }

  test("partitioned scripts plan no keyless (single-partition) windows") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // the q38_partitioned_scale script shape: every window in the plan
    // must partition by the entity key, or one task would absorb the
    // whole dataset at cluster scale
    val in = entityFrame(("REV", Seq(1, 2, 3, 4), Seq(5, 6, 7, 8)))
    val out = FameSession.run(
      """freq m
        |p = pct(rev)
        |rev_q = convert(rev, q, discrete, sum)""".stripMargin,
      in, partitionKeys = Seq("ENT")).df
    val wins = out.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.nonEmpty, "expected windowed operators in the plan")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"found ${wins.count(_.partitionSpec.isEmpty)} keyless Window node(s)")
  }
}
