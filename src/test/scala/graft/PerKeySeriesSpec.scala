package graft

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._

import graft.api.FameSession
import graft.plans.PerKeySeriesExec

/** `$chain` and nlrx run as one [[graft.plans.PerKeySeries]] operator
  * over the frame they extend: the plan does not branch, and each key's
  * series is folded in date order whatever the partition count.
  */
class PerKeySeriesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** `ents` entities × 48 months of non-integer levels, prices and a
    * third series, from 2020-01.
    */
  private def panel(ents: Int, withKey: Boolean): DataFrame = {
    val rnd = new scala.util.Random(11)
    val rows = for (e <- 0 until ents; m <- 0 until 48) yield Row.fromSeq(
      (if (withKey) Seq(s"E$e") else Nil) ++
        Seq(Date.valueOf(LocalDate.of(2020, 1, 1).plusMonths(m)),
          20 + 10 * rnd.nextDouble(), 1 + 2 * rnd.nextDouble(),
          1 + 4 * rnd.nextDouble(), 1 + 4 * rnd.nextDouble(),
          50 + 20 * math.sin(m + e) + rnd.nextDouble()))
    val schema = StructType(
      (if (withKey) Seq(StructField("ENT", StringType)) else Nil) ++
        Seq(StructField("DATE", DateType)) ++
        Seq("A", "B", "PA", "PB", "C").map(StructField(_, DoubleType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  test("keyed convert, chain and nlrx give the same bits at 1, 3 and 7 " +
      "shuffle partitions") {
    // the convert's full-outer join hash-partitions by (keys, date), so
    // each year's months reach the chain from several partitions
    val in = panel(4, withKey = true)
    val script =
      """freq m
        |aq = convert(a, q, discrete, sum)
        |set ix = $chain("a - b", "2021")
        |hp = nlrx(1600, c, c, c, c, c, c, c)""".stripMargin
    val cols = Seq("A", "A_QTRLY", "B", "C", "DATE", "ENT", "HP", "IX",
      "PA", "PB")
    def run(parts: Int, input: DataFrame = in,
        seed: Map[String, DataFrame] = Map.empty): Seq[Seq[Any]] =
      withShufflePartitions(parts) {
        val out = FameSession.run(script, input, partitionKeys = Seq("ENT"),
          chainSeed = seed).df
        assert(out.columns.sorted.toSeq == cols)
        out.select(cols.map(out.col): _*)
          .orderBy("ENT", "DATE").collect().toSeq
          .map(_.toSeq.map {
            case d: Double => java.lang.Double.doubleToLongBits(d)
            case v => v
          })
      }
    // a seeded run over 2023 carries 2020-2022 as yearlyAggs rows, built
    // here by summing each key's year in date order from 0.0
    val seedSchema = StructType(Seq(StructField("ENT", StringType),
      StructField("__year", IntegerType)) ++
      Seq("__p0", "__q0", "__p1", "__q1").map(StructField(_, DoubleType)))
    val seedRows = in.collect().toSeq
      .groupBy(r => (r.getString(0), r.getDate(1).toLocalDate.getYear))
      .collect { case ((e, y), rs) if y < 2023 =>
        val sorted = rs.sortBy(_.getDate(1).toLocalDate.toEpochDay)
        def sum(c: String) = sorted.foldLeft(0.0)(_ + _.getAs[Double](c))
        Row(e, y, sum("PA") / sorted.size, sum("A"),
          sum("PB") / sorted.size, sum("B"))
      }.toSeq
    val seed = Map("IX" -> spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(seedRows).asJava), seedSchema))
    val lastYear = in.where(
      org.apache.spark.sql.functions.year(in("DATE")) === 2023)
    def indexOf2023(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows
      .filter(_(cols.indexOf("DATE")).asInstanceOf[Date]
        .toLocalDate.getYear == 2023)
      .map(r => Seq("ENT", "DATE", "IX").map(c => r(cols.indexOf(c))))
    val one = run(1)
    assert(one.length == 4 * 48)
    assert(one.forall(r => r(cols.indexOf("HP")) != null &&
      r(cols.indexOf("IX")) != null), "every row has an index and a solve")
    Seq(1, 3, 7).foreach { p =>
      val other = if (p == 1) one else run(p)
      val diff = one.zip(other).count { case (a, b) => a != b }
      assert(diff == 0, s"$diff of ${one.length} rows differ at $p partitions")
      val seeded = indexOf2023(run(p, lastYear, seed))
      val whole = indexOf2023(one)
      assert(seeded.length == whole.length && whole.length == 4 * 12)
      val seededDiff = seeded.zip(whole).count { case (a, b) => a != b }
      assert(seededDiff == 0, s"$seededDiff of ${whole.length} seeded " +
        s"2023 rows differ from the whole history at $p partitions")
    }
    // the seed joins each key's series as rows: no join, no broadcast
    val seededChain = FameSession.run("""set ix = $chain("a - b", "2021")""",
      lastYear, partitionKeys = Seq("ENT"), chainSeed = seed).df
    seededChain.collect()
    val plan = seededChain.queryExecution.executedPlan
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
  }

  /** `g = pct(a)`, a chain and an nlrx over a parquet copy of the panel,
    * collected; returns the executed plan and the SQL executions that
    * building the frame ran. Keyed, the script also takes a fixed-date
    * lookup and a per-key scalar; keyless, both are driver literals.
    */
  private def planOf(withKey: Boolean): (SparkPlan, Int) = {
    val path = tmpDir("perkey_plan").resolve("panel.parquet").toString
    panel(3, withKey).write.parquet(path)
    val in = spark.read.parquet(path)
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet(): Unit
          case _ =>
        }
    }
    drainListeners()
    spark.sparkContext.addSparkListener(listener)
    val script =
      """freq m
        |g = pct(a)
        |set ix = $chain("a", "2021")
        |hp = nlrx(1600, a, a, a, a, a, a, a)""".stripMargin +
        (if (withKey) """
          |rel = a / a[2020-06-01]
          |scalar mu = ave(a)
          |dev = a - mu""".stripMargin else "")
    val out =
      try FameSession.run(script, in,
        partitionKeys = if (withKey) Seq("ENT") else Nil).df
      finally { drainListeners(); spark.sparkContext.removeSparkListener(listener) }
    out.collect()
    (out.queryExecution.executedPlan, execs.get)
  }

  /** Deliver every posted listener event (the drain is Spark-internal). */
  private def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  private def assertNoBranch(plan: SparkPlan): Unit = {
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    assert(!plan.toString.contains("MapGroups") &&
      !plan.toString.contains("AppendColumns"), plan)
    assert(collect(plan) { case p: PerKeySeriesExec => p }.size == 2, plan)
  }

  test("keyed pct, chain and nlrx plan one scan and one keyed exchange, " +
      "and building the frame runs nothing") {
    val (plan, execs) = planOf(withKey = true)
    assert(plan.toString.contains("min_by"), plan)
    assert(execs == 0, s"$execs SQL executions while building the frame")
    assertNoBranch(plan)
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, plan)
    shuffles.head.outputPartitioning match {
      case HashPartitioning(Seq(k: org.apache.spark.sql.catalyst.expressions.Attribute), _) =>
        assert(k.name == "ENT", plan)
      case other => fail(s"expected hashpartitioning(ENT), got $other")
    }
  }

  test("keyless pct, chain and nlrx plan one scan, no hash exchange, and " +
      "building the frame runs nothing") {
    val (plan, execs) = planOf(withKey = false)
    assert(execs == 0, s"$execs SQL executions while building the frame")
    assertNoBranch(plan)
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1 &&
      shuffles.forall(!_.outputPartitioning.isInstanceOf[HashPartitioning]), plan)
  }
}
