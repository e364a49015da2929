package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.api.FameSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** One benchmark run of one workload in a fresh JVM, driven by run.py:
  *
  *   Main --workload <name> --inputs <dir> --out <dir> --rows <n>
  *        --seconds <n> --trace <0|1> --cores <n>
  *
  * Starts a session, stages the generated inputs, runs the cold pass and the
  * workload's unmeasured warm-up passes (the JIT is still compiling the hot
  * paths), then warm passes back to back (a closed loop with one client)
  * while the next pass is expected to end within `--seconds`, runs the
  * output checks and writes `<out>/result.json`. After every pass, outside
  * its timing, a full collection measures the heap the pass left live. With
  * `--trace 1` every second warm pass runs traced, so the run also reports
  * the tracing overhead.
  */
object Main {
  private val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val trace = opt("trace") == "1"
    val spark = session(opt("cores").toInt, out)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tr = new Tracer
    val rec = new Recorder
    val ctx = new Ctx(spark, tr, Paths.get(opt("inputs")), out, opt("rows").toLong)
    val w: Workload = opt("workload") match {
      case "fame_keyed_batch" => new FameBatch(ctx, "panel.parquet", Seq("ENTITY"))
      case "fame_wide_script" => new FameBatch(ctx, "series.parquet", Nil)
      case "fame_stream" => new FameStreamWork(ctx)
      case "corpus_pipeline" => new CorpusPipeline(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val (_, stageMs) = ctx.time(w.stage())

    var attempted, failed = 0
    val liveMb = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    def runPass(k: Int): Option[(Seq[Double], Double)] = {
      attempted += 1
      val r = Try(ctx.time(w.pass(k))).fold(e => {
        e.printStackTrace()
        failed += 1
        errors += s"pass $k: ${e.toString.linesIterator.next()}"
        None
      }, Some(_))
      liveMb += liveHeapMb()
      r
    }

    if (trace) { rec.attach(spark); tr.on = true }
    val codegen0 = codegen()
    val cold = runPass(0)
    val codegen1 = codegen()
    val coldSpan = tr.named("pass").lastOption
    tr.on = false
    for (_ <- 1 to w.warmUps if cold.isDefined && failed == 0) runPass(attempted)

    val seconds = opt("seconds").toDouble
    val untraced = mutable.ArrayBuffer.empty[(Seq[Double], Double)]
    val traced = mutable.ArrayBuffer.empty[(Seq[Double], Double)]
    // a traced run alternates untraced and traced passes, so both halves
    // sit at the same point of the JIT's warm-up. The listeners stay
    // attached: detached, they would miss events still on the bus.
    val t0 = Clock.ms
    def done = untraced.size + traced.size
    def next = Stats.median((untraced ++ traced).map(_._2).toSeq)
    while (cold.isDefined && failed == 0 &&
        (done < MinPasses || Clock.ms - t0 + next < seconds * 1000)) {
      tr.on = trace && done % 2 == 1
      val into = if (tr.on) traced else untraced
      runPass(attempted).foreach(into += _)
      tr.on = false
    }

    val checks = (if (failed == 0) Try(w.checks()).fold(
      e => Seq(Check("workload.checks_ran", ok = false, e.toString)), identity) else Nil) :+
      divByZeroCheck(spark)
    val probes = if (trace && failed == 0) w.probes() else Map.empty[String, Double]
    // the heap is fixed and pre-touched, so the process's peak RSS holds it
    // whole; in its place count what a pass typically leaves live in it
    val nativeMb = peakRssMb() - heapMb(_.getCommitted)
    val liveHeap = Stats.median(liveMb.toSeq)
    spark.stop() // drains the listener bus: every event below has arrived

    val warm = if (trace) traced else untraced
    val res = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS,
      "stage_s" -> stageMs / 1000,
      "cold_pass_s" -> cold.map(_._2 / 1000).getOrElse(0.0),
      "passes_s" -> warm.map(_._2 / 1000).toSeq,
      "untraced_passes_s" -> untraced.map(_._2 / 1000).toSeq,
      "units_ms" -> units(warm.toSeq),
      "all_units_ms" -> units((untraced ++ traced).toSeq),
      "peak_rss_mb" -> (nativeMb + liveHeap),
      "native_mb" -> nativeMb,
      "live_heap_mb" -> liveHeap,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
    if (trace && failed == 0) {
      val warmSpans = tr.named("pass").filterNot(s => coldSpan.exists(_.id == s.id))
      val perPass = warmSpans.map(s => w.layers(s, rec))
      val keys = perPass.flatMap(_.keys).distinct
      val layers = mutable.LinkedHashMap[String, Any]()
      keys.foreach(k => layers(k) = Stats.median(perPass.map(_.getOrElse(k, 0.0))))
      // codegen compiles happen on first sight of a plan: take them from the
      // cold pass
      layers("codegen.compile_ms") = codegen1._1 - codegen0._1
      layers("codegen.compiles") = codegen1._2 - codegen0._2
      layers ++= probes
      res("layers") = layers
      res("spans") = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end)).toSeq
    }
    Files.writeString(out.resolve("result.json"), Json(res))
  }

  /** The unit of work of each pass: its micro-batches, or the pass itself. */
  private def units(passes: Seq[(Seq[Double], Double)]): Seq[Double] =
    passes.flatMap { case (batches, ms) => if (batches.isEmpty) Seq(ms) else batches }

  private def session(cores: Int, out: Path): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
    val b = SparkEntry.sessionDefaults.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A known engine defect, checked in every run: under Spark 4's ANSI
    * mode a FAME division by zero fails the whole job with DIVIDE_BY_ZERO,
    * where FAME semantics give a missing (NC) value. The check fails until
    * the engine is fixed.
    */
  private def divByZeroCheck(spark: SparkSession): Check = {
    import spark.implicits._
    val d = java.sql.Date.valueOf(_: String)
    val frame = Seq((d("2020-01-01"), 1.0, 2.0), (d("2020-02-01"), 0.0, 0.0),
      (d("2020-03-01"), 3.0, 4.0)).toDF("DATE", "A", "B")
    val name = "known_defect.fame_div_by_zero_nc"
    Try(FameSession.run("freq m\np = pct(a)\nq = a / b", frame).df
      .orderBy("DATE").select(col("P"), col("Q")).collect()).fold(
      e => Check(name, ok = false, e.toString.linesIterator.next().take(200)),
      rows => Check(name, rows(1).isNullAt(1) && rows(2).isNullAt(0),
        s"P,Q = ${rows.map(r => s"(${r.get(0)},${r.get(1)})").mkString(" ")}; " +
          "want Q null at the zero divisor and P null after the zero level"))
  }

  /** (total ms, count) of whole-stage and expression code compiles so far.
    * Spark records each compile (a code-cache miss) in whole milliseconds.
    */
  private def codegen(): (Double, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getSnapshot.getValues.map(_.toDouble).sum, h.getCount.toDouble)
  }

  private def heapMb(f: java.lang.management.MemoryUsage => Long): Double =
    f(java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage) / 1048576.0

  /** Heap still reachable after a pass: a full collection, outside the
    * pass's timing, leaves only live objects. Blocks that Spark's cleaner
    * frees only after the collection still count; the median over the
    * passes absorbs them.
    */
  private def liveHeapMb(): Double = { System.gc(); heapMb(_.getUsed) }

  private def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))
      .getOrElse(0.0)
}

/** Just enough JSON for result.json: maps, sequences, strings, numbers. */
object Json {
  def apply(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(String.valueOf(other))
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
