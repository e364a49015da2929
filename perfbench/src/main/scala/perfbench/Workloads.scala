package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.api.FameSession
import graft.ast.Frequency
import graft.ast.FameStmt.ConvertAssign
import graft.kernels.{Convert, Indices, Nlrx, ShiftPct}
import graft.ops.{Dedup, Dsir, Output, Sampling, TextOps}
import graft.parse.FameParser
import graft.plan.Scheduler
import graft.streaming.FameStream

final case class Check(name: String, ok: Boolean, detail: String)

/** `rows` is the input row count the generator wrote. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val inputs: Path, val out: Path,
    val rows: Long) {
  def script: String = Files.readString(inputs.resolve("script.fame"))
  def time[T](body: => T): (T, Double) = { val t0 = Clock.ms; val r = body; (r, Clock.ms - t0) }
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

abstract class Workload(val ctx: Ctx) {
  def stage(): Unit
  /** One pass. Returns the latency of each stream micro-batch in it; empty
    * for the batch workloads, whose unit of work is the pass itself.
    */
  def pass(k: Int): Seq[Double]
  /** Unmeasured passes between the cold pass and the timed ones. */
  def warmUps: Int = 1
  /** Output checks, run after the timed passes. */
  def checks(): Seq[Check]
  /** Per-layer figures of one traced pass, from its spans and events. */
  def layers(pass: Span, rec: Recorder): Map[String, Double]
  /** Traced-run probes outside the passes (kernels timed alone). */
  def probes(): Map[String, Double] = Map.empty
  def spark: SparkSession = ctx.spark
  def tr: Tracer = ctx.tr

  protected def child(p: Span, name: String): Option[Span] =
    tr.children(p).find(_.name == name)
  protected def ms(p: Span, name: String): Double = child(p, name).map(_.ms).getOrElse(0.0)
  protected def catalyst(plans: Seq[PlanRec]): Map[String, Double] = Map(
    "catalyst.analysis_ms" -> plans.map(_.analysisMs).sum,
    "catalyst.optimize_ms" -> plans.map(_.optimizeMs).sum,
    "catalyst.planning_ms" -> plans.map(_.planningMs).sum,
    "catalyst.plan_nodes" -> plans.map(_.nodes).maxOption.getOrElse(0).toDouble)
  protected def execOf(s: Span, rec: Recorder): Map[String, Double] =
    rec.exec(s).map { case (k, v) => s"exec.$k" -> v }
  /** The job window of `s` as `exec.action_ms`, and the part of it in which
    * no job ran.
    */
  protected def execWindow(s: Span, rec: Recorder): Map[String, Double] = Map(
    "exec.action_ms" -> rec.jobWindowMs(s),
    "exec.between_jobs_ms" -> (rec.jobWindowMs(s) - rec.jobMs(s)))
}

/** A FAME script over a parquet frame: parse, schedule, build
  * (`FameSession.run`) and a parquet write of the result.
  */
final class FameBatch(ctx: Ctx, file: String, keys: Seq[String]) extends Workload(ctx) {
  private val script = ctx.script
  private var inputCols: Set[String] = Set.empty
  private def input: DataFrame = spark.read.parquet(ctx.inputs.resolve(file).toString)
  private val result = ctx.out.resolve("result").toString
  private var stmts, levels = 0

  def stage(): Unit = inputCols = input.columns.map(_.toUpperCase).toSet

  def pass(k: Int): Seq[Double] = {
    tr.span("pass") {
      val parsed = tr.span("parse")(FameParser.parseScript(script))
      tr.span("schedule") {
        val bound = Scheduler.bind(parsed, inputCols)
        val lv = Scheduler.levels(bound.filterNot(_.stmt.isInstanceOf[ConvertAssign]), inputCols)
        stmts = parsed.size
        levels = lv.size
      }
      val sf = tr.span("build")(FameSession.run(script, input, partitionKeys = keys))
      tr.span("action")(sf.df.write.mode("overwrite").parquet(result))
    }
    Nil
  }

  def checks(): Seq[Check] = Nil // compared against DuckDB by check.py

  def layers(p: Span, rec: Recorder): Map[String, Double] = {
    val build = child(p, "build").get
    val action = child(p, "action").get
    val cat = catalyst(rec.plansIn(action))
    val catMs = cat.filter(_._1.endsWith("_ms")).values.sum
    // measured, not a remainder: action time outside Catalyst's phases and
    // outside the job window (input listing and stage planning before the
    // first job, the file commit after the last) lowers the share
    val execMs = rec.jobWindowMs(action)
    val layerSum = ms(p, "parse") + ms(p, "schedule") + build.ms + catMs + execMs
    Map("parse.ms" -> ms(p, "parse"), "parse.stmts" -> stmts.toDouble,
      "schedule.ms" -> ms(p, "schedule"), "schedule.levels" -> levels.toDouble,
      "build.ms" -> build.ms, "build.sql_execs" -> rec.sqlExecs(build).toDouble,
      "trace.layer_sum_share" -> layerSum / p.ms) ++
      cat ++ execOf(p, rec) ++ execWindow(action, rec)
  }

  override def probes(): Map[String, Double] = if (keys.isEmpty) Map.empty else {
    val panel = input
    val dates = panel.agg(min("DATE"), max("DATE")).head()
    val (lo, hi) = (dates.getDate(0).toLocalDate, dates.getDate(1).toLocalDate)
    val baseYear = lo.getYear + 2
    val quarterly = Convert.down(panel, "DATE", Seq("A"), Frequency.Monthly,
      Frequency.Quarterly, "sum", keys).localCheckpoint(true)
    // each kernel's public call alone, written to a noop sink; the second
    // of two runs is kept so the figure is warm like the passes
    def timed(body: => DataFrame): Double = (1 to 2).map { _ =>
      ctx.time(body.write.format("noop").mode("overwrite").save())._2
    }.last
    Map(
      "kernel.convert_down_ms" -> timed(Convert.down(panel, "DATE", Seq("A"),
        Frequency.Monthly, Frequency.Quarterly, "sum", keys)),
      "kernel.convert_up_ms" -> timed(Convert.up(quarterly, "DATE", Seq("A"),
        Frequency.Quarterly, Frequency.Monthly, "linear", keys)),
      "kernel.chain_ms" -> timed(Indices.chain(panel, "DATE", Seq((1, "A"), (-1, "B")),
        baseYear, "IX", keys)),
      "kernel.fishvol_ms" -> timed(Indices.fishvol(panel, "DATE", Seq("A", "B"),
        Seq("PA", "PB"), baseYear, "FV", keys)),
      "kernel.nlrx_ms" -> timed(Nlrx.HpSmoother.grouped(panel, "DATE", "HP", 1600.0,
        Seq.fill(7)("C"), keys)),
      "kernel.shift_pct_ms" -> timed(ShiftPct.backwards(panel.withColumn("LV", col("D")),
        "DATE", Seq("LV" -> "C"), Some(lo), hi, keys)))
  }
}

/** `FameStream.runIncremental` keyed by ENTITY over staged files, one file
  * per trigger. A pass drains the whole stream into fresh directories.
  */
final class FameStreamWork(ctx: Ctx) extends Workload(ctx) {
  private val script = ctx.script
  private val src = ctx.inputs.resolve("stream_src")
  private var schema: StructType = _
  private var inputBytes = 0L
  private def inputRows = ctx.rows
  private var lastDir: Option[Path] = None
  // per traced pass span id: micro-batch progress, and what the pass left
  // on disk (bytes, files, carry rows, emitted rows)
  private val progress = scala.collection.mutable.Map.empty[Int, Seq[Map[String, Double]]]
  private val written = scala.collection.mutable.Map.empty[Int, Seq[Double]]

  // a pass here is short: two give the JIT about as long as one pass of
  // the batch workloads, and the first timed pass was still ~10% slower
  // than the third after one
  override def warmUps: Int = 2

  def stage(): Unit = {
    val files = Files.list(src).iterator().asScala.toSeq
    inputBytes = files.map(Files.size).sum
    schema = spark.read.parquet(src.toString).schema
  }

  def pass(k: Int): Seq[Double] = {
    val dir = ctx.out.resolve(s"stream-$k")
    val prog = tr.span("pass") {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src.toString)
      val q = FameStream.runIncremental(stream, script, dir.resolve("bronze").toString,
        dir.resolve("result").toString, partitionKeys = Seq("ENTITY"),
        checkpointDir = Some(dir.resolve("ckpt").toString))
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    }
    val batches = prog.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      d + ("numInputRows" -> p.numInputRows.toDouble)
    }
    if (tr.on) {
      val id = tr.named("pass").last.id
      progress(id) = batches
      val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val tail = dir.resolve("bronze").resolve("_tail")
      val carry = if (!Files.isDirectory(tail)) 0.0 else
        Files.list(tail).iterator().asScala.map(_.toString).toSeq.sorted.lastOption
          .map(v => spark.read.parquet(v).count().toDouble).getOrElse(0.0)
      val emittedRows = spark.read.parquet(dir.resolve("result").toString).count().toDouble
      written(id) = Seq(files.map(Files.size).sum.toDouble, files.size.toDouble, carry,
        emittedRows)
    }
    lastDir.foreach(ctx.deleteTree)
    lastDir = Some(dir)
    batches.map(_.getOrElse("triggerExecution", 0.0))
  }

  def checks(): Seq[Check] = {
    val got = spark.read.parquet(lastDir.get.resolve("result").toString).drop("batch")
    val full = FameSession.run(script, spark.read.parquet(src.toString),
      partitionKeys = Seq("ENTITY")).df.withColumn("__ref", lit(true))
    val cols = got.columns.filterNot(Set("ENTITY", "DATE")).filter(full.columns.contains)
    val joined = got.as("g").join(full.as("f"), Seq("ENTITY", "DATE"), "left")
    // sums over a quarter run in another order in a micro-batch than over
    // the whole history, so cells agree to rounding, not always to the bit
    def same(c: String, tol: Double) = {
      val (g, f) = (col(s"g.$c"), col(s"f.$c"))
      (g <=> f) || (abs(g - f) <= greatest(lit(1.0), abs(f)) * tol)
    }
    def differing(tol: Double) = sum(when(col("f.__ref").isNull ||
      cols.map(c => !same(c, tol)).reduce(_ || _), 1).otherwise(0))
    val r = joined.agg(differing(1e-9), differing(0.0), count(lit(1))).head()
    val (bad, notBitEqual, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
    Seq(Check("stream.equals_whole_history", bad == 0 && n > 0,
      s"$bad of $n emitted rows differ from FameSession.run over the whole history " +
        s"beyond 1e-9 relative ($notBitEqual not bit-equal; ${cols.length} columns)"))
  }

  def layers(p: Span, rec: Recorder): Map[String, Double] = {
    val b = progress(p.id)
    val Seq(bytes, files, carry, emittedRows) = written(p.id)
    def med(f: Map[String, Double] => Double) = Stats.median(b.map(f))
    val rowsRead = b.map(_("numInputRows")).sum
    Map(
      "stream.add_batch_ms" -> med(_.getOrElse("addBatch", 0.0)),
      "stream.planning_ms" -> med(_.getOrElse("queryPlanning", 0.0)),
      "stream.wal_commit_ms" -> med(m => m.getOrElse("walCommit", 0.0) +
        m.getOrElse("commitOffsets", 0.0)),
      "stream.sql_execs_per_batch" -> rec.sqlExecs(p).toDouble / b.size,
      "stream.source_reads_per_row" -> rowsRead / inputRows,
      "stream.bytes_written_per_input_byte" -> bytes / inputBytes,
      "stream.files_written_per_batch" -> files / b.size,
      "stream.carry_rows" -> carry,
      "stream.pending_rows" -> (inputRows - emittedRows)) ++
      catalyst(rec.plansIn(p)) ++ execOf(p, rec) ++ execWindow(p, rec)
  }
}

/** Exact dedup → MinHash-LSH → connected components → quality gate →
  * DSIR weights → hash split → sharded parquet write. Each stage is
  * materialized inside its own span so its work is attributed to it.
  */
final class CorpusPipeline(ctx: Ctx) extends Workload(ctx) {
  private val file = ctx.inputs.resolve("corpus.parquet").toString
  private val outDir = ctx.out.resolve("corpus_out").toString
  private var lastPairs: DataFrame = _
  private val pairCounts = scala.collection.mutable.Map.empty[Int, Double]
  private val ops = Seq("exact", "lsh", "components", "quality", "dsir", "write")

  def stage(): Unit = spark.read.parquet(file).schema

  def pass(k: Int): Seq[Double] = {
    tr.span("pass") {
      val docs = spark.read.parquet(file)
      val kept = tr.span("ops.exact") {
        val groups = Dedup.exact(docs, "id", "text")
        docs.join(groups.select(col("keep_id").as("id")), Seq("id"), "left_semi")
          .localCheckpoint(true)
      }
      val pairs = tr.span("ops.lsh") {
        Dedup.minHashLshPairs(kept, "id", "text").where(col("jaccard") >= 0.5)
          .localCheckpoint(true)
      }
      val firsts = tr.span("ops.components") {
        val comp = Dedup.connectedComponents(pairs, "id1", "id2", kept, "id")
        kept.join(comp.where(col("id") === col("component")).select("id"), Seq("id"),
          "left_semi").localCheckpoint(true)
      }
      val good = tr.span("ops.quality") {
        firsts.withColumn("quality", TextOps.qualityScore(col("text")))
          .where(col("quality") >= 0.3).localCheckpoint(true)
      }
      val weighted = tr.span("ops.dsir") {
        val w = Dsir.importanceWeights(good, col("lang") === "en" && col("source") < "src05",
          "id", "text", 4096)
        good.join(w.select("id", "log_weight"), Seq("id")).localCheckpoint(true)
      }
      tr.span("ops.write") {
        val split = Sampling.splitByHash(weighted, "id",
          Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
        Output.writeSharded(split, "id", outDir, 8)
      }
      lastPairs = pairs
    }
    if (tr.on) pairCounts(tr.named("pass").last.id) = lastPairs.count().toDouble
    Nil
  }

  def checks(): Seq[Check] = {
    lastPairs.select("id1", "id2", "jaccard").write.mode("overwrite")
      .parquet(ctx.out.resolve("lsh_pairs").toString)
    Nil // compared against the generator's ground truth by check.py
  }

  def layers(p: Span, rec: Recorder): Map[String, Double] =
    ops.flatMap { op =>
      child(p, s"ops.$op").toSeq.flatMap { s =>
        val e = rec.exec(s)
        Seq(s"ops.${op}_ms" -> s.ms,
          s"ops.$op.shuffle_write_mb" -> e("shuffle_write_mb"),
          s"ops.$op.shuffle_read_mb" -> e("shuffle_read_mb"),
          s"ops.$op.spill_mb" -> e("spill_mb"))
      }
    }.toMap ++ Map("ops.lsh_pairs" -> pairCounts(p.id)) ++
      catalyst(rec.plansIn(p)) ++ execOf(p, rec) ++ execWindow(p, rec)
}
