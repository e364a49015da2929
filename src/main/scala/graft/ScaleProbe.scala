package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Scaling and profiling probe (SCALING.md §6b): runs named queries
  * against a fixture dir and reports, per query, wall time plus what a
  * wall clock can't see, all from ONE SparkListener:
  *  - memory pressure — total shuffle write/read bytes, peak
  *    single-stage shuffle write, memory/disk spill (the 100× question
  *    "does it still fit, or does it start spilling?");
  *  - where the time went — `job_wall` (time at least one of the
  *    query's Spark jobs was running; concurrent jobs count once),
  *    `driver_gap` (wall − job_wall: planning, analysis and scheduling
  *    while no job runs), and the query's `jobs`, `stages`,
  *    `tasks` and cumulative `task_time_ms`. For a query whose data is
  *    tiny the split tells whether to optimize the plan (executor) or
  *    the per-query fixed cost (driver);
  *  - generated code — `codegen_compiles` and `codegen_ms`, the code-cache
  *    misses of the reported run and their compile time. A warm run
  *    reuses the classes the earlier runs compiled, so a count above 0
  *    there is recompiled code.
  *
  * Usage:
  *  - `runMain graft.ScaleProbe <sfDir> <q1,q2,...> [runs]` — one JSON
  *    line per query (the min-wall run's metrics) and a
  *    `{"probe":"done"}` terminator;
  *  - `runMain graft.ScaleProbe plan <sfDir> <outDir> <tag> <q1,q2,...>`
  *    — writes `.explain("formatted")` of each named query to
  *    `<outDir>/<query>_<tag>.txt`. Streaming-harness queries (q185/q210/
  *    q214+) execute a full stream inside their builder, so their
  *    returned frame is the RESULT READBACK plan.
  *
  * `SPARK_GRAFT_CPUS` sets `local[N]` (default 32);
  * `SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"` applies extra session confs
  * (a partition-count or shuffle-writer A/B) without a code edit.
  * Measurement infrastructure, not a shipped operator — same standing
  * as Bench.
  */
object ScaleProbe {

  private class ProbeMetrics extends SparkListener {
    private var running = Set.empty[Int]
    private var busySince = 0L
    private var m = Map.empty[String, Long].withDefaultValue(0L)
    private def add(k: String, v: Long): Unit = m = m.updated(k, m(k) + v)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (running.isEmpty) busySince = System.nanoTime()
      running += e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      // only jobs whose start this run saw: a job that began before a
      // reset() must not count
      if (running.contains(e.jobId)) {
        running -= e.jobId
        add("jobs", 1)
        if (running.isEmpty) add("job_wall_ns", System.nanoTime() - busySince)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        add("stages", 1)
        add("tasks", e.stageInfo.numTasks.toLong)
        val t = e.stageInfo.taskMetrics
        if (t != null) {
          val w = t.shuffleWriteMetrics.bytesWritten
          add("shuffle_write", w)
          add("shuffle_read", t.shuffleReadMetrics.totalBytesRead)
          m = m.updated("peak_stage_write", math.max(m("peak_stage_write"), w))
          add("memory_spill", t.memoryBytesSpilled)
          add("disk_spill", t.diskBytesSpilled)
          add("task_time_ms", t.executorRunTime)
        }
      }
    def snapshot(): Map[String, Long] = synchronized(m)
    def reset(): Unit = synchronized {
      running = Set.empty; m = Map.empty[String, Long].withDefaultValue(0L)
    }
  }

  /** Entity-scaled keyed-FAME probe queries (r13 verdict task 4): the
    * q19/q38 script (pct + quarterly convert) and the q86 script (one
    * HP-smoother NLRX solve per entity) over the nation frame
    * replicated `SPARK_GRAFT_FAME_REPS`× (default 100 = q38's standing
    * 2500 entities; 10 = 250 entities, 1000 = 25k). The partitioned
    * FAME path is the engine's scale story — per-entity parallel
    * windows and mapGroups solves, no keyless exchange — and until
    * this probe its evidence was wall-clock only. Output is the
    * registered q38/q86 per-entity digest so the result stays bounded
    * at any replication factor. Probe-only: NOT in SparkEntry.queries
    * (the driver's correctness gate pins q19/q38/q86 themselves).
    */
  private def fameProbes(reps: Int)
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    def wide(s: SparkSession, dir: String) = {
      val r = s.range(reps.toLong).select(col("id").cast("string").as("REP"))
      QueriesCore.monthlyByNation(s, dir).crossJoin(r)
        .select(concat_ws("#", col("NATION"), col("REP")).as("NATION"),
          col("DATE"), col("REV"))
    }
    Map(
      s"fameprobe_pct_convert_x$reps" -> ((s, dir) => {
        val out = graft.api.FameSession.run(
          """freq m
            |p = pct(rev)
            |rev_q = convert(rev, q, discrete, sum)""".stripMargin,
          wide(s, dir), partitionKeys = Seq("NATION"))
        out.df.groupBy(col("NATION").as("nation"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("P"), 8).cast(DecimalType(28, 8)))
              .cast("double").as("sum_p"),
            sum(round(col("REV_QTRLY"), 8).cast(DecimalType(28, 8)))
              .cast("double").as("sum_rev_q"))
      }),
      s"fameprobe_nlrx_x$reps" -> ((s, dir) => {
        val out = graft.api.FameSession.run(
          "sm = nlrx(1600, rev, rev, rev, rev, rev, rev, rev)",
          wide(s, dir), partitionKeys = Seq("NATION"))
        out.df.groupBy(col("NATION").as("nation"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("SM"), 6).cast(DecimalType(28, 6)))
              .cast("double").as("sum_sm"))
      }),
      // r16: the per-key lookup materialization at entity scale — each
      // lookup site is a filter → groupBy(keys) → join back, so the
      // question is whether the #keys-row join stays broadcast-shaped
      // as keys grow 100×. Two sites (fixed date + scalar date) plus a
      // masked site exercise invalidation-free reuse.
      s"fameprobe_lookup_x$reps" -> ((s, dir) => {
        val out = graft.api.FameSession.run(
          """freq m
            |rel = rev / rev[1995-06-01] * 100
            |scalar d0 = make(date(m), "1995-06-01")
            |rel2 = rev / rev[d0]
            |set <date 1997-01-01 to 1997-12-01> z = rel / rel[1995-06-01]""".stripMargin,
          wide(s, dir), partitionKeys = Seq("NATION"))
        out.df.groupBy(col("NATION").as("nation"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("REL"), 8).cast(DecimalType(28, 8)))
              .cast("double").as("sum_rel"),
            sum(round(col("REL2"), 8).cast(DecimalType(28, 8)))
              .cast("double").as("sum_rel2"),
            sum(round(col("Z"), 8).cast(DecimalType(28, 8)))
              .cast("double").as("sum_z"))
      }),
      // r18 (r17 verdict task 2): the PQ/ADC serve path at eval-set
      // scale — |queries| = 100 × reps (reps=100 → 10⁴ queries), built
      // by replicating the corpus vectors under fresh ids. The old
      // serve shape folded one plan branch per query row (unionByName),
      // so 10⁴ queries exploded the PLAN; the broadcast-LUT join keeps
      // the plan constant-size and this arm's wall clock is the
      // linear-serve-cost evidence (run at reps 10 vs 100). Digest
      // output: per-rank counts + est_d2 checksum, bounded at any reps.
      s"pqserveprobe_x$reps" -> ((s, dir) => {
        val e = s.read.parquet(s"$dir/embeddings.parquet")
        val base = e.select(col("vec_id"), col("embedding"))
        val n = base.count()
        val nq = 100L * reps
        val copies = ((nq + n - 1) / n).toInt
        // repartition after the limit: GlobalLimit collapses to ONE
        // partition, which would serialize the query-side scoring loop
        // (r19 flipped serve streams the queries) — a real query table
        // arrives partitioned, so the probe should too
        val q = base.crossJoin(
            s.range(copies.toLong).select(col("id").as("__r")))
          .select((col("vec_id") * copies + col("__r") + lit(1000000L))
            .as("vec_id"), col("embedding"))
          .limit(nq.toInt)
          .repartition(s.sparkContext.defaultParallelism)
        graft.ops.Similarity.pqServe(q, e, "vec_id", "embedding", k = 10)
          .groupBy(col("rank"))
          .agg(count(lit(1)).as("n"), sum(col("est_d2")).as("sum_est"))
      }))
  }

  /** Keyed incremental-STREAMING probe (r16): stages the replicated
    * per-nation frame as 3 contiguous date chunks, streams them through
    * [[graft.streaming.FameStream.runIncremental]] with
    * `partitionKeys = NATION` (the q214 script: lag chains + a masked
    * whole-series rebase, maxLag 35), and reports PER-BATCH wall
    * seconds plus the run's shuffle/spill totals — the O(batch +
    * tail·keys) claim measured through the real streaming harness, not
    * argued from the batch path. Chunks are appended to the source dir
    * between `processAllAvailable()` calls, so each timed call is
    * exactly one micro-batch.
    */
  private def streamProbe(spark: SparkSession, sfDir: String, reps: Int,
      listener: ProbeMetrics, drain: () => Unit,
      probe: String = "famestreamprobe",
      scriptOverride: Option[String] = None,
      wide: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory(probe).toString
    val r = spark.range(reps.toLong)
      .select(col("id").cast("string").as("REP"))
    val m0 = QueriesCore.monthlyByNation(spark, sfDir).crossJoin(r)
      .select(concat_ws("#", col("NATION"), col("REP")).as("NATION"),
        col("DATE"), col("REV"))
    // `wide` (famechainprobe): the chain kernel needs signed
    // quantity/price pairs — derive deterministic per-month prices so
    // the data volume and value distribution are realistic without a
    // second fact join
    val m = (if (!wide) m0
      else m0
        .withColumn("A", col("REV"))
        .withColumn("PA", (lit(2) + month(col("DATE")) % 3).cast("double"))
        .withColumn("B", col("REV") / 2)
        .withColumn("PB", (lit(1) + month(col("DATE")) % 2).cast("double"))
        .drop("REV"))
      .localCheckpoint(true)
    val nKeys = m.select("NATION").distinct().count()
    val dates = m.select(col("DATE")).distinct().orderBy("DATE")
      .collect().map(_.getDate(0))
    val cuts = dates.grouped(math.ceil(dates.length / 3.0).toInt).toSeq
    val srcDir = s"$base/src"
    def writeChunk(i: Int): Unit =
      m.where(col("DATE").isInCollection(cuts(i).toSeq))
        .coalesce(1).write.mode("append").parquet(srcDir)
    writeChunk(0)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val script = scriptOverride.getOrElse(
      """freq m
        |growth = pct(rev)
        |d2 = rev - rev[t-2]
        |set <date 1995-01-01 to 1995-06-01> base = rev
        |set <date 1996-01-01 to 1997-12-01> idx = rev / lastvalue(base) * 100""".stripMargin)
    listener.reset()
    val q = graft.streaming.FameStream.runIncremental(stream, script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("NATION"),
      checkpointDir = Some(s"$base/ckpt"))
    val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    try cuts.indices.foreach { i =>
      if (i > 0) writeChunk(i)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      batchSecs += (System.nanoTime() - t0) / 1e9
    } finally q.stop()
    drain()
    val snap = listener.snapshot()
    val outRows = spark.read.parquet(s"$base/result").count()
    def mb(k: String): String =
      "%.1f".formatLocal(java.util.Locale.US, snap.getOrElse(k, 0L) / 1e6)
    val bs = batchSecs.map(s =>
      "%.3f".formatLocal(java.util.Locale.US, s)).mkString("[", ",", "]")
    // carry size at the final version: tail + pinned rows (the pin
    // cost is the carry's growth — report it so the broadcast-shaped
    // claim is a number, not an adjective)
    val lastV = new java.io.File(s"$base/bronze/_tail").listFiles()
      .filter(_.isDirectory).map(_.getName.stripPrefix("v=").toLong).max
    val carryRows = spark.read
      .parquet(s"$base/bronze/_tail/v=$lastV").count()
    // chain probes: the versioned closed-year state is the OTHER carry
    // channel — report its final row count (keys × closed years per
    // chain target; 0 when no chain state exists)
    val stateRows = {
      val stDir = new java.io.File(s"$base/bronze/_state")
      if (!stDir.isDirectory) 0L
      else stDir.listFiles().filter(_.isDirectory).map { t =>
        val v = t.listFiles().filter(_.isDirectory)
          .map(_.getName.stripPrefix("v=").toLong).max
        spark.read.parquet(s"${t.getPath}/v=$v").count()
      }.sum
    }
    println(s"""{"query":"${probe}_x$reps","sf":"$sfDir",""" +
      s""""n_keys":$nKeys,"out_rows":$outRows,"carry_rows":$carryRows,""" +
      s""""state_rows":$stateRows,""" +
      s""""batch_secs":$bs,""" +
      s""""total_sec":${"%.3f".formatLocal(java.util.Locale.US,
        batchSecs.sum)},"shuffle_write_mb":${mb("shuffle_write")},""" +
      s""""memory_spill_mb":${mb("memory_spill")},"disk_spill_mb":${
        mb("disk_spill")}}""")
  }

  /** (compiles, compile ns) of generated code so far in this JVM: every
    * compile is a code-cache miss.
    */
  private def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val planMode = args.headOption.contains("plan")
    if (planMode) require(args.length == 5,
      "usage: ScaleProbe plan <sfDir> <outDir> <tag> <q1,q2,...>")
    else require(args.length >= 2,
      "usage: ScaleProbe <sfDir> <q1,q2,...> [runs]")
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }.toMap
    val spark = SparkEntry.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, extra)
    spark.sparkContext.setLogLevel("WARN")
    val reps = sys.env.getOrElse("SPARK_GRAFT_FAME_REPS", "100").toInt
    val byName = SparkEntry.queries ++ fameProbes(reps)
    if (planMode) {
      val Array(_, sfDir, outDir, tag, list) = args
      plans(spark, byName, sfDir, outDir, tag, list.split(",").toSeq)
    } else probe(spark, byName, reps, args(0), args(1).split(",").toSeq,
      if (args.length > 2) args(2).toInt else 2)
    spark.stop()
  }

  private def plans(spark: SparkSession,
      byName: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      sfDir: String, outDir: String, tag: String, names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val txt = byName(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        (s"== $name @ $sfDir ($tag) ==\n" + txt).getBytes("UTF-8"))
      println(s"dumped $name")
    }
  }

  private def probe(spark: SparkSession,
      byName: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      reps: Int, sfDir: String, names: Seq[String], runs: Int): Unit = {
    // runs = 0 would leave best = (Double.MaxValue, empty) and print
    // garbage wall_sec JSON (r13 ADVICE) — the probe needs >= 1 timed run
    require(runs >= 1, s"ScaleProbe needs runs >= 1, got $runs")
    val listener = new ProbeMetrics
    spark.sparkContext.addSparkListener(listener)
    // Deterministic listener drain: the listener bus's own
    // waitUntilEmpty() (private[spark] = public in bytecode, so plain
    // reflection reaches it) — after it returns, every posted event has
    // been delivered to every listener, so the next snapshot holds the
    // whole run (a fixed sleep let stage events land after the snapshot
    // under load — r13 ADVICE).
    val drain: () => Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val wait = bus.getClass.getMethod("waitUntilEmpty")
      () => wait.invoke(bus): Unit
    }
    names.foreach { pat =>
      if (pat.startsWith("famestreamprobe")) {
        streamProbe(spark, sfDir, reps, listener, drain)
      } else if (pat.startsWith("famebucketprobe")) {
        // the r16 bucket hold-back at entity scale: a keyed m→q
        // downsample (hold 2/key) plus a lag — the synthetic-anchor
        // cutoff window and the quarterly groupBy run per batch
        streamProbe(spark, sfDir, reps, listener, drain,
          probe = "famebucketprobe", scriptOverride = Some(
            """freq m
              |growth = pct(rev)
              |rev_q = convert(rev, q, discrete, sum)""".stripMargin))
      } else if (pat.startsWith("famechainprobe")) {
        // the r17 year hold-back at entity scale: a keyed two-goods
        // Fisher chain plus a lag — per batch the executor re-links
        // the FULL carried year table (keys × closed years) against
        // the open year's raw rows, and the question is whether the
        // state channel stays linear in keys while the raw carry stays
        // bounded by the open year
        streamProbe(spark, sfDir, reps, listener, drain,
          probe = "famechainprobe", scriptOverride = Some(
            """freq m
              |mom = pct(a)
              |set x = $chain("a - b", "1996")""".stripMargin),
          wide = true)
      } else if (pat.startsWith("famepinprobe")) {
        // the r16 pin + hold-back mechanics at entity scale: an
        // open-ended rebase (two pin windows — base's 1995-H1 support
        // and the June-1995 lookup row — carried permanently per key)
        // plus one lead (1-row hold-back per key)
        streamProbe(spark, sfDir, reps, listener, drain,
          probe = "famepinprobe", scriptOverride = Some(
            """freq m
              |growth = pct(rev)
              |fchg = (rev[t+1] - rev) / rev * 100
              |set <date 1995-01-01 to 1995-06-01> base = rev
              |set <date 1996-01-01 to *> idx = rev / lastvalue(base) * 100
              |set <date 1996-03-01 to *> rel = rev / rev["1995-06-01"] * 100""".stripMargin))
      } else {
      val matches = byName.keys.filter(_.contains(pat)).toSeq.sorted
      matches.foreach { name =>
        // run 1 untimed warmup (codegen), then `runs` timed; report the
        // min-wall run's metrics (listener drained and reset per run) and
        // the code it compiled: a warm run that recompiles shows here
        var best: (Double, Map[String, Long]) = (Double.MaxValue, Map.empty)
        (0 to runs).foreach { i =>
          drain(); listener.reset()
          val compiled0 = codegen()
          val t0 = System.nanoTime()
          // noop sink, NOT count(): count() lets column pruning delete
          // the whole projection of a map-only query (a pure per-row
          // scorer collapses to a parquet metadata row count — q101
          // probed flat 0.14 s at every scale). The noop writer
          // evaluates every output column and discards rows.
          byName(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          val wall = (System.nanoTime() - t0) / 1e9
          drain()
          val compiled = codegen()
          val snap = listener.snapshot() +
            ("codegen_compiles" -> (compiled._1 - compiled0._1)) +
            ("codegen_ms" -> (compiled._2 - compiled0._2) / 1000000)
          if (i > 0 && wall < best._1) best = (wall, snap)
        }
        val (wall, m) = best
        def mb(k: String): String =
          "%.1f".formatLocal(java.util.Locale.US, m.getOrElse(k, 0L) / 1e6)
        def sec(x: Double): String = "%.3f".formatLocal(java.util.Locale.US, x)
        def n(k: String): Long = m.getOrElse(k, 0L)
        val jobWall = n("job_wall_ns") / 1e9
        println(s"""{"query":"$name","sf":"$sfDir","wall_sec":${sec(wall)
        },"shuffle_write_mb":${mb("shuffle_write")},"shuffle_read_mb":${
          mb("shuffle_read")},"peak_stage_write_mb":${mb("peak_stage_write")
        },"memory_spill_mb":${mb("memory_spill")},"disk_spill_mb":${
          mb("disk_spill")},"job_wall":${sec(jobWall)},"driver_gap":${
          sec(wall - jobWall)},"jobs":${n("jobs")},"stages":${n("stages")
        },"tasks":${n("tasks")},"task_time_ms":${n("task_time_ms")
        },"codegen_compiles":${n("codegen_compiles")},"codegen_ms":${
          n("codegen_ms")}}""")
      }
      }
    }
    println("""{"probe":"done"}""")
  }
}
