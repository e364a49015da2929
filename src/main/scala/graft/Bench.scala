package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: times every SparkEntry query at
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  * Queries run sorted by name; timing includes the full action
  * (plan + execute + count).
  *
  * Protocol: each query runs `runs` times (default 3); the FIRST run is an
  * untimed per-query warmup and the reported figure is the MIN of the
  * remaining runs. The first execution of a plan shape pays JIT + janino
  * codegen compilation — measured at 2-5x steady state for the big composed
  * pipelines (q64: 12.6 s cold vs 2.7-3.3 s steady; q34: 5.7 s vs 0.6-0.8 s)
  * — and a single global warmup query does not warm per-query codegen, so
  * min-of-2 without a per-query warmup let cold-codegen masquerade as
  * regression in rounds 3 and 6. A shared machine also adds load spikes;
  * the post-warmup min is the reproducible engine-speed figure.
  *
  * The output additionally reports `baseline_subset_sec`: the total over
  * q01-q36, the 36-query set whose quiet-box total (~27 s at sf0.1) is
  * recorded in BASELINE.md — so the 2x performance gate is directly
  * readable from BENCH_r{N}.json without cross-round reconstruction.
  */
object Bench {

  /** Subset-pass count from the raw env value: absent, malformed, or
    * negative falls back to the default 3 (a typo'd env var must not
    * kill the whole bench run — the driver reads its tail line).
    */
  def subsetPassCount(raw: Option[String]): Int =
    raw.flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 0).getOrElse(3)

  /** Median of the v4 subset passes — None when the selected query list
    * contains no q01-q36 entries (a dev-loop SPARK_GRAFT_BENCH_ONLY
    * filter): an empty subset must record null, not a fake 0.0 the
    * perf gate would read as a 100x speedup.
    */
  def subsetMedian(passTotals: Seq[Double], fallback: Double,
      subsetNonEmpty: Boolean): Option[Double] =
    if (!subsetNonEmpty) None
    else if (passTotals.isEmpty) Some(fallback)
    else Some(passTotals.sorted.apply(passTotals.size / 2))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkEntry.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    def loud(what: String, e: Throwable): Unit = System.err.println(
      s"[bench] $what FAILED: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    // warm the JVM (classloading, codegen, parquet reader) with one small
    // untimed query; per-query codegen is warmed by each query's own
    // untimed first run below
    try SparkEntry.entry(spark).count() catch { case e: Throwable => loud("warmup", e) }
    // dev-loop filter: comma-separated name substrings; unset (the
    // driver's mode) = run everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
    // A query that throws must NOT be recorded as a fast success: round 8's
    // silent catch recorded 4 analysis-failing queries as 0.06-0.8 s
    // entries (times-to-exception). Track failures per query and surface
    // them in the summary as "failed":[...].
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Default sink is count() — every recorded round and BASELINE v4 were
    // measured with it, so the 2x gate stays apples-to-apples. CAVEAT
    // (round-13 ScaleProbe lesson): count() lets column pruning delete a
    // map-only query's entire projection, so pure per-row scorers read as
    // metadata row counts. SPARK_GRAFT_BENCH_SINK=noop opts into a
    // full-evaluation noop write for honest map-stage timing — use it for
    // investigation, never for gate reads against count()-era baselines.
    val noopSink = sys.env.get("SPARK_GRAFT_BENCH_SINK").contains("noop")
    def timeQuery(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        n: Int): Seq[Double] =
      (1 to n).map { _ =>
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          if (noopSink) df.write.mode("overwrite").format("noop").save()
          else df.count(): Unit
        }
        catch { case e: Throwable => if (failed.add(name)) loud(name, e) }
        (System.nanoTime() - t0) / 1e9
      }
    val firstPass = selected.map { case (name, fn) =>
      val times = timeQuery(name, fn, runs)
      // first run = untimed warmup (codegen/JIT); min of the rest is the figure
      val timed = if (times.length > 1) times.drop(1) else times
      name -> timed.min
    }
    // Post-suite re-run of the slowest queries: late in a 180+-query run
    // the JVM carries GC pressure and evicted code caches, and a single
    // cold artifact then masquerades as a 4x regression (r9's q90 was
    // recorded at 7.8 s vs 1.7-2.3 s warm). One extra timed run at
    // suite-end, min'd with the recorded figure, keeps the record at
    // engine speed without hiding a true regression (a genuinely slow
    // query is slow in the re-run too).
    val slowest = firstPass.filterNot { case (n, _) => failed.contains(n) }
      .sortBy(-_._2).take(3).map(_._1).toSet
    val byName = selected.toMap
    val rerun = slowest.map { n =>
      n -> timeQuery(n, byName(n), 1).min
    }.toMap
    val results = firstPass.map { case (n, t) =>
      n -> math.min(t, rerun.getOrElse(n, t))
    }
    // ms precision: full-precision doubles made round 6's stored line
    // long enough that the driver's record truncated mid-object — the
    // timings are only meaningful to ~10 ms on this box anyway
    def r3(x: Double): String = "%.3f".formatLocal(java.util.Locale.US, x)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // q01..q36 = the subset recorded in BASELINE.md (quiet-box ~27 s at sf0.1)
    val subsetNames = selected.map(_._1).filter(
      _.matches("^q(0[1-9]|[12][0-9]|3[0-6])_.*"))
    val baselineSubset = results.filter { case (n, _) =>
      subsetNames.contains(n)
    }
    val bsTotal = baselineSubset.map(_._2).sum
    // 1-minute load average — the box is SHARED and its load swings 1-15,
    // which alone spreads same-code subset totals 11-18 s (four r10
    // measurements). Sampling it into the record makes the driver's
    // figure interpretable in place instead of requiring a quiet-box
    // re-measure every round.
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // BASELINE v4 protocol: after the main suite (everything warm), the
    // q01-q36 subset runs as `subsetPasses` additional COMPLETE passes,
    // each pass one timed run per query, with the load average sampled
    // before each pass. The reported reference figure is the MEDIAN of
    // the pass totals — a point estimate plus its own spread, so a gate
    // read never again compares box noise against a lucky-edge number.
    val subsetPasses = subsetPassCount(sys.env.get("SPARK_GRAFT_SUBSET_PASSES"))
    // no q01-q36 in the selection (dev-loop filter) → no passes at all;
    // the subset fields emit null instead of a fake 0.0
    val passResults =
      if (subsetNames.isEmpty) Seq.empty
      else (1 to subsetPasses).map { _ =>
        val la = loadAvg()
        val t = subsetNames.map(n =>
          timeQuery(n, byName(n), 1).min).sum
        (t, la)
      }
    // NOOP-SINK PASS (r13 verdict task 2): the gate numbers above use
    // count() for comparability with every recorded round and BASELINE
    // v4, but count() lets column pruning delete a map-only query's
    // whole projection — a pure per-row scorer (q54, q82, q141…) reads
    // as a parquet metadata row count and its gate figure is partially
    // fictional. Record ONE full-evaluation noop-sink run per query
    // (everything already warm from the main pass) beside the gate
    // number. The two series are NOT cross-comparable — noop evaluates
    // every output column; count() doesn't — so the noop figure lives
    // in its own fields (`noop_total` in the summary, full map in
    // bench_noop_queries.json) and never feeds the 2× gate.
    // SPARK_GRAFT_NOOP_PASS=0 skips it; redundant (and skipped) when
    // the main sink is already noop.
    val noopPass = !noopSink &&
      !sys.env.get("SPARK_GRAFT_NOOP_PASS").contains("0")
    // A query can pass the count() gate yet fail only under full
    // evaluation — the exact case this pass exists to surface — so an
    // exception must NOT contribute its time-to-failure to noop_total
    // (r14 ADVICE): failures go to `noop_failed` (summary field) and
    // write `null` in bench_noop_queries.json instead of a time.
    val noopFailed = scala.collection.mutable.ArrayBuffer[String]()
    def noopOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => noopFailed += name; None }
    }
    // r17 deflake protocol: the single-run noop series swung ±10% with
    // box load alone (200.5 s at load 3.4 vs 239.5 s at load 4.4 in the
    // same round, zero code change), so (a) the load average is sampled
    // BEFORE and AFTER the pass into the summary (`noop_load_pre/post`
    // — a reader normalizes in place instead of hand-waving), and
    // (b) the 5 slowest entries get one extra run min'd in, the same
    // slowest-rerun rule the count series has used since r9 — the tail
    // entries dominate the total and are exactly where a load spike
    // masquerades as regression.
    val noopLoadPre = if (noopPass) loadAvg() else -1.0
    val noopFirst: Seq[(String, Double)] =
      if (!noopPass) Seq.empty
      else selected.filterNot { case (n, _) => failed.contains(n) }
        .flatMap { case (name, fn) => noopOnce(name, fn).map(name -> _) }
    val noopSlowest = noopFirst.sortBy(-_._2).take(5).map(_._1).toSet
    val noopResults: Seq[(String, Double)] = noopFirst.map { case (n, t) =>
      if (noopSlowest.contains(n))
        n -> math.min(t, noopOnce(n, byName(n)).getOrElse(t))
      else n -> t
    }
    val noopLoadPost = if (noopPass) loadAvg() else -1.0
    val bsMedianJson = subsetMedian(passResults.map(_._1), bsTotal,
      subsetNames.nonEmpty).map(r3).getOrElse("null")
    val bsTotalJson = if (subsetNames.isEmpty) "null" else r3(bsTotal)
    val passJson = passResults.map { case (t, la) =>
      s"""{"sec":${r3(t)},"load_avg":${r3(la)}}""" }.mkString("[", ",", "]")
    val loadNow = loadAvg()
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noopTotalJson =
      if (noopResults.isEmpty) "null" else r3(noopResults.map(_._2).sum)
    val noopFailedArr = noopFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val summary = s"""{"metric":"summary","value":${r3(total)},"unit":"sec","sf":"$sfDir","runs":$runs,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedArr,"baseline_subset_sec":$bsTotalJson,"baseline_subset_n":${baselineSubset.size},"baseline_subset_median":$bsMedianJson,"subset_passes":$passJson,"noop_total":$noopTotalJson,"noop_failed":$noopFailedArr,"noop_load_pre":${r3(noopLoadPre)},"noop_load_post":${r3(noopLoadPost)},"load_avg":${r3(loadNow)}}"""
    // Persist the machine-readable record to FIXED filenames so it never
    // depends on stdout capture (rounds 6-8 all stored "parsed": null
    // because sbt log decoration / truncation ate the stdout line):
    // BENCH_SUMMARY.json = the summary object, bench_queries.json = the
    // full per-query map.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_queries.json"),
        (qs + "\n").getBytes("UTF-8"))
      if (noopResults.nonEmpty || noopFailed.nonEmpty) {
        val nq = (noopResults.map { case (k, v) => "\"" + k + "\":" + r3(v) }
          ++ noopFailed.map(k => "\"" + k + "\":null"))
          .mkString("{", ",", "}")
        java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_noop_queries.json"),
          (nq + "\n").getBytes("UTF-8"))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        (summary + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => loud("record-file write", e) }
    // The ONE stdout line: the driver's perf gate parses the last stdout
    // line as bare JSON — the summary fields plus the per-query map under
    // both names the contract and the gate use ("queries", "per_query").
    // Paired with build.sbt's StdoutOutput/showSuccess=false so sbt
    // neither prefixes "[info] " nor appends "[success] ..." after it.
    val merged = summary.dropRight(1) +
      s""","queries":$qs,"per_query":$qs}"""
    println(merged)
    spark.stop()
  }
}
