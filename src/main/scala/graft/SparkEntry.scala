package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Engine session defaults, applied by [[session]] (and by any harness
    * that builds its own session) — the recommended production
    * configuration.
    *
    * `spark.shuffle.sort.bypassMergeThreshold=1` (guide §2.2): with R reduce
    * partitions the bypass-merge writer creates R files PER MAP TASK (then
    * mmaps, concatenates, deletes them); thread sampling in r20 showed
    * executor pools dominated by that file churn (~100-200 ms/task on KB of
    * data) whenever R <= the 200 default. The sort-based writer emits ONE
    * file per map task regardless of R. At production partition counts
    * (R > 200, any 100 TB layout) every shuffle already takes the sort path,
    * so the setting is a provable no-op there (ScaleProbe sf10 rows in
    * SCALING.md) and only rescues the small-R regime where per-file churn
    * dominates. An A/B against the Spark default goes through
    * [[session]]'s `extra` map (ScaleProbe's `SPARK_GRAFT_EXTRA_CONF`).
    */
  def sessionDefaults: Map[String, String] = Map(
    "spark.shuffle.sort.bypassMergeThreshold" -> "1")

  /** THE engine session: `local[cpus]` with `cpus` shuffle partitions,
    * UTC, [[graft.plans.GraftExtensions]], nanosecond parquet timestamps
    * read as longs, UI off, then [[sessionDefaults]], then `extra`.
    *
    * Every operator compiles to the native expressions the extension
    * registers, with no builtin fallback, so the session is checked once
    * here: `getOrCreate` hands back an already-running session unchanged
    * (static confs such as `spark.sql.extensions` are ignored on reuse),
    * and a session built elsewhere without the extension fails now, by
    * name, instead of at the first query that needs a native function.
    */
  def session(cpus: Int, extra: Map[String, String] = Map.empty)
      : SparkSession = {
    val conf = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ sessionDefaults ++ extra
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    if (!spark.catalog.functionExists("product_agg"))
      throw new IllegalStateException(
        "graft.plans.GraftExtensions is missing from this SparkSession: " +
        "the native functions (product_agg, md5_prefix32, ...) are not " +
        "registered. A session created earlier without " +
        "spark.sql.extensions=graft.plans.GraftExtensions was reused; " +
        "stop it or build it with the extension.")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * a multi-operator FAME model over the monthly revenue series.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val monthly = QueriesCore.monthly(spark, dir)
    graft.api.FameSession.run(
      """freq m
        |rev_pct = pct(rev)
        |rev_diff = diff(rev)
        |avg_order = rev / cnt * 1000000
        |big = if rev_pct gt 10 then 1 else 0
        |total = lsum(rev, cnt)
        |scalar mean_rev = ave(rev)
        |rev_dev = rev - mean_rev
        |rev_q = convert(rev, q, discrete, sum)""".stripMargin, monthly).df
  }

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * training-data-pipeline extensions (dedup/similarity/text/multimodal).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesCore.queries ++ QueriesExt.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    QueriesCore.oracles ++ QueriesExt.oracles

  /** Queries registered WITHOUT an oracle — each maps to the spec that
    * pins its exactness by an independent JVM reference instead. This
    * set is a deliberate, closed exception list: every other registered
    * query MUST carry an oracle, and HarnessSpec locks the invariant
    * (queries.keySet == oracleSql.keySet ++ rowsOnly.keySet, disjoint)
    * so the rows-only set cannot silently grow as the suite does.
    *
    * Why these two are permanently oracle-less: q49 runs BPE encode at
    * a production vocab scale whose 200-round merge unroll is not a
    * sane SQL oracle (BpeSpec pins encode against a rank-order
    * reference implementation, random corpora included); q81's zlib
    * ratio depends on the engine-private Deflate implementation
    * (OpsSpec pins separation behavior; java.util.zip IS the
    * reference).
    */
  def rowsOnly: Map[String, String] = Map(
    "q49_bpe_encode" ->
      ("BpeSpec: \"encoded ids match the rank-order reference " +
        "implementation\" / \"random corpora: operator and rank-order " +
        "reference always agree\""),
    "q81_compression_ratio" ->
      ("OpsSpec: \"compression ratio separates repetitive from " +
        "diverse text\" (java.util.zip as the reference)"))
}
