package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // dev-loop filter: comma-separated name substrings; unset (the
    // driver's mode) = dump everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    val errors = dump(spark, sfDir, outDir,
      SparkEntry.queries
        .filter { case (n, _) => only.isEmpty || only.exists(n.contains) },
      SparkEntry.oracleSql)
    // loud but non-fatal: a nonzero exit could make the driver discard the
    // 80+ good dumps; the errors file + stderr banner carry the failures
    if (errors.nonEmpty) System.err.println(
      s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }

  /** The dump pass, factored for the harness spec: runs every query,
    * writes per-query parquet + oracle_sql.json + _verify_errors.json,
    * returns the error map. Failures must be LOUD: a query that throws
    * produces no parquet dump and would silently vanish from the round's
    * correctness record (round 8 lost 4 green-in-r7 queries this way);
    * the errors file lets the driver's compare report `err` instead of
    * dropping the row.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracle: Map[String, String])
      : scala.collection.Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        wideDecimalColumns(df.schema).foreach { colDesc =>
          // the round-9 lesson: the driver's hasher canonicalizes wide
          // decimals differently per engine, so a dump that LOOKS right
          // locally still hash-fails the gate. Refusing here makes the
          // output-boundary contract (cast to DOUBLE / ≤15-digit grid)
          // enforceable before the driver ever sees the dump.
          throw new IllegalStateException(
            s"output-boundary contract violation: final schema carries " +
            s"wide DECIMAL column $colDesc (precision > 15); cast to " +
            s"DOUBLE or round to a <=15-significant-digit grid first")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(2000)
      }
    }
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_verify_errors.json"), errJson)
    errors
  }

  /** Top-level columns (recursing into arrays/structs/maps) whose type is
    * DECIMAL with precision > 15 — wide enough that a decimal→float64
    * canonicalization is engine-dependent, which the driver's hash gate
    * punishes even when the values agree (VERDICT r9). Exposed for the
    * HarnessSpec pin.
    */
  def wideDecimalColumns(schema: org.apache.spark.sql.types.StructType)
      : Seq[String] = {
    import org.apache.spark.sql.types._
    def walk(name: String, dt: DataType): Seq[String] = dt match {
      case d: DecimalType if d.precision > 15 =>
        Seq(s"$name: ${d.simpleString}")
      case s: StructType =>
        s.fields.toSeq.flatMap(f => walk(s"$name.${f.name}", f.dataType))
      case a: ArrayType => walk(s"$name[]", a.elementType)
      case m: MapType =>
        walk(s"$name.key", m.keyType) ++ walk(s"$name.value", m.valueType)
      case _ => Seq.empty
    }
    schema.fields.toSeq.flatMap(f => walk(f.name, f.dataType))
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
