package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The round-8 regression class: a throwing query must fail LOUDLY in
  * the correctness artifacts, not vanish from the record.
  */
class HarnessSpec extends SparkSpec {

  test("Verify.dump: a deliberately-broken query lands in " +
      "_verify_errors.json; good dumps and escaped oracle still write") {
    val out = java.nio.file.Files.createTempDirectory("harness").toString
    val good: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq((1L, "a")).toDF("id", "v") }
    val broken: (SparkSession, String) => DataFrame =
      (s, _) => s.read.parquet("/nonexistent/deliberately/broken.parquet")
    val errors = Verify.dump(spark, "/unused", out,
      Map("q_good" -> good, "q_broken" -> broken),
      Map("q_good" -> "SELECT 1 AS a,\n\t\"b\" FROM t"))
    // the failure is recorded, keyed by query, with the cause
    assert(errors.keySet == Set("q_broken"))
    assert(errors("q_broken").contains("PATH_NOT_FOUND") ||
      errors("q_broken").toLowerCase.contains("path does not exist"))
    val errFile = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/_verify_errors.json"))
    assert(errFile.contains("\"q_broken\""))
    // the good dump still wrote (one failure must not poison the round)
    val re = spark.read.parquet(s"$out/q_good").collect()
    assert(re.length == 1 && re(0).getLong(0) == 1L)
    // oracle_sql.json escapes control chars and quotes — the driver's
    // strict json.load must not choke on builder-authored SQL
    val oracleFile = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"))
    assert(oracleFile.contains("\\n") && oracleFile.contains("\\t") &&
      oracleFile.contains("\\\"b\\\""))
    assert(!oracleFile.exists(c => c < ' ' && c != '\n'.toChar),
      "raw control characters leaked into oracle_sql.json")
  }

  // the round-9 blind spot: a wide-DECIMAL final schema passed the local
  // mirror but hash-failed the driver gate (engine-dependent decimal
  // canonicalization). The lint makes the output-boundary contract —
  // DOUBLE or a <=15-digit grid at the boundary — enforceable locally.
  test("Verify.dump refuses a dump whose final schema carries " +
      "DECIMAL(precision > 15); narrow DECIMAL and DOUBLE pass") {
    import org.apache.spark.sql.types.DecimalType
    val out = java.nio.file.Files.createTempDirectory("harness-dec").toString
    val wide: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._
        Seq(BigDecimal("1.25")).toDF("v")
          .select(col("v").cast(DecimalType(38, 12)).as("v")) }
    val nested: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._
        Seq(BigDecimal("1.25")).toDF("v")
          .select(array(struct(col("v").cast(DecimalType(18, 6)).as("x")))
            .as("a")) }
    val fine: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._
        Seq(BigDecimal("1.2")).toDF("v")
          .select(col("v").cast(DecimalType(2, 1)).as("v"),
            col("v").cast("double").as("d")) }
    val errors = Verify.dump(spark, "/unused", out,
      Map("q_wide" -> wide, "q_nested" -> nested, "q_fine" -> fine),
      Map.empty)
    assert(errors.keySet == Set("q_wide", "q_nested"))
    assert(errors("q_wide").contains("output-boundary contract") &&
      errors("q_wide").contains("decimal(38,12)"))
    assert(errors("q_nested").contains("decimal(18,6)"))
    // the refused dump wrote nothing — the driver sees err, not a dump
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/q_wide")))
    assert(spark.read.parquet(s"$out/q_fine").count() == 1)
  }

  test("wideDecimalColumns walks structs, arrays and maps") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", DecimalType(15, 2)),
      StructField("b", DecimalType(16, 2)),
      StructField("c", MapType(StringType, DecimalType(20, 0))),
      StructField("d", ArrayType(StructType(Seq(
        StructField("e", DecimalType(38, 4))))))))
    assert(Verify.wideDecimalColumns(schema) == Seq(
      "b: decimal(16,2)", "c.value: decimal(20,0)",
      "d[].e: decimal(38,4)"))
  }

  test("every registered query has an oracle or an explicit rows-only " +
      "registration; the rows-only set is locked at exactly 2") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val rowsOnly = SparkEntry.rowsOnly.keySet
    // the two exception lists are disjoint and jointly exhaustive
    assert((oracles & rowsOnly).isEmpty,
      s"queries registered BOTH ways: ${(oracles & rowsOnly).mkString(", ")}")
    val unregistered = queries -- oracles -- rowsOnly
    assert(unregistered.isEmpty,
      s"queries with NO oracle and NO rows-only registration: " +
        s"${unregistered.toSeq.sorted.mkString(", ")} — add an oracleSql " +
        s"entry, or (only if a SQL oracle is genuinely impossible) an " +
        s"explicit SparkEntry.rowsOnly entry pointing at its exactness spec")
    // oracles for queries that don't exist are dead weight / typos
    assert((oracles -- queries).isEmpty,
      s"oracle entries with no query: ${(oracles -- queries).mkString(", ")}")
    assert((rowsOnly -- queries).isEmpty,
      s"rows-only entries with no query: ${(rowsOnly -- queries).mkString(", ")}")
    // LOCKED: q49 (BPE at production vocab scale) and q81 (zlib ratio)
    // are the only by-design exceptions; growing this set needs a
    // deliberate edit here, not just an omission
    assert(rowsOnly == Set("q49_bpe_encode", "q81_compression_ratio"),
      s"rows-only set changed: ${rowsOnly.toSeq.sorted.mkString(", ")}")
    // and each rows-only entry must point at its exactness spec
    SparkEntry.rowsOnly.foreach { case (name, pointer) =>
      assert(pointer.contains("Spec"), s"$name rows-only pointer does not " +
        s"name a spec: $pointer")
    }
  }

  test("q220's FAME file resolves from the repository, not the working " +
      "directory") {
    val inp = java.nio.file.Paths.get(
      QueriesExt.repoFile("tools/adversarial_fame.inp"))
    assert(inp.isAbsolute && java.nio.file.Files.isRegularFile(inp), inp)
    intercept[java.nio.file.NoSuchFileException](
      QueriesExt.repoFile("tools/no_such_fixture.inp"))
  }

  test("Bench.subsetPassCount tolerates malformed/absent/negative env " +
      "values (a typo must not kill the bench run)") {
    assert(Bench.subsetPassCount(None) == 3)
    assert(Bench.subsetPassCount(Some("5")) == 5)
    assert(Bench.subsetPassCount(Some(" 2 ")) == 2)
    assert(Bench.subsetPassCount(Some("0")) == 0)
    assert(Bench.subsetPassCount(Some("three")) == 3)
    assert(Bench.subsetPassCount(Some("")) == 3)
    assert(Bench.subsetPassCount(Some("-1")) == 3)
  }

  test("Bench.subsetMedian: empty subset selection records None (null), " +
      "never a fake 0.0 the perf gate would misread") {
    // dev-loop BENCH_ONLY filter excluded all q01-q36 -> None
    assert(Bench.subsetMedian(Seq.empty, 0.0, subsetNonEmpty = false).isEmpty)
    assert(Bench.subsetMedian(Seq(1.0), 0.0, subsetNonEmpty = false).isEmpty)
    // subset present but zero passes configured -> in-suite fallback
    assert(Bench.subsetMedian(Seq.empty, 12.5, subsetNonEmpty = true)
      .contains(12.5))
    // odd passes -> true median, input order irrelevant
    assert(Bench.subsetMedian(Seq(3.0, 1.0, 2.0), 0.0, subsetNonEmpty = true)
      .contains(2.0))
    // even passes -> upper median (size/2 index on the sorted totals)
    assert(Bench.subsetMedian(Seq(4.0, 1.0), 0.0, subsetNonEmpty = true)
      .contains(4.0))
  }
}
