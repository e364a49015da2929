package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, fast). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session(4, Map("spark.app.name" -> "graft-test"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One temp root per test JVM, deleted by a shutdown hook — suites that
  * write real files (OutputSpec shards, jsonl ingest, FAME input files)
  * allocate under it so test runs leave no /tmp residue.
  */
object TestTmp {
  lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_test")
    Runtime.getRuntime.addShutdownHook(new Thread(() => del(p.toFile)))
    p
  }
  private def del(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(del)
    f.delete(): Unit
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Fresh directory under the self-cleaning [[TestTmp]] root. */
  def tmpDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(TestTmp.root, prefix)

  /** Fresh file under the self-cleaning [[TestTmp]] root. */
  def tmpFile(prefix: String, suffix: String): java.nio.file.Path =
    java.nio.file.Files.createTempFile(TestTmp.root, prefix, suffix)

  def d(s: String): Date = Date.valueOf(s)

  /** Build a frame with a DATE column + double series columns. */
  def frame(dates: Seq[String], series: (String, Seq[Any])*): DataFrame = {
    val fields = StructField("DATE", DateType) +:
      series.map { case (n, _) => StructField(n, DoubleType) }
    val rows = dates.indices.map { i =>
      Row.fromSeq(
        (if (dates(i) == null) null else d(dates(i))) +:
        series.map { case (_, vs) =>
          vs(i) match {
            case null => null
            case x: Int => x.toDouble
            case x: Double => x
            case x => x
          }
        })
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(fields.toArray))
  }

  /** Collect one column ordered by DATE as Option[Double]. */
  def column(df: DataFrame, name: String): Seq[Option[Double]] =
    df.orderBy("DATE").select(name).collect().toSeq.map { r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }

  def assertSeq(actual: Seq[Option[Double]], expected: Seq[Option[Double]],
      tol: Double = 1e-9): Unit = {
    assert(actual.length == expected.length,
      s"length mismatch: $actual vs $expected")
    actual.zip(expected).zipWithIndex.foreach {
      case ((Some(a), Some(e)), i) =>
        assert(math.abs(a - e) <= tol * math.max(1.0, math.abs(e)),
          s"row $i: $a != $e (actual=$actual)")
      case ((a, e), i) =>
        assert(a == e, s"row $i: $a != $e (actual=$actual)")
    }
  }
}
