package graft

import org.apache.spark.sql.functions._

import graft.api.FameSession

/** End-to-end demo: builds a monthly series frame from the driver's parquet
  * test data and runs a FAME model script covering the core operator
  * surface. Run: `sbt "runMain graft.Demo [sfDir]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.session(4, Map("spark.app.name" -> "graft-demo"))
    spark.sparkContext.setLogLevel("WARN")

    // monthly revenue + order count series from orders.parquet
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val monthly = orders
      .groupBy(trunc(col("o_orderdate"), "month").as("DATE"))
      .agg(
        sum("o_totalprice").as("REV"),
        count(lit(1)).cast("double").as("CNT"))

    val script =
      """freq m
        |rev_pct = pct(rev)
        |rev_diff = diff(rev)
        |avg_order = rev / cnt
        |big = if rev_pct gt 10 then 1 else 0
        |total = lsum(rev, cnt)
        |scalar mean_rev = ave(rev)
        |rev_dev = rev - mean_rev
        |rev_q = convert(rev, q, discrete, sum)
        |""".stripMargin

    val out = FameSession.run(script, monthly)
    out.df.orderBy("DATE").show(30, truncate = false)
    println(s"rows=${out.df.count()} cols=${out.df.columns.length}")
    out.df.explain("formatted")
    spark.stop()
  }
}
