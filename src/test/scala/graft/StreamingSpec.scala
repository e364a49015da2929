package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** Structured-Streaming operator tests over MemoryStream sources. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // The lag-only and lead-aware projections of the one incremental
  // plan: eligibility is Right(maxLag) only for a plan that emits every
  // row on arrival from a tail alone, reach is Right((maxLead, maxLag))
  // only for a plan with no pins, buckets or hold-back specs.
  private def incrementalEligibility(script: String,
      inputColumns: Option[Set[String]] = None): Either[String, Int] =
    incrementalReach(script, inputColumns).flatMap {
      case (0, lag) => Right(lag)
      case (lead, _) => Left(s"lead reach +$lead")
    }

  private def incrementalReach(script: String,
      inputColumns: Option[Set[String]] = None)
      : Either[String, (Int, Int)] =
    graft.streaming.FameStream.incrementalPlan(script, inputColumns)
      .flatMap { p =>
        if (p.pins.isEmpty && !p.bucketed && p.holdBacks.isEmpty)
          Right((p.maxLead, p.maxLag))
        else Left(s"plan needs pins, buckets or hold-back specs: $p")
      }

  test("windowed counts aggregate a stream with watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Timestamp, String, Double)]
    val df = src.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.windowedCounts(df, windowLen = "1 hour",
      slide = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("wc").outputMode("complete")
      .start()
    try {
      src.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:35:00"), "click", 2.0),
        (ts("2024-01-01 10:45:00"), "view", 5.0),
        (ts("2024-01-01 11:15:00"), "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .orderBy("window_start", "event_type").collect()
      val got = rows.map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq
      assert(got == Seq(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:00:00.0", "view", 1L, 5.0),
        ("2024-01-01 11:00:00.0", "click", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming OHLC bars equal the batch row_number twin; open/close " +
      "tie-break on event_id; bars finalize in append mode") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Long, Timestamp, String, Double)]
    val df = src.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamOps.ohlcStreaming(df)
      .writeStream.format("memory").queryName("ohlc").outputMode("append")
      .start()
    // two bars for 'trade' (the 10:00 bar spans both micro-batches), a
    // ts TIE in the 11:00 bar whose open must break on the LOWER
    // event_id, and one 'quote' bar
    val rows = Seq(
      (3L, ts("2024-01-01 10:20:00"), "trade", 5.0),
      (1L, ts("2024-01-01 10:05:00"), "trade", 2.0),
      (9L, ts("2024-01-01 10:59:00"), "trade", 9.0),
      (4L, ts("2024-01-01 11:00:00"), "trade", 7.0),
      (2L, ts("2024-01-01 11:00:00"), "trade", 1.0), // tie: id 2 < 4
      (5L, ts("2024-01-01 10:30:00"), "quote", 4.0))
    val late = Seq( // second micro-batch: still inside the watermark
      (6L, ts("2024-01-01 10:40:00"), "trade", 0.5),
      (7L, ts("2024-01-01 11:30:00"), "trade", 3.0))
    val flush = Seq( // advances the watermark past both bars
      (8L, ts("2024-01-01 14:30:00"), "trade", 1.0))
    try {
      src.addData(rows: _*)
      q.processAllAvailable()
      src.addData(late: _*)
      q.processAllAvailable()
      src.addData(flush: _*)
      q.processAllAvailable()
      val got = spark.table("ohlc").orderBy("event_type", "bar").collect()
        .map(r => (r.getString(1), r.getTimestamp(0).toString.take(19),
          r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toSeq
      assert(got == Seq(
        ("quote", "2024-01-01 10:00:00", 1L, 4.0, 4.0, 4.0, 4.0),
        // open = earliest ts (id 1, 2.0), close = latest ts (id 9, 9.0),
        // low includes the second-batch 0.5
        ("trade", "2024-01-01 10:00:00", 4L, 2.0, 9.0, 0.5, 9.0),
        // tie at 11:00: open is id 2 (1.0), not id 4 (7.0)
        ("trade", "2024-01-01 11:00:00", 3L, 1.0, 7.0, 1.0, 3.0)))
      // the same bars from the batch row_number spelling (q200's shape)
      import org.apache.spark.sql.expressions.Window
      val all = (rows ++ late).toDF("event_id", "ts", "event_type", "value")
      val w = Window.partitionBy("event_type", "bar")
        .orderBy("ts", "event_id")
      val batch = all.withColumn("bar", date_trunc("hour", col("ts")))
        .withColumn("rk", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("event_type", "bar")))
        .groupBy("event_type", "bar")
        .agg(count(lit(1)).as("n_events"),
          min(when(col("rk") === 1, col("value"))).as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          min(when(col("rk") === col("cnt"), col("value"))).as("close"))
        .orderBy("event_type", "bar").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString.take(19),
          r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toSeq
      assert(got == batch, s"stream=$got batch=$batch")
    } finally q.stop()
  }

  test("streaming dedup drops same-content docs within the watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(Timestamp, Long, String)]
    val df = src.toDF().toDF("ts", "doc_id", "text")
    val q = StreamOps.streamingDedup(df, "ts", "text")
      .writeStream.format("memory").queryName("dd").outputMode("append")
      .start()
    try {
      src.addData(
        (ts("2024-01-01 10:00:00"), 1L, "hello  world"),
        (ts("2024-01-01 10:01:00"), 2L, "hello world"), // dup after norm
        (ts("2024-01-01 10:02:00"), 3L, "different"))
      q.processAllAvailable()
      val ids = spark.table("dd").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(3L) && ids.size == 2) // one of {1,2} + 3
      assert(ids.intersect(Set(1L, 2L)).size == 1)
    } finally q.stop()
  }

  test("stream-static dedup drops docs already in the standing corpus") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val standing = Seq((100L, "existing  doc one"), (101L, "existing doc two"))
      .toDF("doc_id", "text")
    val src = MemoryStream[(Timestamp, Long, String)]
    val df = src.toDF().toDF("ts", "doc_id", "text")
    val q = StreamOps.dedupAgainstStatic(df, standing, "text")
      .writeStream.format("memory").queryName("das").outputMode("append")
      .start()
    try {
      src.addData(
        (ts("2024-01-01 10:00:00"), 1L, "existing doc one"), // dup of 100
        (ts("2024-01-01 10:01:00"), 2L, "Existing DOC two"), // dup after norm
        (ts("2024-01-01 10:02:00"), 3L, "genuinely fresh content"))
      q.processAllAvailable()
      val rows = spark.table("das").collect()
      assert(rows.map(_.getLong(1)).toSet == Set(3L))
      // stream columns pass through unchanged (no helper columns leak)
      assert(spark.table("das").columns.toSeq == Seq("ts", "doc_id", "text"))
    } finally q.stop()
  }

  test("stream-static BLOOM dedup keeps exactly what the plain screen keeps") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val standing = Seq((100L, "existing  doc one"), (101L, "existing doc two"))
      .toDF("doc_id", "text")
    val src = MemoryStream[(Timestamp, Long, String)]
    val df = src.toDF().toDF("ts", "doc_id", "text")
    val q = StreamOps.dedupAgainstStaticBloom(df, standing, "text")
      .writeStream.format("memory").queryName("dasb").outputMode("append")
      .start()
    try {
      src.addData(
        (ts("2024-01-01 10:00:00"), 1L, "existing doc one"), // dup of 100
        (ts("2024-01-01 10:01:00"), 2L, "Existing DOC two"), // dup after norm
        (ts("2024-01-01 10:02:00"), 3L, "genuinely fresh content"))
      q.processAllAvailable()
      val rows = spark.table("dasb").collect()
      assert(rows.map(_.getLong(1)).toSet == Set(3L))
      assert(spark.table("dasb").columns.toSeq == Seq("ts", "doc_id", "text"))
    } finally q.stop()
  }

  test("streaming funnel advances per-user chains across micro-batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[StreamOps.Event]
    val q = StreamOps.funnelStreaming(src.toDS(),
      Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("fnl").outputMode("update")
      .start()
    try {
      // batch 1: user 1 views+clicks; user 2 clicks only (no view)
      src.addData(
        StreamOps.Event(1L, ts("2024-01-01 10:00:00"), "view", 0.0),
        StreamOps.Event(1L, ts("2024-01-01 10:05:00"), "click", 0.0),
        StreamOps.Event(2L, ts("2024-01-01 10:00:00"), "click", 0.0))
      q.processAllAvailable()
      // batch 2: user 1 purchases (chain completes ACROSS batches);
      // user 2 views late — can't resurrect the missed click
      src.addData(
        StreamOps.Event(1L, ts("2024-01-01 10:20:00"), "purchase", 0.0),
        StreamOps.Event(2L, ts("2024-01-01 10:30:00"), "view", 0.0))
      q.processAllAvailable()
      val last = spark.table("fnl").collect()
        .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.last }
      assert(last(1L).getInt(1) == 3)
      assert(last(2L).getInt(1) == 1) // view only; click preceded it
      // cross-batch stream progress equals the batch operator on the log
      val log = Seq(
        (1L, "2024-01-01 10:00:00", "view"),
        (1L, "2024-01-01 10:05:00", "click"),
        (1L, "2024-01-01 10:20:00", "purchase"),
        (2L, "2024-01-01 10:00:00", "click"),
        (2L, "2024-01-01 10:30:00", "view"))
        .toDF("user_id", "s", "event_type")
        .withColumn("ts", col("s").cast("timestamp")).drop("s")
      val batch = graft.ops.EventOps.funnel(log,
        Seq("view", "click", "purchase"))
        .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
      assert(last.view.mapValues(_.getInt(1)).toMap == batch)
    } finally q.stop()
  }

  test("streaming SCD-2: closed versions emit on change across " +
      "micro-batches and equal the batch operator's closed rows") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[StreamOps.Event]
    val q = StreamOps.scd2Streaming(src.toDS())
      .writeStream.format("memory").queryName("scd2").outputMode("append")
      .start()
    try {
      // batch 1: user 1 A A; user 2 B — nothing closes yet
      src.addData(
        StreamOps.Event(1L, ts("2024-01-01 10:00:00"), "A", 0.0),
        StreamOps.Event(1L, ts("2024-01-01 11:00:00"), "A", 0.0),
        StreamOps.Event(2L, ts("2024-01-01 10:00:00"), "B", 0.0))
      q.processAllAvailable()
      assert(spark.table("scd2").isEmpty)
      // batch 2: user 1 flips to B (closes the A run ACROSS batches,
      // n_events = 2 spanning both batches), then back to A within the
      // batch (closes B immediately); user 2 stays B (nothing closes)
      src.addData(
        StreamOps.Event(1L, ts("2024-01-01 12:00:00"), "B", 0.0),
        StreamOps.Event(1L, ts("2024-01-01 13:00:00"), "A", 0.0),
        StreamOps.Event(2L, ts("2024-01-01 14:00:00"), "B", 0.0))
      q.processAllAvailable()
      val got = spark.table("scd2").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3).toString.take(19), r.getLong(4),
          r.getTimestamp(5).toString.take(19))).toSet
      assert(got == Set(
        (1L, 1L, "A", "2024-01-01 10:00:00", 2L, "2024-01-01 12:00:00"),
        (1L, 2L, "B", "2024-01-01 12:00:00", 1L, "2024-01-01 13:00:00")),
        s"got $got")
      // parity: streamed closed rows == batch scd2's is_current = 0 rows
      val log = Seq(
        (1L, 1L, "2024-01-01 10:00:00", "A"),
        (1L, 2L, "2024-01-01 11:00:00", "A"),
        (1L, 3L, "2024-01-01 12:00:00", "B"),
        (1L, 4L, "2024-01-01 13:00:00", "A"),
        (2L, 1L, "2024-01-01 10:00:00", "B"),
        (2L, 2L, "2024-01-01 14:00:00", "B"))
        .toDF("user_id", "event_id", "s", "event_type")
        .withColumn("ts", col("s").cast("timestamp")).drop("s")
      val batch = graft.ops.EventOps.scd2Dimension(log)
        .where(col("is_current") === 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3).toString.take(19), r.getLong(4),
          r.getTimestamp(5).toString.take(19))).toSet
      assert(got == batch, s"stream=$got batch=$batch")
    } finally q.stop()
  }

  test("streaming attribution: conversions credit cross-batch touches; " +
      "aggregated emissions equal the batch rollup") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[StreamOps.Event]
    val q = StreamOps.attributionStreaming(src.toDS())
      .writeStream.format("memory").queryName("attr").outputMode("append")
      .start()
    try {
      // batch 1: user 1 touches (view, click); user 2 converts UNTOUCHED
      // (emits nothing); user 3 touches once
      src.addData(
        StreamOps.Event(1L, ts("2024-01-01 10:00:00"), "view", 0.0),
        StreamOps.Event(1L, ts("2024-01-01 10:05:00"), "click", 0.0),
        StreamOps.Event(2L, ts("2024-01-01 09:00:00"), "purchase", 99.0),
        StreamOps.Event(3L, ts("2024-01-01 08:00:00"), "signup", 0.0))
      q.processAllAvailable()
      assert(spark.table("attr").isEmpty)
      // batch 2: user 1 converts twice (the first purchase is NOT a
      // touch, so both credit view/click); user 3 converts
      src.addData(
        StreamOps.Event(1L, ts("2024-01-01 10:10:00"), "purchase", 10.0),
        StreamOps.Event(1L, ts("2024-01-01 10:20:00"), "purchase", 5.0),
        StreamOps.Event(3L, ts("2024-01-01 08:30:00"), "purchase", 7.0))
      q.processAllAvailable()
      val got = spark.table("attr").collect().map(r =>
        (r.getLong(0), r.getString(2), r.getString(3), r.getDouble(4)))
        .toSet
      assert(got == Set(
        (1L, "view", "click", 10.0), (1L, "view", "click", 5.0),
        (3L, "signup", "signup", 7.0)), s"got $got")
      // aggregated emissions == the batch operator over the full log
      val log = Seq(
        (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
        (1L, 2L, "2024-01-01 10:05:00", "click", 0.0),
        (1L, 3L, "2024-01-01 10:10:00", "purchase", 10.0),
        (1L, 4L, "2024-01-01 10:20:00", "purchase", 5.0),
        (2L, 1L, "2024-01-01 09:00:00", "purchase", 99.0),
        (3L, 1L, "2024-01-01 08:00:00", "signup", 0.0),
        (3L, 2L, "2024-01-01 08:30:00", "purchase", 7.0))
        .toDF("user_id", "event_id", "s", "event_type", "value")
        .withColumn("ts", col("s").cast("timestamp")).drop("s")
      val batch = graft.ops.EventOps.touchAttribution(log)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      val streamRollup = spark.table("attr")
        .select(lit("first_touch").as("model"),
          col("first_touch").as("touch_type"), col("value"))
        .unionAll(spark.table("attr")
          .select(lit("last_touch"), col("last_touch"), col("value")))
        .groupBy("model", "touch_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("v"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(streamRollup == batch, s"stream=$streamRollup batch=$batch")
    } finally q.stop()
  }

  test("stream-static near-dup screen matches the batch operator") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val static = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated reference text about databases and streams"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today again"),
      (11L, "novel content alpha beta gamma delta epsilon zeta"),
      (13L, "completely unrelated reference text about databases and streams"))
    val src = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.nearDupAgainstStatic(
      src.toDF().toDF("doc_id", "text"), static, "doc_id", "text",
      minJaccard = 0.4, numHashes = 16, bands = 8)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      src.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val batch = graft.ops.Dedup.minHashLshAgainstPairs(
        arrivals.toDF("doc_id", "text"), static, "doc_id", "text",
        numHashes = 16, bands = 8)
        .where(col("jaccard") >= 0.4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got((13L, 2L)) == 1.0)
      assert(got.contains((10L, 1L)))
      // exactly one emission per pair even though the exact dup shares
      // every band (smallest-shared-band filter, no dedup state)
      assert(spark.table("neardup").count() == got.size)
    } finally q.stop()
  }

  test("chunking applies unchanged to a stream (stateless explode)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val rows = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"))
    val src = MemoryStream[(Long, String)]
    val q = graft.ops.TextOps
      .chunkDocs(src.toDF().toDF("doc_id", "text"), "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1)
      .writeStream.format("memory").queryName("chunks").outputMode("append")
      .start()
    try {
      src.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("chunks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      val ref = graft.ops.TextOps
        .chunkDocs(rows.toDF("doc_id", "text"), "doc_id", "text", 4, 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      assert(got == ref && got.nonEmpty)
    } finally q.stop()
  }

  test("anomaly scores on a stream equal the batch trailing-window " +
      "formula") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.HourBucket
    def hm(h: Int): Long = h.toLong * 3600L * 1000000L
    // two types, 40 hours each, deterministic jitter, one planted spike
    val buckets = (0 until 40).flatMap { h =>
      Seq(
        HourBucket("view", hm(h),
          if (h == 35) 100L else 10L + (h * 7 % 5)),
        HourBucket("click", hm(h), 3L + (h * 11 % 4)))
    }
    val src = MemoryStream[HourBucket]
    val q = graft.streaming.StreamOps.anomalyStreaming(src.toDS())
      .writeStream.format("memory").queryName("anom")
      .outputMode("update").start()
    try {
      val (first, second) = buckets.partition(_.hour_micros < hm(20))
      src.addData(first: _*)
      q.processAllAvailable()
      src.addData(second: _*)
      q.processAllAvailable()
      val got = spark.table("anom").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(3), if (r.getBoolean(5)) Some(r.getDouble(4)) else None,
            r.getBoolean(6)))
        .toMap
      // batch reference: the q130 window formula over the same buckets
      val tw = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hour_micros")
        .rowsBetween(-24, -1)
      val want = buckets.toDF("event_type", "hour_micros", "n")
        .withColumn("trail_cnt", count(lit(1)).over(tw))
        .withColumn("s", sum(col("n")).over(tw))
        .withColumn("q", sum(col("n") * col("n")).over(tw))
        .withColumn("var", when(col("trail_cnt") >= 12,
          (col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("trail_cnt").cast("double")) /
            col("trail_cnt").cast("double")))
        .withColumn("z", when(col("var") > 0.0,
          round((col("n").cast("double") -
            col("s").cast("double") / col("trail_cnt").cast("double")) /
            sqrt(col("var")), 6)))
        .select("event_type", "hour_micros", "trail_cnt", "z")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toMap
      assert(got.size == buckets.size)
      want.foreach { case (k, (tc, z)) =>
        val (gtc, gz, spike) = got(k)
        assert(gtc == tc, s"$k trail_cnt")
        assert(gz == z, s"$k z: got $gz want $z")
        assert(spike == z.exists(_ > 3.0), s"$k spike")
      }
      // the planted hour-35 spike must flag
      assert(got(("view", hm(35)))._3)
    } finally q.stop()
  }

  test("media fingerprints run stateless on a stream (aHash + envelope)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.ops.Multimodal
    val ids = (0L to 8L)
    def bmp(id: Long) = Multimodal.synthBmpBytesShifted(
      id - id % 3, if (id % 3 == 2) 8 else 0)
    def wav(id: Long) = Multimodal.synthWavBytesScaled(
      id - id % 3, if (id % 3 == 2) 9 else 1, if (id % 3 == 2) 8 else 1)
    val src = MemoryStream[Long]
    val media = src.toDS().map(id => (id, bmp(id), wav(id)))
      .toDF("media_id", "bmp_payload", "wav_payload")
    val hashed = Multimodal.envelopeHashWav(
      Multimodal.aHashBmp(media, "media_id", "bmp_payload"),
      "media_id", "wav_payload")
      .select("media_id", "hash_hi", "hash_lo", "env_hash")
    val q = hashed.writeStream.format("memory").queryName("mediahash")
      .outputMode("append").start()
    try {
      src.addData(ids: _*)
      q.processAllAvailable()
      val got = spark.table("mediahash").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = Multimodal.envelopeHashWav(
        Multimodal.aHashBmp(
          ids.map(id => (id, bmp(id), wav(id)))
            .toDF("media_id", "bmp_payload", "wav_payload"),
          "media_id", "bmp_payload"),
        "media_id", "wav_payload")
        .select("media_id", "hash_hi", "hash_lo", "env_hash")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == batch && got.size == ids.size)
      // the planted family collides on both modalities
      val byId = got.map(t => t._1 -> (t._2, t._3, t._4)).toMap
      assert(byId(0L) == byId(1L))
    } finally q.stop()
  }

  test("quality-classifier gate runs in a streaming select") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val labeled = Seq((1L, "clear structured prose with meaning", true),
      (2L, "buy cheap click click spam spam", false),
      (3L, "another well formed informative sentence", true),
      (4L, "zzz keywords keywords buy cheap", false))
      .toDF("doc_id", "text", "y")
    val m = graft.ops.QualityClassifier.train(labeled, col("y"),
      "doc_id", "text", buckets = 128, epochs = 40, lrRate = 10.0)
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.ops.QualityClassifier.scoreExpr(col("text"), m).as("p"))
      .writeStream.format("memory").queryName("qcgate").outputMode("append")
      .start()
    try {
      src.addData((10L, "clear structured prose with meaning"),
        (11L, "buy cheap click click spam spam"))
      q.processAllAvailable()
      val got = spark.table("qcgate").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // identical expression over a static frame — exact parity
      val ref = Seq((10L, "clear structured prose with meaning"),
        (11L, "buy cheap click click spam spam")).toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.ops.QualityClassifier.scoreExpr(col("text"), m))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == ref)
      assert(got(10L) > got(11L))
    } finally q.stop()
  }

  test("stateless DSIR scoring runs in a streaming select") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val standing = Seq((1L, "alpha beta gamma", true),
      (2L, "delta epsilon zeta", true), (3L, "qqq www eee", false))
      .toDF("doc_id", "text", "tgt")
    val m = graft.ops.Dsir.fit(standing, col("tgt"), "doc_id", "text",
      buckets = 64)
    val src = MemoryStream[(Long, String)]
    val df = src.toDF().toDF("doc_id", "text")
    val q = df.select(col("doc_id"),
        graft.ops.Dsir.scoreExpr(col("text"), m).as("log_weight"))
      .writeStream.format("memory").queryName("dsir").outputMode("append")
      .start()
    try {
      src.addData((10L, "alpha beta gamma"), (11L, "qqq www eee"))
      q.processAllAvailable()
      val got = spark.table("dsir").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // batch-side reference: identical expression over a static frame
      val ref = Seq((10L, "alpha beta gamma"), (11L, "qqq www eee"))
        .toDF("doc_id", "text")
        .select(col("doc_id"), graft.ops.Dsir.scoreExpr(col("text"), m))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == ref)
      assert(got(10L) > got(11L)) // target-like text scores higher
    } finally q.stop()
  }

  test("mix-plan execution applies unchanged to a stream") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // plan fitted on the standing corpus; execution is a stream-static
    // broadcast join + stateless hash filter, so the SAME operator runs
    // on a live ingest stream with no state store
    val standing = Seq((1L, "big", 80L), (2L, "small", 10L))
      .toDF("doc_id", "source", "nt")
    val plan = graft.ops.MixPlan.plan(standing, "source", col("nt"),
      budget = 40) // big -> rate 0.25, small -> rate 1.0
    val src = MemoryStream[(Long, String)]
    val df = src.toDF().toDF("doc_id", "source")
    val q = graft.ops.MixPlan.execute(df, "doc_id", "source", plan,
        salt = "#sm")
      .writeStream.format("memory").queryName("mix").outputMode("append")
      .start()
    try {
      val batch = (10L to 29L).map(i =>
        (i, if (i % 2 == 0) "big" else "small"))
      src.addData(batch: _*)
      q.processAllAvailable()
      val kept = spark.table("mix").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      // reference: identical salted-hash decision computed directly
      val expected = batch.filter { case (id, s) =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id#sm".getBytes("UTF-8"))
        val u = java.lang.Long.parseLong(
          d.take(4).map(b => f"$b%02x").mkString, 16).toDouble / 4294967296.0
        u < (if (s == "big") 0.25 else 1.0)
      }.map(_._1).toSet
      assert(kept == expected)
    } finally q.stop()
  }

  test("selection pipeline end-to-end on a stream: score, gate, mix") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // the q64 serving shape composed as ONE stream: DSIR importance
    // score -> threshold gate -> mix-plan rate filter. Models and rates
    // are fitted batch-side on the standing corpus (exactly how a
    // nightly-fit/live-serve selection deploys); everything that touches
    // the stream is a stateless select/filter — no state store.
    val standing = Seq(
      (1L, "alpha beta gamma delta", "web", true),
      (2L, "alpha gamma delta beta", "web", true),
      (3L, "qqq www eee rrr", "web", false),
      (4L, "zzz xxx ccc vvv", "books", false),
      (5L, "beta alpha delta gamma", "books", true))
      .toDF("doc_id", "text", "source", "tgt")
    val m = graft.ops.Dsir.fit(standing, col("tgt"), "doc_id", "text",
      buckets = 64)
    val plan = graft.ops.MixPlan.plan(standing, "source", lit(10L),
      budget = 10) // tight budget -> sub-1 keep rates, the mix must drop
    val incoming = (10L to 29L).map { i =>
      val txt = if (i % 2 == 0) "alpha beta gamma delta" else "qqq www eee rrr"
      (i, txt, if (i % 3 == 0) "web" else "books")
    }
    // the gate threshold is a fit-time constant like the model itself:
    // midpoint of the two score levels, computed batch-side
    val scores = incoming.toDF("doc_id", "text", "source")
      .select(graft.ops.Dsir.scoreExpr(col("text"), m))
      .collect().map(_.getDouble(0))
    val thresh = (scores.min + scores.max) / 2
    def compose(df: org.apache.spark.sql.DataFrame) =
      graft.ops.MixPlan.execute(
        df.withColumn("log_weight", graft.ops.Dsir.scoreExpr(col("text"), m))
          .where(col("log_weight") >= thresh),
        "doc_id", "source", plan, salt = "#sel")
    val src = MemoryStream[(Long, String, String)]
    val q = compose(src.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("sel").outputMode("append")
      .start()
    try {
      src.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("sel").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      // row parity with the identical batch composition
      val batch = compose(incoming.toDF("doc_id", "text", "source"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batch)
      // both stages did real work: the gate passed only target-like docs
      // (even ids), the mix filter dropped some of those
      val targetLike = incoming.collect { case (i, _, _) if i % 2 == 0 => i }.toSet
      assert(streamed.nonEmpty && streamed.subsetOf(targetLike))
      assert(streamed.size < targetLike.size,
        s"mix filter kept everything: $streamed")
    } finally q.stop()
  }

  test("sessionize closes a session after the gap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[Event]
    val q = StreamOps.sessionize(src.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess").outputMode("append")
      .start()
    try {
      // user 7: two events 5 min apart (one session), then a 30-min gap
      // event starting a new session; advancing watermark far past closes it
      src.addData(
        Event(7L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Event(7L, ts("2024-01-01 10:05:00"), "click", 2.0))
      q.processAllAvailable()
      src.addData(Event(7L, ts("2024-01-01 10:40:00"), "view", 4.0))
      q.processAllAvailable()
      src.addData(Event(8L, ts("2024-01-01 16:00:00"), "click", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sess").orderBy("start").collect()
      assert(sessions.length >= 1)
      val first = sessions.head
      assert(first.getLong(0) == 7L)
      assert(first.getTimestamp(1) == ts("2024-01-01 10:00:00"))
      assert(first.getTimestamp(2) == ts("2024-01-01 10:05:00"))
      assert(first.getLong(3) == 2L && first.getDouble(4) == 3.0)
    } finally q.stop()
  }

  test("stream-static as-of join mirrors the batch backward semantics") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val static = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (1L, ts("2024-01-01 11:00:00"), 11.0),
      (2L, ts("2024-01-01 10:30:00"), 20.0))
      .toDF("user_id", "p_ts", "p_value")
    val src = MemoryStream[(Long, Timestamp)]
    val stream = src.toDF().toDF("user_id", "ts")
    val q = StreamOps.asOfJoinStreamStatic(stream, static, Seq("user_id"),
      "ts", "p_ts", Seq("p_ts", "p_value"))
      .writeStream.format("memory").queryName("asof").outputMode("append")
      .start()
    try {
      val probes = Seq(
        (1L, ts("2024-01-01 10:30:00")), // between -> earlier row (10.0)
        (1L, ts("2024-01-01 11:00:00")), // tie -> matches (11.0)
        (2L, ts("2024-01-01 10:00:00")), // before any right row -> nulls
        (3L, ts("2024-01-01 12:00:00"))) // unknown key -> nulls
      src.addData(probes: _*)
      q.processAllAvailable()
      val got = spark.table("asof").orderBy("user_id", "ts").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getTimestamp(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
      assert(got == Seq(
        (1L, Some(ts("2024-01-01 10:00:00")), Some(10.0)),
        (1L, Some(ts("2024-01-01 11:00:00")), Some(11.0)),
        (2L, None, None),
        (3L, None, None)))
      // the streaming result agrees row-for-row with the batch operator
      val batch = graft.ops.AsOfJoin.backward(
        probes.toDF("user_id", "ts"), static, Seq("user_id"),
        "ts", "p_ts", Seq("p_ts", "p_value"))
        .orderBy("user_id", "ts").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getTimestamp(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("stream-static interval join mirrors the batch inner semantics") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val sessions = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 100L),
      (1L, ts("2024-01-01 10:30:00"), ts("2024-01-01 12:00:00"), 101L), // overlaps
      (2L, ts("2024-01-01 09:00:00"), ts("2024-01-01 09:30:00"), 200L))
      .toDF("user_id", "s", "e", "session_id")
    val src = MemoryStream[(Long, Long, Timestamp)]
    val stream = src.toDF().toDF("event_id", "user_id", "ts")
    val q = StreamOps.intervalJoinStreamStatic(stream, sessions,
      Seq("user_id"), "ts", "s", "e", Seq("session_id"))
      .writeStream.format("memory").queryName("ivj").outputMode("append")
      .start()
    try {
      val probes = Seq(
        (1L, 1L, ts("2024-01-01 10:45:00")), // inside BOTH -> 2 rows
        (2L, 1L, ts("2024-01-01 11:30:00")), // inside 101 only
        (3L, 2L, ts("2024-01-01 09:30:00")), // boundary inclusive -> 200
        (4L, 2L, ts("2024-01-01 10:00:00")), // outside -> dropped
        (5L, 9L, ts("2024-01-01 10:00:00"))) // unknown key -> dropped
      src.addData(probes: _*)
      q.processAllAvailable()
      val got = spark.table("ivj").orderBy("event_id", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(got == Seq((1L, 100L), (1L, 101L), (2L, 101L), (3L, 200L)))
      // agrees with the batch operator on the same data
      val batch = graft.ops.RangeJoin.intervalJoin(
        probes.toDF("event_id", "user_id", "ts"), sessions, Seq("user_id"),
        "ts", "s", "e", Seq("session_id"))
        .orderBy("event_id", "session_id")
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("HLL registers maintain over a stream; final state equals the batch sketch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(String, String)]
    val df = src.toDF().toDF("g", "item")
    // the batch sketch function IS streaming-legal: groupBy.agg(max)
    val q = graft.ops.Sketches.hllRegisters(df, Seq("g"), col("item"))
      .writeStream.format("memory").queryName("hllregs")
      .outputMode("complete").start()
    try {
      val batch1 = (1 to 700).map(i => ("a", s"tok#$i")) ++
        (1 to 300).map(i => ("b", s"tok#${i * 7}"))
      val batch2 = (500 to 1200).map(i => ("a", s"tok#$i")) // overlaps batch1
      src.addData(batch1: _*)
      q.processAllAvailable()
      src.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hllregs").orderBy("g", "reg").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      val all = (batch1 ++ batch2).toDF("g", "item")
      val batch = graft.ops.Sketches.hllRegisters(all, Seq("g"), col("item"))
        .orderBy("g", "reg").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("grid histogram maintains over a stream; counts equal the batch sketch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(String, Double)]
    val df = src.toDF().toDF("g", "v")
    val q = graft.ops.Sketches.gridHistogram(df, Seq("g"), col("v"), 64)
      .writeStream.format("memory").queryName("gridh")
      .outputMode("complete").start()
    try {
      val b1 = (0 until 500).map(i => ("x", (i % 97) / 97.0))
      val b2 = (0 until 300).map(i => ("x", (i % 31) / 31.0))
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("gridh").orderBy("g", "bin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val batch = graft.ops.Sketches.gridHistogram(
        (b1 ++ b2).toDF("g", "v"), Seq("g"), col("v"), 64)
        .orderBy("g", "bin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("KMV streaming state converges to the batch sketch across micro-batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val k = 64
    val src = MemoryStream[(String, String)]
    val df = src.toDF().toDF("g", "item")
    val q = StreamOps.kmvStreaming(df, "g", "item", k)
      .writeStream.format("memory").queryName("kmvs")
      .outputMode("update").start()
    try {
      val b1 = (1 to 3000).map(i => ("a", s"it#$i"))
      val b2 = (2000 to 5000).map(i => ("a", s"it#$i")) // overlap + fresh
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      // latest snapshot per group = the live state
      val snap = spark.table("kmvs").orderBy(col("n_k")).collect().last
      val batchSk = graft.ops.Sketches.kmvSketch(
        (b1 ++ b2).toDF("g", "item"), Seq("g"), col("item"), k)
      val batchEst = graft.ops.Sketches.kmvEstimate(batchSk, Seq("g"), k)
        .collect()(0)
      assert(snap.getAs[Int]("n_k").toLong == batchEst.getAs[Long]("n_k"))
      assert(snap.getAs[Long]("kth") == batchEst.getAs[Long]("kth"))
      assert(snap.getAs[Double]("est_distinct") ==
        batchEst.getAs[Double]("est_distinct"))
      // estimator sanity on the true 5000 distinct
      assert(math.abs(snap.getAs[Double]("est_distinct") / 5000.0 - 1.0) < 0.4)
    } finally q.stop()
  }

  test("foreachBatch incremental-dedup sink: each micro-batch screens " +
      "against the standing corpus on disk and appends survivors " +
      "(the q89 nightly loop at micro-batch cadence)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("fb_corp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fb_ck").toString
    // seed standing corpus
    Seq((1L, "seed one"), (2L, "seed two")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpus)
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val standing = spark.read.parquet(corpus)
        val fresh = graft.ops.Dedup.exactAgainst(
          batch, standing, "doc_id", "text")
        fresh.select("doc_id", "text")
          .write.mode("append").parquet(corpus)
      }
      .start()
    try {
      // batch 1: one dup of the seed, one new
      src.addData((10L, "seed one"), (11L, "new in batch one"))
      q.processAllAvailable()
      // batch 2: a dup of batch 1's survivor (standing corpus must have
      // GROWN between micro-batches), plus one new
      src.addData((20L, "new in batch one"), (21L, "new in batch two"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set(
      (1L, "seed one"), (2L, "seed two"),
      (11L, "new in batch one"), (21L, "new in batch two")),
      s"incremental screen failed: $kept")
  }

  test("checkpointed file sink survives a query RESTART: dedup state " +
      "restores (cross-restart duplicate dropped) and no rows double") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("eo_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("eo_ck").toString
    val src = MemoryStream[(Timestamp, String)]
    def start() = StreamOps.streamingDedup(
        src.toDF().toDF("ts", "text"), "ts", "text",
        watermark = "24 hours")
      .select("ts", "text")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      src.addData(
        (ts("2024-01-01 10:00:00"), "alpha content"),
        (ts("2024-01-01 10:01:00"), "alpha content"), // in-batch dup
        (ts("2024-01-01 10:02:00"), "beta content"))
      q1.processAllAvailable()
    } finally q1.stop()
    // RESTART from the same checkpoint — the dropDuplicates state store
    // must come back; a duplicate of a pre-restart row must still drop
    val q2 = start()
    try {
      src.addData(
        (ts("2024-01-01 10:10:00"), "alpha content"), // cross-restart dup
        (ts("2024-01-01 10:11:00"), "gamma content"))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(out).collect()
      .map(_.getString(1)).sorted.toSeq
    assert(got == Seq("alpha content", "beta content", "gamma content"),
      s"exactly-once/state-restore violated: $got")
  }

  test("native session_window aggregates a watermarked stream; merged " +
      "sessions match the q166 batch operator's boundary semantics") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = MemoryStream[(Long, Timestamp, Double)]
    val df = src.toDF().toDF("user_id", "ts", "value")
    val q = df.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("n_events"),
        col("sum_value"))
      .writeStream.format("memory").queryName("ssw").outputMode("complete")
      .start()
    try {
      // user 1: events 10 min apart merge; an event exactly 30 min
      // after the previous also merges (MERGE ON TOUCH — the boundary
      // rule the q166 oracle pins); one 31 min later starts a new
      // session. Events arrive across two micro-batches — the session
      // store must merge live state.
      src.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 09:00:00"), 9.0))
      q.processAllAvailable()
      src.addData(
        (1L, ts("2024-01-01 10:10:00"), 2.0),
        (1L, ts("2024-01-01 10:40:00"), 4.0), // touches [10:10+30] → merges
        (1L, ts("2024-01-01 11:11:00"), 8.0)) // 31 min later → new session
      q.processAllAvailable()
      val got = spark.table("ssw").orderBy("user_id", "s").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4))).toSeq
      assert(got == Seq(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 11:10:00.0", 3L, 7.0),
        (1L, "2024-01-01 11:11:00.0", "2024-01-01 11:41:00.0", 1L, 8.0),
        (2L, "2024-01-01 09:00:00.0", "2024-01-01 09:30:00.0", 1L, 9.0)),
        s"got $got")
    } finally q.stop()
  }

  test("stream-stream interval join (two watermarked sides) matches " +
      "the batch range join across micro-batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Timestamp)]
    val imps = MemoryStream[(Long, Timestamp, Long)]
    val clickDf = clicks.toDF().toDF("user_id", "c_ts")
    val impDf = imps.toDF().toDF("user_id", "i_ts", "imp_id")
    val q = StreamOps.intervalJoinStreamStream(clickDf, impDf,
        on = "user_id", leftTs = "c_ts", rightTs = "i_ts",
        windowSeconds = 60)
      .writeStream.format("memory").queryName("ssij").outputMode("append")
      .start()
    try {
      // impressions land first (their own micro-batch), clicks trail in
      // a second one — the two-sided state store must hold the
      // impressions until the matching clicks arrive
      val impRows = Seq(
        (1L, ts("2024-01-01 10:00:00"), 100L),
        (1L, ts("2024-01-01 10:05:00"), 101L), // both windows catch 10:05:30
        (2L, ts("2024-01-01 10:00:00"), 200L),
        (3L, ts("2024-01-01 10:00:00"), 300L)) // never clicked
      val clickRows = Seq(
        (1L, ts("2024-01-01 10:05:30")), // in [10:05, 10:06] only
        (1L, ts("2024-01-01 10:00:30")), // in [10:00, 10:01] only
        (2L, ts("2024-01-01 10:02:00")), // outside the 60 s window
        (4L, ts("2024-01-01 10:00:10"))) // unknown user
      imps.addData(impRows: _*)
      q.processAllAvailable()
      clicks.addData(clickRows: _*)
      q.processAllAvailable()
      val got = spark.table("ssij").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
      assert(got == Set(
        (1L, ts("2024-01-01 10:05:30"), 101L),
        (1L, ts("2024-01-01 10:00:30"), 100L)))
      // row-for-row parity with the same condition run as a batch join
      val batch = clickRows.toDF("user_id", "c_ts")
        .join(impRows.toDF("user_id", "i_ts", "imp_id"), Seq("user_id"))
        .where(col("c_ts") >= col("i_ts") &&
          col("c_ts") <= col("i_ts") + expr("INTERVAL 60 SECONDS"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3)))
        .toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("micro-batched FAME ingest equals the batch run over full history " +
      "(pct lag crosses the batch boundary)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famestream").toString
    val script =
      """freq m
        |base = 100
        |v2 = rev * 2
        |growth = pct(v2)""".stripMargin
    def d(s: String) = java.sql.Date.valueOf(s)
    val batch1 = Seq((d("1995-01-01"), 4.0, 10.0), (d("1995-02-01"), 5.0, 12.0))
    val batch2 = Seq((d("1995-03-01"), 6.0, 9.0), (d("1995-04-01"), 3.0, 11.0))
    val src = MemoryStream[(java.sql.Date, Double, Double)]
    val df = src.toDF().toDF("DATE", "REV", "CNT")
    // mode = Snapshot pins the O(history) recompute path itself (this
    // script is incremental-eligible, so Auto would route it away)
    val q = graft.streaming.FameStream.run(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"),
      mode = graft.streaming.FameStream.Snapshot)
    try {
      src.addData(batch1: _*)
      q.processAllAvailable()
      // first snapshot covers only batch-1 history
      assert(spark.read.parquet(s"$base/result").count() == 2)
      src.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$base/result")
      .select("DATE", "V2", "GROWTH").orderBy("DATE").collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    val batchRun = graft.api.FameSession.run(script,
        (batch1 ++ batch2).toDF("DATE", "REV", "CNT")).df
      .select("DATE", "V2", "GROWTH").orderBy("DATE").collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq == batchRun.toSeq)
    // March's growth needs February (prior micro-batch) — non-null and
    // exactly (12-10)/10*100
    assert(got(2)._3 == 20.0)
    // bronze is batch-id keyed: exactly one subdir per delivered batch
    val bronze = new java.io.File(s"$base/bronze").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(bronze == Set("batch=0", "batch=1"))
  }

  test("incremental eligibility: forward-only scripts get their max lag, " +
      "whole-series/backward/lead constructs are named and refused") {
    assert(incrementalEligibility(
      "freq m\nbase = 100\nv2 = rev * 2\ngrowth = pct(v2)") == Right(1))
    // nested reach accumulates: pct(v[t-2], 3) looks 5 back
    assert(incrementalEligibility("x = pct(rev[t-2], 3)") == Right(5))
    assert(incrementalEligibility("x = diff(rev) + rev[t-3]") == Right(3))
    // lead inside a lag nets forward — refused
    assert(incrementalEligibility("x = rev[t+1]").isLeft)
    assert(incrementalEligibility("x = ave(rev)").isLeft)
    assert(incrementalEligibility("x = firstvalue(rev)").isLeft)
    assert(incrementalEligibility(
      "x = convert(rev, q, discrete, averaged)").isLeft)
    assert(incrementalEligibility("scalar s = rev[t-1]").isLeft)
    // pure scalars are fine and usable downstream
    assert(incrementalEligibility(
      "lambda20 = 20\nx = rev * lambda20") == Right(0))
    // reach is TRANSITIVE through derived series (the r11 advice bug):
    // b reads a[t-1] which reads rev[t-2] — maxLag 2, not 1
    assert(incrementalEligibility(
      "a = pct(rev)\nb = pct(a)") == Right(2))
    assert(incrementalEligibility(
      "a = rev[t-2]\nb = a[t-1]\nc = pct(b, 3)") == Right(6))
    // a lead on a derived lag-bearing series still nets forward — refused
    assert(incrementalEligibility("a = pct(rev)\nb = a[t+1]").isLeft)
    // a masked reassign may preserve the older, deeper-reaching rows:
    // recorded reach is the max of both definitions
    assert(incrementalEligibility(
      "a = rev[t-3]\nset <date 1995-06-01 to *> a = rev\nb = pct(a)")
      == Right(4))
    // local-db targets: the parser folds aa'x to AA_X before Assign is
    // built, so the walker must record reach under the folded name —
    // the r12 advice bug re-prefixed it (AA_AA_X) and downstream refs
    // via aa'x / aa_x lost the transitive reach
    assert(incrementalEligibility(
      "aa'x = pct(rev)\nb = pct(aa'x)") == Right(2))
    assert(incrementalEligibility(
      "aa'x = rev[t-2]\nb = aa_x[t-1]\nc = pct(b)") == Right(4))
    assert(incrementalEligibility("aa'x = pct(rev)\nb = aa'x[t+1]").isLeft)
    // point-in-time assigns are row-date-local: reach flows through the
    // expr and records under the target like any assign
    assert(incrementalEligibility(
      "a = pct(rev)\nb[1995-03-01] = a[t-1]\nc = pct(b)") == Right(3))
    assert(incrementalEligibility("b[1995-03-01] = rev[t+1]").isLeft)

    // --- r14 widening: fixed-date lookups under a closed horizon ---
    // PIT at D reading date d <= D reaches periods(d -> D) back
    assert(incrementalEligibility(
      "freq m\nx[1995-05-01] = rev[\"1995-02-01\"]") == Right(3))
    // ... d > D is a forward read — refused
    assert(incrementalEligibility(
      "freq m\nx[1995-05-01] = rev[\"1995-06-01\"]").isLeft)
    // closed INLINE mask [A,B], d <= A: reach = periods(d -> B)
    assert(incrementalEligibility(
      "freq m\nset <date 1995-04-01 to 1995-07-01> x = rev[\"1995-02-01\"]")
      == Right(5))
    // closed AMBIENT mask works the same and ClearDate ends it
    assert(incrementalEligibility(
      "freq m\ndate 1995-04-01 to 1995-07-01\nx = rev[\"1995-02-01\"]")
      == Right(5))
    assert(incrementalEligibility(
      "freq m\ndate 1995-04-01 to 1995-07-01\ndate *\n" +
        "x = rev[\"1995-02-01\"]").isLeft)
    // lookup date INSIDE the mask is a forward read for earlier masked
    // rows — refused; open masks carry no horizon — refused
    assert(incrementalEligibility(
      "freq m\nset <date 1995-04-01 to 1995-07-01> x = rev[\"1995-05-01\"]")
      .isLeft)
    assert(incrementalEligibility(
      "freq m\nset <date 1995-04-01 to *> x = rev[\"1995-02-01\"]").isLeft)
    // plain assigns stay unbounded — refused
    assert(incrementalEligibility(
      "freq m\nx = rev[\"1995-02-01\"]").isLeft)
    // DynLookup through a pure make(...) scalar resolves like DateLookup
    assert(incrementalEligibility(
      "freq m\nscalar d1 = make(date(m), \"1995-02-01\")\n" +
        "x[1995-05-01] = rev[d1]") == Right(3))
    // ... but a series-derived or unknown scalar stays refused
    assert(incrementalEligibility(
      "freq m\nx[1995-05-01] = rev[nosuch]").isLeft)
    // a scalar REASSIGNED to a non-date pure expression must INVALIDATE
    // its earlier make(...) binding (r14 ADVICE): the lookup is refused
    // here rather than crashing the stream's first micro-batch with the
    // executor's "scalar is not a date" CompileError
    assert(incrementalEligibility(
      "freq m\nscalar d1 = make(date(m), \"1995-02-01\")\n" +
        "scalar d1 = 7\nx[1995-05-01] = rev[d1]").isLeft)

    // --- r15 widening: whole-series over a BOUNDED-SUPPORT series ---
    // the schema argument is what lets the walker trust a masked target
    // had nothing to preserve; IncrementalPropertySpec carries the
    // 3-batch bit-parity proof for the accepted shapes
    val cols = Some(Set("REV"))
    // masked def writes only [Feb..Apr] (fresh target, nothing to
    // preserve) → ave over it at a PIT ≥ the support end is a bounded
    // backward read: periods(Feb → Jun) = 4
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1)", inputColumns = cols) == Right(4))
    // PIT-defined support (single date) + lastvalue, closed-mask reader
    assert(incrementalEligibility(
      "freq m\nm1[1995-03-01] = rev\n" +
        "set <date 1995-03-01 to 1995-05-01> y = lastvalue(m1)",
      inputColumns = cols) == Right(2))
    // the aggregated series' own lag rides on: m1 at its support dates
    // reads rev two back
    assert(incrementalEligibility(
      "freq m\nset <date 1995-03-01 to 1995-04-01> m1 = rev[t-2]\n" +
        "x[1995-06-01] = firstvalue(m1)", inputColumns = cols)
      == Right(5))
    // reader whose mask STARTS before the support end: rows would be
    // written before the aggregate is complete — refused
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-05-01> m1 = rev\n" +
        "set <date 1995-04-01 to 1995-06-01> x = ave(m1)",
      inputColumns = cols).isLeft)
    // plain (unhorizoned) reader stays refused even with bounded support
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x = ave(m1)", inputColumns = cols).isLeft)
    // masked target that IS an input column preserves outside the mask
    // (support unbounded) — refused
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1)",
      inputColumns = Some(Set("REV", "M1"))).isLeft)
    // unknown schema (the bare analysis form): conservative — refused
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1)").isLeft)
    // a plain reassign UNBOUNDS the support — refused thereafter
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\nm1 = rev\n" +
        "x[1995-06-01] = ave(m1)", inputColumns = cols).isLeft)
    // two bounded definitions UNION their ranges: reach spans from the
    // earliest support start, and the reader must clear the latest end
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-03-01> m1 = rev\n" +
        "m1[1995-05-01] = rev\nx[1995-07-01] = ave(m1)",
      inputColumns = cols) == Right(5))
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-03-01> m1 = rev\n" +
        "m1[1995-05-01] = rev\nx[1995-04-01] = ave(m1)",
      inputColumns = cols).isLeft)
    // whole-series over an INPUT series stays refused regardless
    assert(incrementalEligibility(
      "freq m\nx[1995-06-01] = ave(rev)", inputColumns = cols).isLeft)
    // STRICT arithmetic propagates the bound (null wherever the bounded
    // operand is): ave(m1*2 + rev) aggregates ⊆ m1's support even
    // though rev is everywhere; rev contributes lag 0, m1's rides on
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1 * 2 + rev)", inputColumns = cols)
      == Right(4))
    // ...but NON-strict shapes can be non-null outside the support —
    // lsum's null-as-zero and if/else rescue the nulls — refused
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(lsum(m1, rev))", inputColumns = cols).isLeft)
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(if exists(m1) then m1 else rev)",
      inputColumns = cols).isLeft)
    // a lead inside the aggregated expression is refused by name
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1 + rev[t+1])", inputColumns = cols).isLeft)
    // a LAG of a bounded series shifts the support end forward (m1[t-1]
    // is non-null in [Mar, May]): the May end still clears the June
    // PIT, the lag rides on the reach — periods(Feb→Jun) + 1 = 5
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1[t-1])", inputColumns = cols) == Right(5))
    // ...and the SHIFTED end must clear the mask start: m1[t-2] is
    // non-null through June, after the June PIT's latest — refused
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-05-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1[t-2])", inputColumns = cols).isLeft)
    // dateof over bounded support: same acceptance as ave (the observed
    // dates come only from the support), both frame variants; over an
    // unbounded series it stays refused; series-free heads are
    // row-local (the reference's DATEOF_GENERIC)
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "d[1995-06-01] = dateof(m1, *, contain, end)",
      inputColumns = cols) == Right(4))
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "d[1995-06-01] = dateof(m1, *, before, begin)",
      inputColumns = cols) == Right(4))
    assert(incrementalEligibility(
      "freq m\nd[1995-06-01] = dateof(rev, *, contain, end)",
      inputColumns = cols).isLeft)
    assert(incrementalEligibility(
      "freq m\nd = dateof(make(date(m), \"1995-02-01\"), *, contain, end)",
      inputColumns = cols) == Right(0))
    // ... while re-binding to a NEW date keeps eligibility on the
    // latest date (conservative max-reach applies to series, not here:
    // a scalar lookup reads exactly one binding — the current one)
    assert(incrementalEligibility(
      "freq m\nscalar d1 = make(date(m), \"1995-04-01\")\n" +
        "scalar d1 = make(date(m), \"1995-02-01\")\n" +
        "x[1995-05-01] = rev[d1]") == Right(3))
    // lookup reach is transitive: the looked-up series' own lag rides on
    assert(incrementalEligibility(
      "freq m\na = rev[t-2]\nx[1995-05-01] = a[\"1995-03-01\"]")
      == Right(4))
    // quarterly distance counts quarters, not months
    assert(incrementalEligibility(
      "freq q\nx[1995-10-01] = rev[\"1995-01-01\"]") == Right(3))
    // PARTITIONED execution adds no refusals since r16 (one plan for
    // keyed and unkeyed streams): lookups materialize as per-key
    // columns in the executor, so the keyed maxLag is the unkeyed one
    assert(incrementalEligibility(
      "freq m\nx[1995-05-01] = rev[\"1995-02-01\"]") == Right(3))
    assert(incrementalEligibility(
      "freq m\na = pct(rev)\nb = pct(a)") == Right(2))
    // the r16 widening: bounded-support whole-series shapes are
    // eligible UNDER PARTITIONED execution too — the executor compiles
    // ave/firstvalue/lastvalue/dateof to windows PARTITIONED BY the
    // keys, so each key's aggregate over its own support is as bounded
    // as the unkeyed one; the reach arithmetic is unchanged
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "x[1995-06-01] = ave(m1)",
      inputColumns = cols) == Right(4))
    assert(incrementalEligibility(
      "freq m\nset <date 1995-02-01 to 1995-04-01> m1 = rev\n" +
        "d[1995-06-01] = dateof(m1, *, contain, end)",
      inputColumns = cols) == Right(4))
    // …while the UNBOUNDED whole-series shape stays refused by name
    assert(incrementalEligibility("freq m\nx = ave(rev)",
      inputColumns = cols).isLeft)
    // masked keyed lookup: same horizon arithmetic as unkeyed (r16 —
    // the executor's per-key lookup columns make it key-correct)
    assert(incrementalEligibility(
      "freq m\nset <date 1995-04-01 to 1995-05-01> a = rev / rev[\"1995-01-01\"]\nb = diff(a)")
      == Right(5))
    // r16 support widening: if/else and least/greatest of TWO bounded
    // series stay bounded (null where both branches are) — but one
    // literal/unbounded side unbounds the whole expression (least
    // skips nulls; lsum's null-as-zero is non-null everywhere)
    val two = "freq m\nset <date 1995-02-01 to 1995-03-01> m1 = rev\n" +
      "set <date 1995-01-01 to 1995-03-01> m2 = rev * 2\n"
    assert(incrementalEligibility(
      two + "x[1995-06-01] = ave(min(m1, m2))",
      inputColumns = cols) == Right(5))
    assert(incrementalEligibility(
      two + "x[1995-06-01] = ave(if rev gt 25 then m1 else m2)",
      inputColumns = cols) == Right(5))
    assert(incrementalEligibility(
      two + "x[1995-06-01] = ave(min(m1, 5))",
      inputColumns = cols).isLeft)
    assert(incrementalEligibility(
      two + "x[1995-06-01] = ave(min(m1, rev))",
      inputColumns = cols).isLeft)
    assert(incrementalEligibility(
      two + "x[1995-06-01] = ave(lsum(m1, m2))",
      inputColumns = cols).isLeft)
    // no freq declared -> no period arithmetic -> lookups refused
    assert(incrementalEligibility(
      "x[1995-05-01] = rev[\"1995-02-01\"]").isLeft)
  }

  test("incremental FAME: chained lags through derived series carry a " +
      "transitively-sized tail (batch parity at every boundary row)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famechain").toString
    // b needs a[t-1] needs rev[t-2]: with the pre-fix 1-row tail, b at
    // each batch's first row was silently null — this pins the fix
    val script =
      """freq m
        |a = pct(rev)
        |b = pct(a)""".stripMargin
    assert(incrementalEligibility(script)
      == Right(2))
    def d(s: String) = java.sql.Date.valueOf(s)
    val batches = Seq(
      Seq((d("1995-01-01"), 4.0), (d("1995-02-01"), 5.0),
        (d("1995-03-01"), 7.0)),
      Seq((d("1995-04-01"), 6.0)),          // b here needs Feb via Mar
      Seq((d("1995-05-01"), 3.0), (d("1995-06-01"), 8.0)))
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b =>
      src.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
      if (r.isNullAt(1)) null else r.getDouble(1),
      if (r.isNullAt(2)) null else r.getDouble(2))
    val got = spark.read.parquet(s"$base/result")
      .select("DATE", "A", "B").orderBy("DATE").collect().map(key).toSeq
    val batchRun = graft.api.FameSession.run(script,
        batches.flatten.toDF("DATE", "REV")).df
      .select("DATE", "A", "B").orderBy("DATE").collect().map(key).toSeq
    assert(got == batchRun)
    // the boundary cell is a real value: April's b needs March's a
    // which needs February's rev — all through the 2-row carried tail
    assert(got(3)._3 != null, "chained lag across the boundary was null")
  }

  test("incremental FAME: a masked fixed-date-lookup script (r14 " +
      "widening) is batch-equivalent through the real streaming harness") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famelook").toString
    // rows in [Apr, May] are rebased against January's level; the June
    // batch still recomputes May's masked value transitively via b —
    // January must ride the carried tail that far (maxLag = 4 + 1)
    val script =
      """freq m
        |set <date 1995-04-01 to 1995-05-01> a = rev / rev["1995-01-01"]
        |b = diff(a)""".stripMargin
    assert(incrementalEligibility(script)
      == Right(5))
    def d(s: String) = java.sql.Date.valueOf(s)
    val batches = Seq(
      Seq((d("1995-01-01"), 4.0), (d("1995-02-01"), 5.0),
        (d("1995-03-01"), 7.0)),
      Seq((d("1995-04-01"), 6.0), (d("1995-05-01"), 3.0)),
      Seq((d("1995-06-01"), 8.0)))
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b =>
      src.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
      if (r.isNullAt(1)) null else r.getDouble(1),
      if (r.isNullAt(2)) null else r.getDouble(2))
    val got = spark.read.parquet(s"$base/result")
      .select("DATE", "A", "B").orderBy("DATE").collect().map(key).toSeq
    val batchRun = graft.api.FameSession.run(script,
        batches.flatten.toDF("DATE", "REV")).df
      .select("DATE", "A", "B").orderBy("DATE").collect().map(key).toSeq
    assert(got == batchRun)
    // the lookup actually resolved: April's a = 6/4, May's a = 3/4, and
    // June's b = diff(a) still sees May's masked value from the tail
    assert(got(3)._2 == 1.5 && got(4)._2 == 0.75, got.toString)
  }

  test("incremental FAME: a bounded-support whole-series script (r15 " +
      "widening) is batch-equivalent through the real streaming harness") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famews").toString
    // m1 exists only in [Feb, Mar]; the May point reads its mean, the
    // [Apr, Jun] mask reads its last value — June's batch recomputes y
    // with Feb/Mar riding the carried tail (maxLag = periods(Feb→Jun))
    val script =
      """freq m
        |set <date 1995-02-01 to 1995-03-01> m1 = rev
        |x[1995-05-01] = ave(m1)
        |set <date 1995-04-01 to 1995-06-01> y = lastvalue(m1)""".stripMargin
    assert(incrementalEligibility(script,
      inputColumns = Some(Set("DATE", "REV"))) == Right(4))
    def d(s: String) = java.sql.Date.valueOf(s)
    val batches = Seq(
      Seq((d("1995-01-01"), 4.0), (d("1995-02-01"), 5.0),
        (d("1995-03-01"), 7.0)),
      Seq((d("1995-04-01"), 6.0), (d("1995-05-01"), 3.0)),
      Seq((d("1995-06-01"), 8.0)))
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b =>
      src.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
      if (r.isNullAt(1)) null else r.getDouble(1),
      if (r.isNullAt(2)) null else r.getDouble(2))
    val got = spark.read.parquet(s"$base/result")
      .select("DATE", "X", "Y").orderBy("DATE").collect().map(key).toSeq
    val batchRun = graft.api.FameSession.run(script,
        batches.flatten.toDF("DATE", "REV")).df
      .select("DATE", "X", "Y").orderBy("DATE").collect().map(key).toSeq
    assert(got == batchRun)
    // the aggregates actually resolved from the tail: May's x is the
    // support mean (5+7)/2 and Jun's y still sees March's last value
    assert(got(4)._2 == 6.0 && got(5)._3 == 7.0, got.toString)
  }

  test("incremental FAME: dateof over a bounded-support series (r15 " +
      "widening) is batch-equivalent through the real streaming harness") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famedo").toString
    // m1 exists only in [Feb, Mar]; the June point reads the date of
    // its last observation — a DATE-typed whole-series read resolved
    // from the carried tail
    val script =
      """freq m
        |set <date 1995-02-01 to 1995-03-01> m1 = rev
        |d[1995-06-01] = dateof(m1, *, contain, end)""".stripMargin
    assert(incrementalEligibility(script,
      inputColumns = Some(Set("DATE", "REV"))) == Right(4))
    def d(s: String) = java.sql.Date.valueOf(s)
    val batches = Seq(
      Seq((d("1995-01-01"), 4.0), (d("1995-02-01"), 5.0),
        (d("1995-03-01"), 7.0)),
      Seq((d("1995-04-01"), 6.0), (d("1995-05-01"), 3.0)),
      Seq((d("1995-06-01"), 8.0)))
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b =>
      src.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
      if (r.isNullAt(1)) null else r.getDate(1).toString)
    val got = spark.read.parquet(s"$base/result")
      .select("DATE", "D").orderBy("DATE").collect().map(key).toSeq
    val batchRun = graft.api.FameSession.run(script,
        batches.flatten.toDF("DATE", "REV")).df
      .select("DATE", "D").orderBy("DATE").collect().map(key).toSeq
    assert(got == batchRun)
    // the date resolved from the tail: June's d = March (m1's last obs)
    assert(got(5) == ("1995-06-01", "1995-03-01"), got.toString)
  }

  test("incremental FAME enforces the nondecreasing-date ingest contract: " +
      "a late row fails the stream with OutOfOrderIngestException") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famelate").toString
    val script = "freq m\na = pct(rev)"
    def d(s: String) = java.sql.Date.valueOf(s)
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try {
      src.addData((d("1995-01-01"), 4.0), (d("1995-02-01"), 5.0))
      q.processAllAvailable()
      // late arrival: January again after February was processed —
      // the incremental form would silently mis-evaluate it (and the
      // already-emitted February should have lagged against it)
      src.addData((d("1995-01-15"), 9.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(
        _.isInstanceOf[graft.streaming.FameStream.OutOfOrderIngestException]),
        s"expected OutOfOrderIngestException in cause chain, got $ex")
    } finally q.stop()
    // batch 0's output is intact; the offending batch emitted nothing
    val emitted = spark.read.parquet(s"$base/result")
    assert(emitted.count() == 2)
    // the late check runs before any write of the batch: no bronze either
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$base/bronze/batch=0")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/bronze/batch=1")))
  }

  test("incremental FAME refuses a resultDir holding a flat snapshot-" +
      "layout result (mixed layouts would break readback)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famemix").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    // simulate a prior mode=Snapshot run: flat parquet at resultDir
    Seq((d("1994-12-01"), 1.0)).toDF("DATE", "A")
      .write.parquet(s"$base/result")
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.FameStream.runIncremental(df, "freq m\na = pct(rev)",
        s"$base/bronze", s"$base/result",
        checkpointDir = Some(s"$base/ckpt"))
    }
    assert(ex.getMessage.contains("snapshot-layout"))
  }

  test("FameStream.run auto-dispatch keeps CHAIN scripts on the " +
      "snapshot path (r17): year hold-back withholds the open year — a " +
      "different output contract — so Auto must not route them " +
      "incrementally without opt-in") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def d(s: String) = java.sql.Date.valueOf(s)
    val base = java.nio.file.Files.createTempDirectory("famecauto").toString
    val script = """freq m
                   |set x = $chain("a", "1996")""".stripMargin
    val batches = Seq(
      Seq((d("1995-01-01"), 4.0, 2.0), (d("1995-02-01"), 5.0, 3.0)),
      Seq((d("1996-01-01"), 6.0, 2.0), (d("1996-02-01"), 3.0, 4.0)))
    val src = MemoryStream[(java.sql.Date, Double, Double)]
    val df = src.toDF().toDF("DATE", "A", "PA")
    val q = graft.streaming.FameStream.run(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // snapshot layout: flat gold overwrite, no versioned tail/state —
    // and EVERY row present (the incremental form would withhold the
    // open 1996 year)
    assert(!new java.io.File(s"$base/bronze/_tail").exists(),
      "chain script was routed incrementally by Auto")
    assert(!new java.io.File(s"$base/result/batch=0").exists())
    val got = spark.read.parquet(s"$base/result")
      .select(col("DATE").cast("string"), col("X"))
      .orderBy("DATE").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val want = graft.api.FameSession.run(script,
        batches.flatten.toDF("DATE", "A", "PA")).df
      .select(col("DATE").cast("string"), col("X"))
      .orderBy("DATE").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(got.size == 4)
  }

  test("FameStream.run auto-dispatch keeps anchored SHIFT_PCT scripts " +
      "on the snapshot path: anchor hold-back withholds the window until " +
      "the frontier passes the anchor — a different output contract — so " +
      "Auto must not route them incrementally") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def d(s: String) = java.sql.Date.valueOf(s)
    val base = java.nio.file.Files.createTempDirectory("famespauto").toString
    val script = """freq m
                   |lvl = rev * 2
                   |date 1995-03-01 to 1996-06-01
                   |lvl[t] = lvl[t+1]/(1+(pct(rev[t+1])/100))""".stripMargin
    // the plan holds [1995-03, 1996-06] back; every row below ends
    // BEFORE the anchor, so the incremental form would emit only Jan/Feb
    val months = (1 to 8).map(m => d(f"1995-$m%02d-01"))
    val revs = Seq(100.0, 110.0, 120.0, 115.0, 130.0, 125.0, 140.0, 150.0)
    val batches = months.zip(revs).grouped(4).toSeq
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val q = graft.streaming.FameStream.run(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // snapshot layout: flat gold overwrite, no versioned tail — and
    // EVERY row present
    assert(!new java.io.File(s"$base/bronze/_tail").exists(),
      "anchored shift_pct script was routed incrementally by Auto")
    assert(!new java.io.File(s"$base/result/batch=0").exists())
    def cells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select(col("DATE").cast("string"), col("LVL"))
      .orderBy("DATE").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    assert(got == cells(graft.api.FameSession.run(script,
      months.zip(revs).toDF("DATE", "REV")).df))
    assert(got.size == months.size)
  }

  test("FameStream.run auto-dispatch: eligible scripts take the " +
      "incremental path, ineligible fall back to snapshot; parity on both") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      Seq((d("1995-01-01"), 4.0), (d("1995-02-01"), 5.0)),
      Seq((d("1995-03-01"), 6.0), (d("1995-04-01"), 3.0)))

    def drive(script: String): (String, Seq[(String, Any)]) = {
      val base = java.nio.file.Files.createTempDirectory("fameauto").toString
      val src = MemoryStream[(java.sql.Date, Double)]
      val df = src.toDF().toDF("DATE", "REV")
      val q = graft.streaming.FameStream.run(df, script,
        s"$base/bronze", s"$base/result",
        checkpointDir = Some(s"$base/ckpt"))
      try rows.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val out = spark.read.parquet(s"$base/result")
      val outCol = out.columns.find(c => c == "G" || c == "X").get
      (base, out.select(col("DATE"), col(outCol)).orderBy("DATE")
        .collect().map(r => (r.getDate(0).toString,
          if (r.isNullAt(1)) null else r.getDouble(1))).toSeq)
    }

    // eligible (bounded lag): Auto must route to the incremental form —
    // per-batch result subdirs and a versioned tail exist
    val (incBase, incGot) = drive("freq m\ng = pct(rev)")
    assert(new java.io.File(s"$incBase/bronze/_tail").isDirectory,
      "eligible script did not take the incremental path")
    assert(new java.io.File(s"$incBase/result/batch=0").isDirectory)
    val incOracle = graft.api.FameSession.run("freq m\ng = pct(rev)",
        rows.flatten.toDF("DATE", "REV")).df
      .select("DATE", "G").orderBy("DATE").collect()
      .map(r => (r.getDate(0).toString,
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    assert(incGot == incOracle)

    // ineligible (whole-series ave): Auto must fall back to snapshot —
    // flat gold overwrite, no tail dir
    val (snapBase, snapGot) = drive("freq m\nx = ave(rev)")
    assert(!new java.io.File(s"$snapBase/bronze/_tail").exists(),
      "ineligible script did not fall back to snapshot")
    assert(!new java.io.File(s"$snapBase/result/batch=0").exists())
    val snapOracle = graft.api.FameSession.run("freq m\nx = ave(rev)",
        rows.flatten.toDF("DATE", "REV")).df
      .select("DATE", "X").orderBy("DATE").collect()
      .map(r => (r.getDate(0).toString,
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    assert(snapGot == snapOracle)

    // r16: PIN-bearing lead-free scripts (open-ended fixed reads) route
    // INCREMENTALLY under Auto — their output equals the snapshot's
    // row-for-row, so the O(history) cliff disappears with no contract
    // change. Feb-onward rebase against the Jan row; parity on all rows.
    val pinScript =
      "freq m\nset <date 1995-02-01 to *> g = rev / rev[\"1995-01-01\"]"
    val (pinBase, pinGot) = drive(pinScript)
    assert(new java.io.File(s"$pinBase/bronze/_tail").isDirectory,
      "pin script did not take the incremental path under Auto")
    val pinOracle = graft.api.FameSession.run(pinScript,
        rows.flatten.toDF("DATE", "REV")).df
      .select("DATE", "G").orderBy("DATE").collect()
      .map(r => (r.getDate(0).toString,
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    assert(pinGot == pinOracle)

    // LEAD scripts (maxLead > 0) stay on the snapshot under Auto: hold-
    // back would WITHHOLD the frontier rows, a different output
    // contract — here the snapshot emits all 4 rows (last x null)
    val (leadBase, leadGot) = drive("freq m\nx = rev[t+1]")
    assert(!new java.io.File(s"$leadBase/bronze/_tail").exists(),
      "lead script must not silently trim the frontier under Auto")
    assert(leadGot.size == 4 && leadGot.last._2 == null)
  }

  test("incremental FAME ingest: O(batch) evaluation equals the batch " +
      "run across 3 micro-batches (2-lag tail crosses two boundaries)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("fameinc").toString
    // maxLag = 2: growth needs t-1, d2 needs t-2 — both reach across
    // micro-batch boundaries through the carried tail
    val script =
      """freq m
        |base = 100
        |v2 = rev * 2
        |growth = pct(v2)
        |d2 = rev - rev[t-2]""".stripMargin
    assert(incrementalEligibility(script)
      == Right(2))
    def d(s: String) = java.sql.Date.valueOf(s)
    val batches = Seq(
      Seq((d("1995-01-01"), 4.0, 10.0), (d("1995-02-01"), 5.0, 12.0)),
      Seq((d("1995-03-01"), 6.0, 9.0)),
      Seq((d("1995-04-01"), 3.0, 11.0), (d("1995-05-01"), 8.0, 7.0)))
    val src = MemoryStream[(java.sql.Date, Double, Double)]
    val df = src.toDF().toDF("DATE", "REV", "CNT")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b =>
      src.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
      r.getDouble(1),
      if (r.isNullAt(2)) null else r.getDouble(2),
      if (r.isNullAt(3)) null else r.getDouble(3))
    val got = spark.read.parquet(s"$base/result")
      .select("DATE", "V2", "GROWTH", "D2").orderBy("DATE")
      .collect().map(key).toSeq
    val batchRun = graft.api.FameSession.run(script,
        batches.flatten.toDF("DATE", "REV", "CNT")).df
      .select("DATE", "V2", "GROWTH", "D2").orderBy("DATE")
      .collect().map(key).toSeq
    assert(got == batchRun)
    // the boundary-crossing cells are real values, not nulls: March's
    // growth needs February, April's d2 needs February via the tail
    assert(got(2)._3 == 20.0)          // (12-10)/10*100
    assert(got(3)._4 == 3.0 - 5.0)     // April rev − February rev
    // every batch emitted exactly its own rows (O(batch) outputs)…
    val perBatch = spark.read.parquet(s"$base/result")
      .groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 2L, 1L -> 1L, 2L -> 2L))
    // …and the carried tail never exceeds maxLag rows per version
    val tails = new java.io.File(s"$base/bronze/_tail").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(tails == Set("v=0", "v=1", "v=2"))
    assert(spark.read.parquet(s"$base/bronze/_tail/v=1").count() == 2)
    // ineligible script refused loudly
    intercept[IllegalArgumentException] {
      graft.streaming.FameStream.runIncremental(df,
        "x = ave(rev)", s"$base/b2", s"$base/r2")
    }
  }

  test("eligibility frontier (r16): lead-of-lagged-series and open-" +
      "ended masks are refused BY NAME, and necessarily — counterexamples " +
      "show the would-be-accepted shapes break batch parity") {
    // b[t] = a[t+1] = rev[t-2]: the VALUE dependence is net-backward,
    // but the COMPILED plan is lag(a, -1) over the window — it reads
    // through the next physical row, which at a batch edge has not
    // arrived yet. The walker must refuse despite the backward net
    // offset; interval arithmetic that cancelled the offsets would be
    // unsound against this executor.
    import graft.streaming.FameStream.{incrementalPlan, IncrementalPlan, Pin}
    val script = "freq m\na = rev[t-3]\nb = a[t+1]"
    val got = incrementalEligibility(script)
    assert(got.isLeft, got.toString)
    // the refusal is the lead term: b's lag(a, -1) is a lead of 1
    assert(incrementalPlan(script) == Right(IncrementalPlan(1, 3, Nil)))
    // NECESSITY, not conservatism: the whole-history run has a real b
    // at 1995-04-01 (a's May row exists, carrying February's rev); a
    // work frame ending at April — exactly a batch edge — yields null
    val dates = (1 to 6).map(m => f"1995-0$m-01")
    val rev = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val full = graft.api.FameSession.run(script,
      frame(dates, "REV" -> rev)).df
    val work = graft.api.FameSession.run(script,
      frame(dates.take(4), "REV" -> rev.take(4))).df
    def bAt(df: org.apache.spark.sql.DataFrame): Option[Double] = {
      val r = df.where(org.apache.spark.sql.functions.col("DATE") ===
        java.sql.Date.valueOf("1995-04-01")).select("B").head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(bAt(full) == Some(2.0), "whole-history April b should be Feb rev")
    assert(bAt(work).isEmpty,
      "work-frame April b is null at the batch edge — the refusal is " +
        "necessary, a maxLag tail cannot supply a next ROW")
    // open-ENDED mask: no horizon end bounds the affected rows, so a
    // tail alone cannot serve lookups and whole-series functions — the
    // plan carries their fixed targets as PINS instead
    val cols = Some(Set("DATE", "REV"))
    def day(s: String) = java.time.LocalDate.parse(s)
    val s1 = "freq m\ndate 1995-02-01 to *\nx = rev / rev[\"1995-01-01\"]"
    val l1 = incrementalEligibility(s1, inputColumns = cols)
    assert(l1.isLeft, l1.toString)
    assert(incrementalPlan(s1, inputColumns = cols) == Right(IncrementalPlan(
      0, 0, Seq(Pin(day("1995-01-01"), day("1995-01-01"), 0, 0)))))
    val s2 = "freq m\nset <date 1995-02-01 to 1995-03-01> m1 = rev\n" +
      "date 1995-04-01 to *\nz = ave(m1)"
    val l2 = incrementalEligibility(s2, inputColumns = cols)
    assert(l2.isLeft, l2.toString)
    assert(incrementalPlan(s2, inputColumns = cols) == Right(IncrementalPlan(
      0, 0, Seq(Pin(day("1995-02-01"), day("1995-03-01"), 0, 0)))))
    // open-STARTED mask: the horizon END exists but the earliest
    // affected row is unknown, so a fixed-date read can still be a
    // forward read for early rows — refused
    val l3 = incrementalEligibility(
      "freq m\ndate * to 1995-05-01\nx = rev / rev[\"1995-03-01\"]",
      inputColumns = cols)
    assert(l3.isLeft, l3.toString)
    // the lead-aware sibling ACCEPTS the counterexample shape with its
    // bounded forward reach — runIncremental resolves it by HOLD-BACK
    // emission (the next test), not by a longer tail: b's physical
    // lead(a, 1) needs the next row to have ARRIVED, so emission waits
    // for it. Global lag is a's own 3, not b's net 2.
    assert(incrementalReach(script)
      == Right((1, 3)))
    // where hold-back cannot help, the lead-aware walker still refuses:
    // unbounded constructs (open masks, whole-series over unbounded
    // support) have no finite (lead, lag) either
    assert(incrementalReach(
      "freq m\ndate 1995-02-01 to *\nx = rev / rev[\"1995-01-01\"]",
      inputColumns = cols).isLeft)
    assert(incrementalReach(
      "x = ave(rev)", inputColumns = cols).isLeft)
  }

  test("hold-back incremental (r16): lead scripts stream through " +
      "runIncremental — emitted rows are bit-equal to the whole-history " +
      "run, each key's newest maxLead rows stay PENDING until their " +
      "lookahead arrives") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("fameholdb").toString
    // forward reach 2 (nxt2 = a[t+2] reads rev[t+1] through the NEXT
    // TWO physical rows — the frontier counterexample shape, now
    // accepted), backward reach 1 (mom; a): (maxLead, maxLag) = (2, 1)
    val script =
      """freq m
        |mom = pct(rev)
        |fchg = (rev[t+1] - rev) / rev * 100
        |a = rev[t-1]
        |nxt2 = a[t+2]""".stripMargin
    assert(incrementalEligibility(script).isLeft)
    assert(incrementalReach(script)
      == Right((2, 1)))
    def d(s: String) = java.sql.Date.valueOf(s)
    val dates = (1 to 6).map(m => f"1995-0$m-01")
    val revA = Seq(10.0, 12.0, 9.0, 11.0, 7.0, 8.0)
    val revB = Seq(20.0, 18.0, 22.0, 25.0, 21.0, 19.0)
    def rows(idx: Range) =
      idx.map(i => ("A", d(dates(i)), revA(i))) ++
        idx.map(i => ("B", d(dates(i)), revB(i)))
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try Seq(0 until 2, 2 until 4, 4 until 6).foreach { idx =>
      src.addData(rows(idx): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "MOM", "FCHG", "A", "NXT2")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 5).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    // emitted = whole-history run MINUS each key's newest 2 rows (their
    // forward reads are not final); the boundary-crossing lead cells
    // (Feb's fchg needs March — delivered one batch LATER; April's nxt2
    // needs May — two batches later) must be real values, bit-equal
    val full = graft.api.FameSession.run(script,
      rows(0 until 6).toDF("K", "DATE", "REV"),
      partitionKeys = Seq("K")).df
    val want = cells(full.where(col("DATE") <= lit(d(dates(3)))))
    assert(got == want)
    assert(got.size == 8, s"unexpected emitted shape: $got")
    // Feb fchg = (Mar − Feb)/Feb: a forward read across the batch edge
    val febA = got.find(c => c._1 == "A" && c._2 == "1995-02-01").get
    assert(febA._3(1).map(java.lang.Double.longBitsToDouble)
      == Some((9.0 - 12.0) / 12.0 * 100))
    // batch 0 emitted NOTHING (2 rows/key < maxLead+1); batches 1 and 2
    // each released the 2 rows/key whose lookahead completed
    val perBatch = spark.read.parquet(s"$base/result")
      .groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(1L -> 4L, 2L -> 4L), perBatch.toString)
    // the carry holds maxLag+maxLead = 3 rows per key, flagged: after
    // batch 2 each key carries Apr (emitted) + May/Jun (pending)
    val carry = spark.read.parquet(s"$base/bronze/_tail/v=2")
    assert(carry.count() == 6)
    val pend = carry.where(!col("__EMITTED"))
      .select("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(pend == Set("A" -> "1995-05-01", "A" -> "1995-06-01",
      "B" -> "1995-05-01", "B" -> "1995-06-01"))
  }

  test("pinned incremental (r16): OPEN-ENDED-mask fixed reads stream " +
      "through runIncremental — the read-target rows persist in the " +
      "carry beyond any tail, outputs bit-equal the whole-history run " +
      "on EVERY row") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val base = java.nio.file.Files.createTempDirectory("famepin").toString
    // `set <date A to *>` — the natural production shape (rebase from A
    // onward, forever): no closed horizon bounds the backward distance
    // (rows keep arriving arbitrarily far after the read target), so
    // the tail-reach walkers refuse; the PLAN pins the target windows —
    // ave(base)'s support and the Jan lookup row — which are constants
    // once arrived
    val script =
      """freq m
        |mom = pct(rev)
        |set <date 1994-02-01 to 1994-03-01> base = rev
        |set <date 1994-06-01 to *> idx = rev / ave(base) * 100
        |set <date 1994-07-01 to *> rel = rev / rev["1994-01-01"] * 100
        |set <date 1994-08-01 to *> dd = dateof(base, *, contain, end)""".stripMargin
    val cols = Some(Set("DATE", "K", "REV"))
    assert(incrementalEligibility(script,
      inputColumns = cols).isLeft)
    assert(incrementalReach(script,
      inputColumns = cols).isLeft)
    import java.time.LocalDate
    assert(FameStream.incrementalPlan(script,
      inputColumns = cols) == Right(FameStream.IncrementalPlan(0, 1, Seq(
        FameStream.Pin(LocalDate.parse("1994-02-01"),
          LocalDate.parse("1994-03-01"), 0, 0),
        FameStream.Pin(LocalDate.parse("1994-01-01"),
          LocalDate.parse("1994-01-01"), 0, 0),
        FameStream.Pin(LocalDate.parse("1994-02-01"),
          LocalDate.parse("1994-03-01"), 0, 0)))))
    // a SCALAR-date lookup under an open mask pins the same way (the
    // resolvable make(...) binding routes through the DateLookup path),
    // and the read series' own lag rides in as a PHYSICAL-row prec
    // count (not a period-widened window — r17 ADVICE fix)
    assert(FameStream.incrementalPlan(
      """freq m
        |scalar d0 = make(date(m), "1994-02-01")
        |a = rev[t-1]
        |set <date 1994-05-01 to *> z = a[d0]""".stripMargin,
      inputColumns = Some(Set("DATE", "REV"))) ==
      Right(FameStream.IncrementalPlan(0, 1, Seq(
        FameStream.Pin(LocalDate.parse("1994-02-01"),
          LocalDate.parse("1994-02-01"), 1, 0)))))
    def d(s: String) = java.sql.Date.valueOf(s)
    val dates = (1 to 12).map(m => f"1994-$m%02d-01")
    val revA = Seq(10.0, 12.0, 9.0, 11.0, 7.0, 8.0, 13.0, 6.0, 15.0,
      5.0, 14.0, 4.0)
    val revB = Seq(20.0, 18.0, 22.0, 25.0, 21.0, 19.0, 24.0, 17.0, 23.0,
      26.0, 16.0, 27.0)
    def rows(idx: Range) =
      idx.map(i => ("A", d(dates(i)), revA(i))) ++
        idx.map(i => ("B", d(dates(i)), revB(i)))
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try Seq(0 until 4, 4 until 8, 8 until 12).foreach { idx =>
      src.addData(rows(idx): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("K"), col("DATE"), col("MOM"), col("BASE"),
        col("IDX"), col("REL"), col("DD").cast("string"))
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 5).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j)))),
        if (r.isNullAt(6)) null else r.getString(6)))
      .toSeq
    // maxLead = 0: every row emits the batch it arrives — output parity
    // on ALL 24 rows, incl. the batch-2 rows whose idx/rel read Jan-Mar
    // targets delivered TWO batches earlier (a 1-row tail could never
    // carry them; the pins did)
    val got = cells(spark.read.parquet(s"$base/result"))
    val want = cells(graft.api.FameSession.run(script,
      rows(0 until 12).toDF("K", "DATE", "REV"),
      partitionKeys = Seq("K")).df)
    assert(got == want)
    assert(got.size == 24)
    // the carry after batch 2 holds the 1-row tail (Dec) PLUS the three
    // pinned rows (Jan, Feb, Mar) per key, all flagged emitted
    val carry = spark.read.parquet(s"$base/bronze/_tail/v=2")
    val byKey = carry.select("K", "DATE", "__EMITTED").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getBoolean(2)))
      .toSet
    assert(byKey == Set("A", "B").flatMap(k => Set(
      (k, "1994-01-01", true), (k, "1994-02-01", true),
      (k, "1994-03-01", true), (k, "1994-12-01", true))))
  }

  test("pinned incremental over GAPPED per-key dates (r17 ADVICE fix): " +
      "a fixed read of a DERIVED lagged series pins the target row's " +
      "PHYSICAL predecessor — which sits more periods back than rows — " +
      "so later batches bit-equal the whole-history run; a date-widened " +
      "pin window would have dropped it") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val base = java.nio.file.Files.createTempDirectory("famegap").toString
    // a = rev[t-1] is a PHYSICAL row lag; z's fixed read a["1995-04-01"]
    // therefore depends on the row immediately BEFORE Apr in each key's
    // frame — for A that is Feb (2 periods back), for B Jan (3 periods
    // back). The r16 period-widened pin window [Mar, Apr] carried
    // neither; the r17 rank pin (window Apr..Apr, prec = 1 row) carries
    // exactly the right row per key.
    val script =
      """freq m
        |a = rev[t-1]
        |set <date 1995-06-01 to *> z = rev / a["1995-04-01"]""".stripMargin
    import java.time.LocalDate
    assert(FameStream.incrementalPlan(script,
      inputColumns = Some(Set("DATE", "K", "REV"))) ==
      Right(FameStream.IncrementalPlan(0, 1, Seq(
        FameStream.Pin(LocalDate.parse("1995-04-01"),
          LocalDate.parse("1995-04-01"), 1, 0)))))
    def d(s: String) = java.sql.Date.valueOf(s)
    // gapped months per key (A misses Mar+May, B misses Feb+Mar+May)
    val monthsA = Seq(1, 2, 4, 6, 7, 8, 9, 10, 11)
    val monthsB = Seq(1, 4, 6, 7, 8, 9, 10, 11)
    def rv(k: String, m: Int) = (if (k == "A") 10.0 else 100.0) + m
    def rows(lo: Int, hi: Int) =
      monthsA.filter(m => m >= lo && m <= hi)
        .map(m => ("A", d(f"1995-$m%02d-01"), rv("A", m))) ++
      monthsB.filter(m => m >= lo && m <= hi)
        .map(m => ("B", d(f"1995-$m%02d-01"), rv("B", m)))
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try Seq((1, 4), (6, 8), (9, 11)).foreach { case (lo, hi) =>
      src.addData(rows(lo, hi): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "A", "Z")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    val want = cells(graft.api.FameSession.run(script,
      rows(1, 11).toDF("K", "DATE", "REV"),
      partitionKeys = Seq("K")).df)
    assert(got == want)
    assert(got.size == monthsA.size + monthsB.size)
    // the values are REAL (not vacuously null): the batch-2 z rows read
    // a[Apr] = rev@Feb for A and rev@Jan for B, delivered two batches
    // earlier and carried only by the rank pin
    val zNov = got.filter(_._2 == "1995-11-01").map(c =>
      c._1 -> c._3(1).map(java.lang.Double.longBitsToDouble))
    assert(zNov.toMap == Map(
      "A" -> Some((10.0 + 11) / (10.0 + 2)),    // rev@Nov / rev@Feb
      "B" -> Some((100.0 + 11) / (100.0 + 1)))) // rev@Nov / rev@Jan
    // the carry holds, per key, the 1-row tail (Nov) + the pinned Apr
    // row + its ONE physical predecessor (Feb for A, Jan for B)
    val carry = spark.read.parquet(s"$base/bronze/_tail/v=2")
      .select("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(carry == Set(
      ("A", "1995-02-01"), ("A", "1995-04-01"), ("A", "1995-11-01"),
      ("B", "1995-01-01"), ("B", "1995-04-01"), ("B", "1995-11-01")))
  }

  test("bucketed incremental (r16): DOWN-conversion streams through " +
      "runIncremental under bucket hold-back — anchors emit only once " +
      "their bucket closes, synthetic anchors (sparse frames) emit " +
      "exactly once, cells bit-equal the whole-history run") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val base = java.nio.file.Files.createTempDirectory("famebkt").toString
    // m→q downsample = a bounded lead of span−1 = 2 rows: the quarter
    // anchor's value aggregates its own bucket, never anything behind
    val script =
      """freq m
        |mom = pct(rev)
        |rev_q = convert(rev, q, discrete, sum)""".stripMargin
    assert(incrementalEligibility(script).isLeft)
    // converts need the plan's bucket term: (lead, lag) alone would let
    // a tail-based caller drop sparse frames' synthetic anchors
    assert(incrementalReach(script).isLeft)
    assert(FameStream.incrementalPlan(script) ==
      Right(FameStream.IncrementalPlan(2, 1, Nil, bucketed = true)))
    // the span table: hold = max source rows per target bucket − 1
    import graft.streaming.FameStream.{incrementalPlan, IncrementalPlan}
    assert(incrementalPlan("freq m\nx = convert(rev, a, discrete, average)")
      == Right(IncrementalPlan(11, 0, Nil, bucketed = true)))
    assert(incrementalPlan("freq q\nx = convert(rev, a, discrete, sum)")
      == Right(IncrementalPlan(3, 0, Nil, bucketed = true)))
    // a lagged derived SOURCE rides its interval into the bucket read
    assert(incrementalPlan(
      "freq m\na = rev[t-2]\nx = convert(a, q, discrete, sum)")
      == Right(IncrementalPlan(2, 2, Nil, bucketed = true)))
    // UP-conversions (r19): accepted under OBSERVATION hold-back —
    // constant/discrete/linear grid rows finalize at the newest
    // observation (lead 0, bracketing-obs lag 1); cubic's edge slope
    // moves until the next obs arrives, so it holds one input row
    // (lead 1, lag 2). A convert with no declared session/as
    // frequency stays refused.
    assert(incrementalPlan("freq q\nx = convert(rev, m, linear, average)")
      == Right(IncrementalPlan(0, 1, Nil, bucketed = true)))
    assert(incrementalPlan("freq q\nx = convert(rev, m, cubic, average)")
      == Right(IncrementalPlan(1, 2, Nil, bucketed = true)))
    assert(incrementalPlan("x = convert(rev, q, discrete, sum)").isLeft)
    def d(s: String) = java.sql.Date.valueOf(s)
    // A is dense Jan..Sep; B is SPARSE (no Jan, Apr, Aug): B's Q1 and
    // Q2 anchors have no input row — the convert bridge materializes
    // them as synthetic full-outer-join rows the executor must emit
    // exactly once, after the bucket closes
    val revA = Map(1 -> 10.0, 2 -> 12.0, 3 -> 9.0, 4 -> 11.0, 5 -> 7.0,
      6 -> 8.0, 7 -> 13.0, 8 -> 6.0, 9 -> 15.0)
    val revB = Map(2 -> 20.0, 3 -> 18.0, 5 -> 22.0, 6 -> 25.0,
      7 -> 21.0, 9 -> 19.0)
    def rows(lo: Int, hi: Int) =
      (lo to hi).flatMap(m => revA.get(m).map(v =>
        ("A", d(f"1995-0$m-01"), v))) ++
      (lo to hi).flatMap(m => revB.get(m).map(v =>
        ("B", d(f"1995-0$m-01"), v)))
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try Seq((1, 3), (4, 6), (7, 9)).foreach { case (lo, hi) =>
      src.addData(rows(lo, hi): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "MOM", "REV_QTRLY")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    // expected emitted set: per key, inputs except the newest 2, PLUS
    // synthetic anchors whose bucket closed (B's Q1 = Feb+Mar once Apr+
    // rows prove Q1 over; B's Q2 = May+Jun once Jul arrives); A's Q3
    // anchor is an INPUT row (Jul) emitted with the full Jul+Aug+Sep
    // sum; B's Q3 anchor (Jul) stays HELD — its bucket never closes
    val full = graft.api.FameSession.run(script,
      rows(1, 9).toDF("K", "DATE", "REV"),
      partitionKeys = Seq("K")).df
    val wantKeys =
      (1 to 7).map(m => ("A", f"1995-0$m-01")) ++
      Seq(2, 3, 5, 6).map(m => ("B", f"1995-0$m-01")) ++
      Seq(("B", "1995-01-01"), ("B", "1995-04-01"))   // synthetic anchors
    val want = cells(full).filter(c => wantKeys.contains((c._1, c._2)))
    assert(got == want, s"\ngot  = $got\nwant = $want")
    assert(got.size == wantKeys.size)
    // A's emitted Q3 anchor aggregates the COMPLETE bucket (Jul+Aug+Sep)
    val a3 = got.find(c => c._1 == "A" && c._2 == "1995-07-01").get
    assert(a3._3(1).map(java.lang.Double.longBitsToDouble)
      == Some(13.0 + 6.0 + 15.0))
    // B's synthetic Q1 anchor = Feb+Mar (no Jan row existed)
    val b1 = got.find(c => c._1 == "B" && c._2 == "1995-01-01").get
    assert(b1._3(1).map(java.lang.Double.longBitsToDouble)
      == Some(20.0 + 18.0))
    // per-batch emission: batch 0 releases only A's Jan; each later
    // batch releases the rows whose lookahead/bucket completed, incl.
    // exactly one synthetic anchor each — and NEVER re-emits one
    val perBatch = spark.read.parquet(s"$base/result")
      .groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 1L, 1L -> 6L, 2L -> 6L), perBatch.toString)
  }

  test("bucketed incremental: an ORDER-SENSITIVE m→q sum convert emits " +
      "cells bit-equal to the whole-history run — each key's rows are " +
      "folded in ascending date order, as a whole-history scan reads " +
      "them") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = tmpDir("famebktorder").toString
    val script = "freq m\nrev_q = convert(rev, q, discrete, sum)"
    def d(s: String) = java.sql.Date.valueOf(s)
    // every quarter's sum depends on the fold order:
    // (0.1 + 0.2) + 0.3 != (0.3 + 0.2) + 0.1, and B runs the reverse
    val vals = Map("A" -> Seq(0.1, 0.2, 0.3), "B" -> Seq(0.3, 0.2, 0.1))
    def rows(lo: Int, hi: Int) =
      for (k <- Seq("A", "B"); m <- lo to hi)
        yield (k, d(f"1995-$m%02d-01"), vals(k)((m - 1) % 3))
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val q = graft.streaming.FameStream.runIncremental(
      src.toDF().toDF("K", "DATE", "REV"), script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try Seq((1, 3), (4, 6), (7, 9), (10, 12)).foreach { case (lo, hi) =>
      src.addData(rows(lo, hi): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = {
      val vs = df.columns.filterNot(Set("K", "DATE", "batch")).sorted.toSeq
      df.select(("K" +: "DATE" +: vs).map(col): _*)
        .orderBy("K", "DATE").collect()
        .map(r => (r.getString(0), r.getDate(1).toString,
          vs.indices.map(j => if (r.isNullAt(j + 2)) None
            else Some(java.lang.Double.doubleToLongBits(r.getDouble(j + 2))))))
        .toSeq
    }
    val got = cells(spark.read.parquet(s"$base/result"))
    val full = graft.api.FameSession.run(script,
      rows(1, 12).toDF("K", "DATE", "REV"), partitionKeys = Seq("K")).df
    // the newest 2 rows per key stay pending: Jan..Oct emit, Oct's
    // bucket complete
    val want = cells(full).filter(_._2 < "1995-11-01")
    assert(got.size == 20)
    assert(got == want, s"\ngot  = $got\nwant = $want")
    // the fixture discriminates: A's Q1 anchor is the ascending fold
    val ascending = java.lang.Double.doubleToLongBits((0.1 + 0.2) + 0.3)
    assert(ascending != java.lang.Double.doubleToLongBits((0.3 + 0.2) + 0.1))
    assert(got.find(_._2 == "1995-01-01").get._3.contains(Some(ascending)))
  }

  test("up-conversion incremental (r19): a q→m LINEAR upsample streams " +
      "under OBSERVATION hold-back — fine-grid rows emit once the " +
      "key's newest observation reaches them (their bracketing obs are " +
      "then fixed), the synthetic tail past the frontier pends, cells " +
      "bit-equal the whole-history run; CUBIC holds one extra obs (its " +
      "edge slope moves until the successor arrives)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    def d(s: String) = java.sql.Date.valueOf(s)
    val quarters = (0 until 12).map { i =>      // 1995-Q1 .. 1997-Q4
      java.time.LocalDate.of(1995, 1, 1).plusMonths(3L * i)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(quarters(i).toString), (100 + (i + o) % 7 * 10).toDouble)
    }
    def rows(r: Range) = Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))

    def drive(script: String, tag: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString
      val src = MemoryStream[(String, java.sql.Date, Double)]
      val df = src.toDF().toDF("K", "DATE", "REV")
      val q = FameStream.runIncremental(df, script,
        s"$dir/bronze", s"$dir/result", partitionKeys = Seq("K"),
        checkpointDir = Some(s"$dir/ckpt"))
      try Seq(0 until 4, 4 until 8, 8 until 12).foreach { r =>
        src.addData(rows(r): _*); q.processAllAvailable()
      } finally q.stop()
      val res = spark.read.parquet(s"$dir/result")
      val full = graft.api.FameSession.run(script,
        rows(0 until 12).toDF("K", "DATE", "REV"),
        partitionKeys = Seq("K")).df
      (res, full)
    }
    def cells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select("K", "DATE", "REV_MON")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2)))))
      .toSeq

    // LINEAR: emitted set = every grid row up to the newest observation
    // (1997-10-01); the Nov/Dec-1997 synthetic tail pends (its next
    // observation never arrives)
    val (resL, fullL) = drive(
      "freq q\nu = convert(rev, m, linear, average)", "fameupL")
    assert(cells(resL) ==
      cells(fullL.where(col("DATE") <= lit(d("1997-10-01")))))
    assert(cells(resL).size == 68) // 34 months × 2 keys
    // per-batch: batch 0 emits Jan..Oct-95 (inputs + closed synthetics),
    // batches 1-2 each flush the prior tail + their own closed window
    val perBatch = resL.groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 20L, 1L -> 24L, 2L -> 24L),
      perBatch.toString)

    // CUBIC: one extra observation of hold-back — emitted set stops at
    // the SECOND-newest observation (1997-07-01)
    val (resC, fullC) = drive(
      "freq q\nu = convert(rev, m, cubic, average)", "fameupC")
    assert(cells(resC) ==
      cells(fullC.where(col("DATE") <= lit(d("1997-07-01")))))
    assert(cells(resC).size == 62) // 31 months × 2 keys
  }

  test("hold-back EDGE KEYS (r19): a key starting after the anchor " +
      "passes through whole, a key ending before the anchor pends its " +
      "window forever (pre-window rows still emit), a key first " +
      "appearing mid-stream joins cleanly, and single/gapped-" +
      "observation keys up-convert under observation hold-back") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    def d(s: String) = java.sql.Date.valueOf(s)
    def month(i: Int) =
      d(java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong).toString)

    // ---- anchored shift_pct (window [1995-03, 1996-06]) ----
    val script =
      """freq m
        |lvl = rev * 2
        |date 1995-03-01 to 1996-06-01
        |lvl[t] = lvl[t+1]/(1+(pct(rev[t+1])/100))""".stripMargin
    // A1 spans the window; C3 STARTS after the anchor (no window rows,
    // first appears in batch 1); D4 ENDS before the anchor (its window
    // rows must pend forever)
    val span: Map[String, Range] =
      Map("A1" -> (0 until 30), "C3" -> (20 until 30), "D4" -> (0 until 15))
    def row(k: String, i: Int) = {
      val o = k.hashCode.abs % 5
      (k, month(i), (100 + (i + o) % 7 * 10).toDouble)
    }
    def rows(r: Range) = span.toSeq.sortBy(_._1).flatMap { case (k, s) =>
      r.filter(s.contains).map(i => row(k, i))
    }
    val dir = java.nio.file.Files.createTempDirectory("fameedge").toString
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val q = FameStream.runIncremental(src.toDF().toDF("K", "DATE", "REV"),
      script, s"$dir/bronze", s"$dir/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$dir/ckpt"))
    try Seq(0 until 11, 11 until 21, 21 until 30).foreach { r =>
      src.addData(rows(r): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select("K", "DATE", "REV", "LVL")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val res = spark.read.parquet(s"$dir/result")
    val full = graft.api.FameSession.run(script,
      rows(0 until 30).toDF("K", "DATE", "REV"),
      partitionKeys = Seq("K")).df
    // emitted set: everything except D4's forever-pending window rows
    val emitted = full.where(!(col("K") === "D4" &&
      col("DATE").between(lit(d("1995-03-01")), lit(d("1996-06-01")))))
    assert(cells(res) == cells(emitted))
    assert(res.where(col("K") === "C3").count() == 10)  // all pass-through
    assert(res.where(col("K") === "D4").count() == 2)   // Jan+Feb-95 only

    // ---- up-conversion observation hold-back, degenerate obs sets ----
    // E5 has ONE quarterly observation (its grid is that single month,
    // pd == nd → the value itself); F6 has two observations TWO
    // quarters apart (one long bracket interpolates across the gap)
    val upScript = "freq q\nu = convert(rev, m, linear, average)"
    val upRows = Seq(
      ("E5", d("1995-04-01"), 120.0),
      ("F6", d("1995-01-01"), 100.0), ("F6", d("1995-07-01"), 160.0))
    val dir2 = java.nio.file.Files.createTempDirectory("fameedgeup").toString
    val src2 = MemoryStream[(String, java.sql.Date, Double)]
    val q2 = FameStream.runIncremental(src2.toDF().toDF("K", "DATE", "REV"),
      upScript, s"$dir2/bronze", s"$dir2/result",
      partitionKeys = Seq("K"), checkpointDir = Some(s"$dir2/ckpt"))
    try Seq(upRows.take(2), upRows.drop(2)).foreach { b =>
      src2.addData(b: _*); q2.processAllAvailable()
    } finally q2.stop()
    def upCells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select("K", "DATE", "REV_MON")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2)))))
      .toSeq
    val res2 = spark.read.parquet(s"$dir2/result")
    val full2 = graft.api.FameSession.run(upScript,
      upRows.toDF("K", "DATE", "REV"), partitionKeys = Seq("K")).df
    // emitted set = grid rows up to each key's NEWEST observation; the
    // whole-history frame additionally carries the final quarter's
    // trailing months (null under linear — no upper bracket), which the
    // incremental path correctly pends awaiting the next observation
    val emitted2 = full2.where(
      (col("K") === "E5" && col("DATE") <= lit(d("1995-04-01"))) ||
      (col("K") === "F6" && col("DATE") <= lit(d("1995-07-01"))))
    assert(upCells(res2) == upCells(emitted2))
    assert(res2.where(col("K") === "E5").count() == 1)
    assert(res2.where(col("K") === "F6").count() == 7)  // Jan..Jul-95
  }

  test("observation hold-back survives a query RESTART (r19): an " +
      "up-conversion's pending fine-grid tail and bracketing-obs carry " +
      "restore from the versioned tail table across stop/start — the " +
      "post-restart batches emit exactly the non-restart batch sets, " +
      "no double emission, cells bit-equal the whole-history run") {
    import graft.streaming.FameStream
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("fameuprst").toString
    val script = "freq q\nu = convert(rev, m, linear, average)"
    def d(s: String) = java.sql.Date.valueOf(s)
    val quarters = (0 until 12).map { i =>      // 1995-Q1 .. 1997-Q4
      java.time.LocalDate.of(1995, 1, 1).plusMonths(3L * i)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(quarters(i).toString), (100 + (i + o) % 7 * 10).toDouble)
    }
    def chunk(r: Range): Unit = {
      import spark.implicits._
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
        .toDF("K", "DATE", "REV").coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }
    chunk(0 until 4)                      // obs frontier 1995-10-01
    val schema = spark.read.parquet(s"$base/src").schema
    def start() = FameStream.runIncremental(
      spark.readStream.schema(schema).parquet(s"$base/src"), script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // batch 0 emitted every grid month ≤ the frontier observation
    assert(spark.read.parquet(s"$base/result").count() == 20)
    // RESTART; the interpolation across the batch boundary must read
    // its below-bracket observation from the restored carry
    chunk(4 until 8)
    val q2 = start()
    try { q2.processAllAvailable(); chunk(8 until 12)
      q2.processAllAvailable() } finally q2.stop()
    def cells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select("K", "DATE", "REV_MON")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2)))))
      .toSeq
    val res = spark.read.parquet(s"$base/result")
    val full = graft.api.FameSession.run(script,
      { import spark.implicits._
        Seq("A1", "B2").flatMap(k => (0 until 12).map(i => row(k, i)))
          .toDF("K", "DATE", "REV") },
      partitionKeys = Seq("K")).df
    assert(cells(res) ==
      cells(full.where(col("DATE") <= lit(d("1997-10-01")))))
    assert(cells(res).size == 68)          // 34 months × 2 keys
    // no row emitted twice, and the restarted run's batch sets match
    // the non-restart run exactly
    assert(res.select("K", "DATE").distinct().count() == 68)
    val perBatch = res.groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 20L, 1L -> 24L, 2L -> 24L),
      perBatch.toString)
  }

  test("pinned dynamic scalars (r17): a scalar derived from a bounded-" +
      "support series streams through runIncremental — the support " +
      "window (plus the argument's physical lag predecessors) pins, " +
      "uses masked at/after the support end read the FINAL value, and " +
      "outputs bit-equal the whole-history run over a GAPPED frame") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val base = java.nio.file.Files.createTempDirectory("famescl").toString
    // base = rev[t-1] is a PHYSICAL lag: base@Feb reads the row before
    // Feb — here 1994-11 (a 3-period gap), carried only by the pin's
    // prec row. firstvalue(base) therefore depends on that gapped
    // predecessor forever; lastvalue(base) moves until Mar arrives.
    val script =
      """freq m
        |set <date 1995-02-01 to 1995-03-01> base = rev[t-1]
        |scalar s0 = firstvalue(base)
        |scalar s1 = lastvalue(base)
        |set <date 1995-06-01 to *> z = rev / s0 + s1""".stripMargin
    val cols = Some(Set("DATE", "REV"))
    import java.time.LocalDate
    assert(incrementalEligibility(script,
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(script, inputColumns = cols) ==
      Right(FameStream.IncrementalPlan(0, 1, Seq(
        FameStream.Pin(LocalDate.parse("1995-02-01"),
          LocalDate.parse("1995-03-01"), 1, 0),
        FameStream.Pin(LocalDate.parse("1995-02-01"),
          LocalDate.parse("1995-03-01"), 1, 0)))))
    // named fences: an UNMASKED use (rows before the support end would
    // emit against a partial value), a mask starting INSIDE the
    // support, and reassignment of the frozen base
    assert(FameStream.incrementalPlan(
      script.replace("set <date 1995-06-01 to *> z", "z"),
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      script.replace("1995-06-01", "1995-02-15"),
      inputColumns = cols).isLeft)
    // KEYED streams ACCEPT since r18: the batch engine extracts
    // series-derived scalars per key (each key's own support-window
    // value), so the replay is deterministic — same plan as unkeyed
    // (q221 carries the keyed 3-chunk hash-parity gate proof)
    assert(FameStream.incrementalPlan(script,
      inputColumns = Some(Set("DATE", "K", "REV"))) ==
      FameStream.incrementalPlan(script, inputColumns = cols))
    assert(FameStream.incrementalPlan(
      script + "\nbase = rev * 2", inputColumns = cols).isLeft)
    def d(s: String) = java.sql.Date.valueOf(s)
    val dates = Seq("1994-11-01", "1995-02-01", "1995-03-01") ++
      (4 to 12).map(m => f"1995-$m%02d-01")
    val revs = Seq(8.0, 12.0, 9.0, 11.0, 7.0, 16.0, 13.0, 6.0, 15.0,
      5.0, 14.0, 4.0)
    def rows(r: Range) = r.map(i => (d(dates(i)), revs(i)))
    val src = MemoryStream[(java.sql.Date, Double)]
    val df = src.toDF().toDF("DATE", "REV")
    val q = FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      checkpointDir = Some(s"$base/ckpt"))
    // the support itself crosses a batch boundary: s1 is still partial
    // during batch 0 (no z rows affected yet — they only start in June)
    try Seq(0 until 2, 2 until 7, 7 until 12).foreach { r =>
      src.addData(rows(r): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("DATE", "BASE", "Z")
      .orderBy("DATE").collect()
      .map(r => (r.getDate(0).toString,
        (1 to 2).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    val want = cells(graft.api.FameSession.run(script,
      rows(0 until 12).toDF("DATE", "REV")).df)
    assert(got == want)
    assert(got.size == 12)
    // real values: s0 = base@Feb = rev@1994-11 (the gapped physical
    // predecessor), s1 = base@Mar = rev@Feb
    val zDec = got.find(_._1 == "1995-12-01").get
    assert(zDec._2(1).map(java.lang.Double.longBitsToDouble)
      == Some(4.0 / 8.0 + 12.0))
    // the carry keeps the pinned support rows AND the gapped
    // predecessor (1994-11) beyond the 1-row tail
    val carry = spark.read.parquet(s"$base/bronze/_tail/v=2")
      .select("DATE").collect().map(_.getDate(0).toString).toSet
    assert(carry == Set("1994-11-01", "1995-02-01", "1995-03-01",
      "1995-12-01"))
  }

  test("chained incremental (r17): an annually-linked $chain streams " +
      "through runIncremental under YEAR hold-back — rows emit once " +
      "their year AND the base year close, closed-year aggregates seed " +
      "the kernel from versioned state, cells bit-equal the " +
      "whole-history run") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val script =
      """freq m
        |mom = pct(a)
        |set x = $chain("a - b", "1997")""".stripMargin
    val cols = Some(Set("DATE", "K", "A", "PA", "B", "PB"))
    // the tail-only and lead-only projections refuse; the plan carries
    // a ChainSpec
    assert(incrementalEligibility(script,
      inputColumns = cols).isLeft)
    assert(incrementalReach(script,
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(script,
      inputColumns = cols) == Right(FameStream.IncrementalPlan(0, 1, Nil,
        bucketed = false,
        chains = Seq(FameStream.ChainSpec("X",
          Seq((1, "A"), (-1, "B")), 1997)))))
    // named-reason fences: downstream reads of the sealed index, source
    // reassignment after the chain, chain+convert composition, a lagged
    // source
    assert(FameStream.incrementalPlan(
      script + "\nz = x * 2", inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      script + "\na = a * 2", inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      script + "\nv = convert(a, q, discrete, sum)",
      inputColumns = cols).isLeft)
    // LAGGED sources are accepted (r17 widening): the year closes with
    // its rows still carried plus the suffix's maxLag predecessors, so
    // the closing batch's fresh aggregates see complete derived values
    assert(FameStream.incrementalPlan(
      """freq m
        |c = a[t-1]
        |pc = pa[t-1]
        |set x = $chain("c", "1997")""".stripMargin,
      inputColumns = cols) ==
      Right(FameStream.IncrementalPlan(0, 1, Nil, bucketed = false,
        chains = Seq(FameStream.ChainSpec("X", Seq((1, "C")), 1997)))))
    // LEAD-bearing sources stay refused (a closing year proves one
    // later row, not the lookahead), as do FORWARD-referenced sources
    // (the scheduler computes the later definition first — the read
    // site's reach is unknown in script order)
    assert(FameStream.incrementalPlan(
      """freq m
        |c = a[t+1]
        |pc = pa[t+1]
        |set x = $chain("c", "1997")""".stripMargin,
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      """freq m
        |set x = $chain("c", "1997")
        |c = a[t-1]
        |pc = pa[t-1]""".stripMargin,
      inputColumns = cols).isLeft)
    // fishvol's per-row fold streams on the same plan (its seeded fold
    // is bit-exact — the fishvol tests below), with its own spec
    assert(FameStream.incrementalPlan(
      "freq m\nx = fishvol_rebase({a},{pa},1996)",
      inputColumns = cols) ==
      Right(FameStream.IncrementalPlan(0, 1, Nil, fishvols = Seq(
        FameStream.FishvolSpec("X", Seq("A"), Seq("PA"), 1996)))))
    // forward references through ORDINARY statements are refused
    // (r17 find: `b = a[t-1]; a = pct(rev)` used to verdict
    // Right(1) where the true transitive reach is 2 — the scheduler
    // computes `a` first, so the tail was silently under-carried)
    assert(incrementalEligibility(
      "freq m\nb = a[t-1]\na = pct(rev)",
      inputColumns = Some(Set("DATE", "REV"))).isLeft)
    assert(FameStream.incrementalPlan(
      "freq m\nb = a[t-1]\na = pct(rev)",
      inputColumns = Some(Set("DATE", "REV"))).isLeft)
    // ...and the dependency-ordered spelling of the same script is
    // accepted with the CORRECT transitive reach
    assert(incrementalEligibility(
      "freq m\na = pct(rev)\nb = a[t-1]",
      inputColumns = Some(Set("DATE", "REV"))) == Right(2))
    // integer-valued series: every yearly sum/avg is order-independent
    // in fp, so the incremental state (finalized batch-wise) must be
    // BIT-identical to the whole-history aggregates
    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 42).map { i =>          // 1995-01 .. 1998-06
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(months(i).toString),
        (10 + (i + o) % 5).toDouble, (2 + (i + o) % 3).toDouble,
        (4 + (i + o) % 4).toDouble, (1 + (i + o) % 2).toDouble)
    }
    def rows(r: Range) =
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
    val batches = Seq(0 until 14, 14 until 34, 34 until 42)
    val full = graft.api.FameSession.run(script,
      rows(0 until 42).toDF("K", "DATE", "A", "PA", "B", "PB"),
      partitionKeys = Seq("K")).df
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "MOM", "X")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    def runScenario(tag: String, base: Int)
        : (Seq[(String, String, Seq[Option[Long]])], Map[Long, Long],
           String) = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString
      val scr = script.replace("1997", base.toString)
      val src = MemoryStream[(String, java.sql.Date, Double, Double,
        Double, Double)]
      val df = src.toDF().toDF("K", "DATE", "A", "PA", "B", "PB")
      val q = FameStream.runIncremental(df, scr,
        s"$dir/bronze", s"$dir/result", partitionKeys = Seq("K"),
        checkpointDir = Some(s"$dir/ckpt"))
      try batches.foreach { r =>
        src.addData(rows(r): _*); q.processAllAvailable()
      } finally q.stop()
      val res = spark.read.parquet(s"$dir/result")
      val perBatch = res.groupBy("batch").count().collect()
        .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
      (cells(res), perBatch, dir)
    }
    // ---- base = 1997 (closes only in the LAST batch): the whole
    // pre-base backlog pends until then, and its index values are
    // computed from closed-year aggregates that were finalized into
    // state one and two batches earlier ----
    val (gotLate, perBatchLate, dirLate) = runScenario("famechn", 1997)
    val wantEmitted = cells(full.where(year(col("DATE")) <= 1997))
    assert(gotLate == wantEmitted)
    assert(gotLate.size == 72)
    assert(perBatchLate == Map(2L -> 72L), perBatchLate.toString)
    // the versioned state after batch 2 holds exactly the closed years
    val st = spark.read.parquet(s"$dirLate/bronze/_state/X/v=2")
      .select("K", "__year").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(st == Set("A1", "B2").flatMap(k =>
      Set((k, 1995), (k, 1996), (k, 1997))))
    // ---- base = 1995 (closes in batch 0): steady state — each batch
    // emits exactly the years that closed in it, seeded from state ----
    val (gotEarly, perBatchEarly, _) = runScenario("famechn2", 1995)
    val fullEarly = graft.api.FameSession.run(
      script.replace("1997", "1995"),
      rows(0 until 42).toDF("K", "DATE", "A", "PA", "B", "PB"),
      partitionKeys = Seq("K")).df
    assert(gotEarly == cells(fullEarly.where(year(col("DATE")) <= 1997)))
    assert(perBatchEarly == Map(0L -> 24L, 1L -> 24L, 2L -> 24L),
      perBatchEarly.toString)
  }

  test("relaxed-fp incremental fishvol (r18): opt-in tier streams the " +
      "per-row Fisher fold under BASE-YEAR hold-back — the carried " +
      "prefix product continues the fold, the closed base average " +
      "rides in state, cells bit-equal the whole-history run (the " +
      "native ProductAgg makes the seeded fold the same multiplication " +
      "sequence)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val script =
      """freq m
        |mom = pct(a)
        |x = fishvol_rebase({a,b},{pa,pb},1996)""".stripMargin
    val cols = Some(Set("DATE", "K", "A", "PA", "B", "PB"))
    // the tail-only projection refuses (base-year hold-back needs
    // runIncremental); the default plan accepts with this FishvolSpec
    // and maxLag 1 (the Fisher link reads each source at t−1)
    assert(incrementalEligibility(script,
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(script,
      inputColumns = cols) ==
      Right(FameStream.IncrementalPlan(0, 1, Nil, bucketed = false,
        fishvols = Seq(FameStream.FishvolSpec("X", Seq("A", "B"),
          Seq("PA", "PB"), 1996)))))
    // fences: downstream reads of the sealed index, source
    // reassignment, composition with convert/chain, lead-bearing source
    assert(FameStream.incrementalPlan(script + "\nz = x * 2",
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(script + "\na = a * 2",
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      script + "\nv = convert(a, q, discrete, sum)",
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      script + "\nset y = $chain(\"a\", \"1996\")",
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      """freq m
        |c = a[t+1]
        |x = fishvol_rebase({c},{pa},1996)""".stripMargin,
      inputColumns = cols).isLeft)
    // a LAGGED source folds its reach into maxLag (1 + 1)
    assert(FameStream.incrementalPlan(
      """freq m
        |c = a[t-1]
        |x = fishvol_rebase({c},{pa},1996)""".stripMargin,
      inputColumns = cols) ==
      Right(FameStream.IncrementalPlan(0, 2, Nil, bucketed = false,
        fishvols = Seq(FameStream.FishvolSpec("X", Seq("C"),
          Seq("PA"), 1996)))))

    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 42).map { i =>          // 1995-01 .. 1998-06
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(months(i).toString),
        (10 + (i + o) % 5).toDouble, (2 + (i + o) % 3).toDouble,
        (4 + (i + o) % 4).toDouble, (1 + (i + o) % 2).toDouble)
    }
    def rows(r: Range) =
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
    val dir = java.nio.file.Files.createTempDirectory("famefv").toString
    val src = MemoryStream[(String, java.sql.Date, Double, Double,
      Double, Double)]
    val df = src.toDF().toDF("K", "DATE", "A", "PA", "B", "PB")
    val q = FameStream.runIncremental(df, script,
      s"$dir/bronze", s"$dir/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$dir/ckpt"))
    try Seq(0 until 14, 14 until 34, 34 until 42).foreach { r =>
      src.addData(rows(r): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select("K", "DATE", "MOM", "X")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val res = spark.read.parquet(s"$dir/result")
    val full = graft.api.FameSession.run(script,
      rows(0 until 42).toDF("K", "DATE", "A", "PA", "B", "PB"),
      partitionKeys = Seq("K")).df
    // unlike chain, a row's OWN year need not close: once the base year
    // closed (batch 1 — a 1997 row arrived), EVERY arrived row emits,
    // frontier included — so the emitted set is the whole history
    assert(cells(res) == cells(full))
    assert(cells(res).size == 84)
    val perBatch = res.groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(1L -> 68L, 2L -> 16L), perBatch.toString)
    // state after the last batch: one row per key, seed at the frontier
    val st = spark.read.parquet(s"$dir/bronze/_state/X/v=2")
      .select("K", "__FV_SEED_DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(st == Set(("A1", "1998-06-01"), ("B2", "1998-06-01")))
  }

  test("anchored incremental shift_pct (r19): a FIXED mask end streams " +
      "the backward reconstruction under ANCHOR hold-back — the window " +
      "flushes whole the batch the frontier passes the anchor, cells " +
      "bit-equal the whole-history run (single in-frame suffix product, " +
      "no cross-batch fold, so it lands on the BIT-EXACT default tier), " +
      "and the open-anchor form keeps its named refusal") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val script =
      """freq m
        |lvl = rev * 2
        |date 1995-03-01 to 1996-06-01
        |lvl[t] = lvl[t+1]/(1+(pct(rev[t+1])/100))""".stripMargin
    val cols = Some(Set("DATE", "K", "REV"))
    // open/default-anchor forms stay refused by name
    assert(FameStream.incrementalPlan(
      """freq m
        |lvl = rev * 2
        |lvl[t] = lvl[t+1]/(1+(pct(rev[t+1])/100))""".stripMargin,
      inputColumns = cols)
      .left.exists(_.contains("series end")))
    assert(FameStream.incrementalPlan(
      """freq m
        |lvl = rev * 2
        |date 1995-03-01 to *
        |lvl[t] = lvl[t+1]/(1+(pct(rev[t+1])/100))""".stripMargin,
      inputColumns = cols)
      .left.exists(_.contains("series end")))
    // the tail-only projection refuses (anchor hold-back needs
    // runIncremental)
    assert(incrementalEligibility(script,
      inputColumns = cols).isLeft)
    // the plan accepts — the flush is a single in-frame computation,
    // never a cross-batch fold
    assert(FameStream.incrementalPlan(script,
      inputColumns = cols) ==
      Right(FameStream.IncrementalPlan(0, 1, Nil, bucketed = false,
        shiftPcts = Seq(FameStream.ShiftPctSpec("LVL", "REV",
          Some(java.time.LocalDate.of(1995, 3, 1)),
          java.time.LocalDate.of(1996, 6, 1))))))
    // fences: downstream read of the sealed target, source
    // reassignment, composition with chain, lead-bearing source
    assert(FameStream.incrementalPlan(script + "\nz = lvl + 1",
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(script + "\nrev = rev * 2",
      inputColumns = cols).isLeft)
    assert(FameStream.incrementalPlan(
      script + "\nset y = $chain(\"rev\", \"1996\")",
      inputColumns = cols).isLeft)
    // hold-back machineries do NOT compose: an up-conversion after the
    // shift_pct is refused by name (and the reverse order via the
    // bucketed flag the convert sets) — window hold and observation
    // hold have different emission cutoffs
    assert(FameStream.incrementalPlan(
      script + "\ndate *\nu = convert(rev, w, linear, average)",
      inputColumns = cols)
      .left.exists(_.contains("alongside")))
    assert(FameStream.incrementalPlan(
      """freq m
        |u = convert(rev, w, linear, average)
        |lvl = rev * 2
        |date 1995-03-01 to 1996-06-01
        |lvl[t] = lvl[t+1]/(1+(pct(rev[t+1])/100))""".stripMargin,
      inputColumns = cols)
      .left.exists(_.contains("alongside")))
    assert(FameStream.incrementalPlan(
      """freq m
        |c = rev[t+1]
        |lvl = c * 2
        |date 1995-03-01 to 1996-06-01
        |lvl[t] = lvl[t+1]/(1+(pct(c[t+1])/100))""".stripMargin,
      inputColumns = cols).isLeft)

    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 30).map { i =>          // 1995-01 .. 1997-06
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(months(i).toString), (100 + (i + o) % 7 * 10).toDouble)
    }
    def rows(r: Range) = Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
    val dir = java.nio.file.Files.createTempDirectory("famesp").toString
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = FameStream.runIncremental(df, script,
      s"$dir/bronze", s"$dir/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$dir/ckpt"))
    // batch 0 ends INSIDE the window (frontier 1995-11 < anchor);
    // batch 1 crosses the anchor (frontier 1996-09) and flushes it
    try Seq(0 until 11, 11 until 21, 21 until 30).foreach { r =>
      src.addData(rows(r): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select("K", "DATE", "REV", "LVL")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val res = spark.read.parquet(s"$dir/result")
    val full = graft.api.FameSession.run(script,
      rows(0 until 30).toDF("K", "DATE", "REV"),
      partitionKeys = Seq("K")).df
    assert(cells(res) == cells(full))
    assert(cells(res).size == 60)
    // batch 0 emits only the pre-window rows (Jan+Feb ×2 keys); the
    // flush batch emits the whole window [Mar95, Jun96] plus its own
    // post-anchor arrivals; batch 2 is pass-through
    val perBatch = res.groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 4L, 1L -> 38L, 2L -> 18L),
      perBatch.toString)
    // no state table: the anchor hold-back carries raw rows only
    assert(!new java.io.File(s"$dir/bronze/_state").exists())
  }

  test("TWO chains in one script (r17): each carries its own versioned " +
      "state, emission gates on the LATEST base year, cells bit-equal " +
      "the whole-history run") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    val base = java.nio.file.Files.createTempDirectory("famech2").toString
    val script =
      """freq m
        |set x = $chain("a - b", "1996")
        |set y = $chain("b", "1995")""".stripMargin
    val cols = Some(Set("DATE", "K", "A", "PA", "B", "PB"))
    assert(FameStream.incrementalPlan(script,
      inputColumns = cols) == Right(FameStream.IncrementalPlan(0, 0, Nil,
        bucketed = false,
        chains = Seq(
          FameStream.ChainSpec("X", Seq((1, "A"), (-1, "B")), 1996),
          FameStream.ChainSpec("Y", Seq((1, "B")), 1995)))))
    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 42).map { i =>
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(months(i).toString),
        (10 + (i + o) % 5).toDouble, (2 + (i + o) % 3).toDouble,
        (4 + (i + o) % 4).toDouble, (1 + (i + o) % 2).toDouble)
    }
    def rows(r: Range) =
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
    val src = MemoryStream[(String, java.sql.Date, Double, Double,
      Double, Double)]
    val df = src.toDF().toDF("K", "DATE", "A", "PA", "B", "PB")
    val q = FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try Seq(0 until 14, 14 until 34, 34 until 42).foreach { r =>
      src.addData(rows(r): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "X", "Y")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    val full = graft.api.FameSession.run(script,
      rows(0 until 42).toDF("K", "DATE", "A", "PA", "B", "PB"),
      partitionKeys = Seq("K")).df
    // the LATEST base (1996) gates: 1995 rows pend until 1997-01
    // arrives even though Y's own base closed a year earlier
    assert(got == cells(full.where(year(col("DATE")) <= 1997)))
    assert(got.size == 72)
    // each chain owns a versioned state dir
    Seq("X", "Y").foreach { t =>
      val st = spark.read.parquet(s"$base/bronze/_state/$t/v=2")
        .select("K", "__year").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      assert(st == Set("A1", "B2").flatMap(k =>
        Set((k, 1995), (k, 1996), (k, 1997))), t)
    }
    // per-batch: nothing emits until 1996 closes (batch 1: work reaches
    // 1997-10), then years ≤1996 flush; batch 2 closes 1997
    val perBatch = spark.read.parquet(s"$base/result")
      .groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(1L -> 48L, 2L -> 24L), perBatch.toString)
  }

  test("anchor hold-back survives a query RESTART (r19): a shift_pct " +
      "window held across stop/start restores from the versioned carry " +
      "(keepUnemitted suffix, no state table), the post-restart batch " +
      "crosses the anchor and flushes the whole window — no double " +
      "emission, cells bit-equal the whole-history run") {
    import graft.streaming.FameStream
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("famesprst").toString
    val script =
      """freq m
        |lvl = rev * 2
        |date 1995-03-01 to 1996-06-01
        |lvl[t] = lvl[t+1]/(1+(pct(rev[t+1])/100))""".stripMargin
    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 30).map { i =>
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(months(i).toString), (100 + (i + o) % 7 * 10).toDouble)
    }
    def chunk(r: Range): Unit = {
      import spark.implicits._
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
        .toDF("K", "DATE", "REV").coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }
    chunk(0 until 11)                     // frontier 1995-11 < anchor
    val schema = spark.read.parquet(s"$base/src").schema
    def start() = FameStream.runIncremental(
      spark.readStream.schema(schema).parquet(s"$base/src"), script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // batch 0 emitted only the pre-window rows; the window [Mar-95,
    // Nov-95] rides the carry as the unemitted suffix
    assert(spark.read.parquet(s"$base/result").count() == 4)
    val carried = spark.read.parquet(s"$base/bronze/_tail/v=0")
      .where(!col("__EMITTED")).count()
    assert(carried == 18, s"held window not carried: $carried")
    // RESTART; the next batch crosses the anchor and flushes
    chunk(11 until 21)
    val q2 = start()
    try { q2.processAllAvailable(); chunk(21 until 30)
      q2.processAllAvailable() } finally q2.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "REV", "LVL")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val res = spark.read.parquet(s"$base/result")
    val full = graft.api.FameSession.run(script,
      { import spark.implicits._
        Seq("A1", "B2").flatMap(k => (0 until 30).map(i => row(k, i)))
          .toDF("K", "DATE", "REV") },
      partitionKeys = Seq("K")).df
    assert(cells(res) == cells(full))
    assert(cells(res).size == 60)
    val perBatch = res.groupBy("batch").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 4L, 1L -> 38L, 2L -> 18L),
      perBatch.toString)
  }

  test("chain state survives a query RESTART (r17): the versioned " +
      "closed-year aggregate table restores from _state/v=n-1, the " +
      "post-restart batch closes a year and emits it seeded from the " +
      "restored state — no double emission, cells bit-equal the " +
      "whole-history run") {
    import graft.streaming.FameStream
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("famecrst").toString
    val script =
      """freq m
        |mom = pct(a)
        |set x = $chain("a - b", "1995")""".stripMargin
    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 42).map { i =>
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(months(i).toString),
        (10 + (i + o) % 5).toDouble, (2 + (i + o) % 3).toDouble,
        (4 + (i + o) % 4).toDouble, (1 + (i + o) % 2).toDouble)
    }
    def chunk(r: Range): Unit = {
      import spark.implicits._
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
        .toDF("K", "DATE", "A", "PA", "B", "PB").coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }
    chunk(0 until 14)                      // 1995-01 .. 1996-02
    val schema = spark.read.parquet(s"$base/src").schema
    def start() = FameStream.runIncremental(
      spark.readStream.schema(schema).parquet(s"$base/src"), script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    val q1 = start()
    try { q1.processAllAvailable(); chunk(14 until 34)
      q1.processAllAvailable() } finally q1.stop()
    // 1995 closed+emitted in batch 0, 1996 closed+emitted in batch 1;
    // the state at v=1 holds years {1995, 1996} per key
    val st1 = spark.read.parquet(s"$base/bronze/_state/X/v=1")
      .select("K", "__year").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(st1 == Set("A1", "B2").flatMap(k =>
      Set((k, 1995), (k, 1996))))
    // ---- RESTART: fresh query, same checkpoint + state + carry ----
    val q2 = start()
    try { chunk(34 until 42); q2.processAllAvailable() } finally q2.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "MOM", "X")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    // exactly-once across the restart
    assert(got.map(c => (c._1, c._2)).distinct.size == got.size)
    import spark.implicits._
    val full = graft.api.FameSession.run(script,
      Seq("A1", "B2").flatMap(k => (0 until 42).map(i => row(k, i)))
        .toDF("K", "DATE", "A", "PA", "B", "PB"),
      partitionKeys = Seq("K")).df
    // post-restart batch closes 1997 (first 1998 row arrives): its
    // index multiplies links seeded from the RESTORED 1995+1996 state
    assert(got == cells(full.where(year(col("DATE")) <= 1997)))
    assert(got.size == 72)
    val st2 = spark.read.parquet(s"$base/bronze/_state/X/v=2")
      .select("K", "__year").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(st2 == Set("A1", "B2").flatMap(k =>
      Set((k, 1995), (k, 1996), (k, 1997))))
  }

  test("TWO fishvols in one script (r18): each carries its own state, " +
      "emission gates on BOTH base years, and a key with NO base-year " +
      "rows gets null indices without stalling emission — cells " +
      "bit-equal the whole-history run") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FameStream
    import org.apache.spark.sql.functions.col
    val script =
      """freq m
        |x = fishvol_rebase({a},{pa},1995)
        |y = fishvol_rebase({b},{pb},1996)""".stripMargin
    val cols = Some(Set("DATE", "K", "A", "PA", "B", "PB"))
    assert(FameStream.incrementalPlan(script,
      inputColumns = cols) ==
      Right(FameStream.IncrementalPlan(0, 1, Nil, bucketed = false,
        fishvols = Seq(
          FameStream.FishvolSpec("X", Seq("A"), Seq("PA"), 1995),
          FameStream.FishvolSpec("Y", Seq("B"), Seq("PB"), 1996)))))
    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 42).map { i =>
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 7
      (k, d(months(i).toString),
        (10 + (i + o) % 5).toDouble, (2 + (i + o) % 3).toDouble,
        (4 + (i + o) % 4).toDouble, (1 + (i + o) % 2).toDouble)
    }
    // C3 has NO rows before 1997 — no 1995/1996 base data at all: its
    // base averages are null, so its indices are null, but its rows
    // still emit once ITS OWN max year clears both base years
    def rows(r: Range) =
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i))) ++
        r.filter(_ >= 24).map(i => row("C3", i))
    val dir = java.nio.file.Files.createTempDirectory("famefv2").toString
    val src = MemoryStream[(String, java.sql.Date, Double, Double,
      Double, Double)]
    val df = src.toDF().toDF("K", "DATE", "A", "PA", "B", "PB")
    val q = FameStream.runIncremental(df, script,
      s"$dir/bronze", s"$dir/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$dir/ckpt"))
    try Seq(0 until 14, 14 until 34, 34 until 42).foreach { r =>
      src.addData(rows(r): _*); q.processAllAvailable()
    } finally q.stop()
    def cells(dfx: org.apache.spark.sql.DataFrame) = dfx
      .select("K", "DATE", "X", "Y")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$dir/result"))
    val full = graft.api.FameSession.run(script,
      rows(0 until 42).toDF("K", "DATE", "A", "PA", "B", "PB"),
      partitionKeys = Seq("K")).df
    assert(got == cells(full))
    assert(got.size == 84 + 18)
    // C3's indices are all null (no base-year data), values still flow
    val c3 = got.filter(_._1 == "C3")
    assert(c3.size == 18 && c3.forall(_._3 == Seq(None, None)))
    // each target carries its OWN versioned state
    assert(spark.read.parquet(s"$dir/bronze/_state/X/v=2").count() == 3)
    assert(spark.read.parquet(s"$dir/bronze/_state/Y/v=2").count() == 3)
  }

  test("fishvol relaxed-fp state survives a query RESTART (r18): the " +
      "per-key seed/base-average state restores from _state/v=n-1, the " +
      "post-restart batch continues the fold from the restored prefix " +
      "product — no double emission, cells bit-equal the whole-history " +
      "run") {
    import graft.streaming.FameStream
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("famefvrst").toString
    val script =
      """freq m
        |mom = pct(a)
        |x = fishvol_rebase({a,b},{pa,pb},1995)""".stripMargin
    def d(s: String) = java.sql.Date.valueOf(s)
    val months = (0 until 42).map { i =>
      java.time.LocalDate.of(1995, 1, 1).plusMonths(i.toLong)
    }
    def row(k: String, i: Int) = {
      val o = if (k == "A1") 0 else 3
      (k, d(months(i).toString),
        (10 + (i + o) % 5).toDouble, (2 + (i + o) % 3).toDouble,
        (4 + (i + o) % 4).toDouble, (1 + (i + o) % 2).toDouble)
    }
    def chunk(r: Range): Unit = {
      import spark.implicits._
      Seq("A1", "B2").flatMap(k => r.map(i => row(k, i)))
        .toDF("K", "DATE", "A", "PA", "B", "PB").coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }
    chunk(0 until 14)                      // 1995-01 .. 1996-02
    val schema = spark.read.parquet(s"$base/src").schema
    def start() = FameStream.runIncremental(
      spark.readStream.schema(schema).parquet(s"$base/src"), script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    val q1 = start()
    try { q1.processAllAvailable(); chunk(14 until 34)
      q1.processAllAvailable() } finally q1.stop()
    // base 1995 closed in batch 0 (a 1996 row arrived): all batch-0
    // rows emitted; state v=1 seeds at each key's newest emitted row
    val st1 = spark.read.parquet(s"$base/bronze/_state/X/v=1")
      .select("K", "__FV_SEED_DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(st1 == Set(("A1", "1997-10-01"), ("B2", "1997-10-01")))
    // ---- RESTART: fresh query, same checkpoint + state + carry ----
    val q2 = start()
    try { chunk(34 until 42); q2.processAllAvailable() } finally q2.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "MOM", "X")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 3).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    // exactly-once across the restart
    assert(got.map(c => (c._1, c._2)).distinct.size == got.size)
    import spark.implicits._
    val full = graft.api.FameSession.run(script,
      Seq("A1", "B2").flatMap(k => (0 until 42).map(i => row(k, i)))
        .toDF("K", "DATE", "A", "PA", "B", "PB"),
      partitionKeys = Seq("K")).df
    // post-restart rows fold from the RESTORED prefix product — every
    // arrived row emits (base closed long ago), bit-equal whole-history
    assert(got == cells(full))
    assert(got.size == 84)
    val st2 = spark.read.parquet(s"$base/bronze/_state/X/v=2")
      .select("K", "__FV_SEED_DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(st2 == Set(("A1", "1998-06-01"), ("B2", "1998-06-01")))
  }

  test("incremental carry survives a query RESTART (r16): pins, " +
      "hold-back pending flags and bucket cutoffs restore from the " +
      "versioned carry — no double emission, no lost synthetic anchor, " +
      "cells bit-equal the whole-history run") {
    import graft.streaming.FameStream
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("famerst").toString
    // all three r16 carry mechanics at once: a lead (hold-back 1), an
    // open-ended pinned rebase (pin = base's Jan-Feb support), and a
    // bucketed m→q downsample (hold 2, synthetic anchors on sparse B)
    val script =
      """freq m
        |mom = pct(rev)
        |nxt = rev[t+1]
        |set <date 1995-01-01 to 1995-02-01> base = rev
        |set <date 1995-05-01 to *> idx = rev / ave(base) * 100
        |rev_q = convert(rev, q, discrete, sum)""".stripMargin
    import java.time.LocalDate
    assert(FameStream.incrementalPlan(script,
      inputColumns = Some(Set("DATE", "K", "REV"))) ==
      Right(FameStream.IncrementalPlan(2, 1, Seq(
        FameStream.Pin(LocalDate.parse("1995-01-01"),
          LocalDate.parse("1995-02-01"), 0, 0)),
        bucketed = true)))
    def d(s: String) = java.sql.Date.valueOf(s)
    val revA = Map(1 -> 10.0, 2 -> 12.0, 3 -> 9.0, 4 -> 11.0, 5 -> 7.0,
      6 -> 8.0, 7 -> 13.0, 8 -> 6.0, 9 -> 15.0)
    // B misses Jan (its Q1 anchor goes synthetic; its base support is
    // Feb alone) and Apr (Q2 anchor synthetic — CLOSES AFTER THE
    // RESTART, so its cutoffs must come from the restored carry)
    val revB = revA.removedAll(Seq(1, 4)).map { case (k, v) => k -> (v + 10) }
    def chunk(lo: Int, hi: Int) = {
      import spark.implicits._
      ((lo to hi).flatMap(m => revA.get(m).map(v =>
        ("A", d(f"1995-0$m-01"), v))) ++
       (lo to hi).flatMap(m => revB.get(m).map(v =>
        ("B", d(f"1995-0$m-01"), v))))
        .toDF("K", "DATE", "REV").coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }
    chunk(1, 4)
    val schema = spark.read.parquet(s"$base/src").schema
    def start() = FameStream.runIncremental(
      spark.readStream.schema(schema).parquet(s"$base/src"), script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    val q1 = start()
    try { q1.processAllAvailable(); chunk(5, 6); q1.processAllAvailable() }
    finally q1.stop()
    // ---- RESTART: a fresh query on the same checkpoint + carry ----
    val q2 = start()
    try { chunk(7, 9); q2.processAllAvailable() } finally q2.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("K", "DATE", "MOM", "NXT", "BASE", "IDX", "REV_QTRLY")
      .orderBy("K", "DATE").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        (2 to 6).map(j => if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j))))))
      .toSeq
    val got = cells(spark.read.parquet(s"$base/result"))
    // exactly once: no (key, date) appears twice across batch dirs
    assert(got.map(c => (c._1, c._2)).distinct.size == got.size)
    import spark.implicits._
    val full = graft.api.FameSession.run(script,
      ((1 to 9).flatMap(m => revA.get(m).map(v =>
        ("A", d(f"1995-0$m-01"), v))) ++
       (1 to 9).flatMap(m => revB.get(m).map(v =>
        ("B", d(f"1995-0$m-01"), v))))
        .toDF("K", "DATE", "REV"),
      partitionKeys = Seq("K")).df
    val wantKeys =
      (1 to 7).map(m => ("A", f"1995-0$m-01")) ++
      Seq(2, 3, 5, 6, 7).map(m => ("B", f"1995-0$m-01")) ++
      Seq(("B", "1995-01-01"), ("B", "1995-04-01"))
    val want = cells(full).filter(c => wantKeys.contains((c._1, c._2)))
    assert(got == want, s"\ngot  = $got\nwant = $want")
    // B's Q2 synthetic anchor emitted in the POST-restart batch with
    // the complete bucket (May+Jun revs), pinned idx values intact
    val perBatch = spark.read.parquet(s"$base/result")
      .where(col("K") === "B" && col("DATE") === lit(d("1995-04-01")))
      .select("batch").collect().map(_.getInt(0)).toSeq
    assert(perBatch == Seq(2), perBatch.toString)
  }

  test("incremental FAME, PARTITIONED (r16): chained lags + bounded-" +
      "support whole-series over per-key carried tails are batch-" +
      "equivalent across 3 batches, incl. a key appearing mid-stream") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famekeyed").toString
    // covers both keyed widenings at once: transitive lags (b needs
    // rev[t-2] through a, PER KEY) and the r16 whole-series acceptance
    // (z rebases Apr..Jun against each key's own Feb..Mar mean)
    val script =
      """freq m
        |a = pct(rev)
        |b = pct(a)
        |set <date 1995-02-01 to 1995-03-01> m1 = rev
        |set <date 1995-04-01 to 1995-06-01> z = rev / ave(m1)""".stripMargin
    assert(incrementalEligibility(script,
      inputColumns = Some(Set("DATE", "K", "REV")))
      == Right(4))
    def d(s: String) = java.sql.Date.valueOf(s)
    // FR and DE run Jan..Jun; IT first APPEARS in batch 1 (no tail rows,
    // no support rows → its z must be null in both runs)
    val batches = Seq(
      Seq(("FR", "1995-01-01", 4.0), ("DE", "1995-01-01", 9.0),
        ("FR", "1995-02-01", 5.0), ("DE", "1995-02-01", 8.0),
        ("FR", "1995-03-01", 7.0), ("DE", "1995-03-01", 6.0)),
      Seq(("FR", "1995-04-01", 6.0), ("DE", "1995-04-01", 5.0),
        ("IT", "1995-04-01", 3.0), ("IT", "1995-05-01", 4.0)),
      Seq(("FR", "1995-05-01", 3.0), ("DE", "1995-05-01", 7.0),
        ("FR", "1995-06-01", 8.0), ("DE", "1995-06-01", 2.0),
        ("IT", "1995-06-01", 5.0)))
      .map(_.map { case (k, dt, v) => (k, d(dt), v) })
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result",
      partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b =>
      src.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def bits(r: org.apache.spark.sql.Row, j: Int) =
      if (r.isNullAt(j)) None
      else Some(java.lang.Double.doubleToLongBits(r.getDouble(j)))
    def key(r: org.apache.spark.sql.Row) = (r.getString(0),
      r.getDate(1).toString, bits(r, 2), bits(r, 3), bits(r, 4))
    val got = spark.read.parquet(s"$base/result")
      .select("K", "DATE", "A", "B", "Z").orderBy("K", "DATE")
      .collect().map(key).toSeq
    val batchRun = graft.api.FameSession.run(script,
        batches.flatten.toDF("K", "DATE", "REV"),
        partitionKeys = Seq("K")).df
      .select("K", "DATE", "A", "B", "Z").orderBy("K", "DATE")
      .collect().map(key).toSeq
    assert(got == batchRun)
    val byKey = got.map(r => (r._1, r._2) -> r).toMap
    // boundary-crossing lag cells are real PER-KEY values: April's b
    // needs that key's February rev via the carried tail
    assert(byKey(("FR", "1995-04-01"))._4.isDefined)
    assert(byKey(("DE", "1995-04-01"))._4.isDefined)
    // the whole-series rebase resolved per key from the tail: May's z
    // (emitted two batches after the support closed) = rev / mean(Feb,
    // Mar) of ITS key — different denominators, not one frame literal
    assert(byKey(("FR", "1995-05-01"))._5 ==
      Some(java.lang.Double.doubleToLongBits(3.0 / 6.0)))
    assert(byKey(("DE", "1995-05-01"))._5 ==
      Some(java.lang.Double.doubleToLongBits(7.0 / 7.0)))
    // the mid-stream key: no support rows → z null, but its OWN lag
    // chain works (June's b needs IT's April rev via the tail)
    assert(byKey(("IT", "1995-05-01"))._5.isEmpty)
    assert(byKey(("IT", "1995-06-01"))._4.isDefined)
  }

  test("incremental FAME, PARTITIONED: a masked fixed-date-lookup " +
      "script rebases each key against ITS OWN level through the real " +
      "streaming harness (r16 per-key lookup columns)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famekeylook").toString
    val script =
      """freq m
        |set <date 1995-04-01 to 1995-05-01> a = rev / rev["1995-01-01"]
        |b = diff(a)""".stripMargin
    assert(incrementalEligibility(script) == Right(5))
    def d(s: String) = java.sql.Date.valueOf(s)
    val batches = Seq(
      Seq(("FR", "1995-01-01", 4.0), ("DE", "1995-01-01", 10.0),
        ("FR", "1995-02-01", 5.0), ("DE", "1995-02-01", 8.0),
        ("FR", "1995-03-01", 7.0), ("DE", "1995-03-01", 6.0)),
      Seq(("FR", "1995-04-01", 6.0), ("DE", "1995-04-01", 5.0),
        ("FR", "1995-05-01", 3.0), ("DE", "1995-05-01", 7.0)),
      Seq(("FR", "1995-06-01", 8.0), ("DE", "1995-06-01", 2.0)))
      .map(_.map { case (k, dt, v) => (k, d(dt), v) })
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df, script,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try batches.foreach { b =>
      src.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    def bits(r: org.apache.spark.sql.Row, j: Int) =
      if (r.isNullAt(j)) None
      else Some(java.lang.Double.doubleToLongBits(r.getDouble(j)))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDate(1).toString, bits(r, 2), bits(r, 3))
    val got = spark.read.parquet(s"$base/result")
      .select("K", "DATE", "A", "B").orderBy("K", "DATE")
      .collect().map(key).toSeq
    val batchRun = graft.api.FameSession.run(script,
        batches.flatten.toDF("K", "DATE", "REV"),
        partitionKeys = Seq("K")).df
      .select("K", "DATE", "A", "B").orderBy("K", "DATE")
      .collect().map(key).toSeq
    assert(got == batchRun)
    // the rebase denominators differ per key: FR/Jan = 4, DE/Jan = 10 —
    // carried through the tail TWO batches after January arrived
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(m(("FR", "1995-04-01")) ==
      Some(java.lang.Double.doubleToLongBits(6.0 / 4.0)))
    assert(m(("DE", "1995-04-01")) ==
      Some(java.lang.Double.doubleToLongBits(5.0 / 10.0)))
  }

  test("incremental FAME, PARTITIONED: the late-row contract is PER KEY " +
      "— a row behind another key's watermark passes, behind its own fails") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("famekeyedlate").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val df = src.toDF().toDF("K", "DATE", "REV")
    val q = graft.streaming.FameStream.runIncremental(df,
      "freq m\na = pct(rev)", s"$base/bronze", s"$base/result",
      partitionKeys = Seq("K"),
      checkpointDir = Some(s"$base/ckpt"))
    try {
      // FR advances to Feb; DE only to Jan-01
      src.addData(("FR", d("1995-01-01"), 4.0), ("FR", d("1995-02-01"), 5.0),
        ("DE", d("1995-01-01"), 9.0))
      q.processAllAvailable()
      // DE at Jan-15 is BEHIND FR's watermark but ahead of its own —
      // a global max-date check would wrongly kill this batch
      src.addData(("DE", d("1995-01-15"), 8.0))
      q.processAllAvailable()
      // FR at Jan-20 is behind FR's own Feb watermark — must fail
      src.addData(("FR", d("1995-01-20"), 1.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(
        _.isInstanceOf[graft.streaming.FameStream.OutOfOrderIngestException]),
        s"expected OutOfOrderIngestException in cause chain, got $ex")
    } finally q.stop()
    // batches 0 and 1 emitted; the offending batch emitted nothing
    assert(spark.read.parquet(s"$base/result").count() == 4)
    // the late check runs before any write of the batch: no bronze either
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$base/bronze/batch=1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/bronze/batch=2")))
  }

  /** The q218 shape — keyed `pct` plus a monthly→quarterly down-convert —
    * streamed from a MemoryStream with one add per micro-batch: 3 batches
    * of 4 months for 2 keys. Returns the stopped query and the rows added.
    */
  private def bucketedStream(base: String)
      : (org.apache.spark.sql.streaming.StreamingQuery, Int) = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[(String, java.sql.Date, Double)]
    val q = graft.streaming.FameStream.runIncremental(
      src.toDF().toDF("NATION", "DATE", "REV"),
      """freq m
        |growth = pct(rev)
        |rev_q = convert(rev, q, discrete, sum)""".stripMargin,
      s"$base/bronze", s"$base/result", partitionKeys = Seq("NATION"),
      checkpointDir = Some(s"$base/ckpt"))
    val batches = (0 until 3).map(b =>
      for (k <- Seq("FR", "DE"); m <- 1 to 4)
        yield (k, d(f"1995-${4 * b + m}%02d-01"), (10 * b + m + k.head).toDouble))
    try batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    (q, batches.map(_.size).sum)
  }

  /** Deliver every posted listener event before reading what listeners
    * saw (the bus is asynchronous; its drain is Spark-internal, so it is
    * reached by reflection).
    */
  private def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  // SQL executions one bucketed micro-batch may run: the work leaf, the
  // late check, the bronze, emit and carry writes, the carry leaf's
  // localCheckpoint, and foreachBatch's own. An eager action added to the
  // batch has to raise this visibly.
  private val bucketedBatchExecBudget = 7

  test("incremental FAME per-batch budget: a micro-batch reads its source " +
      "once and runs at most the budgeted SQL executions; every write runs " +
      "under its own query's job group, named") {
    import scala.jdk.CollectionConverters._
    // a query before the measured one, so the measured query's writes run
    // on pool threads another query created
    bucketedStream(tmpDir("famebudget0").toString)
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet(): Unit
          case _ =>
        }
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          jobs.add(String.valueOf(p.getProperty("spark.job.description")) ->
            String.valueOf(p.getProperty("spark.jobGroup.id"))): Unit
        }
    }
    drainListeners()
    spark.sparkContext.addSparkListener(listener)
    val (q, rowsAdded) =
      try bucketedStream(tmpDir("famebudget").toString)
      finally { drainListeners(); spark.sparkContext.removeSparkListener(listener) }
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3)
    assert(batches.map(_.numInputRows).sum == rowsAdded,
      "every action over the micro-batch re-reads its source")
    assert(execs.get <= batches.length * bucketedBatchExecBudget,
      s"${execs.get} SQL executions over ${batches.length} batches")
    val writes = jobs.asScala.toSeq.filter(_._1.startsWith("FameStream batch "))
    assert(writes.map(_._1.split(": ").last).toSet ==
      Set("bronze", "emit", "carry"), writes.toString)
    assert(writes.forall(_._2 == q.runId.toString), writes.toString)
  }

  test("incremental FAME bucketed emit plans the FAME subplan once: one " +
      "FullOuter convert-bridge join per down-convert statement") {
    val joins = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    // Window nodes in the plan of each batch's carry leaf: the carry
    // reuses the work leaf's ranks, so it needs no window of its own
    val carryWindows = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        // the carry leaf is the checkpoint that keeps the emitted flag
        // but not the work leaf's hold flag
        val names = qe.analyzed.output.map(_.name).toSet
        if (funcName == "localCheckpoint" && names("__EMITTED") &&
            !names("__HOLD"))
          carryWindows.add(qe.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
          }.size): Unit
        qe.analyzed.collectFirst {
          case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
              if c.outputPath.toString.contains("/result/batch=") => ()
        }.foreach { _ =>
          joins.add(aqe.collect(qe.executedPlan) {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec
                if j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter => j
          }.size): Unit
        }
      }
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    drainListeners()
    spark.listenerManager.register(listener)
    try bucketedStream(tmpDir("famejoins").toString)
    finally { drainListeners(); spark.listenerManager.unregister(listener) }
    import scala.jdk.CollectionConverters._
    assert(joins.asScala.toSeq == Seq(1, 1, 1))
    assert(carryWindows.asScala.toSeq == Seq(0, 0, 0))
  }
}
