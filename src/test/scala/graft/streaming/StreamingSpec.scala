package graft.streaming

import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}
import graft.pipeline.FlowPipeline
import graft.sinks.MemorySink
import graft.sources.MemoryFlowSource

/** End-to-end streaming tests: MemoryStream → decode/project → sinks,
  * watermark windows, streaming dedup, stateful sessions (SURVEY §5 item 3).
  */
class StreamingSpec extends SparkSpec {

  private def flowJson(startMs: Long, src: String, dst: String, bytes: Long): String =
    s"""{"TimeFlowStartMs":$startMs,"TimeFlowEndMs":${startMs + 500},"SrcAddr":"$src","DstAddr":"$dst","Bytes":$bytes,"Packets":1}"""

  test("memory source -> pipeline -> memory sink delivers projected rows") {
    val src = new MemoryFlowSource(spark)
    src.add(flowJson(1000, "10.0.0.1", "10.0.0.2", 100), "garbage{{{", flowJson(2000, "10.0.0.3", "10.0.0.4", 200))
    val q = MemorySink("flows_e2e").start(
      FlowPipeline.batch(src.stream(spark)),
      java.nio.file.Files.createTempDirectory("ckpt").toString)
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM flows_e2e ORDER BY start").collect()
      assert(rows.length == 2) // malformed dropped
      assert(rows.map(_.getLong(10)).toSeq == Seq(100L, 200L))
    } finally q.stop()
  }

  test("windowed traffic agg with watermark emits per-window totals") {
    val src = new MemoryFlowSource(spark)
    // two flows in minute 0, one in minute 1 (epoch ms)
    src.add(flowJson(10000, "a", "b", 10), flowJson(20000, "a", "b", 20), flowJson(70000, "a", "b", 40))
    val agg = StreamOps.trafficPerWindow(FlowPipeline.batch(src.stream(spark)))
    val q = agg.writeStream.format("memory").queryName("traffic")
      .outputMode("update")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val rows = spark.sql("SELECT window.start, bytes, flows FROM traffic ORDER BY 1").collect()
      assert(rows.length == 2)
      assert(rows.map(_.getLong(1)).toSeq == Seq(30L, 40L))
      assert(rows.map(_.getLong(2)).toSeq == Seq(2L, 1L))
    } finally q.stop()
  }

  test("sliding windows overlap: one event lands in window_/slide windows") {
    val src = new MemoryFlowSource(spark)
    src.add(flowJson(90000, "a", "b", 10)) // t=90s -> windows [0,120) and [60,180)
    val agg = StreamOps.trafficSliding(FlowPipeline.batch(src.stream(spark)))
    val q = agg.writeStream.format("memory").queryName("sliding")
      .outputMode("update")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val rows = spark.sql("SELECT window.start, bytes FROM sliding ORDER BY 1").collect()
      assert(rows.length == 2) // the 2-minute window slides by 1 minute
      assert(rows.map(_.getTimestamp(0).toInstant.getEpochSecond).toSeq == Seq(0L, 60L))
      assert(rows.forall(_.getLong(1) == 10L))
    } finally q.stop()
  }

  test("watermark drops late data: an event behind the watermark never lands") {
    val src = new MemoryFlowSource(spark)
    val agg = StreamOps.trafficPerWindow(FlowPipeline.batch(src.stream(spark)),
      window_ = "1 minute", watermark = "1 minute")
    val q = agg.writeStream.format("memory").queryName("late_drop")
      .outputMode("append") // append emits only finalized (watermark-passed) windows
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      // minute-0 event, then an event far ahead that advances the watermark
      // beyond minute 0's window
      src.add(flowJson(10000, "a", "b", 10))
      q.processAllAvailable()
      src.add(flowJson(600000, "a", "b", 99))
      q.processAllAvailable()
      // this minute-0 event is now behind the watermark -> dropped
      src.add(flowJson(20000, "a", "b", 77))
      q.processAllAvailable()
      val w0 = spark.sql(
        "SELECT bytes FROM late_drop WHERE window.start = timestamp_millis(0)").collect()
      assert(w0.length == 1 && w0.head.getLong(0) == 10L) // 77-byte straggler excluded
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops the duplicate redelivery") {
    val src = new MemoryFlowSource(spark)
    val dup = flowJson(10000, "a", "b", 10)
    src.add(dup, dup, flowJson(11000, "c", "d", 20))
    val dedup = StreamOps.dedupWithinWatermark(FlowPipeline.batch(src.stream(spark)))
    val q = dedup.writeStream.format("memory").queryName("dedup_stream")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      assert(spark.sql("SELECT * FROM dedup_stream").count() == 2)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-connection sessions") {
    val src = new MemoryFlowSource(spark)
    src.add(flowJson(1000, "a", "b", 10), flowJson(3000, "a", "b", 30), flowJson(1000, "x", "y", 5))
    val sessions = StreamOps.connectionSessions(FlowPipeline.batch(src.stream(spark)))
    val q = sessions.toDF().writeStream.format("memory").queryName("sessions")
      .outputMode("update")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val ab = spark.sql("SELECT bytes, flows FROM sessions WHERE src_ip='a'").collect().head
      assert(ab.getLong(0) == 40L && ab.getLong(1) == 2L)
    } finally q.stop()
  }

  test("app path surfaces the malformed-drop counter per micro-batch (A3 observability)") {
    val src = new MemoryFlowSource(spark)
    src.add(flowJson(1000, "a", "b", 1), "not json at all", "{bad", flowJson(2000, "c", "d", 2))
    val q = MemorySink("flows_observed").start(
      FlowPipeline.batchObserved(src.stream(spark)),
      java.nio.file.Files.createTempDirectory("ckpt").toString)
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM flows_observed").count() == 2)
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get(FlowPipeline.decodeMetricsName)))
      assert(metrics.map(_.getAs[Long]("malformed")).sum == 2L)
      assert(metrics.map(_.getAs[Long]("total")).sum == 4L)
    } finally q.stop()
  }

  test("JdbcSink drops a failing batch and the stream continues (A7 warn-and-drop parity)") {
    // Reference: insert error -> warn + drop row, keep consuming
    // (export_clickhouse.go:85-87). Here: whole failing micro-batch logged +
    // skipped; the query itself must survive.
    val src = new MemoryFlowSource(spark)
    src.add(flowJson(1000, "a", "b", 1))
    val q = graft.sinks.JdbcSink("jdbc:nosuchdb://nowhere/flows").start(
      FlowPipeline.batch(src.stream(spark)),
      java.nio.file.Files.createTempDirectory("ckpt").toString)
    try {
      q.processAllAvailable()
      src.add(flowJson(2000, "c", "d", 2))
      q.processAllAvailable()
      assert(q.isActive) // two failed batches, stream still alive
    } finally q.stop()
  }

  test("streaming q15 over a parquet file stream equals the batch q15 result") {
    import org.apache.spark.sql.functions._
    // the file-stream source needs a directory; stage the NORMALIZED table
    // (Tables.events handles the generator's ts shapes — the stream then
    // reads plain instant-typed timestamps, same contract as the batch query)
    val path = java.nio.file.Files.createTempDirectory("events-stream").toString
    Tables.events(spark, sf0001).write.mode("overwrite").parquet(path)
    val schema = spark.read.parquet(path).schema
    val stream = spark.readStream.schema(schema).parquet(path)
    val agg = stream
      .groupBy(date_trunc("HOUR", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 6).as("sv"))
    val q = agg.writeStream.format("memory").queryName("q15_stream")
      .outputMode("complete")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.sql("SELECT * FROM q15_stream ORDER BY w, event_type").collect().toSeq
      val batch = graft.queries.CoreQueries.q15(spark, sf0001).collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming rolling-anomaly equals batch q64 when one batch replays the table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val src = MemoryStream[StreamOps.AnomIn](spark)
    val rows = Tables.events(spark, sf0001)
      .select($"event_type", $"event_id", $"ts", $"value")
      .as[StreamOps.AnomIn].collect().toSeq
    src.addData(rows)
    val q = StreamOps.anomalyStream(src.toDF())
      .writeStream.format("memory").queryName("anom_stream")
      .outputMode("append")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_type, event_id, value, roll_avg, roll_sd FROM anom_stream " +
          "ORDER BY event_type, event_id").collect().toSeq
      val batch = graft.queries.CoreQueries.q64(spark, sf0001).collect().toSeq
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming expectations monitor equals the batch rule evaluation on replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // per-type value-range rules, one deliberately tight so violations flow
    val rules = Seq((1, "click", 0.0, 1.0e9), (2, "view", 0.0, 5.0))
      .toDF("rule_id", "event_type", "lo", "hi")
    val src = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    src.addData(Tables.events(spark, sf0001)
      .select($"ts", $"event_type", $"value")
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq)
    val q = StreamOps.expectationsStream(
        src.toDF().toDF("ts", "event_type", "value"), rules)
      .writeStream.format("memory").queryName("exp_stream")
      .outputMode("complete")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT * FROM exp_stream ORDER BY w, rule_id").collect().toSeq
      val batch = Tables.events(spark, sf0001)
        .join(broadcast(rules), Seq("event_type"))
        .groupBy(window($"ts", "6 hours"), $"rule_id", $"event_type", $"lo", $"hi")
        .agg(count(lit(1)).as("n_rows"),
          count(when($"value".isNull, 1)).as("nulls"),
          count(when($"value" < $"lo" || $"value" > $"hi", 1)).as("violations"))
        .select($"window.start".as("w"), $"rule_id", $"event_type",
          $"n_rows", $"nulls", $"violations")
        .orderBy("w", "rule_id").collect().toSeq
      assert(batch.nonEmpty)
      assert(streamed == batch)
      // the tight rule really fires somewhere in the replay
      assert(streamed.exists(r => r.getInt(1) == 2 && r.getLong(5) > 0))
    } finally q.stop()
  }

  test("streaming heavy-hitter sketch windows equal exact batch counts on replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    case class Ev(ts: java.sql.Timestamp, event_type: String)
    val src = MemoryStream[(java.sql.Timestamp, String)](spark)
    val rows = Tables.events(spark, sf0001)
      .select($"ts", $"event_type").as[(java.sql.Timestamp, String)].collect().toSeq
    src.addData(rows)
    val q = StreamOps.heavyHittersStream(
        src.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT w, event_type, c FROM hh_stream ORDER BY w, event_type").collect().toSeq
      val batch = Tables.events(spark, sf0001)
        .groupBy(org.apache.spark.sql.functions.window($"ts", "6 hours"), $"event_type")
        .count()
        .select($"window.start".as("w"), $"event_type", $"count".as("c"))
        .orderBy("w", "event_type").collect().toSeq
      assert(batch.nonEmpty)
      assert(streamed == batch) // exact regime: 5 types <= 64 counters
    } finally q.stop()
  }

  test("streaming HLL distinct-user windows equal the batch sketch on replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val src = MemoryStream[(java.sql.Timestamp, Long)](spark)
    val rows = Tables.events(spark, sf0001)
      .select($"ts", $"user_id").as[(java.sql.Timestamp, Long)].collect().toSeq
    src.addData(rows)
    val q = StreamOps.distinctUsersStream(src.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("du_stream")
      .outputMode("complete")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT w, approx_users FROM du_stream ORDER BY w")
        .collect().toSeq
      import org.apache.spark.sql.functions._
      val batch = Tables.events(spark, sf0001)
        .groupBy(window($"ts", "6 hours"))
        .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("approx_users"))
        .select($"window.start".as("w"), $"approx_users")
        .orderBy("w").collect().toSeq
      assert(batch.nonEmpty)
      assert(streamed == batch) // same multiset -> identical sketch -> identical estimate
      // sanity: estimates track the exact distincts within HLL's envelope
      val exact = Tables.events(spark, sf0001)
        .groupBy(window($"ts", "6 hours"))
        .agg(countDistinct($"user_id").cast("double").as("n"))
        .select($"window.start".as("w"), $"n").orderBy("w").collect()
        .map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
      streamed.foreach { r =>
        val (w, est) = (r.getTimestamp(0), r.getLong(1).toDouble)
        val n = exact(w)
        assert(math.abs(est - n) <= math.max(4.0, 0.1 * n), s"window $w: est=$est exact=$n")
      }
    } finally q.stop()
  }

  test("streaming WAU coverage equals batch q73 when one batch replays the table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val src = MemoryStream[StreamOps.WauIn](spark)
    val rows = Tables.events(spark, sf0001)
      .select($"user_id", $"ts").as[StreamOps.WauIn].collect().toSeq
    src.addData(rows)
    val q = StreamOps.wauCoverageStream(src.toDF())
      .writeStream.format("memory").queryName("wau_stream")
      .outputMode("append")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // each (user, day) emitted at most once -> WAU is a plain count
      val streamed = spark.sql(
        "SELECT day, count(*) AS wau FROM wau_stream GROUP BY day ORDER BY day")
        .collect().toSeq
      val batch = graft.queries.CoreQueries.q73(spark, sf0001).collect().toSeq
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming sessions equal batch q51's CLOSED sessions on a replayed log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val src = MemoryStream[StreamOps.SessIn](spark)
    val rows = Tables.events(spark, sf0001)
      .select($"user_id", $"ts").as[StreamOps.SessIn].collect().toSeq
    src.addData(rows)
    val q = StreamOps.sessionsStream(src.toDF())
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, session, events, start_ts, end_ts FROM sess_stream " +
          "ORDER BY user_id, session").collect().toSeq
      // the stream emits a session when a LATER event proves the gap, so a
      // single-batch replay yields exactly q51 minus each user's final
      // (still-open) session — the production flush is an event-time timeout
      // the UNCAPPED construction (declared q51 truncates to 500 rows)
      val batch = graft.queries.CoreQueries.sessionize(spark, sf0001)
      val closed = batch.join(
          batch.groupBy("user_id").agg(
            org.apache.spark.sql.functions.max("session").as("session")),
          Seq("user_id", "session"), "left_anti")
        .orderBy("user_id", "session").collect().toSeq
      assert(closed.nonEmpty, "fixture must contain multi-session users")
      assert(streamed == closed)
      // state really is one open session per user: every user's emitted
      // session indexes are a gap-free prefix 1..k
      val byUser = streamed.groupBy(_.getLong(0))
      byUser.foreach { case (u, ss) =>
        assert(ss.map(_.getLong(1)).sorted == (1L to ss.length).toSeq, s"user $u")
      }
    } finally q.stop()
  }

  test("streaming window percentiles equal the batch sketch on replay (exact regime)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val src = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val rows = Tables.events(spark, sf0001)
      .select($"ts", $"value").as[(java.sql.Timestamp, Double)].collect().toSeq
    src.addData(rows)
    val q = StreamOps.valuePercentilesStream(
        src.toDF().toDF("ts", "value"))
      .writeStream.format("memory").queryName("pct_stream")
      .outputMode("complete")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM pct_stream ORDER BY w").collect().toSeq
      val batch = StreamOps.valuePercentilesStream(
          Tables.events(spark, sf0001).select($"ts", $"value"))
        .orderBy("w").collect().toSeq
      assert(batch.nonEmpty && streamed == batch)
      // within the exact regime the sketch returns true order statistics:
      // p50 must sit between the window's min and max and below p99
      streamed.foreach { r =>
        assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3))
      }
    } finally q.stop()
  }

  test("streaming TWAP's last emission per type equals batch q92 on a replayed log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, max, struct}
    import spark.implicits._
    val src = MemoryStream[StreamOps.TwapIn](spark)
    val rows = Tables.events(spark, sf0001)
      .select($"event_type", $"event_id", $"ts", $"value")
      .as[StreamOps.TwapIn].collect().toSeq
    src.addData(rows)
    val q = StreamOps.twapStream(src.toDF())
      .writeStream.format("memory").queryName("twap_stream")
      .outputMode("append")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // the cursor's final emission per type carries the full-stream
      // (n, total_us, twap) — exactly batch q92's row for that type
      val streamed = spark.table("twap_stream")
        .groupBy("event_type")
        .agg(max(struct(col("n"), col("total_us"), col("twap"))).as("f"))
        .select(col("event_type"), col("f.n"), col("f.total_us"), col("f.twap"))
        .orderBy("event_type")
        .collect().toSeq
      val batch = graft.queries.CoreQueries.q92(spark, sf0001)
        .select("event_type", "n", "total_us", "twap")
        .collect().toSeq
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins a dim without join state") {
    import spark.implicits._
    val src = new MemoryFlowSource(spark)
    src.add(
      flowJson(1000, "10.0.0.1", "10.0.0.9", 10),
      flowJson(2000, "10.0.0.2", "10.0.0.9", 20), // unknown ip -> null zone
      flowJson(3000, "10.0.0.3", "10.0.0.9", 30))
    val dim = Seq(("10.0.0.1", "dmz"), ("10.0.0.3", "prod")).toDF("ip", "zone")
    val enriched = StreamOps.enrichWithStatic(
      FlowPipeline.batch(src.stream(spark)), dim)
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT src_ip, zone FROM enriched ORDER BY src_ip")
        .collect().map(r => r.getString(0) -> Option(r.getString(1)))
      assert(rows.toSeq == Seq(
        "10.0.0.1" -> Some("dmz"), "10.0.0.2" -> None, "10.0.0.3" -> Some("prod")))
      // the whole point: a broadcast join plans NO streaming join state
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join pairs a flow with its reverse leg inside the bound") {
    val src = new MemoryFlowSource(spark)
    src.add(
      flowJson(10000, "10.0.0.1", "10.0.0.2", 100), // forward
      flowJson(20000, "10.0.0.2", "10.0.0.1", 50),  // reverse, 10s later -> joins
      flowJson(900000, "10.0.0.2", "10.0.0.1", 7))  // reverse but outside 60s bound
    val joined = StreamOps.reverseFlowJoin(FlowPipeline.batch(src.stream(spark)))
    val q = joined.writeStream.format("memory").queryName("revjoin")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val rows = spark.sql("SELECT f_src, r_src, f_bytes, r_bytes FROM revjoin").collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0) == "10.0.0.1" && rows.head.getString(1) == "10.0.0.2")
      assert(rows.head.getLong(2) == 100L && rows.head.getLong(3) == 50L)
    } finally q.stop()
  }

  test("left-outer interval join emits unanswered flows once the watermark proves no reply can come") {
    val src = new MemoryFlowSource(spark)
    src.add(
      flowJson(10000, "10.0.0.1", "10.0.0.2", 100), // answered at +10s
      flowJson(20000, "10.0.0.2", "10.0.0.1", 50),
      flowJson(30000, "10.0.0.5", "10.0.0.6", 77))  // never answered
    val joined = StreamOps.reverseFlowJoin(
      FlowPipeline.batch(src.stream(spark)), 60000L, "10 minutes", "left_outer")
    val q = joined.writeStream.format("memory").queryName("revjoin_outer")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // nothing unmatched may emit yet: the watermark hasn't passed the
      // interval bound, so a reply could still arrive
      val early = spark.sql(
        "SELECT * FROM revjoin_outer WHERE r_src IS NULL").collect()
      assert(early.isEmpty, s"outer rows emitted before the watermark allows: ${early.toSeq}")
      // push the watermark far past every pending bound
      src.add(flowJson(2000000, "10.9.9.9", "10.9.9.8", 1))
      q.processAllAvailable()
      val matched = spark.sql(
        "SELECT f_src, f_bytes FROM revjoin_outer WHERE r_src IS NOT NULL").collect()
      assert(matched.map(_.getString(0)).toSeq == Seq("10.0.0.1"))
      val unmatched = spark.sql(
        "SELECT f_src FROM revjoin_outer WHERE r_src IS NULL").collect()
        .map(_.getString(0)).toSet
      assert(unmatched.contains("10.0.0.5"), s"unanswered flow missing from $unmatched")
      assert(!unmatched.contains("10.0.0.1"), "the answered flow must not also emit unmatched")
    } finally q.stop()
  }

  test("streaming index maintenance: per-batch appends equal a full restage, pruning intact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import spark.implicits._

    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planes = 8
    Similarity.stageLshBucketed(emb.filter(col("vec_id") < 400),
      "graft_stream_lsh", planes, buckets = 16)

    val late = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val src = MemoryStream[(Long, Seq[Float])](spark)
    val q = StreamOps.maintainLshIndex(
      src.toDF().toDF("vec_id", "embedding"),
      "graft_stream_lsh",
      java.nio.file.Files.createTempDirectory("ckpt").toString,
      planes)
    try {
      val (b1, b2) = late.splitAt(late.length / 2)
      src.addData(b1.toIndexedSeq); q.processAllAvailable()
      src.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    Similarity.stageLshBucketed(emb, "graft_stream_lsh_full", planes, buckets = 16)
    val qr = Similarity.withLshCode(emb.filter(col("vec_id") === 0), "embedding", planes)
      .select(col("embedding"), col("lsh_code")).head()
    def probe(t: String) = Similarity.probeStagedLsh(spark, t,
      qr.getSeq[Float](0).toArray, qr.getLong(1), planes, k = 10)
    assert(probe("graft_stream_lsh").collect().toSeq ==
      probe("graft_stream_lsh_full").collect().toSeq)
    val plan = probe("graft_stream_lsh").queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt, plan)
  }

  test("streaming lexical-index maintenance: per-batch appends equal a full restage") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.operators.TextIndex
    import spark.implicits._

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    TextIndex.stageIndex(docs.filter(col("doc_id") < 400),
      "graft_stream_lex", buckets = 8)

    val late = docs.filter(col("doc_id") >= 400).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)](spark)
    val q = StreamOps.maintainLexicalIndex(
      src.toDF().toDF("doc_id", "text"),
      "graft_stream_lex",
      java.nio.file.Files.createTempDirectory("ckpt").toString,
      buckets = 8)
    try {
      val (b1, b2) = late.splitAt(late.length / 2)
      src.addData(b1.toIndexedSeq); q.processAllAvailable()
      src.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    TextIndex.stageIndex(docs, "graft_stream_lex_full", buckets = 8)
    val terms = Seq("join", "scan", "merge")
    def probe(t: String) = TextIndex.probeIndex(spark, t, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe("graft_stream_lex") == probe("graft_stream_lex_full"),
      "streamed appends must serve the same BM25 ranking as a full restage")
    // the ledger accumulated one row per batch (stage + 2 micro-batches)
    assert(spark.table("graft_stream_lex_stats").count() === 3)
    // pruning survives streaming maintenance
    val plan = TextIndex.probeIndex(spark, "graft_stream_lex", terms, k = 10)
      .queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt, plan)
  }

  test("streaming near-dup drop: reordered/repeated word sets collide within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    input.addData(
      (1L, new java.sql.Timestamp(1000), "the quick brown fox"),
      (2L, new java.sql.Timestamp(2000), "fox brown quick the the"), // same word set
      (3L, new java.sql.Timestamp(3000), "a different document"))
    val out = StreamOps.nearDupDropWithinWatermark(
      input.toDF().toDF("doc_id", "ts", "text"))
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM neardup_stream ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(kept == Seq(1L, 3L)) // doc 2 = near-dup of doc 1, dropped
    } finally q.stop()
  }

  test("streaming near-dup keep-set equals the batch fingerprint dedup on a replayed corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Replay the real sf0.001 documents as ONE ordered batch (single
    // MemoryStream block = single input partition, so first-arrival per
    // fingerprint = min doc_id), then pin the streaming keep-set to the
    // batch formulation the oracle suite hash-checks (text_fingerprint:
    // min doc_id per fingerprint group).
    val rows = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), new java.sql.Timestamp(1000L + r.getLong(0)), r.getString(1)))
      .sortBy(_._1).toSeq
    val input = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    input.addData(rows)
    val out = StreamOps.nearDupDropWithinWatermark(input.toDF().toDF("doc_id", "ts", "text"))
    val q = out.writeStream.format("memory").queryName("neardup_diff")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamKept = spark.sql("SELECT doc_id FROM neardup_diff")
        .collect().map(_.getLong(0)).toSet
      val batchKept = Tables.documents(spark, sf0001)
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp").agg(min("doc_id").as("keeper"))
        .collect().map(_.getLong(1)).toSet
      assert(streamKept.nonEmpty && streamKept == batchKept)
    } finally q.stop()
  }

  test("streaming quality gate keeps exactly the batch Gopher keep-set; the plan is stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)](spark)
    input.addData(rows)
    val gated = StreamOps.qualityGate(input.toDF().toDF("doc_id", "text"))
    val q = gated.writeStream.format("memory").queryName("quality_gate")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamKept = spark.sql("SELECT doc_id FROM quality_gate")
        .collect().map(_.getLong(0)).toSet
      val batchKept = StreamOps.qualityGate(Tables.documents(spark, sf0001))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamKept.nonEmpty && streamKept == batchKept)
      // keep counts agree with the declared text_gopher rollup
      val gopherKept = graft.queries.TextQueries.gopher(spark, sf0001)
        .agg(sum("kept")).head().getLong(0)
      assert(streamKept.size.toLong == gopherKept)
      // stateless: no state-store operator in the streaming plan
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("event sessions via session_window on the events table (batch-on-stream shape)") {
    // session_window works identically on batch frames; validate gap logic there.
    val out = StreamOps.eventSessions(Tables.events(spark, sf0001))
    assert(out.count() > 0)
  }

  test("driver-gate stream queries: genuinely multi-batch replay, zero diffs, non-vacuous surface") {
    // the r11 verdict item 6 contract: each gate query replays the events
    // table in MULTIPLE micro-batches (state must survive the batch cuts a
    // single-batch replay never exercises) and certifies stream ≡ batch
    // with a diffs column the driver hash-compares against 0
    val sess = graft.queries.StreamGateQueries.sessions(spark, sf0001).head()
    assert(sess.getLong(2) == 0L, s"sessions diverged: $sess")
    assert(sess.getLong(1) > 0L, "no closed sessions — vacuous gate")
    val anom = graft.queries.StreamGateQueries.anomaly(spark, sf0001).head()
    assert(anom.getLong(1) == 0L, s"anomaly twin diverged: $anom")
    assert(anom.getLong(0) > 0L, "no anomalies — vacuous gate")
    // the staged replay is really several ts-range files in mtime order
    val dir = new java.io.File(graft.queries.StreamGateQueries.replayPath(spark, sf0001))
    assert(dir.isDirectory, "replay stage missing")
    val parts = dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == graft.queries.StreamGateQueries.replayBatches, parts.toSeq.toString)
    assert(parts.map(_.lastModified).toSeq == parts.map(_.lastModified).sorted.toSeq)
  }

  test("r12 gate rows: index maintenance, dedup, sketches, and the stateless gate replay to zero diffs") {
    import graft.queries.StreamGateQueries
    // each row's diffs column is the in-engine stream ≡ batch certificate;
    // the surface columns must be non-vacuous so a zero-row replay can't
    // fake a pass
    val ded = StreamGateQueries.dedup(spark, sf0001).head()
    assert(ded.getLong(1) == 0L, s"dedup diverged: $ded")
    assert(ded.getLong(0) > 0L, "no dedup keys — vacuous gate")
    val dis = StreamGateQueries.distinctSketch(spark, sf0001).head()
    assert(dis.getLong(2) == 0L, s"distinct sketch diverged: $dis")
    assert(dis.getLong(0) > 0L && dis.getLong(1) > 0L, s"vacuous: $dis")
    val pct = StreamGateQueries.percentiles(spark, sf0001).head()
    assert(pct.getLong(1) == 0L, s"percentile sketch diverged: $pct")
    assert(pct.getLong(0) > 0L, "no windows — vacuous gate")
    val qual = StreamGateQueries.quality(spark, sf0001).head()
    assert(qual.getLong(2) == 0L, s"quality gate diverged: $qual")
    val ann = StreamGateQueries.indexAnn(spark, sf0001).head()
    assert(ann.getLong(1) == 0L, s"ANN index maintenance diverged: $ann")
    assert(ann.getLong(0) > 0L, "no vectors — vacuous gate")
    val lex = StreamGateQueries.indexLex(spark, sf0001).head()
    assert(lex.getLong(1) == 0L, s"lexical index maintenance diverged: $lex")
    assert(lex.getLong(0) > 0L, "no docs — vacuous gate")
    val jn = StreamGateQueries.join(spark, sf0001).head()
    assert(jn.getLong(1) == 0L, s"stream-stream join diverged: $jn")
    assert(jn.getLong(0) > 0L, "no click→view pairs — vacuous gate")
    val ivf = StreamGateQueries.indexIvf(spark, sf0001).head()
    assert(ivf.getLong(1) == 0L, s"IVF index maintenance diverged: $ivf")
    assert(ivf.getLong(0) > 0L, "no vectors — vacuous gate")
  }
}
