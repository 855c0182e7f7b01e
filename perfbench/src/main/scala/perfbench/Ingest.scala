package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.pipeline.FlowPipeline
import graft.sinks.JdbcSink
import graft.sources.FileFlowSource

/** The two ingest workloads: a seeded backlog drained with AvailableNow into
  * parquet, and an open loop of small files into JdbcSink on in-memory Derby.
  */
final class Ingest(h: Harness) {
  import h.{spark, spans}

  private def fresh(name: String): File = {
    val d = new File(h.work, name)
    Util.rmrf(d); d.mkdirs(); d
  }

  /** The chain every ingest workload runs: decode with the named drop
    * counter, then project.
    */
  private def pipeline(src: String, maxFiles: Int): DataFrame = spans("pipeline.construct") {
    FlowPipeline.project(FlowPipeline.decodeNamed(FileFlowSource(src, maxFiles).stream(spark)))
  }

  /** decode total/malformed summed over a query's micro-batches. */
  private def decodeCounts(ps: Seq[StreamingQueryProgress]): (Long, Long) = {
    val ms = ps.flatMap(p => Option(p.observedMetrics.get(FlowPipeline.decodeMetricsName)))
    (ms.map(_.getAs[Long]("total")).sum, ms.map(_.getAs[Long]("malformed")).sum)
  }

  private def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Child spans for each micro-batch and its `durationMs` phases. */
  private def batchSpans(ps: Seq[StreamingQueryProgress]): Unit = if (spans.enabled) {
    val parent = spans.currentIndex
    val offNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    ps.foreach { p =>
      val t0 = Instant.parse(p.timestamp).toEpochMilli * 1000000L + offNs
      val b = spans.add("streaming.batch", parent, t0, t0 + (phase(p, "triggerExecution") * 1e6).toLong)
      var t = t0
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
        val d = (phase(p, k) * 1e6).toLong
        spans.add(s"streaming.$k", b, t, t + d)
        t += d
      }
    }
  }

  /** The sources, micro-batch engine and JdbcSink layers, from the paced
    * stream's data batches (their intended workload, even when probed).
    */
  private def streamingLayer(ps: Seq[StreamingQueryProgress], batches: Double): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def p50(k: String) = Util.quantile(data.map(phase(_, k)), 0.5)
    h.layer("sources.latest_offset_ms_p50", p50("latestOffset"), "ms")
    h.layer("sources.get_batch_ms_p50", p50("getBatch"), "ms")
    h.layer("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
    h.layer("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms")
    h.layer("streaming.wal_commit_ms_p50", p50("walCommit"), "ms")
    h.layer("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
    h.layer("streaming.batches", batches, "count")
    h.layer("streaming.rows_per_batch_p50", Util.quantile(data.map(_.numInputRows.toDouble), 0.5), "count")
    h.layer("sinks.add_batch_ms_p50", p50("addBatch"), "ms")
    h.layer("sinks.add_batch_ms_p90", Util.quantile(data.map(phase(_, "addBatch")), 0.9), "ms")
  }

  // ---------------------------------------------------------------- backlog

  /** Write the seeded backlog; returns the input dir and its expectation. */
  def writeBacklog(files: Int, linesPerFile: Int): (File, Flows.Expect) = spans("generate") {
    val in = fresh("backlog-in")
    val rng = new SplittableRandom(h.seed)
    val exp = (0 until files).map { i =>
      Flows.writeFile(new File(in, f"flows-$i%05d.json"), rng.split(), linesPerFile, malformedRate = 0.01)
    }.foldLeft(Flows.empty)(_ + _)
    val dropped = if (h.fault == "drop_file") { new File(in, "flows-00000.json").delete(); 1 } else 0
    h.note(s"backlog: $files files x $linesPerFile lines, ${exp.malformed} malformed, $dropped dropped")
    (in, h.faulty(exp))
  }

  /** Drain the backlog once through the pipeline into `format`; returns the
    * drain's seconds and progress list.
    */
  private def drain(in: File, format: String, tag: String): (Double, Seq[StreamingQueryProgress], File) = {
    val out = fresh(s"backlog-out-$tag")
    val ckpt = fresh(s"backlog-ckpt-$tag")
    val t0 = System.nanoTime()
    val q = spans(s"drain.$format") {
      val q = pipeline(in.getPath, maxFiles = Sizes.backlogMaxFiles).writeStream.format(format)
        .option("path", out.getPath).option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    val s = (System.nanoTime() - t0) / 1e9
    val ps = q.recentProgress.toSeq
    spans("drain.batches")(batchSpans(ps))
    (s, ps, out)
  }

  /** Check one parquet drain against the generator; true when it holds. */
  private def checkDrain(ps: Seq[StreamingQueryProgress], out: File, exp: Flows.Expect, full: Boolean): Boolean = {
    val (total, malformed) = decodeCounts(ps)
    var ok = h.check(total == exp.lines, s"decode total $total != generated ${exp.lines}") &&
      h.check(malformed == exp.malformed, s"decode malformed $malformed != generated ${exp.malformed}")
    if (full) {
      val (rows, digest) = spans("check.digest")(Flows.sinkDigest(spark.read.parquet(out.getPath)))
      ok = h.check(rows == exp.valid, s"sink rows $rows != expected ${exp.valid}") &&
        h.check(digest == exp.digest, f"sink digest $digest%x != expected ${exp.digest}%x") && ok
      h.layer("sinks.rows_written", rows, "count")
      h.layer("sinks.rows_lost", exp.valid - rows, "count")
    }
    ok
  }

  def backlog(): Unit = {
    val (in, exp) = if (h.probing) writeBacklog(2, 5000) else writeBacklog(Sizes.backlogFiles, Sizes.backlogLines)
    // The first drain of a JVM runs slow and the second is still warming:
    // both are excluded from the sample. The first takes one file only,
    // since most of its extra cost is one-off initialisation.
    val one = fresh("backlog-warm")
    Files.copy(new File(in, "flows-00001.json").toPath, new File(one, "flows-00001.json").toPath)
    val (w1, _, _) = spans("warmup")(drain(one, "parquet", "w1"))
    val (w2, ps2, out2) = spans("warmup")(drain(in, "parquet", "w2"))
    h.attempt(checkDrain(ps2, out2, exp, full = true))
    h.note(s"warm-up drains: ${Util.fmt(w1)}, ${Util.fmt(w2)} s")
    h.startTimed()
    val drains = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[StreamingQueryProgress])]
    val before = h.execSnapshot()
    var last: File = null
    while (drains.size < 3 || !h.timeUp) {
      val (s, ps, out) = drain(in, "parquet", "t")
      drains += ((s, ps))
      last = out
      h.attempt(checkDrain(ps, out, exp, full = false))
    }
    val perDrain = ExecCounters.delta(before, h.execSnapshot()).map { case (k, v) => k -> v / drains.size }
    h.attempt(checkDrain(drains.last._2, last, exp, full = true))
    val secs = drains.map(_._1)
    // time until the first micro-batch of the backlog is visible, and until
    // all of it is (the drain)
    val firstCommit = drains.map { case (_, ps) => phase(ps.head, "triggerExecution") }
    h.metric("latency_ms", Util.quantile(firstCommit, 0.5), "ms")
    h.metric("tail_latency_ms", Util.quantile(secs, 0.5) * 1000, "ms")
    h.metric("throughput_per_s", exp.lines / Util.quantile(secs, 0.5), "1/s")
    h.note(s"timed drains: ${secs.map(Util.fmt).mkString(", ")} s")
    if (h.trace) {
      perDrain.foreach { case (k, v) => h.layer(k, v, Harness.unitOf(k)) }
      val (total, malformed) = decodeCounts(drains.last._2)
      h.layer("pipeline.decode_total", total, "count")
      h.layer("pipeline.decode_malformed", malformed, "count")
      // the same backlog into a noop writer: decode alone
      val noop = (1 to 3).map { i =>
        val b0 = h.execSnapshot()
        val (s, _, _) = spans("pipeline.noop_drain")(drain(in, "noop", s"n$i"))
        (s, ExecCounters.delta(b0, h.execSnapshot()))
      }
      val decodeS = Util.quantile(noop.map(_._1), 0.5)
      h.layer("pipeline.decode_s", decodeS, "s")
      h.layer("pipeline.executor_cpu_ms", Util.quantile(noop.map(_._2("exec.executor_cpu_ms")), 0.5), "ms")
      h.layer("pipeline.executor_run_ms", Util.quantile(noop.map(_._2("exec.executor_run_ms")), 0.5), "ms")
      h.layer("sinks.parquet_write_s", Util.quantile(secs, 0.5) - decodeS, "s")
      // single-thread baseline: the batch form of the chain over one partition
      val one = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        spans("pipeline.one_core") {
          FlowPipeline.batch(spark.read.text(in.getPath).coalesce(1)).write.format("noop").mode("overwrite").save()
        }
        exp.lines / ((System.nanoTime() - t0) / 1e9)
      }
      h.layer("pipeline.rows_per_s_1core", one.max, "1/s")
    }
  }

  // ----------------------------------------------------------------- paced

  /** Derby row count of the sink table. */
  private def derbyCount(url: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val r = c.createStatement().executeQuery("SELECT COUNT(*) FROM flows")
      r.next(); r.getLong(1)
    } finally c.close()
  }

  /** file name -> batch id, from the source log's delta and `.compact`
    * files (the log compacts every 10 batches, so deltas alone lose files).
    */
  private def fileBatches(ckpt: File): Map[String, Long] = {
    val dir = new File(ckpt, "sources/0")
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Option(dir.listFiles).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith(".")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.collect {
        case Entry(p, b) => new File(new java.net.URI(p).getPath).getName -> b.toLong
      }
    }.toMap
  }

  def paced(): Unit = {
    val leadIn = if (h.probing) 1.0 else Sizes.pacedLeadInS
    val n = ((leadIn + h.window) * 1000 / Sizes.pacedIntervalMs).toInt
    val stage = fresh("paced-stage")
    val in = fresh("paced-in")
    val ckpt = fresh("paced-ckpt")
    val rng = new SplittableRandom(h.seed)
    val exps = spans("generate") {
      (0 until n).map(i => Flows.writeFile(new File(stage, f"f-$i%06d.json"), rng.split(), Sizes.pacedLines, 0.01))
    }
    // After the schedule: bursts of files renamed all at once, whose drain
    // rate is the sink path's capacity (the schedule itself pins the paced
    // stream's rate to the arrival rate).
    val burstNames = (0 until (if (h.probing) 1 else Sizes.burstCount)).map(k => (0 until Sizes.burstFiles).map(j => f"b-$k%02d-$j%04d.json"))
    val burstExps = spans("generate") {
      burstNames.flatten.map(nm => Flows.writeFile(new File(stage, nm), rng.split(), Sizes.pacedLines, 0.01))
    }
    val url = "jdbc:derby:memory:perfbench;create=true"
    val sink = JdbcSink(url, "flows", Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "numPartitions" -> h.cpus.toString))
    // keep every batch's progress: the file→batch map needs all of them
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val df = pipeline(in.getPath, maxFiles = 1000)
    val e0 = h.execSnapshot()
    val s0 = System.nanoTime()
    val q: StreamingQuery = spans("sink.start")(sink.start(df, ckpt.getPath))
    h.layer("sinks.setup_ms", (System.nanoTime() - s0) / 1e6, "ms")
    val startedMs = System.currentTimeMillis()
    // Single renamer thread: file i is due at t0 + i * interval.
    val due = new Array[Long](n)
    val late = new Array[Long](n)
    val dropAt = if (h.fault == "drop_file") n / 2 else -1
    val t0 = System.currentTimeMillis() + 500
    val renamer = new Thread(() => {
      var i = 0
      while (i < n) {
        due(i) = t0 + i * Sizes.pacedIntervalMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = f"f-$i%06d.json"
        if (i != dropAt) Files.move(new File(stage, name).toPath, new File(in, name).toPath, StandardCopyOption.ATOMIC_MOVE)
        late(i) = System.currentTimeMillis() - due(i)
        i += 1
      }
    }, "perfbench-paced-generator")
    renamer.setDaemon(true)
    renamer.start()
    h.startTimedAt(t0 + (leadIn * 1000).toLong, setupEnd = false)
    spans("paced.stream")(renamer.join())
    // the lag when the schedule ends: arrived files no batch has taken yet
    val backlogEnd = in.list.length - fileBatches(ckpt).size
    spans("paced.drain_tail")(q.processAllAvailable())
    burstNames.foreach { names =>
      spans("paced.burst") {
        names.foreach(nm => Files.move(new File(stage, nm).toPath, new File(in, nm).toPath, StandardCopyOption.ATOMIC_MOVE))
        q.processAllAvailable()
      }
    }
    q.stop()
    val ps = q.recentProgress.toSeq
    spans("paced.batches")(batchSpans(ps))
    // commit time per batch: trigger start + the batch's whole duration
    val commit = ps.map(p => p.batchId -> (Instant.parse(p.timestamp).toEpochMilli + phase(p, "triggerExecution").toLong)).toMap
    val fb = fileBatches(ckpt)
    // Set-up ends when the sink has started and its first data batch is
    // committed; the wait before the first file is due is not counted.
    val firstCommit = ps.filter(_.numInputRows > 0).map(p => commit(p.batchId)).reduceOption(_ min _).getOrElse(t0)
    h.setupEndAt(startedMs + (firstCommit - t0))
    val firstTimed = (leadIn * 1000 / Sizes.pacedIntervalMs).toInt
    def freshness(files: Range) = files.flatMap { i =>
      fb.get(f"f-$i%06d.json").flatMap(commit.get).map(c => (c - due(i)).toDouble)
    }
    val timedFresh = freshness(firstTimed until n)
    // the window's halves, for the notes: drift over the stream's age shows there
    val mid = (firstTimed + n) / 2
    val halves = Seq(freshness(firstTimed until mid), freshness(mid until n))
    val names = (0 until n).map(i => f"f-$i%06d.json") ++ burstNames.flatten
    val mapped = names.count(nm => fb.get(nm).exists(commit.contains))
    h.attempt(h.check(mapped == names.size, s"${names.size - mapped} of ${names.size} files map to no committed batch"))
    val exp = h.faulty((exps ++ burstExps).foldLeft(Flows.empty)(_ + _))
    val rows = derbyCount(url)
    h.layer("sinks.rows_written", rows, "count")
    h.layer("sinks.rows_lost", exp.valid - rows, "count")
    h.attempt(h.check(rows == exp.valid, s"derby rows $rows != expected ${exp.valid}"))
    val (total, malformed) = decodeCounts(ps)
    h.attempt(h.check(total == exp.lines && malformed == exp.malformed,
      s"decode $total/$malformed != generated ${exp.lines}/${exp.malformed}"))
    h.metric("latency_ms", Util.quantile(timedFresh, 0.5), "ms")
    h.metric("tail_latency_ms", Util.quantile(timedFresh, 0.9), "ms")
    // Sink-path capacity: input rows per second of micro-batch work over the
    // batches that took each burst, median over the bursts.
    val byBatch = ps.map(p => p.batchId -> p).toMap
    val burstRates = burstNames.map { names =>
      val bs = names.flatMap(fb.get).distinct.flatMap(byBatch.get)
      (bs.map(_.numInputRows).sum / (bs.map(phase(_, "triggerExecution")).sum / 1000), bs.size)
    }
    h.metric("throughput_per_s", Util.quantile(burstRates.map(_._1), 0.5), "1/s")
    h.layer("generator.late_ms_max", late.max.toDouble, "ms")
    def pq(f: Seq[Double]) = s"${Util.fmt(Util.quantile(f, 0.5))}/${Util.fmt(Util.quantile(f, 0.9))} (${f.size})"
    h.note(s"paced: $n files, ${ps.count(_.numInputRows > 0)} data batches, freshness p50/p90 ${pq(timedFresh)}, " +
      s"per half: ${halves.map(pq).mkString(", ")}; bursts rows/s (batches): " +
      burstRates.map { case (r, b) => s"${Util.fmt(r)} ($b)" }.mkString(", "))
    if (h.trace) {
      val dataBatches = ps.count(_.numInputRows > 0)
      ExecCounters.delta(e0, h.execSnapshot()).foreach { case (k, v) => h.layer(k, v / dataBatches, Harness.unitOf(k)) }
      // the scheduled batches only: the bursts' larger batches would skew the percentiles
      val burstBatches = burstNames.flatten.flatMap(fb.get).toSet
      val scheduled = ps.filterNot(p => burstBatches.contains(p.batchId))
      streamingLayer(scheduled, scheduled.count(_.numInputRows > 0))
      h.layer("sources.backlog_files_end", backlogEnd, "count")
    }
  }
}
