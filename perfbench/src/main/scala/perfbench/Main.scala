package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
}

object Util {
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def fmt(d: Double): String = f"$d%.3f"
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}

/** Run state shared by the workloads: configuration, the session, checks,
  * the timed window and the metrics that end up in the result file.
  */
final class Harness(args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args("trace") == "1"
  val work: File = new File(args("work"))
  val data: String = args.getOrElse("data", "")
  val benchDir: File = new File(args("bench"))
  val fault: String = args.getOrElse("fault", "")
  val recording: Boolean = args.getOrElse("record", "0") == "1"
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  /** Set while a traced run measures, on small inputs, the layers its own
    * workload does not reach: no end-to-end metric is recorded then, and a
    * layer metric the workload itself measured is kept.
    */
  var probing = false
  def window: Double = if (probing) 2.0 else seconds

  val spans = new Spans(trace)
  var spark: SparkSession = _
  var exec: ExecCounters = _
  var plans: PlanTimes = _

  var attempted = 0L
  var failed = 0L
  var correct = true
  val problems = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var timedStartMs = 0L
  /** End of set-up: the first timed operation, unless a workload says otherwise. */
  var setupEndMs = 0L

  def check(ok: Boolean, msg: => String): Boolean = {
    if (!ok) { correct = false; problems += msg; System.err.println(s"[perfbench] CHECK FAILED: $msg") }
    ok
  }
  def attempt(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def attempt(r: Option[_]): Unit = attempt(r.isDefined)
  def guard[T](name: String)(body: => T): Option[T] =
    try Some(body) catch { case e: Exception => check(false, s"$name failed: $e"); None }
  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }
  def metric(k: String, v: Double, unit: String): Unit = if (!probing) metrics(k) = (v, unit)
  def layer(k: String, v: Double, unit: String): Unit =
    if (!probing || !layers.contains(k)) layers(k) = (v, unit)
  /** Executor counters so far; empty when not tracing (no listener then). */
  def execSnapshot(): Map[String, Double] =
    if (!trace) Map.empty else { ExecCounters.drain(spark.sparkContext); exec.snapshot }

  def startTimed(): Unit = startTimedAt(System.currentTimeMillis())
  def startTimedAt(ms: Long, setupEnd: Boolean = true): Unit = { timedStartMs = ms; if (setupEnd) setupEndAt(ms) }
  def setupEndAt(ms: Long): Unit = if (setupEndMs == 0 && !probing) setupEndMs = ms
  def timeUp: Boolean = System.currentTimeMillis() - timedStartMs >= window * 1000

  /** The generator's expectation, deliberately corrupted when a self-test
    * asks for a miscounted malformed record.
    */
  def faulty(e: Flows.Expect): Flows.Expect =
    if (fault == "miscount_malformed") e.copy(malformed = e.malformed + 1) else e
}

/** Input sizes. See NOTES.md for why each was chosen: together they keep one
  * run of every workload within the benchmark's time budget on 4 vCPUs.
  */
object Sizes {
  val backlogFiles = 8
  val backlogLines = 20000
  /** Files per micro-batch of a drain: two batches per drain. */
  val backlogMaxFiles = 4
  val pacedLines = 100
  val pacedIntervalMs = 50
  /** The paced stream's batch times are still falling after 30 batches. */
  val pacedLeadInS = 20.0
  /** Bursts after the paced schedule, each of `burstFiles` paced-size files. */
  val burstCount = 10
  val burstFiles = 60
  /** Timed passes at least, after the cold check pass. */
  val minPasses = 2
}

object Harness {
  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else if (k.endsWith("_mb")) "MB" else "count"
}

/** Entry point: `perfbench.Main key=value ...`; writes `<work>/result.json`. */
object Main {
  val lightMix: Seq[String] = Seq("q01_project", "q02_trunc_cast", "q03_intdiv_ts", "q04_filter",
    "q06_distinct", "q07_join_broadcast", "q09_left_join", "q10_anti_join", "q12_window_rank",
    "q15_time_bucket", "q16_dedup_distinct", "q24_json_extract", "q40_sql_surface")
  val heavyMix: Seq[String] = Seq("graph_pagerank", "q75_basket", "dedup_simhash_pairs",
    "sim_rp_topk", "text_bm25")
  /** Light queries a traced ingest run uses to measure the query layers. */
  val probeMix: Seq[String] = Seq("q01_project", "q07_join_broadcast", "q12_window_rank")

  def main(argv: Array[String]): Unit = {
    val args = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val h = new Harness(args)
    h.work.mkdirs()
    val gc0 = gcTotals
    val s0 = System.nanoTime()
    h.spark = h.spans("session.start")(GraftSession.local(defaultCpus = h.cpus))
    h.layer("session.start_ms", (System.nanoTime() - s0) / 1e6, "ms")
    h.note(s"jvm start to session: ${System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime} ms")
    if (h.trace) {
      val (ec, pt) = h.spans("trace.install")(Trace.install(h.spark))
      h.exec = ec
      h.plans = pt
    }
    val ok = h.guard(h.workload) {
      h.workload match {
        case "ingest_backlog" => new Ingest(h).backlog()
        case "ingest_paced" => new Ingest(h).paced()
        case "query_mix" => new Queries(h).run(lightMix ++ heavyMix)
      }
    }
    h.attempt(ok)
    if (h.trace) {
      h.probing = true
      if (!h.layers.contains("pipeline.decode_s")) h.attempt(h.guard("probe.backlog")(h.spans("probe.backlog")(new Ingest(h).backlog())))
      if (!h.layers.contains("sinks.setup_ms")) h.attempt(h.guard("probe.paced")(h.spans("probe.paced")(new Ingest(h).paced())))
      if (!h.layers.contains("queries.construct_ms") && h.data.nonEmpty)
        h.attempt(h.guard("probe.queries")(h.spans("probe.queries")(new Queries(h).run(probeMix))))
      h.probing = false
    }
    val gc1 = gcTotals
    val cacheMb = h.spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    if (h.trace) {
      ExecCounters.drain(h.spark.sparkContext)
      if (!h.layers.contains("cache.storage_mb")) h.layer("cache.storage_mb", cacheMb, "MB")
      h.layer("jvm.gc_ms", (gc1._2 - gc0._2).toDouble, "ms")
      h.layer("jvm.gc_count", (gc1._1 - gc0._1).toDouble, "count")
      val wallNs = (System.nanoTime() - s0).toDouble
      h.layer("trace.overhead_pct", 100.0 * (h.spans.costNs + h.exec.costNs) / wallNs, "%")
      Files.writeString(new File(h.work, "trace.json").toPath, h.spans.toJson)
      val table = h.spans.selfTable
      val out = new StringBuilder("span                                      count     total_ms      self_ms\n")
      table.foreach { case (n, c, t, s) => out.append(f"$n%-40s $c%6d $t%12.1f $s%12.1f\n") }
      Files.writeString(new File(h.work, "trace_self.txt").toPath, out.toString)
    }
    h.spark.stop()
    val rt = ManagementFactory.getRuntimeMXBean
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    val json =
      s"""{"correct":${h.correct},"attempted":${h.attempted},"failed":${h.failed},""" +
        s""""metrics":${obj(h.metrics)},"layers":${obj(h.layers)},""" +
        s""""jvm_start_ms":${rt.getStartTime},"setup_end_ms":${h.setupEndMs},""" +
        s""""gc_ms":${gc1._2 - gc0._2},"gc_count":${gc1._1 - gc0._1},"generator_late_ms_max":${Json.num(h.layers.get("generator.late_ms_max").fold(0.0)(_._1))},""" +
        s""""java_version":${Json.str(System.getProperty("java.version"))},""" +
        s""""jvm_flags":${rt.getInputArguments.asScala.map(Json.str).mkString("[", ",", "]")},""" +
        s""""problems":${h.problems.map(Json.str).mkString("[", ",", "]")},""" +
        s""""notes":${h.notes.map(Json.str).mkString("[", ",", "]")}}"""
    Files.writeString(new File(h.work, "result.json").toPath, json + "\n")
  }

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }
}
