package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.Row

import graft.SparkEntry

/** The two query workloads: a closed loop with one client, each pass running
  * a mix of declared queries in a seed-permuted order, each one materialised
  * through the `noop` writer as the program's own bench does.
  */
final class Queries(h: Harness) {
  import h.{spark, spans}

  /** name -> (rows, hash) recorded on the generated tables. */
  private def expected(): Map[String, (Long, String)] = {
    val f = new File(h.benchDir, "expected_queries.tsv")
    if (!f.exists) Map.empty
    else Files.readAllLines(f.toPath).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash)
    }.toMap
  }

  private def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  /** A double at the 6-decimal precision every declared float column is
    * rounded to, as an integer count of millionths where that fits.
    */
  private def num(d: Double): String =
    if (math.abs(d) < 1e12) math.round(d * 1e6).toString else java.lang.Double.toString(d)

  /** Row count and order-insensitive hash of a query's result. */
  private def resultHash(rows: Array[Row]): (Long, String) = {
    val h = rows.foldLeft(0L)((acc, r) => acc + Flows.rowDigest(r.toSeq.map(canon).mkString("|")))
    (rows.length.toLong, f"$h%016x")
  }

  def run(mix: Seq[String]): Unit = {
    val exp = expected()
    val qs = SparkEntry.queries
    val record = new java.lang.StringBuilder
    // Check pass (also the first warm-up): collect each result and compare
    // its row count and hash with the recorded values.
    val c0 = System.nanoTime()
    spans("check_pass") {
      mix.foreach { n =>
        val ok = try {
          val rows = spans(s"check.$n")(qs(n)(spark, h.data).collect())
          val (cnt, hash0) = resultHash(rows)
          val hash = if (h.fault == "wrong_hash" && n == mix.head) "0" * 16 else hash0
          record.append(s"$n\t$cnt\t$hash0\n")
          if (h.recording) qs(n)(spark, h.data).write.mode("overwrite").parquet(new File(h.work, s"results/$n").getPath)
          exp.get(n) match {
            case Some((r, x)) => h.check(r == cnt && x == hash, s"$n: rows/hash $cnt/$hash != recorded $r/$x")
            case None => h.check(h.recording, s"$n: no recorded rows/hash")
          }
        } catch { case e: Exception => h.check(false, s"$n failed: $e") }
        h.attempt(ok)
      }
    }
    h.note(s"check pass: ${Util.fmt((System.nanoTime() - c0) / 1e9)} s")
    if (h.recording) {
      Files.writeString(new File(h.work, "expected_queries.tsv").toPath, record.toString)
      // the DuckDB oracle SQL of each query, for a one-off cross-check of the results
      val oracles = SparkEntry.oracleSqlFor(h.data).filter { case (n, _) => mix.contains(n) }
      Files.writeString(new File(h.work, "results/oracle_sql.json").toPath,
        oracles.map { case (n, q) => s"${Json.str(n)}:${Json.str(q)}" }.mkString("{", ",\n", "}"))
    }
    val rnd = new scala.util.Random(h.seed)
    // traced runs: per query, construct, plan, execute wall and executor run
    // ms, then jobs and tasks, of each execution
    val split = mix.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]).toMap
    var planMs = 0.0
    def once(n: String): (Double, Double) = {
      val b0 = h.execSnapshot()
      val t0 = System.nanoTime()
      val df = spans(s"construct.$n")(qs(n)(spark, h.data))
      val t1 = System.nanoTime()
      spans(s"execute.$n")(df.write.mode("overwrite").format("noop").save())
      val t2 = System.nanoTime()
      if (h.trace) {
        val d = ExecCounters.delta(b0, h.execSnapshot())
        val plan = h.plans.take().sum
        planMs += plan
        split(n) += Seq((t1 - t0) / 1e6, plan, (t2 - t1) / 1e6, d("exec.executor_run_ms"), d("exec.jobs"), d("exec.tasks"))
      }
      ((t2 - t0) / 1e6, (t1 - t0) / 1e6)
    }
    h.startTimed()
    val lat = mix.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val constructMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perPass = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    if (h.trace) { h.execSnapshot(); h.plans.take() }
    while (passS.size < Sizes.minPasses || !h.timeUp) {
      val order = rnd.shuffle(mix)
      val b0 = h.execSnapshot()
      val f0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val p0 = System.nanoTime()
      spans(s"pass") {
        order.foreach { n =>
          h.guard(n)(once(n)) match {
            case Some((ms, c)) => lat(n) += ms; constructMs += c; h.attempt(true)
            case None => h.attempt(false)
          }
        }
      }
      passS += (System.nanoTime() - p0) / 1e9
      if (h.trace) {
        val d = ExecCounters.delta(b0, h.execSnapshot())
        val s = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
        perPass += d ++ Map("tables.files_discovered" -> (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - f0).toDouble,
          "cache.storage_mb" -> s)
      }
    }
    val meds = mix.map(n => Util.quantile(lat(n).toSeq, 0.5))
    h.metric("latency_ms", math.exp(meds.map(math.log).sum / meds.size), "ms")
    h.metric("tail_latency_ms", Util.quantile(meds, 0.9), "ms")
    h.metric("throughput_per_s", mix.map(lat(_).size).sum / passS.sum, "1/s")
    def geomean(ns: Seq[String]) = {
      val ms = mix.zip(meds).collect { case (n, m) if ns.contains(n) => math.log(m) }
      Util.fmt(math.exp(ms.sum / ms.size))
    }
    h.note(s"pass_s=${Util.fmt(Util.quantile(passS.toSeq, 0.5))} light_geomean_ms=${geomean(Main.lightMix)} " +
      s"heavy_geomean_ms=${geomean(Main.heavyMix)}")
    h.note(s"passes: ${passS.map(Util.fmt).mkString(", ")} s; medians: " +
      mix.zip(meds).map { case (n, m) => s"$n=${Util.fmt(m)}" }.mkString(" "))
    if (h.trace) {
      val execMs = mix.flatMap(lat).sum - constructMs.sum - planMs
      val nOps = passS.size * mix.size
      h.layer("queries.construct_ms", constructMs.sum / nOps, "ms")
      h.layer("queries.plan_ms", planMs / nOps, "ms")
      h.layer("queries.exec_ms", execMs / nOps, "ms")
      // counters of one pass (the last), which repeat exactly on same-code runs
      perPass.last.foreach { case (k, v) => h.layer(k, v, Harness.unitOf(k)) }
      h.note("split per query, median (construct/plan/execute wall/executor run ms): " + mix.map { n =>
        n + "=" + (0 until 4).map(i => Util.fmt(Util.quantile(split(n).map(_(i)), 0.5))).mkString("/")
      }.mkString(" "))
      h.note("jobs/tasks per query and pass: " + mix.map { n =>
        n + "=" + split(n).map(x => s"${x(4).toLong}/${x(5).toLong}").mkString(",")
      }.mkString(" "))
    }
  }
}
