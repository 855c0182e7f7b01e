package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bucketing, Similarity}
import graft.queries.SimilarityQueries

/** Dev tool for the r16 serving-under-maintenance reading (verdict item 7):
  * the stream gates prove append/delete/compact CONVERGE, but no reading
  * existed for probe latency DURING maintenance — the
  * serving-while-compacting number a vector store publishes.
  *
  * Flow: stage a quarter of `SPARK_GRAFT_SF_DIR`'s embeddings as a staged
  * IVF index, append the other three quarters as ingest batches (file decay
  * — the degraded state compaction exists to fix), then run
  * [[graft.operators.Bucketing.compactDelta]] on a background thread while
  * the foreground loops the bucket-pruned probe, recording each probe's
  * wall, retry count, and row-identity vs the pre-maintenance answer.
  *
  * What the first runs of this harness FOUND (the rehearsal's job) is the
  * COMPLETE failure-mode inventory of swapping files under a
  * non-transactional (plain parquet-directory) table:
  *
  *  1. sf10dc: a read executing across the superseded-file delete hits a
  *     transient `FAILED_READ_FILE` — the stale-plan race only a
  *     transaction log (lakehouse manifests) or refcounted segments
  *     (Lucene) closes. The serving answer: refresh + retry on exactly
  *     that error class; the retried answer is correct.
  *  2. sf100e: a RETRY's refresh can land mid-delete-loop and read a
  *     MIXED listing — new files installed, some superseded files not yet
  *     deleted — i.e. BOTH generations. Because compaction preserves
  *     content exactly, such a read differs from truth ONLY by
  *     exact-duplicate rows; the harness classifies it (deduped answer
  *     must be a prefix of the reference — anything else is corruption
  *     and still fails hard), counts it, and re-probes.
  *
  * Both modes are bounded to the swap window, detectable client-side, and
  * REPORTED (retries + stale reads); the post-maintenance probe must be
  * exactly identity-correct.
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf10dc sbt "runMain graft.MaintProbe"
  */
object MaintProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(defaultCpus = 32)
    spark.sparkContext.setLogLevel("ERROR")
    val kc = SimilarityQueries.adaptiveKc(spark, dir)
    val emb = Tables.embeddings(spark, dir).localCheckpoint(true)
    val cent = Similarity.standInCentroids(emb, kc).localCheckpoint(true)
    val t = "graft_maint_probe_ivf"
    Similarity.stageIvfBucketed(emb.filter(col("vec_id") % 4 === 0), cent, t,
      buckets = kc)
    (1 to 3).foreach { m =>
      Similarity.appendStagedIvf(emb.filter(col("vec_id") % 4 === m), cent, t,
        buckets = kc)
    }
    println(s"[maint] staged $t kc=$kc maxFiles=" +
      Bucketing.maxFilesPerBucket(spark, t))

    val qe = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val probeCids = cent
      .select(col("cid"),
        graft.functions.VectorOps.cosine(col("ce"), typedlit(qe)).as("qcos"))
      .orderBy(desc("qcos"), asc("cid"))
      .limit(2).collect().map(_.getLong(0)).toSeq
    def probeOnce(): Seq[(Long, Double)] =
      Similarity.probeStagedIvf(spark, t, qe, probeCids, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def transientFileMiss(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(c => Option(c.getMessage).exists(_.contains("FAILED_READ_FILE")))
    var retries = 0
    def probe(): Seq[(Long, Double)] = {
      var out: Seq[(Long, Double)] = null
      while (out == null)
        try out = probeOnce()
        catch {
          case e: Throwable if transientFileMiss(e) =>
            retries += 1
            spark.catalog.refreshTable(t)
        }
      out
    }
    val reference = probe()

    @volatile var compactNanos = -1L
    val maint = new Thread(() => {
      val t0 = System.nanoTime()
      val rewritten = Bucketing.compactDelta(spark, t, "cid", Seq("cid"), kc,
        idCols = Seq("vec_id"))
      compactNanos = System.nanoTime() - t0
      println(s"[maint] compaction rewrote ${rewritten.size} buckets in " +
        f"${compactNanos / 1e9}%.3f s")
    }, "graft-maint")
    maint.start()

    var i = 0
    var worst = 0.0
    var staleReads = 0
    while (maint.isAlive) {
      val t0 = System.nanoTime()
      val got = probe()
      val sec = (System.nanoTime() - t0) / 1e9
      worst = math.max(worst, sec)
      val ok = got == reference
      if (!ok) {
        // a mixed-listing read may only differ by EXACT duplicates (both
        // generations hold identical rows) — dedup must give a reference
        // prefix; anything else is corruption, which still fails hard
        val dedup = got.distinct
        require(dedup == reference.take(dedup.length),
          s"probe #$i corrupted beyond duplicate shadowing: $got vs $reference")
        staleReads += 1
      }
      println(f"[probe] #$i%d during-maintenance sec=$sec%.3f answer_ok=$ok%b")
      i += 1
    }
    maint.join()
    val t0 = System.nanoTime()
    val post = probe()
    val postSec = (System.nanoTime() - t0) / 1e9
    require(post == reference, "post-maintenance probe diverged")
    println(f"[maint] probes_during=$i%d retries=$retries%d " +
      f"stale_reads=$staleReads%d worst_probe=$worst%.3f s " +
      f"post_probe=$postSec%.3f s maxFiles=" +
      Bucketing.maxFilesPerBucket(spark, t))
    spark.stop()
  }
}
