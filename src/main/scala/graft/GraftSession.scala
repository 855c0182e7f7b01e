package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.LocalCheckpointFileManager

/** Single place for session config so Verify / Bench / tests / app agree.
  *
  * Scale notes: shuffle partitions match local cores here; on a real cluster
  * AQE coalesces post-shuffle partitions anyway (`adaptive.enabled` +
  * `coalescePartitions`), and skew-join splitting is on so a hot key in a
  * shuffle join is split at runtime rather than stalling one task.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // native expressions on the SQL surface (graft_dot, graft_lsh_code, ...)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // testdata events.ts has shipped as TIMESTAMP(NANOS) — without this
      // flag that physical type throws on read; with it, it reads as long
      // nanos and Tables.events converts back losslessly. There is no
      // per-read option for nanos, hence session-wide. The naive
      // TIMESTAMP(MICROS) shape needs NO session flag: it reads as
      // TIMESTAMP_NTZ (inferTimestampNTZ defaults on) and Tables.events
      // anchors it to UTC instant-correctly in any session zone, so we do
      // not flip inferTimestampNTZ off session-wide — users reading their
      // own naive-timestamp parquet through a Graft session get stock Spark
      // semantics.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Every bucketed table in this library is a DELIBERATE staging table
      // (Bucketing.writeBucketed) whose layout is the point — either
      // exchange-free joins (q31) or bucket-pruned ANN probes. The
      // DisableUnnecessaryBucketedScan rule would turn off bucketed scans
      // for probe-shaped plans (no join/agg above the scan) because it
      // doesn't credit bucket PRUNING as a benefit, which silently reverts
      // a pruned index probe to a full-corpus scan.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // Report the in-bucket SORT order from bucketed scans (off by default
      // since 3.0 because it only holds with one file per bucket — which
      // Bucketing.writeBucketedSorted guarantees by construction). This is
      // what lets the staged events tables feed WindowExec with no sort:
      // the scan declares (key, ts, event_id) ordering and EnsureRequirements
      // elides both the exchange and the sort.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // checkpoint logs and state-store files on `file:` paths are written
      // through java.nio: Hadoop's local filesystem forks a shell per
      // permission call without its native library, ~50 ms per log file
      // and at least three log files per micro-batch. Other schemes keep
      // Spark's default manager, so clusterConf does not set this.
      .config(LocalCheckpointFileManager.ConfKey,
        classOf[LocalCheckpointFileManager].getName)
      // keep catalog tables (bucketed writes) out of the repo working dir
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")

  /** Session for the driver-invoked mains; core count from SPARK_GRAFT_CPUS. */
  def local(defaultCpus: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every partitionless window in this library is constructed through
    // BoundedWindow (calendar/pool/vocab-bounded frames by construction),
    // so WindowExec's "No Partition Defined" warning is pure noise in the
    // Verify/Bench logs — ~100 identical benign lines that bury real
    // regressions (r12+r13 verdicts). Silenced HERE (driver mains only),
    // not in `builder`: a library user's own unpartitioned window still
    // warns in their session.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** The CLUSTER profile — what this library would run with on a
    * 1000-executor / 100 TB deployment (master comes from spark-submit, not
    * here). Differences from the local profile, each with its reason:
    *
    *  - `shuffle.partitions` starts high (4× total cores is a sane opening
    *    bid for ~3000 cores); AQE coalescing shrinks small stages at runtime,
    *    so over-partitioning costs little while under-partitioning spills.
    *  - `adaptive.advisoryPartitionSizeInBytes` 128m: the target post-
    *    coalesce partition size — big enough to amortize task overhead,
    *    small enough to stay in executor memory next to join/agg state.
    *  - `files.maxPartitionBytes` 256m: parquet scan split size; wider
    *    splits halve the task count of 100 TB scans whose per-task setup
    *    (footer reads, codegen) otherwise dominates.
    *  - `autoBroadcastJoinThreshold` 64m: dimension tables and candidate
    *    frames up to tens of MB broadcast instead of shuffling the fact
    *    side; runtime AQE re-plans to broadcast on actual sizes too.
    *  - shuffle compression + Kryo: exchange volume is THE scale cost in
    *    the dedup/ANN pipelines (md5 digests, signatures, band keys).
    */
  def clusterConf(totalCores: Int = 3000): Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> (totalCores * 4).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128m",
    "spark.sql.files.maxPartitionBytes" -> "256m",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.parquet.filterPushdown" -> "true",
    // bucketed tables are deliberate staging tables; keep bucketed scans on
    // so ANN index probes stay bucket-pruned (see builder note)
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    // single-file-per-bucket staged tables carry their sort order into the
    // plan (see builder note) — sessionization/funnel windows run sort-free
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.shuffle.compress" -> "true",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")
}
