package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.{Bucketing, Staging}

/** Bucketed, in-bucket-SORTED staged copies of the events table — the
  * in-storage backbone for the session/funnel/window family (r8 verdict
  * lever 1).
  *
  * ~10 declared queries open with the identical physical prologue: shuffle
  * events by `user_id` (sessionize q51, transitions q66, funnel q81, paths
  * q84, bounce q89, WAU q73, attribution q80) or by `event_type` (rolling
  * anomaly q64, rolling median q88), then sort each partition by time.
  * Every one of them used to pay that exchange + sort privately, per run.
  * Staging events ONCE as two bucketed tables — bucketed by the partition
  * key, in-bucket sorted by (key, ts, event_id), ONE file per bucket —
  * moves the shuffle and the sort into storage: the bucketed scan reports
  * `HashPartitioning(key)` and its sort order, so `WindowExec` (and the
  * per-key aggregates) plan with NO exchange and NO sort. This is the
  * durable twin of the r8 in-memory backbones (text/dedup/graph): same
  * amortization, but across JVMs too ([[Staging.ensure]] re-registers a
  * prior run's files metadata-only).
  *
  * At 100 TB this is exactly how an event log should land: ingest writes
  * bucket-pruned, time-sorted files per user shard (thousands of buckets,
  * not [[buckets]]=8 — the constant here is sized to test hardware), and
  * every downstream sessionization/funnel/attribution job reads them
  * exchange-free forever. The ts normalization in [[Tables.events]] is
  * applied once at stage time, so consumers read proper TIMESTAMP micros.
  *
  * The two query-serving tables are probe-only: the sorted
  * single-file-per-bucket contract would be voided by appends
  * ([[Bucketing.writeBucketedSorted]]). The DURABLE shape — ingest appends
  * batches, the contract degrades, compaction restores it — is a separate
  * declared flow ([[lifecycle]], `q96_events_lifecycle`), the r9 verdict's
  * "demo staging vs 100 TB event log" gap closed end to end.
  */
object EventsBackbone {

  val buckets = 8

  /** The two sorted staged tables ([[BackboneRegistry.staged]]). */
  private def stagedTables(s: SparkSession, dir: String): (String, String) = {
    val ts = BackboneRegistry.staged(s, dir, "events_sorted") { tag =>
      val byU = s"graft_ev_user_b${buckets}_$tag"
      val byT = s"graft_ev_type_b${buckets}_$tag"
      Staged(Seq(byU, byT), s"events_sorted_user_type:b$buckets:v1") {
        val ev = Tables.events(s, dir)
        Bucketing.writeBucketedSorted(ev, byU, "user_id",
          Seq("user_id", "ts", "event_id"), buckets)
        Bucketing.writeBucketedSorted(ev, byT, "event_type",
          Seq("event_type", "ts", "event_id"), buckets)
      }
    }
    (ts(0), ts(1))
  }

  /** Events clustered on `user_id`, sorted (user_id, ts, event_id): the
    * scan itself satisfies every per-user window and aggregation.
    */
  def byUser(s: SparkSession, dir: String): DataFrame =
    Bucketing.read(s, stagedTables(s, dir)._1)

  /** Events clustered on `event_type`, sorted (event_type, ts, event_id):
    * the scan satisfies the rolling-anomaly/median windows.
    */
  def byType(s: SparkSession, dir: String): DataFrame =
    Bucketing.read(s, stagedTables(s, dir)._2)

  /** Zone width for the time-clustered copy: 3 days of micros. Time-range
    * queries prune whole zones via the zone-map stats before touching a
    * row; at 100 TB the width is the zone-map granularity/pruning-power
    * trade (finer zones prune tighter, cost more stats rows).
    */
  val zoneMicros: Long = 3L * 86400L * 1000000L

  /** Events clustered on `zone` = `unix_micros(ts) div zoneMicros` — the
    * time-skipping layout: a time-range query resolves qualifying zones
    * from the tiny per-zone min/max stats table and probes them as a
    * bucket-pruned IN-list (the C29/C66 serving-index idiom pointed at
    * TIME), so the scan reads only the overlapping zones' files.
    */
  def byZone(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = BackboneRegistry.staged(s, dir, "events_zoned") { tag =>
      val name = s"graft_ev_zone_b${buckets}_$tag"
      Staged(Seq(name), s"events_zoned:b$buckets:zw$zoneMicros:v1") {
        Bucketing.writeBucketedSorted(
          Tables.events(s, dir).withColumn("zone", expr(s"unix_micros(ts) div $zoneMicros")),
          name, "zone", Seq("zone", "ts", "event_id"), buckets)
      }
    }
    Bucketing.read(s, t.head)
  }

  /** Day-PARTITIONED staged copy of events plus its calendar dimension —
    * the star-schema layout the dynamic-partition-pruning query (`q107_dpp`)
    * reads. Hive-style `day=…/` directories: partition values never touch
    * the row files, and a filter on the JOINED calendar dim prunes whole
    * directories AT RUNTIME (DynamicPartitionPruning: the broadcast's
    * result, not a static literal, decides which partitions are scanned —
    * the pruning a static predicate can't express because the weekend set
    * lives in the dimension, not the fact). At 100 TB date-partitioning is
    * the outermost layout every event lake ships, and DPP is what makes
    * `JOIN calendar ON day WHERE is_weekend` read 2/7ths of it instead of
    * all of it. Returns (factPath, dimPath): one [[Staged.paths]] artifact
    * under `java.io.tmpdir`, whose markers carry the source fingerprint —
    * a later JVM reuses both dirs while `dir` is unchanged, and a corpus
    * regenerated in place re-stages instead of q107 reading stale
    * partitions against a fresh DuckDB oracle.
    */
  def dayPartitioned(s: SparkSession, dir: String): (String, String) = {
    import org.apache.spark.sql.functions._
    val paths = BackboneRegistry.staged(s, dir, "events_daypart") { tag =>
      val base = System.getProperty("java.io.tmpdir")
      val factPath = new java.io.File(base, s"graft_ev_daypart_$tag").getAbsolutePath
      val dimPath = new java.io.File(base, s"graft_ev_calendar_$tag").getAbsolutePath
      Staged.paths(Seq(factPath, dimPath), "events_daypart:v1") {
        val fact = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
        fact.write.mode("overwrite").partitionBy("day").parquet(factPath)
        // the calendar dim: one row per day with its attributes — written as
        // its own table (a dim filter that Catalyst could constant-fold into
        // the fact would test static pruning, not DPP)
        fact.select(col("day")).distinct()
          .withColumn("dow", dayofweek(col("day")))
          .coalesce(1)
          .write.mode("overwrite").parquet(dimPath)
      }
    }
    (paths.head, paths(1))
  }

  /** The zone lifecycle table for `dir` (rewritten per flow run, like
    * [[lifecycleTable]] — the rewrite is the point).
    */
  def zoneLifecycleTable(dir: String): String =
    s"graft_ev_zlc_b${buckets}_${BackboneRegistry.dirTag(dir)}"

  /** The ingest half of the zone-map story (q105): stage the pre-cutoff
    * events zone-clustered, APPEND the post-cutoff batch (only the batch
    * shuffles — each touched zone bucket gains a second file; bucket
    * pruning, unlike sort reporting, SURVIVES appends, which is exactly
    * why a zone map keeps working on a live ingest), and return the
    * appended table's scan. The q105 range query then prunes across the
    * cutoff and must equal the raw full-table answer — a dropped or
    * double-applied batch fails the hash.
    */
  def zoneLifecycle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = zoneLifecycleTable(dir)
    val zoned = Tables.events(s, dir)
      .withColumn("zone", expr(s"unix_micros(ts) div $zoneMicros"))
      .select(col("zone"), col("ts"), col("event_id"), col("value"))
    val sort = Seq("zone", "ts", "event_id")
    Bucketing.writeBucketedSorted(
      zoned.filter(unix_micros(col("ts")) < lifecycleCutoffUs), t, "zone", sort, buckets)
    Bucketing.appendBucketed(
      zoned.filter(unix_micros(col("ts")) >= lifecycleCutoffUs), t, "zone", buckets, sort)
    Bucketing.read(s, t)
  }

  // ---------------------------------------------------------------------
  // Durable lifecycle (q96): stage → append → degraded → compact → restored
  // ---------------------------------------------------------------------

  /** In-bucket sort of the lifecycle table (shared with the plan spec). */
  val lifecycleSort: Seq[String] = Seq("event_type", "ts", "event_id")

  /** Ingest split point for the declared lifecycle flow: events before
    * 2024-01-22T00:00Z are the staged base, the rest arrive as the
    * appended batch (~30% of the fixed 30-day fixture at every sf).
    */
  val lifecycleCutoffUs: Long = 1705881600000000L

  /** The lifecycle staging table for `dir` (rewritten per flow run —
    * deliberately NOT registry-cached; the rewrite is the point).
    */
  def lifecycleTable(dir: String): String =
    s"graft_ev_lc_b${buckets}_${BackboneRegistry.dirTag(dir)}"

  private def lifecycleCols(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.events(s, dir).select(
      col("event_type"), col("ts"), col("event_id"), col("value"))
  }

  /** Stage the pre-cutoff base as a sorted bucketed table (full contract:
    * one file per bucket, in-bucket (type, ts, id) order). Returns the
    * table name.
    */
  def lifecycleStageBase(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    val t = lifecycleTable(dir)
    Bucketing.writeBucketedSorted(
      lifecycleCols(s, dir).filter(unix_micros(col("ts")) < lifecycleCutoffUs),
      t, "event_type", lifecycleSort, buckets)
    t
  }

  /** Append the post-cutoff batch: only the batch shuffles (each bucket
    * gains a second, itself-sorted file), which VOIDS the scan's reported
    * ordering — downstream windows silently regain their Sort while
    * staying exchange-free (bucketing still holds). The degraded half of
    * the contract, pinned by the plan spec.
    */
  def lifecycleAppendBatch(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    Bucketing.appendBucketed(
      lifecycleCols(s, dir).filter(unix_micros(col("ts")) >= lifecycleCutoffUs),
      lifecycleTable(dir), "event_type", buckets, lifecycleSort)
  }

  /** Restore the sorted contract ([[Bucketing.compactSorted]]) — the
    * nightly table-service job of a 100 TB event log; afterwards the same
    * window plans with no exchange AND no sort again.
    */
  def lifecycleCompact(s: SparkSession, dir: String): Unit =
    Bucketing.compactSorted(s, lifecycleTable(dir), "event_type",
      lifecycleSort, buckets)

  /** The readout that RIDES the restored order: per type, the inter-event
    * gap profile (count, max, mean) — a lag window whose exchange and sort
    * both elide on the compacted table. Values equal the same window over
    * the raw events table (the oracle's formulation), so a double-append
    * or dropped batch breaks the hash compare loudly.
    */
  def lifecycleReadout(s: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    Bucketing.read(s, table)
      .select(col("event_type"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag("us", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("us") - col("prev")).as("gap_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        max("gap_us").as("max_gap_us"),
        // mean gap in SECONDS: a scale-6 micros average crosses double's
        // exact range at large sf (the round6-magnitude lint)
        round(sum("gap_us").cast("double") / count(lit(1)) / 1000000d, 6)
          .as("avg_gap_sec"))
      .orderBy("event_type")
  }

  /** `q96_events_lifecycle` — the whole durable-event-log cycle as one
    * declared, oracled flow: stage the base sorted, append an ingest
    * batch (degrading the order contract), compact (restoring it), then
    * answer a window query off the restored table. DuckDB checks the
    * readout against the raw events table, so the staged content must
    * round-trip the full cycle exactly.
    */
  def lifecycle(s: SparkSession, dir: String): DataFrame = {
    val t = lifecycleStageBase(s, dir)
    lifecycleAppendBatch(s, dir)
    lifecycleCompact(s, dir)
    lifecycleReadout(s, t)
  }

  /** The delta-compaction lifecycle's own staging table (distinct from
    * [[lifecycleTable]] so q96 and q97 can run in one session without
    * clobbering each other's cycle mid-flight).
    */
  def deltaTable(dir: String): String =
    s"graft_ev_ld_b${buckets}_${BackboneRegistry.dirTag(dir)}"

  /** `q97_compact_delta` — the INCREMENTAL table-service variant of the
    * q96 cycle, exercising [[Bucketing.compactDelta]]: stage the
    * pre-cutoff base sorted across all type buckets, append a late batch
    * from a SINGLE source (`purchase` events — the time/source-clustered
    * ingest shape where full-table compaction is pure waste), then
    * delta-compact. Exactly ONE bucket (purchase's) is rewritten — the
    * flow requires it, so a compactor that silently widened to a full
    * rewrite, or skipped the dirty bucket, fails loudly — and the other
    * buckets' files are left byte-identical on disk (spec-pinned along
    * with the degraded→restored plan shape). The readout is the q96 gap
    * profile over the staged content, which DuckDB recomputes from the
    * RAW events table restricted to (pre-cutoff ∪ purchase): a dropped or
    * doubled batch, or any row lost in the file swap, breaks the hash.
    */
  def compactDeltaLifecycle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = deltaTable(dir)
    Bucketing.writeBucketedSorted(
      lifecycleCols(s, dir).filter(unix_micros(col("ts")) < lifecycleCutoffUs),
      t, "event_type", lifecycleSort, buckets)
    Bucketing.appendBucketed(
      lifecycleCols(s, dir)
        .filter(unix_micros(col("ts")) >= lifecycleCutoffUs &&
          col("event_type") === "purchase"),
      t, "event_type", buckets, lifecycleSort)
    val rewritten = Bucketing.compactDelta(s, t, "event_type", lifecycleSort,
      buckets, idCols = Seq("event_id"))
    require(rewritten.size == 1,
      s"single-source batch must rewrite exactly its one bucket, got $rewritten")
    lifecycleReadout(s, t)
  }
}
