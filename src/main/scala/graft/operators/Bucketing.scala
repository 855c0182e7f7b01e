package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: pre-shuffle a big table ONCE by its join key so
  * every later join/aggregation on that key runs shuffle-free — the batch
  * analogue of co-partitioned state, and the structural fix when the same
  * 100 TB fact table is joined on the same key by many queries.
  *
  * Spark persists bucket metadata in the catalog, so the tables must be
  * written with `saveAsTable` (path-based parquet loses bucketing info).
  */
object Bucketing {

  /** Write `df` as a bucketed, in-bucket-sorted catalog table. Re-staging is
    * idempotent: any prior version of the table is dropped first, and an
    * ORPHANED managed location is cleared too — the in-memory metastore dies
    * with each JVM while the warehouse directory persists, so without the
    * sweep a fresh session's `saveAsTable` fails with
    * LOCATION_ALREADY_EXISTS on a location only a dead catalog knew about.
    *
    * `table` must be a SIMPLE (unqualified) name; the orphan sweep resolves
    * the managed location as warehouse/lowercase(name), which is where the
    * default database puts it (the catalog lowercases identifiers). The
    * guard is a strict identifier whitelist, not just a no-dots check:
    * `Path(parent, child)` IGNORES the parent when the child is absolute, so
    * a name containing `/` could point the recursive orphan delete at an
    * arbitrary directory.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    dropWithOrphanSweep(df.sparkSession, table)
    // r16: pre-shuffle into the bucket layout (same Murmur3 pmod as the
    // bucket assignment, the writeBucketedSorted idiom) so every staged
    // table holds ONE file per bucket regardless of the input's
    // partitioning — probe I/O is then `files = pruned buckets` by
    // construction, not `input partitions × pruned buckets`.
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Write `df` bucketed on `key` and in-bucket SORTED by `sortCols` (which
    * may extend past the key — e.g. bucket by user_id, sort by (user_id,
    * ts, event_id)), with ONE file per bucket: the pre-write
    * `repartition(buckets, key)` uses the same Murmur3 pmod as the bucket
    * assignment, so partition id == bucket id and each write task emits
    * exactly its own bucket's file. Single-file buckets are the condition
    * under which Spark's bucketed scan reports its `outputOrdering` — which
    * is what lets a downstream window/sort-merge-join skip BOTH the
    * exchange (bucketing) and the sort (in-bucket order). Append-maintained
    * tables can't keep this contract (a second file per bucket voids the
    * ordering, [[appendBucketed]]); sorted staging is for probe-only
    * artifacts re-staged whole.
    */
  def writeBucketedSorted(df: DataFrame, table: String, key: String,
                          sortCols: Seq[String], buckets: Int): Unit = {
    require(sortCols.nonEmpty, "writeBucketedSorted needs sort columns")
    dropWithOrphanSweep(df.sparkSession, table)
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(table)
  }

  /** Shared drop + orphaned-managed-location sweep (see class doc for why
    * the strict identifier whitelist matters — `Path(parent, child)`
    * ignores the parent for absolute children).
    */
  private def dropWithOrphanSweep(spark: SparkSession, table: String): Unit = {
    require(table.matches("[A-Za-z0-9_]+"),
      s"staged writes need a simple [A-Za-z0-9_]+ table name, got $table")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Drop a staged table (and sweep its managed location) so an append-built
    * arm can restart from genuinely empty state — the reset the streaming
    * index-maintenance GATE queries need before replaying their appends
    * (a stale file surviving a bare `DROP TABLE` would make the replayed
    * index differ from the batch restage by exactly that file's rows).
    */
  def dropStaged(spark: SparkSession, table: String): Unit =
    dropWithOrphanSweep(spark, table)

  /** Append a batch into an EXISTING bucketed table with the same (key,
    * buckets) spec — the incremental-maintenance path: each append shuffles
    * only the batch into its buckets (new files tagged with their bucket
    * id), existing data is never rewritten, and bucket pruning / exchange-
    * free joins keep working because every file still belongs to exactly one
    * bucket. In-bucket sort order holds per file (each appended file is
    * sorted), which is what Spark's bucketed-scan contract requires.
    */
  def appendBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                     sortCols: Seq[String] = Seq.empty): Unit = {
    require(table.matches("[A-Za-z0-9_]+"),
      s"appendBucketed needs a simple [A-Za-z0-9_]+ table name, got $table")
    // sortCols must MATCH the existing table's spec (Spark refuses a
    // mismatched append); tables staged by writeBucketedSorted pass their
    // extended sort, key-sorted tables keep the default
    val sort = if (sortCols.nonEmpty) sortCols else Seq(key)
    df.write.mode("append")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(sort.head, sort.tail: _*)
      .saveAsTable(table)
  }

  /** Restore the single-file-per-bucket SORTED contract on an
    * append-maintained bucketed table — the compaction half of the staged
    * events lifecycle: ingest [[appendBucketed]]s batches (each append adds
    * a file per touched bucket, which voids the scan's reported sort
    * order), and a periodic compaction rewrites the table through
    * [[writeBucketedSorted]] so downstream windows go back to planning
    * with no exchange AND no sort. The current contents are pinned with an
    * eager localCheckpoint before the drop — reading lazily from the same
    * location being overwritten would race the delete.
    *
    * At 100 TB this is the nightly table-service job every
    * sorted-clustered event log runs (the same role LSM compaction or
    * clustering-key maintenance plays elsewhere); per-bucket it is one
    * read + one sort + one write, embarrassingly parallel across buckets.
    */
  def compactSorted(spark: SparkSession, table: String, key: String,
                    sortCols: Seq[String], buckets: Int): Unit = {
    val pinned = read(spark, table).localCheckpoint(true)
    writeBucketedSorted(pinned, table, key, sortCols, buckets)
    pinned.unpersist(blocking = false)
  }

  /** Replace a small NON-bucketed catalog table (metadata/stats sidecars for
    * staged indexes), with the same identifier guard and orphan-location
    * sweep as [[writeBucketed]].
    */
  def writeTable(df: DataFrame, table: String): Unit = {
    dropWithOrphanSweep(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Append rows to a small non-bucketed sidecar table — the ledger write
    * used by stats sidecars that fold per-batch contributions as new ROWS
    * (readers aggregate) instead of read-modify-rewriting a single row,
    * which would lose updates under concurrent appends.
    */
  def appendTable(df: DataFrame, table: String): Unit = {
    require(table.matches("[A-Za-z0-9_]+"),
      s"appendTable needs a simple [A-Za-z0-9_]+ table name, got $table")
    df.write.mode("append").format("parquet").saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Bucket-id parse from a bucketed data file name (the `_NNNNN` tag
    * Spark's writer appends before the codec extensions, e.g.
    * `part-00000-<uuid>_00003.c000.snappy.parquet` → 3) — the same
    * name-shape the bucketed scan itself uses to assign files to buckets.
    */
  private val bucketedFileName = """.*_(\d+)(?:\..*)?$""".r
  def bucketIdOf(fileName: String): Option[Int] =
    fileName match {
      case bucketedFileName(id) => Some(id.toInt)
      case _ => None
    }

  /** Managed location of a staged table (warehouse/lowercase(name) — the
    * same resolution [[dropWithOrphanSweep]] relies on).
    */
  private def tableLocation(spark: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  /** Max data-file count over a bucketed table's buckets (0 for an empty
    * location) — the serving-latency degradation appends accumulate and
    * [[compactDelta]]/[[compactSorted]] restore to 1; gates assert on it.
    */
  def maxFilesPerBucket(spark: SparkSession, table: String): Int = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byBucket = fs.listStatus(loc).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .groupBy(f => bucketIdOf(f.getPath.getName))
    // mirror compactDelta: an untagged data file means this is not (or no
    // longer) a bucketed table — fail loudly instead of counting the
    // untagged files as a pseudo-bucket compaction can never shrink
    require(!byBucket.contains(None),
      s"$table holds files without a bucket tag — not a bucketed table")
    if (byBucket.isEmpty) 0 else byBucket.values.map(_.size).max
  }

  /** INCREMENTAL compaction: restore the one-sorted-file-per-bucket
    * contract by rewriting ONLY the buckets that [[appendBucketed]]
    * actually touched (≥ 2 files), leaving every single-file bucket's
    * file byte-untouched on disk.
    *
    * Why it exists: [[compactSorted]] rewrites the WHOLE table per cycle,
    * so the nightly table-service cost is ∝ the table even when the day's
    * ingest touched a handful of buckets. Time-clustered or source-
    * clustered ingest touches few buckets; this makes the service job
    * ∝ appended data, which is the difference between a 100 TB table
    * paying a 100 TB rewrite every night and paying for what arrived.
    *
    * Mechanics (the same file-swap every lakehouse compactor performs,
    * minus the manifest a transaction log would add): the multi-file
    * buckets' rows are re-staged through a TEMP bucketed-sorted table with
    * the same (key, buckets) spec — partition id == bucket id, so each
    * compacted file carries its correct `_NNNNN` bucket tag and in-file
    * sort — then the new files MOVE into the table directory before the
    * superseded files are deleted and the scan cache refreshed. Move-in
    * before delete means a concurrent reader sees duplicates briefly
    * rather than losing rows; like [[compactSorted]]'s drop-and-rewrite
    * window, run it as the maintenance job it models. Returns the set of
    * bucket ids rewritten (empty = table already compact, nothing
    * touched).
    *
    * Crash recovery (r16, ADVICE): a crash between the install loop and
    * the superseded-file delete leaves BOTH generations in the dirty
    * buckets. With `idCols` supplied (a per-row unique key — every staged
    * index here has one), a re-run converges: the rewrite reads both
    * generations and dedupes by id before writing, so the duplicated rows
    * collapse and no delete/append is ever lost. Without `idCols` the
    * rewrite cannot tell a crash-duplicated row from a legitimately
    * repeated one, so a mid-install crash can double the dirty buckets'
    * rows on the next compaction — pass the table's id when it has one.
    */
  def compactDelta(spark: SparkSession, table: String, key: String,
                   sortCols: Seq[String], buckets: Int,
                   idCols: Seq[String] = Nil): Set[Int] = {
    require(sortCols.nonEmpty, "compactDelta needs the table's sort columns")
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(loc).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val byBucket = dataFiles.groupBy(f => bucketIdOf(f.getPath.getName))
    require(!byBucket.contains(None),
      s"$table holds files without a bucket tag — not a bucketed table")
    val delta = byBucket.collect { case (Some(b), fs2) if fs2.size >= 2 => b -> fs2 }
    if (delta.isEmpty) return Set.empty

    // Re-stage ONLY the delta buckets' rows through a temp table with the
    // identical bucket spec: reading by explicit file paths sidesteps the
    // catalog (no lock on the live table), and the bucketed write re-tags
    // each rewritten bucket's single file correctly by construction.
    val paths = delta.values.flatten.map(_.getPath.toString).toSeq
    rewriteBucketFiles(spark, table, key, sortCols, buckets,
      paths, delta.values.flatten.toSeq,
      df => if (idCols.isEmpty) df else df.dropDuplicates(idCols))
    delta.keySet.toSet
  }

  /** Apply accumulated TOMBSTONES physically — the deletion half of the
    * staged-index maintenance pair ([[compactDelta]] restores file counts;
    * this restores ROW truth): rewrite ONLY the buckets that hold
    * tombstoned rows, anti-joining the tombstone ids out, leaving every
    * clean bucket's files byte-untouched. Tombstones are co-keyed with the
    * table (same `key`, same bucket count — [[graft.operators.Similarity
    * .deleteStagedIvf]]'s contract), so the dirty-bucket set derives from
    * the tombstone rows via the SAME Murmur3-pmod the bucketed writer
    * assigns with. Service cost ∝ buckets holding deletes, like every
    * maintenance job here. Returns the rewritten bucket ids (empty =
    * nothing tombstoned, nothing touched). The caller truncates/drops the
    * tombstone table after a successful apply — this function leaves it
    * intact so a crash mid-apply never loses a delete. Re-running after
    * ANY failure converges (r16, ADVICE): the anti-join is idempotent,
    * and a crash between the install loop and the superseded-file delete
    * (which leaves both generations in the dirty buckets) is healed by
    * the dedupe-by-`idCol` inside the rewrite — the staged indexes hold
    * one row per id by contract, so the duplicate collapse is exact.
    */
  def compactDeletes(spark: SparkSession, table: String, tombTable: String,
                     idCol: String, key: String, sortCols: Seq[String],
                     buckets: Int): Set[Int] = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    require(sortCols.nonEmpty, "compactDeletes needs the table's sort columns")
    val tombIds = spark.table(tombTable).select(col(idCol))
    // Dirty-bucket set from the tombstone FILES' bucket tags (r17, guide
    // §2.4): tombstones are co-keyed AND co-bucketed with the table (the
    // documented [[graft.operators.Similarity.deleteStagedIvf]] contract,
    // every caller writes them through [[appendBucketed]]), so each
    // tombstone file's name already carries the bucket id of every row
    // inside it — the listing IS the exact dirty set, zero Spark jobs,
    // where the previous derivation ran a full distinct-collect scan of
    // the tombstone table per compaction. Falls back to that row scan
    // (same Murmur3-pmod the bucketed writer assigns with) if any file
    // lacks a tag (a foreign, non-bucketed tombstone table) or the flat
    // listing finds no data file at all (a partitioned or nested layout
    // keeps its rows below it; an empty tag set proves nothing).
    val tombLoc = tableLocation(spark, tombTable)
    val tombFs = tombLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombTags =
      (if (tombFs.exists(tombLoc)) tombFs.listStatus(tombLoc).toSeq else Nil)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(f => bucketIdOf(f.getPath.getName))
    val dirty: Set[Int] =
      if (tombTags.nonEmpty && tombTags.forall(_.isDefined)) tombTags.flatten.toSet
      else spark.table(tombTable)
        .select(pmod(hash(col(key)), lit(buckets)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
    if (dirty.isEmpty) return Set.empty
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byBucket = fs.listStatus(loc).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .groupBy(f => bucketIdOf(f.getPath.getName))
    require(!byBucket.contains(None),
      s"$table holds files without a bucket tag — not a bucketed table")
    val delta = byBucket.collect { case (Some(b), fls) if dirty(b) => b -> fls }
    if (delta.isEmpty) return Set.empty
    val paths = delta.values.flatten.map(_.getPath.toString).toSeq
    rewriteBucketFiles(spark, table, key, sortCols, buckets,
      paths, delta.values.flatten.toSeq,
      df => df.dropDuplicates(idCol).join(tombIds, Seq(idCol), "left_anti"))
    delta.keySet.toSet
  }

  /** Shared bucket-rewrite mechanics for the maintenance jobs: re-stage the
    * given files' rows (optionally transformed) through a TEMP table with
    * the identical bucket spec, MOVE the new files into the live location,
    * then delete the superseded files and refresh the scan cache —
    * install-before-delete, so a concurrent reader sees duplicates briefly
    * rather than losing rows (run as the maintenance job it models).
    */
  private def rewriteBucketFiles(spark: SparkSession, table: String,
                                 key: String, sortCols: Seq[String], buckets: Int,
                                 paths: Seq[String],
                                 superseded: Seq[org.apache.hadoop.fs.FileStatus],
                                 transform: DataFrame => DataFrame): Unit = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = table + "_cdelta"
    writeBucketedSorted(transform(spark.read.parquet(paths: _*)),
      tmp, key, sortCols, buckets)
    val tmpLoc = tableLocation(spark, tmp)
    val newFiles = fs.listStatus(tmpLoc).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    // install new files first, then drop the superseded ones
    newFiles.foreach { f =>
      require(fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(loc, f.getPath.getName)),
        s"bucket rewrite: failed to move ${f.getPath} into $loc")
    }
    // Deletes happen BEFORE the refresh on purpose: until the refresh, a
    // concurrent reader plans against the CACHED (old-generation) file
    // list, which stays answer-consistent — refreshing mid-swap would
    // instead expose both generations (duplicate ids inside a top-k).
    // The residual race: a read EXECUTING across this delete hits a
    // transient FAILED_READ_FILE on a superseded path — the window only a
    // transaction log / refcounted-segment format closes completely.
    // MaintProbe measures the hit rate; a serving layer retries (the
    // retried answer is identity-correct, never silently wrong).
    superseded.foreach(f => fs.delete(f.getPath, false))
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    if (fs.exists(tmpLoc)) fs.delete(tmpLoc, true)
    spark.catalog.refreshTable(table)
  }
}
