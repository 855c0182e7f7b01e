package graft.operators

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Cross-JVM reuse of staged artifact tables (bucketed joins, ANN serving
  * indexes, the lexical index, incremental-dedup signatures).
  *
  * The problem this solves: the metastore is in-memory and dies with each
  * JVM, but the warehouse DIRECTORY persists — so every Verify / bench /
  * test pass used to re-shuffle and rewrite every staged table from
  * scratch, which was both the suite's wall-clock driver and (via heap/GC
  * churn) the documented source of in-suite median noise. At 100 TB the
  * same discipline is what makes a serving index an INDEX: you build it
  * once and amortize it over every probe, across job submissions, not just
  * within one.
  *
  * Mechanism: after a successful stage, a `_graft_staged.props` marker is
  * written INSIDE each table's warehouse location (underscore-prefixed, so
  * Spark's file index ignores it) recording a fingerprint of the staging
  * recipe + source data plus everything needed to re-register the table in
  * a fresh catalog (schema DDL, bucket spec). The next JVM finds the
  * marker, checks the fingerprint, and issues `CREATE TABLE ... USING
  * parquet [CLUSTERED BY ... SORTED BY ... INTO n BUCKETS] LOCATION ...`
  * instead of re-staging — metadata-only, no shuffle, no rewrite.
  *
  * Path-staged artifacts (replay file sets, partitioned staging dirs under
  * `java.io.tmpdir`) take the same marker, written and read by the same
  * Hadoop-FS code, inside the output dir itself. There is nothing to
  * register: a path whose `_SUCCESS` and matching marker exist is reused
  * as it stands (a later JVM's first call included), and anything else is
  * restaged.
  *
  * Crash safety: the marker is written only after the stage body returns,
  * and a re-stage deletes the whole location (marker included) before
  * writing (`saveAsTable` and `mode("overwrite")` both do). A crash
  * mid-stage therefore leaves either no directory or a directory without a
  * marker — both make the next JVM re-stage, never serve a torn artifact.
  *
  * NOT for mutable tables: anything appended to after staging (the
  * incremental-maintenance paths) must keep using fresh names — the marker
  * records the state at stage time and a reused-then-appended table would
  * double-apply the appends on the next run. Every DECLARED query's staged
  * artifact is probe-only, which is what makes this reuse sound.
  */
object Staging {

  /** Epoch folded into every fingerprint. Bump when any staging recipe's
    * OUTPUT changes shape (new columns, different hashing, different caps)
    * so stale artifacts from older code are rebuilt, not reused.
    */
  val codeEpoch = "r6"

  /** Fingerprint of (code epoch, caller config, source-data listing). The
    * listing covers every file under `dir` recursively by (name, length,
    * mtime) — cheap at any realistic file count, and catches both
    * regenerated testdata and a swapped directory with the same path.
    */
  def fingerprint(spark: SparkSession, dir: String, config: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      files += s"${s.getPath.toUri.getPath}:${s.getLen}:${s.getModificationTime}"
    }
    val digest = MessageDigest.getInstance("MD5").digest(
      (codeEpoch + "|" + config + "|" + files.sorted.mkString(","))
        .getBytes("UTF-8"))
    digest.map("%02x".format(_)).mkString
  }

  private val markerFile = "_graft_staged.props"

  /** One lock per table group; staging the same artifacts from two threads
    * (parallel suites) must not interleave drop/write/register.
    */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Ensure `tables` exist in this session's catalog and every dir in
    * `paths` holds content staged under `fingerprint`: fast-path if all are
    * already current, re-register a prior JVM's table files when every
    * marker matches, else run `stage` (which must create every listed table
    * and write every listed path) and write the markers.
    */
  def ensure(spark: SparkSession, fingerprint: String, tables: Seq[String],
             paths: Seq[String] = Nil)(stage: => Unit): Unit = {
    val lock = locks.computeIfAbsent((tables ++ paths).sorted.mkString(","), _ => new Object)
    lock.synchronized {
      def matches(dir: Path) = markerMatches(spark, dir, fingerprint)
      def loc(t: String) = Bucketing.tableLocation(spark, t)
      val pathsCurrent = paths.forall(p => pathLive(spark, p) && matches(new Path(p)))
      val current = pathsCurrent &&
        tables.forall(t => spark.catalog.tableExists(t) && matches(loc(t)))
      if (!current) {
        if (pathsCurrent &&
            tables.forall(t => !spark.catalog.tableExists(t) && matches(loc(t)))) {
          tables.foreach(register(spark, _))
        } else {
          stage
          tables.foreach(t => writeMarker(spark, loc(t), tableProps(spark, t, fingerprint)))
          paths.foreach(p => writeMarker(spark, new Path(p), markerProps(fingerprint)))
        }
      }
    }
  }

  /** The registry's hit probe for a path-staged dir: the write committed
    * (`_SUCCESS`) and its marker exists — two stats, no read, no listing.
    */
  def pathLive(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_SUCCESS")) && fs.exists(new Path(p, markerFile))
  }

  private def readMarker(spark: SparkSession, dir: Path): Option[java.util.Properties] = {
    val mp = new Path(dir, markerFile)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      try {
        val props = new java.util.Properties()
        props.load(in)
        Some(props)
      } finally in.close()
    }
  }

  private def writeMarker(spark: SparkSession, dir: Path,
                          props: java.util.Properties): Unit = {
    val mp = new Path(dir, markerFile)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try props.store(out, s"graft staged-artifact marker for $dir")
    finally out.close()
  }

  private def markerMatches(spark: SparkSession, dir: Path,
                            fingerprint: String): Boolean =
    readMarker(spark, dir).exists(_.getProperty("fingerprint") == fingerprint)

  private def register(spark: SparkSession, table: String): Unit = {
    val props = readMarker(spark, Bucketing.tableLocation(spark, table)).getOrElse(
      throw new IllegalStateException(s"register($table) without a marker"))
    val schemaDdl = props.getProperty("schema")
    val bucketClause = Option(props.getProperty("bucketKey")).map { key =>
      val n = props.getProperty("buckets").toInt
      // sortKey may extend past the bucket key (sorted staged tables);
      // markers written before it existed sorted by the key itself.
      val sort = Option(props.getProperty("sortKey")).getOrElse(key)
      s"CLUSTERED BY ($key) SORTED BY ($sort) INTO $n BUCKETS "
    }.getOrElse("")
    val loc = Bucketing.tableLocation(spark, table).toUri.toString
    spark.sql(
      s"CREATE TABLE $table ($schemaDdl) USING parquet $bucketClause" +
        s"LOCATION '$loc'")
  }

  private def markerProps(fingerprint: String): java.util.Properties = {
    val props = new java.util.Properties()
    props.setProperty("fingerprint", fingerprint)
    props
  }

  /** A table's marker also carries what [[register]] needs: the schema
    * DDL and the bucket spec.
    */
  private def tableProps(spark: SparkSession, table: String,
                         fingerprint: String): java.util.Properties = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val props = markerProps(fingerprint)
    props.setProperty("schema", meta.schema.toDDL)
    meta.bucketSpec.foreach { bs =>
      props.setProperty("bucketKey", bs.bucketColumnNames.mkString(", "))
      props.setProperty("buckets", bs.numBuckets.toString)
      if (bs.sortColumnNames.nonEmpty)
        props.setProperty("sortKey", bs.sortColumnNames.mkString(", "))
    }
    props
  }
}
