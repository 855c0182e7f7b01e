package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash-recovery contract of [[Bucketing.compactDeletes]] (r17, closing the
  * carried ADVICE item): the window between the rewrite's rename-install and
  * its superseded-file delete leaves BOTH generations of every dirty bucket
  * on disk. The doc claims a re-run converges — the rewrite reads both
  * generations, dedupes by the id column, and anti-joins the (still intact)
  * tombstones out. This spec INJECTS that crash state literally (performs
  * the install step, skips the delete) and asserts the re-run's convergence:
  * exact surviving rows, one per id, dirty buckets back to one file, clean
  * buckets byte-untouched.
  */
class IndexDeleteSpec extends SparkSpec {

  private val buckets = 8

  private def tableLoc(table: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  private def dataFiles(table: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val loc = tableLoc(table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
  }

  test("compactDeletes converges after a crash between install and superseded delete") {
    val t = "graft_test_cdel_crash"
    val tomb = t + "_tomb"
    val base = spark.range(200).selectExpr(
      "id AS vec_id", "id % 16 AS cid", "cast(id AS DOUBLE) / 7 AS v")
    Bucketing.writeBucketedSorted(base, t, "cid", Seq("cid"), buckets)
    Bucketing.dropStaged(spark, tomb)
    Bucketing.appendBucketed(
      base.filter("vec_id % 10 = 3").select("vec_id", "cid"), tomb, "cid", buckets)

    val tombIds = spark.table(tomb).select("vec_id")
    val dirty = spark.table(tomb)
      .select(pmod(hash(col("cid")), lit(buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dirty.nonEmpty)
    val before = dataFiles(t).map(f => f.getPath.getName -> f.getLen).toMap
    val cleanBefore = before.filter { case (n, _) =>
      !dirty(Bucketing.bucketIdOf(n).get) }

    // CRASH INJECTION — rewriteBucketFiles' install step, WITHOUT the
    // superseded-file delete: the new generation (deduped, tombstones
    // anti-joined) is renamed into the live location next to the old files.
    val loc = tableLoc(t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldDirtyPaths = dataFiles(t)
      .filter(f => dirty(Bucketing.bucketIdOf(f.getPath.getName).get))
      .map(_.getPath.toString)
    val tmp = t + "_crashgen"
    Bucketing.writeBucketedSorted(
      spark.read.parquet(oldDirtyPaths: _*)
        .dropDuplicates("vec_id").join(tombIds, Seq("vec_id"), "left_anti"),
      tmp, "cid", Seq("cid"), buckets)
    dataFiles(tmp).foreach { f =>
      assert(fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(loc, f.getPath.getName)))
    }
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    if (fs.exists(tableLoc(tmp))) fs.delete(tableLoc(tmp), true)
    spark.catalog.refreshTable(t)

    // both generations are now visible: surviving dirty-bucket rows twice
    val crashCount = spark.table(t).count()
    assert(crashCount > 200, s"crash state must hold duplicates, got $crashCount")

    // RE-RUN the apply — the tombstone table is still intact by contract
    // (callers drop it only after a successful apply)
    val rewritten = Bucketing.compactDeletes(
      spark, t, tomb, "vec_id", "cid", Seq("cid"), buckets)
    assert(rewritten == dirty, s"re-run must rewrite the dirty set $dirty, got $rewritten")

    // convergence: exact survivors, one row per id, tombstoned rows gone
    val got = spark.table(t).orderBy("vec_id").collect().toSeq
    val want = base.filter("vec_id % 10 <> 3").orderBy("vec_id").collect().toSeq
    assert(got == want)
    // dirty buckets back to ONE file; clean buckets byte-untouched
    val after = dataFiles(t).map(f => f.getPath.getName -> f.getLen).toMap
    val perBucket = after.keys.groupBy(n => Bucketing.bucketIdOf(n).get)
    assert(perBucket.filter { case (b, _) => dirty(b) }.forall(_._2.size == 1),
      s"dirty buckets still multi-file: $perBucket")
    cleanBefore.foreach { case (n, len) =>
      assert(after.get(n).contains(len), s"clean file $n was touched") }
    // the tombstone table survives the apply (crash-safety contract)
    assert(spark.table(tomb).count() == base.filter("vec_id % 10 = 3").count())
  }

  test("compactDeletes finds the dirty buckets of a tombstone table the flat listing misses") {
    // A partitioned tombstone table keeps its rows under `part=*/`: the
    // top-level listing holds no data file, so no bucket tag says which
    // buckets are dirty. That must take the row scan, not read as "none".
    val t = "graft_test_cdel_nested"
    val tomb = t + "_tomb"
    val base = spark.range(200).selectExpr(
      "id AS vec_id", "id % 16 AS cid", "cast(id AS DOUBLE) / 7 AS v")
    Bucketing.writeBucketedSorted(base, t, "cid", Seq("cid"), buckets)
    Bucketing.dropStaged(spark, tomb)
    base.filter("vec_id % 10 = 3").selectExpr("vec_id", "cid", "vec_id % 2 AS part")
      .write.partitionBy("part").format("parquet").saveAsTable(tomb)
    assert(dataFiles(tomb).isEmpty, "the tombstone rows sit below the listing")

    val dirty = spark.table(tomb)
      .select(pmod(hash(col("cid")), lit(buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dirty.nonEmpty)
    val rewritten = Bucketing.compactDeletes(
      spark, t, tomb, "vec_id", "cid", Seq("cid"), buckets)
    assert(rewritten == dirty)
    val got = spark.table(t).orderBy("vec_id").collect().toSeq
    val want = base.filter("vec_id % 10 <> 3").orderBy("vec_id").collect().toSeq
    assert(got == want)
    Bucketing.dropStaged(spark, tomb)
  }

  test("compactDeletes takes the row scan when the tombstones are bucketed at another count") {
    // a tombstone file's tag is its bucket under the TOMBSTONE table's
    // count; read as the table's bucket id it names the wrong files, and
    // the deletes in every other dirty bucket are missed
    val t = "graft_test_cdel_foreign"
    val tomb = t + "_tomb"
    val base = spark.range(200).selectExpr(
      "id AS vec_id", "id % 16 AS cid", "cast(id AS DOUBLE) / 7 AS v")
    Bucketing.writeBucketedSorted(base, t, "cid", Seq("cid"), buckets)
    Bucketing.dropStaged(spark, tomb)
    Bucketing.appendBucketed(
      base.filter("vec_id % 10 = 3").select("vec_id", "cid"), tomb, "cid", buckets / 2)

    val dirty = spark.table(tomb)
      .select(pmod(hash(col("cid")), lit(buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val rewritten = Bucketing.compactDeletes(
      spark, t, tomb, "vec_id", "cid", Seq("cid"), buckets)
    assert(rewritten == dirty)
    val got = spark.table(t).orderBy("vec_id").collect().toSeq
    val want = base.filter("vec_id % 10 <> 3").orderBy("vec_id").collect().toSeq
    assert(got == want)
    Bucketing.dropStaged(spark, tomb)
  }
}
