package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.{Bucketing, Similarity}

/** The tombstone-delete lifecycle's contracts beyond the oracle row:
  * tombstones shadow rows from the probe the moment they land, the
  * physical apply removes exactly the tombstoned ids, clean buckets'
  * files stay byte-untouched (service ∝ dirty buckets — the q97/C195
  * discipline on the deletion path), and re-applying is idempotent.
  */
class IndexDeleteSpec extends SparkSpec {

  private val buckets = SimilarityQueries.stagedIvfBuckets

  test("tombstone shadow, dirty-bucket-only apply, idempotent re-apply") {
    val emb = Tables.embeddings(spark, sf0001)
    val cent = Similarity.standInCentroids(emb, Similarity.ivfCentroids)
    val t = "graft_spec_ivfdel"
    val tomb = t + "_tomb"
    Similarity.stageIvfBucketed(emb, cent, t, buckets)
    Bucketing.dropStaged(spark, tomb)
    val deleted = emb.filter(col("vec_id") % 10 === 3)
    Similarity.deleteStagedIvf(deleted, cent, tomb, buckets)
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet

    // shadowing: the tombstone-aware probe never returns a deleted id
    val qe = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val cids = (0L until Similarity.ivfCentroids.toLong)
    val pre = Similarity.probeStagedIvf(spark, t, qe, cids, k = 50,
        tombTableOpt = Some(tomb))
      .collect().map(_.getLong(0))
    assert(pre.nonEmpty && !pre.exists(delIds))

    // file-level: only tombstone-holding buckets get rewritten
    def files(): Map[String, Long] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(f => f.getPath.getName -> f.getModificationTime).toMap
    }
    val before = files()
    val rewritten = Bucketing.compactDeletes(spark, t, tomb,
      "vec_id", "cid", Seq("cid"), buckets)
    assert(rewritten.nonEmpty && rewritten.size <= buckets)
    val after = files()
    val expectedDirty = spark.table(tomb)
      .select(pmod(hash(col("cid")), lit(buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(rewritten == expectedDirty, s"$rewritten vs dirty $expectedDirty")
    // clean buckets' files survive byte-untouched (same name, same mtime)
    val untouched = before.keySet.intersect(after.keySet)
    untouched.foreach(f => assert(before(f) == after(f), s"$f was rewritten"))

    // row truth: exactly the tombstoned ids are gone
    val live = spark.table(t).select("vec_id").collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live == all.diff(delIds))

    // idempotence: re-applying the same tombstones changes nothing
    Bucketing.compactDeletes(spark, t, tomb, "vec_id", "cid", Seq("cid"), buckets)
    val live2 = spark.table(t).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live2 == live)
    // and the plain probe now equals the pre-apply shadowed probe
    val post = Similarity.probeStagedIvf(spark, t, qe, cids, k = 50)
      .collect().map(_.getLong(0))
    assert(post.toSeq == pre.toSeq)
  }

  test("LSH tombstone probe: deleted rows never surface, compaction keeps the answer") {
    val emb = Tables.embeddings(spark, sf0001)
    val planes = SimilarityQueries.stagedPlanes
    val lshBuckets = SimilarityQueries.stagedLshBuckets
    val t = "graft_spec_lshdel"
    val tomb = t + "_tomb"
    Similarity.stageLshBucketed(emb, t, planes, lshBuckets)
    Bucketing.dropStaged(spark, tomb)
    val deleted = emb.filter(col("vec_id") % 10 === 3)
    Similarity.deleteStagedLsh(deleted, tomb, planes, lshBuckets)
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    val q = Similarity.withLshCode(emb.filter(col("vec_id") === 0), "embedding", planes)
      .select(col("embedding"), col("lsh_code")).head()
    val (qe, qcode) = (q.getSeq[Float](0).toArray, q.getLong(1))

    // k spans the whole Hamming-1 ball, so every candidate is visible
    val k = 100000
    def probe(tombOpt: Option[String]) =
      Similarity.probeStagedLsh(spark, t, qe, qcode, planes, k = k, tombTableOpt = tombOpt)
    def joins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType.toString
      }
    val plain = probe(None).collect().map(_.getLong(0))
    assert(plain.exists(delIds), "the probed ball must hold a deleted row to shadow")
    val shadowedProbe = probe(Some(tomb))
    // no tombstone table -> the plain pruned scan; with one -> one anti-join
    assert(joins(probe(None)).isEmpty)
    assert(joins(shadowedProbe) == Seq("LeftAnti"))
    val pre = shadowedProbe.collect().toSeq
    assert(pre.map(_.getLong(0)) == plain.filterNot(delIds).toSeq)

    val rewritten = Bucketing.compactDeletes(spark, t, tomb,
      "vec_id", "lsh_code", Seq("lsh_code"), lshBuckets)
    assert(rewritten.nonEmpty)
    Bucketing.dropStaged(spark, tomb)
    assert(probe(None).collect().toSeq == pre)
  }

  test("LSH deletion: served results never contain a deleted residue") {
    val ids = SimilarityQueries.indexLshDelete(spark, sf0001)
      .collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    assert(!ids.exists(id => SimilarityQueries.deleteResidues.contains(id % 10)))
  }

  test("re-apply converges after a crash between install and delete (r16 ADVICE)") {
    val emb = Tables.embeddings(spark, sf0001)
    val cent = Similarity.standInCentroids(emb, Similarity.ivfCentroids)
    val t = "graft_spec_ivfdel_crash"
    val tomb = t + "_tomb"
    Similarity.stageIvfBucketed(emb, cent, t, buckets)
    Bucketing.dropStaged(spark, tomb)
    val deleted = emb.filter(col("vec_id") % 10 === 3)
    Similarity.deleteStagedIvf(deleted, cent, tomb, buckets)
    val delIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet

    // Simulate the torn window: the rewrite installed its new files but
    // died before deleting the superseded generation — the dirty buckets
    // hold BOTH generations. Reproduce it by copying each dirty bucket's
    // file under a second part name with the same bucket tag.
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirty = spark.table(tomb)
      .select(pmod(hash(col("cid")), lit(buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    fs.listStatus(loc)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .foreach { f =>
        val name = f.getPath.getName
        graft.operators.Bucketing.bucketIdOf(name).filter(dirty).foreach { _ =>
          val dup = new org.apache.hadoop.fs.Path(loc,
            name.replaceFirst("^part-(\\d+)", "part-9$1"))
          org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs, dup, false,
            spark.sparkContext.hadoopConfiguration)
        }
      }
    spark.catalog.refreshTable(t)
    val doubled = spark.table(t).groupBy("vec_id").count()
      .filter(col("count") > 1).count()
    assert(doubled > 0, "crash simulation must leave duplicated rows")

    // the re-run must converge: duplicates collapsed, tombstoned ids gone
    Bucketing.compactDeletes(spark, t, tomb, "vec_id", "cid", Seq("cid"), buckets)
    val live = spark.table(t).select("vec_id").collect().map(_.getLong(0))
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live.length == live.distinct.length, "duplicates survived the re-apply")
    assert(live.toSet == all.diff(delIds))
  }
}
