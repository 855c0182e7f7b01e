package graft.operators

import graft.{SparkSpec, Tables}

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle and match the plain join") {
    val li = Tables.lineitem(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    // unique names: the in-memory catalog dies with the JVM but the warehouse
    // dirs survive, and saveAsTable refuses an orphaned location
    val run = java.util.UUID.randomUUID().toString.take(8)
    val (liB, oB) = (s"li_b_$run", s"o_b_$run")
    Bucketing.writeBucketed(li, liB, "l_orderkey", 8)
    Bucketing.writeBucketed(o, oB, "o_orderkey", 8)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.read(spark, liB)
        .join(Bucketing.read(spark, oB),
          spark.table(liB)("l_orderkey") === spark.table(oB)("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // bucketed scans satisfy the join's distribution: no shuffle exchange
      assert(!plan.contains("Exchange hashpartitioning"))
      assert(joined.count() ==
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $liB")
      spark.sql(s"DROP TABLE IF EXISTS $oB")
    }
  }

  test("append voids the per-bucket sort contract; compactSorted restores it") {
    import org.apache.spark.sql.functions._
    val run = java.util.UUID.randomUUID().toString.take(8)
    val t = s"ev_sorted_$run"
    val ev = Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val (day0, day1) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    def files(table: String) = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        table.toLowerCase)
      loc.listFiles().filter(_.getName.startsWith("part-"))
    }
    def bucketsWithManyFiles(table: String) =
      files(table).map(_.getName.split("_")(1).take(5)).groupBy(identity)
        .count(_._2.length > 1)
    try {
      Bucketing.writeBucketedSorted(day0, t, "user_id",
        Seq("user_id", "ts", "event_id"), 4)
      assert(bucketsWithManyFiles(t) == 0)
      Bucketing.appendBucketed(day1, t, "user_id", 4,
        Seq("user_id", "ts", "event_id"))
      assert(bucketsWithManyFiles(t) > 0, "append should add files per bucket")
      val before = spark.table(t).orderBy("event_id").collect().toSeq
      Bucketing.compactSorted(spark, t, "user_id",
        Seq("user_id", "ts", "event_id"), 4)
      assert(bucketsWithManyFiles(t) == 0, "compaction must restore one file per bucket")
      assert(spark.table(t).orderBy("event_id").collect().toSeq == before,
        "compaction must not change the data")
      // and the restored contract is visible to the planner: a user window
      // over the compacted table plans with no exchange and no sort
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val plan = spark.table(t).select(col("user_id"), lag("value", 1).over(w))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(!plan.contains("Sort ["), plan)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  /** Job ids `body` ran. The status store fills from the listener bus in
    * order, so once a later fence job shows up every job of `body` has too.
    */
  private def jobsRunBy(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(group + "_fence")(spark.range(1).collect())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(group + "_fence").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(group + "_fence").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("a table registered at a LOCATION outside the warehouse is read where the catalog puts it") {
    import org.apache.spark.sql.functions._
    val buckets = 8
    val ext = java.nio.file.Files.createTempDirectory("graft_extloc_").toString + "/"
    val run = java.util.UUID.randomUUID().toString.take(8)
    val (t, tomb) = (s"extloc_$run", s"extloc_tomb_$run")
    def register(name: String, cols: String): Unit = spark.sql(
      s"CREATE TABLE $name ($cols) USING parquet CLUSTERED BY (cid) " +
        s"SORTED BY (cid) INTO $buckets BUCKETS LOCATION '$ext$name'")
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      register(t, "vec_id BIGINT, cid BIGINT")
      // cid in {0, 1}: at most two buckets hold data, one file per append
      val rows = spark.range(64).selectExpr("id AS vec_id", "id % 2 AS cid")
      Bucketing.appendBucketed(rows.filter("vec_id < 32").coalesce(1), t, "cid", buckets)
      Bucketing.appendBucketed(rows.filter("vec_id >= 32").coalesce(1), t, "cid", buckets)
      assert(Bucketing.tableLocation(spark, t).toUri.getPath.startsWith(ext))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(warehouse, t)),
        "nothing may land at the default managed location")
      assert(Bucketing.maxFilesPerBucket(spark, t) == 2)

      // co-bucketed tombstones whose buckets hold none of t's files: the
      // tag fast path reads the tombstone files' bucket ids from THEIR
      // location and finds nothing to rewrite without running a job (the
      // row-scan fallback would run one)
      val used = Seq(0L, 1L).toDF("cid")
        .select(pmod(hash(col("cid")), lit(buckets)).cast("int")).as[Int].collect().toSet
      register(tomb, "vec_id BIGINT, cid BIGINT")
      Bucketing.appendBucketed(
        spark.range(100, 164).selectExpr("id AS vec_id", "id AS cid")
          .filter(!pmod(hash(col("cid")), lit(buckets)).isin(used.toSeq: _*))
          .coalesce(1),
        tomb, "cid", buckets)
      assert(spark.table(tomb).count() > 0)
      var rewritten = Set(-1)
      val jobs = jobsRunBy(s"extloc_$run") {
        rewritten = Bucketing.compactDeletes(
          spark, t, tomb, "vec_id", "cid", Seq("cid"), buckets)
      }
      assert(rewritten.isEmpty)
      assert(jobs == 0, s"the dirty set must come from the tombstone file tags, ran $jobs jobs")
      assert(spark.table(t).count() == 64)

      // dropStaged sweeps the files where the catalog put them
      Bucketing.dropStaged(spark, t)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(ext + t)))
    } finally {
      Bucketing.dropStaged(spark, t)
      Bucketing.dropStaged(spark, tomb)
      new java.io.File(ext).delete()
    }
  }
}
