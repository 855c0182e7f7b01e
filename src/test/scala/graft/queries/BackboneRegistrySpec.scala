package graft.queries

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Lifecycle contract of the shared backbone cache (r8 ADVICE): builds are
  * single-flight even under concurrent first calls, entries are evictable
  * per session and per key prefix, and the registered frames round-trip.
  */
class BackboneRegistrySpec extends SparkSpec {

  test("getOrBuild caches per key and returns the same frame") {
    val built = new AtomicInteger(0)
    def frame = {
      built.incrementAndGet()
      spark.range(3).withColumn("x", col("id") * 2)
    }
    val a = BackboneRegistry.getOrBuild(spark, "spec:a")(frame)
    val b = BackboneRegistry.getOrBuild(spark, "spec:a")(frame)
    assert(a eq b)
    assert(built.get() == 1)
    assert(a.count() == 3)
    BackboneRegistry.invalidate(spark, "spec:")
  }

  test("concurrent first calls single-flight the build (no leaked double materialization)") {
    val built = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            start.await(10, TimeUnit.SECONDS)
            BackboneRegistry.getOrBuild(spark, "spec:race") {
              built.incrementAndGet()
              spark.range(5).toDF()
            }
          }
        })
      }
      start.countDown()
      val frames = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(built.get() == 1, s"build ran ${built.get()} times")
      assert(frames.forall(_ eq frames.head))
    } finally {
      pool.shutdownNow()
      BackboneRegistry.invalidate(spark, "spec:")
    }
  }

  test("invalidate drops only the matching prefix, and a dropped key rebuilds") {
    BackboneRegistry.invalidate(spark, "spec:")
    val base = BackboneRegistry.size(spark)
    BackboneRegistry.getOrBuild(spark, "spec:x:1")(spark.range(1).toDF())
    BackboneRegistry.getOrBuild(spark, "spec:y:1")(spark.range(1).toDF())
    assert(BackboneRegistry.size(spark) == base + 2)
    BackboneRegistry.invalidate(spark, "spec:x:")
    assert(BackboneRegistry.size(spark) == base + 1)
    // rebuild after invalidation really rebuilds
    val built = new AtomicInteger(0)
    BackboneRegistry.getOrBuild(spark, "spec:x:1") {
      built.incrementAndGet(); spark.range(2).toDF()
    }
    assert(built.get() == 1)
    BackboneRegistry.invalidate(spark, "spec:")
    assert(BackboneRegistry.size(spark) == base)
  }

  test("family backbones register under their session (evictable, not JVM-pinned)") {
    // touching a text backbone must leave a registry entry keyed by this
    // session — the eviction listener can then release it on stop
    TextBackbone.unigrams(spark, sf0001).limit(1).count()
    assert(BackboneRegistry.size(spark) >= 1)
  }

  test("staged-name resolutions cache per session, revalidate via the live probe, and evict with clearSession") {
    val s2 = spark.newSession()
    val built = new AtomicInteger(0)
    def resolve(live: Boolean) =
      BackboneRegistry.namesOrBuild(s2, "spec:names")(_ => live) {
        built.incrementAndGet(); Seq("t1", "t2")
      }
    assert(resolve(live = true) == Seq("t1", "t2"))
    assert(resolve(live = true) == Seq("t1", "t2") && built.get() == 1)
    // a failed liveness probe (fresh catalog) rebuilds instead of trusting
    // the cached names
    assert(resolve(live = false) == Seq("t1", "t2") && built.get() == 2)
    assert(BackboneRegistry.namesSize(s2) == 1)
    // the session's entries are GONE after the (listener-invoked) clear —
    // and the parent session's caches are untouched
    val parentNames = BackboneRegistry.namesSize(spark)
    val parentFrames = BackboneRegistry.size(spark)
    BackboneRegistry.clearSession(s2)
    assert(BackboneRegistry.namesSize(s2) == 0)
    assert(BackboneRegistry.namesSize(spark) == parentNames)
    assert(BackboneRegistry.size(spark) == parentFrames)
  }

  test("the staging call sites route their name caches through the registry (r9 TrieMap leak closed)") {
    // no file in graft.queries holds a session-keyed TrieMap anymore — the
    // registry owns every (session, dir) resolution and its eviction
    val srcDir = new java.io.File("src/main/scala/graft/queries")
    val offenders = srcDir.listFiles().filter(_.getName.endsWith(".scala")).filter { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
      f.getName != "BackboneRegistry.scala" && txt.contains("TrieMap[(SparkSession")
    }.map(_.getName)
    assert(offenders.isEmpty, s"session-keyed TrieMaps outside the registry: ${offenders.toSeq}")
    // and only the registry's `staged` fingerprints and ensures an artifact:
    // a hand-rolled copy elsewhere would decide reuse its own way
    val ownStaging = srcDir.listFiles().filter(_.getName.endsWith(".scala")).filter { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
      f.getName != "BackboneRegistry.scala" &&
        (txt.contains("Staging.fingerprint(") || txt.contains("Staging.ensure("))
    }.map(_.getName)
    assert(ownStaging.isEmpty, s"staging outside BackboneRegistry.staged: ${ownStaging.toSeq}")
    // and exercising a staged query leaves its resolution in the registry
    val before = BackboneRegistry.namesSize(spark)
    BucketedQueries.q31(spark, sf0001).limit(1).count()
    assert(BackboneRegistry.namesSize(spark) >= math.max(before, 1))
  }

  test("the ANN policies keep one definition: no copied recall rollup, tombstone-probe fork or stand-in codebook") {
    // the recall harness, the tombstone-aware probes and the stand-in
    // codebook live in graft.operators.Similarity; a query file or the
    // maintenance probe that types one out again forks the policy
    val files = new java.io.File("src/main/scala/graft/queries").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq :+
      new java.io.File("src/main/scala/graft/MaintProbe.scala")
    val forkedProbe = ("probeStaged(Ivf|Lsh)" + "Deletes").r
    def copied(line: String): Boolean =
      line.contains(".as(\"recall\")") ||
        forkedProbe.findFirstIn(line).nonEmpty ||
        (line.contains(".as(\"cid\")") && line.contains(".as(\"ce\")"))
    val offenders = for {
      f <- files
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.zipWithIndex
      if copied(line)
    } yield s"${f.getName}:${i + 1}"
    assert(files.forall(_.isFile) && files.size > 10)
    assert(offenders.isEmpty, s"ANN policy copies outside Similarity: $offenders")
  }

  test("derived scalars cache per session and evict with clearSession") {
    val s2 = spark.newSession()
    val built = new AtomicInteger(0)
    def n = BackboneRegistry.scalarOrBuild(s2, "spec:scalar") {
      built.incrementAndGet(); 42L
    }
    assert(n == 42L && n == 42L && built.get() == 1)
    // invalidate drops the prefix's scalars too, not just frames and names
    BackboneRegistry.invalidate(s2, "spec:")
    assert(BackboneRegistry.scalarOrBuild(s2, "spec:scalar") { 7L } == 7L)
    BackboneRegistry.clearSession(s2)
    assert(BackboneRegistry.scalarOrBuild(s2, "spec:scalar") { 9L } == 9L)
    BackboneRegistry.clearSession(s2)
  }

  /** A `staged` artifact over sf0.001 that counts its recipe (name
    * resolution) and stage-body runs; fresh family and table names per
    * instance, since the warehouse outlives the JVM.
    */
  private final class CountedStage {
    private val run = java.util.UUID.randomUUID().toString.take(8)
    val recipes = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    def apply(s: org.apache.spark.sql.SparkSession): String =
      BackboneRegistry.staged(s, sf0001, s"spec_staged_$run") { tag =>
        recipes.incrementAndGet()
        val t = s"bbr_spec_${run}_$tag"
        Staged(Seq(t), "spec:staged:v1") {
          stages.incrementAndGet()
          graft.operators.Bucketing.writeBucketed(
            s.range(4).selectExpr("id AS k"), t, "k", 2)
        }
      }.head
  }

  test("staged stages once, and a registry hit runs neither the recipe nor the stage") {
    val a = new CountedStage
    val t = a(spark)
    assert(a.recipes.get() == 1 && a.stages.get() == 1)
    assert(a(spark) == t)
    assert(a.recipes.get() == 1 && a.stages.get() == 1)
    assert(spark.table(t).count() == 4)
    graft.operators.Bucketing.dropStaged(spark, t)
  }

  test("staged in a second session re-registers from the marker without staging") {
    val a = new CountedStage
    val t = a(spark)
    // what a fresh catalog sees: the staged files and marker, no table
    // (move the files aside so the managed DROP leaves them)
    val loc = graft.operators.Bucketing.tableLocation(spark, t)
    val aside = loc.suffix("_aside")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(loc, aside))
    spark.sql(s"DROP TABLE $t")
    assert(fs.rename(aside, loc))
    val s2 = spark.newSession()
    assert(a(s2) == t)
    assert(a.recipes.get() == 2, "the second session resolves its own names")
    assert(a.stages.get() == 1, "a matching marker re-registers, never re-stages")
    assert(s2.table(t).count() == 4)
    BackboneRegistry.clearSession(s2)
    graft.operators.Bucketing.dropStaged(spark, t)
  }

  test("staged resolves a dropped table again instead of trusting the cached names") {
    val a = new CountedStage
    val t = a(spark)
    spark.sql(s"DROP TABLE $t") // managed: the files and marker go too
    assert(a(spark) == t)
    assert(a.recipes.get() == 2 && a.stages.get() == 2)
    assert(spark.table(t).count() == 4)
    graft.operators.Bucketing.dropStaged(spark, t)
  }

  /** A path-staged `staged` artifact over `src` that counts its recipe and
    * stage-body runs; fresh family and dir names per instance, since the
    * tmpdir outlives the JVM.
    */
  private final class CountedPathStage(src: String = sf0001) {
    private val run = java.util.UUID.randomUUID().toString.take(8)
    val recipes = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    def apply(s: org.apache.spark.sql.SparkSession): String =
      BackboneRegistry.staged(s, src, s"spec_path_$run") { tag =>
        recipes.incrementAndGet()
        val out = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"bbr_spec_path_${run}_$tag").getAbsolutePath
        Staged.paths(Seq(out), "spec:path:v1") {
          stages.incrementAndGet()
          s.range(4).write.mode("overwrite").parquet(out)
        }
      }.head
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
  }

  test("path-staged artifacts stage once, and a fresh session reuses the dir untouched") {
    val a = new CountedPathStage
    val p = a(spark)
    assert(a.recipes.get() == 1 && a.stages.get() == 1)
    assert(a(spark) == p)
    assert(a.recipes.get() == 1 && a.stages.get() == 1, "a registry hit runs nothing")
    val marker = new java.io.File(p, "_graft_staged.props")
    val mtime = marker.lastModified
    val s2 = spark.newSession()
    assert(a(s2) == p)
    assert(a.recipes.get() == 2, "the second session resolves its own names")
    assert(a.stages.get() == 1, "a matching marker reuses the dir, never rewrites it")
    assert(marker.lastModified == mtime)
    assert(s2.read.parquet(p).count() == 4)
    BackboneRegistry.clearSession(s2)
    deleteTree(new java.io.File(p).toPath)
  }

  test("a path dir missing _SUCCESS or its marker is staged again") {
    val a = new CountedPathStage
    val p = a(spark)
    assert(new java.io.File(p, "_SUCCESS").delete())
    assert(a(spark) == p)
    assert(a.stages.get() == 2, "no _SUCCESS: the hit probe fails and the dir restages")
    assert(new java.io.File(p, "_graft_staged.props").delete())
    val s2 = spark.newSession()
    assert(a(s2) == p)
    assert(a.stages.get() == 3, "no marker: a fresh session restages")
    assert(new java.io.File(p, "_graft_staged.props").exists())
    assert(spark.read.parquet(p).count() == 4)
    BackboneRegistry.clearSession(s2)
    deleteTree(new java.io.File(p).toPath)
  }

  test("a registry hit on a path artifact does not list the source dir") {
    // fingerprinting lists the source; a hit must not, so a source that is
    // gone after staging still serves the staged path in the same session
    val src = java.nio.file.Files.createTempDirectory("bbr_spec_src")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "region.parquet"),
      src.resolve("region.parquet"))
    val a = new CountedPathStage(src.toString)
    val p = a(spark)
    deleteTree(src)
    assert(a(spark) == p)
    assert(a.recipes.get() == 1 && a.stages.get() == 1)
    deleteTree(new java.io.File(p).toPath)
  }

  test("dirTag is byte-stable: a renamed tag would re-stage every warehouse") {
    // a literal, not a re-derivation: staged table names and their
    // warehouse directories embed this tag
    assert(BackboneRegistry.dirTag("/data/graft/sf0.01") == "sf0_01_1i9k903")
  }
}
