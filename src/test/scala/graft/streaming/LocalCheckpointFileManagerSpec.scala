package graft.streaming

import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.SparkSpec
import graft.pipeline.FlowPipeline
import graft.sinks.JdbcSink
import graft.sources.FileFlowSource

/** A raw local filesystem under its own scheme, so Spark's default manager
  * resolves it (no AbstractFileSystem is registered for it, so the default
  * falls back to its FileSystem-based manager).
  */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
  override def getScheme: String = "graftother"
}

class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  private def names(dir: NioPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  test("no-overwrite onto an existing file throws Hadoop's FileAlreadyExistsException, bytes kept") {
    val dir = Files.createTempDirectory("lcfm")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does after a failed close: a no-op now
    assert(read(fm, p) == "first")
    assert(names(dir) == Seq("0"))
  }

  test("cancel() and a failed publish leave no file and no temp file") {
    val dir = Files.createTempDirectory("lcfm")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size == 1 && names(dir).head.startsWith(".1."), "bytes go to a hidden temp")
    out.cancel()
    assert(names(dir).isEmpty)

    // the rename cannot replace a non-empty directory: close() fails, and
    // the temp goes with it
    Files.createFile(Files.createDirectory(dir.resolve("2")).resolve("x"))
    val bad = fm.createAtomic(new Path(dir.toUri.toString, "2"), overwriteIfPossible = true)
    bad.write("bytes".getBytes(UTF_8))
    intercept[IOException](bad.close())
    assert(names(dir) == Seq("2"))
    assert(Files.isDirectory(dir.resolve("2")))
  }

  test("overwrite replaces the content, drops a stale .crc, and reads back through the delegate") {
    val dir = Files.createTempDirectory("lcfm")
    val p = new Path(dir.toUri.toString, "3")
    // Hadoop's checksummed local filesystem writes the .crc Spark's default
    // manager leaves behind
    val local = FileSystem.getLocal(conf)
    val o = local.create(p, true)
    o.write("old content".getBytes(UTF_8))
    o.close()
    assert(names(dir) == Seq(".3.crc", "3"))

    val fm = manager(dir)
    write(fm, p, "new", overwrite = true)
    assert(names(dir) == Seq("3"))
    assert(read(fm, p) == "new")
    val in = local.open(p) // the checksummed reader finds no stale checksum
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
  }

  test("a non-file: path goes wholly to Spark's default manager") {
    val dir = Files.createTempDirectory("lcfm")
    val other = new Configuration(conf)
    other.set("fs.graftother.impl", classOf[OtherSchemeFs].getName)
    other.setBoolean("fs.graftother.impl.disable.cache", true)
    val p = new Path(s"graftother://${dir.toUri.getPath}/4")
    val fm = new LocalCheckpointFileManager(p.getParent, other)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    out.write("delegated".getBytes(UTF_8))
    out.close()
    assert(read(fm, p) == "delegated")
    assert(fm.exists(p))
    // a file: path gets the java.nio stream
    val local = manager(dir).createAtomic(new Path(dir.toUri.toString, "5"), true)
    assert(!local.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    local.cancel()
  }

  private def flowFile(dir: NioPath, i: Int, rows: Int): Unit = {
    val lines = (0 until rows).map { r =>
      s"""{"TimeFlowStartMs":${i * 1000 + r},"TimeFlowEndMs":${i * 1000 + r + 1},"SrcAddr":"10.0.$i.$r","Bytes":1,"Packets":1}"""
    }
    // staged outside the watched dir, then moved in whole
    val staged = Files.write(dir.resolveSibling(s"${dir.getFileName}-$i.tmp"), lines.asJava, UTF_8)
    Files.move(staged, dir.resolve(s"f$i.jsonl"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def lastOffsetHasCrc(ckpt: NioPath): Boolean = {
    val offsets = ckpt.resolve("offsets")
    val last = names(offsets).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Files.exists(offsets.resolve(s".$last.crc"))
  }

  for ((first, second) <- Seq(false -> true, true -> false))
    test(s"a JdbcSink stream on Derby resumes across managers (graft manager: $first -> $second)") {
      val url = s"jdbc:derby:memory:graftcfm_$first;create=true"
      val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
      val in = Files.createTempDirectory("cfm-in")
      val ckpt = Files.createTempDirectory("cfm-ckpt")
      def run(graft: Boolean, recreate: Boolean): Unit = {
        val s = spark.newSession()
        if (!graft) s.conf.unset(LocalCheckpointFileManager.ConfKey)
        val q = JdbcSink(url, options = opts, recreate = recreate)
          .start(FlowPipeline.batch(FileFlowSource(in.toString).stream(s)), ckpt.toString)
        try q.processAllAvailable() finally q.stop()
        // Spark's default manager leaves a .crc beside each log file; the
        // graft manager writes none, so this shows which one wrote the batch
        assert(lastOffsetHasCrc(ckpt) == !graft)
      }
      def srcIps(): Seq[String] = spark.read.format("jdbc")
        .option("url", url).option("dbtable", "flows").options(opts).load()
        .select("src_ip").collect().map(_.getString(0)).toSeq

      (0 until 2).foreach(flowFile(in, _, 5))
      run(first, recreate = true)
      assert(srcIps().size == 10)

      (2 until 5).foreach(flowFile(in, _, 5))
      run(second, recreate = false)
      val ips = srcIps()
      assert(ips.size == 25, "every row of every file, once")
      assert(ips.distinct.size == 25, "no row replayed")
      assert(ips.toSet == (for (i <- 0 until 5; r <- 0 until 5) yield s"10.0.$i.$r").toSet)
    }
}
