package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.streaming.LocalCheckpointFileManager

/** The session profiles are configuration-as-documentation: assert the
  * values so the rationale in the scaladoc can't drift from the code.
  */
class GraftSessionSpec extends SparkSpec {
  test("cluster profile carries the 100 TB scale settings") {
    val opts = GraftSession.clusterConf(totalCores = 3000)
    assert(opts("spark.sql.shuffle.partitions") == "12000")
    assert(opts("spark.sql.adaptive.enabled") == "true")
    assert(opts("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(opts("spark.sql.files.maxPartitionBytes") == "256m")
    assert(opts("spark.sql.autoBroadcastJoinThreshold") == "64m")
    assert(opts("spark.serializer").contains("KryoSerializer"))
    assert(opts("spark.sql.extensions") == "graft.GraftExtensions")
  }

  test("local sessions write checkpoint files through LocalCheckpointFileManager") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt-fm")
    val fm = CheckpointFileManager.create(new Path(dir.toUri),
      spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    // cluster checkpoints live on HDFS or S3: the cluster profile keeps
    // Spark's default manager
    assert(!GraftSession.clusterConf().contains(LocalCheckpointFileManager.ConfKey))
  }
}
