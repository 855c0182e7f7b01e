package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.FlowPipeline

/** Declared queries exercising the reference's own dataflow (SURVEY Layer A). */
object PipelineQueries {

  /** The flow-JSON fixture `data/flows.jsonl` of the checkout these classes
    * were built in: the nearest ancestor of the class directory (or jar)
    * that holds it, else `data/flows.jsonl` under the working directory.
    */
  lazy val fixturePath: String = {
    val built = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(built)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("data/flows.jsonl")).find(Files.isRegularFile(_))
      .getOrElse(Paths.get("data/flows.jsonl").toAbsolutePath).toString
  }

  /** Q20 — full decode→project→coerce parity over the flow-JSON fixture
    * (FIXTURES §1/§3): malformed line dropped, `{}` kept as a defaults row,
    * extra keys ignored, `Bytes` 66.9 truncated to 66.
    */
  def q20(s: SparkSession, dir: String): DataFrame =
    FlowPipeline.batch(s.read.text(fixturePath))
      .orderBy("start", "src_ip")

  val oracle: Map[String, String] = Map(
    "q20_flow_pipeline" ->
      s"""WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS value
        |             FROM read_text('$fixturePath')),
        |j AS (SELECT value AS v FROM raw WHERE json_valid(value) AND json_type(value)='OBJECT')
        |SELECT coalesce(CAST(v->>'TimeFlowStartMs' AS DOUBLE),0.0) AS start,
        | coalesce(CAST(v->>'TimeFlowEndMs' AS DOUBLE),0.0) AS "end",
        | coalesce(v->>'SrcAddr','') AS src_ip, coalesce(v->>'DstAddr','') AS dst_ip,
        | coalesce(v->>'SrcK8S_Name','') AS src_name, coalesce(v->>'DstK8S_Name','') AS dst_name,
        | coalesce(v->>'SrcK8S_Type','') AS src_kind, coalesce(v->>'DstK8S_Type','') AS dst_kind,
        | coalesce(v->>'SrcK8S_Namespace','') AS src_namespace, coalesce(v->>'DstK8S_Namespace','') AS dst_namespace,
        | CAST(trunc(coalesce(CAST(v->>'Bytes' AS DOUBLE),0)) AS BIGINT) AS bytes,
        | CAST(trunc(coalesce(CAST(v->>'Packets' AS DOUBLE),0)) AS BIGINT) AS packets
        |FROM j ORDER BY start, src_ip""".stripMargin)
}
