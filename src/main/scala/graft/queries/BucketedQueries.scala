package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Bucketing

/** Declared queries over BUCKETED staging tables ([[Bucketing.writeBucketed]])
  * — the durable, cross-job alternative to `localCheckpoint` staging named in
  * DESIGN.md: pay the shuffle once at write time, then every join and
  * aggregation on the bucket key runs exchange-free. PlanAuditSpec asserts
  * the resulting plan really has no `Exchange hashpartitioning`.
  */
object BucketedQueries {

  val buckets = 8

  /** Staging happens once per (session, sf dir) — amortization across
    * queries is the point of bucketing; a production pipeline would stage
    * per ingest batch, not per query. Table names carry the sf tag so test
    * (sf0.001), verify (sf0.01) and bench (sf0.1) sessions never collide.
    * The cache is keyed on the SESSION too, and re-validated against the
    * catalog, because a second SparkSession in the same JVM has a fresh
    * in-memory catalog — a dir-only hit would hand it table names only a
    * dead catalog ever created.
    */
  private def stagedTables(s: SparkSession, dir: String): (String, String) = {
    val ts = BackboneRegistry.staged(s, dir, "bucketed_li_ord") { tag =>
      val li = s"graft_li_b${buckets}_$tag"
      val ord = s"graft_ord_b${buckets}_$tag"
      Staged(Seq(li, ord), s"bucketed_li_ord:b$buckets") {
        Bucketing.writeBucketed(
          Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
          li, "l_orderkey", buckets)
        Bucketing.writeBucketed(
          Tables.orders(s, dir).select("o_orderkey", "o_orderstatus"),
          ord, "o_orderkey", buckets)
      }
    }
    (ts(0), ts(1))
  }

  /** Q31 — revenue per order over the bucketed staging tables. Both the
    * orders⋈lineitem join and the per-order aggregation run on the bucket
    * key, so the whole plan up to the final top-k is exchange-free (the
    * `merge` hint keeps the tiny test-scale tables on the sort-merge path
    * the staging exists for — at real scale neither side broadcasts anyway).
    */
  def q31(s: SparkSession, dir: String): DataFrame = {
    val (liT, ordT) = stagedTables(s, dir)
    val li = Bucketing.read(s, liT)
    val ord = Bucketing.read(s, ordT)
    ord.hint("merge").join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double"), 6).as("rev"),
        count(lit(1)).as("items"))
      .orderBy(desc("rev"), asc("o_orderkey"))
      .limit(10)
  }

  val oracle: Map[String, String] = Map(
    "q31_bucketed_join" ->
      """SELECT o_orderkey,
        | round(CAST(sum(CAST(l_extendedprice*(1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS rev,
        | count(*) AS items
        | FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        | GROUP BY o_orderkey ORDER BY rev DESC, o_orderkey LIMIT 10""".stripMargin.replaceAll("\n", ""))
}
