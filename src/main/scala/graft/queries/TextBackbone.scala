package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Shared token-explode backbone for the text family.
  *
  * Ten of the text queries (tfidf, bm25, vocab, zipf, lm_score, pmi, oov,
  * bigram_lm, heavy, token_ids) open with the SAME deterministic
  * intermediate: `documents` exploded to one row per non-empty token (or
  * adjacent-token bigram). Re-deriving it per query re-pays the parquet
  * scan + lower + split + explode every time a suite JVM runs the family.
  *
  * Within one JVM this object computes each backbone ONCE per
  * (session, dir) and persists it MEMORY_AND_DISK; every consumer then
  * reads the columnar in-memory relation, which still column-prunes per
  * consumer (InMemoryTableScanExec decompresses only the attributes a plan
  * asks for). This is the in-memory twin of the staged-parquet pattern the
  * similarity/lexical families already use (`search_lexical_staged`,
  * `sim_ivf_staged`): materialize the shared upstream once, fan consumers
  * out of it. On a cluster-scale multi-query curation job the same
  * backbone would be staged to parquet (or exchanged once and reused);
  * the per-query plans here are identical either way.
  *
  * Caching lifecycle (eviction on session stop, single-flight builds,
  * stale-on-rewrite caveat) is [[BackboneRegistry]]'s.
  */
object TextBackbone {

  /** One row per non-empty whitespace token occurrence:
    * (doc_id, source, w). Consumers `.select` the columns they need —
    * pruning still happens against the cached columnar batches.
    */
  def unigrams(s: SparkSession, dir: String): DataFrame =
    BackboneRegistry.getOrBuild(s, s"text:uni:$dir")(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One row per adjacent non-empty token pair: (doc_id, w1, w2), in
    * document order (the explode preserves nothing BUT the pairing — no
    * consumer depends on row order).
    */
  def bigrams(s: SparkSession, dir: String): DataFrame =
    BackboneRegistry.getOrBuild(s, s"text:bi:$dir")(
      Tables.documents(s, dir)
        .select(col("doc_id"), split(lower(col("text")), " ").as("W"))
        .filter(size(col("W")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(W)-2), i -> struct(W[i] AS w1, W[i+1] AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .persist(StorageLevel.MEMORY_AND_DISK))
}
