package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Bucketing, Dedup}

/** Shared staged chain for the MinHash-LSH dedup family.
  *
  * Seven declared queries run the SAME upstream pipeline over the corpus —
  * distinct shingle hashes → minhash signatures → banded LSH candidates →
  * Jaccard-verified pairs → connected components — and differ only in the
  * tier they read (candidates, scores, pairs, groups) or the tail they
  * apply (argmax, drop, per-lang rollup). Re-running the chain per query
  * re-paid the explode, the band self-join and the pointer-jumping
  * fixpoint up to seven times per suite JVM.
  *
  * Each tier is computed ONCE per (session, dir) and pinned with an eager
  * `localCheckpoint` — exactly the staging the per-query code already did
  * WITHIN a query, widened to the family. This mirrors how the production
  * pipeline runs (one chain, many consumers — `pipeline_dump` is that
  * statement as a query); at cluster scale the same tiers live in bucketed
  * staging tables ([[graft.operators.Bucketing]], and
  * `dedup_incr_staged`'s index IS the durable form of the signature/band
  * tiers).
  */
object DedupBackbone {

  /** LSH/verify constants shared by every consumer (and the SqlGen-rendered
    * oracles, which derive from the same Dedup defaults).
    */
  val jaccardThreshold = 0.7

  private def tier(s: SparkSession, dir: String, name: String)
                  (build: => DataFrame): DataFrame =
    BackboneRegistry.getOrBuild(s, s"dedup:$name:$dir")(
      build.localCheckpoint(true))

  /** Distinct (doc_id, m) shingle-hash frame — the root every tier shares. */
  def shingles(s: SparkSession, dir: String): DataFrame =
    tier(s, dir, "sh") {
      Dedup.shingleHashes(Tables.documents(s, dir)).distinct()
    }

  /** Distinct (doc_id, m) `w`-word span hashes — the verbatim-run root the
    * SPAN-level family shares (`dedup_spans`' cross-doc span census and
    * `dedup_memorize`'s per-doc coverage read the same frame; the 3-gram
    * [[shingles]] root serves the similarity family, spans are wider).
    */
  def spanHashes(s: SparkSession, dir: String, w: Int): DataFrame =
    tier(s, dir, s"span$w") {
      Dedup.shingleHashes(Tables.documents(s, dir), w).distinct()
    }

  /** One minhash-signature row per doc (min is multiset-invariant, so the
    * distinct root gives identical signatures to the raw shingle stream).
    */
  def signatures(s: SparkSession, dir: String): DataFrame =
    tier(s, dir, "sig") { Dedup.minhashSignatures(shingles(s, dir)) }

  /** Banded LSH candidate pairs (capped buckets, d1 < d2, distinct). */
  def lshCandidates(s: SparkSession, dir: String): DataFrame =
    tier(s, dir, "cand") {
      Dedup.candidatePairs(Dedup.bands(signatures(s, dir)))
    }

  /** Rarest-first RANKED shingles ([[Dedup.rankShingles]]): per doc, each
    * shingle's global-df position and the doc's set size — the
    * threshold-independent half of the exact prefix-filter join, staged so
    * the df rollup and the ranking window are paid once per corpus (r10
    * lever 3) instead of inside every `prefixFilterCandidates` run; the
    * tn/td prefix cut and the pair join read this tier directly (twice,
    * as both join sides — the checkpoint also stops that double
    * recompute).
    */
  def rankedShingles(s: SparkSession, dir: String): DataFrame =
    tier(s, dir, "rankedsh") { Dedup.rankShingles(shingles(s, dir)) }

  /** Bucket count for the staged shingle-array table: matches the session's
    * shuffle-partition count so a probe side shuffled on the doc-id key is
    * co-partitioned with the bucketed scan without AQE renegotiation.
    */
  val arrayBuckets = 32

  /** Per-doc shingle arrays ([[Dedup.shingleArrays]]) — the verify-side
    * access structure every exact scorer (Jaccard, containment) joins
    * instead of re-expanding the (pair, shingle) stream per candidate
    * (r10: the profiled 27s-of-39s stage of `dedup_setsim` at sf1).
    *
    * Staged as a BUCKETED, in-bucket-sorted catalog table keyed by `doc_id`
    * (r12 verdict item 1): the r12 sf10dc rehearsal died on spill disk with
    * ~30 GB of candidate pairs each dragging a ~1.2 KB shingle array through
    * the verify exchanges. With the arrays bucket-resolved, neither verify
    * join ever shuffles the array side (the bucketed scan satisfies the
    * join's distribution in place), candidate pairs cross the wire as bare
    * id pairs into the d1 join, and exactly ONE exchange — the information
    * floor of an exact pairwise intersection — carries one array per pair,
    * with no sort ([[Dedup.intersectionFromArrays]] pins both joins to
    * shuffled-hash). Cross-JVM reuse via [[graft.operators.Staging]]: the
    * table is rebuilt only when the source dir's fingerprint changes.
    */
  def shingleArrays(s: SparkSession, dir: String): DataFrame = {
    val t = BackboneRegistry.staged(s, dir, "dedup:sharrtbl") { tag =>
      val name = s"graft_dedup_sharr_b${arrayBuckets}_$tag"
      // v3: array elements sorted at build (SortedBinaryIntersectCount
      // contract) — the tag bump restages any v2-era unsorted table
      Staged(Seq(name), s"dedup_sharr:b$arrayBuckets:v3") {
        Bucketing.writeBucketedSorted(
          Dedup.shingleArrays(shingles(s, dir)), name, "doc_id",
          Seq("doc_id"), arrayBuckets)
      }
    }
    Bucketing.read(s, t.head)
  }

  /** Jaccard-verified candidate pairs at [[jaccardThreshold]], WITH the
    * unrounded score — score consumers round it, pair consumers project it
    * away, incremental consumers filter it by the id cutoff (verification
    * distributes over candidate subsets).
    */
  def verifiedJac(s: SparkSession, dir: String): DataFrame =
    tier(s, dir, "ver") {
      Dedup.jaccardOnCandidatesFromArrays(
        shingleArrays(s, dir), lshCandidates(s, dir), jaccardThreshold)
    }

  /** Connected components (doc_id → min reachable doc_id) of the verified
    * pair graph — the most expensive tier (iterative pointer jumping),
    * shared by the groups / keep-best / apply consumers.
    */
  def components(s: SparkSession, dir: String): DataFrame =
    tier(s, dir, "comp") {
      Dedup.connectedComponents(verifiedJac(s, dir).select("d1", "d2"))
    }
}
