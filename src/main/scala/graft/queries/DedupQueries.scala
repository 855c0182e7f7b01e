package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Deduplication query set over `documents` / `embeddings`: exact,
  * MinHash+LSH candidates, exact-Jaccard verification, SimHash, and
  * embedding-cosine near-dup. Oracles are generated by [[SqlGen]] from the
  * same constants.
  */
object DedupQueries {

  def exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir)).orderBy("doc_id")

  def minhash(s: SparkSession, dir: String): DataFrame =
    DedupBackbone.lshCandidates(s, dir).orderBy("d1", "d2")

  /** MinHash-candidate + exact-Jaccard-verify pipeline — the verified tier
    * of the [[DedupBackbone]] staged chain (shingles → signatures → banded
    * candidates → Jaccard verify), shared across the family so the
    * explode/band-join/verify run once per suite JVM. On a multi-tenant
    * cluster where executor loss matters, the equivalent durable staging is
    * `Bucketing.writeBucketed` on (doc_id); the query shape is identical.
    */
  def jaccard(s: SparkSession, dir: String): DataFrame =
    DedupBackbone.verifiedJac(s, dir)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
      .orderBy("d1", "d2")

  /** EXACT set-similarity join ([[Dedup.prefixFilterCandidates]]): the same
    * pairs-at-Jaccard≥0.7 surface as `dedup_jaccard`, but with a
    * zero-false-negative guarantee — rarest-first prefix filtering generates
    * EVERY qualifying pair, where LSH banding is probabilistic and its
    * occupancy caps deliberately drop saturated buckets. The arm a
    * decontamination / compliance pass runs when "probably found every dup"
    * is not enough. Shingle frame staged once across candidates + verify.
    */
  def setsim(s: SparkSession, dir: String): DataFrame = {
    val cands = Dedup.prefixFilterCandidatesFromRanked(
      DedupBackbone.rankedShingles(s, dir))
    Dedup.jaccardOnCandidatesFromArrays(
        DedupBackbone.shingleArrays(s, dir), cands, threshold = 0.7)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
      .orderBy("d1", "d2")
  }

  /** Containment pairs ([[Dedup.containmentOnCandidatesFromShingles]]): the
    * asymmetric |A∩B|/min(|A|,|B|) ≥ 0.8 surface over the same LSH
    * candidates — quoted-inclusion detection that symmetric Jaccard
    * under-scores when doc sizes diverge. Shingle frame staged once.
    */
  def containment(s: SparkSession, dir: String): DataFrame = {
    val cands = DedupBackbone.lshCandidates(s, dir)
    Dedup.containmentOnCandidatesFromArrays(
        DedupBackbone.shingleArrays(s, dir), cands, threshold = 0.8)
      .select(col("d1"), col("d2"), round(col("cont"), 6).as("cont"))
      .orderBy("d1", "d2")
  }

  val lineMinChars = 20
  val lineDupFracDrop = 0.3

  /** Cross-document LINE-level dedup (the C4/RefinedWeb "repeated line"
    * rule): sentences ≥ 20 chars that appear in MORE THAN ONE document are
    * boilerplate evidence; each doc reports its distinct-line count, how
    * many of those are corpus-duplicated, the fraction, and the drop flag
    * at 0.3 — the between-doc complement of `dedup_spans`' within-doc
    * repetition.
    *
    * Scale shape: the sentence explode is scan-local; per-doc distinct and
    * the per-line document count are partial-aggregable shuffles on
    * (doc, hash) / (hash); the dup-set join is co-partitioned on the line
    * hash. No pairwise anything — cost is lines, not docs².
    */
  def lines(s: SparkSession, dir: String): DataFrame = {
    val ln = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\.")).as("l"))
      .select(col("doc_id"), trim(col("l")).as("l"))
      .filter(length(col("l")) >= lineMinChars)
      .select(col("doc_id"), md5(col("l")).as("h"))
      .distinct()
      .localCheckpoint(true)
    val dup = ln.groupBy("h").agg(count(lit(1)).as("docs"))
      .filter(col("docs") >= 2).select(col("h"))
    ln.join(dup.withColumn("isdup", lit(1L)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        coalesce(sum("isdup"), lit(0L)).as("dup_lines"))
      .select(col("doc_id"), col("n_lines"), col("dup_lines"),
        round(col("dup_lines").cast("double") / col("n_lines"), 6).as("dup_frac"),
        (col("dup_lines").cast("double") / col("n_lines") > lineDupFracDrop)
          .as("drop_doc"))
      .orderBy("doc_id")
  }

  val snmWindow = 3
  val snmKeyLen = 40
  val snmMaxDist = 8
  val snmBlockLen = 2

  /** Sorted-neighborhood dedup (SNM, the Hernández–Stolfo merge/purge
    * method): docs sort by a normalized key (first [[snmKeyLen]] chars of
    * the lowercased alphanumeric text) and each doc is compared ONLY to its
    * [[snmWindow]] sort-neighbors, verified by edit distance on the key —
    * the classic alternative to hash blocking ([[graft.operators.FuzzyJoin]])
    * when near-dups share prefixes but no exact blocking key.
    *
    * Scale shape: neighborhoods are scoped inside [[snmBlockLen]]-char
    * prefix blocks (how SNM shards in practice — a single global sort order
    * would serialize into one window partition), so the plan is one shuffle
    * on the block, a per-block sort, and [[snmWindow]] lag comparisons per
    * row: candidate count is exactly w·n, never n². The cross-block misses
    * at shard boundaries are the documented SNM trade (multi-pass with a
    * second key is the standard remedy).
    */
  def snm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          1, snmKeyLen).as("key"))
      .withColumn("blk", substring(col("key"), 1, snmBlockLen))
    val w = Window.partitionBy("blk").orderBy("key", "doc_id")
    val pairs = (1 to snmWindow).map { k =>
      keyed
        .withColumn("pid", lag("doc_id", k).over(w))
        .withColumn("pkey", lag("key", k).over(w))
        .filter(col("pid").isNotNull)
        .select(col("pid").as("doc_a"), col("doc_id").as("doc_b"),
          levenshtein(col("key"), col("pkey")).cast("long").as("dist"))
    }.reduce(_ unionByName _)
    pairs.filter(col("dist") <= snmMaxDist).orderBy("doc_a", "doc_b")
  }

  /** Canonical-member selection: each near-dup GROUP keeps its
    * HIGHEST-QUALITY member (quality-desc, id-asc tie-break) — what a real
    * curation pass does where `dedup_apply`'s min-id rule is the
    * reproducibility baseline. Composition: LSH candidates → Jaccard verify
    * → connected components → per-group argmax over the shared quality
    * score. The argmax is one row_number window over groups (bounded by
    * group sizes), quality is computed in the scan stage.
    */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val scored = DedupBackbone.components(s, dir)
      .join(docs.select(col("doc_id"),
        round(graft.functions.TextFunctions.qualityScore(col("text")), 6).as("q")),
        "doc_id")
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("group_id").orderBy(desc("q"), asc("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("group_id"), col("doc_id").as("keep_id"), col("q").as("quality"))
      .orderBy("group_id")
  }

  /** Near-dup GROUPS: Jaccard-verified pairs clustered into connected
    * components (doc_id -> min reachable doc_id). The oracle reproduces the
    * fixpoint with a recursive reachability CTE — both sides are schedule-
    * independent (component min), so they hash-match.
    */
  def groups(s: SparkSession, dir: String): DataFrame =
    DedupBackbone.components(s, dir).orderBy("doc_id")

  /** Near-dup cluster-size histogram: how many verified components exist
    * at each size, with the doc total per size — the dedup-audit readout
    * that decides whether a corpus needs re-crawling (a fat tail of large
    * clusters) or is healthy (mostly pairs). Two partial-aggregable
    * rollups over the shared [[DedupBackbone.components]] tier.
    */
  def clusterSizes(s: SparkSession, dir: String): DataFrame =
    DedupBackbone.components(s, dir)
      .groupBy("group_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("clusters"))
      .select(col("size"), col("clusters"),
        (col("size") * col("clusters")).as("docs"))
      .orderBy("size")

  /** Signature-only Jaccard ESTIMATES for the LSH candidates
    * ([[Dedup.estimatedJaccard]]): the cheap verify tier that never touches
    * the shingle frame. The signature frame feeds both banding and the
    * estimate join, so it is staged once (one row per doc).
    */
  def minhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val sig = DedupBackbone.signatures(s, dir)
    val cands = DedupBackbone.lshCandidates(s, dir)
    Dedup.estimatedJaccard(sig, cands).orderBy("d1", "d2")
  }

  /** Old/new boundary for the declared incremental-dedup query: docs below
    * the cutoff stand in for the existing corpus, at-or-above for today's
    * ingest batch.
    */
  val incrCutoff = 250L

  /** Incremental-ingest dedup: which NEW docs (id >= cutoff) near-duplicate
    * the EXISTING corpus (id < cutoff) — the shape a daily pipeline runs,
    * where re-deduping 100 TB from scratch per batch is not an option. Same
    * candidate→verify machinery as `dedup_jaccard`, with candidates
    * restricted to cross (old, new) pairs. At real scale the old corpus'
    * signatures and band buckets live in a bucketed staging table
    * ([[graft.operators.Bucketing]]), so per-batch cost is ∝ batch size +
    * touched buckets, never corpus size.
    */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    // deliberately NOT the shared verified tier: the incremental contract
    // is per-batch cost — the old/new filters must push below the band
    // self-join (band old×new only), which a materialized corpus-wide
    // candidate tier cannot offer. Only the shingle ROOT is shared.
    val sh = DedupBackbone.shingles(s, dir)
    val cands = Dedup.minhashCandidatesFromShingles(sh)
      .filter(col("d1") < incrCutoff && col("d2") >= incrCutoff)
    Dedup.jaccardOnCandidatesFromShingles(sh, cands, threshold = 0.7)
      .select(col("d2").as("doc_id"), col("d1").as("dup_of"),
        round(col("jac"), 6).as("jac"))
      .orderBy("doc_id", "dup_of")
  }

  /** The staged incremental-dedup corpus index ([[Dedup.stageMinhashIndex]]
    * over docs below [[incrCutoff]]), built once per (session, dir)
    * ([[BackboneRegistry.staged]]).
    */
  private def incrTables(s: SparkSession, dir: String): (String, String) = {
    val ts = BackboneRegistry.staged(s, dir, "incr_minhash") { tag =>
      val (sigT, bandT) = (s"graft_incr_sig_$tag", s"graft_incr_bands_$tag")
      Staged(Seq(sigT, bandT), s"incr_minhash:cut$incrCutoff") {
        Dedup.stageMinhashIndex(
          Tables.spread(Tables.documents(s, dir)).filter(col("doc_id") < incrCutoff), sigT, bandT)
      }
    }
    (ts(0), ts(1))
  }

  /** Incremental dedup against the STAGED corpus index: the production
    * shape, where only the new batch is shingled/signed per ingest and the
    * old corpus contributes precomputed signatures and band buckets
    * ([[Dedup.incrementalEstimatesStaged]]). Verification is the
    * signature-only estimated tier — per-batch cost never touches old text.
    */
  def incrementalStaged(s: SparkSession, dir: String): DataFrame = {
    val (sigT, bandT) = incrTables(s, dir)
    val newDocs = Tables.spread(Tables.documents(s, dir)).filter(col("doc_id") >= incrCutoff)
    Dedup.incrementalEstimatesStaged(s, sigT, bandT, newDocs, threshold = 0.7)
      .select(col("d2").as("doc_id"), col("d1").as("dup_of"), col("est_jac"))
      .orderBy("doc_id", "dup_of")
  }

  /** Holdout size for the declared decontamination query: the first docs
    * stand in for an eval benchmark.
    */
  val holdoutMax = 5L

  /** Corpus docs leaking holdout n-grams ([[Dedup.contamination]]). */
  def decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    Dedup.contamination(
      docs.filter(col("doc_id") >= holdoutMax),
      docs.filter(col("doc_id") < holdoutMax))
      .orderBy("doc_id")
  }

  /** The deduplicated corpus: per-lang counts after dropping non-canonical
    * near-dup group members ([[Dedup.dropNearDuplicates]] over the verified
    * pairs — the apply step of the dedup chain).
    */
  def applyDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val verified = DedupBackbone.verifiedJac(s, dir).select("d1", "d2")
    Dedup.dropNearDuplicates(docs, verified)
      .groupBy("lang").agg(count(lit(1)).as("kept"))
      .orderBy("lang")
  }

  def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.spread(Tables.documents(s, dir))).orderBy("doc_id")

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Dedup.simhash(Tables.spread(Tables.documents(s, dir))), maxHamming = 3)
      .orderBy("d1", "d2")

  /** Edit-distance verify tier: Levenshtein distance for each SimHash
    * candidate pair (band collision + Hamming ≤ 3). Levenshtein is O(len²)
    * per pair, so it is strictly a POST-LSH verifier — work ∝ candidates,
    * never corpus² — and the strongest character-level near-dup evidence
    * short of full diffing.
    */
  def editDistance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs), maxHamming = 3).select("d1", "d2")
    pairs
      // The verify stage costs O(len²) PER ROW while the pair frame is tiny
      // in BYTES, so AQE's size-based coalescing collapses it onto one task
      // and the Levenshtein pass runs single-threaded (measured 7.6 s → 2.2 s
      // at sf0.1 from this explicit spread). Pinning the partition count
      // (explicit N disables AQE re-coalescing for this exchange) keeps the
      // quadratic work parallel at every scale; the shuffled payload is two
      // longs per row.
      .repartition(s.sparkContext.defaultParallelism, col("d1"), col("d2"))
      .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
      .select(col("d1"), col("d2"),
        levenshtein(col("t1"), col("t2")).cast("long").as("edit_dist"))
      .orderBy("d1", "d2")
  }

  /** Span width for the declared duplicate-span query (8-word verbatim runs
    * — long enough that natural re-use is rare, short enough that templated
    * boilerplate still collides).
    */
  val spanWidth = 8

  /** Cross-doc duplicate span detection ([[Dedup.duplicateSpansFrom]] over
    * the staged span-hash tier): verbatim `spanWidth`-word runs appearing
    * in more than one document.
    */
  def spans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpansFrom(DedupBackbone.spanHashes(s, dir, spanWidth))
      .orderBy("span_h")

  /** Per-doc verbatim-span coverage ([[Dedup.spanCoverage]] over the SAME
    * staged span-hash tier as [[spans]]): the memorization-risk ranking —
    * the 200 documents whose `spanWidth`-word spans are most covered by
    * other documents, with their span counts and coverage fraction. The
    * doc-level companion of the span-level census: `spans` lists the shared
    * material, this scores each DOCUMENT by how much of it is shared —
    * what a curation gate actually thresholds on.
    */
  def memorize(s: SparkSession, dir: String): DataFrame =
    Dedup.spanCoverage(DedupBackbone.spanHashes(s, dir, spanWidth))
      .orderBy(desc("dup_frac"), asc("doc_id"))
      .limit(200)

  /** Cross-source contamination matrix ([[Dedup.sourceOverlap]]): top-50
    * source pairs by shared distinct 3-word spans.
    */
  def overlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(Tables.spread(Tables.documents(s, dir)))
      .orderBy(desc("shared"), asc("src_a"), asc("src_b"))
      .limit(50)

  def embedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.embeddings(s, dir), threshold = 0.3,
        nOpt = Some(SimilarityQueries.embCount(s, dir)))
      .orderBy("d1", "d2")

  /** Cosine floor for the declared semantic-dedup query — same regime as
    * [[embedNearDup]]'s (the synthetic embeddings' cosines are low).
    */
  val semanticThreshold = 0.3

  /** SemDeDup-style semantic near-dup pairs
    * ([[Similarity.semanticNearDupPairs]]): candidates scoped by IVF cluster
    * instead of an LSH code ball — catches paraphrase-level duplicates whose
    * codes differ in >1 bit. The declared query pins the 16-centroid oracle
    * regime ([[Similarity.centroidsFor]] returns 16 at every testdata scale;
    * the guard in [[SimilarityQueries]] fails loudly if a corpus outgrows it).
    */
  def semantic(s: SparkSession, dir: String): DataFrame = {
    val n = SimilarityQueries.embCount(s, dir)
    val k = Similarity.centroidsFor(n)
    require(k == Similarity.ivfCentroids,
      s"embeddings n=$n wants $k centroids but the oracle is rendered at " +
        s"${Similarity.ivfCentroids} — re-render the oracle CTE")
    Similarity.semanticNearDupPairs(Tables.embeddings(s, dir),
        threshold = semanticThreshold, centroidsNOpt = Some(k))
      .orderBy("cid", "v1", "v2")
  }

  /** Shared SimHash candidate CTE chain (sims → banded → bpruned → pairs),
    * used by both the pairs query and the edit-distance verify tier.
    */
  private val simhashPairsCtes: String =
    s"""${SqlGen.simhashPrefix()},
       |banded AS (
       |  ${(0 until Dedup.simhashBits / Dedup.simhashBandBits).map(j =>
           s"SELECT doc_id, simhash, $j AS band, (simhash >> ${j * Dedup.simhashBandBits}) & ${(1 << Dedup.simhashBandBits) - 1} AS bv FROM sims").mkString(" UNION ALL ")}),
       |bpruned AS (${SqlGen.prunedBucketsSql("banded", "bv", Dedup.defaultBucketCap)}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS s1, b.simhash AS s2
       |  FROM bpruned a JOIN bpruned b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared recursive-CTE prefix: shingle hashes → MinHash candidates →
    * Jaccard-verified pairs → undirected edges → `walk` reachability (the
    * oracle's rendering of the connected-components fixpoint).
    */
  private val groupsPrefix: String =
    s"""${SqlGen.minhashPrefix().replaceFirst("WITH ", "WITH RECURSIVE ")},
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS inter
       |  FROM cands c
       |  JOIN sh sa ON sa.doc_id = c.d1
       |  JOIN sh sb ON sb.doc_id = c.d2 AND sb.m = sa.m
       |  GROUP BY c.d1, c.d2),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
       |verified AS MATERIALIZED (
       |  SELECT i.d1, i.d2 FROM inter i
       |  JOIN sizes n1 ON n1.doc_id = i.d1 JOIN sizes n2 ON n2.doc_id = i.d2
       |  WHERE i.inter*1.0/(n1.nsh + n2.nsh - i.inter) >= 0.7),
       |edges AS (SELECT d1 AS a, d2 AS b FROM verified UNION SELECT d2, d1 FROM verified),
       |walk(id, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_overlap" ->
      s"""WITH sh AS (${SqlGen.shinglesSql(3)}),
         |ssh AS (SELECT DISTINCT d.source AS src, sh.m FROM sh
         |        JOIN documents d ON d.doc_id = sh.doc_id)
         |SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
         |FROM ssh a JOIN ssh b ON a.m = b.m AND a.src < b.src
         |GROUP BY a.src, b.src
         |ORDER BY shared DESC, src_a, src_b LIMIT 50""".stripMargin,
    "dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents
        | GROUP BY md5(text) ORDER BY doc_id""".stripMargin.replaceAll("\n", ""),
    "dedup_minhash" ->
      s"""${SqlGen.minhashPrefix()}
         |SELECT d1, d2 FROM cands ORDER BY d1, d2""".stripMargin,
    "dedup_spans" ->
      s"""WITH sh AS (${SqlGen.shinglesSql(spanWidth)})
         |SELECT m AS span_h, count(*) AS ndocs, CAST(min(doc_id) AS BIGINT) AS first_doc
         |FROM sh GROUP BY m HAVING count(*) >= 2 ORDER BY span_h""".stripMargin,
    // per-doc coverage off the same span frame; integer sums cast to
    // BIGINT (DuckDB widens to HUGEINT, which the type-parity sweep rejects)
    "dedup_memorize" ->
      s"""WITH sh AS (${SqlGen.shinglesSql(spanWidth)}),
         |d AS (SELECT doc_id, CAST(count(*) OVER (PARTITION BY m) AS BIGINT) AS df FROM sh)
         |SELECT doc_id, count(*) AS spans,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
         |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS dup_frac
         |FROM d GROUP BY doc_id
         |ORDER BY dup_frac DESC, doc_id LIMIT 200""".stripMargin,
    "dedup_minhash_est" ->
      s"""${SqlGen.minhashPrefix()}
         |SELECT c.d1, c.d2,
         |  round((${(0 until 16).map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END").mkString(" + ")})/16.0, 6) AS est_jac
         |FROM cands c JOIN hs a ON a.doc_id = c.d1 JOIN hs b ON b.doc_id = c.d2
         |ORDER BY d1, d2""".stripMargin,
    "dedup_containment" ->
      s"""${SqlGen.minhashPrefix()},
         |inter AS (
         |  SELECT c.d1, c.d2, count(*) AS inter
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.d1
         |  JOIN sh sb ON sb.doc_id = c.d2 AND sb.m = sa.m
         |  GROUP BY c.d1, c.d2),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)
         |SELECT i.d1, i.d2, round(i.inter*1.0/least(n1.nsh, n2.nsh), 6) AS cont
         |FROM inter i JOIN sizes n1 ON n1.doc_id = i.d1 JOIN sizes n2 ON n2.doc_id = i.d2
         |WHERE i.inter*1.0/least(n1.nsh, n2.nsh) >= 0.8
         |ORDER BY d1, d2""".stripMargin,
    "dedup_jaccard" ->
      s"""${SqlGen.minhashPrefix()},
         |inter AS (
         |  SELECT c.d1, c.d2, count(*) AS inter
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.d1
         |  JOIN sh sb ON sb.doc_id = c.d2 AND sb.m = sa.m
         |  GROUP BY c.d1, c.d2),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)
         |SELECT i.d1, i.d2, round(i.inter*1.0/(n1.nsh + n2.nsh - i.inter), 6) AS jac
         |FROM inter i JOIN sizes n1 ON n1.doc_id = i.d1 JOIN sizes n2 ON n2.doc_id = i.d2
         |WHERE i.inter*1.0/(n1.nsh + n2.nsh - i.inter) >= 0.7
         |ORDER BY d1, d2""".stripMargin,
    // Prefix-filter candidates rendered with the same exact integer prefix
    // arithmetic ((7n+9)//10) and (df, m) total order as the Scala side;
    // verify tier identical to dedup_jaccard's.
    "dedup_setsim" ->
      s"""WITH sh AS (${SqlGen.shinglesSql(3)}),
         |freq AS (SELECT m, count(*) AS df FROM sh GROUP BY m),
         |ranked AS (
         |  SELECT s.doc_id, s.m,
         |         ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY f.df, s.m) AS pos,
         |         COUNT(*) OVER (PARTITION BY s.doc_id) AS nsh
         |  FROM sh s JOIN freq f ON f.m = s.m),
         |pref AS (SELECT * FROM ranked WHERE pos <= nsh - ((nsh*7 + 9) // 10) + 1),
         |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |          FROM pref a JOIN pref b ON a.m = b.m AND a.doc_id < b.doc_id
         |          WHERE a.nsh*7 <= b.nsh*10 AND b.nsh*7 <= a.nsh*10),
         |inter AS (
         |  SELECT c.d1, c.d2, count(*) AS inter
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.d1
         |  JOIN sh sb ON sb.doc_id = c.d2 AND sb.m = sa.m
         |  GROUP BY c.d1, c.d2),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)
         |SELECT i.d1, i.d2, round(i.inter*1.0/(n1.nsh + n2.nsh - i.inter), 6) AS jac
         |FROM inter i JOIN sizes n1 ON n1.doc_id = i.d1 JOIN sizes n2 ON n2.doc_id = i.d2
         |WHERE i.inter*1.0/(n1.nsh + n2.nsh - i.inter) >= 0.7
         |ORDER BY d1, d2""".stripMargin,
    "dedup_incr" ->
      s"""${SqlGen.minhashPrefix()},
         |xinter AS (
         |  SELECT c.d1, c.d2, count(*) AS inter
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.d1
         |  JOIN sh sb ON sb.doc_id = c.d2 AND sb.m = sa.m
         |  WHERE c.d1 < $incrCutoff AND c.d2 >= $incrCutoff
         |  GROUP BY c.d1, c.d2),
         |xsizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)
         |SELECT i.d2 AS doc_id, i.d1 AS dup_of,
         |  round(i.inter*1.0/(n1.nsh + n2.nsh - i.inter), 6) AS jac
         |FROM xinter i JOIN xsizes n1 ON n1.doc_id = i.d1 JOIN xsizes n2 ON n2.doc_id = i.d2
         |WHERE i.inter*1.0/(n1.nsh + n2.nsh - i.inter) >= 0.7
         |ORDER BY doc_id, dup_of""".stripMargin,
    // The staged path computes the SAME candidate set as the one-shot
    // pipeline (combined-occupancy cap parity — see
    // Dedup.incrementalEstimatesStaged), so the oracle is the one-shot
    // rendering with the estimate verify and the cross filter.
    "dedup_incr_staged" -> {
      val agree = (0 until 16).map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""${SqlGen.minhashPrefix()}
         |SELECT c.d2 AS doc_id, c.d1 AS dup_of, round(($agree)/16.0, 6) AS est_jac
         |FROM cands c JOIN hs a ON a.doc_id = c.d1 JOIN hs b ON b.doc_id = c.d2
         |WHERE c.d1 < $incrCutoff AND c.d2 >= $incrCutoff
         |  AND round(($agree)/16.0, 6) >= 0.7
         |ORDER BY doc_id, dup_of""".stripMargin
    },
    "dedup_decontam" ->
      s"""WITH sh AS (${SqlGen.shinglesSql()}),
         |hold AS (SELECT DISTINCT m FROM sh WHERE doc_id < $holdoutMax)
         |SELECT s.doc_id, count(*) AS hits FROM sh s JOIN hold h ON h.m = s.m
         |WHERE s.doc_id >= $holdoutMax GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "dedup_groups" ->
      s"""$groupsPrefix
         |SELECT id AS doc_id, min(lbl) AS group_id FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,
    // lives here for the shared groups fixpoint; the query is CurationQueries'.
    // the side hash mirrors Sampling.splitColumn's salted-md5 idiom on the
    // GROUP id; grp/sided materialize so the walk fixpoint runs once
    "mix_group_split" -> {
      def sideSql(c: String) =
        s"(CASE WHEN ('0x'||substr(md5(CAST($c AS VARCHAR)||'#gsplit'),1,15))::BIGINT % 100 < ${CurationQueries.groupSplitTestPct} THEN 'test' ELSE 'train' END)"
      s"""$groupsPrefix,
         |grp AS MATERIALIZED (SELECT id AS doc_id, min(lbl) AS group_id FROM walk GROUP BY id),
         |gid AS (SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS gid
         |  FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id),
         |sided AS MATERIALIZED (SELECT doc_id, gid, ${sideSql("gid")} AS split FROM gid),
         |nv AS (SELECT count(*) AS naive_cross FROM verified v
         |  WHERE ${sideSql("v.d1")} <> ${sideSql("v.d2")}),
         |gc AS (SELECT count(*) AS group_cross FROM verified v
         |  JOIN sided a ON a.doc_id = v.d1 JOIN sided b ON b.doc_id = v.d2
         |  WHERE a.split <> b.split)
         |SELECT split, count(*) AS docs, count(DISTINCT gid) AS clusters,
         |  (SELECT naive_cross FROM nv) AS naive_cross_pairs,
         |  (SELECT group_cross FROM gc) AS group_cross_pairs
         |FROM sided GROUP BY split ORDER BY split""".stripMargin
    },
    "dedup_cluster_sizes" ->
      s"""$groupsPrefix,
         |grp AS (SELECT id AS doc_id, min(lbl) AS group_id FROM walk GROUP BY id),
         |sz AS (SELECT group_id, count(*) AS size FROM grp GROUP BY group_id)
         |SELECT size, count(*) AS clusters,
         |  CAST(size * count(*) AS BIGINT) AS docs
         |FROM sz GROUP BY size ORDER BY size""".stripMargin,
    // lives here for the shared groups fixpoint; the query is CurationQueries'.
    // cluster size via a COUNT WINDOW, not a sizes self-join: DuckDB inlines
    // CTEs, so referencing grp twice would run the recursive walk fixpoint
    // TWICE (observed: temp-disk exhaustion at sf1 with the join form)
    "mix_cluster_weight" ->
      s"""$groupsPrefix,
         |grp AS (SELECT id AS doc_id, min(lbl) AS group_id FROM walk GROUP BY id),
         |wt AS (SELECT doc_id, CAST(round(1.0 / count(*) OVER (PARTITION BY group_id), 12)
         |    AS DECIMAL(18,12)) AS wt
         |  FROM grp)
         |SELECT source, count(*) AS docs,
         |  CAST(sum(CASE WHEN wt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS in_clusters,
         |  round(CAST(sum(coalesce(wt, CAST(1 AS DECIMAL(18,12)))) AS DOUBLE), 6)
         |    AS effective_docs
         |FROM documents d LEFT JOIN wt USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "dedup_lines" ->
      s"""WITH ln AS (SELECT DISTINCT doc_id, md5(trim(l)) AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, '.')) AS l FROM documents) t
         |  WHERE length(trim(l)) >= $lineMinChars),
         |dup AS (SELECT h FROM ln GROUP BY h HAVING count(*) >= 2)
         |SELECT ln.doc_id, count(*) AS n_lines,
         |  CAST(count(dup.h) AS BIGINT) AS dup_lines,
         |  round(count(dup.h)*1.0/count(*), 6) AS dup_frac,
         |  (count(dup.h)*1.0/count(*)) > CAST($lineDupFracDrop AS DOUBLE) AS drop_doc
         |FROM ln LEFT JOIN dup USING (h)
         |GROUP BY ln.doc_id ORDER BY ln.doc_id""".stripMargin,
    // groups fixpoint + the shared quality rendering; per-group argmax via
    // the same (quality desc, id asc) row_number the Spark side uses
    "dedup_keep_best" ->
      s"""$groupsPrefix,
         |grp AS (SELECT id AS doc_id, min(lbl) AS group_id FROM walk GROUP BY id),
         |q AS (SELECT doc_id, round(${SqlGen.qualitySql}, 6) AS q FROM documents),
         |r AS (SELECT g.group_id, g.doc_id, q.q,
         |    row_number() OVER (PARTITION BY g.group_id ORDER BY q.q DESC, g.doc_id) AS rn
         |  FROM grp g JOIN q USING (doc_id))
         |SELECT group_id, doc_id AS keep_id, q AS quality
         |FROM r WHERE rn = 1 ORDER BY group_id""".stripMargin,
    "dedup_apply" ->
      s"""$groupsPrefix,
         |losers AS (SELECT id FROM (SELECT id, min(lbl) AS g FROM walk GROUP BY id) t WHERE id <> g)
         |SELECT lang, count(*) AS kept FROM documents d
         | WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)
         | GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_simhash" ->
      s"""${SqlGen.simhashPrefix()}
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""$simhashPairsCtes
         |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming FROM pairs
         |WHERE bit_count(xor(s1, s2)) <= 3 ORDER BY d1, d2""".stripMargin,
    "dedup_editdist" ->
      s"""$simhashPairsCtes,
         |keep AS (SELECT d1, d2 FROM pairs WHERE bit_count(xor(s1, s2)) <= 3)
         |SELECT k.d1, k.d2, CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
         |FROM keep k JOIN documents a ON a.doc_id = k.d1 JOIN documents b ON b.doc_id = k.d2
         |ORDER BY d1, d2""".stripMargin,
    "dedup_snm" ->
      s"""WITH keyed AS (SELECT doc_id,
         |    substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 1, $snmKeyLen) AS key
         |  FROM documents),
         |blk AS (SELECT doc_id, key, substr(key, 1, $snmBlockLen) AS blk FROM keyed),
         |lagged AS (SELECT doc_id, key, blk,
         |${(1 to snmWindow).map(k =>
             s"    lag(doc_id, $k) OVER w AS pid$k, lag(key, $k) OVER w AS pkey$k")
             .mkString(",\n")}
         |  FROM blk WINDOW w AS (PARTITION BY blk ORDER BY key, doc_id)),
         |pairs AS (${(1 to snmWindow).map(k =>
             s"""SELECT pid$k AS doc_a, doc_id AS doc_b,
                |    CAST(levenshtein(key, pkey$k) AS BIGINT) AS dist
                |  FROM lagged WHERE pid$k IS NOT NULL""".stripMargin)
             .mkString("\nUNION ALL\n")})
         |SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= $snmMaxDist
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embed" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding")} AS lsh_code FROM embeddings)
         |SELECT a.vec_id AS d1, b.vec_id AS d2,
         |       round(${SqlGen.cosSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM coded a JOIN coded b ON a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.lsh_code, b.lsh_code)) <= 1
         |  AND round(${SqlGen.cosSql("a.embedding", "b.embedding")}, 6) >= 0.3
         |ORDER BY d1, d2""".stripMargin,
    "dedup_semantic" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |              WHERE vec_id < ${Similarity.ivfCentroids}),
         |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
         |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t0),
         |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
         |tg AS (SELECT a.cid, e.vec_id, e.embedding FROM embeddings e JOIN a USING (vec_id))
         |SELECT x.cid AS cid, x.vec_id AS v1, y.vec_id AS v2,
         |       round(${SqlGen.cosSql("x.embedding", "y.embedding")}, 6) AS cos_sim
         |FROM tg x JOIN tg y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |WHERE round(${SqlGen.cosSql("x.embedding", "y.embedding")}, 6) >= $semanticThreshold
         |ORDER BY x.cid, v1, v2""".stripMargin)
}
