package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Hybrid retrieval: the lexical arm (BM25 against doc 0's terms,
  * [[TextQueries.bm25Scores]]) and the dense arm (embedding cosine against
  * vec 0, the q19 shape) fused by reciprocal-rank fusion —
  * `score(d) = Σ_arms 1/(k + rank_arm(d))` with the standard k=60
  * (Cormack/Clarke/Buettcher's RRF). Rank-based fusion needs no score
  * calibration between arms, which is why it is the default in production
  * hybrid search.
  *
  * Scale shape: each arm ends in a TakeOrdered top-[[armDepth]] — the corpus
  * is never globally sorted. The rank windows run AFTER the limits, over
  * `armDepth` rows (single-partition but bounded by the constant, the
  * text_vocab pattern), and the fusion join matches two `armDepth`-row
  * frames — at 100 TB the arms dominate and are each one scan + thin
  * aggregates; fusion cost is O(armDepth).
  */
object RetrievalQueries {

  /** RRF smoothing constant (rank offset). */
  val rrfK = 60

  /** Candidates taken from each arm before fusion. */
  val armDepth = 20

  /** Literal query terms for the staged-index probe — the serving shape:
    * terms arrive as literals, so the postings scan bucket-prunes. Chosen
    * from the synthetic corpus's stable vocabulary (present at every SF).
    * Declared ABOVE the oracle map, which renders them into SQL at init.
    */
  val lexTerms = Seq("join", "scan", "merge")

  /** Postings buckets: a 3-term probe touches ≤ 3 of 8 — the pruning the
    * plan audit asserts. At 100 TB this would be thousands; the constant
    * sizes per-bucket files, not the algorithm.
    */
  val lexBuckets = 8

  /** The deleted-doc residue for the lexical deletion lifecycle. Declared
    * ABOVE the oracle map like [[lexTerms]] — the map renders it into SQL
    * at object init, and a forward reference would bake in 0.
    */
  val lexDeleteResidue = 3L

  /** Dense arm: corpus cosine vs vec 0, top-[[armDepth]] (broadcast query +
    * codegen'd dot product + TakeOrdered — the q19 serving shape).
    */
  private def cosineTop(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("doc_id"))
      .limit(armDepth)
  }

  /** Top-10 fused ranking. Docs in both arms get both reciprocal terms;
    * docs in one arm get that arm's term alone (full outer join + coalesce).
    * Both ranks ride along so a consumer can see which arm surfaced a hit.
    */
  def hybrid(s: SparkSession, dir: String): DataFrame = {
    val bmTop = TextQueries.bm25Scores(s, dir)
      .orderBy(desc("bm25"), asc("doc_id")).limit(armDepth)
      .withColumn("rb",
        row_number().over(graft.operators.BoundedWindow.ordered("pool",
          desc("bm25"), asc("doc_id"))).cast("int"))
    val cosTop = cosineTop(s, dir)
      .withColumn("rc",
        row_number().over(graft.operators.BoundedWindow.ordered("pool",
          desc("cos_sim"), asc("doc_id"))).cast("int"))
    bmTop.select("doc_id", "rb")
      .join(cosTop.select("doc_id", "rc"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("rb")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(rrfK) + col("rc")), lit(0.0)), 6).as("rrf"),
        col("rb"), col("rc"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(10)
  }

  /** MMR pool and pick sizes; the trade-off weight λ = 0.7 is fixed in the
    * integer score below.
    */
  val mmrPool = 10
  val mmrTake = 5

  /** `search_mmr` — maximal-marginal-relevance rerank of the dense arm: from
    * the top-[[mmrPool]] cosine candidates, greedily take [[mmrTake]] by
    * `λ·rel − (1−λ)·max_{s∈S} sim(c, s)` — the diversity rerank that stops a
    * result page (or a RAG context window) being five copies of the same
    * near-duplicate. The corpus-sized work is the TakeOrdered candidate arm
    * (q19 serving shape) and ONE broadcast pool×pool similarity pass
    * (BroadcastNestedLoopJoin over [[mmrPool]]² rounded cosines); the greedy
    * itself runs over those ≤ pool·(pool−1) SCORE rows — bounded driver
    * data, no embedding math outside the engine (all cosines come rounded
    * from the same codegen'd expression the oracle mirrors; the driver then
    * compares only scale-6/scale-7 INTEGERS — see the greedy below — so the
    * trajectory is engine-exact past the one measured rounding step).
    */
  def mmr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val cand = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
          .as("rel"))
      .orderBy(desc("rel"), asc("vec_id"))
      .limit(mmrPool)
      .localCheckpoint(true)
    // The greedy compares INTEGERS: a round-6 cosine is a multiple of 1e-6,
    // so rel/sim recover their scale-6 integer forms R/S exactly, and the
    // MMR score is carried at scale 7 as `7R − 3S` (λ = 0.7) — exact, so no
    // engine can disagree on a pick. The previous `round(0.7·rel −
    // 0.3·maxsim, 6)` was an EXACT scale-6 half-tie whenever 7R−3S ≡ ±5
    // (mod 10) (~20% of scores), which no cross-engine double rounding
    // survives reliably — the C153 failure class. Display is one IEEE
    // division of exact operands (score7/1e7), deterministic everywhere.
    val rels = cand.select(col("vec_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e6)).toSeq.sortBy(_._1)
    val sims = cand.as("a")
      .crossJoin(broadcast(cand.select(col("vec_id").as("j"),
        col("embedding").as("ej"))))
      .filter(col("vec_id") =!= col("j"))
      .select(col("vec_id").as("i"), col("j"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("ej")), 6)
          .as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> math.round(r.getDouble(2) * 1e6)).toMap
    val out = Seq.newBuilder[(Int, Long, Double, Double)]
    var selected = Vector.empty[Long]
    for (k <- 1 to math.min(mmrTake, rels.length)) {
      val scored = rels.filterNot(c => selected.contains(c._1)).map { case (id, r6) =>
        val score7 = if (selected.isEmpty) 10L * r6
          else 7L * r6 - 3L * selected.map(sId => sims((id, sId))).max
        (id, r6, score7)
      }
      val (id, r6, score7) = scored.maxBy { case (id, _, sc) => (sc, -id) }
      selected :+= id
      out += ((k, id, r6.toDouble / 1e6, score7.toDouble / 1e7))
    }
    out.result().toDF("rank", "vec_id", "rel", "score").orderBy("rank")
  }

  /** The MMR oracle unrolls the greedy like the PageRank/classifier oracles
    * unroll their loops: the pool and its pairwise round-6 similarity matrix
    * are MATERIALIZED once, then each pick is one argmax CTE over the
    * not-yet-selected candidates — every rank is hash-compared, so a
    * different pick at any step fails loudly.
    */
  private def mmrOracle: String = {
    // Integer greedy (λ = 0.7 ⇒ score7 = 7R − 3S over scale-6 integer
    // cosines): every compared quantity is a BIGINT, so the picks cannot
    // diverge across engines; only the raw-cosine round-6 step carries a
    // (spec-measured) tie margin. Display: score7/1e7 — one IEEE division
    // of exact operands.
    val steps = (2 to mmrTake).map { k =>
      val sel = (1 until k).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
      s"""s$k AS (SELECT c.vec_id, c.rel,
         |    7*c.r6i - 3*(SELECT max(s.s6i) FROM sim s
         |      WHERE s.i = c.vec_id AND s.j IN ($sel)) AS score7
         |  FROM cand c WHERE c.vec_id NOT IN ($sel)
         |  ORDER BY score7 DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to mmrTake).map(k =>
      s"SELECT $k AS rank, vec_id, rel, CAST(score7 AS DOUBLE)/10000000.0 AS score FROM s$k")
      .mkString(" UNION ALL ")
    s"""WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT vec_id, embedding,
       |    round(${SqlGen.cosSql("embedding", "qe")}, 6) AS rel,
       |    CAST(round(round(${SqlGen.cosSql("embedding", "qe")}, 6)*1000000) AS BIGINT) AS r6i
       |  FROM embeddings, qv WHERE vec_id <> 0
       |  ORDER BY rel DESC, vec_id LIMIT $mmrPool),
       |sim AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j,
       |    CAST(round(round(${SqlGen.cosSql("a.embedding", "b.embedding")}, 6)*1000000) AS BIGINT) AS s6i
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, rel, 10*r6i AS score7 FROM cand
       |  ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT * FROM ($rows) ORDER BY rank""".stripMargin
  }

  /** The full-corpus fusion's oracle text — `search_hybrid` renders it,
    * and the agreement row re-derives the reference ranking from it.
    */
  private def hybridSql: String =
    s"""${TextQueries.bm25WithChain},
      |bm AS (${TextQueries.bm25SelectSql}),
      |bmtop AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rb
      |  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT $armDepth) tb),
      |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |cos AS (SELECT e.vec_id AS doc_id, round(${SqlGen.cosSql("e.embedding", "qv.qe")}, 6) AS cos_sim
      |  FROM embeddings e, qv),
      |costop AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS rc
      |  FROM (SELECT * FROM cos ORDER BY cos_sim DESC, doc_id LIMIT $armDepth) tc)
      |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
      |  round(COALESCE(CAST(1.0 AS DOUBLE)/($rrfK + b.rb), 0.0) +
      |        COALESCE(CAST(1.0 AS DOUBLE)/($rrfK + c.rc), 0.0), 6) AS rrf,
      |  b.rb AS rb, c.rc AS rc
      |FROM bmtop b FULL OUTER JOIN costop c ON b.doc_id = c.doc_id
      |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** The staged fusion's oracle text at the dir's resolved dense-arm list
    * count — BOTH arms staged: the lexical chain and the pruned IVF probe
    * are the same texts their single-arm rows render (one text per arm —
    * fusing cannot drift either side), pooled at armDepth, RRF like
    * search_hybrid.
    */
  private def hybridStagedSql(dir: String): String =
    s"""WITH bmtop AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rb
      |  FROM (${lexStagedSql(armDepth)}) tb),
      |costop AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS rc
      |  FROM (SELECT vec_id AS doc_id, cos_sim FROM (${SimilarityQueries.ivfProbePoolSql(dir, armDepth)}) t0) tc)
      |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
      |  round(COALESCE(CAST(1.0 AS DOUBLE)/($rrfK + b.rb), 0.0) +
      |        COALESCE(CAST(1.0 AS DOUBLE)/($rrfK + c.rc), 0.0), 6) AS rrf,
      |  b.rb AS rb, c.rc AS rc
      |FROM bmtop b FULL OUTER JOIN costop c ON b.doc_id = c.doc_id
      |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** The agreement oracle: both fusions' top-10 re-ranked, full-outer
    * joined, and reduced to the overlap + displacement row — composed from
    * the SAME two texts the fusion rows render, so the measurement cannot
    * drift from what it measures.
    */
  private def hybridAgreeSql(dir: String): String =
    s"""WITH fx AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rf
      |  FROM ($hybridSql) t),
      |sx AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rs
      |  FROM (${hybridStagedSql(dir)}) t)
      |SELECT 10 AS k,
      |  CAST(sum(CASE WHEN rf IS NOT NULL AND rs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap,
      |  round(sum(CASE WHEN rf IS NOT NULL AND rs IS NOT NULL THEN 1 ELSE 0 END)/10.0, 6) AS overlap_rate,
      |  CAST(coalesce(sum(CASE WHEN rf IS NOT NULL AND rs IS NOT NULL THEN abs(rf - rs) END), 0) AS BIGINT) AS disp_sum,
      |  CAST(coalesce(max(CASE WHEN rf IS NOT NULL AND rs IS NOT NULL THEN abs(rf - rs) END), 0) AS INTEGER) AS max_disp
      |FROM fx FULL OUTER JOIN sx USING (doc_id)""".stripMargin

  def oracle(dir: String): Map[String, String] = Map(
    "search_mmr" -> mmrOracle,
    "search_hybrid" -> hybridSql,
    "search_lexical_staged" -> lexStagedSql(10),
    // the deletion lifecycle ends in the post-merge exact-stats probe —
    // BM25 over the corpus minus the deleted docs
    "search_lexical_delete" ->
      lexStagedSql(10, s"doc_id % 10 <> $lexDeleteResidue"),
    "search_hybrid_staged" -> hybridStagedSql(dir),
    "search_hybrid_agree" -> hybridAgreeSql(dir))

  /** DuckDB rendering of the staged lexical probe at an arm limit — the
    * full-corpus BM25 restricted to [[lexTerms]] (the staging invariant:
    * serving from the index must not change the answer).
    */
  private def lexStagedSql(limit: Int, docWhere: String = ""): String = {
    val terms = lexTerms.map(t => s"'$t'").mkString(", ")
    val (k1, b) = (TextQueries.bm25K1, TextQueries.bm25B)
    val src = if (docWhere.isEmpty) "documents" else s"(SELECT * FROM documents WHERE $docWhere)"
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM $src),
       |tk AS (SELECT doc_id, w FROM tok WHERE w <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
       |q AS (SELECT unnest([$terms]) AS w),
       |tf AS (SELECT doc_id, t.w, count(*) AS tf FROM tk t JOIN q ON q.w = t.w GROUP BY doc_id, t.w),
       |dfreq AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tk JOIN q USING (w)) dq GROUP BY w)
       |SELECT tf.doc_id AS doc_id,
       |  round(list_sum(list_sort(list(
       |    ln(1.0 + (st.n - dfreq.df + 0.5)/(dfreq.df + 0.5)) * (tf.tf * ${k1 + 1}) /
       |    (tf.tf + $k1 * (${1 - b} + $b * dl.dl / st.avgdl))))), 6) AS bm25
       |FROM tf JOIN dfreq ON dfreq.w = tf.w JOIN dl ON dl.doc_id = tf.doc_id, st
       |GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id LIMIT $limit""".stripMargin
  }

  /** The staged lexical index, built once per (session, dir) and
    * re-validated against the catalog — same cache discipline as the staged
    * ANN tables.
    */
  private def lexTable(s: SparkSession, dir: String): String =
    BackboneRegistry.namesOrBuild(s, s"lexidx:$dir")(
      _.forall(s.catalog.tableExists)) {
      val tag = dir.split('/').last.replace('.', '_') +
        "_" + java.lang.Integer.toUnsignedString(dir.hashCode, 36)
      val t = s"graft_lexidx_$tag"
      val fp = graft.operators.Staging.fingerprint(s, dir, s"lexidx:b$lexBuckets")
      graft.operators.Staging.ensure(s, fp, Seq(t, s"${t}_stats")) {
        graft.operators.TextIndex.stageIndex(Tables.documents(s, dir), t, lexBuckets)
      }
      Seq(t)
    }.head

  /** BM25 top-10 for [[lexTerms]] served from the staged inverted index
    * (C29's serving move applied to text): the postings scan reads only the
    * buckets the literal terms hash to, df comes from those same pruned
    * postings, the two corpus scalars ride a broadcast — lookup I/O ∝ the
    * queried terms' postings, never the corpus.
    */
  def lexicalStaged(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.probeIndex(s, lexTable(s, dir), lexTerms, k = 10,
      k1 = TextQueries.bm25K1, b = TextQueries.bm25B)

  def lexDeleteTable(dir: String): String =
    "graft_lexdel_" + dir.split('/').last.replace('.', '_') +
      "_" + java.lang.Integer.toUnsignedString(dir.hashCode, 36)

  /** `search_lexical_delete` — DOCUMENT DELETION for the staged lexical
    * index, the text twin of `sim_index_delete` shaped by a structural
    * difference: a doc's postings scatter across every one of its terms'
    * buckets, so per-request physical removal would rewrite most of the
    * index — the published answer is Lucene's, reproduced exactly here:
    * deletes land as doc-keyed tombstones (cost ∝ batch), live probes drop
    * deleted docs from RESULTS immediately but keep serving the STALE
    * df/n/avgdl (docFreq in a live Lucene index includes deleted docs
    * until segments merge), and the MERGE rewrites the postings minus the
    * deleted rows and rebuilds the exact stats ledger — after which scores
    * legitimately change to the reduced corpus's. Flow: stage → tombstone
    * the residue-[[lexDeleteResidue]] docs → stale-stats probe (required
    * in-flow to exclude every deleted doc) → merge → exact-stats probe =
    * the declared result, oracled as BM25 over the corpus minus the
    * deleted docs.
    */
  def lexicalDelete(s: SparkSession, dir: String): DataFrame = {
    val t = lexDeleteTable(dir)
    val docs = Tables.documents(s, dir)
    graft.operators.TextIndex.stageIndex(docs, t, lexBuckets)
    graft.operators.Bucketing.dropStaged(s, s"${t}_tomb")
    graft.operators.TextIndex.deleteFromIndex(
      docs.filter(col("doc_id") % 10 === lexDeleteResidue), t)
    val pre = graft.operators.TextIndex.probeIndexTombstoned(s, t, lexTerms,
      k = 10, k1 = TextQueries.bm25K1, b = TextQueries.bm25B).collect()
    require(pre.forall(_.getLong(0) % 10 != lexDeleteResidue),
      "a tombstoned doc surfaced in the stale-stats probe")
    graft.operators.TextIndex.mergeDeletes(s, t, lexBuckets)
    graft.operators.TextIndex.probeIndex(s, t, lexTerms, k = 10,
      k1 = TextQueries.bm25K1, b = TextQueries.bm25B)
  }

  /** `search_hybrid_staged` — the hybrid SERVING path (C43 is the fusion
    * math over full-corpus arms; production serves both arms from their
    * indexes): the lexical arm reads only [[lexTerms]]' postings buckets
    * (C66's pruned probe), the dense arm reads only its 2 inverted lists
    * of the ADAPTIVE staged index (r16 — the hybrid serving path rides the
    * data-scaled arm, C201's flat probe line, not the fixed 16-list
    * layout), each pools [[armDepth]] candidates, and RRF
    * fuses the two bounded frames — the whole query touches index buckets,
    * never the corpus. This is the RAG stack's retrieval shape: at 100 TB
    * the arms are each a few buckets' I/O and the fusion is O(armDepth).
    */
  /** `search_hybrid_agree` — the staged hybrid path's SERVING-QUALITY
    * reading (r16, verdict item 3): every ANN arm carries a recall number,
    * but the staged fusion had none — and it CAN legitimately drift from
    * the full-corpus fusion, because the staged lexical arm scores with
    * pruned-postings df and the staged dense arm pools from 2 inverted
    * lists instead of the corpus. This row prices that drift the
    * `sim_assign_2level` way: overlap@10 between the two fusions, plus
    * rank displacement over the common documents (sum and max of
    * |rank_full − rank_staged|). Both rankings are the declared rows'
    * own outputs (bounded, 10 rows each), so the measurement costs two
    * already-priced fusions plus an O(k) join — and the oracle composes
    * the SAME two texts the fusion rows render.
    */
  def hybridAgree(s: SparkSession, dir: String): DataFrame = {
    val byRrf = graft.operators.BoundedWindow.ordered("pool",
      desc("rrf"), asc("doc_id"))
    val full = hybrid(s, dir).select(col("doc_id"), col("rrf"))
      .withColumn("rf", row_number().over(byRrf)).drop("rrf")
    val staged = hybridStaged(s, dir).select(col("doc_id"), col("rrf"))
      .withColumn("rs", row_number().over(byRrf)).drop("rrf")
    val both = col("rf").isNotNull && col("rs").isNotNull
    full.join(staged, Seq("doc_id"), "full_outer")
      .agg(sum(when(both, 1).otherwise(0)).as("overlap"),
        coalesce(sum(when(both, abs(col("rf") - col("rs")))), lit(0L))
          .as("disp_sum"),
        coalesce(max(when(both, abs(col("rf") - col("rs")))), lit(0))
          .as("max_disp"))
      .select(lit(10).as("k"), col("overlap"),
        round(col("overlap") / 10.0, 6).as("overlap_rate"),
        col("disp_sum"), col("max_disp"))
  }

  def hybridStaged(s: SparkSession, dir: String): DataFrame = {
    val bmTop = graft.operators.TextIndex.probeIndex(s, lexTable(s, dir),
        lexTerms, k = armDepth, k1 = TextQueries.bm25K1, b = TextQueries.bm25B)
      .withColumn("rb",
        row_number().over(graft.operators.BoundedWindow.ordered("pool",
          desc("bm25"), asc("doc_id"))).cast("int"))
    val cosTop = SimilarityQueries.ivfStagedAdaptivePool(s, dir, k = armDepth)
      .select(col("vec_id").as("doc_id"), col("cos_sim"))
      .withColumn("rc",
        row_number().over(graft.operators.BoundedWindow.ordered("pool",
          desc("cos_sim"), asc("doc_id"))).cast("int"))
    bmTop.select("doc_id", "rb")
      .join(cosTop.select("doc_id", "rc"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("rb")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(rrfK) + col("rc")), lit(0.0)), 6).as("rrf"),
        col("rb"), col("rc"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(10)
  }
}
